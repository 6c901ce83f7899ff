package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge.{toCol => column, toExpr => expression}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.{CleanCorpus, DoiExtract, HtmlExtract, Similarity}

/** Codegen entry points — static, null-hostile-free wrappers the generated
  * Java can call. Kept in a plain object so the generated code references a
  * stable `graft.expr.ExprRuntime.…` symbol. */
object ExprRuntime {
  def ratcliff(a: UTF8String, b: UTF8String): Double =
    Similarity.ratio(a.toString, b.toString)

  def ratcliffAtLeast(a: UTF8String, b: UTF8String, t: Double): Boolean =
    Similarity.atLeast(a.toString, b.toString, t)

  def cleanCorpus(t: UTF8String): UTF8String =
    UTF8String.fromString(CleanCorpus.clean(t.toString))

  /** Returns null when no DOI survives the veto (nullable expression). */
  def extractDoi(t: UTF8String, maxChars: Int): UTF8String =
    DoiExtract.extractDoi(t.toString, maxChars)
      .map(UTF8String.fromString).orNull

  def htmlText(t: UTF8String): UTF8String =
    UTF8String.fromString(HtmlExtract.extractText(t.toString))

  def nfc(t: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      t.toString, java.text.Normalizer.Form.NFC))

  def bpeEncode(t: UTF8String,
      model: graft.ops.Bpe.BpeModel): org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.ops.Bpe.encodeText(t.toString, model.ranks)
        .map(s => UTF8String.fromString(s): Any))
}

/** F12 — `similarity(a, b)`: Ratcliff/Obershelp ratio with difflib parity
  * (pdf_extraction/pubmed_enrichment.py:291). A native Catalyst expression
  * (not a Scala UDF) so it plays inside whole-stage codegen: the generated
  * code calls the static runtime directly, with no encoder round-trip. */
case class RatcliffSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprRuntime.ratcliff(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.ExprRuntime.ratcliff($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** F12 as a threshold test — `similarity_at_least(a, b, t)` equals
  * `similarity(a, b) >= t` (null in, null out) but runs
  * [[graft.ops.Similarity.atLeast]]'s length and multiset bounds first, so
  * a theta-join condition pays the Ratcliff/Obershelp search only for the
  * pairs that can reach `t`. */
case class RatcliffAtLeast(left: Expression, right: Expression, threshold: Double)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprRuntime.ratcliffAtLeast(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], threshold)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the threshold's exact bits: no decimal rendering moves the tie, and
    // NaN or an infinity still compiles
    val t = s"java.lang.Double.longBitsToDouble(${java.lang.Double.doubleToRawLongBits(threshold)}L)"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.ExprRuntime.ratcliffAtLeast($a, $b, $t);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** F1 — `clean_corpus(text)` as a native expression; the stateful line-scan
  * lives in [[graft.ops.CleanCorpus]] (see its scaladoc for semantics). */
case class CleanCorpusExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(t: Any): Any =
    ExprRuntime.cleanCorpus(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.expr.ExprRuntime.cleanCorpus($t)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** F9 — `extract_doi(text)`: DOI with bibliography veto; null when absent. */
case class ExtractDoiExpr(child: Expression, maxChars: Int = 5000)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(t: Any): Any =
    ExprRuntime.extractDoi(t.asInstanceOf[UTF8String], maxChars)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => s"""
      ${ev.value} = graft.expr.ExprRuntime.extractDoi($t, $maxChars);
      ${ev.isNull} = (${ev.value} == null);""")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** F13 — `html_text(html)`: the reference's 6-selector content-extraction
  * cascade (fda_watcher.py:150-230) over an HTML string column. The parser
  * lives in [[graft.ops.HtmlExtract]]; this wrapper puts it inside
  * whole-stage codegen so a scrape-shaped scan stays one fused stage. */
case class HtmlTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(t: Any): Any =
    ExprRuntime.htmlText(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.expr.ExprRuntime.htmlText($t)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** `nfc_normalize(text)` — Unicode NFC canonical composition (the
  * normalization pass a multilingual crawl needs before hashing/dedup:
  * decomposed é and composed é must fingerprint identically). Both
  * java.text.Normalizer and the oracle's utf8proc implement the same
  * Unicode canonical-composition algorithm, so outputs are byte-equal. */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(t: Any): Any =
    ExprRuntime.nfc(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.expr.ExprRuntime.nfc($t)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** `bpe_encode(text)` → array<string> of BPE pieces under a TRAINED merge
  * table ([[graft.ops.Bpe.fit]]). The model is a constructor argument —
  * serialized with the expression for executor shipping, and handed to
  * generated code as a codegen reference object (the standard way to get
  * non-literal state into whole-stage codegen). */
case class BpeEncodeExpr(child: Expression, model: graft.ops.Bpe.BpeModel)
    extends UnaryExpression {
  import org.apache.spark.sql.types.ArrayType
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(t: Any): Any =
    ExprRuntime.bpeEncode(t.asInstanceOf[UTF8String], model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeModel", model,
      classOf[graft.ops.Bpe.BpeModel].getName)
    defineCodeGen(ctx, ev, t => s"graft.expr.ExprRuntime.bpeEncode($t, $ref)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Column-facade + SQL registration for the custom expressions. */
object functions {
  def similarity(a: Column, b: Column): Column =
    column(RatcliffSimilarity(expression(a), expression(b)))
  def similarity_at_least(a: Column, b: Column, threshold: Double): Column =
    column(RatcliffAtLeast(expression(a), expression(b), threshold))
  def clean_corpus(c: Column): Column = column(CleanCorpusExpr(expression(c)))
  def extract_doi(c: Column): Column = column(ExtractDoiExpr(expression(c)))
  def extract_doi(c: Column, maxChars: Int): Column =
    column(ExtractDoiExpr(expression(c), maxChars))
  def html_text(c: Column): Column = column(HtmlTextExpr(expression(c)))
  def bpe_encode(c: Column, model: graft.ops.Bpe.BpeModel): Column =
    column(BpeEncodeExpr(expression(c), model))
  def nfc_normalize(c: Column): Column = column(NfcNormalizeExpr(expression(c)))

  /** Register `similarity`/`clean_corpus`/`extract_doi` for `spark.sql`. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("similarity",
      es => RatcliffSimilarity(es.head, es(1)), "internal")
    reg.createOrReplaceTempFunction("clean_corpus",
      es => CleanCorpusExpr(es.head), "internal")
    reg.createOrReplaceTempFunction("extract_doi",
      es => ExtractDoiExpr(es.head), "internal")
    reg.createOrReplaceTempFunction("html_text",
      es => HtmlTextExpr(es.head), "internal")
    reg.createOrReplaceTempFunction("nfc_normalize",
      es => NfcNormalizeExpr(es.head), "internal")
  }
}
