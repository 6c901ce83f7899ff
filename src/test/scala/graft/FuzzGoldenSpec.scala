package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.apache.spark.sql.functions._
import graft.ops.{CleanCorpus, DoiExtract, Enrich, Similarity, TextOps}

/** Differential fuzz parity vs CPython — ONE shared unicode-adversarial
  * generator (tools/gen_fuzz_goldens.py) drives EVERY paritied kernel:
  * NBSP-family and \x1c-\x1f whitespace, Nd digits (Arabic-Indic /
  * extended / fullwidth / Devanagari), casefold chars (ſ K-Kelvin İ ı
  * ẞ ß), combining marks, supplementary-plane chars, dash/quote
  * normalization shapes, interior \r. The r13 divergence families
  * (autojunk, unicode classes, strip order) were each found reactively,
  * one kernel at a time — this spec makes the search proactive across
  * all of them at once. Byte-exact / 1e-12 agreement required. */
class FuzzGoldenSpec extends AnyFunSuite {

  test("clean_corpus matches the reference on 250 fuzz documents") {
    val goldens = Goldens.load("clean_corpus_fuzz")
    var checked = 0
    goldens.foreach { g =>
      val in = Goldens.str(g("input"))
      val expected = Goldens.str(g("expected"))
      val got = CleanCorpus.clean(in)
      assert(got == expected,
        s"\n--- input ---\n$in\n--- expected ---\n$expected\n--- got ---\n$got")
      checked += 1
    }
    assert(checked == 250)
  }

  test("clean_corpus casefold pins: ſ/K(Kelvin)/İ/ı fold into the " +
      "case-insensitive cutoff/boilerplate/dosage patterns exactly as " +
      "CPython re.IGNORECASE folds them; interior \\r spans '.*'") {
    // CPython and Java (CASE_INSENSITIVE|UNICODE_CASE) agree on all of
    // these; RE2 does NOT fold the Turkish İ/ı pair, which is why the
    // f1 trace oracle folds {U+0130,U+0131}→i in its (?i) inputs.
    val goldens = Goldens.load("clean_corpus_casefold")
    var checked = 0
    goldens.foreach { g =>
      val in = Goldens.str(g("input"))
      val expected = Goldens.str(g("expected"))
      val got = CleanCorpus.clean(in)
      assert(got == expected,
        s"\n--- input ---\n$in\n--- expected ---\n$expected\n--- got ---\n$got")
      checked += 1
    }
    assert(checked == 12)
  }

  test("similarity ratio matches difflib on 505 fuzz pairs incl. " +
      "supplementary-plane (codepoint-counted) shapes") {
    val goldens = Goldens.load("similarity_fuzz")
    var checked = 0
    goldens.foreach { g =>
      val a = Goldens.str(g("a"))
      val b = Goldens.str(g("b"))
      val expected = Goldens.dbl(g("ratio"))
      val got = Similarity.ratio(a, b)
      assert(math.abs(got - expected) < 1e-12,
        s"a='$a' b='$b' expected=$expected got=$got")
      checked += 1
    }
    assert(checked == 505)
  }

  test("similarity atLeast == (ratio >= t) on the 505 fuzz pairs " +
      "(empty, supplementary-plane, autojunk), the tie included") {
    val goldens = Goldens.load("similarity_fuzz")
    goldens.foreach { g =>
      SimilaritySpec.agrees(Goldens.str(g("a")), Goldens.str(g("b")),
        Goldens.dbl(g("ratio")))
    }
    assert(goldens.size == 505)
  }

  test("similarity_at_least in a select: null in, null out; values agree " +
      "with similarity >= t") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(("examplinix", "examplinib"), ("kitten", "sitting"),
      (null, "x"), ("x", null)).toDF("a", "b")
    val got = df.select(
      graft.expr.functions.similarity_at_least(col("a"), col("b"), 0.9),
      graft.expr.functions.similarity(col("a"), col("b")) >= 0.9).collect()
    assert(got.map(r => Option(r.get(0))).toSeq ==
      Seq(Some(true), Some(false), None, None))
    assert(got.forall(r => r.get(0) == r.get(1)))
  }

  test("matching blocks match difflib on 80 unicode/supplementary fuzz " +
      "pairs (codepoint indices)") {
    val goldens = Goldens.load("matching_blocks_fuzz")
    var checked = 0
    goldens.foreach { g =>
      val a = Goldens.str(g("a"))
      val b = Goldens.str(g("b"))
      val expected = (g("blocks"): @unchecked) match {
        case JArray(bs) => bs.flatMap { case JArray(t) =>
          t.map { case JInt(n) => n.toInt
                  case other => sys.error(s"not int: $other") } }
      }
      assert(Similarity.matchingBlocks(a, b).toList == expected,
        s"blocks diverge on ('$a','$b')")
      checked += 1
    }
    assert(checked == 80)
  }

  test("pubmed normalizers match CPython on 150 adversarial fuzz inputs") {
    val spark = TestSpark.spark
    import spark.implicits._
    val goldens = Goldens.load("pubmed_norm_fuzz")
    val rows = goldens.zipWithIndex.map { case (g, i) =>
      (i, Goldens.str(g("kind")), Goldens.str(g("input")),
        Goldens.str(g("expected")))
    }
    val df = rows.toDF("i", "kind", "c", "expected")
    val got = df.select(col("i"), col("kind"), col("expected"),
        when(col("kind") === "text", TextOps.normalizeForCompare(col("c")))
          .when(col("kind") === "doi", TextOps.normalizeDoi(col("c")))
          .otherwise(TextOps.cleanTitleForSearch(col("c"))).as("got"))
      .collect()
    assert(got.length == 150)
    got.foreach { r =>
      assert(r.getString(3) == r.getString(2),
        s"${r.getString(1)} #${r.getInt(0)}: expected " +
          s"'${r.getString(2)}' got '${r.getString(3)}'")
    }
  }

  test("format_authors matches the reference on 40 unicode author lists") {
    val spark = TestSpark.spark
    import spark.implicits._
    val goldens = Goldens.load("authors_fuzz")
    val rows = goldens.zipWithIndex.map { case (g, i) =>
      val authors = (g("authors"): @unchecked) match {
        case JArray(a) => a.map(Goldens.str)
      }
      (i, authors, Goldens.str(g("expected")))
    }
    val got = rows.toDF("i", "authors", "expected")
      .select(col("i"), col("expected"),
        Enrich.formatAuthors(col("authors")).as("got"))
      .collect()
    assert(got.length == 40)
    got.foreach { r =>
      assert(r.getString(2) == r.getString(1),
        s"#${r.getInt(0)}: expected '${r.getString(1)}' got '${r.getString(2)}'")
    }
  }

  test("extract_year matches CPython \\d=Nd semantics on 60 fuzz citations") {
    val spark = TestSpark.spark
    import spark.implicits._
    val goldens = Goldens.load("year_fuzz")
    val rows = goldens.zipWithIndex.map { case (g, i) =>
      (i, Goldens.str(g("input")), Goldens.str(g("expected")))
    }
    val got = rows.toDF("i", "c", "expected")
      .select(col("i"), col("expected"),
        TextOps.extractYear(col("c"), lit(null).cast("string")).as("got"))
      .collect()
    assert(got.length == 60)
    got.foreach { r =>
      assert(r.getString(2) == r.getString(1),
        s"#${r.getInt(0)}: expected '${r.getString(1)}' got '${r.getString(2)}'")
    }
  }

  test("extract_doi matches the reference on 90 window/veto/unicode fuzz " +
      "texts") {
    val goldens = Goldens.load("extract_doi_fuzz")
    var checked = 0
    goldens.foreach { g =>
      val text = Goldens.str(g("text"))
      val expected = Option(Goldens.str(g("doi")))
      assert(DoiExtract.extractDoi(text) == expected,
        s"on '${text.take(120)}...' expected $expected " +
          s"got ${DoiExtract.extractDoi(text)}")
      checked += 1
    }
    assert(checked == 90)
  }

  test("pyStrip (scalar AND column) == Python str.strip() on 90 " +
      "adversarial-edge strings incl. the ZWSP/U+180E non-members") {
    val spark = TestSpark.spark
    import spark.implicits._
    val goldens = Goldens.load("pystrip_fuzz")
    val rows = goldens.zipWithIndex.map { case (g, i) =>
      (i, Goldens.str(g("input")), Goldens.str(g("expected")))
    }
    rows.foreach { case (i, in, expected) =>
      assert(CleanCorpus.pyStrip(in) == expected,
        s"scalar pyStrip #$i on ${in.map(c => f"${c.toInt}%04x").mkString(" ")}")
    }
    val got = rows.toDF("i", "c", "expected")
      .select(col("i"), col("expected"), TextOps.pyStrip(col("c")).as("got"))
      .collect()
    assert(got.length == 90)
    got.foreach { r =>
      assert(r.getString(2) == r.getString(1),
        s"column pyStrip #${r.getInt(0)}: expected " +
          s"'${r.getString(1)}' got '${r.getString(2)}'")
    }
  }
}
