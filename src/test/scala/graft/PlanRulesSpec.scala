package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.scalatest.funsuite.AnyFunSuite

/** DeferExpensivePredicates: conjunct cost ordering under the session
  * extension (graft.GraftExtensions → injectOptimizerRule). */
class PlanRulesSpec extends AnyFunSuite {

  private def extSession(): SparkSession = {
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[2]").appName("graft-rules")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions())
      .getOrCreate()
    prev.foreach(SparkSession.setDefaultSession)
    s
  }

  private def conjuncts(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case x => Seq(x)
    }
    split(df.queryExecution.optimizedPlan
      .collect { case f: Filter => f.condition }.head)
  }

  private def hasKernel(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.exists(e => e.isInstanceOf[graft.expr.RatcliffSimilarity] ||
      e.isInstanceOf[graft.expr.RatcliffAtLeast])

  // NOT a LocalRelation (ConvertToLocalRelation would evaluate the whole
  // filter at optimize time and leave no Filter node to inspect): Range
  // is a real plan node, so the Filter survives into the optimized plan.
  private def pairsView(s: SparkSession, name: String): Unit =
    s.range(3).selectExpr(
      "CASE id WHEN 0 THEN 'kitten' WHEN 1 THEN 'a' ELSE 'longword123' END AS a",
      "CASE id WHEN 0 THEN 'sitting' WHEN 1 THEN 'b' ELSE 'x' END AS b")
      .createOrReplaceTempView(name)

  test("expensive kernel conjunct is deferred behind cheap predicates") {
    val s = extSession()
    pairsView(s, "pairs")
    // written kernel-FIRST — the rule must flip the order
    val q = s.sql(
      "SELECT * FROM pairs WHERE similarity(a, b) >= 0.3 AND length(a) < 10")
    val cs = conjuncts(q)
    assert(cs.size >= 2, s"expected a surviving conjunction: $cs")
    assert(!hasKernel(cs.head),
      s"cheap predicate should come first: $cs")
    assert(hasKernel(cs.last),
      s"kernel predicate should be deferred last: $cs")
    // semantics unchanged: same rows as the hand-ordered filter
    assert(q.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("kitten"))
  }

  test("the threshold kernel similarity_at_least is deferred too " +
      "(DataFrame API)") {
    import org.apache.spark.sql.functions.{col, length}
    val s = extSession()
    pairsView(s, "p3")
    val q = s.table("p3").filter(
      graft.expr.functions.similarity_at_least(col("a"), col("b"), 0.3) &&
        length(col("a")) < 10)
    val cs = conjuncts(q)
    assert(cs.size >= 2, s"expected a surviving conjunction: $cs")
    assert(!hasKernel(cs.head), s"cheap predicate should come first: $cs")
    assert(hasKernel(cs.last), s"kernel predicate should be deferred last: $cs")
    assert(q.collect().map(_.getString(0)).sorted.toSeq == Seq("kitten"))
  }

  test("already-cheap-first and kernel-only filters are left untouched") {
    val s = extSession()
    pairsView(s, "p2")
    val good = s.sql(
      "SELECT * FROM p2 WHERE length(a) < 10 AND similarity(a, b) >= 0.3")
    val cs = conjuncts(good)
    assert(!hasKernel(cs.head) && hasKernel(cs.last), s"$cs")
    assert(good.count() == 1)
    val only = s.sql("SELECT * FROM p2 WHERE similarity(a, b) >= 0.3")
    assert(only.count() == 1) // single-conjunct: rule is a no-op, still runs
  }
}
