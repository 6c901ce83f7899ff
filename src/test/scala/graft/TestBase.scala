package graft

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object Plans {
  import org.apache.spark.sql.catalyst.plans.QueryPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  /** Every physical node of an executed plan, through AQE stages and
    * cached relations. */
  def nodes(p: QueryPlan[_]): Seq[QueryPlan[_]] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case _ => p.children.map(_.asInstanceOf[QueryPlan[_]]) ++ p.innerChildren
  }).flatMap(nodes)
}

object Goldens {
  /** Load a golden fixture file from src/test/resources/goldens. */
  def load(name: String): List[Map[String, JValue]] = {
    val url = getClass.getResource(s"/goldens/$name.json")
    require(url != null, s"missing golden fixture $name")
    val src = scala.io.Source.fromURL(url, "UTF-8")
    val txt = try src.mkString finally src.close()
    JsonMethods.parse(txt) match {
      case JArray(items) => items.map(_.asInstanceOf[JObject].obj.toMap)
      case other => sys.error(s"unexpected golden shape: $other")
    }
  }
  def str(v: JValue): String = v match {
    case JString(s) => s
    case JNull => null
    case other => sys.error(s"not a string: $other")
  }
  def dbl(v: JValue): Double = v match {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case JDecimal(d) => d.toDouble
    case other => sys.error(s"not a double: $other")
  }
}
