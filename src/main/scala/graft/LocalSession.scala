package graft

import org.apache.spark.sql.SparkSession

/** The `local[N]` session the harness mains (Bench, PlanCheck and the
  * calibration probes) share, and the per-query isolation they run
  * between queries. Verify keeps its own session: its dump is the hash
  * gate, and its config is pinned on its own.
  *
  * Session tuning mirrors what a cluster deployment would set per-job:
  * shuffle partitions ≈ cores (not 200), AQE on (runtime coalescing +
  * skew-join), small maxPartitionBytes so a handful of small parquet
  * files still fan out across all local cores (at real scale the
  * default 128m is correct — this knob compensates for sf-scale files).
  */
object LocalSession {

  /** `local[N]` with N from `SPARK_GRAFT_CPUS`, else every core the JVM
    * sees. */
  def start(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Per-query isolation: operators may persist intermediate sketch
    * tables, and iterative operators (PageRank, components, BPE fit)
    * leave localCheckpoint RDD blocks behind — clearCache covers only
    * the SQL cache. Over a 198-query sweep those blocks built up enough
    * block-manager / memory pressure to slow the checkpoint-heavy
    * queries 2-3× (reproduced: graph_ppr 3.5 s standalone vs 12 s late
    * in the sweep). No query reads a predecessor's checkpoint. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
