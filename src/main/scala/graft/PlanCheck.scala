package graft

/** Plan-inspection utility: `runMain graft.PlanCheck <sfDir> <query...>`
  * prints the formatted physical plan and the timed row count for each
  * named query — the .explain feedback loop the builder prompt mandates. */
object PlanCheck {

  /** The plan text with its JVM-global counters renumbered in order of
    * first appearance — expression ids (`#123`), exchange `plan_id`s and
    * RDD ids — and the line numbers dropped from RDD call sites, so the
    * same plan writes the same snapshot whatever the JVM built before it
    * and however the calling source file is laid out. */
  def snapshotText(plan: String): String = {
    val ids = scala.collection.mutable.HashMap.empty[String, String]
    val renumbered = """(#|plan_id=|RDD\[)\d+""".r.replaceAllIn(plan, m =>
      ids.getOrElseUpdate(m.matched, m.group(1) + (ids.size + 1)))
    """(\.scala):\d+""".r.replaceAllIn(renumbered, "$1")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSession.start()
    // SPARK_GRAFT_PLAN_DIR: also write each query's formatted plan to
    // <dir>/<name>.txt — before/after plan snapshots that diff cleanly
    // across commits ([[snapshotText]]). SPARK_GRAFT_PLAN_ONLY=1
    // skips execution (static plans for all 223 queries in one JVM);
    // note a handful of operators (checkpointed loops) materialize
    // during PLANNING, so even plan-only mode runs those jobs.
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val planOnly = sys.env.get("SPARK_GRAFT_PLAN_ONLY").contains("1")
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        println(s"\n========== $name ==========")
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          planDir match {
            case Some(d) =>
              java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
              java.nio.file.Files.write(
                java.nio.file.Paths.get(d, s"$name.txt"),
                snapshotText(plan).getBytes("UTF-8"))
            case None => println(plan)
          }
          if (!planOnly) {
            val t0 = System.nanoTime()
            val n = df.count()
            println(f"rows=$n%d  time=${(System.nanoTime() - t0) / 1e9}%.2f s")
          }
        } catch {
          case e: Throwable =>
            println(s"FAILED: " + e.toString.take(500))
        }
        // cached sketch tables and loop checkpoints must not leak
        // between plan snapshots
        LocalSession.isolate(spark)
      }
    }
    spark.stop()
  }
}
