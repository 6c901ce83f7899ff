package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — driver contract: one JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Noise protocol (since r13): the reported record is the per-query
  * MEDIAN of `SPARK_GRAFT_SWEEPS` (default 3) full sweeps — one load
  * burst can no longer set the round's number, while a real regression
  * (slow in 2 of 3 sweeps) stays visible. All raw sweeps ship in
  * bench_full.json; `sweep_totals` carries their totals inline. When
  * only one sweep runs (SPARK_GRAFT_SWEEPS=1, or a wall-clock budget
  * that fits one sweep) Bench keeps the old bounded expensive-tail
  * retry with per-query MIN.
  *
  * The session is [[LocalSession]]'s.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.start()

    // Warmup: pay one-time costs (Hadoop FS init, codegen compiler,
    // parquet footer reads) outside the per-query timings.
    SparkEntry.queries.get("q1_agg").foreach { fn =>
      try fn(spark, sfDir).count() catch { case _: Throwable => }
    }
    // ... and one full pass over every input table, so OS page-cache
    // state doesn't tax whichever query alphabetically touches a table
    // first (measured: an unchanged join read 7.1 s cold vs 1.6 s warm —
    // a 4× artifact of sweep order, not of any plan)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { tbl =>
      try spark.read.parquet(s"$sfDir/$tbl.parquet").count()
      catch { case _: Throwable => }
    }
    // ... and the iterative-loop machinery (shuffle writers, AQE
    // re-planning, checkpoint block manager paths) on a 3-edge graph, so
    // the FIRST graph/dedup query doesn't absorb all of that JIT alone.
    try {
      import spark.implicits._
      graft.ops.Components.connectedComponents(
        Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("i", "j")).count()
    } catch { case _: Throwable => }

    // Load guard: the recorded bench has twice been inflated 6-15× by a
    // busy host (r4/r5 verdicts), so the artifact must carry evidence of
    // the machine's state. A fixed cheap control scan is timed before and
    // after the query sweep (min of 3 runs — min is robust to one-off GC
    // pauses but stays high under sustained external load); a control
    // far above the quiet-host envelope flags the WHOLE run as suspect.
    // GC-settle before timing: the control exists to measure the HOST,
    // and a query's leftover heap garbage is a JVM-internal confound —
    // the r15 sf10 spot measured winnow leaving post-controls at
    // 4.5-12 s across 3 fresh JVMs with QUIET pre-controls and tight
    // query times, a reproducible query-side effect misread as host
    // load. The mid-sweep probes already System.gc() first (the
    // ContextCleaner nudge); the bracketing controls now match.
    def controlSec(): Double = {
      System.gc()
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .groupBy("l_returnflag").agg(org.apache.spark.sql.functions
            .sum("l_quantity")).count()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    val controlPre = controlSec()

    // optional args: run only these queries (local profiling); the
    // driver passes none and gets the full sweep
    val only = args.toSet
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // mid-sweep load probes: the r7 artifact carried clean pre/post
    // controls yet 7 queries were 4-8× their quiet-host times — a load
    // burst BETWEEN the two windows is invisible to bracketing controls.
    // One probe every 20 queries puts an upper bound on where a burst can
    // hide; the probe values ship in the artifact.
    val midControls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var sinceProbe = 0
    // (name, seconds, ok) — ok=false marks a crashed execution so the
    // multi-sweep median can exclude its (typically fast) crash duration
    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (String, Double, Boolean) = {
      val t0 = System.nanoTime()
      var ok = true
      try { fn(spark, sfDir).count() }
      catch { case _: Throwable => ok = false; failed += name }
      val dt = (System.nanoTime() - t0) / 1e9
      LocalSession.isolate(spark)
      (name, dt, ok)
    }
    val queriesToRun = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    def runSweep(): Seq[(String, Double, Boolean)] = queriesToRun.map { case (name, fn) =>
      sinceProbe += 1
      if (sinceProbe >= 20) {
        sinceProbe = 0
        // nudge the ContextCleaner: shuffle files are reclaimed only when
        // their RDD/exchange objects are GC'd, and a large driver heap can
        // go a whole sweep without a full GC — letting tens of GB of dead
        // shuffle spill accumulate and evict the input parquet pages from
        // the OS page cache (the mid-sweep slowdown mechanism)
        System.gc()
        midControls += controlSec()
      }
      timed(name, fn)
    }

    // Noise-robust protocol (r12 verdict #4): the last three rounds each
    // spent their evidence budget relitigating host noise — five
    // same-day engine-identical sf0.1 sweeps spanned 185.9–235.8 s, a
    // ±13% band bigger than any real per-round movement. The round's
    // record is therefore the per-query MEDIAN of `SPARK_GRAFT_SWEEPS`
    // (default 3) full sweeps in one JVM; all raw sweeps ship in
    // bench_full.json so nothing is hidden. Median (not min) keeps a
    // real regression visible — a genuinely slow plan is slow in 2 of 3
    // sweeps — while one load burst can no longer set the record.
    val sweeps = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_SWEEPS", "3").toInt)
    // Wall-clock budget: the harness invoking this main may have its own
    // timeout; running out of it mid-sweep would lose the WHOLE artifact.
    // Extra sweeps are attempted only while the projected finish (elapsed
    // + one more sweep at the last sweep's pace) stays inside the budget
    // — the run degrades to fewer sweeps, never to no output.
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "600").toDouble
    val benchT0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - benchT0) / 1e9
    val firstPass = runSweep()
    val failedFirst = failed.toSet
    val allSweeps = scala.collection.mutable.ArrayBuffer(firstPass)
    var lastSweepSec = elapsedSec
    var s = 1
    while (s < sweeps && elapsedSec + lastSweepSec < budgetSec) {
      val t0 = elapsedSec
      allSweeps += runSweep()
      lastSweepSec = elapsedSec - t0
      s += 1
    }
    // the verdict stays sweep-1's: later sweeps de-noise timings only
    failed.clear(); failed ++= failedFirst
    val nSweeps = allSweeps.length
    val retried = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // a query green in sweep 1 but crashing fast in a later sweep must
    // not contribute its crash duration to the timing record (with an
    // even budget-truncated count the lower-middle rule is min-of-2, so
    // one fast crash would SET the reported time); later-sweep failures
    // also ship in bench_full.json instead of vanishing
    val laterSweepFailures: Map[String, Seq[Int]] =
      allSweeps.zipWithIndex.drop(1).flatMap { case (sw, i) =>
        sw.collect { case (n, _, false) => n -> (i + 1) }
      }.groupBy(_._1).map { case (n, v) => n -> v.map(_._2).toSeq }
    val results: Seq[(String, Double)] = if (nSweeps > 1) {
      // odd count → true median; even → LOWER middle (the min for n=2),
      // matching the retry-min philosophy when the budget stops us early
      val byName = allSweeps.flatten.groupBy(_._1)
      firstPass.map { case (n, t1, _) =>
        // median over SURVIVING sweeps only; if every sweep crashed the
        // query is in `failed` and sweep-1's duration is as good as any
        val ts = byName(n).collect { case (_, t, true) => t }.sorted
        n -> (if (ts.nonEmpty) ts((ts.length - 1) / 2) else t1)
      }
    } else {
      // single-sweep mode (local profiling, or a budget that fits one
      // sweep): the pre-r13 targeted noise retry — re-run the expensive
      // tail once, keep the per-query MIN. Bounded: only queries over
      // 2.5 s, at most 12 of them.
      val retryNames = firstPass.filter(_._2 > 2.5).sortBy(-_._2).take(12)
        .filterNot { case (n, _, _) => failed.contains(n) }
        .map(_._1).toSet
      if (retryNames.isEmpty) firstPass.map { case (n, t, _) => n -> t }
      else {
        val failedBefore = failed.toSet
        val second = queriesToRun
          .filter { case (n, _) => retryNames(n) }
          .map { case (n, fn) => val r = timed(n, fn); r._1 -> r._2 }.toMap
        // a query that was green on the first pass must not be reported
        // failed because only its RETRY crashed — the retry exists to
        // de-noise timings, never to change the pass/fail verdict (and a
        // fast crash would otherwise also win the min)
        val failedOnRetry = failed.toSet -- failedBefore
        failed.clear(); failed ++= failedBefore
        firstPass.map { case (n, t1, _) =>
          second.get(n) match {
            case Some(t2) if t2 < t1 && !failedOnRetry(n) =>
              retried += (n -> t1); n -> t2
            case _ => n -> t1
          }
        }
      }
    }
    val total = results.map(_._2).sum
    val sweepTotals = allSweeps.map(_.map(_._2).sum).toSeq

    val controlPost = controlSec()
    // quiet-host envelope for this scan at sf0.1 on local[32] is ~0.1-0.3s
    // (measured); 1.0s = >3× sustained inflation. Any window tripping
    // marks the run — load at the start AND the end taints everything
    // between, load in one window taints at least its neighborhood.
    val loadSuspect = controlPre > 1.0 || controlPost > 1.0 ||
      midControls.exists(_ > 1.0)
    // a failed query must be VISIBLE in the artifact, not silently timed
    // (first 10 names inline — n_failed carries the full count, so a
    // mass failure can't blow the line past the tail budget)
    val failedJson =
      failed.sorted.take(10).map("\"" + _ + "\"").mkString("[", ",", "]")

    // The harness keeps only the tail of this process's output, so the
    // contract JSON line must stay short enough to survive truncation
    // (~1.9k chars): report the most expensive queries inline (they are
    // the ones perf review cares about), spill the complete per-query
    // map to bench_full.json next to the build, and always keep `value`
    // = the grand total over ALL queries.
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def entry(kv: (String, Double)): String = "\"" + kv._1 + "\":" + fmt(kv._2)

    val midJson = midControls.map(fmt).mkString("[", ",", "]")
    // first-pass times of retried queries — the delta vs the kept min is
    // the measured noise; a reviewer can see exactly what the retry did
    val retryJson = retried
      .map { case (n, t1) => "\"" + n + "\":" + fmt(t1) }
      .mkString("{", ",", "}")
    val sweepTotalsJson = sweepTotals.map(fmt).mkString("[", ",", "]")
    val controlJson = s""""control_pre_sec":${fmt(controlPre)},"control_post_sec":${fmt(controlPost)},"control_mid_sec":$midJson,"retried_firstpass":$retryJson,"sweeps":$nSweeps,"sweep_totals":$sweepTotalsJson,"load_suspect":$loadSuspect"""
    val fullJson = {
      val qs = results.map(entry).mkString("{", ",", "}")
      // every raw sweep ships alongside the median record — the
      // protocol's evidence layer, nothing summarized away
      val raw = allSweeps.zipWithIndex.map { case (sw, i) =>
        "\"sweep_" + (i + 1) + "\":" +
          sw.map { case (n, t, _) => entry(n -> t) }.mkString("{", ",", "}")
      }.mkString(",")
      // later-sweep crashes are excluded from the medians above; they
      // still must be VISIBLE evidence, not silently cleared
      val lateFail = laterSweepFailures.toSeq.sortBy(_._1).map { case (n, ss) =>
        "\"" + n + "\":" + ss.sorted.mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"later_sweep_failures":$lateFail,$controlJson,"sf":"$sfDir",$raw}"""
    }
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_full.json"),
      (fullJson + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => }

    // Whole line + sbt's trailing "[success] Total time: …" (~75 chars)
    // must fit the harness's 2000-char tail for the JSON to parse; 1500
    // leaves ~280 chars of slack for extra trailing log lines.
    // chars available for the queries map in the tail — the control/retry
    // evidence varies in size, so it eats into this budget rather than
    // risking the 2000-char tail cut
    val budget = math.max(400,
      1500 - midJson.length - retryJson.length - sweepTotalsJson.length)
    val byCost = results.sortBy(-_._2)
    val keep = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var used = 2 // braces
    byCost.foreach { kv =>
      val len = entry(kv).length + 1
      if (used + len <= budget) { keep += kv; used += len }
    }
    val kept = keep.sortBy(_._1)
    val omitted = results.size - kept.size
    val qs = kept.map(entry).mkString("{", ",", "}")
    // `value` repeated as the LAST key: the harness tail truncates from
    // the left, so the total must survive even if the queries map is cut.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"n_queries":${results.size},"omitted_cheapest":$omitted,"n_failed":${failed.size},"failed":$failedJson,$controlJson,"sf":"$sfDir","total_sec":${fmt(total)}}""")
    spark.stop()
  }
}
