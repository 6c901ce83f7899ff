package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.expr.{functions => gf}

/** The benchmark's JVM side. One invocation sets up, runs one workload in
  * a closed loop for a fixed time, and writes a JSON record for run.py,
  * which checks the outputs and prints the metrics.
  *
  * Arguments (key=value): workload, input, root (fresh run directory),
  * seconds, trace (0|1), cores, seed, setups, record (output JSON path).
  */
object Main {

  def session(cores: Int, root: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/local")
      .getOrCreate()

  /** Peak resident set size of this JVM while it runs, sampled from /proc. */
  final class RssSampler extends Thread("rss-sampler") {
    @volatile private var running = true
    @volatile var peakKb = 0L
    setDaemon(true)
    private def rssKb(): Long =
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmRSS:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    override def run(): Unit = while (running) {
      peakKb = math.max(peakKb, rssKb()); Thread.sleep(20)
    }
    def finish(): Double = { running = false; join(); peakKb = math.max(peakKb, rssKb()); peakKb / 1024.0 }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Closed loop: the next operation starts when the previous one returns.
    * Without a count it runs for `seconds` and then ends the current round. */
  private def loop(ctx: Ctx, wl: Workload, seconds: Double, count: Option[Int]): Seq[OpResult] = {
    val ops = ArrayBuffer.empty[OpResult]
    val t0 = System.nanoTime()
    def more = count match {
      case Some(n) => ops.length < n
      case None => (System.nanoTime() - t0) / 1e9 < seconds || ops.length % wl.round != 0
    }
    while (more) {
      val i = ops.length
      ctx.tracer.foreach(_.op = i)
      ops += (try ctx.tracer.fold(wl.op(ctx, i))(_.span("operation")(wl.op(ctx, i)))
        catch { case e: Throwable =>
          ctx.rec.enter("idle")
          OpResult("failed", s"op=$i", 0.0, 0L, 0L, 0L, 0L, Map.empty, Map.empty,
            Some(s"${e.getClass.getName}: ${e.getMessage}"))
        })
    }
    ops.toSeq
  }

  private def opJson(o: OpResult): Map[String, Any] = Map(
    "kind" -> o.kind, "name" -> o.name, "latency_s" -> o.latencyS, "docs" -> o.docs,
    "in_bytes" -> o.inBytes, "out_bytes" -> o.outBytes, "files" -> o.files,
    "layers" -> o.layers, "info" -> o.info, "error" -> o.error.orNull)

  /** Per-layer metrics of a traced replay, from its spans and Spark events. */
  private def layerMetrics(ctx: Ctx, wl: Workload, ops: Seq[OpResult]): Map[String, Double] = {
    val n = math.max(ops.length, 1).toDouble
    def meanLayer(k: String) = ops.map(_.layers.getOrElse(k, 0.0)).sum / n
    val stats = ops.indices.flatMap(i => Seq(ctx.rec(s"$i/op"), ctx.rec(s"$i/pipeline.build")))
    def perOp(f: PhaseStats => Long) = stats.map(f).sum / n
    val runMs = stats.map(_.runMs).sum
    val stageSkews = stats.flatMap(_.taskMsByStage.values).filter(_.length >= 2).map { ts =>
      val sorted = ts.map(_.toDouble).toSeq.sorted
      (sorted.last / math.max(median(sorted), 1.0), sorted.sum)
    }
    val skew = if (stageSkews.isEmpty) 1.0
      else stageSkews.map { case (s, w) => s * w }.sum / math.max(stageSkews.map(_._2).sum, 1.0)
    val ticks = ops.filter(_.kind == "tick")
    def info(o: OpResult, k: String) = o.info.get(k).map(_.toString.toDouble).getOrElse(0.0)
    val fresh = ticks.map(info(_, "n_fresh")).sum
    val delta = ticks.map(o => info(o, "n_published") + info(o, "n_quarantined")).sum
    val titleDocs = ops.map(_.layers.getOrElse("enrich.title_docs", 0.0)).sum
    val titleHits = ops.map(_.layers.getOrElse("enrich.title_hits", 0.0)).sum
    val dimRows = wl match { case p: PdfEnrich => p.dimRows(ctx.spark).toDouble; case _ => 0.0 }
    val queryTimes = CorpusQueries.names.map { q =>
      s"query.$q.s" -> median(ops.filter(o => o.kind == "query" && o.name == q).map(_.latencyS))
    }
    Map(
      "clean.stage_s" -> meanLayer("clean.stage_s"),
      "enrich.stage_s" -> meanLayer("enrich.stage_s"),
      "enrich.title_pairs" -> titleDocs * dimRows / n,
      "enrich.title_hit_share" -> (if (titleDocs > 0) titleHits / titleDocs else 0.0),
      "fingerprint.delta_s" -> meanLayer("fingerprint.delta_s"),
      "fingerprint.delta_share" -> (if (fresh > 0) delta / fresh else 0.0),
      "sources.scan_s" -> meanLayer("sources.scan_s"),
      "sources.bytes_read" -> perOp(_.bytesRead),
      "sinks.write_s" -> meanLayer("sinks.write_s"),
      "sinks.bytes_written" -> ops.map(_.outBytes).sum / n,
      "sinks.files_written" -> ops.map(_.files).sum / n,
      "ingest.master_rows" -> ticks.lastOption.map(info(_, "n_master")).getOrElse(0.0),
      "pipeline.build_s" -> meanLayer("pipeline.build_s"),
      "catalyst.plan_s" -> stats.map(_.planMs).sum / 1000.0 / n,
      "exec.tasks" -> perOp(_.tasks),
      "exec.shuffle_write_bytes" -> perOp(_.shuffleWrite),
      "exec.shuffle_read_bytes" -> perOp(_.shuffleRead),
      "exec.spill_bytes" -> perOp(_.spill),
      "exec.task_skew" -> skew,
      "exec.cpu_busy_share" -> (if (runMs > 0) stats.map(_.cpuNs).sum / 1e6 / runMs else 0.0),
      "exec.gc_s" -> stats.map(_.gcMs).sum / 1000.0 / n
    ) ++ queryTimes
  }

  /** Throughput of the three text kernels at one task and at `cores` tasks. */
  private def kernels(spark: SparkSession, cores: Int,
      in: (Seq[String], Seq[String], Seq[(String, String)])): Map[String, Double] = {
    import spark.implicits._
    // enough rows for a measurable run: the workload's own, repeated
    def atLeast[T](xs: Seq[T], n: Int) = Iterator.continually(xs).flatten.take(n).toSeq
    val (texts, doiTexts, pairs) = (in._1, atLeast(in._2, 5000), atLeast(in._3, 100000))
    // a fixed character budget keeps the one-thread clean_corpus run short
    val cleanTexts = texts.scanLeft((0, ""))((acc, t) => (acc._1 + t.length, t)).tail
      .takeWhile(_._1 <= 60000).map(_._2)
    val lines = cleanTexts.map(_.split("\n", -1).length).sum.toDouble
    def rate(units: Double, parts: Int, df: => org.apache.spark.sql.DataFrame,
        f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Double = {
      val d = df.repartition(parts).cache()
      Workload.noop(d)
      val t0 = System.nanoTime()
      Workload.noop(f(d))
      val s = (System.nanoTime() - t0) / 1e9
      d.unpersist(blocking = true)
      units / s
    }
    def clean(p: Int) = rate(lines, p, cleanTexts.toDF("t"), _.select(gf.clean_corpus(col("t"))))
    def sim(p: Int) = rate(pairs.length.toDouble, p, pairs.toDF("a", "b"),
      _.select(gf.similarity(col("a"), col("b"))))
    def doi(p: Int) = rate(doiTexts.length.toDouble, p, doiTexts.toDF("t"),
      _.select(gf.extract_doi(col("t"))))
    clean(cores); sim(cores); doi(cores) // warm
    Map(
      "kernel.clean_corpus.lines_per_s_1t" -> clean(1),
      "kernel.clean_corpus.lines_per_s_nt" -> clean(cores),
      "kernel.similarity.pairs_per_s_1t" -> sim(1),
      "kernel.similarity.pairs_per_s_nt" -> sim(cores),
      "kernel.extract_doi.docs_per_s_nt" -> doi(cores))
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.substring(0, i) -> s.substring(i + 1) }.toMap
    val root = a("root")
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val wl = Workload(a("workload"), a("input"), a("seed").toLong)

    // set-up, several times: a fresh temp dir each time, so each one
    // builds its offline artifacts again. The first is timed from JVM
    // start; run.py reports it apart, as it is the only cold one.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 0 until a("setups").toInt) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      val d = s"$root/setup$k"
      new File(s"$d/tmp").mkdirs()
      System.setProperty("java.io.tmpdir", s"$d/tmp")
      spark = session(cores, d)
      spark.sparkContext.setLogLevel("WARN")
      wl.warmup(spark, d)
      setups += (if (k == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
        else (System.nanoTime() - t0) / 1e9)
    }

    val rec = new Recorder(spark)
    val plain = new Ctx(spark, rec, None)
    val check = wl.prepare(plain, s"$root/prepare")
    wl.reset(s"$root/timed")
    val rss = new RssSampler
    rss.start()
    val t0 = System.nanoTime()
    val ops = loop(plain, wl, seconds, None)
    val wall = (System.nanoTime() - t0) / 1e9
    val peakRss = rss.finish()

    val trace: Map[String, Any] = if (!traced) Map.empty else {
      // its own recorder: the replay's phases reuse the untraced loop's keys
      rec.close()
      val tracer = new Tracer
      val ctx = new Ctx(spark, new Recorder(spark), Some(tracer))
      wl.reset(s"$root/traced")
      val t1 = System.nanoTime()
      val tops = loop(ctx, wl, seconds, Some(ops.length))
      val twall = (System.nanoTime() - t1) / 1e9
      val layers = layerMetrics(ctx, wl, tops) ++ kernels(spark, cores, wl.kernelInputs(spark)) +
        ("trace.overhead_s" -> (twall - wall))
      Map("metrics" -> layers, "ops" -> tops.map(opJson), "spans" -> tracer.toJson)
    }

    val record = Map(
      "workload" -> wl.name, "cores" -> cores, "setup_s" -> setups.toSeq,
      "wall_s" -> wall, "peak_rss_mb" -> peakRss, "ops" -> ops.map(opJson),
      "check" -> check, "trace" -> trace)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(a("record")), mapper.writeValueAsString(record))
    spark.stop()
  }
}

/** Runs each workload's warmup and first round (one query for
  * `corpus_queries`) on small inputs, so that a class-data-sharing archive
  * recorded from this JVM holds the classes a benchmark run loads (see
  * build.py). It shortens only the cold first set-up, which no metric
  * reads, and so only the wall time of a run.
  *
  * Arguments (key=value): root, and one `<workload>=<input dir>` each. */
object Train {
  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.substring(0, i) -> s.substring(i + 1) }.toMap
    val root = a("root")
    for (name <- Seq("fda_daily", "pdf_enrich", "corpus_queries")) {
      val d = s"$root/$name"
      new File(s"$d/tmp").mkdirs()
      System.setProperty("java.io.tmpdir", s"$d/tmp")
      val spark = Main.session(2, d)
      // an engine that fails here still gets built: the runs report it
      try {
        val wl = Workload(name, a(name), 1L)
        wl.warmup(spark, d)
        val ctx = new Ctx(spark, new Recorder(spark), Some(new Tracer))
        wl.reset(s"$d/run")
        // a whole round of a lifecycle (it ends in a publish); one query
        for (i <- 0 until (if (name == "corpus_queries") 1 else wl.round)) wl.op(ctx, i)
      } catch { case e: Exception => System.err.println(s"perfbench.Train: $name: $e") }
      finally spark.stop()
    }
  }
}
