package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkEntry
import graft.expr.{functions => gf}
import graft.ops.{Fingerprint, Vectors}
import graft.pipeline.{FdaPipeline, JsonlPublish, PdfPipeline}
import graft.sources.{Sinks, Sources}
import graft.streaming.ScheduledIngest

/** What one operation did. `layers` holds the traced self time of each layer
  * (seconds) and layer counts; it is empty in an untraced run. */
final case class OpResult(kind: String, name: String, latencyS: Double, docs: Long,
    inBytes: Long, outBytes: Long, files: Long, layers: Map[String, Double],
    info: Map[String, Any], error: Option[String] = None)

/** Runs the phases of one operation. Each phase is timed on its own and its
  * Spark events are attributed to it; in a traced run it is also a span. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val tracer: Option[Tracer]) {
  def traced: Boolean = tracer.isDefined

  def phase[T](op: Int, name: String)(f: => T): (T, Double) = {
    rec.enter(s"$op/$name")
    val t0 = System.nanoTime()
    try {
      val r = tracer.fold(f)(_.span(name)(f))
      (r, (System.nanoTime() - t0) / 1e9)
    } finally rec.enter("idle")
  }
}

trait Workload {
  def name: String
  /** The first operations of the workload on a small input: JIT, codegen,
    * file-system and reader initialisation, and any offline artifacts. */
  def warmup(spark: SparkSession, dir: String): Unit
  /** Fresh state (output, master, checkpoint) under `dir`. */
  def reset(dir: String): Unit
  /** Operations in one round. A round starts from the state `reset` leaves
    * and has the same mix of operations every time, so a run that ends on a
    * whole round measures the same mix however many rounds fit. */
  def round: Int
  def op(ctx: Ctx, i: Int): OpResult
  /** Inputs for the kernel microbenchmarks: texts to clean, texts to
    * extract DOIs from, and title pairs to compare. */
  def kernelInputs(spark: SparkSession): (Seq[String], Seq[String], Seq[(String, String)])
  /** Untimed work under `dir` before the timed loop: outputs for the checks
    * that the timed operations do not leave behind (queries time into
    * noop), and one full-size operation where the first would otherwise be
    * slower than the rest. Returns what the checks need. */
  def prepare(ctx: Ctx, dir: String): Map[String, Any] = Map.empty
}

object Workload {
  val RunDate = "2025-01-01"

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Data files under `dir`: (bytes, count), without checksums and markers. */
  def dataFiles(dir: String): (Long, Long) = {
    val root = new File(dir)
    if (!root.exists()) return (0L, 0L)
    val s = Files.walk(root.toPath)
    try {
      var bytes, n = 0L
      s.filter(p => Files.isRegularFile(p)).forEach { p =>
        val f = p.getFileName.toString
        if (!f.startsWith(".") && !f.startsWith("_")) { bytes += Files.size(p); n += 1 }
      }
      (bytes, n)
    } finally s.close()
  }

  def subdirs(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.isDirectory)
      .map(_.getPath).sorted

  def apply(name: String, in: String, seed: Long): Workload = name match {
    case "fda_daily" => new FdaDaily(in)
    case "pdf_enrich" => new PdfEnrich(in)
    case "corpus_queries" => new CorpusQueries(in, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

import Workload._

/** The FDA lifecycle as the daily scheduler runs it: each tick lands the
  * day's listing and runs one `ScheduledIngest` trigger over it. A round is
  * the lifecycle from empty state: the backlog tick, the daily ticks, then
  * the publish of the published tree. */
final class FdaDaily(in: String) extends Workload {
  val name = "fda_daily"
  private val listings = subdirs(s"$in/ticks")
  private val publishedSchema = StructType(
    Seq("content", "source", "url", "date", "version", "title", "description", "rag_id")
      .map(StructField(_, StringType)))
  val round: Int = listings.length + 1
  private var base = ""
  private var dir = ""
  private def incoming = s"$dir/incoming"
  private def master = s"$dir/master"
  private def publish = s"$dir/published"
  private def quarantine = s"$dir/quarantine"

  def reset(d: String): Unit = base = d

  /** A round's own, empty state under `d`: landing, master, checkpoint
    * and outputs. */
  private def startRound(d: String): Unit = {
    dir = d
    new File(incoming).mkdirs()
  }

  /** Copies a tick's listing files into the landing directory. */
  private def land(t: Int): Seq[String] =
    Option(new File(listings(t)).listFiles()).toSeq.flatten.sortBy(_.getName).map { f =>
      val to = Paths.get(incoming, f"tick-$t%05d-${f.getName}")
      Files.copy(f.toPath, to, StandardCopyOption.REPLACE_EXISTING)
      to.toString
    }

  private def trigger(spark: SparkSession): ScheduledIngest.Tick = {
    val last = new AtomicReference[ScheduledIngest.Tick]()
    val q = ScheduledIngest.start(spark, incoming, master, publish, quarantine,
      s"$dir/checkpoint", Trigger.AvailableNow(),
      runDateOf = b => java.time.LocalDate.parse(RunDate).plusDays(b).toString,
      onTick = t => last.set(t))
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    Option(last.get).getOrElse(throw new IllegalStateException("trigger ran no batch"))
  }

  def warmup(spark: SparkSession, d: String): Unit = {
    startRound(s"$d/fda")
    val lines = Option(new File(listings.head).listFiles()).toSeq.flatten.sortBy(_.getName)
      .flatMap(f => Files.readAllLines(f.toPath).asScala).take(2)
    Files.write(Paths.get(incoming, "warm.json"), lines.asJava)
    // an engine that publishes nothing fails the timed publish, not set-up
    if (trigger(spark).nPublished > 0) publishTree(spark)
  }

  private def currentMaster(spark: SparkSession): DataFrame =
    if (new File(s"$master/_SUCCESS").exists()) spark.read.parquet(master)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      ScheduledIngest.masterSchema)

  def op(ctx: Ctx, i: Int): OpResult = {
    val t = i % round
    if (t == 0) startRound(s"$base/round=${i / round}")
    if (t == listings.length) publishOp(ctx, i) else tick(ctx, i, t)
  }

  private def tick(ctx: Ctx, i: Int, t: Int): OpResult = {
    val spark = ctx.spark
    val landed = land(t)
    val layers = scala.collection.mutable.Map.empty[String, Double]
    if (ctx.traced) {
      // successive prefixes of the tick's chain, each materialized to noop
      def fresh = spark.read.schema(ScheduledIngest.freshSchema).json(landed: _*)
      def delta = Fingerprint.deltaAntiJoin(
        fresh.withColumn("rag_id", Fingerprint.ragId(
          Fingerprint.idBase(col("url"), col("title"), col("date")))),
        currentMaster(spark), "rag_id")
      val (_, scan) = ctx.phase(i, "sources.scan")(noop(fresh))
      val (_, fp) = ctx.phase(i, "fingerprint.delta")(noop(delta))
      // the pipeline's three outputs, each evaluated as the tick evaluates
      // them: published and quarantined are pinned, the master is rewritten.
      // Each of the three runs scan -> delta -> clean, so the clean self
      // time is the phase minus three scan+delta prefixes.
      val (res, build) = ctx.phase(i, "pipeline.build")(
        FdaPipeline.run(fresh, currentMaster(spark), RunDate))
      val (_, clean) = ctx.phase(i, "clean") {
        noop(res.published); noop(res.quarantined); noop(res.updatedMaster)
      }
      layers ++= Map("sources.scan_s" -> scan, "fingerprint.delta_s" -> (fp - scan),
        "clean.stage_s" -> (clean - 3 * fp), "pipeline.build_s" -> build, "prefix_s" -> clean)
    }
    val (tk, dt) = ctx.phase(i, "op")(trigger(spark))
    if (ctx.traced) {
      layers("sinks.write_s") = dt - layers("prefix_s")
      layers.remove("prefix_s")
    }
    val outs = Seq(s"$publish/batch=${tk.batchId}", s"$quarantine/batch=${tk.batchId}", master)
      .map(dataFiles)
    OpResult("tick", f"tick=$t%05d", dt, tk.nFresh, landed.map(p => Files.size(Paths.get(p))).sum,
      outs.map(_._1).sum, outs.map(_._2).sum, layers.toMap,
      Map("dir" -> dir, "tick" -> t, "batch_id" -> tk.batchId, "n_fresh" -> tk.nFresh,
        "n_published" -> tk.nPublished, "n_quarantined" -> tk.nQuarantined,
        "n_master" -> tk.nMaster))
  }

  /** After the round's last tick: split the published tree into one JSON
    * file per record (the reference's json_split_and_clean step), then
    * publish them as one JSONL set. `JsonlPublish` reads each file as one
    * JSON document, so it is given per-record files rather than the JSONL
    * tree itself. */
  private def publishTree(spark: SparkSession): Unit = {
    val pub = spark.read.schema(publishedSchema).json(publish)
    Sinks.writePerKeyJson(pub.withColumn("record", col("rag_id")), "record", s"$dir/split")
    JsonlPublish.run(spark, Seq(s"$dir/split"), s"$dir/jsonl", RunDate)
  }

  private def publishOp(ctx: Ctx, i: Int): OpResult = {
    val (_, dt) = ctx.phase(i, "op")(publishTree(ctx.spark))
    val outs = Seq(s"$dir/split", s"$dir/jsonl").map(dataFiles)
    OpResult("publish", "publish", dt, 0L, 0L, outs.map(_._1).sum, outs.map(_._2).sum,
      if (ctx.traced) Map("sinks.write_s" -> dt) else Map.empty, Map("dir" -> dir))
  }

  def kernelInputs(spark: SparkSession): (Seq[String], Seq[String], Seq[(String, String)]) = {
    import spark.implicits._
    val pages = spark.read.schema(ScheduledIngest.freshSchema).json(listings.head + "/*.json")
      .select("title", "text").as[(String, String)].collect().toSeq
    val titles = pages.map(_._1)
    (pages.map(_._2), pages.map(_._2), for (a <- titles; b <- titles) yield (a, b))
  }
}

/** The PDF lifecycle: each batch of files is converted, DOI/title enriched,
  * written one JSON file per document and published as JSONL. */
final class PdfEnrich(in: String) extends Workload {
  val name = "pdf_enrich"
  private val batches = subdirs(s"$in/batches")
  private val dimPath = s"$in/pubmed.parquet"
  private var dir = ""

  /** A round is every batch once, in order. */
  val round: Int = batches.length

  def reset(d: String): Unit = dir = d

  private def run(spark: SparkSession, batch: String, out: String): Unit = {
    val enriched = PdfPipeline.run(Sources.binaryFiles(spark, batch), spark.read.parquet(dimPath))
    Sinks.writePerKeyJson(enriched.withColumn("record", Fingerprint.ragId(col("path"))),
      "record", s"$out/records")
    JsonlPublish.run(spark, Seq(s"$out/records"), s"$out/jsonl", RunDate)
  }

  def warmup(spark: SparkSession, d: String): Unit = {
    val small = new File(s"$d/pdf_warm_in"); small.mkdirs()
    Option(new File(batches.head).listFiles()).toSeq.flatten.sortBy(_.getName).take(4)
      .foreach(f => Files.copy(f.toPath, new File(small, f.getName).toPath))
    run(spark, small.getPath, s"$d/pdf_warm_out")
  }

  def op(ctx: Ctx, i: Int): OpResult = {
    val spark = ctx.spark
    val batch = batches(i % round)
    val out = f"$dir/op=$i%05d"
    val layers = scala.collection.mutable.Map.empty[String, Double]
    if (ctx.traced) {
      def bin = Sources.binaryFiles(spark, batch)
      def dim = spark.read.parquet(dimPath)
      val (_, scan) = ctx.phase(i, "sources.scan")(noop(bin))
      ctx.phase(i, "extract")(noop(PdfPipeline.convertAndExtract(bin, PdfPipeline.TextBytesConverter)))
      val (_, enrich) = ctx.phase(i, "enrich")(noop(PdfPipeline.run(bin, dim)))
      val (_, build) = ctx.phase(i, "pipeline.build")(PdfPipeline.run(bin, dim))
      layers ++= Map("sources.scan_s" -> scan, "enrich.stage_s" -> (enrich - scan),
        "pipeline.build_s" -> build, "prefix_s" -> enrich)
    }
    val (_, dt) = ctx.phase(i, "op")(run(spark, batch, out))
    if (ctx.traced) {
      layers("sinks.write_s") = dt - layers("prefix_s")
      layers.remove("prefix_s")
      // title-path documents are the ones the DOI join did not resolve
      val links = spark.read.json(s"$out/records").select("Link", "verified").collect()
      val viaDoi = links.count(_.getString(0).startsWith("https://doi.org/"))
      val titleHits = links.count(r => r.getBoolean(1) && !r.getString(0).startsWith("https://doi.org/"))
      val titleDocs = links.length - viaDoi
      layers("enrich.title_docs") = titleDocs
      layers("enrich.title_hits") = titleHits
    }
    val (inBytes, nFiles) = dataFiles(batch)
    val outs = Seq(s"$out/records", s"$out/jsonl").map(dataFiles)
    OpResult("batch", new File(batch).getName, dt, nFiles, inBytes,
      outs.map(_._1).sum, outs.map(_._2).sum, layers.toMap,
      Map("batch" -> new File(batch).getName, "out" -> out))
  }

  /** One full batch, untimed: a run's first full-size batch is slower
    * than the rest, and every round must cost the same. */
  override def prepare(ctx: Ctx, d: String): Map[String, Any] = {
    run(ctx.spark, batches.head, s"$d/prime")
    Map.empty
  }

  def dimRows(spark: SparkSession): Long = spark.read.parquet(dimPath).count()

  def kernelInputs(spark: SparkSession): (Seq[String], Seq[String], Seq[(String, String)]) = {
    val texts = batches.flatMap(b => Option(new File(b).listFiles()).toSeq.flatten.sortBy(_.getName))
      .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8"))
    val docTitles = texts.take(100).map(_.linesIterator.next().stripPrefix("# "))
    val dimTitles = spark.read.parquet(dimPath).select("title").collect().map(_.getString(0))
      .take(1000).toSeq
    (texts, texts, for (a <- docTitles; b <- dimTitles) yield (a, b))
  }
}

/** Read-only analytics over the generated corpus: one query per operation,
  * built with `SparkEntry.queries(name)` and written to the noop sink. */
final class CorpusQueries(in: String, seed: Long) extends Workload {
  val name = "corpus_queries"
  import CorpusQueries.names
  private val tables = Seq("documents", "embeddings", "customer", "orders", "lineitem",
    "supplier", "nation", "region")
  private val rnd = new scala.util.Random(seed)
  private val order = scala.collection.mutable.ArrayBuffer.empty[String]
  private def nameOf(i: Int): String = {
    while (order.length <= i) order ++= rnd.shuffle(names)
    order(i)
  }
  private lazy val nDocs: Long = SparkSession.active.read.parquet(s"$in/documents.parquet").count()

  /** A round is every query once, in a seeded order. */
  val round: Int = names.length

  def reset(d: String): Unit = ()

  private def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Builds the offline IVF index, which `ann_ivf_topk` builds on its first
    * call in a fresh temp directory. The check pass then warms every query. */
  def warmup(spark: SparkSession, d: String): Unit = {
    noop(SparkEntry.queries("ann_ivf_topk")(spark, in))
    cleanup(spark)
  }

  def op(ctx: Ctx, i: Int): OpResult = {
    val q = nameOf(i)
    nDocs // counted on the first operation, outside its timed phases
    val (df, build) = ctx.phase(i, "pipeline.build")(SparkEntry.queries(q)(ctx.spark, in))
    val (_, run) = ctx.phase(i, "op")(noop(df))
    cleanup(ctx.spark)
    OpResult("query", q, build + run, nDocs, 0L, 0L, 0L,
      if (ctx.traced) Map("pipeline.build_s" -> build, s"query.$q.s" -> (build + run)) else Map.empty,
      Map("query" -> q))
  }

  /** Each query written once to parquet for the DuckDB oracle, with the
    * bytes it read, and the IVF index exported for the ANN oracle. */
  override def prepare(ctx: Ctx, dir: String): Map[String, Any] = {
    val spark = ctx.spark
    val aux = s"$dir/aux"
    val per = names.map { q =>
      ctx.rec.enter(s"check/$q")
      SparkEntry.queries(q)(spark, in).write.mode("overwrite").parquet(s"$dir/$q")
      ctx.rec.enter("idle")
      cleanup(spark)
      q -> Map("path" -> s"$dir/$q", "in_bytes" -> ctx.rec(s"check/$q").bytesRead,
        "out_bytes" -> dataFiles(s"$dir/$q")._1,
        "oracle_sql" -> SparkEntry.oracleSql(q).replace(SparkEntry.oracleAuxDir, aux))
    }.toMap
    val ivfDir = Option(new File(System.getProperty("java.io.tmpdir")).listFiles()).toSeq.flatten
      .find(_.getName.startsWith("graft_ivf_"))
      .getOrElse(throw new IllegalStateException("no IVF index was built"))
    val ivf = Vectors.ivfLoad(spark, ivfDir.getPath)
    import spark.implicits._
    ivf.centroids.toSeq.map { case (c, i) => (i, c.toSeq) }.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$aux/ivf_centroids")
    ivf.assigned.select("cid", "cell").coalesce(1).write.mode("overwrite")
      .parquet(s"$aux/ivf_assigned")
    Map("queries" -> per, "tables" -> tables.map(t => t -> s"$in/$t.parquet").toMap)
  }

  def kernelInputs(spark: SparkSession): (Seq[String], Seq[String], Seq[(String, String)]) = {
    val texts = spark.read.parquet(s"$in/documents.parquet").select("text").collect()
      .map(_.getString(0)).toSeq
    val titles = texts.map(_.split(" ").take(12).mkString(" "))
    (texts, texts, for (a <- titles; b <- titles) yield (a, b))
  }
}

object CorpusQueries {
  /** The fixed query list, one or two per family. */
  val names: Seq[String] = Seq("rag_bm25_topk", "rag_hybrid_rrf", "rag_eval_ndcg",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "ann_ivf_topk", "graph_pagerank",
    "tpch_q5_shaped", "j1_delta_anti_join", "text_quality_score")
}
