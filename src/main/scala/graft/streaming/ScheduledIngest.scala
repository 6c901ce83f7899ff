package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ops.ScaleHints
import graft.pipeline.FdaPipeline
import graft.sources.Xlsx

/** The reference's daemon scheduler as a Structured Streaming driver
  * (fda_rag_extraction/scripts/scheduler.py:116-123: schedule.every().day
  * → run the watcher): a file-source stream watches the scrape landing
  * directory, and each trigger tick runs the WHOLE FDA ingest lifecycle
  * ([[FdaPipeline.run]]) on exactly the files that arrived since the
  * last tick — Spark's checkpointed file tracking is the "what did I
  * already process" state the reference keeps in its Excel master +
  * cron lockfile.
  *
  * Per tick (foreachBatch):
  *  - the batch's records fingerprint + anti-join against the persisted
  *    master, so re-scraped known records are no-ops (delta-only, T2);
  *    only the delta is cleaned, once, into the cut every output reads
  *  - publishable records land in `publishDir/batch=<id>` (JSONL, S9;
  *    per-batch overwrite, so a foreachBatch retry is idempotent)
  *  - gate-failing NEW records land in `quarantineDir/batch=<id>` — the
  *    manual-review split (S10); they are NOT entered into master, so a
  *    later scrape of the same page retries them
  *  - the master parquet is atomically replaced (write-new → swap) with
  *    the union update (U1)
  *
  * The default trigger is `ProcessingTime(24 hours)` — the daily
  * schedule; tests drive it with a fast trigger. `Trigger.AvailableNow`
  * turns the same driver into a catch-up batch run (process everything
  * pending, then stop) — the reference's "run once now" mode.
  *
  * Scale notes: the master re-write is per-tick sequential state like
  * any streaming sink commit; at 100 TB the master would be a bucketed
  * table ([[graft.sources.Sinks.writeBucketedMaster]]) and the swap a
  * metastore pointer flip, but the per-tick dataflow — batch-sized
  * work, delta-only downstream — is already the cluster shape. */
object ScheduledIngest {

  /** Scrape landing-file schema: one JSON record per scraped listing
    * row (url, title, description, date, text). */
  val freshSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("title", StringType),
    StructField("description", StringType),
    StructField("date", StringType),
    StructField("text", StringType)))

  /** Master persisted schema — the cleaned record plus its fingerprint. */
  val masterSchema: StructType = StructType(Seq(
    StructField("rag_id", StringType),
    StructField("url", StringType),
    StructField("title", StringType),
    StructField("description", StringType),
    StructField("date", StringType),
    StructField("corpus", StringType)))

  /** One tick's outcome, reported to `onTick` (the run-report logging of
    * scheduler.py / fda_watcher's summary counters, as data). */
  case class Tick(batchId: Long, nFresh: Long, nPublished: Long,
      nQuarantined: Long, nMaster: Long)

  private def fsFor(spark: SparkSession, path: String) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def complete(fs: FileSystem, d: Path) = fs.exists(new Path(d, "_SUCCESS"))

  /** `FileSystem.rename` returns false on failure: a failed `dir → .old`
    * would let `.next → dir` nest `.next` inside the live master. */
  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst)) throw new java.io.IOException(s"rename $src -> $dst failed")

  /** Crash recovery for the two-rename swap: if the daemon died between
    * "dir → .old" and ".next → dir", a COMPLETE copy exists next door —
    * .next (the new state, fully written before any rename) wins over
    * .old. Without this, the next tick would start from an empty master. */
  private[graft] def recoverMaster(fs: FileSystem, dir: Path): Unit =
    if (!complete(fs, dir)) {
      if (complete(fs, dir.suffix(".next"))) rename(fs, dir.suffix(".next"), dir)
      else if (complete(fs, dir.suffix(".old"))) rename(fs, dir.suffix(".old"), dir)
    }

  /** The committed master, read with [[masterSchema]]: no inference job. */
  private def loadMaster(spark: SparkSession, masterDir: String): DataFrame = {
    val (fs, p) = fsFor(spark, masterDir)
    recoverMaster(fs, p)
    if (complete(fs, p)) spark.read.schema(masterSchema).parquet(masterDir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], masterSchema)
  }

  /** Replace the master atomically enough for a single-writer daemon:
    * the union update (which reads the old master) is written in full to
    * `.next` first, then renamed in ([[swapDirs]]). A crash between the
    * renames leaves `.next` complete, so the next load sees the old or
    * the new master, never a half-written one. On S3-like stores the
    * production form is a metastore / table-format pointer flip. */
  private def swapMaster(updated: DataFrame, masterDir: String): Long = {
    val n = overwrite(updated, "parquet", s"$masterDir.next")
    val (fs, dir) = fsFor(updated.sparkSession, masterDir)
    swapDirs(fs, dir)
    n
  }

  /** Overwrites `path` with `df`; returns the rows written, observed by the
    * write job. Only the stream's session observes: an `Observation` leaves
    * it unserializable, which fails a task that ships it (an ML summary). */
  private def overwrite(df: DataFrame, format: String, path: String): Long = {
    val n = Observation()
    df.observe(n, count(lit(1)).as("n")).write.mode("overwrite").format(format).save(path)
    n.get("n").asInstanceOf[Long]
  }

  private[graft] def swapDirs(fs: FileSystem, dir: Path): Unit = {
    val old = dir.suffix(".old")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(dir)) rename(fs, dir, old)
    rename(fs, dir.suffix(".next"), dir)
    fs.delete(old, true)
  }

  /** Start the daemon. `incomingDir` receives scrape landing files
    * (JSONL, [[freshSchema]]); `runDateOf(batchId)` pins each tick's
    * "today" (determinism over current_date — tests pass a constant).
    * Optional human-facing interchange: when `masterXlsxPath` is set,
    * each tick also re-exports the updated master as a real .xlsx —
    * the reference's daily job maintains exactly this file
    * (fda_watcher.py:555 to_excel). Bounded by [[Xlsx.writeMaster]]'s
    * collect cap; the engine's source of truth stays the parquet. */
  def start(spark: SparkSession, incomingDir: String, masterDir: String,
      publishDir: String, quarantineDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("24 hours"),
      runDateOf: Long => String = _ => java.time.LocalDate.now().toString,
      source: String = "fda_oncology",
      masterXlsxPath: Option[String] = None,
      onTick: Tick => Unit = _ => ()): StreamingQuery = {
    val fresh = spark.readStream.schema(freshSchema).json(incomingDir)
    fresh.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        runTick(spark, batch, batchId, masterDir, publishDir,
          quarantineDir, runDateOf, source, masterXlsxPath, onTick)
      }
      .start()
  }

  /** One tick of the ingest lifecycle over a batch of fresh records
    * ([[freshSchema]]), shared by [[start]] and [[startHtml]]. Every
    * write reads one eager cut of the cleaned delta, so clean_corpus
    * runs once per delta record. A cut, not persist: AQE coalesces a
    * cut's output partitions but never a cached plan's, so a persisted
    * delta would write a part file per shuffle partition. The counts are
    * observed by the cut (`nFresh`) and the three writes: no extra job. */
  private def runTick(spark: SparkSession, batch: DataFrame, batchId: Long,
      masterDir: String, publishDir: String, quarantineDir: String,
      runDateOf: Long => String, source: String,
      masterXlsxPath: Option[String], onTick: Tick => Unit): Unit = {
    val nFresh = Observation()
    val res = FdaPipeline.run(batch.observe(nFresh, count(lit(1)).as("n")),
      loadMaster(spark, masterDir), runDateOf(batchId), source)
    val delta = ScaleHints.cut(res.delta, ScaleHints.reliableConfigured(res.delta))
    val out = res.copy(delta = delta)
    try {
      // per-batch overwrite (not a flat append): a foreachBatch RETRY
      // after a partial tick must not duplicate records — re-running
      // batch N rewrites batch=N in place, so publish is idempotent
      // like the quarantine split. Readers see one partitioned tree.
      val np = overwrite(out.published, "json", s"$publishDir/batch=$batchId")
      val nq = overwrite(out.quarantined, "json", s"$quarantineDir/batch=$batchId")
      val nm = swapMaster(out.updatedMaster, masterDir)
      masterXlsxPath.foreach(x => Xlsx.writeMaster(loadMaster(spark, masterDir), x))
      onTick(Tick(batchId, nFresh.get("n").asInstanceOf[Long], np, nq, nm))
    } finally ScaleHints.releaseCheckpoint(delta)
  }

  /** Per-fetched-detail-page schema for [[startHtml]]'s text join:
    * one JSON record per fetched detail page (url → extracted text),
    * maintained by the pluggable fetcher. */
  val detailSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("text", StringType)))

  /** The FULL §3.1 lifecycle as one runnable daily driver, fronted by
    * the DSv2 listing source: the stream watches `incomingHtmlDir` for
    * freshly-fetched listing PAGES (*.html — what the reference's
    * requests session writes, fda_watcher.py:274-355), and each tick
    *
    *  1. parses exactly the pages that arrived since the last tick via
    *     `spark.read.format("graft-html").load(newFiles…)` — the
    *     listing-table gate (`n_cells >= minCells`) pushes INTO that
    *     scan (S1),
    *  2. joins each listing row's url against the fetcher-maintained
    *     detail-text directory ([[detailSchema]] JSONL; a url without a
    *     fetched detail page yields null text, which the corpus gate
    *     routes to quarantine for a later re-scrape — exactly the
    *     watcher's retry-on-improve behavior),
    *  3. runs the same fingerprint/delta/publish/quarantine/master/
    *     xlsx tick as [[start]] (P*, J1, D*, S9, S10, U1, S4/S7).
    *
    * The per-tick file-name collect is bounded by the files that landed
    * in one trigger interval — the same bounded-driver argument as any
    * file-source stream's listing. The HTTP fetch itself stays outside
    * (SURVEY §7.1): a fetcher drops pages + detail JSONL into the two
    * directories, and everything from parse to publish is this one
    * program. */
  def startHtml(spark: SparkSession, incomingHtmlDir: String,
      detailTextDir: String, masterDir: String, publishDir: String,
      quarantineDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("24 hours"),
      runDateOf: Long => String = _ => java.time.LocalDate.now().toString,
      source: String = "fda_oncology",
      baseDomain: String = "",
      minCells: Int = 3,
      masterXlsxPath: Option[String] = None,
      onTick: Tick => Unit = _ => ()): StreamingQuery = {
    // discovery stream: a file source tracks which page files are new
    // (checkpointed file index); the tick re-reads those files through
    // the DSv2 source, which owns parsing + pushdown. binaryFile prunes
    // `content` when only `path` is selected, so discovery is a pure
    // listing pass (a wholetext source would read each page twice a tick)
    val watcher = spark.readStream
      .format("binaryFile")
      // streaming file sources demand an explicit schema; this is
      // binaryFile's one fixed schema (the format rejects any other)
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .option("pathGlobFilter", "*.html")
      .load(incomingHtmlDir)
      .select(col("path").as("file"))
    watcher.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (files: DataFrame, batchId: Long) =>
        val newPages = files.select("file").distinct()
          .collect().map(_.getString(0)).sorted
        if (newPages.nonEmpty) {
          // read on the micro-batch's session: the tick observes it (see [[overwrite]])
          val listing = files.sparkSession.read.format("graft-html")
            .option("baseDomain", baseDomain)
            .load(newPages.toIndexedSeq: _*)
            .filter(col("n_cells") >= minCells)
          // Both sides dedupe deterministically before the join: the detail
          // dir is append-only (a url re-fetched across days keeps several
          // rows; keep the longest text, the retry-on-improve winner), and
          // one trigger window can land two pages carrying the same row
          // (same (url, title, date); keep the max description). Otherwise
          // the join fans out into duplicate rag_ids in the master.
          val detail = files.sparkSession.read.schema(detailSchema).json(detailTextDir)
            .filter(col("text").isNotNull)
            .groupBy("url")
            .agg(max(struct(length(col("text")).as("l"), col("text")))
              .getField("text").as("text"))
          val fresh = listing
            .groupBy("url", "title", "date")
            .agg(max(col("description")).as("description"))
            .join(detail, Seq("url"), "left")
            .select("url", "title", "description", "date", "text")
          runTick(spark, fresh, batchId, masterDir, publishDir,
            quarantineDir, runDateOf, source, masterXlsxPath, onTick)
        }
      }
      .start()
  }
}
