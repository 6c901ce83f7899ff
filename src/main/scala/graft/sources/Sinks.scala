package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sink-side operators (SURVEY §2.1 S6–S10).
  *
  * Scale note: the reference's single-file contracts (one JSONL, one JSON
  * per record) are driver-scale conveniences. The engine defaults to
  * partitioned output (one file per task) and offers `singleFile = true`
  * only for parity at small scale — a documented anti-pattern at 100 TB,
  * where the partitioned JSONL IS the dataset.
  */
object Sinks {

  /** S9 — JSONL: Spark's JSON writer is line-delimited JSON already
    * (reference: per-line json.dumps, combine_json_to_jsonl.py:240-263).
    * Also S6: the reference's "records orient" JSON array file is the same
    * data as JSONL at the pandas edge (fda_watcher.py:544). */
  def writeJsonl(df: DataFrame, path: String, singleFile: Boolean = false): Unit =
    (if (singleFile) df.coalesce(1) else df)
      .write.mode("overwrite").json(path)

  /** S8 — one directory per record key (reference: `{RAG_ID}.json`,
    * json_split_and_clean.py:316-320). `partitionBy` gives
    * `key=<value>/part-*.json` — same addressability, still parallel. */
  def writePerKeyJson(df: DataFrame, keyCol: String, dir: String): Unit =
    df.write.mode("overwrite").partitionBy(keyCol).json(dir)

  /** S7 — master-state persistence: parquet instead of Excel
    * (fda_watcher.py:555). */
  def writeMaster(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** S7-at-scale — master state as a BUCKETED table: co-partitions the
    * delta anti-join (J1) on `rag_id`, so only the fresh side shuffles —
    * at 100 TB the master never moves. Requires a table catalog
    * (`saveAsTable`); plain parquet master remains the simple form. */
  def writeBucketedMaster(df: DataFrame, table: String, buckets: Int,
      keyCol: String = "rag_id"): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keyCol).sortBy(keyCol)
      .format("parquet").saveAsTable(table)

  /** CSV sink (engine-surface extension): partitioned, header-per-file,
    * explicit quoting so embedded delimiters/newlines round-trip. CSV is
    * the interchange format everything downstream of a corpus pipeline
    * still speaks (spreadsheets, BI loads, DuckDB/pandas ingest). */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit =
    (if (singleFile) df.coalesce(1) else df)
      .write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true")
      .option("escape", "\"")
      .csv(path)

  /** S10 — dead-letter split: ok rows to `okPath`, failures to
    * `failedPath` (reference moves files, pubmed_enrichment.py:450-456).
    * Two filtered writes over one cached pass. */
  def quarantineSplit(df: DataFrame, isOk: Column, okPath: String,
      failedPath: String): (Long, Long) = {
    val cached = df.cache()
    try {
      val ok = cached.filter(isOk)
      val bad = cached.filter(!isOk)
      ok.write.mode("overwrite").json(okPath)
      bad.write.mode("overwrite").json(failedPath)
      (ok.count(), bad.count())
    } finally { cached.unpersist() }
  }

  /** Small-files compaction: rewrite a JSONL directory into files of
    * ≈`targetBytesPerFile`. The many-tiny-files problem is THE
    * operational tax of per-batch/streaming sinks at scale — every
    * downstream scan pays a task per file and the metadata layer pays an
    * entry — and the fix is this periodic rewrite. Output partition
    * count is sized by the ACTUAL serialized byte volume (sum of JSON
    * line lengths, one aggregate pass), not row count, so mixed-width
    * corpora compact evenly; the repartition is a round-robin exchange
    * keyed by nothing (no skew possible). Returns the partition count
    * written. */
  def compactJsonl(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, schema: org.apache.spark.sql.types.StructType,
      targetBytesPerFile: Long): Int = {
    require(targetBytesPerFile > 0, "targetBytesPerFile must be positive")
    val df = spark.read.schema(schema).json(inDir)
    // octet_length, not length: the writer emits UTF-8 BYTES, and a CJK
    // corpus is ~3 bytes/char — char counting would triple file sizes
    val line = octet_length(to_json(struct(df.columns.map(col): _*))) + lit(1) // +\n
    val total = df.agg(sum(line.cast("long"))).collect()(0) match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val parts = math.max(1, math.ceil(
      total.toDouble / targetBytesPerFile).toInt)
    df.repartition(parts).write.mode("overwrite").json(outDir)
    parts
  }
}
