package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TextOps
import graft.sources.{Sources, Sinks}

/** The JSONL publish lifecycle (SURVEY §3.3) — the reference's standalone
  * combine_json_to_jsonl.py CLI: recursive JSON discovery → per-record
  * transform to the RAG output schema → JSONL sink, with per-source
  * object counts (A2) as a side output.
  *
  * The reference's per-directory, per-file loop
  * (combine_json_to_jsonl.py:154-289, 327-359) becomes one multi-path
  * scan ([[Sources.jsonRecords]]): file parallelism is the FileScan's
  * partitioning, the source label is derived from the file path column
  * (P11, :188-218) instead of directory-walking state.
  */
object JsonlPublish {

  /** P4/P5/P6 + F2–F4 content normalization into the RAG contract, over
    * [[Sources.jsonRecords]]' `record`/`src_file` rows. The dialects
    * differ per pipeline (FDA: Corpus/Webpage/Date…, PDF:
    * content/url/date…); a field is looked up case-sensitively, and an
    * absent one resolves to null, mirroring the reference's dict.get
    * fallbacks (combine_json_to_jsonl.py:82-104). A record with no content
    * publishes itself as JSON (F18): its own keys, sorted, with their
    * JSON types and explicit nulls. A dir on the path, never the file
    * name, holding "fda" labels the record `fda_oncology`. */
  def toRagRecords(raw: DataFrame, runDate: String): DataFrame = {
    def field(name: String) = variant_get(col("record"), "$." + name, "string")
    val content0 = coalesce(field("Corpus"), field("content"), lit(""))
    val cleaned = TextOps.unescapeNewlines(
      TextOps.stripMarkdownImages(TextOps.stripMarkerWrapper(content0)))
    raw.select(
      TextOps.defaultNonEmpty(cleaned, to_json(col("record"))).as("content"),
      when(lower(col("src_file")).rlike("fda[^/]*/"), lit("fda_oncology"))
        .otherwise(regexp_extract(col("src_file"), "/([^/]+)/[^/]*$", 1))
        .as("source"),
      coalesce(field("Webpage"), field("url"), lit("")).as("url"),
      TextOps.defaultNonEmpty(coalesce(field("Date"), field("date"), lit("")), lit(runDate)).as("date"),
      lit("1.0").as("version"),
      coalesce(field("Title"), field("title"), lit("")).as("title"),
      coalesce(field("Description"), field("description"), lit("")).as("description"),
      coalesce(field("RAG_ID"), field("rag_id"), md5(cleaned)).as("rag_id"))
  }

  /** Full lifecycle: dirs → RAG JSONL + per-source stats (A2/A3). Every
    * dir is read in the one scan and the write is its one job; a dir with
    * no JSON file (a quiet day's listing) adds no rows, and with none at
    * all the sink gets an empty JSONL set and the stats are empty. */
  def run(spark: SparkSession, inputDirs: Seq[String], outPath: String,
      runDate: String): DataFrame = {
    val records = toRagRecords(Sources.jsonRecords(spark, inputDirs), runDate)
    Sinks.writeJsonl(records, outPath)
    records.groupBy(col("source"))
      .agg(count(lit(1)).as("n_objects"))
  }
}
