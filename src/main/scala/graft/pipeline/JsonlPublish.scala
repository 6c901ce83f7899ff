package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TextOps
import graft.sources.{Sources, Sinks}

/** The JSONL publish lifecycle (SURVEY §3.3) — the reference's standalone
  * combine_json_to_jsonl.py CLI: recursive JSON discovery → per-record
  * transform to the RAG output schema → JSONL sink, with per-source
  * object counts (A2) as a side output.
  *
  * The reference's per-file loop (combine_json_to_jsonl.py:154-289)
  * becomes a single declarative scan: file parallelism is the FileScan's
  * partitioning, the source label is derived from the file path column
  * (P11, :188-218) instead of directory-walking state.
  */
object JsonlPublish {

  /** P4/P5/P6 + F2–F4 content normalization into the RAG contract.
    * Input schemas differ per pipeline (FDA: Corpus/Webpage/Date…,
    * PDF: content/url/date…) — absent columns resolve to null, mirroring
    * the reference's dict.get fallbacks (combine_json_to_jsonl.py:82-104). */
  def toRagRecords(raw: DataFrame, runDate: String): DataFrame = {
    def opt(name: String) =
      if (raw.columns.contains(name)) col(name) else lit(null).cast("string")
    val content0 = coalesce(opt("Corpus"), opt("content"), lit(""))
    val cleaned = TextOps.unescapeNewlines(
      TextOps.stripMarkdownImages(TextOps.stripMarkerWrapper(content0)))
    raw.select(
      TextOps.defaultNonEmpty(cleaned,
        TextOps.recordToJsonString(col("*"))).as("content"),
      when(lower(col("src_file")).contains("fda"), lit("fda_oncology"))
        .otherwise(regexp_extract(col("src_file"), "/([^/]+)/[^/]*$", 1))
        .as("source"),
      coalesce(opt("Webpage"), opt("url"), lit("")).as("url"),
      TextOps.defaultNonEmpty(coalesce(opt("Date"), opt("date"), lit("")), lit(runDate)).as("date"),
      lit("1.0").as("version"),
      coalesce(opt("Title"), opt("title"), lit("")).as("title"),
      coalesce(opt("Description"), opt("description"), lit("")).as("description"),
      coalesce(opt("RAG_ID"), opt("rag_id"), md5(cleaned)).as("rag_id"))
  }

  /** Full lifecycle: dirs → RAG JSONL + per-source stats (A2/A3).
    * Directories are read separately (each pipeline dialect has its own
    * JSON schema — `Title` vs `title` would collide in one case-
    * insensitive union scan) and unioned AFTER normalization, mirroring
    * the reference's per-directory processing loop
    * (combine_json_to_jsonl.py:327-359). A directory with no JSON file
    * is skipped (a quiet day's listing); with none left, the sink gets an
    * empty JSONL set and the stats are empty. */
  def run(spark: SparkSession, inputDirs: Seq[String], outPath: String,
      runDate: String): DataFrame = {
    val records = inputDirs.filter(holdsJson(spark, _))
      .map(d => toRagRecords(Sources.jsonDirRecursive(spark, d), runDate))
      .reduceOption(_ unionByName _)
      .getOrElse(toRagRecords(spark.emptyDataFrame
        .withColumn("src_file", lit(null).cast("string")), runDate))
    Sinks.writeJsonl(records, outPath)
    records.groupBy(col("source"))
      .agg(count(lit(1)).as("n_objects"))
  }

  /** Whether `dir` holds a non-empty `*.json` file at any depth — without
    * one the JSON scan cannot infer a schema. A file listing, no read. */
  private def holdsJson(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val files = p.getFileSystem(spark.sessionState.newHadoopConf())
      .listFiles(p, true)
    var found = false
    while (!found && files.hasNext) {
      val f = files.next()
      found = f.getLen > 0 && f.getPath.getName.endsWith(".json")
    }
    found
  }
}
