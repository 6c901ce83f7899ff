package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, VariantType}

/** Scan-side operators (SURVEY §2.1 S2/S3/S5; S1's HTML parse is
  * [[graft.ops.HtmlExtract]] over a fetched page column, S4's master state
  * is plain parquet). All wrap Spark's native readers — file listing,
  * partitioned scan and predicate pushdown come free.
  */
object Sources {

  /** S2 — one consolidated JSON file (array-of-records or single object);
    * Spark's multiLine reader normalizes both shapes
    * (reference: json.load + list-normalize, json_split_and_clean.py:277-280). */
  def jsonBatch(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** S3/U2 — every `*.json` under any of `dirs`, one row per JSON record,
    * in one multi-path scan with no schema inference (reference: rglob +
    * json.load + list-normalize, per directory,
    * combine_json_to_jsonl.py:126-151, 327-359). Columns:
    *  - `record`: the record as VARIANT, so fields are looked up
    *    case-sensitively (`variant_get`) and dialects whose names differ
    *    only in case (`Title` vs `title`) share the scan;
    *  - `src_file`: the file's URI. File identity is a column because row
    *    order is not a distributed-table property.
    *
    * Each file is read whole. An array file gives one row per element
    * (VARIANT's 128 MiB limit applies per element, not per file), an
    * object file one row, a blank file none. A file that parses as
    * neither keeps Spark's PERMISSIVE shape as its one record:
    * `{"_corrupt_record": <file text>, "src_file": <URI>}`. An empty dir,
    * a JSON-less dir and no dir at all give an empty frame; a missing dir
    * throws. */
  def jsonRecords(spark: SparkSession, dirs: Seq[String]): DataFrame = {
    val files = spark.read
      .option("wholetext", "true")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.json")
      .text(dirs: _*)
      .withColumn("src_file", input_file_name())
    val text = col("value")
    // each alternative runs only when the one before it is null: an
    // object file's array parse stops at its first token, and only an
    // unparseable file is scanned for non-blank text
    val unparseable = when(text.rlike("\\S"),
      to_variant_object(struct(text.as("_corrupt_record"), col("src_file"))))
    files.select(explode(coalesce(
        from_json(text, ArrayType(VariantType)),
        array(coalesce(from_json(text, VariantType), unparseable)))).as("record"),
        col("src_file"))
      .filter(col("record").isNotNull)
  }

  /** S5 — binary documents (PDFs in the reference,
    * pdf_marker_extraction.py:336): (path, modificationTime, length, content). */
  def binaryFiles(spark: SparkSession, dir: String, glob: String = "*.pdf"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dir)

  /** CSV source (engine-surface extension, pairs with [[Sinks.writeCsv]]):
    * explicit schema — schema inference is a full extra pass over the
    * data, never acceptable at corpus scale — and the same quote/escape
    * dialect the sink writes, so quoted delimiters and newlines survive. */
  def csvTable(spark: SparkSession, path: String, schemaDDL: String): DataFrame =
    spark.read
      .schema(schemaDDL)
      .option("header", "true").option("escape", "\"")
      .option("multiLine", "true")
      .csv(path)
}
