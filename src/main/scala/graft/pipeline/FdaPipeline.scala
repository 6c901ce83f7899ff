package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Fingerprint, TextOps}
import graft.expr.{functions => gf}

/** The FDA ingest lifecycle (SURVEY §3.1) as one declarative plan:
  *
  *   source → fingerprint (P1/P2) → delta anti-join vs master (J1/T2) →
  *   clean corpus (F1) → substance filter (P9) → RAG projection (P4/P6) →
  *   master union update (U1)
  *
  * The reference runs this eagerly over pandas + Excel
  * (fda_rag_extraction/scripts/fda_watcher.py:357-588) and cleans only
  * the delta (:399-400 vs :446-502); `Result.delta` keeps `clean_corpus`
  * above the anti-join. In a lazy plan Catalyst pushes the views' corpus
  * gate below it onto the raw scan, so a caller reading more than one
  * view derives them from a cut of `delta` (`res.copy(delta = cut)`), as
  * [[graft.streaming.ScheduledIngest]] does: the cut is the barrier.
  */
object FdaPipeline {

  /** One ingest run: `delta` is the fresh records absent from `master`,
    * fingerprinted (`rag_id`) and cleaned (`corpus`); the outputs are
    * views over it. `quarantined` holds the delta records that fail the
    * corpus gate — the manual-review split (S10, fda_watcher.py:224-227's
    * too-short extraction): withheld from master, so a later run
    * re-evaluates them if the source page improves. */
  case class Result(delta: DataFrame, master: DataFrame, runDate: String,
      source: String) {
    // coalesce: a NULL corpus (null text in the landing record) must fail
    // the gate INTO quarantine — bare `!(length(null) > 50)` is NULL and
    // would drop the row from both branches, leaving it invisible and
    // re-processed forever
    private def corpusOk = coalesce(length(col("corpus")) > 50, lit(false)) // fda_watcher.py:224-227

    def quarantined: DataFrame = delta.filter(!corpusOk)

    def published: DataFrame = delta.filter(corpusOk).select(
      TextOps.defaultNonEmpty(col("corpus"),
        TextOps.recordToJsonString(col("url"), col("title"), col("date"))).as("content"),
      lit(source).as("source"),
      col("url"),
      TextOps.defaultNonEmpty(col("date"), lit(runDate)).as("date"),
      lit("1.0").as("version"),
      col("title"),
      col("description"),
      col("rag_id"))

    def updatedMaster: DataFrame = Fingerprint.unionMasterUpdate(
      delta.filter(corpusOk).select(master.columns.toIndexedSeq.map(col): _*),
      master, "ingest_seq").drop("ingest_seq")
  }

  /** @param fresh    scraped records: (url, title, description, date, text)
    * @param master   previous master table with a `rag_id` column
    * @param runDate  pinned "today" (yyyy-MM-dd) — determinism over
    *                 current_date, SURVEY §7.4 #5
    */
  def run(fresh: DataFrame, master: DataFrame, runDate: String,
      source: String = "fda_oncology"): Result = {
    val fingerprinted = fresh
      .withColumn("rag_id", Fingerprint.ragId(
        Fingerprint.idBase(col("url"), col("title"), col("date"))))
    val delta = Fingerprint.deltaAntiJoin(fingerprinted, master, "rag_id")
      .withColumn("corpus", gf.clean_corpus(col("text")))
    Result(delta, master, runDate, source)
  }
}
