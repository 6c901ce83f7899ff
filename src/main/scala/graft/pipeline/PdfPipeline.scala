package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.ops.{TextOps, Enrich}
import graft.expr.{functions => gf}

/** The PDF→enriched-document lifecycle (SURVEY §3.2) as one Spark job —
  * the reference's three OS processes glued by directories
  * (pdf_marker_extraction.py → pubmed_enrichment.py → combine_json_to_jsonl.py)
  * collapse into pipelined stages:
  *
  *   binary scan → convert (pluggable, stubbed ML) → extract_doi (F9) →
  *   enrichment join vs a PubMed dimension (J2) → fuzzy verify (J3/F12) →
  *   citation/link build (F15–F17) → RAG projection (P5)
  *
  * External-world stages are pluggable:
  *  - [[Converter]] mirrors PDFConverter.convert (pdf_marker_extraction.py:235-253);
  *    the default [[TextBytesConverter]] is a deterministic stand-in (the
  *    container has no ML runtime) with the same row contract.
  *  - PubMed is a broadcast dimension table (doi_norm, title, journal,
  *    year, authors, pmid) instead of a live rate-limited API; the
  *    verify semantics (pubmed_enrichment.py:270-296) are preserved:
  *    DOI equality (normalized) → verified with DOI link; both DOIs
  *    present but different → conflict, unverified (title never
  *    consulted); else title similarity >= 0.90 (difflib parity) →
  *    verified with PubMed link; else the "(Unverified)" fallback
  *    (pubmed_enrichment.py:439-448).
  */
object PdfPipeline {

  /** Pluggable document converter: bytes → markdown-ish text.
    * Runs per partition (mapPartitions shape) so heavyweight converters
    * amortize model load per executor, mirroring the reference's
    * one-model-per-process design. */
  trait Converter extends Serializable {
    def convert(path: String, content: Array[Byte]): String
  }

  /** Deterministic stand-in: bytes interpreted as UTF-8 text.
    * STUB — a real deployment plugs an ML converter (marker-style) here;
    * the Spark-side contract (signature, per-partition reuse) is real. */
  object TextBytesConverter extends Converter {
    def convert(path: String, content: Array[Byte]): String =
      new String(content, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Phase 1: binary files → (path, text, title, doi).
    * Title heuristic = first markdown heading, mirroring the reference's
    * metadata extraction (pdf_marker_extraction.py:166-203). */
  def convertAndExtract(binaries: DataFrame, converter: Converter): DataFrame = {
    val spark = binaries.sparkSession
    import spark.implicits._
    binaries.select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        // one converter handle per partition (session-reuse pattern,
        // fda_watcher.py:365 / pdf_marker_extraction.py:104-127)
        it.map { case (p, bytes) => (p, converter.convert(p, bytes)) }
      }.toDF("path", "text")
      .withColumn("title",
        nullif(trim(regexp_extract(col("text"), "(?m)^#\\s+(.+)$", 1)), lit("")))
      .withColumn("doi", gf.extract_doi(col("text")))
  }

  /** Phase 2: enrichment against a PubMed dimension + verification.
    * Two-step lookup mirroring _search_pubmed (DOI first, then title) as
    * one chain of broadcast left joins, so a batch is read once. The title
    * join, only where the DOI join found no row (:397-409), carries the
    * exact Ratcliff/Obershelp >= 0.90 gate against a `t_` copy of the
    * dimension; a document keeps every DOI-matched row, else its
    * lowest-pmid title match. That join is a nested-loop theta-join (J3),
    * so its cost is per pair: both titles are normalized once per row
    * before it, and `similarity_at_least` rejects a pair on difflib's
    * length or character-multiset upper bound before the Ratcliff search.
    * Both bounds are exact (see [[graft.ops.Similarity.atLeast]]), so the
    * matched pairs are those of `similarity(...) >= 0.90`. */
  def enrich(docs: DataFrame, pubmedDim: DataFrame): DataFrame = {
    val dim = pubmedDim.select(
      TextOps.normalizeDoi(col("doi")).as("dim_doi_norm"),
      col("doi").as("dim_doi"), col("title").as("dim_title"),
      col("journal"), col("year"), col("authors"), col("pmid"))
    val titleDim = dim.select(dim.columns.toIndexedSeq.map(c => col(c).as(s"t_$c")) :+
      TextOps.normalizeForCompare(col("dim_title")).as("t_cmp"): _*)
    val doiHit = col("dim_doi_norm").isNotNull
    val matched = docs
      .withColumn("doi_norm", TextOps.normalizeDoi(col("doi")))
      .join(broadcast(dim), col("doi_norm") === col("dim_doi_norm"), "left_outer")
      .withColumn("title_cmp", TextOps.normalizeForCompare(col("title")))
      .join(broadcast(titleDim), !doiHit &&
        gf.similarity_at_least(col("title_cmp"), col("t_cmp"), 0.90), "left_outer")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("path"))
          .orderBy(col("t_pmid").asc_nulls_last)))
      .filter(doiHit || col("rk") === 1)

    // DOI-conflict veto (pubmed_enrichment.py:277-284): when BOTH the local
    // and the matched PubMed DOI exist, verify() compares them and returns
    // unverified on mismatch — title similarity is only consulted when one
    // side lacks a DOI. Equal pairs already matched on the DOI path above,
    // so both-present on the title path is necessarily a conflict.
    val verified = doiHit || (col("t_pmid").isNotNull &&
      (col("doi_norm").isNull || col("t_dim_doi_norm").isNull ||
        col("doi_norm") === col("t_dim_doi_norm")))
    matched.select((docs.columns.toIndexedSeq :+ "doi_norm").map(col) ++
      dim.columns.map(c => when(doiHit, col(c)).otherwise(col(s"t_$c")).as(c)) ++
      Seq(verified.as("verified"), doiHit.as("use_doi")): _*)
  }

  /** Phase 3: build the EnrichedDocument projection
    * (Title, Citation, Link, Corpus — pubmed_enrichment.py:58-64,422-448). */
  def buildOutput(enriched: DataFrame): DataFrame = {
    val authorsFmt = Enrich.formatAuthors(col("authors"))
    val citation = Enrich.buildCitation(authorsFmt, col("year"),
      col("dim_title"), col("journal"), col("dim_doi"))
    val verifiedLink = when(col("use_doi"), Enrich.buildLink(col("dim_doi"), col("pmid")))
      .otherwise(concat(lit("https://pubmed.ncbi.nlm.nih.gov/"), col("pmid")))
    enriched.select(
      when(col("verified"), col("dim_title"))
        .otherwise(coalesce(col("title"), lit("Unknown Title"))).as("Title"),
      when(col("verified"), citation)
        .otherwise(concat(lit("Document. "),
          coalesce(col("title"), lit("Unknown Title")), lit(". (Unverified)"))).as("Citation"),
      when(col("verified"), verifiedLink)
        .otherwise(lit("https://pubmed.ncbi.nlm.nih.gov")).as("Link"),
      col("text").as("Corpus"),
      col("path"), col("verified"))
  }

  /** Full lifecycle; quarantine split (S10) = `.filter(!verified)` on the
    * result or [[graft.sources.Sinks.quarantineSplit]]. */
  def run(binaries: DataFrame, pubmedDim: DataFrame,
      converter: Converter = TextBytesConverter): DataFrame =
    buildOutput(enrich(convertAndExtract(binaries, converter), pubmedDim))
}
