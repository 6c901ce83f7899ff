package graft
package catalog

import org.apache.spark.sql.functions._

import graft.ops.{TextOps, Fingerprint}
import Shared._

/** P-family: projections, filters and row transforms (SURVEY §2.2). */
private[graft] object ProjectionQueries {

  val queries: Seq[Query] = Seq(

    Query("p1_fingerprint_md5", { (s, dir) =>
      docsWithId(s, dir).select(col("doc_id"), col("rag_id"))
    },
      """SELECT doc_id, md5(concat_ws('_', source, CAST(doc_id AS VARCHAR))) AS rag_id
         FROM documents"""),

    Query("p2_id_base_coalesce", { (s, dir) =>
      val url = when(col("doc_id") % 5 === 0, lit(""))
        .otherwise(concat(lit("https://ex.org/"), col("doc_id").cast("string")))
      t(s, dir, "documents").select(col("doc_id"),
        Fingerprint.idBase(url, col("source"), col("lang")).as("id_base"))
    },
      """SELECT doc_id,
         COALESCE(NULLIF(TRIM(CASE WHEN doc_id % 5 = 0 THEN ''
           ELSE 'https://ex.org/' || CAST(doc_id AS VARCHAR) END), ''),
           concat_ws('_', source, lang)) AS id_base
         FROM documents"""),

    Query("p4_project_rename_rag", { (s, dir) =>
      // FDA record → RAG output schema (combine_json_to_jsonl.py:61-123);
      // `date` pinned literal per SURVEY §7.4 #5.
      docsWithId(s, dir).select(
        col("text").as("content"),
        col("source"),
        concat(lit("https://ex.org/"), col("doc_id").cast("string")).as("url"),
        lit("2026-01-01").as("date"),
        lit("1.0").as("version"),
        concat(lit("doc_"), col("doc_id").cast("string")).as("title"),
        col("lang").as("description"),
        col("rag_id"))
    },
      """SELECT text AS content, source,
         'https://ex.org/' || CAST(doc_id AS VARCHAR) AS url,
         '2026-01-01' AS date, '1.0' AS version,
         'doc_' || CAST(doc_id AS VARCHAR) AS title, lang AS description,
         md5(concat_ws('_', source, CAST(doc_id AS VARCHAR))) AS rag_id
         FROM documents"""),

    Query("p6_default_nonempty", { (s, dir) =>
      val maybeBlank = when(col("doc_id") % 7 === 0, lit("  ")).otherwise(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.defaultNonEmpty(maybeBlank,
          concat(lit("EMPTY_"), col("doc_id").cast("string"))).as("content"))
    },
      """SELECT doc_id,
         COALESCE(NULLIF(TRIM(CASE WHEN doc_id % 7 = 0 THEN '  ' ELSE text END), ''),
           'EMPTY_' || CAST(doc_id AS VARCHAR)) AS content
         FROM documents"""),

    Query("p8_filter_valid_rows", { (s, dir) =>
      t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && length(col("text")) > 0)
        .select(col("doc_id"), col("n_chars"))
    },
      """SELECT doc_id, n_chars FROM documents
         WHERE doc_id IS NOT NULL AND length(text) > 0"""),

    Query("p9_filter_min_length", { (s, dir) =>
      t(s, dir, "documents").filter(length(col("text")) > 200)
        .select(col("doc_id"), length(col("text")).as("text_len"))
    },
      """SELECT doc_id, length(text) AS text_len FROM documents
         WHERE length(text) > 200"""),

    Query("p3_url_resolve", { (s, dir) =>
      val href = when(col("doc_id") % 3 === 0,
          concat(lit("https://abs.example/"), col("doc_id").cast("string")))
        .when(col("doc_id") % 3 === 1, concat(lit("/node/"), col("doc_id").cast("string")))
        .otherwise(concat(lit("rel/"), col("doc_id").cast("string")))
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.urlResolve(lit("https://www.fda.gov/"), href).as("resolved"))
    },
      """SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'https://abs.example/' || CAST(doc_id AS VARCHAR)
              WHEN doc_id % 3 = 1 THEN 'https://www.fda.gov' || '/node/' || CAST(doc_id AS VARCHAR)
              ELSE 'https://www.fda.gov' || '/' || 'rel/' || CAST(doc_id AS VARCHAR)
         END AS resolved
         FROM documents"""),

    Query("p10_f14_ingest_timestamp", { (s, dir) =>
      // pinned instant (SURVEY §7.4 #5): production uses current_timestamp()
      val pinned = to_timestamp(lit("2026-08-12 09:00:00"))
      Fingerprint.addIngestTimestamp(
          t(s, dir, "documents").select(col("doc_id")), pinned)
        .withColumn("scraped_at_str",
          TextOps.formatNow(col("scraped_at"), "yyyy-MM-dd HH:mm:ss"))
    },
      """SELECT doc_id, TIMESTAMP '2026-08-12 09:00:00' AS scraped_at,
         strftime(TIMESTAMP '2026-08-12 09:00:00', '%Y-%m-%d %H:%M:%S') AS scraped_at_str
         FROM documents"""),

    Query("p11_source_name_derive", { (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        when(lower(col("source")).contains("1"), lit("fda_oncology"))
          .otherwise(concat(lit("dir_"), regexp_extract(col("source"), "src(\\d+)", 1)))
          .as("derived_source"))
    },
      """SELECT doc_id,
         CASE WHEN contains(lower(source), '1') THEN 'fda_oncology'
         ELSE 'dir_' || regexp_extract(source, 'src(\d+)', 1) END AS derived_source
         FROM documents"""),

    Query("p5_project_rename_pdf", { (s, dir) =>
      // PDF EnrichedDocument {Title,Citation,Link,Corpus} → RAG output
      // schema (pdf_extraction/combine_json_to_jsonl.py:63-80): content
      // is clean_content (image strip + \n unescape + newline collapse +
      // strip), date is the citation year (default pinned per SURVEY §7.4)
      val citation = when(col("doc_id") % 11 === 0, lit("Doe. Study, no year."))
        .otherwise(concat(lit("Doe et al. ("),
          (lit(1990) + col("doc_id") % 30).cast("string"), lit("). "),
          col("lang"), lit(".")))
      val corpus = concat(lit("![fig](img.png) "), col("text"),
        lit("\\n\\n\\n\\nEnd."))
      t(s, dir, "documents").select(
        TextOps.pdfCleanContent(corpus).as("content"),
        col("source"),
        concat(lit("https://doi.org/10.9/"), col("doc_id").cast("string")).as("url"),
        TextOps.extractYear(citation, lit("2026")).as("date"),
        lit("1.0").as("version"),
        concat(lit("T-"), col("doc_id").cast("string")).as("title"),
        citation.as("citation"))
    },
      ("""WITH t AS (SELECT doc_id, text, lang, source,
           CASE WHEN doc_id % 11 = 0 THEN 'Doe. Study, no year.'
                ELSE 'Doe et al. (' || CAST(1990 + doc_id % 30 AS VARCHAR)
                     || '). ' || lang || '.' END AS citation,
           '![fig](img.png) ' || text || '\n\n\n\nEnd.' AS corpus
           FROM documents)
         SELECT
           trim(regexp_replace(regexp_replace(
               regexp_replace(corpus, '!\[.*?\]\(.*?\)', '', 'g'),
               '\\n', chr(10), 'g'),
             '\n{3,}', chr(10) || chr(10), 'g'),
             """ + oraPyStripSet + """) AS content,
           source,
           'https://doi.org/10.9/' || CAST(doc_id AS VARCHAR) AS url,
           COALESCE(NULLIF(regexp_extract(citation, '\((\p{Nd}{4})\)', 1), ''), '2026') AS date,
           '1.0' AS version,
           'T-' || CAST(doc_id AS VARCHAR) AS title,
           citation
         FROM t""")),

    Query("p7_drop_intermediate_cols", { (s, dir) =>
      // master-output projection (json_split_and_clean.py:299-313): drop
      // the Scraped_At / raw-text intermediates, add cleaned Corpus + md5
      t(s, dir, "documents")
        .withColumn("Scraped_At", lit("2026-01-01 00:00:00"))
        .withColumn("Corpus", trim(col("text")))
        .drop("Scraped_At", "text")
        .withColumn("corpus_hash", md5(col("Corpus")))
    },
      """SELECT doc_id, lang, source, n_chars, trim(text) AS "Corpus",
         md5(trim(text)) AS corpus_hash
         FROM documents""")
  )
}
