package graft
package catalog

import org.apache.spark.sql.functions._

import graft.ops.Fingerprint
import Shared._

/** D-family: dedup and delta (SURVEY §2.4). */
private[graft] object DeltaQueries {

  val queries: Seq[Query] = Seq(

    Query("d1_dedup_by_fingerprint", { (s, dir) =>
      // idempotent re-ingest: union the scrape with itself, dedup on the
      // fingerprint → exactly the original (fda_watcher.py:86-93 README claim)
      val docs = docsWithId(s, dir).select(col("rag_id"), col("doc_id"), col("source"))
      Fingerprint.dedupByFingerprint(docs.unionByName(docs), "rag_id", "doc_id")
    },
      """WITH doubled AS (
           SELECT md5(concat_ws('_', source, CAST(doc_id AS VARCHAR))) AS rag_id,
                  doc_id, source FROM documents
           UNION ALL
           SELECT md5(concat_ws('_', source, CAST(doc_id AS VARCHAR))) AS rag_id,
                  doc_id, source FROM documents)
         SELECT rag_id, min(doc_id) AS doc_id, arg_min(source, doc_id) AS source
         FROM doubled GROUP BY rag_id"""),

    Query("d2_content_hash", { (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        Fingerprint.contentHash(col("text")).as("corpus_hash"))
    },
      """SELECT doc_id, md5(text) AS corpus_hash FROM documents"""),

    Query("d3_skip_processed", { (s, dir) =>
      // D3 driver-visible: re-scrape skip — inputs already in the
      // processed ledger (every 7th doc) drop out via the anti join
      val docs = t(s, dir, "documents")
      Fingerprint.skipProcessed(docs.select("doc_id", "source"),
        docs.filter(col("doc_id") % 7 === 0).select("doc_id"), "doc_id")
    },
      """SELECT doc_id, source FROM documents WHERE doc_id % 7 <> 0""")
  )
}
