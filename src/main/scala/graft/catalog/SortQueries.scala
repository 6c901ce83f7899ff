package graft
package catalog

import org.apache.spark.sql.functions._

import graft.ops.TopK
import Shared._

/** O-family: sorts, limits and top-k (SURVEY §2.6). */
private[graft] object SortQueries {

  val queries: Seq[Query] = Seq(

    Query("o1_sort_lexical", { (s, dir) =>
      t(s, dir, "documents").orderBy(col("source"), col("doc_id"))
        .select(col("doc_id"), col("source")).limit(100)
    },
      """SELECT doc_id, source FROM documents
         ORDER BY source, doc_id LIMIT 100"""),

    Query("o2_argmax_mtime", { (s, dir) =>
      events(s, dir).orderBy(col("ts").desc, col("event_id").desc)
        .select(col("event_id"), col("ts")).limit(1)
    },
      """SELECT event_id, make_timestamp(epoch_us(ts)) AS ts FROM events
         ORDER BY ts DESC, event_id DESC LIMIT 1"""),

    Query("o4_retmax_limit", { (s, dir) =>
      // O4 — the reference's retmax=1 "first hit only" lookup
      // (pubmed_enrichment.py:136-137,143,158-164): a filtered search
      // that keeps exactly the first match in a deterministic order.
      // Catalyst pushes the Limit below the projection (LimitPushDown /
      // TakeOrderedAndProject), so the scan never ranks the full match
      // set — against a live source the same limit rides the client call.
      t(s, dir, "documents")
        .filter(col("text").contains("spark"))
        .orderBy(col("doc_id"))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .limit(1)
    },
      """SELECT doc_id, source, n_chars FROM documents
         WHERE contains(text, 'spark') ORDER BY doc_id LIMIT 1"""),

    Query("o5_head_n_preview", { (s, dir) =>
      t(s, dir, "documents").orderBy(col("doc_id"))
        .select(col("doc_id"), col("lang"), col("source")).limit(5)
    },
      """SELECT doc_id, lang, source FROM documents ORDER BY doc_id LIMIT 5"""),

    Query("o6_topk_per_group", { (s, dir) =>
      // salted two-phase top-k (skew-resistant; exact — see ops/TopK)
      TopK.perGroup(events(s, dir),
          key = Seq(col("event_type")),
          order = Seq(col("value").desc, col("event_id")),
          saltBy = Seq(col("event_id")), k = 3)
        .select(col("event_type"), col("event_id"), col("value"), col("rk"))
    },
      """SELECT event_type, event_id, value, rk FROM (
           SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY value DESC, event_id) AS rk
           FROM events) WHERE rk <= 3""")
  )
}
