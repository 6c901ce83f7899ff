package graft
package catalog

import org.apache.spark.sql.functions._

import graft.ops.{Fingerprint, Dedup}
import Shared._

/** U-family: set operations (SURVEY §2.7). */
private[graft] object SetOpQueries {

  val queries: Seq[Query] = Seq(

    Query("u4_scd2_history", { (s, dir) =>
      // type-2 versioned master: every doc current as of 2026-01-01 (docs
      // divisible by 9 also carry an already-closed older version); the
      // update batch changes n_chars for %4==0, no-ops %4==1, and brings
      // new ids — changed rows close and reopen, no-ops stay untouched
      val docs = t(s, dir, "documents").select("doc_id", "source", "n_chars")
      val hist = docs
        .withColumn("valid_from", lit("2026-01-01"))
        .withColumn("valid_to", lit(null).cast("string"))
        .unionByName(docs.filter(col("doc_id") % 9 === 0)
          .withColumn("n_chars", col("n_chars") - 5)
          .withColumn("valid_from", lit("2025-01-01"))
          .withColumn("valid_to", lit("2026-01-01")))
      val upd = docs.filter(col("doc_id") % 4 === 0)
          .withColumn("n_chars", col("n_chars") + 1)
        .unionByName(docs.filter(col("doc_id") % 4 === 1))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000)
          .withColumn("source", lit("srcNew")))
      Fingerprint.scd2Apply(hist, upd, "doc_id",
        Seq("source", "n_chars"), "2026-02-01")
    },
      """WITH docs AS (SELECT doc_id, source, n_chars FROM documents),
         hist AS (SELECT doc_id, source, n_chars,
             '2026-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
           FROM docs),
         closed AS (SELECT doc_id, source, n_chars - 5 AS n_chars,
             '2025-01-01' AS valid_from, '2026-01-01' AS valid_to
           FROM docs WHERE doc_id % 9 = 0),
         upd AS (
           SELECT doc_id, source, n_chars + 1 AS n_chars FROM docs WHERE doc_id % 4 = 0
           UNION ALL
           SELECT doc_id, source, n_chars FROM docs WHERE doc_id % 4 = 1
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, 'srcNew' AS source, n_chars
           FROM docs WHERE doc_id % 10 = 0),
         j AS (SELECT COALESCE(h.doc_id, u.doc_id) AS doc_id,
             h.source AS hs, h.n_chars AS hn, h.valid_from AS hvf,
             u.source AS us, u.n_chars AS un,
             h.doc_id IS NOT NULL AS has_h, u.doc_id IS NOT NULL AS has_u,
             (h.source IS NOT DISTINCT FROM u.source
              AND h.n_chars IS NOT DISTINCT FROM u.n_chars) AS same
           FROM hist h FULL OUTER JOIN upd u ON h.doc_id = u.doc_id)
         SELECT doc_id, source, n_chars, valid_from, valid_to FROM closed
         UNION ALL
         SELECT doc_id, hs, hn, hvf, CAST(NULL AS VARCHAR)
         FROM j WHERE has_h AND (NOT has_u OR same)
         UNION ALL
         SELECT doc_id, hs, hn, hvf, '2026-02-01'
         FROM j WHERE has_h AND has_u AND NOT same
         UNION ALL
         SELECT doc_id, us, un, '2026-02-01', CAST(NULL AS VARCHAR)
         FROM j WHERE has_u AND (NOT has_h OR NOT same)"""),

    Query("u6_scd2_lookup", { (s, dir) =>
      // point-in-time reads of the u4-shaped history: docs %9==0 probe a
      // date inside their CLOSED older version, everyone else probes the
      // current one — each probe resolves to exactly one version
      val docs = t(s, dir, "documents").select("doc_id", "source", "n_chars")
      val hist = docs
        .withColumn("valid_from", lit("2026-01-01"))
        .withColumn("valid_to", lit(null).cast("string"))
        .unionByName(docs.filter(col("doc_id") % 9 === 0)
          .withColumn("n_chars", col("n_chars") - 5)
          .withColumn("valid_from", lit("2025-01-01"))
          .withColumn("valid_to", lit("2026-01-01")))
      val probes = docs.select(col("doc_id"),
        when(col("doc_id") % 9 === 0, lit("2025-06-01"))
          .otherwise(lit("2026-06-01")).as("as_of"))
      Fingerprint.scd2Lookup(hist, probes, "doc_id", "as_of")
        .select("doc_id", "as_of", "source", "n_chars", "valid_from")
    },
      """WITH docs AS (SELECT doc_id, source, n_chars FROM documents),
         hist AS (
           SELECT doc_id, source, n_chars,
             '2026-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
           FROM docs
           UNION ALL
           SELECT doc_id, source, n_chars - 5,
             '2025-01-01', '2026-01-01'
           FROM docs WHERE doc_id % 9 = 0),
         p AS (SELECT doc_id,
             CASE WHEN doc_id % 9 = 0 THEN '2025-06-01'
                  ELSE '2026-06-01' END AS as_of
           FROM docs)
         SELECT p.doc_id, p.as_of, h.source, h.n_chars, h.valid_from
         FROM p JOIN hist h ON p.doc_id = h.doc_id
           AND h.valid_from <= p.as_of
           AND (h.valid_to IS NULL OR p.as_of < h.valid_to)"""),

    Query("u3_merge_upsert", { (s, dir) =>
      // MERGE semantics: update rows win over their keyed master rows,
      // untouched master rows survive (updates ∪ master-anti-updates)
      val master = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val updates = master.filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), concat(lit("UPDATED "), col("text")).as("text"))
      Fingerprint.mergeUpsert(master, updates, "doc_id")
    },
      """WITH u AS (SELECT doc_id, 'UPDATED ' || text AS text
           FROM documents WHERE doc_id % 4 = 0)
         SELECT doc_id, text FROM u
         UNION ALL
         SELECT m.doc_id, m.text FROM documents m
         WHERE m.doc_id NOT IN (SELECT doc_id FROM u)"""),

    Query("u1_union_master_update", { (s, dir) =>
      val all = docsWithId(s, dir)
      val fresh = all.filter(col("doc_id") % 10 < 3).select(col("doc_id"), col("rag_id"))
      val master = all.filter(col("doc_id") % 10 >= 3).select(col("doc_id"), col("rag_id"))
      Fingerprint.unionMasterUpdate(fresh, master, "ingest_seq")
    },
      """WITH d AS (SELECT doc_id,
           md5(concat_ws('_', source, CAST(doc_id AS VARCHAR))) AS rag_id
           FROM documents)
         SELECT doc_id, rag_id, 0 AS ingest_seq FROM d WHERE doc_id % 10 < 3
         UNION ALL
         SELECT doc_id, rag_id, 1 AS ingest_seq FROM d WHERE doc_id % 10 >= 3"""),

    Query("u7_union_by_name", { (s, dir) =>
      // heterogeneous-schema union: the in-memory twin of the mergeSchema
      // read — an old extract without `lang` unions with the current
      // shape, missing columns null-filled BY NAME (positional UNION
      // would silently misalign). doc_id % 3 splits within every source,
      // so both null and non-null lang counts are hash-checked per group.
      val docs = t(s, dir, "documents")
      val cur = docs.filter(col("doc_id") % 3 === 0)
        .select("doc_id", "source", "lang")
      val old = docs.filter(col("doc_id") % 3 =!= 0)
        .select("doc_id", "source")
      cur.unionByName(old, allowMissingColumns = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          count(when(col("lang").isNull, 1)).as("n_no_lang"))
    },
      """WITH u AS (
           SELECT doc_id, source, lang FROM documents WHERE doc_id % 3 = 0
           UNION ALL BY NAME
           SELECT doc_id, source FROM documents WHERE doc_id % 3 <> 0)
         SELECT source, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE lang IS NULL) AS BIGINT) AS n_no_lang
         FROM u GROUP BY source"""),

    Query("u2_intersect_except", { (s, dir) =>
      val c = t(s, dir, "customer")
      val rich = c.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
      val building = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      rich.intersect(building).withColumn("tag", lit("both"))
        .unionByName(rich.except(building).withColumn("tag", lit("rich_only")))
    },
      """SELECT c_custkey, 'both' AS tag FROM (
           SELECT c_custkey FROM customer WHERE c_acctbal > 5000
           INTERSECT
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
         UNION ALL
         SELECT c_custkey, 'rich_only' AS tag FROM (
           SELECT c_custkey FROM customer WHERE c_acctbal > 5000
           EXCEPT
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')"""),

    Query("u5_keep_best", { (s, dir) =>
      // dedup survivor policy: one row per content-hash group, best =
      // longest text then smallest doc_id (total order ⇒ deterministic)
      val d = t(s, dir, "documents")
        .withColumn("content_hash", md5(col("text")))
      Dedup.keepBestPerGroup(d, col("content_hash"),
          Seq(col("n_chars").desc, col("doc_id").asc))
        .select("doc_id", "content_hash", "n_chars")
    },
      """WITH d AS (SELECT doc_id, md5(text) AS content_hash, n_chars
           FROM documents),
         r AS (SELECT doc_id, content_hash, n_chars,
             row_number() OVER (PARTITION BY content_hash
               ORDER BY n_chars DESC, doc_id ASC) AS rn
           FROM d)
         SELECT doc_id, content_hash, n_chars FROM r WHERE rn = 1""")
  )
}
