package graft
package catalog

import org.apache.spark.sql.functions._

import graft.ops.{Fingerprint, FuzzyJoin, AsofJoin, RangeJoin, SkewJoin, Validate}
import Shared._

/** J-family: joins (SURVEY §2.3). */
private[graft] object JoinQueries {

  val queries: Seq[Query] = Seq(

    Query("j1_delta_anti_join", { (s, dir) =>
      val all = docsWithId(s, dir)
      val master = all.filter(col("doc_id") % 10 < 3)
      Fingerprint.deltaAntiJoin(all, master, "rag_id")
        .select(col("doc_id"), col("rag_id"))
    },
      """WITH d AS (SELECT doc_id,
           md5(concat_ws('_', source, CAST(doc_id AS VARCHAR))) AS rag_id
           FROM documents)
         SELECT doc_id, rag_id FROM d
         WHERE rag_id NOT IN (SELECT rag_id FROM d WHERE doc_id % 10 < 3)"""),

    Query("j1_delta_bloom", { (s, dir) =>
      // J1's corpus-scale shape: bloom pre-filter + exact residual join —
      // identical result to j1_delta_anti_join, same oracle
      val all = docsWithId(s, dir)
      val master = all.filter(col("doc_id") % 10 < 3)
      Fingerprint.deltaAntiJoinBloom(all, master, "rag_id",
          expectedItems = 1000L)
        .select(col("doc_id"), col("rag_id"))
    },
      """WITH d AS (SELECT doc_id,
           md5(concat_ws('_', source, CAST(doc_id AS VARCHAR))) AS rag_id
           FROM documents)
         SELECT doc_id, rag_id FROM d
         WHERE rag_id NOT IN (SELECT rag_id FROM d WHERE doc_id % 10 < 3)"""),

    Query("j2_lookup_enrich_join", { (s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"), "left_outer")
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"), "left_outer")
        .select(col("c_custkey"), col("c_name"), col("n_name"), col("r_name"))
    },
      """SELECT c_custkey, c_name, n_name, r_name
         FROM customer
         LEFT JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey"""),

    Query("j3_fuzzy_match_lev", { (s, dir) =>
      // fuzzy-join shape with the oracle-checkable levenshtein band
      // (exact difflib similarity is pinned in SimilaritySpec). PassJoin
      // (k = 4) + the distinct-string front: the brand-blocked raw
      // self-join evaluated lev on every in-brand row pair — fixed brand
      // cardinality means block occupancy grows linearly with the corpus
      // and evaluated pairs quadratically (measured 33× at 10× data).
      // The front runs lev at distinct-(brand, name) granularity
      // (vocabulary-sized); the id-level expansion is output-driven —
      // the qualifying pair set itself is what grows quadratically here
      // (1.08M pairs at sf0.1 → 108M at 10×, duplication-heavy names).
      FuzzyJoin.selfPairsExact(t(s, dir, "part"), "p_partkey", "p_name",
          k = 4, blockCols = Seq("p_brand")) { (a, b) =>
          levenshtein(a, b) <= 4
        }
        .select(col("i").as("k1"), col("j").as("k2"),
          col("str_i").as("name1"), col("str_j").as("name2"),
          levenshtein(col("str_i"), col("str_j")).as("dist"))
    },
      """SELECT a.p_partkey AS k1, b.p_partkey AS k2,
         a.p_name AS name1, b.p_name AS name2,
         levenshtein(a.p_name, b.p_name) AS dist
         FROM part a JOIN part b
         ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
         AND levenshtein(a.p_name, b.p_name) <= 4"""),

    Query("tpch_q3_shaped", { (s, dir) =>
      // classic 3-way join + agg (engine-completeness headline; single
      // shuffle on l_orderkey). The customer side is GATED, not
      // hard-hinted: the BUILDING segment is SF-proportional, so at
      // corpus scale the hint would command a driver-OOM broadcast —
      // maybeBroadcast keeps BHJ at bench scale and lets the segment
      // shuffle on c_custkey when estimates say it outgrew the threshold.
      val c = graft.ops.ScaleHints.maybeBroadcast(
        t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING"))
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"))
    },
      """SELECT l_orderkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY l_orderkey"""),

    Query("tpch_q5_shaped", { (s, dir) =>
      // classic 6-way star join (local-supplier revenue per nation):
      // fixed-size dims (nation 25, region 5) hard-broadcast, the
      // SF-proportional fact sides shuffle on their join keys, the
      // c_nationkey = s_nationkey residual rides the supplier join —
      // the join-ordering/broadcast-selection shape Q5 exists to test
      val nat = broadcast(t(s, dir, "nation"))
      val reg = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"))
    },
      """SELECT n_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n_name"""),

    Query("tpch_q18_shaped", { (s, dir) =>
      // large-volume-order shape (HAVING over a pre-aggregated fact,
      // then enrich): the quantity rollup happens BEFORE any join — at
      // scale the filter kills ~99% of orders while still key-sized,
      // so the enrich joins probe with a tiny build side
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)"))
          .cast("double").as("total_qty"))
        .filter(col("total_qty") > 250.0)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("total_qty"))
    },
      """WITH big AS (
           SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
           FROM lineitem GROUP BY l_orderkey)
         SELECT c_name, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice, total_qty
         FROM orders
         JOIN big ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE total_qty > 250.0"""),

    Query("tpch_q4_shaped", { (s, dir) =>
      // EXISTS-shaped LEFT SEMI join (the one classic join shape the set
      // lacked): orders with ≥1 returned lineitem, counted per priority.
      // Semi join never duplicates probe rows and its build side carries
      // only the join key — at scale that's the difference between a
      // key-sized shuffle and re-aggregating an exploded inner join.
      val flagged = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R").select("l_orderkey")
      t(s, dir, "orders")
        .join(flagged, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
    },
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
           WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY o_orderpriority"""),

    Query("j4_asof_join", { (s, dir) =>
      // as-of temporal lookup: every purchase gets the most recent click
      // at-or-before it per user; oracle is DuckDB's NATIVE ASOF JOIN
      // against our union+window composition
      val e = events(s, dir)
      val l = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val r = e.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("click_value"))
        .withColumn("click_ts", col("ts"))
      AsofJoin.asofJoin(l, r, "user_id", "ts",
        Seq("click_value", "click_ts"))
    },
      """WITH e AS (SELECT event_id, user_id,
           make_timestamp(epoch_us(ts)) AS ts, event_type, value FROM events),
         l AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
         r AS (SELECT user_id, ts AS click_ts, max(value) AS click_value
               FROM e WHERE event_type = 'click' GROUP BY user_id, ts)
         SELECT l.event_id, l.user_id, l.ts, r.click_value, r.click_ts
         FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.ts >= r.click_ts"""),

    Query("j5_range_join", { (s, dir) =>
      // point-in-range join: event values against 25 overlapping nation
      // bands — banded equi-join composition vs DuckDB's raw inequality
      // join (which its optimizer runs as an IEJoin)
      val bands = t(s, dir, "nation").select(
        col("n_nationkey").as("band_id"),
        (col("n_nationkey") * 18).cast("double").as("lo"),
        (col("n_nationkey") * 18 + 35).cast("double").as("hi"))
      RangeJoin.pointInRange(
          t(s, dir, "events").select(col("event_id"), col("value")),
          "value", bands, "lo", "hi", binWidth = 32)
        .select(col("event_id"), col("band_id"), col("value"))
    },
      """WITH b AS (SELECT n_nationkey AS band_id,
           CAST(n_nationkey * 18 AS DOUBLE) AS lo,
           CAST(n_nationkey * 18 + 35 AS DOUBLE) AS hi
           FROM nation)
         SELECT e.event_id, b.band_id, e.value
         FROM events e JOIN b ON e.value >= b.lo AND e.value <= b.hi"""),

    Query("j6_salted_join", { (s, dir) =>
      // manual key salting: semantics are EXACTLY the plain equi join
      // (the oracle), the salt only respreads hot keys — aggregated so
      // the check covers the join result, not row order
      val joined = SkewJoin.saltedEquiJoin(
        t(s, dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
        t(s, dir, "orders"), "o_orderkey", "l_linenumber", saltFactor = 8)
      joined.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty_sum"))
    },
      """SELECT o.o_orderpriority, count(*) AS n_items,
         CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         GROUP BY o.o_orderpriority"""),

    Query("j6_salted_hotkey", { (s, dir) =>
      // targeted salting: a mixed workload where 5 keys are provably hot
      // (one per event type) and ~5000 synthetic keys are singletons —
      // only the hot slice pays the salt replication, the cold slice
      // takes the plain join; oracle is the plain equi join
      val keyed = t(s, dir, "events").withColumn("k",
        when(col("value") < 400, col("event_type"))
          .otherwise(concat(col("event_type"), lit("#"),
            pmod(col("event_id"), lit(997)).cast("string"))))
      val dim = keyed.groupBy(col("k")).agg(count(lit(1)).as("key_n"))
      // dim IS the per-key left count — hand it to the operator so hot
      // detection reuses it instead of re-aggregating the whole stream
      SkewJoin.saltedHotKeyJoin(keyed, dim, "k", "event_id",
          saltFactor = 8, hotThreshold = 500L,
          keyCounts = Some(dim.select(col("k"), col("key_n").as("__n"))))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("key_n")).cast("long").as("key_n_sum"))
    },
      """WITH keyed AS (SELECT event_id, event_type,
           CASE WHEN value < 400 THEN event_type
                ELSE event_type || '#' || CAST(event_id % 997 AS VARCHAR)
           END AS k
           FROM events),
         dim AS (SELECT k, count(*) AS key_n FROM keyed GROUP BY k)
         SELECT keyed.event_type, count(*) AS n_rows,
           CAST(sum(dim.key_n) AS BIGINT) AS key_n_sum
         FROM keyed JOIN dim ON keyed.k = dim.k
         GROUP BY keyed.event_type"""),

    Query("j7_interval_overlap", { (s, dir) =>
      // interval-overlap join of two derived band tables (nation 25 x
      // region 5, overlapping spans) — banded equi composition vs the
      // raw inequality oracle
      val nb = t(s, dir, "nation").select(col("n_nationkey"),
        (col("n_nationkey") * 18).cast("double").as("n_lo"),
        (col("n_nationkey") * 18 + 35).cast("double").as("n_hi"))
      val rb = t(s, dir, "region").select(col("r_regionkey"),
        (col("r_regionkey") * 90).cast("double").as("r_lo"),
        (col("r_regionkey") * 90 + 120).cast("double").as("r_hi"))
      RangeJoin.intervalOverlap(nb, "n_lo", "n_hi", rb, "r_lo", "r_hi",
          binWidth = 64)
        .select(col("n_nationkey"), col("r_regionkey"))
    },
      """WITH nb AS (SELECT n_nationkey,
           CAST(n_nationkey * 18 AS DOUBLE) AS n_lo,
           CAST(n_nationkey * 18 + 35 AS DOUBLE) AS n_hi FROM nation),
         rb AS (SELECT r_regionkey,
           CAST(r_regionkey * 90 AS DOUBLE) AS r_lo,
           CAST(r_regionkey * 90 + 120 AS DOUBLE) AS r_hi FROM region)
         SELECT nb.n_nationkey, rb.r_regionkey
         FROM nb JOIN rb ON nb.n_lo <= rb.r_hi AND rb.r_lo <= nb.n_hi"""),

    Query("validate_documents", { (s, dir) =>
      // Deequ-shaped ingest gate: 8 declared expectations, ONE aggregate
      // pass (+ a broadcast dim join for the referential rule). The tight
      // n_chars band is deliberately failing so the checker exercises a
      // nonzero violation count, not just all-green rows.
      Validate.check(t(s, dir, "documents"), Seq(
        Validate.NotNull("text_not_null", "text"),
        Validate.Unique("doc_id_unique", Seq("doc_id")),
        Validate.InRange("n_chars_range", "n_chars", 1L, 100000L),
        Validate.InRange("n_chars_tight", "n_chars", 1L, 300L),
        Validate.OneOf("lang_allowed", "lang",
          Seq("en", "de", "fr", "es", "zh")),
        Validate.Matches("source_format", "source", "^src[0-9]+$"),
        Validate.Predicate("n_chars_consistent",
          col("n_chars") === length(col("text"))),
        Validate.RefIn("doc_has_embedding", "doc_id",
          t(s, dir, "embeddings"), "vec_id"),
        Validate.RowCountBetween("row_count_min", 100L, Long.MaxValue)))
    },
      """WITH m AS (
           SELECT count(*) AS n_rows,
             sum(CASE WHEN d.text IS NULL THEN 1 ELSE 0 END) AS v_text,
             count(CASE WHEN d.doc_id IS NOT NULL THEN 1 END)
               - count(DISTINCT d.doc_id) AS v_uni,
             sum(CASE WHEN d.n_chars IS NOT NULL
               AND (d.n_chars < 1 OR d.n_chars > 100000) THEN 1 ELSE 0 END) AS v_range,
             sum(CASE WHEN d.n_chars IS NOT NULL
               AND (d.n_chars < 1 OR d.n_chars > 300) THEN 1 ELSE 0 END) AS v_tight,
             sum(CASE WHEN d.lang IS NOT NULL
               AND d.lang NOT IN ('en','de','fr','es','zh') THEN 1 ELSE 0 END) AS v_lang,
             sum(CASE WHEN d.source IS NOT NULL
               AND NOT regexp_matches(d.source, '^src[0-9]+$') THEN 1 ELSE 0 END) AS v_src,
             sum(CASE WHEN NOT COALESCE(d.n_chars = length(d.text), FALSE)
               THEN 1 ELSE 0 END) AS v_len,
             sum(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NULL
               THEN 1 ELSE 0 END) AS v_ref
           FROM documents d
           LEFT JOIN (SELECT DISTINCT vec_id FROM embeddings) e
             ON d.doc_id = e.vec_id)
         SELECT 'text_not_null' AS rule, CAST(v_text AS BIGINT) AS metric,
           CAST(v_text AS BIGINT) AS n_violations,
           CAST(v_text = 0 AS INT) AS pass FROM m
         UNION ALL SELECT 'doc_id_unique', CAST(v_uni AS BIGINT),
           CAST(v_uni AS BIGINT), CAST(v_uni = 0 AS INT) FROM m
         UNION ALL SELECT 'n_chars_range', CAST(v_range AS BIGINT),
           CAST(v_range AS BIGINT), CAST(v_range = 0 AS INT) FROM m
         UNION ALL SELECT 'n_chars_tight', CAST(v_tight AS BIGINT),
           CAST(v_tight AS BIGINT), CAST(v_tight = 0 AS INT) FROM m
         UNION ALL SELECT 'lang_allowed', CAST(v_lang AS BIGINT),
           CAST(v_lang AS BIGINT), CAST(v_lang = 0 AS INT) FROM m
         UNION ALL SELECT 'source_format', CAST(v_src AS BIGINT),
           CAST(v_src AS BIGINT), CAST(v_src = 0 AS INT) FROM m
         UNION ALL SELECT 'n_chars_consistent', CAST(v_len AS BIGINT),
           CAST(v_len AS BIGINT), CAST(v_len = 0 AS INT) FROM m
         UNION ALL SELECT 'doc_has_embedding', CAST(v_ref AS BIGINT),
           CAST(v_ref AS BIGINT), CAST(v_ref = 0 AS INT) FROM m
         UNION ALL SELECT 'row_count_min', CAST(n_rows AS BIGINT),
           CAST(CASE WHEN n_rows >= 100 THEN 0 ELSE 1 END AS BIGINT),
           CAST(n_rows >= 100 AS INT) FROM m"""),

    Query("j3_fuzzy_match_scale", { (s, dir) =>
      // the 100 TB twin of j3: PassJoin segment signatures make the
      // candidate set EXACT for lev ≤ 4 (FuzzyJoin.selfPairsExact) while
      // staying an equi hash join — O(k²) keys per row instead of
      // O(|block|²) comparisons — so the oracle is the plain blocked
      // all-pairs lev band, hash-checked. (The deletion-neighborhood
      // variant with its 98.6% recall contract remains the
      // f12_similarity_scale path.)
      // banded DP: levenshtein(a, b, 4) early-exits rows whose distance
      // exceeds the threshold (returns -1) — O(k·n) per pair instead of
      // O(n²), and the verify is the dominant cost on ~10⁶ candidates
      FuzzyJoin.selfPairsExact(t(s, dir, "part"), "p_partkey", "p_name",
          k = 4, blockCols = Seq("p_brand"))((a, b) => levenshtein(a, b, 4) >= 0)
        .select(col("i").as("k1"), col("j").as("k2"),
          levenshtein(col("str_i"), col("str_j"), 4).as("dist"))
    },
      """SELECT a.p_partkey AS k1, b.p_partkey AS k2,
           levenshtein(a.p_name, b.p_name) AS dist
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
         WHERE levenshtein(a.p_name, b.p_name) <= 4"""),

    Query("j3_fuzzy_match_cross", { (s, dir) =>
      // cross-table twin of j3_fuzzy_match_scale: probe rows matched to
      // a DIMENSION under the same exact PassJoin candidates
      // (FuzzyJoin.pairsExact) — the reference's title-lookup-against-
      // an-index shape (pubmed_enrichment.py:270-296) at the 100 TB
      // plan: equi hash join on segment keys, banded-lev verify, never
      // probe×dim all-pairs. Split of part by key parity stands in for
      // the two tables; oracle is the blocked cross all-pairs band.
      val p = t(s, dir, "part")
      FuzzyJoin.pairsExact(p.filter(col("p_partkey") % 2 === 0),
          "p_partkey", "p_name",
          p.filter(col("p_partkey") % 2 === 1), "p_partkey", "p_name",
          k = 4, blockCols = Seq("p_brand"))((a, b) => levenshtein(a, b, 4) >= 0)
        .select(col("i").as("k1"), col("j").as("k2"),
          levenshtein(col("str_i"), col("str_j"), 4).as("dist"))
    },
      """SELECT a.p_partkey AS k1, b.p_partkey AS k2,
           levenshtein(a.p_name, b.p_name) AS dist
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand
          AND a.p_partkey % 2 = 0 AND b.p_partkey % 2 = 1
         WHERE levenshtein(a.p_name, b.p_name) <= 4""")
  )
}
