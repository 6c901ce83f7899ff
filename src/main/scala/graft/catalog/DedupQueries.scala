package graft
package catalog

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Components, UrlOps}
import graft.SparkEntry.oracleAuxDir
import Shared._

/** Scale extensions: near-duplicate detection and corpus comparison. */
private[graft] object DedupQueries {

  val queries: Seq[Query] = Seq(

    Query("dedup_exact_groups", { (s, dir) =>
      // exact dup detection on a corpus with injected re-ingest dups;
      // the ids array is stringified at the query edge (the driver's
      // pandas sort crashes on array columns) — the array form stays the
      // library API (Dedup.exactDupGroups, DedupSpec)
      val docs = t(s, dir, "documents")
      val doubled = docs.unionByName(docs.filter(col("doc_id") % 3 === 0))
      Dedup.exactDupGroups(doubled, "doc_id", "text")
        .withColumn("ids", array_join(transform(col("ids"), _.cast("string")), ","))
    },
      """WITH doubled AS (
           SELECT * FROM documents
           UNION ALL SELECT * FROM documents WHERE doc_id % 3 = 0)
         SELECT md5(text) AS content_hash, count(*) AS n_dups,
           array_to_string(list_sort(list(doc_id)), ',') AS ids
         FROM doubled GROUP BY md5(text) HAVING count(*) > 1"""),

    Query("dedup_normalized_exact", { (s, dir) =>
      // normalize-then-hash pass: injected mutants (uppercased, doubled
      // spaces, trailing " !!") group with their originals — raw md5
      // (dedup_exact_groups) would miss every one of them
      val docs = t(s, dir, "documents")
      val mutants = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(regexp_replace(upper(col("text")), " ", "  "), lit(" !!"))
            .as("text"))
      Dedup.normalizedDupGroups(
          docs.select("doc_id", "text").unionByName(mutants), "doc_id", "text")
        .withColumn("ids", array_join(transform(col("ids"), _.cast("string")), ","))
    },
      s"""WITH aug AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000,
             regexp_replace(upper(text), ' ', '  ', 'g') || ' !!'
           FROM documents WHERE doc_id % 3 = 0),
         n AS (SELECT doc_id,
             TRIM(regexp_replace(regexp_replace(trim(lower(text),
               $oraPyStripSet), '$oraPyNonWordWs', ' ', 'g'),
               '$oraPyWs+', ' ', 'g')) AS norm
           FROM aug)
         SELECT md5(norm) AS norm_hash, count(*) AS n_dups,
           array_to_string(list_sort(list(doc_id)), ',') AS ids
         FROM n GROUP BY md5(norm) HAVING count(*) > 1"""),

    Query("dedup_ngram_jaccard", { (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        "n_chars", threshold = 0.5)
    },
      """WITH t AS (
           SELECT doc_id, n_chars,
             CASE WHEN len(string_split(text,' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                 i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
             ELSE [] END AS sh,
             CAST(floor(n_chars / 32) AS BIGINT) AS bkt
           FROM documents),
         probe AS (SELECT doc_id AS i, n_chars AS len_i, sh AS sh_i,
           unnest([bkt - 1, bkt, bkt + 1]) AS bkt FROM t)
         SELECT i, j, jac FROM (
           SELECT probe.i, t.doc_id AS j,
             len(list_intersect(probe.sh_i, t.sh)) * 1.0 /
               len(list_distinct(list_concat(probe.sh_i, t.sh))) AS jac
           FROM probe JOIN t ON probe.bkt = t.bkt AND probe.i < t.doc_id
             AND abs(probe.len_i - t.n_chars) <= 20)
         WHERE jac >= 0.5"""),

    Query("dedup_cluster_survivors", { (s, dir) =>
      // the complete near-dup dedup pass, composed end to end: exact
      // blocked-Jaccard pairs → transitive clusters (pointer-jumping
      // components) → ONE deterministic survivor per cluster (longest
      // doc, id tie-break) + cluster size. What ships to training is
      // "survivors ∪ docs with no pairs"; this query outputs the cluster
      // decisions the anti-join would consume.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        "n_chars", threshold = 0.5)
      val comp = Components.connectedComponents(pairs.select("i", "j"))
      val members = comp.join(
        docs.select(col("doc_id").as("node"), col("n_chars")), Seq("node"))
      val surv = Dedup.keepBestPerGroup(members, col("component"),
          Seq(col("n_chars").desc, col("node").asc))
        .select(col("component"), col("node").as("survivor_id"),
          col("n_chars").as("survivor_n_chars"))
      members.groupBy("component").agg(count(lit(1)).as("n_members"))
        .join(surv, Seq("component"))
    },
      """WITH RECURSIVE t AS (
           SELECT doc_id, n_chars,
             CASE WHEN len(string_split(text,' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                 i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
             ELSE [] END AS sh,
             CAST(floor(n_chars / 32) AS BIGINT) AS bkt
           FROM documents),
         probe AS (SELECT doc_id AS i, n_chars AS len_i, sh AS sh_i,
           unnest([bkt - 1, bkt, bkt + 1]) AS bkt FROM t),
         pr AS (SELECT i, j FROM (
           SELECT probe.i, t.doc_id AS j,
             len(list_intersect(probe.sh_i, t.sh)) * 1.0 /
               len(list_distinct(list_concat(probe.sh_i, t.sh))) AS jac
           FROM probe JOIN t ON probe.bkt = t.bkt AND probe.i < t.doc_id
             AND abs(probe.len_i - t.n_chars) <= 20)
           WHERE jac >= 0.5),
         sym AS (SELECT i AS a, j AS b FROM pr UNION SELECT j, i FROM pr),
         cc(node, label) AS (
           SELECT a, a FROM sym
           UNION
           SELECT s.a, cc.label FROM sym s JOIN cc ON s.b = cc.node),
         comp AS (SELECT node, min(label) AS component FROM cc GROUP BY node),
         m AS (SELECT comp.node, comp.component, d.n_chars
           FROM comp JOIN documents d ON comp.node = d.doc_id),
         rk AS (SELECT component, node, n_chars,
             row_number() OVER (PARTITION BY component
               ORDER BY n_chars DESC, node ASC) AS r
           FROM m),
         sz AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members
           FROM m GROUP BY component)
         SELECT sz.component, sz.n_members, rk.node AS survivor_id,
           CAST(rk.n_chars AS BIGINT) AS survivor_n_chars
         FROM sz JOIN rk ON sz.component = rk.component AND rk.r = 1"""),

    Query("dedup_minhash_lsh", { (s, dir) =>
      // oracle-checked against ALL-PAIRS exact jaccard ≥ 0.5: banding is
      // hash-seeded, but its output equals the exact answer whenever
      // recall is structurally 1 — on this data every qualifying pair
      // sits at jac ≥ 0.9 (verified before wiring), where the 16×4
      // banding miss probability is ≤ 1e-24. DedupSpec pins the same
      // equality at sf0.001.
      Dedup.minHashNearDups(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5)
    },
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN len(string_split(text,' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                 i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
             ELSE [] END AS sh
           FROM documents)
         SELECT i, j, jac FROM (
           SELECT a.doc_id AS i, b.doc_id AS j,
             len(list_intersect(a.sh, b.sh)) * 1.0 /
               len(list_distinct(list_concat(a.sh, b.sh))) AS jac
           FROM t a JOIN t b ON a.doc_id < b.doc_id)
         WHERE jac >= 0.5"""),

    Query("dedup_simhash", { (s, dir) =>
      Dedup.simHashNearDups(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 6)
    },
      // the 64-bit sketch is the exported index artifact (per-row kernel,
      // goldens in SketchesSpec); the oracle replays the QUERY arithmetic —
      // 16-bit chunk banding and the hamming verify — in SQL (`>>` is
      // arithmetic in DuckDB vs Spark's shiftrightunsigned, but the & 65535
      // mask keeps only the shifted-in-window bits, so the chunks agree)
      s"""WITH sh AS (SELECT doc_id, sh FROM $auxSimhash),
         cand AS (
           SELECT a.doc_id AS i, b.doc_id AS j, a.sh AS sa, b.sh AS sb
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE ((a.sh >> 0) & 65535) = ((b.sh >> 0) & 65535)
              OR ((a.sh >> 16) & 65535) = ((b.sh >> 16) & 65535)
              OR ((a.sh >> 32) & 65535) = ((b.sh >> 32) & 65535)
              OR ((a.sh >> 48) & 65535) = ((b.sh >> 48) & 65535))
         SELECT i, j, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
         FROM cand WHERE bit_count(xor(sa, sb)) <= 6"""),

    Query("dedup_winnow_overlap", { (s, dir) =>
      // MOSS-style near-dup pairs: >= 3 shared winnowed fingerprints
      // (verbatim 16-char runs), boilerplate hashes df-capped; the
      // oracle replays selection + df cap + pair count over the
      // exported per-position gram hashes (same aux as text_fingerprint)
      Dedup.winnowOverlapPairs(t(s, dir, "documents"), "doc_id", "text",
        minShared = 3L, maxDf = 50,
        assumeUniqueIds = true) // doc_id is the table's key
    },
      // winnowing-overlap pairs: the same selection replay as
      // text_fingerprint, then distinct per-doc fingerprints, the df cap,
      // and the shared-count pair join
      s"""WITH g AS (SELECT doc_id, pos, h FROM $auxGramHashes WHERE pos >= 0),
         n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
         win AS (SELECT g.doc_id, g.pos AS wi
                 FROM g JOIN n USING (doc_id) WHERE g.pos + 8 <= n.n),
         sel AS (
           SELECT doc_id, wi, pos, h FROM (
             SELECT w.doc_id, w.wi, g.pos, g.h,
               row_number() OVER (PARTITION BY w.doc_id, w.wi
                 ORDER BY g.h ASC, g.pos DESC) AS rn
             FROM win w JOIN g ON g.doc_id = w.doc_id
                              AND g.pos BETWEEN w.wi AND w.wi + 7)
           WHERE rn = 1),
         runs AS (
           SELECT doc_id, wi, pos, h,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY wi) AS prev_pos
           FROM sel),
         fp AS (
           SELECT DISTINCT doc_id, h FROM (
             SELECT doc_id, h FROM runs
             WHERE prev_pos IS NULL OR prev_pos <> pos
             UNION ALL
             SELECT doc_id, h FROM $auxGramHashes WHERE pos = -1)),
         keep AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 50),
         fk AS (SELECT fp.doc_id, fp.h FROM fp JOIN keep USING (h))
         SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS n_shared
         FROM fk a JOIN fk b ON a.h = b.h AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 3"""),

    Query("dedup_incremental_index_build", { (s, dir) =>
      // the BUILD half of incremental LSH dedup, benched separately from
      // the probe (the r7 single entry conflated one-time index
      // construction with the steady-state batch cost the operator
      // exists to make cheap): unconditionally re-sketches the corpus
      // slice and persists it (content-keyed path), returning the
      // indexed-row count. Oracle: a doc sketches iff it has ≥ 3
      // space-split tokens (shingleK = 3) — same tokenization the
      // hash-green probe oracle replays.
      val idx = minHashIndexFor(s, dir, force = true)
      idx.sketches.agg(count(lit(1)).as("n_indexed"))
    },
      // a doc sketches iff it has >= 3 space-split tokens (shingleK = 3) —
      // the same tokenization the probe oracle below replays
      """SELECT count(*) AS n_indexed FROM documents
         WHERE doc_id % 10 <> 0 AND len(string_split(text, ' ')) >= 3"""),

    Query("dedup_incremental_lsh", { (s, dir) =>
      // the PROBE half: the corpus index is an offline artifact (loaded
      // sketch rows, built at most once per corpus content — see
      // minHashIndexFor); only the new batch (doc_id % 10 = 0) is
      // sketched, its band rows broadcast against the index, the corpus
      // never re-shuffles. Oracle = exact cross-split jaccard: every
      // qualifying crossing pair sits at jac ≥ 0.95 at sf0.01 (≥ 0.90 at
      // sf0.001), where 16×4 banding recall is structurally 1 (miss
      // prob ≤ 1e-7).
      val idx = minHashIndexFor(s, dir)
      Dedup.minHashDedupeAgainst(idx,
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text", threshold = 0.5)
    },
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN len(string_split(text,' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                 i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
             ELSE [] END AS sh
           FROM documents)
         SELECT batch_id, corpus_id, jac FROM (
           SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
             len(list_intersect(b.sh, c.sh)) * 1.0 /
               len(list_distinct(list_concat(b.sh, c.sh))) AS jac
           FROM t b JOIN t c ON b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0)
         WHERE jac >= 0.5"""),

    Query("dedup_embedding_cosine", { (s, dir) =>
      // EXACT cosine near-dups of a bounded probe batch (vec_id < 64 —
      // the ann_bruteforce_topk bound) against the full corpus: one
      // linear scan, probe broadcast. The former declared form — the
      // full-corpus exhaustive pair join — is Θ(n²) in OUTPUT alone
      // (qualifying pairs measure a constant ~5e-4 of ALL pairs on this
      // clustered corpus: 66/124750 at sf0.001, 920/2M at sf0.1), so no
      // engine could hold it sub-quadratic; it remains the oracle shape
      // in DedupSpec (equality vs this query on the probe slice) and
      // the recall reference for dedup_embedding_lsh, which is the
      // declared full-corpus route.
      val e = t(s, dir, "embeddings")
      Dedup.embeddingNearDupsAgainst(e.filter(col("vec_id") < 64), e,
        "vec_id", "embedding", threshold = 0.4)
    },
      """SELECT a.vec_id AS i, b.vec_id AS j
         FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         WHERE a.vec_id < 64
           AND list_cosine_similarity(a.embedding, b.embedding) >= 0.4"""),

    Query("dedup_embedding_lsh", { (s, dir) =>
      // oracle-checked: the default multi-table hyperplane-LSH candidate
      // path — the oracle recomputes all 8 seed-shifted bucket tables
      // from literal plane values and applies the same cosine verify
      Dedup.embeddingNearDups(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4)
    },
      s"""WITH banded AS ($embLshBandedSql)
         SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
         FROM banded a JOIN banded b
           ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4"""),

    Query("dedup_semantic", { (s, dir) =>
      // SemDeDup (Abbas et al. 2023): k-means cells block the pair join,
      // each semantic-dup group keeps its lowest-centroid-cosine member.
      // Runs off the SAVED quantizer (shared with ann_ivf_topk — the
      // fit is an offline artifact, a dedup run never refits). Oracle:
      // DuckDB replays the whole chain against the exported index —
      // within-cell cosine pairs, WITH RECURSIVE min-id components, the
      // centroid-cosine keep rule. Group membership / recall-vs-exact
      // also pinned in DedupSpec.
      Dedup.semanticDedup(ivfIndexFor(s, dir), threshold = 0.4)
    },
      s"""WITH RECURSIVE emb AS (
           SELECT a.cid, a.cell, CAST(e.embedding AS DOUBLE[]) AS v,
             sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) AS n
           FROM $auxAssigned a JOIN embeddings e ON e.vec_id = a.cid),
         pairs AS (
           SELECT x.cid AS i, y.cid AS j
           FROM emb x JOIN emb y ON x.cell = y.cell AND x.cid < y.cid
           WHERE list_inner_product(x.v, y.v) / (x.n * y.n) >= 0.4),
         edges AS (SELECT i AS a, j AS b FROM pairs UNION ALL SELECT j, i FROM pairs),
         nodes AS (SELECT i AS node FROM pairs UNION SELECT j FROM pairs),
         r(node, m) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT e.a, r.m FROM r JOIN edges e ON e.b = r.node),
         grp AS (SELECT node, min(m) AS g FROM r GROUP BY node),
         cen AS (SELECT cell, centroid,
             sqrt(list_inner_product(centroid, centroid)) AS cn
           FROM $auxCentroids),
         scored AS (
           SELECT grp.node, emb.cell, grp.g,
             CAST(floor(1000 * list_inner_product(emb.v, cen.centroid) / (emb.n * cen.cn)) AS BIGINT)
               AS centroid_cos_milli
           FROM grp JOIN emb ON emb.cid = grp.node
                    JOIN cen ON cen.cell = emb.cell)
         SELECT node AS id, cell, g AS "group", centroid_cos_milli,
           (row_number() OVER (PARTITION BY g ORDER BY centroid_cos_milli, node) = 1) AS keep
         FROM scored"""),

    Query("dedup_degree_stats", { (s, dir) =>
      // per-doc duplication degree: neighbor count + strongest tie from
      // the exact pair list — "how duplicated is this document" as a
      // quality signal (heavily-mirrored docs get down-weighted)
      val pairs = Dedup.prefixJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", tNum = 1L, tDen = 2L, shingleK = 3)
      // one explode instead of unionByName of two projections: the union
      // duplicates the whole pair-join subtree in the plan, so the
      // expensive candidate+verify stages ran twice
      pairs.select(explode(array(
          struct(col("i").as("doc_id"), col("jac_milli")),
          struct(col("j").as("doc_id"), col("jac_milli")))).as("e"))
        .select(col("e.doc_id").as("doc_id"), col("e.jac_milli").as("jac_milli"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_neighbors"),
          max("jac_milli").as("max_jac_milli"))
    },
      """WITH t AS (SELECT doc_id AS id,
           CASE WHEN len(string_split(text,' ')) >= 3 THEN
             list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
           ELSE [] END AS sh
           FROM documents),
         b AS (SELECT id, sh, len(sh) AS n FROM t WHERE len(sh) > 0),
         g AS (SELECT id, n, unnest(sh) AS gram FROM b),
         d AS (SELECT gram, count(*) AS gdf FROM g GROUP BY gram),
         r AS (SELECT g.id, g.n, g.gram,
             row_number() OVER (PARTITION BY g.id
               ORDER BY d.gdf ASC, g.gram ASC) AS rk
           FROM g JOIN d USING (gram)),
         p AS (SELECT id, gram FROM r
           WHERE rk <= n - ((1 * n + 2 - 1) // 2) + 1),
         c AS (SELECT DISTINCT a.id AS i, b2.id AS j
           FROM p a JOIN p b2 ON a.gram = b2.gram AND a.id < b2.id),
         v AS (SELECT c.i, c.j,
             CAST(len(list_intersect(bi.sh, bj.sh)) AS BIGINT) AS inter,
             CAST(bi.n + bj.n - len(list_intersect(bi.sh, bj.sh)) AS BIGINT)
               AS uni
           FROM c JOIN b bi ON bi.id = c.i JOIN b bj ON bj.id = c.j),
         pr AS (SELECT i, j, CAST(inter * 1000 // uni AS BIGINT) AS jac_milli
           FROM v WHERE inter * 2 >= 1 * uni),
         sym AS (SELECT i AS doc_id, jac_milli FROM pr
                 UNION ALL SELECT j, jac_milli FROM pr)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_neighbors,
           max(jac_milli) AS max_jac_milli
         FROM sym GROUP BY doc_id"""),

    Query("dedup_source_matrix", { (s, dir) =>
      // provenance audit: near-dup PAIR counts rolled up by (source_i,
      // source_j) — which sources duplicate which; pairs from the exact
      // prefix join, source labels via two broadcast-sized joins
      val docs = t(s, dir, "documents")
      val pairs = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
        tNum = 1L, tDen = 2L, shingleK = 3)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("i"), col("source").as("src_i")), Seq("i"))
        .join(src.select(col("doc_id").as("j"), col("source").as("src_j")), Seq("j"))
        .groupBy(least(col("src_i"), col("src_j")).as("src_a"),
          greatest(col("src_i"), col("src_j")).as("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
    },
      """WITH t AS (SELECT doc_id AS id,
           CASE WHEN len(string_split(text,' ')) >= 3 THEN
             list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
           ELSE [] END AS sh
           FROM documents),
         b AS (SELECT id, sh, len(sh) AS n FROM t WHERE len(sh) > 0),
         g AS (SELECT id, n, unnest(sh) AS gram FROM b),
         d AS (SELECT gram, count(*) AS gdf FROM g GROUP BY gram),
         r AS (SELECT g.id, g.n, g.gram,
             row_number() OVER (PARTITION BY g.id
               ORDER BY d.gdf ASC, g.gram ASC) AS rk
           FROM g JOIN d USING (gram)),
         p AS (SELECT id, gram FROM r
           WHERE rk <= n - ((1 * n + 2 - 1) // 2) + 1),
         c AS (SELECT DISTINCT a.id AS i, b2.id AS j
           FROM p a JOIN p b2 ON a.gram = b2.gram AND a.id < b2.id),
         v AS (SELECT c.i, c.j,
             CAST(len(list_intersect(bi.sh, bj.sh)) AS BIGINT) AS inter,
             CAST(bi.n + bj.n - len(list_intersect(bi.sh, bj.sh)) AS BIGINT)
               AS uni
           FROM c JOIN b bi ON bi.id = c.i JOIN b bj ON bj.id = c.j),
         pr AS (SELECT i, j FROM v WHERE inter * 2 >= 1 * uni)
         SELECT least(di.source, dj.source) AS src_a,
           greatest(di.source, dj.source) AS src_b,
           CAST(count(*) AS BIGINT) AS n_pairs
         FROM pr
         JOIN documents di ON di.doc_id = pr.i
         JOIN documents dj ON dj.doc_id = pr.j
         GROUP BY 1, 2"""),

    Query("dedup_prefix_jaccard", { (s, dir) =>
      // exact set-similarity join (AllPairs/PPJoin prefix filter) at
      // jaccard ≥ 1/2 — recall 1.0 by construction, no length banding;
      // the engines rank prefixes differently but verify identically
      Dedup.prefixJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        tNum = 1L, tDen = 2L, shingleK = 3)
    },
      """WITH t AS (SELECT doc_id AS id,
           CASE WHEN len(string_split(text,' ')) >= 3 THEN
             list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
           ELSE [] END AS sh
           FROM documents),
         b AS (SELECT id, sh, len(sh) AS n FROM t WHERE len(sh) > 0),
         g AS (SELECT id, n, unnest(sh) AS gram FROM b),
         d AS (SELECT gram, count(*) AS gdf FROM g GROUP BY gram),
         r AS (SELECT g.id, g.n, g.gram,
             row_number() OVER (PARTITION BY g.id
               ORDER BY d.gdf ASC, g.gram ASC) AS rk
           FROM g JOIN d USING (gram)),
         p AS (SELECT id, gram FROM r
           WHERE rk <= n - ((1 * n + 2 - 1) // 2) + 1),
         c AS (SELECT DISTINCT a.id AS i, b2.id AS j
           FROM p a JOIN p b2 ON a.gram = b2.gram AND a.id < b2.id),
         v AS (SELECT c.i, c.j,
             CAST(len(list_intersect(bi.sh, bj.sh)) AS BIGINT) AS inter,
             CAST(bi.n + bj.n - len(list_intersect(bi.sh, bj.sh)) AS BIGINT)
               AS uni
           FROM c JOIN b bi ON bi.id = c.i JOIN b bj ON bj.id = c.j)
         SELECT i, j, CAST(inter * 1000 // uni AS BIGINT) AS jac_milli
         FROM v WHERE inter * 2 >= 1 * uni"""),

    Query("dedup_containment", { (s, dir) =>
      // asymmetric quote/subsumption detection: overlap coefficient over
      // df-capped shingles — the pairs symmetric Jaccard can't see
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        simMilliMin = 800L, shingleK = 3, maxDf = 50)
    },
      """WITH t AS (SELECT doc_id,
           CASE WHEN len(string_split(text,' ')) >= 3 THEN
             list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
           ELSE [] END AS sh
           FROM documents),
         gr AS (SELECT doc_id AS id, unnest(sh) AS gram FROM t),
         d AS (SELECT gram, count(*) AS df FROM gr GROUP BY gram),
         r AS (SELECT gr.id, gr.gram FROM gr JOIN d USING (gram)
               WHERE d.df <= 50),
         s AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM r GROUP BY id),
         p AS (SELECT a.id AS i, b.id AS j, CAST(count(*) AS BIGINT) AS n_shared
               FROM r a JOIN r b ON a.gram = b.gram AND a.id < b.id
               GROUP BY a.id, b.id)
         SELECT i, j, si.sz AS sz_i, sj.sz AS sz_j, n_shared,
           CAST(n_shared * 1000 // least(si.sz, sj.sz) AS BIGINT)
             AS containment_milli
         FROM p JOIN s si ON si.id = p.i JOIN s sj ON sj.id = p.j
         WHERE n_shared * 1000 // least(si.sz, sj.sz) >= 800"""),

    Query("dedup_components", { (s, dir) =>
      // connected components over chain edges (consecutive events per
      // user): hundreds-of-hops paths exercise the pointer-jumping
      // convergence; component = min event_id of the user's chain. The
      // oracle is DuckDB's recursive CTE computing the same fixpoint.
      val e = events(s, dir).filter(col("event_id") < 2000)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
      val edges = e.select(col("event_id").as("i"),
          lead("event_id", 1).over(w).as("j"))
        .filter(col("j").isNotNull)
      Components.connectedComponents(edges)
    },
      """WITH RECURSIVE
         e AS (SELECT event_id, user_id FROM events WHERE event_id < 2000),
         edges AS (SELECT event_id AS i,
             lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS j
           FROM e),
         sym AS (SELECT i AS a, j AS b FROM edges WHERE j IS NOT NULL
                 UNION
                 SELECT j, i FROM edges WHERE j IS NOT NULL),
         cc(node, label) AS (
           SELECT a, a FROM sym
           UNION
           SELECT s.a, cc.label FROM sym s JOIN cc ON s.b = cc.node)
         SELECT node, min(label) AS component FROM cc GROUP BY node"""),

    Query("dedup_cross_corpus", { (s, dir) =>
      // near-dup DEcontamination (the fuzzy twin of text_contamination):
      // every 50th doc plays the benchmark; emit benchmark↔corpus
      // near-dup pairs. Decontamination is asymmetric by nature, and
      // round 9 paid for ignoring that: it computed ALL corpus×corpus
      // pairs and filtered to the 2% benchmark crossing (21× at 10×
      // data). Now only the benchmark side is indexed
      // (Dedup.ngramJaccardAcross) and the corpus probes it — candidates
      // are linear in true matches; output contract and hash unchanged.
      val docs = t(s, dir, "documents")
      Dedup.ngramJaccardAcross(
          probe = docs.filter(col("doc_id") % 50 =!= 0),
          build = docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", "n_chars", threshold = 0.5)
        .select(col("build_id").as("bench_id"),
          col("probe_id").as("corpus_id"), col("jac"))
    },
      """WITH t AS (
           SELECT doc_id, n_chars,
             CASE WHEN len(string_split(text,' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                 i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
             ELSE [] END AS sh,
             CAST(floor(n_chars / 32) AS BIGINT) AS bkt
           FROM documents),
         probe AS (SELECT doc_id AS i, n_chars AS len_i, sh AS sh_i,
           unnest([bkt - 1, bkt, bkt + 1]) AS bkt FROM t),
         pairs AS (SELECT i, j, jac FROM (
           SELECT probe.i, t.doc_id AS j,
             len(list_intersect(probe.sh_i, t.sh)) * 1.0 /
               len(list_distinct(list_concat(probe.sh_i, t.sh))) AS jac
           FROM probe JOIN t ON probe.bkt = t.bkt AND probe.i < t.doc_id
             AND abs(probe.len_i - t.n_chars) <= 20)
         WHERE jac >= 0.5)
         SELECT CASE WHEN i % 50 = 0 THEN i ELSE j END AS bench_id,
           CASE WHEN i % 50 = 0 THEN j ELSE i END AS corpus_id, jac
         FROM pairs WHERE (i % 50 = 0) <> (j % 50 = 0)"""),

    Query("corpus_overlap", { (s, dir) =>
      // inter-source overlap matrix: the share of each source's distinct
      // 3-gram vocabulary that appears in every other source — corpus-
      // level contamination analysis. Distinct (source, shingle) pairs,
      // one self-equi-join on the shingle, two hash aggregates.
      val docs = t(s, dir, "documents")
      // materialized once (eager, serialized): sh feeds both self-join
      // sides AND the totals aggregate — left lazy, the corpus is
      // shingle-tokenized three times (3 scans measured at sf0.1)
      val sh = docs.select(col("source"),
        explode(Dedup.tokenShingles(col("text"), 3)).as("sh")).distinct()
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val shared = sh.select(col("source").as("src_a"), col("sh"))
        .join(sh.select(col("source").as("src_b"), col("sh")), Seq("sh"))
        .filter(col("src_a") =!= col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
      val totals = sh.groupBy(col("source").as("src_a"))
        .agg(count(lit(1)).as("n_total"))
      shared.join(totals, Seq("src_a"))
        .select(col("src_a"), col("src_b"), col("n_shared"), col("n_total"),
          (col("n_shared").cast("double") / col("n_total").cast("double")).as("overlap"))
    },
      """WITH w AS (SELECT source, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT DISTINCT source, unnest(
             CASE WHEN len(w) >= 3 THEN
               list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
             ELSE [] END) AS sh
           FROM w),
         tot AS (SELECT source AS src_a, count(*) AS n_total FROM sh GROUP BY 1),
         shared AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
           FROM sh a JOIN sh b USING (sh)
           WHERE a.source <> b.source GROUP BY 1, 2)
         SELECT src_a, src_b, n_shared, n_total,
           CAST(n_shared AS DOUBLE) / CAST(n_total AS DOUBLE) AS overlap
         FROM shared JOIN tot USING (src_a)"""),

    Query("dedup_token_blocks", { (s, dir) =>
      // C4-style exact span dedup: 20-token blocks, first corpus occurrence
      // survives, documents reassembled from surviving blocks
      Dedup.dedupTokenBlocks(t(s, dir, "documents"), "doc_id", "text", 20)
    },
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
         e AS (SELECT doc_id, unnest(w) AS tok,
           generate_subscripts(w, 1) AS idx FROM t),
         b AS (SELECT doc_id, CAST((idx - 1) // 20 AS INT) AS block_idx,
           string_agg(tok, ' ' ORDER BY idx) AS block
           FROM e GROUP BY doc_id, block_idx),
         k AS (SELECT doc_id, block_idx, block,
           (row_number() OVER (PARTITION BY block
             ORDER BY doc_id, block_idx) = 1) AS keep
           FROM b)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN keep THEN block END, ' '
             ORDER BY block_idx), '') AS text_deduped
         FROM k GROUP BY doc_id"""),

    Query("dedup_url", { (s, dir) =>
      // URL-exact dedup on the canonical spelling: re-crawls of the same
      // address group; survivor = earliest id, n_dups = re-crawl count
      val raw = t(s, dir, "documents").select(col("doc_id"),
        rawUrlVariants.as("url"))
      UrlOps.dedupByUrl(raw, "url", "doc_id")
    },
      s"""WITH raw AS (SELECT doc_id, $urlVariantSql AS url FROM documents),
         $urlCanonCte
         SELECT canonical AS canonical_url, min(doc_id) AS survivor_id,
           CAST(count(*) AS BIGINT) AS n_dups
         FROM canon GROUP BY canonical"""),

    Query("dedup_boilerplate_blocks", { (s, dir) =>
      // CCNet/RefinedWeb template strip: a 10-token block in MORE THAN 3
      // documents is boilerplate and vanishes from every document
      // (including the first — no "original" worth keeping), unlike the
      // keep-first rule above. Injected near-dup clusters make real
      // boilerplate blocks exist at sf0.01.
      Dedup.stripBoilerplateBlocks(t(s, dir, "documents"), "doc_id", "text",
        blockTokens = 10, maxDocs = 3)
    },
      // same block CTE as dedup_token_blocks at width 10; the keep rule is
      // a df-threshold NOT IN against the (tiny) boilerplate set instead
      // of first-occurrence
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
         e AS (SELECT doc_id, unnest(w) AS tok,
           generate_subscripts(w, 1) AS idx FROM t),
         b AS (SELECT doc_id, CAST((idx - 1) // 10 AS INT) AS block_idx,
           string_agg(tok, ' ' ORDER BY idx) AS block
           FROM e GROUP BY doc_id, block_idx),
         boiler AS (SELECT block FROM b
           GROUP BY block HAVING count(DISTINCT doc_id) > 3),
         k AS (SELECT doc_id, block_idx, block,
           block NOT IN (SELECT block FROM boiler) AS keep FROM b)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN keep THEN block END, ' '
             ORDER BY block_idx), '') AS text_clean
         FROM k GROUP BY doc_id"""),

    Query("dedup_span_coverage", { (s, dir) =>
      // Lee et al. duplicated-span coverage: fraction of each document's
      // tokens inside an exact 20-token span occurring elsewhere in the
      // corpus at ANY alignment; islands window merges overlapping spans
      Dedup.spanDupCoverage(t(s, dir, "documents"), "doc_id", "text", 20)
    },
      """WITH tk AS (SELECT doc_id,
           string_split_regex(trim(text), '\s+') AS w,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS dl
           FROM documents),
         g AS (SELECT doc_id, dl, CAST(i AS BIGINT) AS pos,
             md5(array_to_string(w[i:i+19], ' ')) AS gram
           FROM (SELECT doc_id, dl, w,
               CAST(unnest(range(1, CAST(dl AS INT) - 18)) AS INT) AS i
             FROM tk WHERE dl >= 20)),
         d AS (SELECT doc_id, pos FROM (
             SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS c
             FROM g) WHERE c > 1),
         i1 AS (SELECT doc_id, pos,
             max(pos + 19) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           FROM d),
         i2 AS (SELECT doc_id, pos,
             sum(CASE WHEN pm IS NULL OR pos > pm THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
           FROM i1),
         isl AS (SELECT doc_id, isl,
             max(pos) + 19 - min(pos) + 1 AS len
           FROM i2 GROUP BY doc_id, isl),
         cov AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS covered
           FROM isl GROUP BY doc_id)
         SELECT tk.doc_id, dl,
           CAST(coalesce(covered, 0) AS BIGINT) AS covered,
           CAST(floor(1000 * CAST(coalesce(covered, 0) AS DOUBLE) /
             CAST(dl AS DOUBLE)) AS BIGINT) AS dup_frac_milli
         FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id"""),

    Query("corpus_diff", { (s, dir) =>
      // dataset-version CDC: a deterministic synthetic prior snapshot
      // (10% of ids absent → added; ids ending in 1 truncated → changed;
      // a shifted-id slice present only in old → removed) diffed against
      // the current corpus — one hash-only full-outer join
      val docs = t(s, dir, "documents")
      val prior = docs.filter(col("doc_id") % 10 =!= 0)
        .withColumn("text", when(col("doc_id") % 10 === 1,
          substring(col("text"), 1, 10)).otherwise(col("text")))
        .unionAll(docs.filter(col("doc_id") % 10 === 9)
          .withColumn("doc_id", col("doc_id") + 1000000))
      graft.ops.Incremental.snapshotDiff(prior, docs, "doc_id", "text")
    },
      """WITH prior AS (
           SELECT doc_id,
             CASE WHEN doc_id % 10 = 1 THEN substr(text, 1, 10)
                  ELSE text END AS text
           FROM documents WHERE doc_id % 10 <> 0
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text
           FROM documents WHERE doc_id % 10 = 9),
         o AS (SELECT doc_id, md5(text) AS oh FROM prior),
         n AS (SELECT doc_id, md5(text) AS nh FROM documents)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN oh <> nh THEN 'changed' END AS change_type
         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
         WHERE (CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN oh <> nh THEN 'changed' END) IS NOT NULL""")
  )

  private def auxSimhash = s"read_parquet('$oracleAuxDir/simhash/*.parquet')"

  /** The 8 seed-shifted tables of [[Dedup.embeddingNearDups]]'s default
    * LSH path, as a UNION ALL of per-table bucket selects.
    *
    * VALIDITY DOMAIN: this replays the FIXED 8-plane × 8-table
    * construction, which is the engine's output exactly when the
    * occupancy gate is idle — n ≤ targetBucketOccupancy·2^nPlanes =
    * 16,384 embeddings at the defaults. Every driver-shipped SF sits
    * far below it (500 rows at the sf0.01 verify SF, 2,000 at sf0.1).
    * Above the gate the engine grows planes (and tables, holding
    * recall — see the embeddingNearDups scaladoc) from the MEASURED
    * corpus size, which a static SQL string cannot replay; the
    * above-gate behavior is spec-verified instead (DedupSpec: precision
    * vs the exhaustive baseline, twin recall, below-gate invariance). */
  private lazy val embLshBandedSql: String =
    (0 until 8).map { t =>
      s"SELECT vec_id, embedding, $t AS tbl, ${planeCaseSql(8, 64, 42L + t)} AS bkt FROM embeddings"
    }.mkString(" UNION ALL ")
}
