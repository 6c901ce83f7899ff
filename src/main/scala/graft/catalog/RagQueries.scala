package graft
package catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.{Vectors, Chunker, TfIdfEmbed, Sampling, Quantize, Retrieval}
import graft.SparkEntry.oracleAuxDir
import Shared._

/** Scale extensions: retrieval (RAG), approximate nearest neighbours and embeddings. */
private[graft] object RagQueries {

  val queries: Seq[Query] = Seq(

    Query("rag_chunk_documents", { (s, dir) =>
      // RAG chunking (north star): 64-token windows, stride 48
      Chunker.chunkByTokens(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "text", size = 64, stride = 48)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
    },
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, toks,
           unnest(range(0, greatest(CAST(ceil(len(toks)*1.0/48) AS INT), 1))) AS i
           FROM t)
         SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           array_to_string(list_slice(toks, CAST(i*48+1 AS INT), CAST(i*48+64 AS INT)), ' ') AS chunk_text
         FROM c"""),

    Query("ann_bruteforce_topk", { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Vectors.annBruteForceTopK(e.filter(col("vec_id") < 8), e,
        "vec_id", "vec_id", "embedding", "embedding", k = 5)
    },
      """SELECT qid, cid, rk FROM (
           SELECT q.vec_id AS qid, e.vec_id AS cid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                        e.vec_id) AS rk
           FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
           WHERE q.vec_id < 8)
         WHERE rk <= 5"""),

    Query("ann_filtered_topk", { (s, dir) =>
      // attribute-FILTERED vector search (the "top-k among docs matching
      // a metadata predicate" RAG query): the filter applies to the
      // corpus BEFORE scoring — pre-filtering, exact under the predicate,
      // never the post-filter top-k that silently under-returns. With the
      // IVF path the same predicate lands on the cell-partitioned
      // assigned table and prunes inside probed cells.
      val e = t(s, dir, "embeddings")
      Vectors.annBruteForceTopK(e.filter(col("vec_id") < 8),
        e.filter(col("label") % 2 === 0),
        "vec_id", "vec_id", "embedding", "embedding", k = 5)
    },
      """SELECT qid, cid, rk FROM (
           SELECT q.vec_id AS qid, e.vec_id AS cid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                        e.vec_id) AS rk
           FROM embeddings q
           JOIN (SELECT * FROM embeddings WHERE label % 2 = 0) e
             ON q.vec_id <> e.vec_id
           WHERE q.vec_id < 8)
         WHERE rk <= 5"""),

    Query("ann_quantized_topk", { (s, dir) =>
      // ANN over the int8-quantized index: scores run against q·s
      // reconstructions (1 byte/dim in flight instead of 4) — the memory
      // story for a 100 TB embedding matrix; same rank/tie-break contract
      // as ann_bruteforce_topk, oracle recomputes the codes exactly
      val rec = Quantize.dequantize(t(s, dir, "embeddings"), "vec_id", "embedding")
      Vectors.annBruteForceTopK(rec.filter(col("vec_id") < 8), rec,
        "vec_id", "vec_id", "recon", "recon", k = 5)
    },
      """WITH e AS (SELECT vec_id,
           generate_subscripts(embedding, 1) AS dim,
           unnest(embedding) AS x FROM embeddings),
         sc AS (SELECT dim, CAST(max(abs(x)) AS DOUBLE) / 127.0 AS s
           FROM e GROUP BY dim),
         rec AS (SELECT vec_id,
           list(CASE WHEN s = 0 THEN 0.0
             ELSE floor(CAST(x AS DOUBLE) / s + 0.5) * s END
             ORDER BY e.dim) AS v
           FROM e JOIN sc ON e.dim = sc.dim GROUP BY vec_id)
         SELECT qid, cid, rk FROM (
           SELECT q.vec_id AS qid, c.vec_id AS cid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rk
           FROM rec q JOIN rec c ON q.vec_id <> c.vec_id
           WHERE q.vec_id < 8)
         WHERE rk <= 5"""),

    Query("ann_lsh_bucketed", { (s, dir) =>
      // oracle-checked: the hyperplanes are seed-fixed constants, so the
      // DuckDB side recomputes the same sign-pattern buckets from literal
      // plane values (generated below in lshPlaneSql; bucket parity
      // verified 500/500 at sf0.01 before wiring)
      val e = t(s, dir, "embeddings")
      Vectors.annLshTopK(e.filter(col("vec_id") < 8), e,
        "vec_id", "vec_id", "embedding", "embedding", k = 5)
    },
      s"""WITH b AS (SELECT vec_id, embedding, $lshPlaneSql AS bucket
           FROM embeddings)
         SELECT qid, cid, rk FROM (
           SELECT q.vec_id AS qid, e.vec_id AS cid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                        e.vec_id) AS rk
           FROM b q JOIN b e ON q.bucket = e.bucket AND q.vec_id <> e.vec_id
           WHERE q.vec_id < 8)
         WHERE rk <= 5"""),

    Query("ann_knn_graph", { (s, dir) =>
      // corpus self-kNN graph (every doc's 3 nearest neighbors) over the
      // LSH bucket path — the input to graph clustering / dataset
      // cartography. Queries ARE the corpus: the bucket equi-join keeps
      // the pair stream bounded, never all-pairs. nPlanes stays at the
      // oracle's 4 (16 buckets) for this corpus size; at scale raise it
      // so 2^nPlanes ≫ shuffle parallelism — bucket count IS the join's
      // key cardinality, and 16 keys would serialize a 1000-executor
      // shuffle (the op takes nPlanes for exactly this dial).
      val e = t(s, dir, "embeddings")
      Vectors.annLshTopK(e, e, "vec_id", "vec_id", "embedding", "embedding",
        k = 3)
    },
      s"""WITH b AS (SELECT vec_id, embedding, $lshPlaneSql AS bucket
           FROM embeddings)
         SELECT qid, cid, rk FROM (
           SELECT q.vec_id AS qid, e.vec_id AS cid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                        e.vec_id) AS rk
           FROM b q JOIN b e ON q.bucket = e.bucket AND q.vec_id <> e.vec_id)
         WHERE rk <= 3"""),

    Query("ann_recall_eval", { (s, dir) =>
      // the ANN evaluation loop, driver-checked: recall@5 of the
      // hyperplane-LSH result against the brute-force exact result per
      // query — the number that tunes nPlanes/nProbe before anyone
      // trusts an approximate index. One equi join + tiny aggregate.
      val e = t(s, dir, "embeddings")
      val exact = Vectors.annBruteForceTopK(e.filter(col("vec_id") < 8), e,
        "vec_id", "vec_id", "embedding", "embedding", k = 5)
      val approx = Vectors.annLshTopK(e.filter(col("vec_id") < 8), e,
        "vec_id", "vec_id", "embedding", "embedding", k = 5)
      Vectors.recallAtK(approx, exact, "qid", "cid", k = 5)
    },
      s"""WITH b AS (SELECT vec_id, embedding, $lshPlaneSql AS bucket
           FROM embeddings),
         approx AS (SELECT qid, cid FROM (
           SELECT q.vec_id AS qid, e.vec_id AS cid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                        e.vec_id) AS rk
           FROM b q JOIN b e ON q.bucket = e.bucket AND q.vec_id <> e.vec_id
           WHERE q.vec_id < 8)
         WHERE rk <= 5),
         exact AS (SELECT qid, cid FROM (
           SELECT q.vec_id AS qid, e.vec_id AS cid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                        e.vec_id) AS rk
           FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
           WHERE q.vec_id < 8)
         WHERE rk <= 5)
         SELECT e.qid, CAST(count(a.cid) AS BIGINT) AS n_hits,
           CAST(count(a.cid) AS DOUBLE) / 5 AS recall
         FROM exact e LEFT JOIN approx a ON e.qid = a.qid AND e.cid = a.cid
         GROUP BY e.qid"""),

    Query("ann_pq_topk", { (s, dir) =>
      // oracle: DuckDB replays encode/ADC/refine against the exported
      // codebook (writeOracleAux); fit determinism pinned in VectorsSpec.
      // ANN over the product-quantized index — m bytes per vector in the
      // scan (32× below float32) with ADC scoring straight off the codes.
      val e = t(s, dir, "embeddings")
      val idx = Quantize.pqFit(e, "vec_id", "embedding")
      val coded = Quantize.pqEncode(e, "vec_id", "embedding", idx)
      Quantize.annPqRefineTopK(e.filter(col("vec_id") < 8), coded, e, idx,
        "vec_id", "vec_id", "embedding", "embedding", k = 5, rerank = 50)
    },
      s"""WITH $pqReconSql,
         cand AS (
           SELECT qid, cid FROM (
             SELECT q.vec_id AS qid, r.vec_id AS cid,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_inner_product(CAST(q.embedding AS DOUBLE[]), r.rv) /
                   (sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) *
                    sqrt(list_inner_product(r.rv, r.rv))) DESC, r.vec_id) AS rr
             FROM embeddings q JOIN recon r ON r.vec_id <> q.vec_id
             WHERE q.vec_id < 8)
           WHERE rr <= 50)
         ${refineSql(5)}"""),

    Query("ann_ivf_topk", { (s, dir) =>
      // oracle: DuckDB replays probe routing + exact ranking against the
      // exported centroid/assignment tables (writeOracleAux).
      // Probes a PREBUILT index (built+saved once per corpus dir, loaded
      // thereafter) — the production contract: the quantizer is an
      // offline artifact like a bucketed table, not a per-query fit.
      val e = t(s, dir, "embeddings")
      Vectors.annIvfTopK(e.filter(col("vec_id") < 8), ivfIndexFor(s, dir),
        "vec_id", "embedding", k = 5, nProbe = 4, pruneFiles = true)
    },
      // ── ANN index-replay oracles (aux model artifacts from writeOracleAux):
      // probe routing, cell membership, PQ encode/ADC, and the exact refine
      // are all replayed in DuckDB against the exported centroids/codebook.
      s"""WITH ${probedCellsSql(4)}
         SELECT qid, cid, rk FROM (
           SELECT p.qid, a.cid,
             row_number() OVER (PARTITION BY p.qid
               ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, a.cid) AS rk
           FROM probed p
           JOIN $auxAssigned a ON a.cell = p.cell
           JOIN embeddings q ON q.vec_id = p.qid
           JOIN embeddings e ON e.vec_id = a.cid
           WHERE a.cid <> p.qid)
         WHERE rk <= 5"""),

    Query("ann_incremental_ingest", { (s, dir) =>
      // incremental vector ingest (oracle replays the batch assignment
      // + probe arithmetic, like ann_ivf_topk): the
      // saved quantizer + the 90% corpus slice's saved assignment stand,
      // the new 10% batch is assigned to the EXISTING centroids and
      // unioned in — no refit, no corpus reshuffle. Queries then probe
      // the merged index; recall/assignment semantics pinned in
      // VectorsSpec ("ivfIngest" tests).
      val full = ivfIndexFor(s, dir)
      val corpusSlice = graft.ops.Vectors.IvfIndex(full.centroids,
        full.assigned.filter(col("cid") % 10 =!= 0))
      val batch = t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
      val merged = Vectors.ivfIngest(corpusSlice, batch, "vec_id", "embedding")
      Vectors.annIvfTopK(t(s, dir, "embeddings").filter(col("vec_id") < 8),
        merged, "vec_id", "embedding", k = 5, nProbe = 4, pruneFiles = false)
    },
      s"""WITH merged AS (
           SELECT cid, cell FROM $auxAssigned WHERE cid % 10 <> 0
           UNION ALL
           SELECT b.vec_id AS cid,
             (SELECT c.cell FROM $auxCentroids c
               ORDER BY list_distance(CAST(b.embedding AS DOUBLE[]), c.centroid), c.cell
               LIMIT 1) AS cell
           FROM embeddings b WHERE b.vec_id % 10 = 0),
         ${probedCellsSql(4)}
         SELECT qid, cid, rk FROM (
           SELECT p.qid, a.cid,
             row_number() OVER (PARTITION BY p.qid
               ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, a.cid) AS rk
           FROM probed p
           JOIN merged a ON a.cell = p.cell
           JOIN embeddings q ON q.vec_id = p.qid
           JOIN embeddings e ON e.vec_id = a.cid
           WHERE a.cid <> p.qid)
         WHERE rk <= 5"""),

    Query("embed_quantize_int8", { (s, dir) =>
      // int8 scalar quantization of the embedding matrix (4x memory cut
      // for ANN at scale); exploded (vec_id, dim, q, resid_milli) output
      Quantize.int8Codes(t(s, dir, "embeddings"), "vec_id", "embedding")
    },
      """WITH e AS (SELECT vec_id,
           generate_subscripts(embedding, 1) - 1 AS dim,
           unnest(embedding) AS x FROM embeddings),
         sc AS (SELECT dim, CAST(max(abs(x)) AS DOUBLE) / 127.0 AS s
           FROM e GROUP BY dim)
         SELECT vec_id, e.dim,
           CAST(CASE WHEN s = 0 THEN 0
             ELSE floor(CAST(x AS DOUBLE) / s + 0.5) END AS BIGINT) AS q,
           CAST(floor(1000 * abs(CAST(x AS DOUBLE) -
             (CASE WHEN s = 0 THEN 0
              ELSE floor(CAST(x AS DOUBLE) / s + 0.5) END) * s))
             AS BIGINT) AS resid_milli
         FROM e JOIN sc ON e.dim = sc.dim"""),

    Query("rag_chunk_paragraphs", { (s, dir) =>
      // paragraph-aware chunking: the documents text is a flat token
      // stream (no sentence punctuation), so paragraph breaks are
      // injected after every literal " table " occurrence — frequent in
      // the generator vocabulary — then whole paragraphs pack into
      // 64-token-budget chunks
      val p = t(s, dir, "documents").select(col("doc_id"),
        replace(col("text"), lit(" table "), lit(" table\n\n")).as("ptext"))
      Chunker.chunkByParagraphs(p, "ptext", maxTokens = 64)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
    },
      """WITH t AS (SELECT doc_id,
           string_split_regex(
             replace(text, ' table ', ' table' || chr(10) || chr(10)),
             '\n{2,}') AS ps0
           FROM documents),
         f AS (SELECT doc_id,
           list_filter(list_transform(ps0, x -> trim(x)), x -> length(x) > 0) AS ps
           FROM t),
         e AS (SELECT doc_id, ps, CAST(unnest(range(1, len(ps) + 1)) AS INT) AS pos FROM f),
         c AS (SELECT doc_id, pos, ps[pos] AS para,
           len(string_split_regex(ps[pos], '\s+')) AS ntok FROM e),
         w AS (SELECT doc_id, pos, para,
           COALESCE(sum(ntok) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           FROM c)
         SELECT doc_id, CAST(floor(off / 64) AS INT) AS chunk_idx,
           string_agg(para, chr(10) || chr(10) ORDER BY pos) AS chunk_text
         FROM w GROUP BY doc_id, CAST(floor(off / 64) AS INT)"""),

    Query("rag_tfidf_embed", { (s, dir) =>
      // MLlib hashing-TF/IDF embeddings, emitted as exact per-dimension
      // integer micro-units (scalar columns — raw float arrays crash the
      // driver's pandas sort). The hash mapping (term→bucket) and the
      // fitted IDF vector are the exported artifacts (writeOracleAux);
      // the oracle replays bucketed TF counting, IDF scaling, the
      // ordered L2 normalization and the float downcast — every step
      // IEEE-deterministic, so the micro floor matches bit-for-bit.
      // Unit-norm + ANN-compat contracts pinned in ChunkEmbedSpec.
      TfIdfEmbed.embed(t(s, dir, "documents"), "doc_id", "text", dim = 128)
        .select(col("doc_id"),
          posexplode(col("embedding")).as(Seq("idx", "v")))
        .select(col("doc_id"), col("idx"),
          floor(lit(1000000) * col("v").cast("double")).cast("long")
            .as("v_micro"))
    },
      // TF-IDF embedding replay against the exported hash mapping + IDF
      // weights. The token stream is the exported RegexTokenizer output
      // (tfidf_tokens) — re-tokenizing with DuckDB lower() + RE2 '\s+'
      // could diverge on locale case mappings or \x0B whitespace, so the
      // token layer is artifact, everything downstream (bucketed TF, IDF
      // scaling, ordered L2 norm, float downcast before the micro floor)
      // is replay. All-zero docs keep their unnormalized zeros (the
      // Normalizer's norm=0 branch).
      s"""WITH tok AS (
           SELECT doc_id, term FROM $auxTfidfTokens),
         tf AS (
           SELECT tok.doc_id, tb.idx, CAST(count(*) AS DOUBLE) AS tf
           FROM tok JOIN $auxTfidfBuckets tb USING (term)
           GROUP BY tok.doc_id, tb.idx),
         nz AS (
           SELECT tf.doc_id, tf.idx, tf.tf * i.w AS v
           FROM tf JOIN $auxTfidfIdf i USING (idx)
           WHERE tf.tf * i.w != 0),
         nrm AS (
           SELECT doc_id,
             sqrt(list_inner_product(list(v ORDER BY idx),
                                     list(v ORDER BY idx))) AS nrm
           FROM nz GROUP BY doc_id),
         grid AS (
           SELECT d.doc_id, u.idx FROM documents d,
             (SELECT unnest(range(128)) AS idx) u),
         outv AS (
           SELECT g.doc_id, g.idx,
             CASE WHEN nrm.nrm IS NULL OR nrm.nrm = 0
               THEN coalesce(nz.v, 0.0)
               ELSE coalesce(nz.v, 0.0) / nrm.nrm END AS vd
           FROM grid g
           LEFT JOIN nz ON nz.doc_id = g.doc_id AND nz.idx = g.idx
           LEFT JOIN nrm ON nrm.doc_id = g.doc_id)
         SELECT doc_id, CAST(idx AS INTEGER) AS idx,
           CAST(floor(1000000 * CAST(CAST(vd AS FLOAT) AS DOUBLE)) AS BIGINT)
             AS v_micro
         FROM outv"""),

    Query("embed_pca", { (s, dir) =>
      // PCA reduction of the embedding matrix to 8 dims (storage /
      // prefilter path). The oracle replays the projection as one inner
      // product per component against the exported signed rotation
      // (writeOracleAux); orthonormality, sign canon, variance ordering,
      // and neighbor preservation are pinned in VectorsSpec.
      Vectors.pcaProject(t(s, dir, "embeddings"), "vec_id", "embedding",
          kDims = 8)
        .withColumnRenamed("id", "vec_id")
    }, {
      val comps = (1 to 8).map { c =>
        s"""CAST(floor(1000 * list_inner_product(CAST(embedding AS DOUBLE[]),
               (SELECT loading FROM $auxPcaRotation WHERE comp = $c))) AS BIGINT) AS pc${c}_milli"""
      }.mkString(",\n           ")
      s"""SELECT vec_id,
           $comps
         FROM embeddings"""
    }),

    Query("rag_bm25_topk", { (s, dir) =>
      // sparse retrieval half of the RAG stack: BM25 top-10 per query,
      // integer micro-unit scores (per-term floor before the doc sum)
      Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        retrievalQueries(s), "qid", "qtext", k = 10)
    },
      s"""$bm25Cte
         SELECT qid, rank, doc_id, score_micro FROM (
           SELECT qid, doc_id, score_micro,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS INT) AS rank
           FROM sc)
         WHERE rank <= 10"""),

    Query("rag_mmr_diversify", { (s, dir) =>
      // retrieve-then-diversify: BM25 top-12 candidates per query, then
      // greedy MMR (λ=0.7, all-integer milli-units, doc_id tie-break)
      // down to 5 — near-dup passages lose to new-evidence passages
      Retrieval.mmrTopK(t(s, dir, "documents"), "doc_id", "text",
        retrievalQueries(s), "qid", "qtext",
        nCand = 12, k = 5, lambdaMilli = 700)
    },
      // the greedy MMR trajectory replayed as a recursive CTE: state = one
      // frontier row per qid carrying the picked list; each round joins
      // the remaining candidates, takes max sim against the picked list,
      // and arg-mins on the (-score, doc_id) key — the exact integer
      // arithmetic and tie-break of Retrieval.mmrDiversify
      s"""${bm25Cte.replace("WITH q(", "WITH RECURSIVE q(")},
         cand AS (SELECT qid, doc_id, score_micro FROM (
             SELECT qid, doc_id, score_micro,
               row_number() OVER (PARTITION BY qid
                 ORDER BY score_micro DESC, doc_id) AS rnk FROM sc)
           WHERE rnk <= 12),
         mx AS (SELECT qid, max(score_micro) AS mxs FROM cand GROUP BY qid),
         rel AS (SELECT c.qid, c.doc_id,
             CASE WHEN mxs > 0 THEN c.score_micro * 1000 // mxs
                  ELSE 0 END AS rel_milli
           FROM cand c JOIN mx USING (qid)),
         ctoks AS (SELECT r.qid, r.doc_id, dt.term
           FROM rel r JOIN dt ON r.doc_id = dt.doc_id),
         sz AS (SELECT qid, doc_id, count(*) AS n FROM ctoks
           GROUP BY qid, doc_id),
         inter AS (SELECT a.qid AS qid, a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS ov
           FROM ctoks a JOIN ctoks b ON a.qid = b.qid AND a.term = b.term
             AND a.doc_id < b.doc_id
           GROUP BY a.qid, a.doc_id, b.doc_id),
         jac0 AS (SELECT i.qid, doc_a, doc_b,
             (1000 * ov) // (sa.n + sb.n - ov) AS sim_milli
           FROM inter i JOIN sz sa ON i.qid = sa.qid AND i.doc_a = sa.doc_id
             JOIN sz sb ON i.qid = sb.qid AND i.doc_b = sb.doc_id),
         jac AS (SELECT qid, doc_a, doc_b, sim_milli FROM jac0
           UNION ALL SELECT qid, doc_b, doc_a, sim_milli FROM jac0),
         st AS (
           SELECT qid, 1 AS step, [doc_id] AS sel_list, doc_id AS picked,
             rel_milli
           FROM (SELECT qid, doc_id, rel_milli,
               row_number() OVER (PARTITION BY qid
                 ORDER BY rel_milli DESC, doc_id) AS rn FROM rel)
           WHERE rn = 1
           UNION ALL
           SELECT qid, step + 1 AS step,
             list_append(sel_list, arg_min(doc_id, ord)) AS sel_list,
             arg_min(doc_id, ord) AS picked,
             arg_min(rel_milli, ord) AS rel_milli
           FROM (
             -- scalar (score desc, doc_id asc) key: score ∈ [-3e5,7e5],
             -- doc_id < 1e10, so (7e5-score)*1e10 + doc_id fits BIGINT
             SELECT qid, step, sel_list, doc_id, rel_milli,
               (700000 - score_mmr) * 10000000000 + doc_id AS ord
             FROM (
               SELECT s.qid, s.step, s.sel_list, r.doc_id, r.rel_milli,
                 700 * r.rel_milli - 300 * coalesce(max(j.sim_milli), 0)
                   AS score_mmr
               FROM st s
               JOIN rel r ON r.qid = s.qid
                 AND NOT list_contains(s.sel_list, r.doc_id)
               LEFT JOIN jac j ON j.qid = s.qid AND j.doc_a = r.doc_id
                 AND list_contains(s.sel_list, j.doc_b)
               WHERE s.step < 5
               GROUP BY s.qid, s.step, s.sel_list, r.doc_id, r.rel_milli))
           GROUP BY qid, step, sel_list)
         SELECT qid, CAST(step AS INT) AS rank, picked AS doc_id, rel_milli
         FROM st"""),

    Query("rag_incremental_index", { (s, dir) =>
      // incremental lexical-index maintenance: a batch of UPDATED docs
      // (doc_id % 7) and NEW docs (doc_id % 11, shifted ids) upserts into
      // the standing docTerms index — only the batch is tokenized, the
      // index never rescans. Ranking over the merged index must equal a
      // full rebuild over the merged corpus (the oracle replays that).
      val docs = t(s, dir, "documents")
      val base = Retrieval.docTerms(docs, "doc_id", "text")
      val batch = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(lit("UPDATED "), col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat(col("text"), lit(" extra spark merge")).as("text")))
      val merged = Retrieval.mergeIndex(base, batch, "doc_id", "text").persist()
      Retrieval.bm25TopKIndexed(merged, retrievalQueries(s), "qid", "qtext",
        k = 10)
    }, {
      // the bm25 CTE re-based onto the merged corpus (updates + inserts)
      val aug =
        """aug AS (
             SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN 'UPDATED ' || text
                 ELSE text END AS text
             FROM documents
             UNION ALL
             SELECT doc_id + 2000000, text || ' extra spark merge'
             FROM documents WHERE doc_id % 11 = 0)"""
      val cte = bm25Cte.replace(
        "FROM documents),",
        "FROM aug),").replace("WITH q(", s"WITH $aug, q(")
      s"""$cte
         SELECT qid, rank, doc_id, score_micro FROM (
           SELECT qid, doc_id, score_micro,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS INT) AS rank
           FROM sc)
         WHERE rank <= 10"""
    }),

    Query("rag_hybrid_rrf", { (s, dir) =>
      // hybrid retrieval: reciprocal-rank fusion of the BM25 ranking with
      // a term-coverage ranking — the fused list is what a RAG app
      // serves. The one-pass form: both rankings come from ONE
      // index ⋈ query-terms aggregate and all three ranking windows
      // share the qid exchange (semantics identical to fusing the two
      // separate top-20 lists; the oracle replays the composed SQL).
      val idx = Retrieval.docTerms(t(s, dir, "documents"), "doc_id", "text")
        .persist()
      Retrieval.hybridRrfTopK(idx, retrievalQueries(s), "qid", "qtext",
        kPer = 20, k = 10)
    },
      s"""$bm25Cte,
         bm AS (SELECT qid, doc_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS INT) AS rank
           FROM sc QUALIFY rank <= 20),
         cov0 AS (SELECT qid, dt.doc_id AS doc_id, any_value(dl) AS dl,
             CAST(count(*) AS BIGINT) AS n_hit
           FROM dt JOIN qt ON dt.term = qt.term GROUP BY qid, dt.doc_id),
         cov AS (SELECT qid, doc_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY n_hit DESC, dl ASC, doc_id ASC) AS INT) AS rank
           FROM cov0 QUALIFY rank <= 20),
         u AS (SELECT qid, doc_id,
             CAST(floor(1e9 / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE))) AS BIGINT) AS rrf_nano
           FROM bm
           UNION ALL
           SELECT qid, doc_id,
             CAST(floor(1e9 / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE))) AS BIGINT) AS rrf_nano
           FROM cov),
         f AS (SELECT qid, doc_id, CAST(sum(rrf_nano) AS BIGINT) AS rrf_nano
           FROM u GROUP BY qid, doc_id)
         SELECT qid, rank, doc_id, rrf_nano FROM (
           SELECT qid, doc_id, rrf_nano,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY rrf_nano DESC, doc_id) AS INT) AS rank
           FROM f)
         WHERE rank <= 10"""),

    Query("ann_ivfpq_topk", { (s, dir) =>
      // FAISS IndexIVFPQ composition — coarse cells route the
      // query, ADC scores the PQ codes inside probed cells, exact cosine
      // re-ranks the rerank survivors; oracle replays the whole chain
      // against the exported centroids + codebook (writeOracleAux)
      val e = t(s, dir, "embeddings")
      val pq = Quantize.pqFit(e, "vec_id", "embedding")
      Quantize.annIvfPqTopK(t(s, dir, "embeddings").filter(col("vec_id") < 8),
        ivfIndexFor(s, dir), pq, "vec_id", "embedding",
        k = 5, nProbe = 4, rerank = 20)
    },
      s"""WITH $pqReconSql,
         ${probedCellsSql(4)},
         cand AS (
           SELECT qid, cid FROM (
             SELECT p.qid, r.vec_id AS cid,
               row_number() OVER (PARTITION BY p.qid ORDER BY
                 list_inner_product(CAST(q.embedding AS DOUBLE[]), r.rv) /
                   (sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) *
                    sqrt(list_inner_product(r.rv, r.rv))) DESC, r.vec_id) AS rr
             FROM probed p
             JOIN $auxAssigned a ON a.cell = p.cell
             JOIN recon r ON r.vec_id = a.cid
             JOIN embeddings q ON q.vec_id = p.qid
             WHERE a.cid <> p.qid)
           WHERE rr <= 20)
         ${refineSql(5)}"""),

    Query("rag_eval_mrr", { (s, dir) =>
      // retrieval evaluation: MRR@10 of the BM25 ranking against a
      // deterministic ground truth (relevant = docs containing EVERY
      // query term) — the tuning-loop scoreboard for k1/b/analyzers
      val (idx, q, relevant) = retrievalGroundTruth(s, dir)
      Retrieval.mrrAtK(
        Retrieval.bm25TopKIndexed(idx, q, "qid", "qtext", k = 10),
        relevant, k = 10, queries = q)
    },
      s"""$bm25Cte,
         bm AS (SELECT qid, doc_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS INT) AS rank
           FROM sc QUALIFY rank <= 10),
         qn AS (SELECT qid, CAST(count(*) AS BIGINT) AS nt
           FROM qt GROUP BY qid),
         rel AS (SELECT h.qid, h.doc_id FROM (
             SELECT qt.qid AS qid, dt.doc_id AS doc_id,
               CAST(count(*) AS BIGINT) AS hit
             FROM dt JOIN qt ON dt.term = qt.term
             GROUP BY qt.qid, dt.doc_id) h
           JOIN qn ON h.qid = qn.qid WHERE h.hit = qn.nt),
         hits AS (SELECT bm.qid, min(rank) AS first_rank,
             CAST(count(*) AS BIGINT) AS n_rel_in_topk
           FROM bm JOIN rel ON bm.qid = rel.qid AND bm.doc_id = rel.doc_id
           GROUP BY bm.qid)
         SELECT u.qid,
           CAST(coalesce(first_rank, 0) AS INT) AS first_rank,
           CAST(coalesce(n_rel_in_topk, 0) AS BIGINT) AS n_rel_in_topk,
           CASE WHEN coalesce(first_rank, 0) > 0
             THEN CAST(floor(1000.0 / CAST(first_rank AS DOUBLE)) AS BIGINT)
             ELSE 0 END AS rr_milli
         FROM (SELECT DISTINCT qid FROM q) u
         LEFT JOIN hits ON u.qid = hits.qid"""),

    Query("rag_hard_negatives", { (s, dir) =>
      // contrastive-training mining: the highest-BM25-ranked docs that
      // are NOT in the judged-relevant set are the hard negatives (the
      // pairs that teach an embedding model the decision boundary).
      // Judgments are sparse in real corpora — here only even doc_ids
      // were "judged" — so the odd top-ranked docs mine as negatives.
      val (idx, q, allRelevant) = retrievalGroundTruth(s, dir)
      val judged = allRelevant.filter(col("doc_id") % 2 === 0)
      // the anti join stays an SMJ on purpose: BOTH sides are bounded
      // (top-10×|Q| vs the judged qrels), so there is no corpus-scale
      // side to protect; an r17 A/B measured the broadcast form SLOWER
      // at sf0.1 (broadcast build serializes the qrel subtree) with no
      // scale upside
      Retrieval.bm25TopKIndexed(idx, q, "qid", "qtext", k = 10)
        .join(judged, Seq("qid", "doc_id"), "left_anti")
        .select("qid", "rank", "doc_id")
    },
      s"""$bm25Cte,
         bm AS (SELECT qid, doc_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS INT) AS rank
           FROM sc QUALIFY rank <= 10),
         qn AS (SELECT qid, CAST(count(*) AS BIGINT) AS nt
           FROM qt GROUP BY qid),
         rel AS (SELECT h.qid, h.doc_id FROM (
             SELECT qt.qid AS qid, dt.doc_id AS doc_id,
               CAST(count(*) AS BIGINT) AS hit
             FROM dt JOIN qt ON dt.term = qt.term
             GROUP BY qt.qid, dt.doc_id) h
           JOIN qn ON h.qid = qn.qid
           WHERE h.hit = qn.nt AND h.doc_id % 2 = 0)
         SELECT bm.qid, bm.rank, bm.doc_id
         FROM bm ANTI JOIN rel ON bm.qid = rel.qid AND bm.doc_id = rel.doc_id"""),

    Query("rag_random_negatives", { (s, dir) =>
      // the uniform-negative companion to hard negatives: per query, 10
      // hash-deterministic corpus docs EXCLUDING both the retrieved
      // top-10 and the FULL relevant set — unlike hard negatives (which
      // deliberately mine the un-judged relevant docs), a random
      // negative drawn from ANY relevant doc is false-negative
      // contamination, so no judged-subset filter here. The hash gate
      // thins the scan×|Q| candidate space to ~8% before the anti-join
      // and window; |Q| is a bounded broadcast batch.
      val (idx, q, allRelevant) = retrievalGroundTruth(s, dir)
      val avoid = Retrieval.bm25TopKIndexed(idx, q, "qid", "qtext", k = 10)
        .select("qid", "doc_id").unionByName(allRelevant).distinct()
      val docs = t(s, dir, "documents")
      val cand = docs.select(col("doc_id"))
        .crossJoin(broadcast(q.select("qid")))
        // one codegen kernel per (qid, doc_id); the oracle replays the
        // equivalent conv(substr(md5(...), 1, 15), 16, 10) in SQL
        .withColumn("__h", graft.expr.sketchFunctions.md5_prefix60(
          concat(col("qid").cast("string"), lit("_"),
            col("doc_id").cast("string"))))
        .filter(col("__h") % 10000 < 800)
        // the anti join plans as a static SortMergeJoin (the avoid set's
        // size ESTIMATE is corpus-derived through the index joins, so a
        // size-gated broadcast hint correctly declines — r17 verified it
        // never fires) but the build side's ACTUAL size is bounded by
        // k·|Q| + qrels, so AQE's runtime stats convert it to a
        // broadcast join; the candidate stream is never sorted at scale
        .join(avoid, Seq("qid", "doc_id"), "left_anti")
      val w = Window.partitionBy("qid").orderBy(col("__h").asc, col("doc_id").asc)
      cand.withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 10)
        .select("qid", "rank", "doc_id")
    },
      // random negatives: hash gate (same md5→UBIGINT pattern as the
      // samplers), avoid = bm25 top-10 ∪ relevant, hash-order take-10
      s"""$bm25Cte,
         bm AS (SELECT qid, doc_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS INT) AS rank
           FROM sc QUALIFY rank <= 10),
         qn AS (SELECT qid, CAST(count(*) AS BIGINT) AS nt
           FROM qt GROUP BY qid),
         rel AS (SELECT h.qid, h.doc_id FROM (
             SELECT qt.qid AS qid, dt.doc_id AS doc_id,
               CAST(count(*) AS BIGINT) AS hit
             FROM dt JOIN qt ON dt.term = qt.term
             GROUP BY qt.qid, dt.doc_id) h
           JOIN qn ON h.qid = qn.qid
           WHERE h.hit = qn.nt),
         avoid AS (SELECT qid, doc_id FROM bm
           UNION SELECT qid, doc_id FROM rel),
         cand AS (SELECT q.qid AS qid, d.doc_id AS doc_id,
             CAST(('0x' || substr(md5(CAST(q.qid AS VARCHAR) || '_' ||
               CAST(d.doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS h
           FROM documents d, q),
         flt AS (SELECT c.qid, c.doc_id, c.h FROM cand c
           ANTI JOIN avoid a ON c.qid = a.qid AND c.doc_id = a.doc_id
           WHERE c.h % 10000 < 800)
         SELECT qid, rank, doc_id FROM (
           SELECT qid, doc_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY h, doc_id) AS INT) AS rank
           FROM flt)
         WHERE rank <= 10"""),

    Query("rag_eval_ndcg", { (s, dir) =>
      // position-discounted retrieval evaluation: NDCG@10 of the BM25
      // ranking against the same all-terms ground truth as rag_eval_mrr
      val (idx, q, relevant) = retrievalGroundTruth(s, dir)
      Retrieval.ndcgAtK(
        Retrieval.bm25TopKIndexed(idx, q, "qid", "qtext", k = 10),
        relevant, k = 10, queries = q)
    },
      s"""$bm25Cte,
         bm AS (SELECT qid, doc_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS INT) AS rank
           FROM sc QUALIFY rank <= 10),
         qn AS (SELECT qid, CAST(count(*) AS BIGINT) AS nt
           FROM qt GROUP BY qid),
         rel AS (SELECT h.qid, h.doc_id FROM (
             SELECT qt.qid AS qid, dt.doc_id AS doc_id,
               CAST(count(*) AS BIGINT) AS hit
             FROM dt JOIN qt ON dt.term = qt.term
             GROUP BY qt.qid, dt.doc_id) h
           JOIN qn ON h.qid = qn.qid WHERE h.hit = qn.nt),
         dcg AS (SELECT bm.qid,
             CAST(sum(CAST(floor(1000000.0 * ln(2.0) /
               ln(CAST(rank + 1 AS DOUBLE))) AS BIGINT)) AS BIGINT)
               AS dcg_micro
           FROM bm JOIN rel ON bm.qid = rel.qid AND bm.doc_id = rel.doc_id
           GROUP BY bm.qid),
         rn AS (SELECT qid, CAST(count(*) AS BIGINT) AS r
           FROM rel GROUP BY qid),
         ideal AS (SELECT qid,
             CAST(sum(CAST(floor(1000000.0 * ln(2.0) /
               ln(CAST(i + 1 AS DOUBLE))) AS BIGINT)) AS BIGINT)
               AS idcg_micro
           FROM (SELECT qid, unnest(range(1, CAST(least(r, 10) AS BIGINT) + 1))
                   AS i FROM rn)
           GROUP BY qid)
         SELECT u.qid,
           CAST(coalesce(dcg_micro, 0) AS BIGINT) AS dcg_micro,
           CAST(coalesce(idcg_micro, 0) AS BIGINT) AS idcg_micro,
           CASE WHEN coalesce(idcg_micro, 0) > 0
             THEN CAST(coalesce(dcg_micro, 0) * 1000 // idcg_micro AS BIGINT)
             ELSE 0 END AS ndcg_milli
         FROM (SELECT DISTINCT qid FROM q) u
         LEFT JOIN dcg ON u.qid = dcg.qid
         LEFT JOIN ideal ON u.qid = ideal.qid"""),

    Query("rag_context_pack", { (s, dir) =>
      // the RAG last mile: pack the BM25 ranking into a 300-token context
      // budget in rank order (whole documents kept while the budget has
      // room — the takeTokenBudget shape, keyed by rank instead of hash);
      // one bounded window over k·|queries| rows
      val docs = t(s, dir, "documents")
      val idx = Retrieval.docTerms(docs, "doc_id", "text").persist()
      val ranked = Retrieval.bm25TopKIndexed(idx, retrievalQueries(s),
        "qid", "qtext", k = 20)
      // token counts come FROM the persisted index (dl is functionally
      // dependent on doc_id) — no second tokenize pass over the corpus
      val withTok = ranked.join(
        idx.select(col("doc_id"), col("dl").cast("long").as("n_tokens"))
          .distinct(),
        Seq("doc_id"))
      Sampling.takeTokenBudgetOrdered(withTok, Seq(col("rank")),
          col("qid"), col("n_tokens"), lit(300))
        .withColumn("cum_before", col("cum_tokens") - col("n_tokens"))
        .select(col("qid"), col("rank"), col("doc_id"),
          col("n_tokens"), col("cum_before"))
    },
      s"""$bm25Cte,
         bm AS (SELECT qid, doc_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS INT) AS rank
           FROM sc QUALIFY rank <= 20),
         tok AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
           FROM documents),
         packed AS (SELECT qid, rank, bm.doc_id AS doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (PARTITION BY qid
               ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS cum_before
           FROM bm JOIN tok ON bm.doc_id = tok.doc_id)
         SELECT qid, rank, doc_id, n_tokens, cum_before
         FROM packed WHERE cum_before < 300"""),

    Query("embed_centroids", { (s, dir) =>
      // per-label embedding centroids in integer milli-units (domain-drift
      // / cluster-quality monitoring; the aggregate IVF's quantizer wants):
      // per-element floor to milli BEFORE the integer sum — engine- and
      // order-exact, same trick as the lm/PMI scores
      val e = t(s, dir, "embeddings")
      e.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("xm", floor(col("x").cast("double") * 1000).cast("long"))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n"), sum(col("xm")).cast("long").as("sum_milli"))
        .withColumn("centroid_milli",
          floor(col("sum_milli").cast("double") / col("n").cast("double"))
            .cast("long"))
    },
      """WITH e AS (SELECT label,
           generate_subscripts(embedding, 1) - 1 AS dim,
           unnest(embedding) AS x FROM embeddings),
         m AS (SELECT label, dim,
           CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS xm FROM e)
         SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(xm) AS BIGINT) AS sum_milli,
           CAST(floor(CAST(sum(xm) AS DOUBLE) / CAST(count(*) AS DOUBLE))
             AS BIGINT) AS centroid_milli
         FROM m GROUP BY label, dim""")
  )

  private def auxCodebook = s"read_parquet('$oracleAuxDir/pq_codebook/*.parquet')"

  private def auxPcaRotation = s"read_parquet('$oracleAuxDir/pca_rotation/*.parquet')"

  private def auxTfidfBuckets = s"read_parquet('$oracleAuxDir/tfidf_buckets/*.parquet')"

  private def auxTfidfIdf = s"read_parquet('$oracleAuxDir/tfidf_idf/*.parquet')"

  private def auxTfidfTokens = s"read_parquet('$oracleAuxDir/tfidf_tokens/*.parquet')"

  /** Shared oracle fragment: the nProbe nearest centroids per query
    * (squared-L2 ascending, centroid index as the stable tie-break —
    * list_distance is the monotone sqrt of the UDF's squared distance,
    * so the ordering is identical). */
  private def probedCellsSql(nProbe: Int): String =
    s"""probed AS (
          SELECT qid, cell FROM (
            SELECT q.vec_id AS qid, c.cell,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), c.centroid), c.cell) AS pr
            FROM embeddings q, $auxCentroids c
            WHERE q.vec_id < 8)
          WHERE pr <= $nProbe)"""

  /** Shared oracle fragment: PQ-encode the corpus against the exported
    * codebook (nearest sub-centroid per subspace, lower code wins ties)
    * and rebuild each reconstruction in subspace order — one flat
    * DOUBLE[] whose left-to-right inner products accumulate in exactly
    * the order the codegen'd pq_adc_dot / pq_recon_norm2 kernels use. */
  private def pqReconSql: String =
    s"""subq AS (
          SELECT e.vec_id, js.j,
            (CAST(e.embedding AS DOUBLE[]))[js.j*8+1 : js.j*8+8] AS sv
          FROM embeddings e, (SELECT unnest(range(8)) AS j) js),
        codes AS (
          SELECT vec_id, j, sub FROM (
            SELECT s.vec_id, s.j, cb.sub,
              row_number() OVER (PARTITION BY s.vec_id, s.j
                ORDER BY list_distance(s.sv, cb.sub), cb.c) AS rn
            FROM subq s JOIN $auxCodebook cb ON cb.j = s.j)
          WHERE rn = 1),
        recon AS (
          SELECT vec_id, flatten(list(sub ORDER BY j)) AS rv
          FROM codes GROUP BY vec_id)"""

  /** Shared oracle fragment: exact-cosine re-rank of a (qid, cid)
    * candidate set to top-k — the DuckDB twin of
    * [[graft.ops.Vectors.exactCosineRefine]]. */
  private def refineSql(k: Int): String =
    s"""SELECT qid, cid, rk FROM (
          SELECT cd.qid, cd.cid,
            row_number() OVER (PARTITION BY cd.qid
              ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, cd.cid) AS rk
          FROM cand cd JOIN embeddings q ON q.vec_id = cd.qid
                       JOIN embeddings e ON e.vec_id = cd.cid)
        WHERE rk <= $k"""

  private lazy val lshPlaneSql: String = planeCaseSql(4, 64, 42L)

  /** Shared BM25 pipeline CTE (DuckDB): the literal query batch, doc-term
    * tf/dl, corpus stats, per-term df, query terms, integer micro-nat idf,
    * per-term floored contributions, per-(query, doc) integer score sums.
    * Arithmetic is spelled operation-for-operation like the Spark plan in
    * [[graft.ops.Retrieval.bm25ScoresIndexed]] — +, ×, / on doubles are exactly
    * rounded so only ln() could diverge (by ≤1 ulp; floor flips are
    * measure-zero and verified empirically at sf0.001/sf0.01). */
  private lazy val bm25Cte: String =
    """WITH q(qid, qtext) AS (VALUES
           (1, 'spark table scan window'), (2, 'customer order join merge'),
           (3, 'vector data stream batch'), (4, 'slow query filter')),
         t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
         dt AS (SELECT doc_id, term, CAST(any_value(dl) AS BIGINT) AS dl,
             CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(w) AS term, len(w) AS dl FROM t)
           GROUP BY doc_id, term),
         corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(w)) AS BIGINT) AS sum_dl FROM t),
         dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df
           FROM dt GROUP BY term),
         qt AS (SELECT qid, unnest(list_distinct(string_split_regex(trim(qtext), '\s+'))) AS term
           FROM q),
         idf AS (SELECT qid, qt.term AS term,
             CAST(floor(1e6 * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)))
               AS BIGINT) AS idf_micro,
             n_docs, sum_dl
           FROM qt JOIN dft ON qt.term = dft.term, corpus),
         contrib AS (SELECT qid, dt.doc_id AS doc_id,
             CAST(floor(CAST(idf_micro AS DOUBLE) *
               (CAST(tf AS DOUBLE) * (1.2 + 1.0)) /
               (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) +
                 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) /
                   CAST(sum_dl AS DOUBLE)))) AS BIGINT) AS c
           FROM dt JOIN idf ON dt.term = idf.term),
         sc AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
           FROM contrib GROUP BY qid, doc_id)"""
}
