package graft
package catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.{Fingerprint, Dedup, TextAnalysis, Sampling, Tagging, UrlOps}
import Shared._

/** Scale extensions: curation, sampling, mixing, splits, packing and privacy. */
private[graft] object CurationQueries {

  val queries: Seq[Query] = Seq(

    Query("mix_temperature", { (s, dir) =>
      // T=2 source balancing: sampling weights ∝ sqrt(token count) —
      // sqrt is the one exactly-rounded power, so weights hash-match
      Sampling.temperatureWeights(t(s, dir, "documents"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long"))
    },
      """WITH s AS (SELECT source AS stratum,
             CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS n_units
           FROM documents GROUP BY source),
         m AS (SELECT stratum, n_units,
             CAST(floor(1000000.0 * sqrt(CAST(n_units AS DOUBLE))) AS BIGINT)
               AS mm
           FROM s),
         t AS (SELECT CAST(sum(mm) AS BIGINT) AS tot FROM m)
         SELECT stratum, n_units,
           CAST(mm * 1000 // tot AS BIGINT) AS weight_milli
         FROM m, t"""),

    Query("privacy_k_anonymity", { (s, dir) =>
      // k-anonymity audit over the (lang, source) quasi-identifier:
      // group sizes hover around k=5 at sf0.01, so both flag values are
      // exercised and hash-checked
      graft.ops.Privacy.kAnonymity(t(s, dir, "documents"),
        Seq("lang", "source"), k = 5L)
    },
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) < 5 AS INT) AS at_risk
         FROM documents GROUP BY lang, source"""),

    Query("privacy_l_diversity", { (s, dir) =>
      // the homogeneity-attack companion to the k audit: ≥ l distinct
      // sensitive values (n_chars century bucket as the sensitive proxy)
      // per (lang, source) group; 37/97 groups trip at l=3 at sf0.01, so
      // both flag values are hash-checked
      graft.ops.Privacy.lDiversity(t(s, dir, "documents"),
        Seq("lang", "source"), expr("n_chars div 100"), l = 3L)
    },
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT n_chars // 100) AS BIGINT) AS n_sensitive,
           CAST(count(DISTINCT n_chars // 100) < 3 AS INT) AS at_risk
         FROM documents GROUP BY lang, source"""),

    Query("privacy_suppressed", { (s, dir) =>
      // suppression enforcement: rows in sub-k QI groups dropped (one
      // window shuffle, no join), survivors rolled up per lang
      graft.ops.Privacy.suppressSmallGroups(t(s, dir, "documents"),
          Seq("lang", "source"), k = 5L)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    },
      """WITH g AS (SELECT lang,
             count(*) OVER (PARTITION BY lang, source) AS ks
           FROM documents)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_kept
         FROM g WHERE ks >= 5 GROUP BY lang"""),

    Query("sample_stratified", { (s, dir) =>
      // deterministic per-source Bernoulli sample: src0 half, src1 none,
      // src2 full, everything else 25% — pure pushed-down filter
      val docs = t(s, dir, "documents")
      Sampling.stratifiedSample(docs.select("doc_id", "source"),
        col("doc_id").cast("string"), col("source"),
        Map("src0" -> 5000, "src1" -> 0, "src2" -> 10000),
        defaultPerMyriad = 2500)
    },
      """SELECT doc_id, source FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 10000
           < CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 0
                         WHEN 'src2' THEN 10000 ELSE 2500 END"""),

    Query("mix_domains", { (s, dir) =>
      // training-mix epochs: src0 seen 2.5x, src1 0.25x, default 1x —
      // hash-deterministic fractional replication, exploded per epoch
      val docs = t(s, dir, "documents")
      Sampling.mixEpochs(docs.select("doc_id", "source"),
        col("doc_id").cast("string"), col("source"),
        Map("src0" -> 2.5, "src1" -> 0.25), defaultWeight = 1.0)
    },
      """WITH b AS (SELECT doc_id, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 10000 AS bucket
           FROM documents),
         n AS (SELECT doc_id, source,
             CASE source
               WHEN 'src0' THEN 2 + CASE WHEN bucket < 5000 THEN 1 ELSE 0 END
               WHEN 'src1' THEN 0 + CASE WHEN bucket < 2500 THEN 1 ELSE 0 END
               ELSE 1 END AS n
           FROM b)
         SELECT doc_id, source, unnest(range(1, n + 1)) AS epoch
         FROM n WHERE n > 0"""),

    Query("shuffle_shards", { (s, dir) =>
      // deterministic global shuffle as 8 hash shards with in-shard
      // positions — one shuffle on the shard key, no global sort
      Sampling.shuffleShards(t(s, dir, "documents").select("doc_id"),
        col("doc_id").cast("string"), nShards = 8)
    },
      """SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h) AS BIGINT) AS pos
         FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 8 AS BIGINT) AS shard
           FROM documents)"""),

    Query("mix_reweight", { (s, dir) =>
      // mixture correction: importance weights steering the observed
      // source mix toward an explicit target (src1* strata targeted at
      // 30 milli-shares, the rest at 70), clamped to [200, 5000] with
      // the clamp flagged — rare strata must not explode
      val docs = t(s, dir, "documents")
      val targets = docs.select(col("source")).distinct()
        .withColumn("target_milli",
          when(col("source").startsWith("src1"), lit(30L)).otherwise(lit(70L)))
      Sampling.reweightToTarget(docs, "source", targets, "target_milli",
        minMilli = 200L, maxMilli = 5000L)
    },
      // reweight replay: counts, total, target CASE, integer weight and
      // clamp arithmetic
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY source),
         tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS N FROM c),
         w AS (SELECT source, n_docs,
             1000 * n_docs // N AS share_milli,
             (CASE WHEN source LIKE 'src1%' THEN 30 ELSE 70 END) * N
               // n_docs AS wraw
           FROM c, tot)
         SELECT source, n_docs, CAST(share_milli AS BIGINT) AS share_milli,
           CAST(least(greatest(wraw, 200), 5000) AS BIGINT) AS weight_milli,
           CAST(wraw <> least(greatest(wraw, 200), 5000) AS INT) AS clamped
         FROM w"""),

    Query("mix_token_budget", { (s, dir) =>
      // token-budget mixing: take ~20k tokens (n_chars as the proxy)
      // per source in deterministic hash order, keeping whole documents
      Sampling.takeTokenBudget(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          col("doc_id").cast("string"), col("source"), col("n_chars"),
          lit(20000))
        .select("doc_id", "source", "n_chars", "cum_tokens")
    },
      """WITH c AS (SELECT doc_id, source, n_chars,
             CAST(sum(n_chars) OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR))
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
           FROM documents)
         SELECT doc_id, source, n_chars, cum_tokens FROM c
         WHERE cum_tokens - n_chars < 20000"""),

    Query("sample_per_group", { (s, dir) =>
      // deterministic 7-per-source sample: md5-ranked reservoir inside
      // each stratum — stable across runs, one shuffle on the stratum
      Sampling.samplePerStratum(
        t(s, dir, "documents").select("doc_id", "source"),
        col("doc_id").cast("string"), col("source"), n = 7)
    },
      """SELECT doc_id, source FROM (
           SELECT doc_id, source, row_number() OVER
             (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
           FROM documents)
         WHERE rk <= 7"""),

    Query("sample_split", { (s, dir) =>
      // hash-deterministic 5%/5% test/val split, rolled up per source —
      // every row's split is a pure function of its key (leakage-proof
      // across re-runs); emitted per-row then aggregated for the check
      Sampling.assignSplit(t(s, dir, "documents"),
          col("doc_id").cast("string"), testPerMyriad = 500, valPerMyriad = 500)
        .groupBy("source", "split").agg(count(lit(1)).as("n"))
    },
      """WITH b AS (SELECT source,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 10000 AS bucket
           FROM documents)
         SELECT source,
           CASE WHEN bucket < 500 THEN 'test'
                WHEN bucket < 1000 THEN 'val'
                ELSE 'train' END AS split,
           count(*) AS n
         FROM b GROUP BY 1, 2"""),

    Query("sample_weighted", { (s, dir) =>
      // quality-proportional retention: each doc's keep probability IS
      // its quality score (q_score% → per-myriad), decided by the same
      // cross-engine key hash as every sampler here — a filter, no RNG
      val scored = t(s, dir, "documents").select(
        col("doc_id") +: TextAnalysis.qualityScore(col("text")): _*)
      Sampling.weightedSample(scored, col("doc_id").cast("string"),
          col("q_score") * 100)
        .select("doc_id", "q_score")
    },
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, tk -> list_contains(
             ['the','a','of','and','to','in','is','it','on','for'], tk))) AS n_stop
           FROM t),
         q AS (SELECT doc_id,
           CAST(floor(100 * (0.7 * (CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
             0.3 * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)))) AS BIGINT) AS q_score
           FROM c)
         SELECT doc_id, q_score FROM q
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 10000
           < q_score * 100"""),

    Query("sample_dsir", { (s, dir) =>
      // DSIR (Xie et al. 2023): hashed unigram+bigram importance weights
      // of every doc against the src0 slice as the target distribution,
      // then a Gumbel top-k resample (P(keep) ∝ exp(w)) — deterministic
      // end to end, oracle replays buckets, milli-quantized log-ratios,
      // and the Gumbel keys exactly
      val d = t(s, dir, "documents")
      val w = Sampling.dsirWeights(d, col("doc_id"), col("text"),
        col("source") === "src0")
      Sampling.dsirResample(w, "id", "w_milli", k = 125)
        .select(col("id").as("doc_id"), col("w_milli"), col("key_milli"),
          col("kept"))
    },
      """WITH t AS (SELECT doc_id, source,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         f AS (SELECT doc_id, source,
           list_concat(toks, list_transform(range(1, len(toks)),
             i -> toks[i] || ' ' || toks[i+1])) AS feats
           FROM t),
         ex AS (SELECT doc_id, source, unnest(feats) AS tok FROM f),
         exb AS (SELECT doc_id, source, substr(md5(tok), 1, 3) AS bkt FROM ex),
         st AS (SELECT bkt,
             sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
             count(*) AS cr
           FROM exb GROUP BY bkt),
         tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
             CAST(sum(cr) AS BIGINT) AS nr FROM st),
         lr AS (SELECT bkt,
             CAST(floor(1000 * (ln((ct + 1.0) / (nt + 4096.0)) -
               ln((cr + 1.0) / (nr + 4096.0)))) AS BIGINT) AS lr_milli
           FROM st, tot),
         w AS (SELECT doc_id, CAST(sum(lr_milli) AS BIGINT) AS w_milli
           FROM exb JOIN lr USING (bkt) GROUP BY doc_id),
         keyed AS (SELECT doc_id, w_milli,
             w_milli + CAST(floor(1000 * -ln(-ln(
               (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS UBIGINT) % 10000000 + 0.5) / 10000000.0)))
               AS BIGINT) AS key_milli
           FROM w),
         r AS (SELECT doc_id, w_milli, key_milli,
             row_number() OVER (ORDER BY key_milli DESC, doc_id ASC) AS rk
           FROM keyed)
         SELECT doc_id, w_milli, key_milli, rk <= 125 AS kept FROM r"""),

    Query("split_decontaminated", { (s, dir) =>
      // split hygiene end-to-end: hash-deterministic split, then every
      // train doc near-dupping (3-gram jaccard ≥ 0.5) a held-out doc is
      // re-labeled train_contaminated — the eval set stays unseen even
      // through paraphrases. Pair detection rides the blocked jaccard
      // candidate path; this stage is two broadcast joins.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        "n_chars", threshold = 0.5)
      Sampling.decontaminateSplit(
          Sampling.assignSplit(docs, col("doc_id").cast("string"),
            testPerMyriad = 500, valPerMyriad = 500),
          col("doc_id"), pairs, "i", "j")
        .select("doc_id", "source", "split")
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
         pairs AS (SELECT i, j FROM (
           SELECT probe.i, t.doc_id AS j,
             len(list_intersect(probe.sh_i, t.sh)) * 1.0 /
               len(list_distinct(list_concat(probe.sh_i, t.sh))) AS jac
           FROM probe JOIN t ON probe.bkt = t.bkt AND probe.i < t.doc_id
             AND abs(probe.len_i - t.n_chars) <= 20)
         WHERE jac >= 0.5),
         s AS (SELECT doc_id, source,
           CASE WHEN bucket < 500 THEN 'test'
                WHEN bucket < 1000 THEN 'val'
                ELSE 'train' END AS split
           FROM (SELECT doc_id, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 10000 AS bucket
             FROM documents)),
         edges AS (SELECT i AS a, j AS b FROM pairs
           UNION ALL SELECT j AS a, i AS b FROM pairs),
         dirty AS (SELECT DISTINCT edges.a FROM edges
           JOIN s ON edges.b = s.doc_id AND s.split IN ('test', 'val'))
         SELECT s.doc_id, s.source,
           CASE WHEN s.split = 'train' AND dirty.a IS NOT NULL
             THEN 'train_contaminated' ELSE s.split END AS split
         FROM s LEFT JOIN dirty ON s.doc_id = dirty.a"""),

    Query("curate_length_batches", { (s, dir) =>
      // dynamic-batching prep: power-of-two length buckets, 8-doc
      // batches cut in md5 order inside (bucket, shard), per-batch
      // padding-waste accounting — the op that keeps a training job
      // from padding every batch to the corpus max. 4 shards keep any
      // dominant length band fanned out (no whole-bucket sort).
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      Sampling.lengthBucketedBatches(docs, col("doc_id").cast("string"),
          col("n_tokens"), batchSize = 8, nShards = 4)
        .groupBy("bucket_cap", "shard", "batch_no")
        .agg(count(lit(1)).as("n_docs"),
          sum("tokens_used").as("sum_tokens"),
          max("tokens_used").as("max_tokens"))
        .withColumn("pad_waste_milli",
          floor(lit(1000) * (col("n_docs") * col("bucket_cap") - col("sum_tokens")) /
            (col("n_docs") * col("bucket_cap"))).cast("long"))
    },
      // length-bucketed batching replay: the power-of-two CASE ladder, the
      // md5 shard + in-bucket order, fixed 8-row batch cut, and the
      // padding-waste arithmetic (exact integers into one double division)
      """WITH d AS (
           SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS h,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 4 AS BIGINT) AS shard
           FROM documents),
         b AS (
           SELECT *, CAST(CASE
             WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
             WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
             WHEN n_tokens <= 256 THEN 256 WHEN n_tokens <= 512 THEN 512
             WHEN n_tokens <= 1024 THEN 1024 WHEN n_tokens <= 2048 THEN 2048
             WHEN n_tokens <= 4096 THEN 4096 ELSE 8192 END AS INTEGER) AS bucket_cap
           FROM d),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY bucket_cap, shard ORDER BY h) AS rn
           FROM b),
         a AS (
           SELECT bucket_cap, shard,
             CAST(floor((rn - 1) / 8) AS BIGINT) AS batch_no,
             count(*) AS n_docs,
             CAST(sum(least(n_tokens, bucket_cap)) AS BIGINT) AS sum_tokens,
             CAST(max(least(n_tokens, bucket_cap)) AS BIGINT) AS max_tokens
           FROM r GROUP BY 1, 2, 3)
         SELECT bucket_cap, shard, batch_no, n_docs, sum_tokens, max_tokens,
           CAST(floor(1000.0 * (n_docs * bucket_cap - sum_tokens) /
             (n_docs * bucket_cap)) AS BIGINT) AS pad_waste_milli
         FROM a"""),

    Query("pack_sequences", { (s, dir) =>
      // concat-and-cut training sequence packing: 4 shards, 2048-token
      // sequences; each doc labeled with its start offset and sequence
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      Sampling.packSequences(docs, col("doc_id").cast("string"),
        col("n_tokens"), budgetTokens = 2048, nShards = 4)
    },
      """WITH d AS (SELECT doc_id, source,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           md5(CAST(doc_id AS VARCHAR)) AS h,
           CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 4 AS BIGINT) AS shard
           FROM documents)
         SELECT doc_id, source, n_tokens, shard,
           CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY h) - n_tokens AS BIGINT) AS start_tok,
           CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY h) - n_tokens) / 2048) AS BIGINT) AS seq_no
         FROM d"""),

    Query("curate_corpus", { (s, dir) =>
      // the end-to-end curation pass a training corpus takes, composed
      // from the library's own operators: quality gate → token-length
      // gate → exact dedup (deterministic min-id survivor per content
      // hash) → train/val/test assignment → per-source/split rollup.
      // One linear chain: filters push to the scan, the dedup is the
      // only wide stage before the rollup.
      val docs = t(s, dir, "documents")
      val scored = docs.select(
        (col("doc_id") +: col("source") +: col("text") +:
          TextAnalysis.qualityScore(col("text"))): _*)
      val gated = scored.filter(col("q_score") >= 30 && col("n_tokens") >= 50)
      val deduped = Fingerprint.dedupByFingerprint(
        gated.withColumn("fp", md5(col("text"))), "fp", "doc_id")
      Sampling.assignSplit(deduped, col("doc_id").cast("string"),
          testPerMyriad = 500, valPerMyriad = 500)
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("sum_tokens"))
    },
      """WITH t AS (SELECT doc_id, source, text,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, source, text, len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_uniq,
             len(list_filter(toks, tk -> list_contains(
               ['the','a','of','and','to','in','is','it','on','for'], tk))) AS n_stop
           FROM t),
         q AS (SELECT *, CAST(floor(100 * (0.7 * (CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
             0.3 * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)))) AS BIGINT) AS q_score
           FROM c),
         g AS (SELECT * FROM q WHERE q_score >= 30 AND n_tokens >= 50),
         d AS (SELECT * FROM (SELECT *, row_number() OVER
             (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM g)
           WHERE rn = 1),
         s AS (SELECT source, n_tokens,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 10000 < 500 THEN 'test'
                  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 10000 < 1000 THEN 'val'
                  ELSE 'train' END AS split
           FROM d)
         SELECT source, split, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         FROM s GROUP BY 1, 2"""),

    Query("curate_tagged", { (s, dir) =>
      // Dolma-style tag-then-filter: quality taggers become attribute
      // columns, named keep-rules collect per-doc drop reasons — the
      // audit trail (WHICH rule killed WHICH doc), not just a boolean
      val tagged = t(s, dir, "documents").select(
        col("doc_id") +: TextAnalysis.qualityScore(col("text")): _*)
      Tagging.applyRules(tagged, curationRules)
        .select("doc_id", "n_tokens", "n_uniq", "n_stop", "drop_reasons", "keep")
    },
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, tk -> list_contains(
             ['the','a','of','and','to','in','is','it','on','for'], tk))) AS n_stop
           FROM t)
         SELECT doc_id, n_tokens, n_uniq, n_stop,
           concat_ws(',',
             CASE WHEN NOT coalesce(n_tokens >= 40, FALSE) THEN 'too_short' END,
             CASE WHEN NOT coalesce(n_uniq * 10 >= n_tokens * 3, FALSE) THEN 'low_diversity' END,
             CASE WHEN NOT coalesce(n_stop * 100 >= n_tokens * 2, FALSE)
               THEN 'no_stopword_evidence' END) AS drop_reasons,
           (coalesce(n_tokens >= 40, FALSE) AND
             coalesce(n_uniq * 10 >= n_tokens * 3, FALSE) AND
             coalesce(n_stop * 100 >= n_tokens * 2, FALSE)) AS keep
         FROM c"""),

    Query("curate_training_mix", { (s, dir) =>
      // the training-mix pipeline composed end-to-end from library ops:
      // Dolma-style rule gate → DSIR weights against the src0 target →
      // per-source token-budget fill in importance order. Every stage is
      // deterministic, the oracle replays the whole chain in SQL.
      val tagged = t(s, dir, "documents").select(
        col("doc_id") +: col("source") +: col("text") +:
          TextAnalysis.qualityScore(col("text")): _*)
      val gated = Tagging.applyRules(tagged, curationRules)
        .filter(col("keep"))
      val w = Sampling.dsirWeights(gated, col("doc_id"), col("text"),
        col("source") === "src0")
      val sel = gated.select(col("doc_id"), col("source"), col("n_tokens"))
        .join(w.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
      Sampling.takeTokenBudgetOrdered(sel,
          Seq(col("w_milli").desc, col("doc_id").asc),
          col("source"), col("n_tokens"), lit(2000))
        .select("doc_id", "source", "n_tokens", "w_milli", "cum_tokens")
    },
      """WITH t AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, source, toks, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, tk -> list_contains(
             ['the','a','of','and','to','in','is','it','on','for'], tk))) AS n_stop
           FROM t),
         g AS (SELECT doc_id, source, toks, n_tokens FROM c
           WHERE n_tokens >= 40 AND n_uniq * 10 >= n_tokens * 3 AND
             n_stop * 100 >= n_tokens * 2),
         f AS (SELECT doc_id, source, n_tokens,
           list_concat(toks, list_transform(range(1, len(toks)),
             i -> toks[i] || ' ' || toks[i+1])) AS feats
           FROM g),
         ex AS (SELECT doc_id, source, unnest(feats) AS tok FROM f),
         exb AS (SELECT doc_id, source, substr(md5(tok), 1, 3) AS bkt FROM ex),
         st AS (SELECT bkt,
             sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
             count(*) AS cr
           FROM exb GROUP BY bkt),
         tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
             CAST(sum(cr) AS BIGINT) AS nr FROM st),
         lr AS (SELECT bkt,
             CAST(floor(1000 * (ln((ct + 1.0) / (nt + 4096.0)) -
               ln((cr + 1.0) / (nr + 4096.0)))) AS BIGINT) AS lr_milli
           FROM st, tot),
         w AS (SELECT doc_id, CAST(sum(lr_milli) AS BIGINT) AS w_milli
           FROM exb JOIN lr USING (bkt) GROUP BY doc_id),
         sel AS (SELECT g.doc_id, g.source, g.n_tokens, w.w_milli
           FROM g JOIN w ON g.doc_id = w.doc_id),
         b AS (SELECT doc_id, source, n_tokens, w_milli,
             CAST(sum(n_tokens) OVER (PARTITION BY source
               ORDER BY w_milli DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens
           FROM sel)
         SELECT doc_id, source, n_tokens, w_milli, cum_tokens
         FROM b WHERE cum_tokens - n_tokens < 2000"""),

    Query("curate_tag_stats", { (s, dir) =>
      // the per-rule cost rollup over the same rule set: how much corpus
      // each rule removes — the number that tunes thresholds
      val tagged = t(s, dir, "documents").select(
        col("doc_id") +: TextAnalysis.qualityScore(col("text")): _*)
      val curated = Tagging.applyRules(tagged, curationRules)
      Tagging.ruleStats(curated)
        .select(col("reason"), col("n_dropped").cast("long").as("n_dropped"))
    },
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, tk -> list_contains(
             ['the','a','of','and','to','in','is','it','on','for'], tk))) AS n_stop
           FROM t),
         d AS (SELECT doc_id, concat_ws(',',
             CASE WHEN NOT coalesce(n_tokens >= 40, FALSE) THEN 'too_short' END,
             CASE WHEN NOT coalesce(n_uniq * 10 >= n_tokens * 3, FALSE) THEN 'low_diversity' END,
             CASE WHEN NOT coalesce(n_stop * 100 >= n_tokens * 2, FALSE)
               THEN 'no_stopword_evidence' END) AS drop_reasons
           FROM c),
         r AS (SELECT unnest(string_split(drop_reasons, ',')) AS reason
           FROM d WHERE drop_reasons <> '')
         SELECT reason, CAST(count(*) AS BIGINT) AS n_dropped
         FROM r GROUP BY reason"""),

    Query("curate_domain_cap", { (s, dir) =>
      // domain-level anti-spam curation: blocklisted hosts dropped
      // (broadcast anti-join), then at most 15 docs per registrable
      // domain under a deterministic quality order — the link-farm
      // domain holding ~40% of raw volume survives with exactly 15
      val s2 = s
      import s2.implicits._
      val docs = t(s, dir, "documents")
      val v = col("doc_id") % 10
      val host = when(v <= 3, lit("spam.linkfarm.net"))
        .when(v <= 5, lit("blog.example.org"))
        .when(v === 6, lit("Docs.Example.COM"))
        .when(v === 7, lit("www.news-site.io"))
        .when(v === 8, lit("archive.example.org:8080"))
        .otherwise(lit("banned.tracker.net"))
      val raw = docs.select(col("doc_id"), col("n_chars"),
        concat(lit("https://"), host, lit("/p/"),
          col("doc_id").cast("string")).as("url"))
      val blocklist = Seq("banned.tracker.net").toDF("blocked_domain")
      UrlOps.domainCapFilter(raw, "url", blocklist, cap = 15,
        Seq(col("n_chars").desc, col("doc_id").asc))
        .select("doc_id", "domain", "domain_rank")
    },
      // domainOf replay (host lowercase, port strip, www strip), blocklist
      // filter, then the per-domain row_number cap
      """WITH raw AS (SELECT doc_id, n_chars,
           CASE WHEN doc_id % 10 <= 3 THEN 'spam.linkfarm.net'
                WHEN doc_id % 10 <= 5 THEN 'blog.example.org'
                WHEN doc_id % 10 = 6 THEN 'Docs.Example.COM'
                WHEN doc_id % 10 = 7 THEN 'www.news-site.io'
                WHEN doc_id % 10 = 8 THEN 'archive.example.org:8080'
                ELSE 'banned.tracker.net' END AS host
           FROM documents),
         d AS (SELECT doc_id, n_chars,
           regexp_replace(regexp_replace(lower(regexp_extract(
             regexp_replace('https://' || host || '/p/' ||
               CAST(doc_id AS VARCHAR), '#.*', ''),
             '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1)),
             ':[0-9]+$', ''), '^www\.', '') AS domain
           FROM raw),
         k AS (SELECT * FROM d WHERE domain <> 'banned.tracker.net'),
         r AS (SELECT doc_id, domain,
           CAST(row_number() OVER (PARTITION BY domain
             ORDER BY n_chars DESC, doc_id) AS INT) AS domain_rank
           FROM k)
         SELECT doc_id, domain, domain_rank FROM r
         WHERE domain_rank <= 15"""),

    Query("mix_calibrated", { (s, dir) =>
      // per-source percentile calibration of the quality score: a global
      // threshold over raw scores silently skews the mix toward sources
      // whose style inflates the metric, so each doc is ranked WITHIN its
      // source first (percent_rank, doc_id tie-break for determinism) —
      // cross-source selection then compares like with like. Rank
      // arithmetic is integer-exact, so the milli floor is engine-stable.
      // One shuffle on source; at corpus scale the window runs per
      // source partition with no global sort.
      val w = Window.partitionBy("source")
        .orderBy(col("q_score"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id") +: col("source") +:
          TextAnalysis.qualityScore(col("text")): _*)
        .select(col("doc_id"), col("source"), col("q_score"),
          floor(lit(1000) * percent_rank().over(w)).cast("long").as("pct_milli"))
    },
      """WITH t AS (SELECT doc_id, source,
             string_split_regex(trim(text), '\s+') AS toks FROM documents),
         c AS (SELECT doc_id, source, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, tk -> list_contains(
             ['the','a','of','and','to','in','is','it','on','for'], tk))) AS n_stop
           FROM t),
         q AS (SELECT doc_id, source,
           CAST(floor(100 * (0.7 * (CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
             0.3 * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)))) AS BIGINT) AS q_score
           FROM c)
         SELECT doc_id, source, q_score,
           CAST(floor(1000 * percent_rank() OVER (PARTITION BY source
             ORDER BY q_score, doc_id)) AS BIGINT) AS pct_milli
         FROM q"""),

    Query("mix_curriculum", { (s, dir) =>
      // curriculum mixing: per-quality-tier epoch weights (low-quality
      // quartile seen 0.25x, top quartile 2.5x). Tiers come from exact
      // q_score quartile CUTPOINTS (one aggregate, broadcast by the
      // cross join) — never a global ntile sort, so the plan is fully
      // distributed at corpus scale; replication is the hash-exact
      // mixEpochs machinery
      val docs = t(s, dir, "documents")
      val scored = docs.select(
        col("doc_id") +: TextAnalysis.qualityScore(col("text")): _*)
        .select("doc_id", "q_score")
      val cuts = scored.agg(
        expr("percentile(q_score, 0.25)").as("c25"),
        expr("percentile(q_score, 0.5)").as("c50"),
        expr("percentile(q_score, 0.75)").as("c75"))
      val tiered = scored.crossJoin(cuts)
        .withColumn("tier",
          when(col("q_score") <= col("c25"), "t1")
            .when(col("q_score") <= col("c50"), "t2")
            .when(col("q_score") <= col("c75"), "t3")
            .otherwise("t4"))
        .select("doc_id", "q_score", "tier")
      Sampling.mixEpochs(tiered, col("doc_id").cast("string"), col("tier"),
        Map("t1" -> 0.25, "t2" -> 0.75, "t3" -> 1.5, "t4" -> 2.5),
        defaultWeight = 1.0)
    },
      """WITH sc AS (SELECT doc_id,
           CAST(floor(100 * (0.7 * (CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE) /
                 CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)) +
             0.3 * (CAST(len(list_filter(string_split_regex(trim(text), '\s+'), tk -> list_contains(
                 ['the','a','of','and','to','in','is','it','on','for'], tk))) AS DOUBLE) /
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)))) AS BIGINT) AS q_score
           FROM documents),
         cuts AS (SELECT quantile_cont(q_score, 0.25) AS c25,
             quantile_cont(q_score, 0.5) AS c50,
             quantile_cont(q_score, 0.75) AS c75 FROM sc),
         tiered AS (SELECT doc_id, q_score,
             CASE WHEN q_score <= c25 THEN 't1'
                  WHEN q_score <= c50 THEN 't2'
                  WHEN q_score <= c75 THEN 't3'
                  ELSE 't4' END AS tier
           FROM sc, cuts),
         b AS (SELECT doc_id, q_score, tier,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 10000 AS bucket
           FROM tiered),
         n AS (SELECT doc_id, q_score, tier,
             CASE tier
               WHEN 't1' THEN 0 + CASE WHEN bucket < 2500 THEN 1 ELSE 0 END
               WHEN 't2' THEN 0 + CASE WHEN bucket < 7500 THEN 1 ELSE 0 END
               WHEN 't3' THEN 1 + CASE WHEN bucket < 5000 THEN 1 ELSE 0 END
               WHEN 't4' THEN 2 + CASE WHEN bucket < 5000 THEN 1 ELSE 0 END
               ELSE 1 END AS n
           FROM b)
         SELECT doc_id, q_score, tier,
           CAST(unnest(range(1, n + 1)) AS BIGINT) AS epoch
         FROM n WHERE n > 0""")
  )
}
