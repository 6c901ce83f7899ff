package graft
package catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.{TextAnalysis, Contamination}
import graft.expr.{functions => gf}
import graft.SparkEntry.oracleAuxDir
import Shared._

/** Scale extensions: text analytics and quality scoring. */
private[graft] object TextQueries {

  val queries: Seq[Query] = Seq(

    Query("text_quality_filter", { (s, dir) =>
      // training-data curation: keep documents at or above their
      // source's median quality score (window percentile both engines)
      val scored = t(s, dir, "documents").select(
        col("doc_id") +: col("source") +: TextAnalysis.qualityScore(col("text")): _*)
      val w = Window.partitionBy(col("source"))
      scored
        .withColumn("med", expr("percentile(q_score, 0.5)").over(w))
        .filter(col("q_score") >= col("med"))
        .select(col("doc_id"), col("source"), col("q_score"), col("med"))
    },
      """WITH t AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, source, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, tk -> list_contains(
             ['the','a','of','and','to','in','is','it','on','for'], tk))) AS n_stop
           FROM t),
         q AS (SELECT doc_id, source,
           CAST(floor(100 * (0.7 * (CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
             0.3 * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)))) AS BIGINT) AS q_score
           FROM c),
         m AS (SELECT doc_id, source, q_score,
           quantile_cont(q_score, 0.5) OVER (PARTITION BY source) AS med
           FROM q)
         SELECT doc_id, source, q_score, med FROM m WHERE q_score >= med"""),

    Query("text_token_stats", { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id") +: TextAnalysis.tokenStats(col("text")): _*)
    },
      """SELECT doc_id,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_uniq,
         len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_alpha,
         len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS n_bpe
         FROM documents"""),

    Query("text_quality_score", { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id") +: TextAnalysis.qualityScore(col("text")): _*)
    },
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, tk -> list_contains(
             ['the','a','of','and','to','in','is','it','on','for'], tk))) AS n_stop
           FROM t)
         SELECT doc_id, n_tokens, n_uniq, n_stop,
           CAST(floor(100 * (0.7 * (CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
             0.3 * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)))) AS BIGINT) AS q_score
         FROM c"""),

    Query("text_lang_id", { (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
    },
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         sc AS (SELECT doc_id,
           len(list_filter(toks, tk -> list_contains(['the','and','is','of'], tk))) AS s_en,
           len(list_filter(toks, tk -> list_contains(['der','und','ist','das'], tk))) AS s_de,
           len(list_filter(toks, tk -> list_contains(['el','los','es','de'], tk))) AS s_es,
           len(list_filter(toks, tk -> list_contains(['le','les','est','et'], tk))) AS s_fr,
           len(list_filter(toks, tk -> list_contains(['的','是','在','了'], tk))) AS s_zh
           FROM t),
         b AS (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS best FROM sc)
         SELECT doc_id,
           CASE WHEN best = 0 THEN 'und'
                WHEN s_en = best THEN 'en'
                WHEN s_de = best THEN 'de'
                WHEN s_es = best THEN 'es'
                WHEN s_fr = best THEN 'fr'
                ELSE 'zh' END AS lang_pred
         FROM b"""),

    Query("text_entropy", { (s, dir) =>
      // char-level Shannon entropy quality gate (Gopher-style "is this
      // text" signal); milli-nat integers keep the double fold compare-
      // stable (sequential char-sorted sum on BOTH engines)
      TextAnalysis.charEntropy(t(s, dir, "documents"), "doc_id", "text")
    },
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
           FROM documents),
         c AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS cnt
           FROM ch WHERE len(ch) > 0 GROUP BY doc_id, ch),
         s AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars_tot,
             sum(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE)) ORDER BY ch)
               AS sacc
           FROM c GROUP BY doc_id)
         SELECT doc_id, n_chars_tot,
           CAST(floor(1000 * (ln(CAST(n_chars_tot AS DOUBLE)) -
             sacc / CAST(n_chars_tot AS DOUBLE))) AS BIGINT) AS entropy_milli
         FROM s"""),

    Query("text_lang_mix", { (s, dir) =>
      // code-switching detector: sentence-level language ID rolled up to
      // a per-doc histogram with the dominant language's share
      TextAnalysis.langMix(t(s, dir, "documents"), "doc_id", "text")
    },
      """WITH seg AS (SELECT doc_id, s AS seg FROM (
             SELECT doc_id, unnest(string_split_regex(text, '[.!?]+')) AS s
             FROM documents)
           WHERE len(trim(s)) > 0),
         t AS (SELECT doc_id, string_split_regex(trim(seg), '\s+') AS toks
           FROM seg),
         sc AS (SELECT doc_id,
           len(list_filter(toks, tk -> list_contains(['the','and','is','of'], tk))) AS s_en,
           len(list_filter(toks, tk -> list_contains(['der','und','ist','das'], tk))) AS s_de,
           len(list_filter(toks, tk -> list_contains(['el','los','es','de'], tk))) AS s_es,
           len(list_filter(toks, tk -> list_contains(['le','les','est','et'], tk))) AS s_fr,
           len(list_filter(toks, tk -> list_contains(['的','是','在','了'], tk))) AS s_zh
           FROM t),
         lb AS (SELECT doc_id,
           CASE WHEN best = 0 THEN 'und'
                WHEN s_en = best THEN 'en'
                WHEN s_de = best THEN 'de'
                WHEN s_es = best THEN 'es'
                WHEN s_fr = best THEN 'fr'
                ELSE 'zh' END AS seg_lang
           FROM (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS best
                 FROM sc)),
         c AS (SELECT doc_id, seg_lang, CAST(count(*) AS BIGINT) AS n
           FROM lb GROUP BY doc_id, seg_lang),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY n DESC, seg_lang ASC) AS rk FROM c)
         SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_segments,
           CAST(count(*) AS BIGINT) AS n_langs,
           max(CASE WHEN rk = 1 THEN seg_lang END) AS lang_dominant,
           CAST(max(CASE WHEN rk = 1 THEN n END) * 1000 // sum(n) AS BIGINT)
             AS dominant_milli
         FROM r GROUP BY doc_id"""),

    Query("text_readability", { (s, dir) =>
      // Flesch reading-ease tagger: three regexp counts + one floored
      // double expression, a pure codegen projection
      t(s, dir, "documents").select(
        col("doc_id") +: TextAnalysis.fleschMilli(col("text")): _*)
    },
      """WITH m AS (SELECT doc_id,
           greatest(1, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT))
             AS n_words,
           greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
             AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
             AS n_syllables
           FROM documents)
         SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST(floor(1000.0 * (206.835
             - 1.015 * CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)
             - 84.6 * CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
           AS BIGINT) AS flesch_milli
         FROM m"""),

    Query("text_vocab_topk", { (s, dir) =>
      // corpus vocabulary: term count + document frequency, top-500 with
      // a total (count desc, token asc) order → TakeOrderedAndProject,
      // no global sort
      TextAnalysis.vocabTopK(t(s, dir, "documents"), "doc_id", "text", 500)
    },
      """WITH tok AS (SELECT doc_id,
           unnest(string_split_regex(trim(text), '\s+')) AS token
           FROM documents)
         SELECT token, CAST(count(*) AS BIGINT) AS term_cnt,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
         FROM tok WHERE len(token) > 0
         GROUP BY token
         ORDER BY term_cnt DESC, token ASC LIMIT 500"""),

    Query("text_vocab_coverage", { (s, dir) =>
      // tokenizer-vocab sizing: cumulative share of all token
      // occurrences covered by the top-200 vocabulary, in milli-units
      TextAnalysis.vocabCoverage(t(s, dir, "documents"), "doc_id", "text", 200)
    },
      """WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
           FROM documents),
         c AS (SELECT token, CAST(count(*) AS BIGINT) AS term_cnt
           FROM tok WHERE len(token) > 0 GROUP BY token),
         top AS (SELECT token, term_cnt FROM c
           ORDER BY term_cnt DESC, token ASC LIMIT 200)
         SELECT CAST(row_number() OVER
             (ORDER BY term_cnt DESC, token ASC) AS BIGINT) AS rank,
           token, term_cnt,
           CAST(floor(1000 * CAST(sum(term_cnt) OVER
               (ORDER BY term_cnt DESC, token ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
             (SELECT CAST(sum(term_cnt) AS DOUBLE) FROM c)) AS BIGINT)
             AS cum_cov_milli
         FROM top"""),

    Query("text_bigram_pmi", { (s, dir) =>
      // collocation mining: top-200 adjacent bigrams with exact counts +
      // PMI in floored milli-nats from the same expression tree as the
      // oracle
      TextAnalysis.bigramPmi(t(s, dir, "documents"), "doc_id", "text", 200)
    },
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
         bi AS (SELECT w[idx] AS w1, w[idx + 1] AS w2
           FROM (SELECT w, unnest(range(1, len(w))) AS idx FROM t)),
         uc AS (SELECT unnest(w) AS tk FROM t),
         u AS (SELECT tk, CAST(count(*) AS BIGINT) AS c FROM uc GROUP BY tk),
         bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
           FROM bi GROUP BY w1, w2),
         tot AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM u) AS n_uni,
           (SELECT CAST(sum(c_xy) AS BIGINT) FROM bc) AS n_bi)
         SELECT w1, w2, c_xy, u1.c AS c_x, u2.c AS c_y,
           CAST(floor(1000 * (ln(CAST(c_xy AS DOUBLE)) -
             ln(CAST(u1.c AS DOUBLE)) - ln(CAST(u2.c AS DOUBLE)) +
             2 * ln(CAST(n_uni AS DOUBLE)) - ln(CAST(n_bi AS DOUBLE))))
             AS BIGINT) AS pmi_milli
         FROM bc JOIN u u1 ON bc.w1 = u1.tk JOIN u u2 ON bc.w2 = u2.tk, tot
         ORDER BY c_xy DESC, w1 ASC, w2 ASC LIMIT 200"""),

    Query("text_lm_score", { (s, dir) =>
      // corpus-trained bigram LM (add-1/2 smoothing): per-doc total
      // log-prob in floored milli-nats — integer sums, order-independent
      TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text")
    },
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
         occ AS (SELECT doc_id, w[idx] AS w1, w[idx + 1] AS w2
           FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS idx FROM t)),
         u AS (SELECT tk, CAST(count(*) AS BIGINT) AS c1
           FROM (SELECT unnest(w) AS tk FROM t) GROUP BY tk),
         bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
           FROM occ GROUP BY w1, w2),
         v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM u),
         st AS (SELECT w1, w2, c12, c1, v FROM bc JOIN u ON bc.w1 = u.tk, v)
         SELECT occ.doc_id, count(*) AS n_bigrams,
           CAST(sum(CAST(floor(1000 * (ln(CAST(2 * c12 + 1 AS DOUBLE)) -
             ln(CAST(2 * c1 + v AS DOUBLE)))) AS BIGINT)) AS BIGINT)
             AS lp_milli_sum
         FROM occ JOIN st ON occ.w1 = st.w1 AND occ.w2 = st.w2
         GROUP BY occ.doc_id"""),

    Query("text_contamination", { (s, dir) =>
      // benchmark decontamination: every 50th document plays the eval
      // set, the rest the training corpus; injected near-dups make some
      // benchmark docs fully contaminated
      val docs = t(s, dir, "documents")
      Contamination.benchmarkOverlap(
        docs.filter(col("doc_id") % 50 =!= 0), "text",
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", k = 3)
    },
      """WITH sh AS (SELECT doc_id,
           CASE WHEN len(string_split(text,' ')) >= 3 THEN
             list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
           ELSE [] END AS shs
           FROM documents),
         cs AS (SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id % 50 <> 0),
         bs AS (SELECT doc_id, unnest(shs) AS s FROM sh WHERE doc_id % 50 = 0),
         tot AS (SELECT doc_id, count(*) AS n_shingles FROM bs GROUP BY doc_id),
         hit AS (SELECT doc_id, count(*) AS n_hit FROM bs
                 WHERE s IN (SELECT s FROM cs) GROUP BY doc_id)
         SELECT t.doc_id, t.n_shingles, COALESCE(h.n_hit, 0) AS n_hit,
           COALESCE(h.n_hit, 0) / CAST(t.n_shingles AS DOUBLE) AS contamination
         FROM tot t LEFT JOIN hit h USING (doc_id)"""),

    Query("text_repetition", { (s, dir) =>
      // Gopher-style duplicate-bigram quality signals per document
      TextAnalysis.repetitionStats(t(s, dir, "documents"), "doc_id", "text", n = 2)
    },
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
         g AS (SELECT doc_id,
             unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram
           FROM toks WHERE len(w) >= 2),
         c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram)
         SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_grams,
           count(*) AS n_distinct,
           CAST(max(cnt) AS BIGINT) AS top_cnt,
           CAST(COALESCE(sum(cnt) FILTER (WHERE cnt > 1), 0) AS BIGINT) AS dup_cnt,
           CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS top_frac,
           CAST(COALESCE(sum(cnt) FILTER (WHERE cnt > 1), 0) AS DOUBLE)
             / CAST(sum(cnt) AS DOUBLE) AS dup_frac
         FROM c GROUP BY doc_id"""),

    Query("text_compression", { (s, dir) =>
      // zlib deflate-ratio repetition gate. The deflate kernel has no
      // SQL form, so the per-doc deflate lengths are the exported
      // artifact (writeOracleAux; kernel pinned vs a reference Deflater
      // in SketchesSpec) and the oracle replays the byte-length, ratio
      // and zero-guard arithmetic — the dedup_simhash artifact split.
      // Shuffle-free narrow map — the cheapest repetition signal.
      TextAnalysis.compressionStats(t(s, dir, "documents"), "doc_id", "text")
    },
      // deflate lengths are artifact (no SQL deflate); byte length, ratio
      // and the zero-guard are replay — 1000·dl and its double conversion
      // are exact below 2^53, so the floored division matches bit-for-bit
      s"""WITH dl AS (SELECT doc_id, deflate_bytes FROM $auxDeflateLen)
         SELECT d.doc_id,
           CAST(strlen(d.text) AS BIGINT) AS n_bytes,
           dl.deflate_bytes,
           CASE WHEN strlen(d.text) > 0
             THEN CAST(floor(1000.0 * dl.deflate_bytes /
               strlen(d.text)) AS BIGINT)
             ELSE 0 END AS ratio_milli
         FROM documents d JOIN dl USING (doc_id)"""),

    Query("text_pii_redact", { (s, dir) =>
      // PII scrub: the testdata corpus is clean, so every third doc gets
      // a deterministic injected snippet (email/IP/SSN/phone) that the
      // oracle rebuilds identically — the redaction+counts must agree
      val inj = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 ssn 123-45-6789 tel 415-555-0199")))
        .otherwise(col("text"))
      t(s, dir, "documents").select(
        (col("doc_id") +: graft.ops.Privacy.piiStats(inj)) :+
          graft.ops.Privacy.redactPii(inj).as("redacted"): _*)
    },
      """WITH inj AS (SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' ||
               CAST(doc_id AS VARCHAR) || '@example.com or 10.0.' ||
               CAST(doc_id % 256 AS VARCHAR) || '.7 ssn 123-45-6789 tel 415-555-0199'
             ELSE text END AS t
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ip,
           CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS INT) AS n_ssn,
           CAST(len(regexp_extract_all(t, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS INT) AS n_phone,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
             '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS redacted
         FROM inj"""),

    Query("text_fingerprint", { (s, dir) =>
      // winnowing fingerprints in the canonical SET form (Schleimer et
      // al. 2003): one row per selected-gram run. The per-position gram
      // hashes are the exported kernel artifact (writeOracleAux); the
      // oracle replays the window-argmin (latest index wins ties) and
      // the run dedupe in SQL. The scalar folded form stays available as
      // the rolling_fingerprint expression, fold==runs pinned in
      // SketchesSpec. udf justified: variable-length struct-array out of
      // a stateful windowed scan.
      val runsUdf = udf((txt: String) => graft.ops.Sketches.winnowedRuns(txt))
      t(s, dir, "documents").select(col("doc_id"),
          explode(runsUdf(col("text"))).as("r"))
        .select(col("doc_id"), col("r._1").as("win_start"),
          col("r._2").as("pos"), col("r._3").as("fp_hash"))
    },
      // winnowing selection replayed over the exported per-position gram
      // hashes: window argmin with ORDER BY h ASC, pos DESC (the kernel's
      // `<=` scan keeps the LATEST index among equal minima), then the
      // consecutive-run dedupe via lag; pos = -1 rows are the short-text
      // sentinel emitted as the single (0, 0, fnv) fingerprint row
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
           FROM sel)
         SELECT doc_id, CAST(wi AS INTEGER) AS win_start,
           CAST(pos AS INTEGER) AS pos, h AS fp_hash
         FROM runs WHERE prev_pos IS NULL OR prev_pos <> pos
         UNION ALL
         SELECT doc_id, 0 AS win_start, 0 AS pos, h AS fp_hash
         FROM $auxGramHashes WHERE pos = -1"""),

    Query("text_gopher_rules", { (s, dir) =>
      // Gopher rule gate (word-count band, mean word length, alpha ratio,
      // stopword evidence) — thresholds cross-multiplied to integer compares
      t(s, dir, "documents").select(
        col("doc_id") +: TextAnalysis.gopherFlags(col("text"),
          minWords = 30, maxWords = 80): _*)
    },
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
           CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS BIGINT)
             AS n_word_chars
           FROM documents),
         c AS (SELECT doc_id, n_word_chars,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(len(list_filter(toks, tk -> regexp_matches(tk, '[a-z]')))
             AS BIGINT) AS n_alpha_words,
           CAST(len(list_filter(toks, tk -> list_contains(
             ['the','a','of','and','to','in','is','it','on','for'], tk)))
             AS BIGINT) AS n_stop_words
           FROM t)
         SELECT doc_id, n_words, n_word_chars, n_alpha_words, n_stop_words,
           (n_words >= 30 AND n_words <= 80) AS ok_word_count,
           (3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words)
             AS ok_mean_word_len,
           (5 * n_alpha_words >= 4 * n_words) AS ok_alpha_ratio,
           (n_stop_words >= 2) AS ok_stopwords,
           ((n_words >= 30 AND n_words <= 80)
             AND (3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words)
             AND (5 * n_alpha_words >= 4 * n_words)
             AND (n_stop_words >= 2)) AS gopher_pass
         FROM c"""),

    Query("text_novelty", { (s, dir) =>
      // uniqueness curation signal: share of each doc's distinct 3-gram
      // shingles found in no other document (near-dup clusters score low)
      TextAnalysis.noveltyScore(t(s, dir, "documents"), "doc_id", "text")
    },
      // per-doc distinct 3-gram shingles (the dedup_incremental_lsh gram
      // CTE), document frequency over them, unique share per doc
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN len(string_split(text, ' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i+1] || ' ' ||
                      string_split(text, ' ')[i+2]))
             ELSE [] END AS sh
           FROM documents),
         g AS (SELECT doc_id, unnest(sh) AS gram FROM t),
         f AS (SELECT gram, count(*) AS dfreq FROM g GROUP BY gram),
         p AS (
           SELECT g.doc_id, count(*) AS n_grams,
             sum(CASE WHEN f.dfreq = 1 THEN 1 ELSE 0 END) AS n_unique
           FROM g JOIN f USING (gram) GROUP BY g.doc_id)
         SELECT d.doc_id,
           CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(p.n_unique, 0) AS BIGINT) AS n_unique,
           CASE WHEN coalesce(p.n_grams, 0) > 0
             THEN CAST(floor(1000.0 * p.n_unique / p.n_grams) AS BIGINT)
             ELSE 0 END AS novelty_milli
         FROM documents d LEFT JOIN p USING (doc_id)"""),

    Query("text_keyphrases", { (s, dir) =>
      // RAKE keyphrases: stopword-delimited candidate runs, degree/freq
      // word scores in milli, top-3 phrases per document
      TextAnalysis.rakeKeyphrases(t(s, dir, "documents"), "doc_id", "text",
        k = 3)
    },
      // RAKE replay: stopword/punct delimiting, distinct phrase set,
      // degree/freq word stats, milli-floored word scores, phrase sums,
      // (score desc, phrase) top-3
      """WITH ph0 AS (SELECT doc_id,
             unnest(string_split_regex(regexp_replace(regexp_replace(
               lower(text),
               '\b(the|a|of|and|to|in|is|it|on|for)\b', '|', 'g'),
               '[.,;:!?()]', '|', 'g'), '\|+')) AS phrase
           FROM documents),
         ph AS (SELECT DISTINCT doc_id, trim(phrase) AS phrase FROM ph0
           WHERE trim(phrase) <> ''),
         tk AS (SELECT doc_id, phrase,
             unnest(string_split_regex(phrase, '\s+')) AS word,
             len(string_split_regex(phrase, '\s+')) AS plen
           FROM ph),
         ws AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(plen) AS BIGINT) AS deg
           FROM tk GROUP BY doc_id, word),
         psc AS (SELECT tk.doc_id, tk.phrase,
             CAST(sum(1000 * deg // freq) AS BIGINT) AS score_milli
           FROM tk JOIN ws ON tk.doc_id = ws.doc_id AND tk.word = ws.word
           GROUP BY tk.doc_id, tk.phrase)
         SELECT doc_id, rank, phrase, score_milli FROM (
           SELECT doc_id, phrase, score_milli,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY score_milli DESC, phrase) AS INT) AS rank
           FROM psc)
         WHERE rank <= 3"""),

    Query("text_nfc", { (s, dir) =>
      // Unicode NFC canonical composition (pre-hash normalization for
      // dedup): decomposed sequences synthesized deterministically
      // (a → a + U+0300), then composed — both engines implement the
      // same Unicode algorithm, outputs byte-equal
      t(s, dir, "documents").select(col("doc_id"),
        gf.nfc_normalize(regexp_replace(col("text"), "a", "à"))
          .as("text_nfc"))
    },
      """SELECT doc_id,
           nfc_normalize(replace(text, 'a', 'a' || chr(768))) AS text_nfc
         FROM documents"""),

    Query("text_bpe_fit", { (s, dir) =>
      // ORACLE-CHECKED since round 13 via the exported per-iteration
      // state trace (writeOracleAux bpe_fit_states): DuckDB re-derives
      // every merge itself — state 0 proved equal to the corpus
      // dictionary, merge t recomputed as the argmax over state t's
      // pair counts, state t+1 proved equal to the rewrite — see
      // bpeFitSql. One distributed word-count shuffle feeds a
      // driver-side merge loop over the maxVocab-BOUNDED dictionary —
      // the classic BPE split: corpus pass scales out, merge learning is
      // O(vocab·merges) on bounded state. Ties break lexicographically,
      // so the merge table is deterministic (pinned in BpeSpec).
      import s.implicits._
      graft.ops.Bpe.fit(t(s, dir, "documents"), "text", nMerges = 50)
        .merges.zipWithIndex
        .map { case ((a, b), r) => (r.toLong, a, b) }
        .toDF("rank", "left", "right")
    },
      // the state-trace replay for BPE merge learning (see bpeFitSql):
      // the oracle's merges are its own per-step pair-count argmaxes over
      // the verified state chain — fully independently derived.
      bpeFitSql(50)),

    Query("text_bpe_pieces", { (s, dir) =>
      // BPE tokenizer TRAINED on the corpus word dictionary (32 merges,
      // driver-side deterministic learning over a distributed word count),
      // then applied corpus-wide by the codegen'd encode expression. The
      // oracle replays the corpus layer (tokenize, vocab join, ordered
      // concat + md5) in SQL against the exported per-word pieces
      // (writeOracleAux); word-level merge-walk semantics pinned by
      // BpeSpec hand goldens + round-trip property
      val docs = t(s, dir, "documents")
      val model = graft.ops.Bpe.fit(docs, "text", nMerges = 32)
      docs.select(col("doc_id"),
          graft.ops.Bpe.encode(col("text"), model).as("__p"))
        .select(col("doc_id"), size(col("__p")).as("n_pieces"),
          md5(concat_ws(" ", col("__p"))).as("pieces_md5"))
    },
      // BPE corpus-encode replay against the exported per-word pieces: the
      // word-level merge walk is the exported kernel artifact (BpeSpec hand
      // goldens pin it); the oracle recomputes the corpus layer — ordered
      // whitespace tokenization (empty tokens dropped, same as the kernel's
      // trim+split+nonEmpty), the vocabulary join, the in-order ' ' concat
      // feeding md5, and the piece-count sum. Docs with no tokens keep
      // n_pieces = 0 and md5('') — the kernel's empty-encode output.
      s"""WITH wp AS (SELECT term, pieces_str, n_pieces FROM $auxBpePieces),
         tok AS (
           SELECT d.doc_id, u.i,
             string_split_regex(d.text, '\\s+')[u.i] AS term
           FROM documents d,
             unnest(range(1, len(string_split_regex(d.text, '\\s+')) + 1))
               AS u(i)
           WHERE len(string_split_regex(d.text, '\\s+')[u.i]) > 0),
         agg AS (
           SELECT tok.doc_id,
             sum(wp.n_pieces) AS np,
             string_agg(wp.pieces_str, ' ' ORDER BY tok.i) AS ps
           FROM tok JOIN wp USING (term) GROUP BY tok.doc_id)
         SELECT d.doc_id,
           CAST(coalesce(a.np, 0) AS INTEGER) AS n_pieces,
           md5(coalesce(a.ps, '')) AS pieces_md5
         FROM documents d LEFT JOIN agg a USING (doc_id)"""),

    Query("quality_classifier", { (s, dir) =>
      // FineWeb-style model-based quality filter — weak label from the
      // Gopher gate, TF-IDF + logistic regression, corpus-wide score.
      // The L-BFGS fit is the exported artifact (writeOracleAux refits
      // deterministically and dumps features + coefficients); the oracle
      // replays the SCORING layer in SQL. The checked score is
      // margin_micro (floor of 10⁶ · the ordered sparse dot + intercept)
      // — pure float arithmetic, bit-reproducible cross-engine — not the
      // post-sigmoid milli floor, whose exp() is not correctly rounded
      // in either engine and could flip a floor at a milli boundary.
      // pred ≡ margin ≥ 0 ≡ P ≥ 0.5. Fit semantics pinned in
      // QualityClassifierSpec; the weak-label column itself is
      // text_gopher_rules' own oracle.
      graft.ops.QualityClassifier.trainScore(
          qcLabeled(s, dir), "doc_id", "text", "weak_label")
        .select("doc_id", "margin_micro", "pred")
    },
      // the scoring layer of the quality classifier replayed against the
      // exported refit artifacts: ordered sparse dot (ascending feature
      // index — the BLAS accumulation order, exactly reproduced by
      // list_inner_product over ORDER BY idx lists), sigmoid, milli floor.
      // Docs whose TF-IDF is all-zero never reach the features table and
      // score at the bare intercept via the left join. The margin —
      // list_inner_product over ascending idx, intercept added after —
      // reproduces the BLAS accumulation bit-for-bit (float + is
      // commutative; only reassociation would break it), so the micro
      // floor is exact with NO exp() anywhere in the compare path.
      s"""WITH f AS (SELECT doc_id, idx, v FROM $auxQcFeatures),
         w AS (SELECT idx, w FROM $auxQcModel WHERE idx >= 0),
         b AS (SELECT w FROM $auxQcModel WHERE idx = -1),
         dm AS (
           SELECT f.doc_id,
             list_inner_product(list(f.v ORDER BY f.idx),
                                list(w.w ORDER BY f.idx)) AS dot
           FROM f JOIN w USING (idx) GROUP BY f.doc_id),
         scored AS (
           SELECT d.doc_id,
             CAST(floor(1000000.0 *
               ((SELECT w FROM b) + coalesce(dm.dot, 0.0)))
               AS BIGINT) AS margin_micro
           FROM documents d LEFT JOIN dm ON dm.doc_id = d.doc_id)
         SELECT doc_id, margin_micro, margin_micro >= 0 AS pred FROM scored""")
  )

  private def auxBpeFitStates =
    s"read_parquet('$oracleAuxDir/bpe_fit_states/*.parquet')"

  /** The text_bpe_fit state-trace replay (see the writeOracleAux
    * comment). The merges the oracle emits are its OWN argmax
    * computations over the (fully verified) exported states: state 0 is
    * set-compared against the corpus dictionary (tokenize + count +
    * code-point symbol split all in SQL), each state transition is
    * re-proved with a list_reduce rewrite implementing the left-to-right
    * non-overlapping merge (greedy pairing ≡ reduce, since a merged
    * piece a||b can never equal the left symbol a), and any failed
    * check empties the result → red. Byte-order VARCHAR comparison in
    * the argmax ORDER BY matches Bpe.utf8Compare. */
  private def bpeFitSql(nMerges: Int): String =
    s"""WITH st AS (
           SELECT step, word, syms, string_split(syms, ' ') AS s, c
           FROM $auxBpeFitStates),
         dict AS (
           SELECT w AS word, count(*) AS c FROM (
             SELECT unnest(regexp_split_to_array(text,
               '[ \\t\\x0B\\f\\r\\n]+')) AS w FROM documents)
           WHERE w <> '' GROUP BY w
           ORDER BY c DESC, w LIMIT 100000),
         d0 AS (
           SELECT word, c,
             array_to_string(
               list_append(regexp_split_to_array(word, ''), '</w>'),
               ' ') AS syms0
           FROM dict),
         s0ok AS (
           SELECT NOT EXISTS (
             SELECT 1 FROM d0
             FULL JOIN (SELECT word, syms, c FROM st WHERE step = 0) z
               ON z.word = d0.word
             WHERE z.word IS NULL OR d0.word IS NULL
                OR z.syms <> d0.syms0 OR z.c <> d0.c) AS ok),
         pairs AS (
           SELECT step, s[g.j] AS a, s[g.j + 1] AS b, sum(c) AS n
           FROM st,
             LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS j) g
           GROUP BY step, a, b),
         am AS (
           SELECT step, a, b FROM (
             SELECT step, a, b,
               row_number() OVER (PARTITION BY step
                 ORDER BY n DESC, a, b) AS rn
             FROM pairs) WHERE rn = 1),
         rew AS (
           SELECT t.step, t.word, t.c,
             list_reduce(t.s, (acc, x) ->
               CASE WHEN (acc = m.a OR ends_with(acc, ' ' || m.a))
                         AND x = m.b
                    THEN substr(acc, 1, len(acc) - len(m.a)) || m.a || m.b
                    ELSE acc || ' ' || x END) AS r
           FROM st t JOIN am m USING (step)),
         chain AS (
           SELECT coalesce(bool_and(n.word IS NOT NULL AND n.syms = r.r
                           AND n.c = r.c), TRUE) AS ok
           FROM rew r
           LEFT JOIN st n ON n.step = r.step + 1 AND n.word = r.word
           WHERE r.step < (SELECT max(step) FROM st)),
         -- Bpe.fit stops when no pair remains (exhaustion), exporting S <=
         -- nMerges states; the gate accepts S < nMerges ONLY when the
         -- rewrite of the last exported state is fully merged (every word
         -- a single symbol — symbols never contain spaces, words are split
         -- on \\s+), i.e. exhaustion is PROVEN, not trusted.
         exh AS (
           SELECT (SELECT max(step) + 1 FROM st) = $nMerges
               OR bool_and(strpos(r.r, ' ') = 0) AS ok
           FROM rew r WHERE r.step = (SELECT max(step) FROM st)),
         cnt AS (SELECT step, count(*) AS n FROM st GROUP BY step),
         allok AS (
           SELECT (SELECT ok FROM s0ok)
             AND (SELECT ok FROM chain)
             AND (SELECT ok FROM exh)
             AND (SELECT count(*) BETWEEN 1 AND $nMerges
                    AND min(step) = 0
                    AND max(step) = count(*) - 1 FROM cnt)
             AND (SELECT bool_and(n = (SELECT count(*) FROM dict))
                  FROM cnt) AS ok)
       SELECT CAST(step AS BIGINT) AS "rank", a AS "left", b AS "right"
       FROM am WHERE (SELECT ok FROM allok)"""

  private def auxQcFeatures = s"read_parquet('$oracleAuxDir/qc_features/*.parquet')"

  private def auxQcModel = s"read_parquet('$oracleAuxDir/qc_model/*.parquet')"

  private def auxBpePieces = s"read_parquet('$oracleAuxDir/bpe_word_pieces/*.parquet')"

  private def auxDeflateLen = s"read_parquet('$oracleAuxDir/deflate_len/*.parquet')"
}
