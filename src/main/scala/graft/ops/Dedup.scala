package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.expr.sketchFunctions._
import graft.expr.vectorFunctions.{dot_product, sorted_intersect_count}

/** Deduplication operators for large-scale corpus curation — the scale
  * generalization of the reference's fingerprint dedup (SURVEY §2.4; the
  * reference itself only has exact MD5 identity, fda_watcher.py:86-93).
  *
  * Four near-dup families, all shuffle-bounded (no cross join of the full
  * corpus anywhere):
  *
  *  - exact:       hash-groupBy on md5(content)             — 1 shuffle
  *  - n-gram Jaccard: length-band blocked pair join          — shuffle on band
  *  - MinHash+LSH: signature → band buckets → verified pairs — shuffle on band key
  *  - SimHash:     64-bit sketch → 16-bit chunk buckets (pigeonhole: any
  *                 pair with hamming ≤ 3 shares ≥1 of 4 chunks) → verified
  *
  * 100 TB notes: every method keys its shuffle by a bounded-cardinality
  * bucket (band hash / chunk value), so skew is capped by bucket size and
  * AQE skew-join splitting handles hot buckets; candidate verification is
  * a co-partitioned join on doc id. Exact Jaccard verification re-joins the
  * shingle sets only for candidate ids (a tiny fraction of the corpus).
  */
object Dedup {

  // The pair joins below broadcast the compact (per-doc sketch) side and
  // stream the fanned-out side — both via ScaleHints, which gates the
  // broadcast hint on the optimizer's size estimate and the fan-out on
  // the current partition count, so the same operator plans correctly at
  // bench scale (hint on, fan-out on) and at 100 TB (plain shuffled
  // equi-join on the band/bucket keys, no injected shuffle).
  import ScaleHints.{fanout, maybeBroadcast, widenScan}

  /** Distinct k-token shingles with the SQL-oracle's space-split
    * tokenization (empties kept), as a codegen JVM kernel
    * ([[graft.expr.SketchRuntime.tokenShinglesSpaceSplit]]). The former
    * flatten/transform HOF spelling is CodegenFallback — its interpreted
    * per-shingle lambdas dominated every shingle-explode consumer
    * (corpus_overlap, containment, contamination) at 10× bench data;
    * DedupSpec pins kernel == HOF on edge strings and a real corpus. */
  def tokenShingles(text: Column, k: Int): Column =
    graft.expr.sketchFunctions.token_shingles(text, k)

  /** Set Jaccard of two (already-distinct) arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** Sorted xxhash64 image of a distinct shingle set. Pair-wise set math
    * then runs as an O(n+m) codegen'd merge ([[sorted_intersect_count]])
    * instead of per-pair hash-set builds over strings — the difference
    * between 147 s and ~5 s on the sf0.1 pair workload. Collision risk
    * (~|set|²/2⁶⁴) is negligible and only perturbs a jaccard by ±1 count. */
  def hashedShingles(text: Column, k: Int): Column = hashed_shingles(text, k)

  /** Jaccard from two hashed-sorted sets and their sizes:
    * |∩| / (|A| + |B| − |∩|). */
  private def hashedJaccard(hsA: Column, nA: Column, hsB: Column, nB: Column): Column = {
    val inter = sorted_intersect_count(hsA, hsB)
    inter.cast("double") / (nA + nB - inter).cast("double")
  }

  /** Exact duplicate groups by content hash: (content_hash, n_dups, ids). */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_dups"), sort_array(collect_list(col(idCol))).as("ids"))
      .filter(col("n_dups") > 1)

  /** Normalize-then-hash duplicate groups (the Dolma/CCNet "fuzzy-exact"
    * first pass): case, punctuation and whitespace-run mutations collapse
    * to one canonical form BEFORE hashing, so trivially-mutated
    * re-ingests that raw [[exactDupGroups]] misses land in one group.
    * Same single hash-shuffle shape — normalization is a pure codegen'd
    * projection ([[graft.ops.TextOps.normalizeForCompare]] + edge trim),
    * so the scale cost is identical to the exact pass. */
  def normalizedDupGroups(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.groupBy(md5(trim(TextOps.normalizeForCompare(col(textCol))))
        .as("norm_hash"))
      .agg(count(lit(1)).as("n_dups"), sort_array(collect_list(col(idCol))).as("ids"))
      .filter(col("n_dups") > 1)

  /** Survivor selection — the "which copy do we keep" policy that turns
    * dup GROUPS into a deduplicated corpus: within each `keyCol` group
    * keep exactly the best row under `order` (e.g. quality desc, then id
    * asc as the total tie-break — a non-total order makes the survivor
    * nondeterministic). ONE shuffle on the group key; rank, not sort-all:
    * row_number over the group window is a single window pass. */
  def keepBestPerGroup(df: DataFrame, keyCol: Column,
      order: Seq[Column]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact n-gram-Jaccard near-dup pairs, candidates from
    * [[CandidateGen.bandPrefixSelf]]: length band (docs within `maxLenDiff`
    * chars share a bucket or an adjacent one) ∧ rarest-token prefix match.
    * The round-9 band-only shape ([[ngramJaccardPairsBandOnly]]) compared
    * every same-band pair — bucket occupancy grows linearly with the
    * corpus, so its candidate count grew quadratically (measured 23× at
    * 10× data); the prefix conjunct bounds fan-out by prefix-token df and
    * restores near-linear growth with identical output (the prefix filter
    * is an exact superset and the jaccard verify is unchanged —
    * DedupSpec pins band-only == band+prefix).
    *
    * On corpora where even the prefix candidates are intrinsically
    * quadratic (low-entropy text: tiny vocabulary ⇒ every gram high-df),
    * the generator measures its own join size BEFORE launching it and
    * past `prefixMax` degrades to MinHash-LSH candidates with the SAME
    * exact jaccard verify — precision 1, recall the 16×4 banding curve
    * (see [[CandidateGen.defaultPrefixMaxCandidates]]; DedupSpec pins
    * forced-degrade output == exact on a high-jaccard corpus). The
    * budget sits orders of magnitude above every driver-shipped SF.
    *
    * The (id, len, hs, n) sketch is localCheckpoint'd once: it feeds gram
    * df, prefix ranking, and both verify sides — shingling is the
    * dominant map cost and would otherwise run 4×. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      lenCol: String, threshold: Double, shingleK: Int = 3,
      bucketWidth: Int = 32, maxLenDiff: Int = 20,
      bandOnlyMax: Long = CandidateGen.defaultBandOnlyMaxCandidates,
      prefixMax: Long = CandidateGen.defaultPrefixMaxCandidates): DataFrame = {
    // n > 0: a text shorter than shingleK tokens has NO shingles — its
    // jaccard against anything (NaN = 0/0 for two empty sets, and Spark
    // SQL orders NaN above every number, so `NaN >= t` would PASS) is
    // undefined, and the prefix generator would drop it while the
    // band-only one kept it, letting the occupancy gate change output
    val sketch = widenScan(df).select(col(idCol).as("id"),
        col(lenCol).cast("long").as("len"),
        hashedShingles(col(textCol), shingleK).as("hs"))
      .withColumn("n", size(col("hs")))
      .filter(col("n") > 0)
      .localCheckpoint(true)
    val cand = CandidateGen.bandPrefixSelf(sketch, threshold, bucketWidth,
      maxLenDiff, bandOnlyMax, prefixMax)
    // surface the occupancy degrade: past this point precision is still 1
    // (the exact verify below is unchanged) but recall silently drops to
    // the MinHash-LSH banding curve — production callers above the budget
    // must be able to tell approximate output from exact (r12 advisory)
    if (!cand.exact)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"ngramJaccardPairs: occupancy degrade fired — exact prefix " +
          s"candidates ${if (cand.boundEstimated) "estimated (sampled fast gate)"
            else "measured"} at ${cand.measuredBound} rows (budget " +
          s"$prefixMax); emitting MinHash-LSH candidates instead " +
          s"(precision 1, recall = banding curve)")
    // the prefix candidate branch emits a pair once per qualifying
    // shared prefix token — dedupe the (small) verified output, not the
    // candidate stream, and only when that branch was taken (band-only
    // candidates are distinct by construction)
    cand.dedupeVerified(cand.pairs
      .join(sketch.select(col("id").as("i"), col("n").as("n_i"),
        col("hs").as("hs_i")), Seq("i"))
      .join(sketch.select(col("id").as("j"), col("n").as("n_j"),
        col("hs").as("hs_j")), Seq("j"))
      .select(col("i"), col("j"),
        hashedJaccard(col("hs_i"), col("n_i"), col("hs_j"), col("n_j")).as("jac"))
      .filter(col("jac") >= threshold))
  }

  /** The pre-round-10 band-only construction, kept as the reference twin
    * for DedupSpec's band-vs-prefix equality test (NOT a declared query
    * path — its candidate count is quadratic in same-band occupancy). */
  private[graft] def ngramJaccardPairsBandOnly(df: DataFrame, idCol: String,
      textCol: String, lenCol: String, threshold: Double, shingleK: Int = 3,
      bucketWidth: Int = 32, maxLenDiff: Int = 20): DataFrame = {
    require(maxLenDiff < bucketWidth, "band trick needs maxLenDiff < bucketWidth")
    val t = df.select(col(idCol), col(lenCol),
      hashedShingles(col(textCol), shingleK).as("hs"))
      .withColumn("n", size(col("hs")))
      .filter(col("n") > 0) // mirror ngramJaccardPairs: no NaN-jac pairs
    val bkt = floor(col(lenCol) / bucketWidth).cast("long")
    val probe = fanout(t.withColumn("bkt", explode(array(bkt - 1, bkt, bkt + 1))))
      .select(col("bkt"), col(idCol).as("i"), col(lenCol).as("len_i"),
        col("n").as("n_i"), col("hs").as("hs_i"))
    val build = t.withColumn("bkt", bkt)
      .select(col("bkt"), col(idCol).as("j"), col(lenCol).as("len_j"),
        col("n").as("n_j"), col("hs").as("hs_j"))
    probe.join(maybeBroadcast(build),
        probe("bkt") === build("bkt") && col("i") < col("j") &&
          abs(col("len_i") - col("len_j")) <= maxLenDiff)
      .select(col("i"), col("j"),
        hashedJaccard(col("hs_i"), col("n_i"), col("hs_j"), col("n_j")).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** Asymmetric n-gram-Jaccard pairs between a small `build` set (a
    * benchmark / blocklist, typically a few % of the corpus) and a large
    * `probe` corpus — the DEcontamination shape. Same band + prefix
    * candidate contract as [[ngramJaccardPairs]] but via
    * [[CandidateGen.bandPrefixAcross]]: only the build side is indexed,
    * the corpus probes it, and corpus×corpus pairs are never formed —
    * at 10× data the symmetric route grew 21× while this one tracks true
    * matches. Candidates are build-side-bounded by the contract — and
    * since r17 that contract is ENFORCED, not assumed: when the sampled
    * candidate-bound estimate exceeds the linear per-row allowance
    * (build side scaling with the corpus — the quadratic regime
    * `graft.Probe bound` measured at 121k → 13.8M candidates per 10×), the
    * generator degrades to cross-side MinHash-LSH banding
    * (bandPrefixAcross scaladoc; `exact = false`, recall = the banding
    * curve, precision still 1 through the verify below). Sides must be
    * id-disjoint. Output: (probe_id, build_id, jac ≥ threshold). */
  def ngramJaccardAcross(probe: DataFrame, build: DataFrame, idCol: String,
      textCol: String, lenCol: String, threshold: Double, shingleK: Int = 3,
      bucketWidth: Int = 32, maxLenDiff: Int = 20,
      bandOnlyMax: Long = CandidateGen.defaultBandOnlyMaxCandidates,
      candidatesPerRow: Long = CandidateGen.defaultAcrossCandidatesPerRow)
      : DataFrame = {
    def sk(d: DataFrame) = widenScan(d).select(col(idCol).as("id"),
        col(lenCol).cast("long").as("len"),
        hashedShingles(col(textCol), shingleK).as("hs"))
      .withColumn("n", size(col("hs")))
      .filter(col("n") > 0) // see ngramJaccardPairs: no NaN-jac pairs
      .localCheckpoint(true)
    val (ps, bs) = (sk(probe), sk(build))
    val cand = CandidateGen.bandPrefixAcross(ps, bs, threshold, bucketWidth,
      maxLenDiff, bandOnlyMax, candidatesPerRow)
    // surface the linearity degrade exactly like the self family's
    // occupancy degrade (r12 advisory): precision stays 1, recall is
    // now the banding curve — production callers must be able to tell
    if (!cand.exact)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"ngramJaccardAcross: linearity degrade fired — estimated " +
          s"candidate bound ${cand.measuredBound} exceeds the " +
          s"$candidatesPerRow/row allowance (build side scaling with the " +
          s"corpus); emitting MinHash-LSH candidates instead " +
          s"(precision 1, recall = banding curve)")
    // see ngramJaccardPairs: prefix candidates may repeat per token
    cand.dedupeVerified(cand.pairs
      .join(ps.select(col("id").as("i"), col("n").as("n_i"),
        col("hs").as("hs_i")), Seq("i"))
      .join(maybeBroadcast(bs.select(col("id").as("j"), col("n").as("n_j"),
        col("hs").as("hs_j"))), Seq("j"))
      .select(col("i").as("probe_id"), col("j").as("build_id"),
        hashedJaccard(col("hs_i"), col("n_i"), col("hs_j"), col("n_j")).as("jac"))
      .filter(col("jac") >= threshold))
  }

  /** Exact set-similarity join by PREFIX FILTERING (the AllPairs/PPJoin
    * family — Bayardo et al. 2007, Xiao et al. 2008): every pair with
    * Jaccard ≥ tNum/tDen MUST share at least one token in its prefix
    * when all token sets are sorted by one global order (rarest-first
    * minimizes candidates) and each set keeps only its first
    * n − ⌈t·n⌉ + 1 tokens. Unlike MinHash-LSH this is EXACT (recall 1.0
    * by construction), and unlike the length-band block it needs no
    * length constraint — the complementary scale path when missing even
    * one true pair is unacceptable (contamination checks, licensing).
    *
    * The global order is engine-local: ANY total order gives complete
    * candidates, and the exact-Jaccard verification makes the final
    * pair set order-independent — so the oracle may rank by (df, gram
    * string) while this side ranks by (df, gram hash) with no result
    * difference. Threshold is a rational (tNum/tDen): prefix length and
    * the verify compare are pure integer arithmetic.
    *
    * Shape: shingle once (checkpointed), then candidates from
    * [[CandidateGen.prefixSelf]] (df join with size-gated broadcast, one
    * per-doc window for ranks, prefix self-join on the token with
    * fan-out bounded by prefix df), sorted-merge intersect kernel for
    * the verify.
    *
    * Two further EXACT candidate filters ride the self-join (both from
    * the AllPairs/PPJoin papers; each keeps a strict superset of the
    * true pairs, so output is untouched — DedupSpec pins equality with
    * brute force, including a low-entropy fuzz):
    *  - length filter: jac ≥ t ⇒ inter ≤ min(n_i,n_j) and
    *    union ≥ max(n_i,n_j), so t·max(n_i,n_j) ≤ min(n_i,n_j) —
    *    integer form tNum·n_bigger ≤ tDen·n_smaller;
    *  - positional filter: for the SMALLEST shared prefix token g*
    *    (rank r in each doc's global-order sort), every shared token
    *    orders ≥ g* — a smaller shared token would itself be a shared
    *    prefix token below g* — so inter ≤ 1 + min(n_i−r_i, n_j−r_j).
    *    jac ≥ tNum/tDen ⟺ inter·(tDen+tNum) ≥ tNum·(n_i+n_j), so rows
    *    whose positional bound can't reach that overlap are dropped;
    *    the g* row of every true pair always survives (its bound ≥ the
    *    real inter), and one surviving row keeps the pair. On a
    *    low-entropy corpus (hot high-df grams) this is the difference
    *    between candidates tracking TRUE pairs and candidates tracking
    *    df² of the hottest grams — measured 35.8 → 13.2 s on
    *    dedup_degree_stats at 10× bench data (and 3.1 → 1.6 s at
    *    sf0.1: the filters are conjuncts on the existing join, no new
    *    stage). */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      tNum: Long, tDen: Long, shingleK: Int = 3): DataFrame = {
    require(tNum > 0 && tNum <= tDen, "need 0 < tNum/tDen <= 1")
    val base = widenScan(df).select(col(idCol).as("id"),
        hashedShingles(col(textCol), shingleK).as("hs"))
      .withColumn("n", size(col("hs")))
      .filter(col("n") > 0)
      .localCheckpoint(true)
    val cands = CandidateGen.prefixSelf(base.select("id", "n", "hs"),
      tNum, tDen)
    // the candidate list is orders of magnitude larger than the per-doc
    // sketch table, so the verify sides ride size-gated broadcasts: at
    // bench scale that removes two candidate-sized shuffle exchanges, at
    // corpus scale the gate drops the hint and these are plain hash joins
    cands
      .join(maybeBroadcast(base.select(col("id").as("i"), col("hs").as("hs_i"),
        col("n").as("n_i"))), Seq("i"))
      .join(maybeBroadcast(base.select(col("id").as("j"), col("hs").as("hs_j"),
        col("n").as("n_j"))), Seq("j"))
      .withColumn("inter", sorted_intersect_count(col("hs_i"), col("hs_j")))
      .withColumn("uni", col("n_i") + col("n_j") - col("inter"))
      .filter(col("inter") * tDen >= lit(tNum) * col("uni"))
      .select(col("i"), col("j"), expr("inter * 1000L div uni").as("jac_milli"))
      // prefixSelf emits a pair once per qualifying shared prefix token;
      // deduping the verified output replaces a candidate-sized shuffle
      .distinct()
  }

  /** Asymmetric containment pairs (overlap coefficient over informative
    * shingles): |A∩B| / min(|A|,|B|) catches a short document QUOTED
    * inside a long one — invisible to every symmetric detector here
    * (Jaccard of a 50-token doc inside a 5000-token doc is ~1%, and the
    * length-band blocking above excludes the pair outright).
    *
    * Shape: shingle inverted index. Explode distinct shingles, drop
    * shingles with document frequency > `maxDf` (a shingle shared by
    * hundreds of documents is boilerplate, not evidence — and the cap
    * bounds every posting list, so the self-join fan-out is ≤ maxDf per
    * shingle occurrence instead of quadratic in the hottest key; the
    * C4/CCNet pipelines apply the same guard). Candidate pairs and their
    * intersection size then fall out of ONE groupBy over the self-joined
    * index; set sizes join back per side. Containment is integer
    * milli-units (exact division) over the SAME df-filtered universe on
    * both sides — sizes are computed after the cap, so the metric is
    * self-consistent and the oracle replays it. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      simMilliMin: Long = 800L, shingleK: Int = 3,
      maxDf: Int = 50): DataFrame = {
    // shingles hashed to longs right after the explode: every downstream
    // shuffle/join compares 8 bytes instead of a ~20-char string (same
    // negligible-collision contract as hashedShingles); the df-capped
    // index is checkpointed ONCE — sizes, probe side, and build side all
    // read the materialized 16-byte rows instead of re-running the
    // tokenize+explode+df-join lineage three more times
    val grams = widenScan(df)
      .select(col(idCol).as("id"),
        explode(tokenShingles(col(textCol), shingleK)).as("gram"))
      .select(col("id"), xxhash64(col("gram")).as("g"))
    val dfCounts = grams.groupBy("g").agg(count(lit(1)).as("__df"))
    val rare = grams
      .join(maybeBroadcast(dfCounts.filter(col("__df") <= maxDf)), Seq("g"))
      .select("id", "g")
      .localCheckpoint(true)
    val sizes = rare.groupBy("id").agg(count(lit(1)).as("sz"))
    val pairs = rare.select(col("g"), col("id").as("i"))
      .join(rare.select(col("g"), col("id").as("j")), Seq("g"))
      .filter(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("n_shared"))
    pairs
      .join(maybeBroadcast(sizes.select(col("id").as("i"), col("sz").as("sz_i"))), Seq("i"))
      .join(maybeBroadcast(sizes.select(col("id").as("j"), col("sz").as("sz_j"))), Seq("j"))
      .withColumn("containment_milli",
        expr("n_shared * 1000L div least(sz_i, sz_j)"))
      .filter(col("containment_milli") >= simMilliMin)
      .select("i", "j", "sz_i", "sz_j", "n_shared", "containment_milli")
  }

  /** MOSS-style winnowing-overlap pairs (Schleimer, Wilkerson, Aiken
    * 2003): two documents are near-dups when they share at least
    * `minShared` WINNOWED fingerprints — selected char-k-gram hashes, so
    * a match is evidence of verbatim 16-char runs at guaranteed density
    * (winnowing selects ≥ one gram per w-window). Complements the
    * token-shingle detectors: character-level, order-sensitive, and
    * local — a plagiarized passage lights up even when the global
    * Jaccard is diluted by surrounding text.
    *
    * Scale shape mirrors [[containmentPairs]]: per-doc fingerprints are
    * an equi-join key, hot fingerprints above `maxDf` docs are dropped
    * as boilerplate (bounds every posting list), the fingerprint table
    * is checkpointed once and feeds the df cap and both join sides, and
    * the pair aggregate moves ids only. */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
      minShared: Long = 3L, maxDf: Int = 50,
      assumeUniqueIds: Boolean = false): DataFrame = {
    // per-doc distinct hashes come straight from the codegen kernel —
    // no Scala-UDF row conversion, and (id, h) is distinct by
    // construction PROVIDED ids are unique, so the corpus-wide DISTINCT
    // shuffle disappears. That is an OPT-IN fast path: the default
    // keeps the explicit distinct, because a library caller with
    // repeated ids would otherwise silently get inflated fingerprint
    // document frequencies (hashes wrongly crossing the maxDf cap) and
    // double-counted n_shared. Call sites that guarantee uniqueness
    // (the declared queries feed fingerprint-deduped docs) pass
    // assumeUniqueIds = true to skip the shuffle.
    // coalesce mirrors the former UDF's null handling (winnowedRuns
    // treats null as "", which still fingerprints one empty run)
    val fp0 = widenScan(df).select(col(idCol).as("id"),
        explode(graft.expr.sketchFunctions.winnowed_hash_set(
          coalesce(col(textCol), lit("")))).as("h"))
    val fp = (if (assumeUniqueIds) fp0 else fp0.distinct())
      .localCheckpoint(true)
    val keep = fp.groupBy("h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
    val idx = fp.join(maybeBroadcast(keep.select("h")), Seq("h"))
    val a = fanout(idx.select(col("h"), col("id").as("i")))
    val b = idx.select(col("h"), col("id").as("j"))
    a.join(maybeBroadcast(b), Seq("h"))
      .filter(col("i") < col("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** MinHash + LSH near-dup pairs: signature banding proposes candidates,
    * exact shingle Jaccard verifies. numHashes = bands × rowsPerBand;
    * detection probability for true Jaccard s is 1-(1-s^r)^b
    * (64 = 16×4 → ≥0.9998 at s = 0.8). */
  def minHashNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleK: Int = 3, numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // the per-doc sketch table feeds three consumers (banding + both
    // sides of the verify join); persist it so the sketches are computed
    // once — at corpus scale this IS the materialize-sketches stage.
    // CALLER CONTRACT: the cache cannot be released from inside a lazy
    // plan — after materializing the result, call
    // `spark.catalog.clearCache()` (what Bench/Verify do).
    val base = widenScan(df).select(col(idCol),
      hashedShingles(col(textCol), shingleK).as("hs"),
      minhash_signature(col(textCol), shingleK, numHashes).as("sig"))
      .withColumn("n", size(col("hs")))
      .filter(col("n") > 0)
      .persist()

    // one (band_idx, band_key) row per band; key = hash of the band's slice
    val banded = base.select(col(idCol),
      posexplode(bandKeyArray(col("sig"), bands, r)).as(Seq("band_idx", "band_key")))

    val cand = CandidateGen.lshBandSelf(banded, idCol)

    val shA = base.select(col(idCol).as("i"), col("n").as("n_i"), col("hs").as("hs_i"))
    val shB = base.select(col(idCol).as("j"), col("n").as("n_j"), col("hs").as("hs_j"))
    cand.join(shA, "i").join(shB, "j")
      .select(col("i"), col("j"),
        hashedJaccard(col("hs_i"), col("n_i"), col("hs_j"), col("n_j")).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** One (band_idx, band_key) per band from a minhash signature; key =
    * hash of the band's r-row slice (shared by the self-join, the
    * incremental-index path, and CandidateGen's occupancy degrade so
    * all three bucket identically). */
  private[graft] def bandKeyArray(sig: Column, bands: Int, r: Int): Column =
    array((0 until bands).map(i => hash(slice(sig, i * r + 1, r), lit(i))): _*)

  /** Persisted MinHash-LSH corpus index: ONE sketch row per document
    * (id, n, hs, sig). Band keys derive from `sig` by slicing, so the
    * artifact stays O(corpus) rows and the banding layout can be
    * re-derived at load with zero re-shingling. Build once over the
    * corpus, then dedupe every incoming batch against it
    * ([[Dedup.minHashDedupeAgainst]]) — the incremental twin of
    * [[Dedup.minHashNearDups]], which re-sketches the full corpus on
    * every call. */
  case class MinHashIndex(sketches: DataFrame, idCol: String,
      shingleK: Int, numHashes: Int, bands: Int)

  /** Sketch a corpus into a [[MinHashIndex]] (no pair join happens here —
    * this is the offline build stage; one scan, no shuffle). */
  def minHashIndexBuild(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16): MinHashIndex = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sketches = df.select(col(idCol),
      hashedShingles(col(textCol), shingleK).as("hs"),
      minhash_signature(col(textCol), shingleK, numHashes).as("sig"))
      .withColumn("n", size(col("hs")))
      .filter(col("n") > 0)
    MinHashIndex(sketches, idCol, shingleK, numHashes, bands)
  }

  /** Persist an index: sketch rows + a one-row params table. */
  def minHashIndexSave(idx: MinHashIndex, path: String): Unit = {
    val spark = idx.sketches.sparkSession
    import spark.implicits._
    idx.sketches.write.mode("overwrite").parquet(s"$path/sketches")
    Seq((idx.idCol, idx.shingleK, idx.numHashes, idx.bands))
      .toDF("id_col", "shingle_k", "num_hashes", "bands")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  def minHashIndexLoad(spark: org.apache.spark.sql.SparkSession,
      path: String): MinHashIndex = {
    val p = spark.read.parquet(s"$path/params").collect()(0)
    MinHashIndex(spark.read.parquet(s"$path/sketches"),
      p.getString(0), p.getInt(1), p.getInt(2), p.getInt(3))
  }

  /** Near-dup pairs between a NEW batch and an already-indexed corpus —
    * the 100 TB incremental-ingest shape: only the batch is sketched
    * (the corpus work is amortized into the index build), the batch's
    * band rows broadcast against the index's derived band rows (the
    * index never shuffles for candidate generation), and the exact
    * hashed-Jaccard verify touches corpus sketch rows only for
    * candidate ids. Output: (batch_id, corpus_id, jac ≥ threshold);
    * identity pairs (same id on both sides) are excluded. */
  def minHashDedupeAgainst(idx: MinHashIndex, batch: DataFrame,
      batchIdCol: String, textCol: String, threshold: Double): DataFrame = {
    val r = idx.numHashes / idx.bands
    val batchSketch = minHashIndexBuild(batch, batchIdCol, textCol,
      idx.shingleK, idx.numHashes, idx.bands).sketches
      .select(col(batchIdCol).as("batch_id"), col("hs").as("hs_b"),
        col("sig"), col("n").as("n_b"))
    val batchBands = batchSketch.select(col("batch_id"),
      posexplode(bandKeyArray(col("sig"), idx.bands, r)).as(Seq("band_idx", "band_key")))
    val corpusBands = idx.sketches.select(col(idx.idCol).as("corpus_id"),
      posexplode(bandKeyArray(col("sig"), idx.bands, r)).as(Seq("band_idx", "band_key")))
    val cand = corpusBands.join(maybeBroadcast(batchBands), Seq("band_idx", "band_key"))
      .filter(col("corpus_id") =!= col("batch_id"))
      .select(col("batch_id"), col("corpus_id"))
      .distinct()
    cand
      .join(maybeBroadcast(batchSketch.select(col("batch_id"), col("hs_b"), col("n_b"))), Seq("batch_id"))
      .join(idx.sketches.select(col(idx.idCol).as("corpus_id"),
        col("hs").as("hs_c"), col("n").as("n_c")), Seq("corpus_id"))
      .select(col("batch_id"), col("corpus_id"),
        hashedJaccard(col("hs_b"), col("n_b"), col("hs_c"), col("n_c")).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** SimHash near-dup pairs: 64-bit token sketch; candidates share at least
    * one of four 16-bit chunks (pigeonhole guarantees recall for hamming ≤ 3;
    * verification filters to `maxHamming`). */
  def simHashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val base = df.select(col(idCol), simhash64(col(textCol)).as("sh"))
    val chunks = array((0 until 4).map(c =>
      shiftrightunsigned(col("sh"), 16 * c).bitwiseAND(lit(0xffffL))): _*)
    val banded = base.select(col(idCol), col("sh"),
      posexplode(chunks).as(Seq("chunk_idx", "chunk_val")))
    fanout(banded).as("a").join(maybeBroadcast(banded).as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("i"), col(s"b.$idCol").as("j"),
        col("a.sh").as("sh_i"), col("b.sh").as("sh_j"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sh_i ^ sh_j)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("i"), col("j"), col("hamming"))
  }

  /** Embedding near-dup pairs above a cosine threshold.
    *
    * Default path is multi-table hyperplane LSH: `nTables` independent
    * sign-pattern signatures of `nPlanes` bits each
    * ([[Vectors.hyperplaneBuckets]], seed-shifted per table); a pair is a
    * candidate iff it collides in at least one table, then the exact
    * cosine verifies. Collision probability per table for angle θ is
    * (1 − θ/π)^nPlanes, so recall = 1 − (1 − p)^nTables: ≈ 0.99 at
    * cos 0.95 with the 8×8 default, falling off for far pairs — which is
    * the correct trade for near-dup dedup (thresholds ≥ 0.8). Each join
    * is a bounded equi-join on (table, bucket): no all-pairs anywhere,
    * shuffle keyed by 2^nPlanes buckets per table.
    *
    * Bucket-capacity discipline (the 100× lesson): at FIXED nPlanes the
    * per-table bucket space is constant, so same-bucket occupancy grows
    * linearly with the corpus and candidate pairs grow QUADRATICALLY
    * (measured at 100× bench data: ~625M candidates vs ~9M true pairs —
    * candidate growth, not output growth, dominated the step). The
    * effective plane count therefore scales with the MEASURED corpus
    * size: planes = max(nPlanes, ⌈log₂(n / targetBucketOccupancy)⌉)
    * (capped at `maxPlanes`), which pins mean occupancy ≤
    * targetBucketOccupancy and makes expected candidates ≈
    * nTables · n · occupancy / 2 — linear in n. One count(1) scan pays
    * for the measurement (skipped when the caller passes `knownCount` —
    * the CandidateGen.measure pattern for loops that already know n).
    *
    * Recall is HELD, not silently spent, as planes grow: per-table
    * collision probability for angle θ is p = (1 − θ/π)^planes, so each
    * added plane multiplies p by (1 − θ/π) and a fixed table count
    * would lose recall as the corpus grows. The table count therefore
    * scales with the plane count — effTables = ⌈ln(1−R)/ln(1−p_eff)⌉
    * where R is the fixed-plane construction's recall at the anchor
    * cosine max(threshold, 0.9) (the "true near-dup" operating point:
    * at the 8×8 default and cos 0.9, R ≈ 0.94), clamped to
    * [nTables, maxTables]. THE PRICE IS EXPLICIT AND SUB-QUADRATIC:
    * tables grow like (1/f)^(effPlanes − nPlanes), i.e. T ∝
    * n^(log₂(1/f)) — the classic LSH ρ-exponent — so total candidate
    * work is Θ(n^1.22) at the anchor (measured: the sf1→sf10 step on
    * the bench embeddings is ~16× where fixed tables would step ~10×).
    * `scaleTables = false` pins effTables = nTables instead: work goes
    * LINEAR in n, and recall at the anchor decays by (1 − θ/π) per
    * added plane — the silent-at-scale trade the r11 advisory flagged;
    * choose it when throughput dominates and the operating pairs sit
    * far above the threshold (measure with `graft.Probe recall`).
    * Recall at the anchor is held ≥ R at every plane count until the
    * maxTables clamp binds — which at the DEFAULTS it never does: the
    * required table count is 37 at effPlanes 17 and 60 at the maxPlanes
    * cap of 20, both ≤ maxTables = 64 (DedupSpec pins the whole curve;
    * with a tighter maxTables = 32 the clamp first binds at effPlanes
    * 17 ≈ 8M rows). The silent edge at the defaults is therefore
    * `maxPlanes` itself: past n ≈ occupancy · 2^maxPlanes ≈ 67M rows
    * plane growth stops, bucket occupancy resumes growing linearly and
    * candidates quadratically — deployments beyond that raise
    * maxPlanes/maxTables together or pre-partition the corpus. Either
    * binding is SURFACED: [[lshEffParams]] reports it and
    * embeddingNearDups logs a warning. Below the gate (n ≤
    * targetBucketOccupancy · 2^nPlanes, all driver-shipped SFs)
    * effPlanes = nPlanes forces effTables = nTables — the output is
    * exactly the fixed-plane construction the oracle replays, whatever
    * the flags.
    *
    * `exhaustive = true` is the exact O(n²) baseline — the oracle shape
    * for tests and small corpora, a scale-killer beyond that (its
    * OUTPUT alone is Θ(n²) on clustered corpora: qualifying pairs
    * measure a constant ~5e-4 of all pairs on the bench embeddings at
    * threshold 0.4). The bounded-batch exact form that scales is
    * [[embeddingNearDupsAgainst]]. */
  /** The measured-size LSH parameter derivation of [[embeddingNearDups]]
    * — (effPlanes, effTables, clampBinds) — factored out so the
    * maxTables clamp's degrade curve is spec-pinned (DedupSpec): planes
    * grow with log₂(n/occupancy), tables grow to hold the fixed-plane
    * anchor recall R (the ρ-exponent cost), and `clampBinds` reports the
    * regime where maxTables is no longer enough to hold R — from there
    * recall decays with further growth and [[embeddingNearDups]] logs a
    * warning (the surfaced signal the scaladoc promises). */
  private[graft] def lshEffParams(n: Long, threshold: Double, nPlanes: Int,
      nTables: Int, targetBucketOccupancy: Long, maxPlanes: Int,
      maxTables: Int, scaleTables: Boolean): (Int, Int, Boolean) = {
    val effPlanes = math.max(nPlanes, math.min(maxPlanes,
      math.ceil(math.log(math.max(1.0,
        n.toDouble / targetBucketOccupancy)) / math.log(2.0)).toInt))
    // recall-holding table scaling (scaladoc): fixed-plane recall R at
    // the anchor cosine is the target the grown plane count must keep
    if (effPlanes == nPlanes || !scaleTables) (effPlanes, nTables, false)
    else {
      val anchor = math.max(threshold, 0.9)
      val f = 1.0 - math.acos(anchor) / math.Pi // per-plane survival
      val pFix = math.pow(f, nPlanes)
      val pEff = math.pow(f, effPlanes)
      val recall = 1.0 - math.pow(1.0 - pFix, nTables)
      val need = math.ceil(math.log(1.0 - recall) / math.log(1.0 - pEff))
      val effTables = math.min(maxTables, math.max(nTables, need.toInt))
      (effPlanes, effTables, need > maxTables)
    }
  }

  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, exhaustive: Boolean = false, dim: Int = 64,
      nPlanes: Int = 8, nTables: Int = 8, seed: Long = 42L,
      targetBucketOccupancy: Long = 64L, maxPlanes: Int = 20,
      maxTables: Int = 64, knownCount: Option[Long] = None,
      scaleTables: Boolean = true): DataFrame = {
    // widen a few-file scan BEFORE the banding compute: the per-row
    // hyperplane work (effTables × effPlanes × dim multiply-adds) runs
    // in the scan stage, whose effective parallelism is row-group-bound
    // — the r17-adjudicated true cause of the sf30 DNF (2 of 32 cores
    // busy; neither candidates nor skew, LSH_SKEW_r17.json)
    val withNorm = widenScan(df).select(col(idCol), col(vecCol),
      Vectors.norm(col(vecCol)).as("nrm"))
    if (exhaustive) {
      val a = fanout(withNorm.select(col(idCol).as("i"), col(vecCol).as("v_i"), col("nrm").as("n_i")))
      val b = withNorm.select(col(idCol).as("j"), col(vecCol).as("v_j"), col("nrm").as("n_j"))
      a.join(maybeBroadcast(b), col("i") < col("j"))
        .select(col("i"), col("j"),
          (dot_product(col("v_i"), col("v_j")) / (col("n_i") * col("n_j"))).as("cos"))
        .filter(col("cos") >= threshold)
        .select(col("i"), col("j"))
    } else {
      // measured-size plane scaling (see the scaladoc): one cheap
      // count(1) job, skipped when the caller already knows n; the
      // first nPlanes planes of each table are the fixed-plane
      // construction's, extras refine the same signature
      val n = knownCount.getOrElse(df.count())
      val (effPlanes, effTables, clampBinds) = lshEffParams(n, threshold,
        nPlanes, nTables, targetBucketOccupancy, maxPlanes, maxTables,
        scaleTables)
      // surface BOTH clamp regimes the way `Probe bound` surfaces the
      // candidate gates (r12 verdict #6): maxTables binding breaks the
      // recall hold; maxPlanes binding keeps recall but ends the
      // linear-candidates property (occupancy resumes growing)
      if (clampBinds)
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"embeddingNearDups: maxTables clamp binds (n=$n, " +
            s"effPlanes=$effPlanes needs more than maxTables=$maxTables " +
            s"tables to hold anchor recall) — recall at the anchor cosine " +
            s"now DEGRADES with further growth; raise maxTables or " +
            s"pre-partition the corpus")
      if (effPlanes == maxPlanes &&
          n > targetBucketOccupancy * (1L << maxPlanes))
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"embeddingNearDups: maxPlanes cap binds (n=$n > " +
            s"occupancy·2^$maxPlanes) — bucket occupancy now grows " +
            s"linearly and candidate pairs quadratically with further " +
            s"growth; raise maxPlanes (and maxTables) or pre-partition")
      val tableBuckets = array((0 until effTables).map { t =>
        Vectors.hyperplaneBuckets(col(vecCol),
          Vectors.hyperplanes(effPlanes, dim, seed + t))
      }: _*)
      val banded = withNorm.select(col(idCol), col(vecCol), col("nrm"),
        posexplode(tableBuckets).as(Seq("tbl", "bkt")))
      // distinct column names per side: self-join refs on a derived df
      // resolve to the SAME attribute and degrade to `true` (all-pairs)
      val a = fanout(banded.select(col("tbl").as("tbl_i"), col("bkt").as("bkt_i"),
        col(idCol).as("i"), col(vecCol).as("v_i"), col("nrm").as("n_i")))
      val b = banded.select(col("tbl").as("tbl_j"), col("bkt").as("bkt_j"),
        col(idCol).as("j"), col(vecCol).as("v_j"), col("nrm").as("n_j"))
      // broadcast by KNOWN size, not the optimizer estimate: banded rows
      // = n × effTables exactly, and the posexplode makes the plan's
      // sizeInBytes blind to the ×effTables fan-out — at sf10 the
      // estimate-gated hint commanded a ~1 GB broadcast build (measured
      // r17; the single-threaded build + 2× copy was most of that
      // query's 52.7 s). Row bytes: vec (dim × 4 + array overhead) +
      // id/norm/keys.
      val bandedBytes = n * effTables.toLong * (dim.toLong * 4 + 88)
      val bcThresh =
        df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      val bSized =
        if (bcThresh > 0 && bandedBytes <= bcThresh * 8) broadcast(b) else b
      a.join(bSized,
          col("tbl_i") === col("tbl_j") && col("bkt_i") === col("bkt_j") &&
            col("i") < col("j"))
        .select(col("i"), col("j"),
          (dot_product(col("v_i"), col("v_j")) / (col("n_i") * col("n_j"))).as("cos"))
        .filter(col("cos") >= threshold)
        .select(col("i"), col("j"))
        .distinct() // a pair may collide in several tables
    }
  }

  /** EXACT cosine near-dups of a bounded PROBE batch against the corpus
    * — the incremental-ingest shape ("which existing documents does
    * today's batch near-duplicate?") and the scale-safe exact twin of
    * `embeddingNearDups(exhaustive = true)`: the full-corpus exhaustive
    * form is Θ(n²) in OUTPUT alone on clustered corpora, while this is
    * one linear corpus scan with |probe| codegen'd dot products per row
    * — the probe batch is broadcast (its size is an ingest-batch
    * constant, not a function of corpus size), the corpus is never
    * shuffled. Returns (i = probe id, j = corpus id), i ≠ j, both
    * orientations when both ends are probes — a directed "query →
    * match" relation like the ann_* outputs.
    *
    * CALLER CONTRACT: `probe` must be bounded by construction (a batch,
    * a sample, an id cap) — a corpus-sized probe makes this the
    * exhaustive join. Restricted to probe×corpus with `i < j`,
    * the output equals the exhaustive baseline's restriction
    * (DedupSpec pins the equality). */
  def embeddingNearDupsAgainst(probe: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val p = broadcast(probe.select(col(idCol).as("i"),
      col(vecCol).as("v_i"), Vectors.norm(col(vecCol)).as("n_i")))
    val c = fanout(corpus.select(col(idCol).as("j"),
      col(vecCol).as("v_j"), Vectors.norm(col(vecCol)).as("n_j")))
    c.join(p, col("i") =!= col("j"))
      .select(col("i"), col("j"),
        (dot_product(col("v_i"), col("v_j")) / (col("n_i") * col("n_j"))).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("i"), col("j"))
  }

  /** Duplicated-span COVERAGE (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better" — their metric: the fraction of
    * a document's tokens inside an exact ≥w-token span that occurs
    * elsewhere in the corpus, at ANY alignment). Where
    * [[dedupTokenBlocks]] cuts fixed blocks, this slides a w-token
    * window at stride 1, marks every position whose gram occurs >1 time
    * corpus-wide, merges the (overlapping) w-wide intervals per document
    * with the classic running-max islands window, and reports covered
    * token counts — the signal a curation pipeline thresholds on.
    *
    * Scale shape: gram construction is columnar (one slide per doc);
    * the duplicate test is one gram-keyed count (map-side combined);
    * interval merging is one doc-keyed window over only the DUPLICATED
    * positions (a small fraction of the corpus). Integer arithmetic
    * end-to-end — engine-exact, SQL-replayable.
    *
    * Output: (id, dl, covered, dup_frac_milli) for every document
    * (covered = 0 when nothing repeats or dl < w). */
  def spanDupCoverage(df: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    require(w > 0, "span width must be positive")
    val toks = df.select(col(idCol), split(trim(col(textCol)), "\\s+").as("__w"))
      .select(col(idCol), col("__w"), size(col("__w")).as("dl"))
    // grams from the codegen sliding-window kernel; md5 moves AFTER the
    // explode, where it stays codegen (the former transform(sequence(...))
    // spelling interpreted md5+slice+concat per gram)
    val grams = df
      .select(col(idCol), posexplode(
          graft.expr.sketchFunctions.sliding_grams(col(textCol), w))
        .as(Seq("__p0", "__gs")))
      .select(col(idCol), (col("__p0") + 1).as("pos"),
        md5(col("__gs")).as("gram"))
    // corpus-wide duplicate test: total occurrences of the gram (same-doc
    // repeats count — a doc repeating its own span is duplication too).
    // groupBy, not count-over-window: the partial count combines map-side
    // and only the (small) duplicated-gram set survives to the join —
    // a window would sort-shuffle the full stride-1 gram stream
    val dupGrams = grams.groupBy("gram").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1)
      .select("gram")
    val dupPos = grams.join(maybeBroadcast(dupGrams), Seq("gram"), "left_semi")
      .select(col(idCol), col("pos"))
    // islands: a new island starts when pos exceeds every prior span end
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevMax = max(col("pos") + (w - 1)).over(
      byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val islands = dupPos
      .withColumn("__new", when(prevMax.isNull || col("pos") > prevMax, 1)
        .otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__isl"))
      .agg((max(col("pos")) + (w - 1) - min(col("pos")) + 1).as("__len"))
      .groupBy(col(idCol))
      .agg(sum(col("__len")).as("covered"))
    toks.select(col(idCol), col("dl"))
      .join(islands.select(col(idCol), col("covered")), Seq(idCol), "left")
      .withColumn("covered", coalesce(col("covered"), lit(0L)))
      .withColumn("dup_frac_milli",
        floor(lit(1000) * col("covered").cast("double") / col("dl").cast("double"))
          .cast("long"))
  }

  /** C4-style exact SPAN dedup (Raffel et al. 2020 §2.2 deduplicate
    * "three-sentence spans"; Lee et al. 2021 argue for substring-level):
    * documents are cut into consecutive non-overlapping `blockTokens`-token
    * blocks, every block that appeared earlier in the corpus (first
    * occurrence = smallest (doc_id, block_idx)) is DELETED, and each
    * document is reassembled from its surviving blocks — so shared
    * boilerplate paragraphs vanish corpus-wide while each document keeps
    * its unique content, unlike doc-level dedup which is all-or-nothing.
    *
    * Scale shape: block construction is a pure columnar generate (no
    * shuffle); the keep/drop decision is ONE window over blocks keyed by
    * the block's md5 (hash-partitioned — a duplicate-heavy corpus skews
    * no worse than its most-repeated block); reassembly is one grouped
    * sort-by-ordinal per doc. Two shuffles total, each on bounded rows
    * (≈ tokens/blockTokens per doc).
    *
    * Output: (id, n_blocks, n_kept, text_deduped) — text_deduped empty
    * when every block was seen earlier (an exact duplicate of prior docs).
    */
  /** (id, block_idx, block): consecutive non-overlapping
    * `blockTokens`-token blocks of each document — the shared cut under
    * [[dedupTokenBlocks]] and [[stripBoilerplateBlocks]]. Pure columnar
    * generate, no shuffle. */
  private def tokenBlocks(df: DataFrame, idCol: String, textCol: String,
      blockTokens: Int): DataFrame = {
    require(blockTokens > 0, "blockTokens must be positive")
    // non-overlapping blocks ARE token windows at stride == size — reuse
    // the codegen chunk kernel (the former transform(sequence(...))
    // spelling interpreted slice+concat per block)
    df.select(col(idCol), posexplode(graft.expr.sketchFunctions
        .chunk_windows(col(textCol), blockTokens, blockTokens))
      .as(Seq("block_idx", "block")))
  }

  /** Reassemble documents from blocks marked with a boolean `__keep`:
    * (id, n_blocks, n_kept, <outCol> = kept blocks rejoined in order). */
  private def reassembleBlocks(marked: DataFrame, idCol: String,
      outCol: String): DataFrame =
    marked.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(filter(
            collect_list(struct(col("block_idx"), col("__keep"), col("block"))),
            s => s.getField("__keep"))),
          s => s.getField("block"))).as(outCol))

  def dedupTokenBlocks(df: DataFrame, idCol: String, textCol: String,
      blockTokens: Int): DataFrame = {
    val blocks = tokenBlocks(df, idCol, textCol, blockTokens)
    val w = Window.partitionBy(md5(col("block")))
      .orderBy(col(idCol).asc, col("block_idx").asc)
    val kept = blocks
      .withColumn("__rk", row_number().over(w))
      .withColumn("__keep", col("__rk") === 1)
    reassembleBlocks(kept, idCol, "text_deduped")
  }

  /** CCNet/RefinedWeb-style BOILERPLATE strip, at block granularity: a
    * block whose DOCUMENT FREQUENCY exceeds `maxDocs` is boilerplate
    * (cookie banners, navigation, license headers — text that identifies
    * a TEMPLATE, not a document) and is removed from EVERY document —
    * including the first, unlike [[dedupTokenBlocks]]' keep-first rule,
    * because boilerplate has no "original" worth keeping. The reference
    * corpus is line-structured web text; on the single-line test corpus
    * the fixed token cut plays the line role (the paper's unit is
    * whichever structural span the corpus has).
    *
    * Scale shape: the df-count is a partial-aggregated shuffle on the
    * block hash; the BOILERPLATE SET is then tiny by construction (a
    * block must repeat across > maxDocs docs to enter), so the strip is
    * a broadcast-friendly anti-join marking — the corpus never shuffles
    * a second time. Output: (id, n_blocks, n_kept, text_clean). */
  def stripBoilerplateBlocks(df: DataFrame, idCol: String, textCol: String,
      blockTokens: Int, maxDocs: Int): DataFrame = {
    require(maxDocs >= 1, "maxDocs must be >= 1")
    val blocks = tokenBlocks(df, idCol, textCol, blockTokens)
    val boiler = blocks
      .groupBy(md5(col("block")).as("__bh"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") > maxDocs)
      .select(col("__bh"), lit(true).as("__boiler"))
    val marked = blocks.withColumn("__bh", md5(col("block")))
      .join(ScaleHints.maybeBroadcast(boiler), Seq("__bh"), "left")
      .withColumn("__keep", col("__boiler").isNull)
    reassembleBlocks(marked, idCol, "text_clean")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means-cluster the
    * embedding space, then dedup WITHIN each cluster — same-cell pairs
    * with cosine ≥ `threshold` form semantic-duplicate groups, and each
    * group keeps the single member with the LOWEST cosine to its cluster
    * centroid (the paper's keep rule: survivors are the boundary
    * examples, the archetype everyone duplicates is dropped).
    *
    * Scale shape: the cluster id is the blocking key — candidate
    * generation is an equi-join on `cell` (the bounded-shuffle shape of
    * every LSH family here), never all-pairs; k-means fits on a bounded
    * sample inside [[Vectors.ivfBuild]] and assignment is one map pass.
    * Cross-cluster duplicates are invisible by construction — the
    * algorithm's stated recall trade (pinned vs the exact O(n²) baseline
    * in DedupSpec).
    *
    * Output: one row per document that belongs to a semantic-dup group —
    * (id, cell, group, centroid_cos_milli, keep). Docs in no group are
    * implicitly kept. Deterministic given `seed`: group = min member id,
    * survivor tie-break is (centroid_cos, id). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int = 16, seed: Long = 42L): DataFrame =
    semanticDedup(Vectors.ivfBuild(df, idCol, vecCol, nCells, seed = seed),
      threshold)

  /** The within-cell cosine pair stage of [[semanticDedup]], exposed so
    * its join shape is independently plan-checkable — the components
    * tail checkpoints lineage per round, which would hide a degraded
    * pair join from the final plan. Output: (i, j) with i < j, cosine ≥
    * `threshold`, same-cell only. */
  def semanticPairs(idx: Vectors.IvfIndex, threshold: Double): DataFrame = {
    // assigned: (cid, cv, cn, cell) from ivfBuild
    val docs = idx.assigned
      .withColumn("cvd", col("cv").cast("array<double>"))
    val a = fanout(docs.select(col("cell"), col("cid").as("i"),
      col("cvd").as("v_i"), col("cn").as("n_i")))
    val b = docs.select(col("cell").as("cell_j"), col("cid").as("j"),
      col("cvd").as("v_j"), col("cn").as("n_j"))
    a.join(maybeBroadcast(b),
        col("cell") === col("cell_j") && col("i") < col("j"))
      .select(col("i"), col("j"),
        (dot_product(col("v_i"), col("v_j")) / (col("n_i") * col("n_j"))).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("i"), col("j"))
  }

  /** SemDeDup over a PREBUILT (or [[Vectors.ivfLoad]]-ed) quantizer —
    * the corpus-scale entry point: the k-means fit is an offline
    * artifact shared with the ANN index, so a dedup run costs only the
    * within-cell pair join + components, never a refit. */
  def semanticDedup(idx: Vectors.IvfIndex, threshold: Double): DataFrame = {
    val spark = idx.assigned.sparkSession
    import spark.implicits._
    val centroids = idx.centroids
      .map { case (vec, cell) => (cell, vec) }.toSeq
      .toDF("cell", "centroid")
      .withColumn("c_norm", Vectors.norm(col("centroid")))
    val docs = idx.assigned
      .withColumn("cvd", col("cv").cast("array<double>"))
    val groups = Components.connectedComponents(semanticPairs(idx, threshold))
    val withCentroidCos = groups
      .join(docs.select(col("cid").as("node"), col("cvd"), col("cn"), col("cell")), Seq("node"))
      .join(broadcast(centroids), Seq("cell"))
      .select(col("node"), col("cell"), col("component").as("group"),
        floor(lit(1000) * dot_product(col("cvd"), col("centroid")) /
          (col("cn") * col("c_norm"))).cast("long").as("centroid_cos_milli"))
    val w = Window.partitionBy(col("group"))
      .orderBy(col("centroid_cos_milli").asc, col("node").asc)
    withCentroidCos
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("node").as("id"), col("cell"), col("group"),
        col("centroid_cos_milli"), col("keep"))
  }
}
