package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The ONE candidate-generation layer behind every pair-join operator
  * (dedup, fuzzy match, decontamination). The repo grew four generators —
  * length-band blocking, AllPairs/PPJoin prefix filtering, MinHash-LSH
  * banding, and the distinct-string front — each chosen ad hoc per query;
  * this facade owns the choice so a new pair query is scale-right by
  * default instead of quadratic-by-accident (the round-9 sf1 sweep caught
  * three such plans).
  *
  * Contracts:
  *  - every `*Self`/`*Across` method returns CANDIDATE ids only — an exact
  *    SUPERSET of the qualifying pairs under its documented predicate; the
  *    caller always re-verifies with the exact measure, so routing a query
  *    through a different generator can never change its output, only its
  *    cost;
  *  - candidate cardinality must be bounded by something that does not grow
  *    quadratically with corpus size: prefix-token document frequency here,
  *    band-key occupancy for LSH, distinct-string vocabulary for the edit
  *    family ([[FuzzyJoin]]).
  *
  * Strategy choice is driven by measured stats, not guesses: [[measure]]
  * reads duplication ratio + string length in one aggregate, and
  * [[similaritySelfPairs]] derives its PassJoin radius from the measured
  * max length (the difflib-ratio→edit-distance lemma, see
  * SparkEntry `f12_similarity_scale`).
  */
object CandidateGen {

  import ScaleHints.{fanout, maybeBroadcast}

  /** Measured corpus stats, one aggregate scan. `maxLen` bounds the
    * PassJoin radius in [[similaritySelfPairs]]; `dupFactor` is
    * diagnostic — it quantifies how much the distinct-string front
    * inside FuzzyJoin.selfPairsExact divides the candidate work
    * (by dupFactor², and the front is ~free when it is 1, so the front
    * is applied unconditionally rather than gated on it). */
  final case class StringStats(rows: Long, approxDistinct: Long, maxLen: Int) {
    def dupFactor: Double =
      if (approxDistinct == 0) 1.0 else rows.toDouble / approxDistinct
  }

  def measure(df: DataFrame, strCol: String): StringStats = {
    val r = df.agg(count(lit(1)), approx_count_distinct(col(strCol)),
      coalesce(max(length(col(strCol))), lit(0)).cast("int")).head()
    StringStats(r.getLong(0), r.getLong(1), r.getInt(2))
  }

  // ── Jaccard family ────────────────────────────────────────────────────

  /** Rarest-token prefix per document (AllPairs/PPJoin, Bayardo 2007 /
    * Xiao 2008): under ANY global token order, two sets with Jaccard ≥ t
    * must share a token among each side's first n − ⌈t·n⌉ + 1 tokens.
    * The order used is (document frequency asc, token asc) — rarest-first
    * minimizes candidate fan-out, and the exact verify makes the result
    * order-independent. `t` is a double here, so the prefix length uses
    * n − ⌊t·n⌋ + 1: one token LONGER than required exactly when t·n is
    * integral — ⌈⌉ on an inexact double product could round UP past the
    * true ceiling and shave the prefix by one, silently voiding the
    * recall contract; ⌊⌋ only ever widens the candidate superset.
    *
    * Input sketch contract: columns (id, len, n, hs) with `hs` the
    * distinct hashed-shingle array and n = size(hs). Output:
    * (id, len, n, g, __r) — one row per prefix token, with the token's
    * rank for the positional filter below. */
  private[graft] def prefixTokens(sketch: DataFrame, threshold: Double,
      gdf: DataFrame): DataFrame = {
    val w = Window.partitionBy("id").orderBy(col("__df").asc, col("g").asc)
    sketch.select(col("id"), col("len"), col("n"), explode(col("hs")).as("g"))
      .join(maybeBroadcast(gdf), Seq("g"))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <=
        col("n") - floor(lit(threshold) * col("n")).cast("int") + 1)
      .select("id", "len", "n", "g", "__r")
  }

  /** The AllPairs size-ratio + PPJoin positional candidate filters as one
    * conjunct over a prefix-token join row (see Dedup.prefixJaccardPairs
    * for the integer-threshold derivation; here the threshold is a
    * double, so both comparisons carry an epsilon of slack — slack only
    * ever ADMITS a boundary candidate, and the caller's exact verify
    * rejects it):
    *  - size ratio: jac ≥ t ⇒ t·max(n_i,n_j) ≤ min(n_i,n_j);
    *  - positional: for the smallest shared prefix token (rank r each
    *    side) every shared token orders ≥ it, so
    *    inter ≤ 1 + min(n_i−r_i, n_j−r_j), and jac ≥ t ⟺
    *    inter·(1+t) ≥ t·(n_i+n_j). The minimal-token row of a true pair
    *    always passes, and one surviving row keeps the pair. */
  private def sizePositionalFilter(threshold: Double): Column = {
    val eps = 1e-7
    lit(threshold) * col("n_i") <= col("n_j") + eps &&
      lit(threshold) * col("n_j") <= col("n_i") + eps &&
      (lit(1) + least(col("n_i") - col("r_i"), col("n_j") - col("r_j"))) *
        lit(1.0 + threshold) >= lit(threshold) * (col("n_i") + col("n_j")) - eps
  }

  private[graft] def gramDf(sketches: DataFrame*): DataFrame =
    sketches.map(_.select(explode(col("hs")).as("g")))
      .reduce(_ unionAll _)
      .groupBy("g").agg(count(lit(1)).as("__df"))

  /** Band-candidate budget for the measured strategy choice below: the
    * prefix machinery (gram-df aggregate + per-doc rank window + a
    * distinct over multi-token hits) costs a few fixed shuffles, which
    * at MB scale outweighs just verifying every in-band pair — measured
    * 2× on the sf0.1 bench. The crossover is where the verify kernel
    * over the extra band-only candidates (an O(|hs|) sorted merge each)
    * stops being cheaper than those fixed stages; 8M pairs ≈ a few
    * seconds of verify on 32 cores, comfortably past it. Below the
    * budget band-only is chosen (and is the FASTER exact plan, not a
    * shortcut — both generators are exact supersets, so the choice can
    * never change output, only cost). Overridable per call so specs can
    * force either path (0 ⇒ always prefix, Long.MaxValue ⇒ always band).
    * Measured bounds on the bench corpora: documents self-join 4.6M at
    * sf0.1 (band-only, the cheap regime) vs 462M at 10× data (prefix —
    * the band-only plan there measured 23×). */
  val defaultBandOnlyMaxCandidates: Long = 8L * 1000 * 1000

  /** Candidate (i, j) pairs plus whether the generating join can emit
    * the same pair more than once: the prefix branch emits one row per
    * qualifying shared prefix token, the band-only branch is distinct by
    * construction. Callers dedupe their VERIFIED output exactly when
    * `mayRepeat` — an unconditional distinct would pay a wasted shuffle
    * of the verified pair set in the (common at bench scale) band-only
    * regime.
    *
    * `exact = false` marks the occupancy-triggered MinHash-LSH degrade
    * (see [[bandPrefixSelf]]): candidates are then the banding
    * approximation, not a proven superset — precision stays 1 (the
    * caller's exact verify is unchanged) but recall is the banding
    * curve. `measuredBound` carries the pre-run candidate bound that
    * triggered the decision, for logs/artifacts; `boundEstimated` marks
    * it as the sampled fast-gate estimate rather than the exact
    * measured join size (see [[estimatePrefixCandidateBound]]). */
  final case class CandidatePairs(pairs: DataFrame, mayRepeat: Boolean,
      exact: Boolean = true, measuredBound: Long = -1L,
      boundEstimated: Boolean = false) {
    /** The caller's post-verify dedupe, applied only when needed. */
    def dedupeVerified(verified: DataFrame): DataFrame =
      if (mayRepeat) verified.distinct() else verified
  }

  /** Budget for the PREFIX branch's own candidate bound — the
    * second-stage gate behind [[defaultBandOnlyMaxCandidates]]. On a
    * low-entropy corpus (tiny vocabulary → every gram high-df) even the
    * rarest-first prefix conjunct is intrinsically quadratic: the bound
    * below counts the rows the (bucket, prefix-token) join WILL emit,
    * and past this budget the join is not a plan problem but a DATA
    * property — no exact prefix-filter plan can emit fewer rows than
    * its candidate count. The degrade swaps the generator for
    * MinHash-LSH banding over the SAME sketch (identical banding to
    * [[graft.ops.Dedup.minHashNearDups]], 64 hashes × 16 bands):
    * candidates become linear in n (band-key occupancy bounded), the
    * caller's exact verify is unchanged — precision stays 1, recall
    * becomes the banding curve 1−(1−s⁴)¹⁶ (≥ 0.9998 at s = 0.8, 0.64
    * at s = 0.5). The output is no longer a proven-exact pair set, so
    * the switch is surfaced via [[CandidatePairs.exact]] and gated FAR
    * above every driver-shipped SF (sf0.1 documents measure 4.6M
    * band-only / fewer prefix candidates; the budget is 2×10⁹ —
    * ~2,000 s of verify kernel on 32 cores if paid, i.e. the gate
    * triggers only where the exact path would not finish at all). */
  val defaultPrefixMaxCandidates: Long = 2L * 1000 * 1000 * 1000

  /** Rows the (bucket, prefix-token) self-join will emit, measured
    * BEFORE launching it: per (token g, bucket b) occupancy n_gb, the
    * probe side's 3-bucket explode meets build rows in b−1/b/b+1, so
    * Σ_{g,b} n_gb·(n_{g,b−1} + n_gb + n_{g,b+1}) counts emitted rows
    * exactly (each unordered pair ≤ 2×, before the i<j / length /
    * positional conjuncts — a conservative overcount only ever pays
    * the degrade early on corpora already past the budget's order of
    * magnitude). One aggregate + one per-token window over the
    * (materialized) prefix table. */
  private[graft] def prefixCandidateBound(prefix: DataFrame, bucketWidth: Int): Long = {
    val occ = prefix.groupBy(col("g"),
        floor(col("len") / bucketWidth).cast("long").as("b"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("g").orderBy(col("b"))
    occ
      .withColumn("n_prev", when(lag(col("b"), 1).over(w) === col("b") - 1,
        lag(col("n"), 1).over(w)).otherwise(lit(0L)))
      .withColumn("n_next", when(lead(col("b"), 1).over(w) === col("b") + 1,
        lead(col("n"), 1).over(w)).otherwise(lit(0L)))
      .agg(coalesce(sum(col("n") * (col("n_prev") + col("n") + col("n_next"))),
        lit(0L)).cast("long"))
      .head().getLong(0)
  }

  /** Sampled estimate of [[prefixCandidateBound]] WITHOUT building the
    * full prefix table — the fast upper-confidence gate ahead of the
    * occupancy degrade (r13 verdict: when the degrade fires, the full
    * prefix build existed only to measure its own bound, ~20% of the
    * sf10 query discarded).
    *
    * Doc-sample at rate f, build the (small) sampled prefix, and correct
    * the sampled bound back to full scale: a cell with true occupancy n
    * samples Binomial(n, f), so E[n_s²] = f²n² + f(1−f)n and cross terms
    * E[n_s·m_s] = f²·n·m (docs sampled independently) — summing,
    * E[S_s] = f²·S + f(1−f)·P with S the true bound and P the true
    * prefix-row count, giving the unbiased estimator
    * (S_s − (1−f)·P_s) / f² (P̂ = P_s/f). At f = 1 this is EXACTLY
    * [[prefixCandidateBound]] (DedupSpec pins that identity).
    *
    * Per-doc prefix lengths are exact (`n` rides the sampled rows);
    * only the rarest-first ORDER comes from sampled df — fine for a
    * gate, the decision carries an 8× margin (see [[bandPrefixSelf]]).
    * Sampling is seed-fixed, so the plan choice is deterministic for a
    * given partitioning. */
  private[graft] def estimatePrefixCandidateBound(sketch: DataFrame,
      threshold: Double, bucketWidth: Int, fraction: Double,
      seed: Long = 42L): Long = {
    require(fraction > 0 && fraction <= 1.0, "need 0 < fraction <= 1")
    val s = if (fraction >= 1.0) sketch
            else sketch.sample(withReplacement = false, fraction, seed)
    val prefix = prefixTokens(s, threshold, gramDf(s))
    val occ = prefix.groupBy(col("g"),
        floor(col("len") / bucketWidth).cast("long").as("b"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("g").orderBy(col("b"))
    val r = occ
      .withColumn("n_prev", when(lag(col("b"), 1).over(w) === col("b") - 1,
        lag(col("n"), 1).over(w)).otherwise(lit(0L)))
      .withColumn("n_next", when(lead(col("b"), 1).over(w) === col("b") + 1,
        lead(col("n"), 1).over(w)).otherwise(lit(0L)))
      .agg(
        coalesce(sum(col("n") * (col("n_prev") + col("n") + col("n_next"))),
          lit(0L)).cast("long"),
        coalesce(sum(col("n")), lit(0L)).cast("long"))
      .head()
    val sS = r.getLong(0).toDouble
    val pS = r.getLong(1).toDouble
    val est = (sS - (1.0 - fraction) * pS) / (fraction * fraction)
    if (est <= 0) 0L
    else if (est >= Long.MaxValue.toDouble) Long.MaxValue
    else est.toLong
  }

  /** Fast-gate tuning (see [[bandPrefixSelf]]): the sampled estimate
    * fires the degrade WITHOUT the full prefix build only when it is
    * `fastGateMargin` past the budget — the ambiguous middle keeps the
    * exact measured decision. Margin 8 vs the measured estimator error
    * (`Probe bound` at sf10: estimate within ~1.3× of the exact bound at
    * f = 0.02) keeps a corpus genuinely under budget from being
    * degraded by sampling noise. */
  private[graft] val fastGateMargin = 8L
  private[graft] val fastGateSampleTarget = 20000.0

  /** MinHash-LSH degrade candidates over a Jaccard sketch (id, len, n,
    * hs): signatures straight from the hashed shingle sets (the codegen
    * [[graft.expr.sketchFunctions.minhash_from_hashes]] kernel —
    * bit-identical to re-sketching the text), banded exactly like
    * [[graft.ops.Dedup.minHashNearDups]]. Returns distinct (i, j),
    * i < j. */
  private def lshDegradeSelf(sketch: DataFrame,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val r = numHashes / bands
    val banded = sketch.select(col("id"),
      posexplode(Dedup.bandKeyArray(
        graft.expr.sketchFunctions.minhash_from_hashes(col("hs"), numHashes),
        bands, r)).as(Seq("band_idx", "band_key")))
    lshBandSelf(banded, "id")
  }

  /** Upper bound on band-only candidate pairs: every pair the 3-bucket
    * probe join can emit lies in (b, b) or (b, b±1), so Σ_b n_b·(n_{b−1}
    * + n_b + n_{b+1}) / 1 bounds it (each unordered pair counted ≤ 2×,
    * we keep the over-count — a conservative gate only ever pays the
    * prefix stages early). One tiny aggregate over the sketch. */
  private[graft] def bandCandidateBound(sketch: DataFrame, bucketWidth: Int): Long = {
    val occ = sketch.groupBy(floor(col("len") / bucketWidth).cast("long")
        .as("b")).agg(count(lit(1)).as("n"))
    val nb = col("n") * coalesce(col("n_prev"), lit(0L)) +
      col("n") * col("n") + col("n") * coalesce(col("n_next"), lit(0L))
    val w = Window.orderBy(col("b"))
    occ.withColumn("n_prev", lag(col("n"), 1).over(w))
      .withColumn("n_next", lead(col("n"), 1).over(w))
      .agg(coalesce(sum(nb), lit(0L)).cast("long")).head().getLong(0)
  }

  /** Exact candidates for {jaccard ≥ threshold ∧ |len_i − len_j| ≤
    * maxLenDiff} over ONE corpus, strategy chosen by MEASURED bucket
    * occupancy:
    *
    *  - small in-band pair space (≤ [[bandOnlyMaxCandidates]], from
    *    [[bandCandidateBound]]): plain length-band equi-join — every
    *    in-band pair is a candidate, cheapest at bench scale;
    *  - otherwise: (length bucket, prefix token) equi-join. The band
    *    alone bounds WHICH pairs are compared but not HOW MANY —
    *    same-bucket occupancy grows linearly with the corpus, so
    *    band-only candidates grow quadratically (measured 23× at 10×
    *    data). The rarest-first prefix conjunct (AllPairs lemma, see
    *    [[prefixTokens]]) caps fan-out by prefix-token document
    *    frequency, which tracks TRUE pairs, not bucket sizes.
    *
    * Both generators are exact supersets of the qualifying pairs, so the
    * choice affects cost only, never output (DedupSpec pins equality).
    * A SECOND measured gate guards the prefix branch itself: when the
    * (bucket, prefix-token) join's own emitted-row count — measured
    * before launching it ([[prefixCandidateBound]]) — exceeds
    * `prefixMax`, exact candidates are a property of the DATA (tiny
    * vocabulary ⇒ hot grams) and the generator degrades to MinHash-LSH
    * banding over the same sketch ([[defaultPrefixMaxCandidates]] for
    * the recall contract; `CandidatePairs.exact = false`).
    * Probe side explodes to 3 buckets so |len diff| ≤ maxLenDiff <
    * bucketWidth stays an equi hash join (no nested-loop range join);
    * i < j keeps one orientation. Sketch contract as [[prefixTokens]]
    * (and it should be materialized by the caller — the occupancy gate
    * and both join sides re-read it); returns (i, j). */
  def bandPrefixSelf(sketch: DataFrame, threshold: Double,
      bucketWidth: Int, maxLenDiff: Int,
      bandOnlyMax: Long = defaultBandOnlyMaxCandidates,
      prefixMax: Long = defaultPrefixMaxCandidates): CandidatePairs = {
    require(maxLenDiff < bucketWidth, "band trick needs maxLenDiff < bucketWidth")
    val bkt = floor(col("len") / bucketWidth).cast("long")
    val bandBound = bandCandidateBound(sketch, bucketWidth)
    if (bandBound <= bandOnlyMax) {
      // each unordered in-band pair joins from exactly one orientation
      // (the i<j side probing the other's home bucket), so the output
      // is already distinct — no dedupe pass
      val probe = fanout(sketch
          .withColumn("bkt", explode(array(bkt - 1, bkt, bkt + 1))))
        .select(col("bkt"), col("id").as("i"), col("len").as("len_i"))
      val build = sketch.withColumn("bkt", bkt)
        .select(col("bkt"), col("id").as("j"), col("len").as("len_j"))
      CandidatePairs(probe.join(maybeBroadcast(build), Seq("bkt"))
        .filter(col("i") < col("j") &&
          abs(col("len_i") - col("len_j")) <= maxLenDiff)
        .select("i", "j"), mayRepeat = false)
    } else {
      // Fast upper-confidence gate (r13 verdict #1): when the degrade is
      // going to fire anyway, the full prefix build below exists only to
      // measure its own bound and is then discarded (~20% of the sf10
      // query). A doc-sampled estimate of the same bound costs ~1/50th;
      // if it lands CLEARLY past budget (×fastGateMargin) skip straight
      // to the LSH candidates. Triggered only when the (already
      // measured, free) band bound signals a corpus at degrade scale —
      // bandBound < prefixMax means the estimate would be pure overhead
      // on a corpus the exact path almost certainly keeps (a prefix
      // bound over budget then needs per-pair token multiplicity >
      // prefixMax/bandBound > 1; if that pathological corpus appears,
      // the exact measured gate below still catches it — only the
      // build-then-discard waste is paid, i.e. today's behavior).
      val fastEst =
        if (prefixMax < Long.MaxValue / fastGateMargin &&
            bandBound >= prefixMax) {
          val rows = sketch.count()
          val f = math.min(0.05,
            math.max(0.005, fastGateSampleTarget / math.max(rows, 1L)))
          estimatePrefixCandidateBound(sketch, threshold, bucketWidth, f)
        } else -1L
      if (fastEst > fastGateMargin * prefixMax) {
        val lsh = lshDegradeSelf(sketch)
          .join(maybeBroadcast(sketch.select(col("id").as("i"),
            col("len").as("len_i"))), Seq("i"))
          .join(maybeBroadcast(sketch.select(col("id").as("j"),
            col("len").as("len_j"))), Seq("j"))
          .filter(abs(col("len_i") - col("len_j")) <= maxLenDiff)
          .select("i", "j")
        return CandidatePairs(lsh, mayRepeat = false,
          exact = false, measuredBound = fastEst, boundEstimated = true)
      }
      // prefix table materialized ONCE: the candidate bound below and
      // BOTH sides of the candidate join read it (lazily it would run
      // the gram-df join + rank window three times)
      val prefix = prefixTokens(sketch, threshold, gramDf(sketch))
        .localCheckpoint(true)
      val bound = prefixCandidateBound(prefix, bucketWidth)
      if (bound > prefixMax) {
        // occupancy degrade (see defaultPrefixMaxCandidates): the
        // measured join size says exact prefix candidates are a data
        // property, not a plan defect — switch to MinHash-LSH banding
        // over the same sketch, exact=false surfaces the recall trade.
        // The band join's |len diff| conjunct moves into the candidate
        // tail (the banded pair set is small) so the caller's declared
        // predicate {jac ≥ t ∧ lenDiff ≤ maxLenDiff} is unchanged.
        val lsh = lshDegradeSelf(sketch)
          .join(maybeBroadcast(sketch.select(col("id").as("i"),
            col("len").as("len_i"))), Seq("i"))
          .join(maybeBroadcast(sketch.select(col("id").as("j"),
            col("len").as("len_j"))), Seq("j"))
          .filter(abs(col("len_i") - col("len_j")) <= maxLenDiff)
          .select("i", "j")
        CandidatePairs(lsh, mayRepeat = false,
          exact = false, measuredBound = bound)
      } else {
        val probe = fanout(prefix
            .withColumn("bkt", explode(array(bkt - 1, bkt, bkt + 1))))
          .select(col("bkt"), col("g"), col("id").as("i"), col("len").as("len_i"),
            col("n").as("n_i"), col("__r").as("r_i"))
        val build = prefix.withColumn("bkt", bkt)
          .select(col("bkt"), col("g"), col("id").as("j"), col("len").as("len_j"),
            col("n").as("n_j"), col("__r").as("r_j"))
        // NOT deduped: a pair appears once per qualifying shared prefix
        // token (rarely more than a couple). The caller's verify is a
        // broadcast join + codegen kernel, so deduping the small verified
        // output is far cheaper than a candidate-sized DISTINCT shuffle
        // here — mayRepeat tells the caller to dedupe after its verify.
        CandidatePairs(probe.join(maybeBroadcast(build), Seq("bkt", "g"))
          .filter(col("i") < col("j") &&
            abs(col("len_i") - col("len_j")) <= maxLenDiff &&
            sizePositionalFilter(threshold))
          .select("i", "j"), mayRepeat = true, measuredBound = bound)
      }
    }
  }

  /** Cross-side band-candidate bound: Σ_b probe_b · (build_{b−1} +
    * build_b + build_{b+1}) — exactly the rows the 3-bucket cross join
    * can emit. Same conservative-gate role as [[bandCandidateBound]]. */
  private def bandCandidateBoundAcross(probeSketch: DataFrame,
      buildSketch: DataFrame, bucketWidth: Int): Long = {
    def occ(df: DataFrame, n: String) =
      df.groupBy(floor(col("len") / bucketWidth).cast("long").as("b"))
        .agg(count(lit(1)).as(n))
    val b = occ(buildSketch, "nb")
    val nearBuild = b.select((col("b") - 1).as("b"), col("nb"))
      .unionAll(b)
      .unionAll(b.select((col("b") + 1).as("b"), col("nb")))
      .groupBy("b").agg(sum("nb").as("nb3"))
    occ(probeSketch, "np").join(nearBuild, Seq("b"))
      .agg(coalesce(sum(col("np") * col("nb3")), lit(0L)).cast("long"))
      .head().getLong(0)
  }

  /** Per-corpus-row candidate allowance for the ACROSS degrade gate
    * (r16 verdict #2). The across contract promises candidates LINEAR
    * in corpus rows — the build side is a bounded benchmark/blocklist —
    * so the gate's reference is a per-row work bound, not the self
    * family's absolute would-not-finish budget: past `perRow`
    * candidates per (probe + build) row, the measured bound says the
    * build side has scaled WITH the corpus (candidates quadratic by
    * construction — `Probe bound` measured 121k → 13.8M per 10× on the
    * bench corpora) and the generator degrades to MinHash-LSH banding.
    * 64/row ≈ 4× looser than the band-only regime's own ceiling
    * (bandOnlyMax 8M ≈ 16/row at sf0.1 scale) — generous to the exact
    * path; on the bench corpora the 2×-margined trigger lands between
    * sf10 (~100 bound-rows/row, exact kept) and sf30 (~400/row,
    * degrade) and the r16 sf30 quadratic step is cut at its source. */
  val defaultAcrossCandidatesPerRow: Long = 64L

  /** Margin for the across fast gate. The SELF gate's 8× margin guards
    * a sampled SHORT-CIRCUIT ahead of an exact second-stage decision;
    * the across path has no affordable second stage — materializing the
    * full prefix just to measure its bound DOUBLED the sf10 query when
    * it was tried (round 12: 58 → 140 s) — so the sampled estimate
    * decides alone and the margin is the estimator's MEASURED error
    * with headroom (GATE_CALIB_r16: worst 1.42×, estimate UNDER exact —
    * the direction that keeps a genuinely-linear corpus on the exact
    * path). */
  private[graft] val acrossGateMargin = 2L

  /** Cross-side MinHash-LSH degrade candidates (same banding as
    * [[lshDegradeSelf]]: 64 hashes × 16 bands over the existing hashed
    * shingle sets). Returns distinct (i = probe id, j = build id). */
  private def lshDegradeAcross(probeSketch: DataFrame,
      buildSketch: DataFrame, numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    val r = numHashes / bands
    def banded(df: DataFrame, idAs: String) = df.select(
      col("id").as(idAs),
      posexplode(Dedup.bandKeyArray(
        graft.expr.sketchFunctions.minhash_from_hashes(col("hs"), numHashes),
        bands, r)).as(Seq("band_idx", "band_key")))
    fanout(banded(probeSketch, "i"))
      .join(maybeBroadcast(banded(buildSketch, "j")),
        Seq("band_idx", "band_key"))
      .select("i", "j").distinct()
  }

  /** Sampled estimate of the cross-side prefix-candidate bound
    * Σ_{g,b} probe_{g,b}·(build_{g,b−1} + build_{g,b} + build_{g,b+1})
    * WITHOUT the full prefix build — the across twin of
    * [[estimatePrefixCandidateBound]]. Cleaner statistics than the self
    * case: each cell is a product of counts from DISJOINT sides sampled
    * independently, so E[p_s·b_s] = f²·p·b with no diagonal term and
    * S_s/f² is unbiased as-is. At f = 1 it equals the exact measured
    * bound (DedupSpec pins the identity). Prefix lengths are exact;
    * only the rarest-first order comes from sampled df — a gate-grade
    * approximation (see [[acrossGateMargin]]). */
  private[graft] def estimatePrefixCandidateBoundAcross(
      probeSketch: DataFrame, buildSketch: DataFrame, threshold: Double,
      bucketWidth: Int, fraction: Double, seed: Long = 42L): Long = {
    require(fraction > 0 && fraction <= 1.0, "need 0 < fraction <= 1")
    val (p, b) =
      if (fraction >= 1.0) (probeSketch, buildSketch)
      else (probeSketch.sample(withReplacement = false, fraction, seed),
        buildSketch.sample(withReplacement = false, fraction, seed + 1))
    val gdf = gramDf(p, b)
    def occ(df: DataFrame, n: String) =
      prefixTokens(df, threshold, gdf)
        .groupBy(col("g"), floor(col("len") / bucketWidth).cast("long").as("b"))
        .agg(count(lit(1)).as(n))
    val bo = occ(b, "nb")
    val near = bo.select(col("g"), (col("b") - 1).as("b"), col("nb"))
      .unionAll(bo)
      .unionAll(bo.select(col("g"), (col("b") + 1).as("b"), col("nb")))
      .groupBy("g", "b").agg(sum("nb").as("nb3"))
    val sS = occ(p, "np").join(near, Seq("g", "b"))
      .agg(coalesce(sum(col("np") * col("nb3")), lit(0L)).cast("long"))
      .head().getLong(0)
    val est = sS / (fraction * fraction)
    if (est >= Long.MaxValue.toDouble) Long.MaxValue else est.toLong
  }

  /** Two-corpus (probe × build) variant of [[bandPrefixSelf]] — the
    * decontamination shape: the build side (a benchmark set, typically a
    * few % of the corpus) is indexed once, the corpus probes it. Never
    * materializes corpus×corpus pairs — candidates are linear in true
    * matches + low-df prefix collisions.
    *
    * The prefix lemma needs BOTH prefixes under the SAME global order, so
    * document frequency is computed over the union of both sides' grams.
    * Sides are assumed id-disjoint; returns (i = probe id, j = build id),
    * both orientations' qualifying pairs (no i < j constraint).
    *
    * DEGRADE DISCIPLINE (r16 verdict #2 — the across family's twin of
    * the self occupancy gate): the prefix branch is guarded by a
    * LINEARITY gate. The across contract's whole point is candidates
    * linear in corpus rows; when the sampled candidate-bound estimate
    * exceeds [[defaultAcrossCandidatesPerRow]] per row (×
    * [[acrossGateMargin]]), the build side has scaled with the corpus,
    * the candidate term is quadratic by construction, and the generator
    * degrades to cross-side MinHash-LSH banding — candidates linear in
    * collisions, `exact = false` surfaced to the caller (precision
    * stays 1 through the caller's verify; recall becomes the banding
    * curve 1−(1−s⁴)¹⁶). There is deliberately NO exact-measured second
    * stage: materializing the full prefix to measure its own bound
    * doubled the sf10 query when tried (round 12, 58 → 140 s); the
    * sampled estimate (a few % of the corpus) decides alone, and only
    * runs when the free band bound already exceeds the allowance —
    * zero overhead in the band-only regime every oracle SF runs in. */
  def bandPrefixAcross(probeSketch: DataFrame, buildSketch: DataFrame,
      threshold: Double, bucketWidth: Int, maxLenDiff: Int,
      bandOnlyMax: Long = defaultBandOnlyMaxCandidates,
      candidatesPerRow: Long = defaultAcrossCandidatesPerRow): CandidatePairs = {
    require(maxLenDiff < bucketWidth, "band trick needs maxLenDiff < bucketWidth")
    val bkt = floor(col("len") / bucketWidth).cast("long")
    if (bandCandidateBoundAcross(probeSketch, buildSketch, bucketWidth)
        <= bandOnlyMax) {
      // a probe row's 3 exploded buckets are distinct, so it meets each
      // build row at most once — output already distinct
      val probe = fanout(probeSketch
          .withColumn("bkt", explode(array(bkt - 1, bkt, bkt + 1))))
        .select(col("bkt"), col("id").as("i"), col("len").as("len_i"))
      val build = buildSketch.withColumn("bkt", bkt)
        .select(col("bkt"), col("id").as("j"), col("len").as("len_j"))
      CandidatePairs(probe.join(maybeBroadcast(build), Seq("bkt"))
        .filter(abs(col("len_i") - col("len_j")) <= maxLenDiff)
        .select("i", "j"), mayRepeat = false)
    } else {
      // linearity gate (see the scaladoc): per-row allowance over BOTH
      // sides' rows; the sketches are caller-checkpointed so the two
      // counts are metadata-cheap
      val rows = probeSketch.count() + buildSketch.count()
      val allowance =
        if (candidatesPerRow >= Long.MaxValue / math.max(rows, 1L))
          Long.MaxValue
        else candidatesPerRow * rows
      val fastEst =
        if (allowance < Long.MaxValue / acrossGateMargin) {
          // f caps at 1, not the self gate's 0.05: the self fast gate
          // only ever runs past a 2×10⁹ band bound (huge corpora), but
          // this one runs whenever the band-only regime is left behind —
          // on a small corpus a 5% sample is statistical noise (cells
          // are products of ~binomial counts; DedupSpec measured a 25-doc
          // sample collapsing the estimate to 0), while the FULL bound
          // there costs two cheap shuffles. ≤ sampleTarget rows ⇒ f = 1
          // ⇒ the gate decision is exact by the estimator identity.
          val f = math.min(1.0,
            math.max(0.005, fastGateSampleTarget / math.max(rows, 1L)))
          estimatePrefixCandidateBoundAcross(probeSketch, buildSketch,
            threshold, bucketWidth, f)
        } else -1L
      if (fastEst > acrossGateMargin * allowance) {
        // the band join's |len diff| conjunct rides the (small) banded
        // pair tail so the caller's declared predicate is unchanged —
        // same move as the self degrade
        val lsh = lshDegradeAcross(probeSketch, buildSketch)
          .join(maybeBroadcast(probeSketch.select(col("id").as("i"),
            col("len").as("len_i"))), Seq("i"))
          .join(maybeBroadcast(buildSketch.select(col("id").as("j"),
            col("len").as("len_j"))), Seq("j"))
          .filter(abs(col("len_i") - col("len_j")) <= maxLenDiff)
          .select("i", "j")
        CandidatePairs(lsh, mayRepeat = false,
          exact = false, measuredBound = fastEst, boundEstimated = true)
      } else {
        val gdf = gramDf(probeSketch, buildSketch)
        val probe = fanout(prefixTokens(probeSketch, threshold, gdf)
            .withColumn("bkt", explode(array(bkt - 1, bkt, bkt + 1))))
          .select(col("bkt"), col("g"), col("id").as("i"), col("len").as("len_i"),
            col("n").as("n_i"), col("__r").as("r_i"))
        val build = prefixTokens(buildSketch, threshold, gdf)
          .withColumn("bkt", bkt)
          .select(col("bkt"), col("g"), col("id").as("j"), col("len").as("len_j"),
            col("n").as("n_j"), col("__r").as("r_j"))
        // not deduped — same caller-dedupes-after-verify contract as
        // [[bandPrefixSelf]]'s prefix branch
        CandidatePairs(probe.join(maybeBroadcast(build), Seq("bkt", "g"))
          .filter(abs(col("len_i") - col("len_j")) <= maxLenDiff &&
            sizePositionalFilter(threshold))
          .select("i", "j"), mayRepeat = true,
          measuredBound = fastEst, boundEstimated = fastEst >= 0)
      }
    }
  }

  /** Unbanded exact prefix-filter candidates at jaccard ≥ tNum/tDen —
    * the RATIONAL-threshold route (Dedup.prefixJaccardPairs and friends;
    * the banded [[bandPrefixSelf]]/[[bandPrefixAcross]] carry a double
    * threshold because their callers do). Pure integer arithmetic: the
    * prefix keeps n − ⌈tNum·n/tDen⌉ + 1 rarest-first tokens, and the
    * candidate join applies the same AllPairs size-ratio and PPJoin
    * positional filters as [[sizePositionalFilter]] in exact integer
    * form (tNum·max(n_i,n_j) ≤ tDen·min(n_i,n_j);
    * (1 + min(n_i−r_i, n_j−r_j))·(tDen+tNum) ≥ tNum·(n_i+n_j) — see the
    * recall proof on Dedup.prefixJaccardPairs). Sketch contract:
    * (id, n, hs) with hs the distinct hashed-token array, n = size(hs),
    * n > 0; the caller should materialize it (both join sides and the
    * df aggregate re-read it). Returns (i, j), i < j — NOT deduped (a
    * pair appears once per qualifying shared prefix token; measured at
    * 10× bench data, a candidate-sized DISTINCT shuffle here cost more
    * than verifying the ~3% duplicate rows twice, so callers dedupe
    * AFTER their verify). */
  def prefixSelf(sketch: DataFrame, tNum: Long, tDen: Long): DataFrame = {
    require(tNum > 0 && tNum <= tDen, "need 0 < tNum/tDen <= 1")
    val grams = sketch.select(col("id"), col("n"), explode(col("hs")).as("g"))
    val gdf = grams.groupBy("g").agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy("id").orderBy(col("__df").asc, col("g").asc)
    val prefix = grams.join(maybeBroadcast(gdf), Seq("g"))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <=
        col("n") - expr(s"(${tNum}L * n + ${tDen}L - 1L) div ${tDen}L") + 1)
      .select("g", "id", "n", "__r")
    prefix.select(col("g"), col("id").as("i"),
        col("n").as("n_i"), col("__r").as("r_i"))
      .join(maybeBroadcast(prefix.select(col("g"), col("id").as("j"),
        col("n").as("n_j"), col("__r").as("r_j"))), Seq("g"))
      .filter(col("i") < col("j") &&
        lit(tNum) * col("n_i") <= lit(tDen) * col("n_j") &&
        lit(tNum) * col("n_j") <= lit(tDen) * col("n_i") &&
        (lit(1) + least(col("n_i") - col("r_i"), col("n_j") - col("r_j"))) *
          lit(tDen + tNum) >= lit(tNum) * (col("n_i") + col("n_j")))
      .select("i", "j")
  }

  // ── LSH family ───────────────────────────────────────────────────────

  /** Band-bucket self-join candidates from pre-banded MinHash rows
    * (columns: idCol, band_idx, band_key). Approximate by construction —
    * recall is the banding curve 1−(1−s^r)^b, the caller's exact verify
    * keeps precision at 1. Returns (i, j) with i < j, distinct. */
  def lshBandSelf(banded: DataFrame, idCol: String): DataFrame =
    fanout(banded).as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("i"), col(s"b.$idCol").as("j"))
      .distinct()

  // ── Edit/similarity family ───────────────────────────────────────────

  /** Self-pairs at difflib ratio ≥ theta, blocked by `blockCols`, with
    * EXACT recall and no quadratic block scan: ratio ≥ θ implies matched
    * chars M ≥ θ(la+lb)/2, M ≤ LCS, and lev ≤ la+lb − 2·LCS, so every
    * qualifying pair has lev ≤ (1−θ)(la+lb) ≤ (1−θ)·2·Lmax — PassJoin
    * candidates at that radius are an exact superset, and the
    * distinct-string front inside [[FuzzyJoin.selfPairsExact]] runs the
    * candidate join at vocabulary granularity (the id-level expansion is
    * output-driven). Lmax is measured (one bounded agg row), ⌈⌉ because
    * (1−θ) is inexact in binary and a floor at an integer boundary would
    * shave the radius and void the contract. The cheap real_quick_ratio
    * length bound 2·min/(la+lb) ≥ θ prunes ahead of the difflib kernel
    * (ratio ≤ 2·min/(la+lb) always, so it rejects no true pair).
    *
    * Output: (i, j, str_i, str_j) with i < j — feed `sim(str_i, str_j)`
    * to rebuild the score column. */
  def similaritySelfPairs(df: DataFrame, idCol: String, strCol: String,
      theta: Double, blockCols: Seq[String] = Nil)
      (sim: (Column, Column) => Column): DataFrame = {
    val k = math.ceil((1.0 - theta) * 2 * measure(df, strCol).maxLen).toInt
    FuzzyJoin.selfPairsExact(df, idCol, strCol, k, blockCols) { (a, b) =>
      (lit(2) * least(length(a), length(b)) >=
        lit(theta) * (length(a) + length(b))) && sim(a, b) >= theta
    }
  }
}
