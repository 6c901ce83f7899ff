package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Lexical retrieval over the document corpus — the sparse half of a RAG
  * retrieval stack (BASELINE.json north star: the reference ships corpus
  * JSONL for exactly this consumption; cf. rag_output_generator.py's
  * corpus records). BM25 gives the classic tf·idf ranking; [[rrfFuse]]
  * combines it with any other ranking (e.g. dense ANN from
  * [[Vectors.annBruteForceTopK]]) by reciprocal-rank fusion — the
  * standard hybrid-retrieval combiner.
  *
  * Engine-portable scoring: every per-term BM25 contribution is floored
  * to integer micro-units BEFORE the per-document sum, so scores are
  * integer sums of integers — invariant to partitioning, shuffle order,
  * and engine (the DuckDB oracle replays the identical arithmetic).
  * The only library function involved is ln(); +, ×, / on doubles are
  * exactly rounded by IEEE 754 and thus bit-equal across engines when
  * the expression tree matches.
  *
  * Scale shape (100 TB corpus, bounded query set): everything derives
  * from the [[docTerms]] inverted index — ONE corpus scan, one explode,
  * one map-side-combined aggregate. df, corpus stats, and the scoring
  * join are all branches over that index, so the convenience wrappers
  * persist it (the corpus is never read twice), and a production
  * deployment writes it out once (`docTerms(...).write...`) and feeds
  * [[bm25TopKIndexed]] per query batch — the same build-once/query-many
  * contract as [[Vectors.ivfSave]]. The query side and the per-term idf
  * table are broadcast (a query batch and its vocabulary are
  * driver-sized); per-document accumulation touches only the posting
  * lists of the query vocabulary; the final per-query top-k is
  * WindowGroupLimit-pruned — k·|queries| rows survive.
  */
object Retrieval {

  private def toks(c: Column): Column = split(trim(c), "\\s+")

  /** The inverted-index build: (doc_id, term, dl, tf) from one explode +
    * one aggregate. Materialize it once (`.persist()` in-session, or
    * `.write.parquet` across jobs) and every ranking below derives from
    * it — corpus stats included (n_docs = distinct doc_id, Σdl = Σtf). */
  def docTerms(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // split ONCE into an attribute before the explode: inlined, the
    // post-generate projection would recompute size(split(text)) per
    // EXPLODED row — O(tokens²) per document (measured 5.6× slower at
    // sf0.1); same pitfall as [[TextAnalysis.repetitionStats]]
    docs.select(col(idCol).as("doc_id"), toks(col(textCol)).as("__w"))
      .select(col("doc_id"), explode(col("__w")).as("term"),
        size(col("__w")).as("dl"))
      .groupBy("doc_id", "term", "dl").agg(count(lit(1)).as("tf"))
  }

  /** BM25 top-k per query over a prebuilt [[docTerms]] index. `queries`
    * is a small table (qidCol, qtextCol); query terms are deduplicated
    * (each distinct term scores once, the common spelling when queries
    * are keyword bags).
    *
    * Output: (qid, rank, doc_id, score_micro) — rank 1..k by
    * (score desc, doc_id asc); only docs sharing ≥1 term appear. */
  def bm25TopKIndexed(index: DataFrame, queries: DataFrame, qidCol: String,
      qtextCol: String, k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    topKByScore(bm25ScoresIndexed(index, queries, qidCol, qtextCol, k1, b),
      "score_micro", k)

  /** Convenience build-and-rank: builds [[docTerms]] and persists it for
    * the duration of the plan (df / stats / scoring all branch over it —
    * unpersisted, each branch would re-scan the corpus). Caller or
    * `spark.catalog.clearCache()` releases it, the same cache contract
    * as [[TfIdfEmbed.embed]]. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKIndexed(docTerms(docs, idCol, textCol).persist(),
      queries, qidCol, qtextCol, k, k1, b)

  /** Incremental inverted-index maintenance — upsert a document batch
    * into a standing [[docTerms]] index: rows of re-ingested doc ids are
    * replaced, new ids appended, and ONLY the batch is tokenized (the
    * standing index never rescans its corpus). The anti-join's build
    * side is the bounded batch id set (broadcast), so the index side
    * keeps its partitioning. This completes the incremental trio with
    * [[graft.ops.Dedup.minHashDedupeAgainst]] and
    * [[graft.ops.Vectors.ivfIngest]].
    *
    * No secondary statistics table needs maintenance: corpus stats
    * (df, N, Σdl) are DERIVED from the index at query time
    * ([[bm25ScoresIndexed]]), which is exactly what makes the per-doc
    * decomposition mergeable — merge-then-derive equals
    * rebuild-then-derive by construction. */
  def mergeIndex(index: DataFrame, batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val fresh = docTerms(batch, idCol, textCol)
    index.join(ScaleHints.maybeBroadcast(fresh.select("doc_id").distinct()),
        Seq("doc_id"), "left_anti")
      .unionByName(fresh)
  }

  /** Per-(qid, term) idf table + corpus stats — the shared front half of
    * every index-side scoring pass: (qid, term, idf_micro, n_docs,
    * sum_dl). idf in micro-nats, floored once per term: ln is the lone
    * libm call, isolated here so downstream per-doc sums are pure
    * integer arithmetic. */
  private def qTermIdf(index: DataFrame, queries: DataFrame,
      qidCol: String, qtextCol: String): DataFrame = {
    // corpus stats from the index: one tiny aggregate, broadcast by the
    // single-row cross join
    val corpus = index.agg(countDistinct(col("doc_id")).as("n_docs"),
      sum(col("tf")).as("sum_dl"))
    val dfTbl = index.groupBy("term").agg(count(lit(1)).as("df"))
    val qTerms = queries.select(col(qidCol).as("qid"),
      explode(array_distinct(toks(col(qtextCol)))).as("term"))
    qTerms.join(ScaleHints.maybeBroadcast(dfTbl), Seq("term"))
      .crossJoin(corpus)
      .withColumn("idf_micro", floor(lit(1e6) * log(
        lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
        .cast("long"))
      .select("qid", "term", "idf_micro", "n_docs", "sum_dl")
  }

  /** The per-(index row ⋈ query term) BM25 contribution expression. */
  private def bm25Contrib(k1: Double, b: Double): Column =
    floor(
      col("idf_micro").cast("double") *
        (col("tf").cast("double") * lit(k1 + 1.0)) /
        (col("tf").cast("double") + lit(k1) *
          (lit(1.0 - b) + lit(b) * col("dl").cast("double") *
            col("n_docs").cast("double") / col("sum_dl").cast("double"))))
      .cast("long")

  /** Full BM25 scores from a prebuilt index: (qid, doc_id, score_micro). */
  def bm25ScoresIndexed(index: DataFrame, queries: DataFrame, qidCol: String,
      qtextCol: String, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val contrib = index.join(
        ScaleHints.maybeBroadcast(qTermIdf(index, queries, qidCol, qtextCol)),
        Seq("term"))
      .withColumn("c_micro", bm25Contrib(k1, b))
    contrib.groupBy("qid", "doc_id")
      .agg(sum(col("c_micro")).cast("long").as("score_micro"))
  }

  /** Reciprocal-rank fusion of N rankings sharing (qid, doc_id, rank)
    * columns: score = Σ_i floor(1e9 / (k + rank_i)), missing docs
    * contribute 0. Pure integer output (the division is exactly rounded,
    * the floor lands on a stable integer), so the fused ranking is
    * engine- and order-independent. Re-ranked 1..k by
    * (fused score desc, doc_id asc).
    *
    * Inputs are per-query top-k tables (bounded), so the union + one
    * grouped sum is driver-trivial at any corpus scale — RRF cost is a
    * function of |queries|·k, never of the corpus.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val contrib = rankings.map(_.select(col("qid"), col("doc_id"),
        floor(lit(1.0e9) / (lit(kRrf).cast("double") + col("rank").cast("double")))
          .cast("long").as("rrf_nano")))
      .reduce(_ unionAll _)
    val fused = contrib.groupBy("qid", "doc_id")
      .agg(sum(col("rrf_nano")).cast("long").as("rrf_nano"))
    val w = Window.partitionBy("qid").orderBy(col("rrf_nano").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "doc_id", "rrf_nano")
  }

  /** BM25 + term-coverage hybrid RRF in ONE index pass — semantically
    * identical to `rrfFuse(Seq(bm25TopKIndexed(...), coverageTopKIndexed
    * (...)), k)` but structurally collapsed for scale: both rankings
    * share the same candidate relation (index ⋈ query terms, ≥1 shared
    * term), so ONE join + ONE aggregate computes both per-(qid, doc)
    * signals (Σ floored BM25 contributions AND the distinct-hit count),
    * and the three windows — bm25 rank, coverage rank, fused rank — all
    * partition by qid, so the whole ranking tail runs on a SINGLE
    * exchange (Spark chains same-partitioning windows without
    * re-shuffling). Two index scans and two aggregate chains become one
    * of each: at corpus scale that halves the dominant cost of hybrid
    * retrieval, and at bench scale it halves the job count.
    *
    * Output: (qid, rank, doc_id, rrf_nano), rank 1..k — byte-identical
    * to the composed form (the oracle replays the composed SQL). */
  def hybridRrfTopK(index: DataFrame, queries: DataFrame, qidCol: String,
      qtextCol: String, kPer: Int, k: Int, k1: Double = 1.2,
      b: Double = 0.75, kRrf: Int = 60): DataFrame = {
    val scored = index.join(
        ScaleHints.maybeBroadcast(qTermIdf(index, queries, qidCol, qtextCol)),
        Seq("term"))
      .withColumn("c_micro", bm25Contrib(k1, b))
      // group by (qid, doc_id) ONLY and derive dl inside the aggregate:
      // grouping by dl too silently relied on dl being functionally
      // dependent on doc_id — a hand-built or inconsistently merged
      // index with two dl values for one doc would split that doc into
      // multiple scored rows and diverge from the composed rrfFuse form
      // without any error (round-9 advice). max() keeps the composed
      // byte-identity on consistent indexes and picks a deterministic
      // representative on broken ones.
      .groupBy("qid", "doc_id")
      .agg(sum(col("c_micro")).cast("long").as("score_micro"),
        count(lit(1)).as("n_hit"),
        max(col("dl")).as("dl"))
    val wB = Window.partitionBy("qid")
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    val wC = Window.partitionBy("qid")
      .orderBy(col("n_hit").desc, col("dl").asc, col("doc_id").asc)
    def rrfOf(rank: Column): Column =
      when(rank <= kPer,
        floor(lit(1.0e9) / (lit(kRrf).cast("double") + rank.cast("double")))
          .cast("long")).otherwise(lit(0L))
    val fused = scored
      .withColumn("__rb", row_number().over(wB))
      .withColumn("__rc", row_number().over(wC))
      .withColumn("rrf_nano", rrfOf(col("__rb")) + rrfOf(col("__rc")))
      .filter(col("rrf_nano") > 0)
    val wF = Window.partitionBy("qid")
      .orderBy(col("rrf_nano").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= k)
      .select("qid", "rank", "doc_id", "rrf_nano")
  }

  /** Term-coverage ranking over a prebuilt [[docTerms]] index — the
    * simple dense-free second ranking for hybrid tests: docs ranked per
    * query by (number of DISTINCT query terms present desc, dl asc,
    * doc_id asc). Same candidate semantics as BM25 (≥1 shared term).
    * Output (qid, rank, doc_id, n_hit). */
  def coverageTopKIndexed(index: DataFrame, queries: DataFrame,
      qidCol: String, qtextCol: String, k: Int): DataFrame = {
    val qTerms = queries.select(col(qidCol).as("qid"),
      explode(array_distinct(toks(col(qtextCol)))).as("term"))
    val hits = index.join(ScaleHints.maybeBroadcast(qTerms), Seq("term"))
      // (qid, doc_id) grouping with dl derived — same robustness note as
      // hybridRrfTopK: never split a doc on an inconsistent dl
      .groupBy("qid", "doc_id")
      .agg(count(lit(1)).as("n_hit"), max(col("dl")).as("dl"))
    val w = Window.partitionBy("qid")
      .orderBy(col("n_hit").desc, col("dl").asc, col("doc_id").asc)
    hits.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "doc_id", "n_hit")
  }

  /** Convenience twin of [[coverageTopKIndexed]] (no persist: a single
    * ranking reads the corpus once anyway). */
  def coverageTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String, k: Int): DataFrame =
    coverageTopKIndexed(docTerms(docs, idCol, textCol), queries,
      qidCol, qtextCol, k)

  /** MRR@k — the lexical-retrieval quality scoreboard (twin of
    * [[Vectors.recallAtK]] for the dense side): per query, the reciprocal
    * of the FIRST relevant rank within the top-k, in floored milli-units
    * (1000/rank is one exactly-rounded division, so the metric is
    * engine-identical), plus the relevant-hit count. Queries with no
    * relevant doc in the top-k score 0 with first_rank 0.
    *
    * `ranking` carries (qid, rank, doc_id); `relevant` carries the
    * (qid, doc_id) ground truth; `queries` is the FULL query universe —
    * a query whose terms matched nothing has no ranking rows at all, and
    * deriving the universe from the ranking would silently drop it and
    * inflate the mean (it must contribute a 0 row). All three inputs are
    * bounded (top-k × queries / labeled pairs), so the evaluation is
    * driver-trivial at any corpus scale — this is the nightly tuning
    * loop for k1/b/analyzers. */
  def mrrAtK(ranking: DataFrame, relevant: DataFrame, k: Int,
      queries: DataFrame): DataFrame = {
    val hits = ranking.filter(col("rank") <= k)
      .join(relevant.select(col("qid"), col("doc_id")), Seq("qid", "doc_id"))
      .groupBy("qid")
      .agg(min(col("rank")).as("first_rank"), count(lit(1)).as("n_rel_in_topk"))
    queries.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("first_rank"), lit(0)).cast("int").as("first_rank"),
        coalesce(col("n_rel_in_topk"), lit(0L)).as("n_rel_in_topk"))
      .withColumn("rr_milli",
        when(col("first_rank") > 0,
          floor(lit(1000.0) / col("first_rank").cast("double")).cast("long"))
          .otherwise(lit(0L)))
  }

  /** NDCG@k (binary relevance) — the rank-position-sensitive twin of
    * [[mrrAtK]]: MRR only sees the FIRST relevant hit, NDCG credits the
    * whole ranked list with a logarithmic position discount. Every gain
    * term floors to micro-units BEFORE the per-query sum (integer sums
    * are merge-order-free; the natural log is the engine-portable
    * primitive this repo's entropy/LM scores already pin), so
    * dcg/idcg/ndcg are exact integers: gain(rank) =
    * ⌊1e6·ln2/ln(rank+1)⌋, idcg sums the ideal prefix min(R,k), ndcg =
    * dcg·1000 div idcg. Queries with no relevant docs anywhere score 0
    * (they must appear — deriving the universe from the ranking would
    * drop them). All inputs bounded by top-k×queries and labeled pairs:
    * driver-trivial at any corpus scale. */
  def ndcgAtK(ranking: DataFrame, relevant: DataFrame, k: Int,
      queries: DataFrame): DataFrame = {
    def gain(r: Column): Column =
      floor(lit(1000000.0) * log(lit(2.0)) / log(r.cast("double") + 1.0))
        .cast("long")
    val dcg = ranking.filter(col("rank") <= k)
      .join(relevant.select(col("qid"), col("doc_id")), Seq("qid", "doc_id"))
      .groupBy("qid").agg(sum(gain(col("rank"))).as("dcg_micro"))
    val relN = relevant.groupBy("qid").agg(count(lit(1)).as("__r"))
    val ideal = relN
      .select(col("qid"),
        explode(sequence(lit(1L), least(col("__r"), lit(k.toLong)))).as("i"))
      .groupBy("qid").agg(sum(gain(col("i"))).as("idcg_micro"))
    queries.select("qid").distinct()
      .join(dcg, Seq("qid"), "left")
      .join(ideal, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        coalesce(col("idcg_micro"), lit(0L)).as("idcg_micro"))
      .withColumn("ndcg_milli",
        when(col("idcg_micro") > 0,
          expr("dcg_micro * 1000L div idcg_micro")).otherwise(lit(0L)))
  }

  private def topKByScore(scored: DataFrame, scoreCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col(scoreCol).desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "doc_id", scoreCol)
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    * greedily pick `k` results per query maximizing
    * `λ·relevance − (1−λ)·max_similarity_to_already_picked` — the
    * standard diversification pass between retrieval and context
    * packing (near-duplicate passages burn context-window tokens that a
    * diverse set would spend on new evidence).
    *
    * All-integer arithmetic (`lambdaMilli` ∈ [0,1000], rel and sim in
    * milli-units), ties broken by doc_id — so the greedy trajectory is
    * engine-exact and the oracle replays it as a recursive CTE.
    *
    * Spark-first shape: the greedy selection is a pure fold over each
    * query's TINY state — ≤ nCand candidates plus their pairwise sims
    * (≤ nCand² rows) — so the whole pass is ONE typed `cogroup` keyed
    * on qid: each side shuffles once by qid, the per-group function
    * replays the k greedy rounds over in-memory arrays, and the job
    * count is O(1) instead of the k chained join+window jobs an
    * unrolled declarative loop costs (measured 6.5 s → the driver-side
    * job-chain latency dominated, and would dominate harder at real
    * query volume; the cogroup runs the same arithmetic in one stage).
    * No driver collect anywhere — state lives per group on executors,
    * bounded by nCand² regardless of query count, so the pass scales
    * linearly with the number of queries.
    *
    * `candidates`: (qid, doc_id, rel_milli); `sims`: (qid, doc_a,
    * doc_b, sim_milli), symmetric, zero-sim pairs omitted; qid/doc_id
    * must be integral (cast to long internally — the milli-unit
    * contract already makes rel/sim integers). Output: (qid, rank,
    * doc_id, rel_milli), rank 1..k in pick order — identical integer
    * arithmetic and doc_id tie-break to the recursive-CTE oracle.
    */
  def mmrDiversify(candidates: DataFrame, sims: DataFrame, k: Int,
      lambdaMilli: Int): DataFrame = {
    require(k >= 1 && lambdaMilli >= 0 && lambdaMilli <= 1000)
    // fail fast with an actionable message instead of a cast-to-null
    // encoder error deep inside the cogroup
    Seq("qid" -> candidates, "doc_id" -> candidates, "qid" -> sims,
      "doc_a" -> sims, "doc_b" -> sims).foreach { case (c, df) =>
      import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
      val dt = df.schema(c).dataType
      require(Set[org.apache.spark.sql.types.DataType](
          ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"mmrDiversify needs integral id columns; '$c' is $dt — " +
          "fingerprint/assign surrogate long ids first")
    }
    val spark = candidates.sparkSession
    import spark.implicits._
    val lam = lambdaMilli.toLong
    val kk = k
    val candDs = candidates.select(col("qid").cast("long"),
      col("doc_id").cast("long"), col("rel_milli").cast("long"))
      .as[(Long, Long, Long)]
    val simDs = sims.select(col("qid").cast("long"),
      col("doc_a").cast("long"), col("doc_b").cast("long"),
      col("sim_milli").cast("long"))
      .as[(Long, Long, Long, Long)]
    candDs.groupByKey(_._1).cogroup(simDs.groupByKey(_._1)) {
      (qid, cs, ss) =>
        val sim = new scala.collection.mutable.HashMap[(Long, Long), Long]
        ss.foreach(s => sim((s._2, s._3)) = s._4)
        mmrSelect(qid, cs.map(c => (c._2, c._3)),
          (a, b) => sim.getOrElse((a, b), 0L), kk, lam)
    }.toDF("qid", "rank", "doc_id", "rel_milli")
  }

  /** The per-query greedy MMR fold shared by [[mmrDiversify]] and
    * [[mmrTopK]]: picks up to k of `cand0` (doc_id, rel_milli) pairs
    * maximizing λ·rel − (1−λ)·max simOf(doc, picked), integer
    * arithmetic, ties to the smallest doc_id. */
  private def mmrSelect(qid: Long, cand0: Iterator[(Long, Long)],
      simOf: (Long, Long) => Long, k: Int,
      lam: Long): Iterator[(Long, Int, Long, Long)] = {
    // (doc_id, rel) ascending by doc_id: with a strict > compare,
    // ascending scan order IS the "ties to smallest doc_id" rule
    val cand = cand0.toArray.sortBy(_._1)
    val remaining = scala.collection.mutable.LinkedHashSet(
      cand.toIndexedSeq: _*)
    val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Long, Long)]
    var rank = 1
    while (rank <= k && remaining.nonEmpty) {
      var best: (Long, Long) = null
      var bestScore = Long.MinValue
      for (c @ (d, rel) <- remaining) {
        // λ·rel − (1−λ)·max sim to picked; empty picked set → 0
        val pen = if (picked.isEmpty) 0L
          else picked.iterator.map(p => simOf(d, p)).max
        val score = rel * lam - pen * (1000L - lam)
        if (score > bestScore) { bestScore = score; best = c }
      }
      out += ((qid, rank, best._1, best._2))
      picked += best._1
      remaining -= best
      rank += 1
    }
    out.iterator
  }

  /** BM25 retrieve-then-MMR-diversify over one shared [[docTerms]]
    * index: top-`nCand` BM25 candidates per query (relevance rescaled
    * to rel_milli = ⌊1000·score/max_score⌋ per qid), candidate-pair
    * similarity = distinct-token Jaccard in milli-units (computed only
    * among each query's candidates — the corpus never self-joins), then
    * greedy MMR down to `k`, the same selection [[mmrDiversify]]
    * exposes for precomputed sims, fused here with the similarity
    * computation into one cogroup. */
  def mmrTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      nCand: Int, k: Int, lambdaMilli: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val index = docTerms(docs, idCol, textCol).persist()
    // Persisted: both the greedy pass and the term fetch branch over
    // it, and it is nCand rows per query — the persist costs nothing
    // and keeps the BM25 scoring from running twice. Caller or
    // spark.catalog.clearCache() releases it (the bm25TopK contract).
    val top = bm25TopKIndexed(index, queries, qidCol, qtextCol, nCand)
      .persist()
    val candTerms = top.select("qid", "doc_id")
      .join(index.select("doc_id", "term"), "doc_id")
      .select(col("qid"), col("doc_id"), col("term"))
    // Relevance rescale + pairwise similarity + greedy selection in ONE
    // cogroup keyed on qid: each query's state is ≤ nCand docs × their
    // distinct-term sets (docTerms is distinct per (doc, term),
    // matching the oracle's ctoks), so rel_milli =
    // ⌊1000·score/max score⌋ is a fold over nCand rows and the nCand²
    // Jaccards are in-memory set intersections — no per-qid max
    // aggregate+join, no candTerms self-join, no symmetric union, and
    // no O(k) chain of join+window jobs (the unrolled form this
    // replaced cost 5+ s in driver-side job-chain latency alone at
    // sf0.1).
    val candDs = top.select(col("qid").cast("long"),
      col("doc_id").cast("long"), col("score_micro").cast("long"))
      .as[(Long, Long, Long)]
    val termDs = candTerms.select(col("qid").cast("long"),
      col("doc_id").cast("long"), col("term").cast("string"))
      .as[(Long, Long, String)]
    val kk = k
    val lam = lambdaMilli.toLong
    candDs.groupByKey(_._1).cogroup(termDs.groupByKey(_._1)) {
      (qid, cs, ts) =>
        val scored = cs.map(c => (c._2, c._3)).toArray
        // max score = 0 (every per-term contribution floored to zero)
        // would make the division undefined — emit rel_milli = 0,
        // mirrored in the oracle's CASE so both engines degrade alike
        val mx = if (scored.isEmpty) 0L else scored.iterator.map(_._2).max
        val cand = scored.iterator.map { case (d, s) =>
          (d, if (mx > 0) s * 1000L / mx else 0L)
        }
        val terms = new scala.collection.mutable.HashMap[Long,
          scala.collection.mutable.HashSet[String]]
        ts.foreach(t => terms.getOrElseUpdate(t._2,
          new scala.collection.mutable.HashSet[String]) += t._3)
        def jaccardMilli(a: Long, b: Long): Long = {
          val sa = terms.getOrElse(a, scala.collection.mutable.HashSet
            .empty[String])
          val sb = terms.getOrElse(b, scala.collection.mutable.HashSet
            .empty[String])
          val (small, large) = if (sa.size <= sb.size) (sa, sb) else (sb, sa)
          val ov = small.count(large.contains)
          val denom = sa.size + sb.size - ov
          if (denom <= 0) 0L else 1000L * ov / denom
        }
        mmrSelect(qid, cand, jaccardMilli, kk, lam)
    }.toDF("qid", "rank", "doc_id", "rel_milli")
  }
}
