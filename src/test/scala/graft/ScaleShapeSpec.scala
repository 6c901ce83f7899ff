package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Metrics, Fingerprint}
import graft.sources.Sinks

/** Scale-shape evidence: metrics listener (A4) and bucketed-master
  * co-located anti-join (J1 at 100 TB: the master side must not shuffle). */
class ScaleShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("metrics recorder captures per-action durations (A4)") {
    val (n, ms) = Metrics.recorded(spark) {
      spark.range(1000).filter($"id" % 7 === 0).count()
    }
    assert(n == 143)
    assert(ms.nonEmpty && ms.forall(!_.failed) && ms.exists(_.durationNs > 0))
  }

  test("bucketed master joins without an Exchange on the master side") {
    val master = (1 to 1000).map(i => (s"id$i", i)).toDF("rag_id", "v")
    Sinks.writeBucketedMaster(master, "graft_master_bucketed", buckets = 8)
    try {
      val fresh = (500 to 1500).map(i => (s"id$i", i)).toDF("rag_id", "v")
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val delta = Fingerprint.deltaAntiJoin(fresh,
          spark.table("graft_master_bucketed"), "rag_id")
        assert(delta.count() == 500) // ids 1001..1500
        val plan = delta.queryExecution.executedPlan.toString
        // exactly ONE exchange: the fresh side; the bucketed master scan
        // feeds the join directly
        val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
        assert(exchanges == 1, s"expected 1 exchange, got $exchanges in:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally spark.sql("DROP TABLE IF EXISTS graft_master_bucketed")
  }

  test("gated broadcast hints: BHJ at bench scale, shuffled equi-join when estimates are corpus-sized") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val parts = spark.read.parquet(s"$dir/part.parquet")
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    val pairOps = Seq(
      "ngram" -> graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text", "n_chars", 0.5),
      "simhash" -> graft.ops.Dedup.simHashNearDups(docs, "doc_id", "text", 6),
      "emb_lsh" -> graft.ops.Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.4),
      "fuzzy" -> graft.ops.FuzzyJoin.selfPairs(parts, "p_partkey", "p_name",
        Seq("p_brand"))((a, b) => levenshtein(a, b) <= 4))
    // small inputs: the size-gated hint must recover the broadcast join
    pairOps.foreach { case (name, df) =>
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"), s"$name lost its bench-scale broadcast:\n$p")
      assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name degenerated to all-pairs:\n$p")
    }
    // corpus-sized estimate (threshold 1 byte → estimate 8× over): the
    // hint must drop and the band/bucket keys keep it an equi join
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val p = plan(graft.ops.Dedup.simHashNearDups(docs, "doc_id", "text", 6))
      assert(!p.contains("BroadcastHashJoin"),
        s"hint should drop when the estimate dwarfs the threshold:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffled equi-join on the chunk keys:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("round-4 operator plan shapes: filter-only sampler, broadcast hygiene joins, shuffle-free PQ encode") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString

    // weighted sampling is a pure filter — nothing to shuffle
    val ws = graft.ops.Sampling.weightedSample(docs.select("doc_id", "source"),
      $"doc_id".cast("string"), lit(5000))
    assert(!plan(ws).contains("Exchange"), plan(ws))

    // split hygiene: the corpus-side plan must stay broadcast joins —
    // no corpus shuffle, nothing degenerating to all-pairs. Pairs come
    // from the corpus itself (data-dependent) because literal pair ids
    // let Catalyst fold the md5 split statically and collapse the whole
    // dirty side to a LocalRelation (observed: ids that hash to train
    // optimize to an EMPTY dirty set at plan time — correct, but then
    // there is no join left to assert on).
    val pairs = graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      "n_chars", 0.5).select("i", "j")
    val dec = graft.ops.Sampling.decontaminateSplit(
      graft.ops.Sampling.assignSplit(docs, $"doc_id".cast("string"), 500, 500),
      $"doc_id", pairs, "i", "j")
    // Static size estimates downstream of a pair join are garbage (the
    // join blow-up propagates through the distinct), so the relabel join
    // may statically plan as SMJ — the contract is that AQE's RUNTIME
    // stats see the tiny dirty set and convert it. Execute, then assert
    // on the final adaptive plan.
    dec.collect()
    val dp = plan(dec)
    assert(dp.contains("BroadcastHashJoin"), dp)
    assert(!dp.contains("CartesianProduct") && !dp.contains("NestedLoopJoin"), dp)
    // the final relabel join (LeftOuter against the dirty set) broadcasts
    assert(dp.contains("LeftOuter"), dp)
    assert("BroadcastHashJoin .*LeftOuter".r.findFirstIn(dp).isDefined, dp)

    // PQ encode is a map stage: code + norm projection straight over the
    // scan, no exchange — this is what writing the compressed index costs
    val idx = graft.ops.Quantize.pqFit(emb, "vec_id", "embedding")
    val coded = graft.ops.Quantize.pqEncode(emb, "vec_id", "embedding", idx)
    assert(!plan(coded).contains("Exchange"), plan(coded))
  }

  test("new-op plan shapes: DSIR no global sort, SemDeDup no all-pairs, CMS no token shuffle") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString

    // DSIR: the k-th-key cut must be TakeOrdered (bounded per-partition
    // top-k merged on the driver), never a global range sort; the bucket
    // ratio table must come back as a broadcast join
    val w = graft.ops.Sampling.dsirWeights(docs, $"doc_id", $"text",
      $"source" === "src0")
    // the bucket ratio table must come back as a broadcast join — pinned
    // on the WEIGHTS plan (the resample plan now starts at the keyed
    // checkpoint, so the scoring join is no longer visible there)
    assert(plan(w).contains("BroadcastHashJoin"), plan(w))
    val rs = graft.ops.Sampling.dsirResample(w, "id", "w_milli", k = 10)
    val rp = plan(rs)
    assert(!rp.contains("rangepartitioning"), rp) // no global sort exchange
    assert(rp.contains("TakeOrderedAndProject"), rp)

    // SemDeDup pair generation: equi-join on the cell key — a self-join
    // resolution bug would degrade it to all-pairs. Assert on the PAIR
    // stage itself: the components tail localCheckpoints per round, so
    // the final frame's plan would hide a degenerated join.
    val idx = graft.ops.Vectors.ivfBuild(emb, "vec_id", "embedding",
      nCells = 4)
    val sp = plan(graft.ops.Dedup.semanticPairs(idx, threshold = 0.4))
    assert(!sp.contains("CartesianProduct") && !sp.contains("NestedLoopJoin"), sp)
    assert(sp.contains("Join") || sp.contains("BroadcastHashJoin"), sp)

    // CMS heavy hitters: the full token stream feeds only the COUNTER
    // aggregate — keyed on (i, bucket), a key space hard-bounded at d·w —
    // and the sampled candidate aggregate; the counter table reaches the
    // read-back as a BROADCAST (never a shuffle of the candidate side on
    // the counter keys). No shuffle anywhere is keyed on raw tok over
    // the unsampled stream: 3 hash exchanges total (counters, sampled
    // cand, post-join min), plus the top-k as TakeOrdered.
    val hh = graft.ops.Profile.heavyHittersCms(docs, $"doc_id", $"text",
      k = 10)
    val hp = plan(hh)
    assert(hp.contains("TakeOrderedAndProject"), hp)
    assert(hp.contains("BroadcastHashJoin"), hp)
    assert(hp.contains("bucket"), hp) // counter aggregate present
    assert("hashpartitioning".r.findAllIn(hp).size <= 3,
      s"unexpected extra hash shuffle in the CMS path:\n$hp")
  }

  test("continuation-op plan shapes: one-pass validate, broadcast pagerank, bounded containment") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString

    // Validate without Unique/RefIn rules is a single global aggregate:
    // the only exchange is the 1-row partial→final merge, never a
    // per-rule scan (rules scale free)
    val v = graft.ops.Validate.check(docs, Seq(
      graft.ops.Validate.NotNull("nn", "text"),
      graft.ops.Validate.InRange("r", "n_chars", 1L, 100000L),
      graft.ops.Validate.Predicate("p", length($"text") === $"n_chars"),
      graft.ops.Validate.RowCountBetween("rc", 1L, Long.MaxValue)))
    val vp = plan(v)
    assert(vp.sliding("Exchange".length).count(_ == "Exchange") <= 1, vp)
    assert(!vp.contains("CartesianProduct") && !vp.contains("Join"), vp)

    // referential rule: the dim side must BROADCAST, the fact side must
    // not gain an extra shuffle
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val vr = graft.ops.Validate.check(docs, Seq(
      graft.ops.Validate.RefIn("ref", "doc_id", emb, "vec_id")))
    assert(plan(vr).contains("BroadcastHashJoin"), plan(vr))

    // pagerank at small node count: ranks joins must be broadcast — the
    // edge table is never exchanged inside an iteration. The result is
    // checkpointed (its own plan is an RDD scan), so capture the
    // iteration plans as they execute.
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.synchronized { plans += qe.executedPlan.toString }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val edges = graft.ops.PageRank.symmetrize(
        docs.select(($"doc_id" % 10).as("a"), ($"doc_id" % 7 + 100).as("b")),
        "a", "b")
      graft.ops.PageRank.pageRank(edges, iters = 2).collect()
      // listener delivery is async — poll until the broadcast join shows
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline &&
        !plans.synchronized(plans.exists(_.contains("BroadcastHashJoin"))))
        Thread.sleep(100)
      val all = plans.synchronized(plans.toList)
      assert(all.exists(_.contains("BroadcastHashJoin")), all.mkString("\n---\n"))
      assert(!all.exists(p => p.contains("CartesianProduct") ||
        p.contains("BroadcastNestedLoopJoin")), all.mkString("\n---\n"))
    } finally spark.listenerManager.unregister(listener)

    // containment: equi joins only — the pair space must come from the
    // inverted index, never a cartesian/nested-loop fallback
    val cp = graft.ops.Dedup.containmentPairs(docs, "doc_id", "text")
    val cpp = plan(cp)
    assert(!cpp.contains("CartesianProduct") && !cpp.contains("NestedLoopJoin"), cpp)
  }

  test("round-4 op plan shapes: triangles equi-only, mergeIndex broadcast anti, semi join") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString

    // triangle counting: orientation makes every join an equi join —
    // a cartesian/nested-loop anywhere means the wedge join degenerated
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("i", "j")
    val tp = plan(graft.ops.Components.triangleCounts(edges))
    assert(!tp.contains("CartesianProduct") && !tp.contains("NestedLoopJoin"), tp)

    // incremental index upsert: the standing index is pruned by a
    // BROADCAST anti join on the bounded batch id set — a shuffled anti
    // join would reshuffle the whole index per batch
    val batch = docs.filter($"doc_id" % 7 === 0).select("doc_id", "text")
    val mp = plan(graft.ops.Retrieval.mergeIndex(
      graft.ops.Retrieval.docTerms(docs, "doc_id", "text"),
      batch, "doc_id", "text"))
    assert(mp.contains("BroadcastHashJoin") && mp.contains("LeftAnti"), mp)

    // q4: the EXISTS shape must plan as a LEFT SEMI hash join (probe
    // rows never duplicate), not an inner join + dedup
    val qp = plan(SparkEntry.queries("tpch_q4_shaped")(spark, dir))
    assert(qp.contains("LeftSemi"), qp)
  }

  test("session-4 op plan shapes: narrow deflate/unpivot, broadcast winsorize, post-agg spine join") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString

    // compression signal and unpivot are pure map stages over the scan
    val comp = graft.ops.TextAnalysis.compressionStats(docs, "doc_id", "text")
    assert(!plan(comp).contains("Exchange"), plan(comp))
    val long = docs.select($"doc_id", $"n_chars")
      .unpivot(Array($"doc_id"), Array($"n_chars"), "metric", "value")
    assert(!plan(long).contains("Exchange"), plan(long))

    // winsorize: bounds agg broadcasts back; the full side never
    // shuffles for the join itself (its only exchange feeds the agg)
    val q = SparkEntry.queries("profile_winsorize")(spark, dir)
    val wp = plan(q)
    assert(wp.contains("BroadcastHashJoin"), wp)
    assert(!wp.contains("CartesianProduct") && !wp.contains("NestedLoopJoin"), wp)

    // missing-hours: both anti-join inputs are post-aggregate; no
    // cartesian anywhere, spine generation is an explode not a join
    val mh = SparkEntry.queries("profile_missing_hours")(spark, dir)
    val mp = plan(mh)
    assert(mp.contains("LeftAnti"), mp)
    assert(!mp.contains("CartesianProduct") && !mp.contains("NestedLoopJoin"), mp)

    // calibration window: ONE shuffle on source, no global sort
    val cal = SparkEntry.queries("mix_calibrated")(spark, dir)
    val cp = plan(cal)
    assert(cp.split("Exchange").length - 1 == 1, cp)
    assert(!cp.contains("Sort [q_score") || cp.contains("Sort [source"), cp)

    // l-diversity: size + exact-distinct audit shares the group shuffle,
    // no join anywhere in the plan
    val ld = SparkEntry.queries("privacy_l_diversity")(spark, dir)
    assert(!plan(ld).contains("Join"), plan(ld))

    // by-name union: two scans, one union, one agg — no join, no sort
    val u7 = SparkEntry.queries("u7_union_by_name")(spark, dir)
    val up = plan(u7)
    assert(up.contains("Union"), up)
    assert(!up.contains("Join") && !up.contains("Sort"), up)
  }

  test("round-8 op plan shapes: broadcast blocklist+dims, single-shuffle url dedup, WindowGroupLimit caps") {
    val dir = "/root/testdata/sf0.001"
    def plan(name: String) =
      SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

    // domain cap: blocklist is a broadcast LEFT ANTI; the per-domain cap
    // prunes at the partial level (WindowGroupLimit), never a global sort
    val dc = plan("curate_domain_cap")
    assert(dc.contains("BroadcastHashJoin") && dc.contains("LeftAnti"), dc)
    assert(dc.contains("WindowGroupLimit"), dc)

    // url dedup: ONE shuffle — the groupBy on the canonical URL
    val du = plan("dedup_url")
    assert(du.split("Exchange").length - 1 == 1, du)
    assert(!du.contains("Join"), du)

    // Q5 star join: both fixed-size dims broadcast; facts shuffle on
    // their keys, no nested-loop anywhere
    val q5 = plan("tpch_q5_shaped")
    assert(q5.split("BroadcastHashJoin").length - 1 >= 2, q5)
    assert(!q5.contains("CartesianProduct") && !q5.contains("NestedLoopJoin"), q5)

    // Q18: the quantity rollup aggregates BEFORE any join (the plan's
    // first join input is a HashAggregate, not a raw lineitem scan)
    val q18 = plan("tpch_q18_shaped")
    assert(q18.contains("HashAggregate"), q18)
    assert(!q18.contains("CartesianProduct") && !q18.contains("NestedLoopJoin"), q18)

    // compaction plan: metadata-only — one window shuffle on the key,
    // the groupBy reuses the partitioning (≤ 2 exchanges total)
    val lc = plan("layout_compaction")
    assert(lc.split("Exchange").length - 1 <= 2, lc)
    assert(!lc.contains("Join"), lc)

    // PSI: two bounded sketch aggregates full-outer joined — equi join
    // only, totals broadcast back
    val psi = plan("profile_psi")
    assert(psi.contains("FullOuter"), psi)
    assert(!psi.contains("CartesianProduct") && !psi.contains("NestedLoopJoin"), psi)

    // frame dedup: sig-keyed equi joins only; df-cap aggregate present
    val fd = plan("media_frame_dedup")
    assert(!fd.contains("CartesianProduct") && !fd.contains("NestedLoopJoin"), fd)
  }

  test("round-9 op plan shapes: hybrid RRF ranking tail on ONE qid " +
      "exchange; fuzzy distinct front aggregates before key explosion") {
    val dir = "/root/testdata/sf0.001"
    def plan(name: String) =
      SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

    // hybrid RRF: three Window operators (bm25 rank, coverage rank,
    // fused rank) but exactly ONE qid-only exchange feeds them — Spark
    // chains same-partitioning windows without re-shuffling
    val rrf = plan("rag_hybrid_rrf")
    assert("\\bWindow\\b".r.findAllIn(rrf).length >= 3, rrf)
    val qidOnlyExchanges = "Exchange hashpartitioning\\(qid#\\d+L?, \\d+\\)"
      .r.findAllIn(rrf).length
    assert(qidOnlyExchanges == 1,
      s"expected 1 qid-only exchange, got $qidOnlyExchanges in:\n$rrf")

    // fuzzy distinct front: the (block, string) collapse is an Aggregate
    // BELOW the PassJoin key explosion — the plan carries the groupBy
    // before any Generate/explode of candidate keys
    val fz = plan("j3_fuzzy_match_scale")
    val aggIdx = fz.indexOf("HashAggregate")
    val genIdx = fz.indexOf("Generate")
    assert(aggIdx >= 0 && genIdx >= 0, fz)
    assert(!fz.contains("CartesianProduct") && !fz.contains("NestedLoopJoin"), fz)
  }

  test("filters and projections reach the parquet scan (pushdown proof)") {
    val dir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("p9_filter_min_length")(spark, dir)
      .queryExecution.executedPlan.toString
    // the length gate's null-guard is pushed into the scan, and the scan
    // reads only the referenced columns, not the full documents schema
    assert("PushedFilters: \\[[^\\]]*IsNotNull".r.findFirstIn(plan).isDefined, plan)
    // p9 touches only doc_id + text: source/lang/n_chars must be pruned
    // from the scan's ReadSchema
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("n_chars") && !readSchema.contains("lang"),
      s"scan not pruned to referenced columns: $readSchema")
  }

  test("contamination: corpus side streams, benchmark side is the build side") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = graft.ops.Contamination.benchmarkOverlap(
      docs.filter($"doc_id" % 10 =!= 0), "text",
      docs.filter($"doc_id" % 10 === 0), "doc_id", "text", k = 3)
    val p = out.queryExecution.executedPlan.toString
    // both hit tests are broadcast semi joins (small side built, corpus
    // probed in place); the corpus must never be sort-merge shuffled
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle crept in:\n$p")
    // sanity: contaminated docs exist (injected near-dups overlap corpus)
    assert(out.filter($"contamination" > 0).count() > 0)
  }

  test("negative-mining anti join: bounded build side converts to broadcast under AQE") {
    // the static plan is a SortMergeJoin (the avoid set's size estimate
    // is corpus-derived, so the gated broadcast hint correctly declines)
    // but its ACTUAL size is bounded by k·|Q| + qrels — the r17 audit
    // relies on AQE converting it at runtime so the corpus-scale
    // candidate stream is never sorted; pin that conversion here
    val df = SparkEntry.queries("rag_random_negatives")(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)

    // cutIfRescanCostly: below the byte gate the frame is returned AS-IS
    // (no eager job on bench-scale inputs); the gate itself is the
    // widenScan byte rule, exercised by construction here
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val counts = docs.groupBy("source").count()
    assert(graft.ops.ScaleHints.cutIfRescanCostly(counts) eq counts)
  }

  test("fanout decides from the plan, never an RDD materialization") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // a narrow scan-shaped probe gains exactly one round-robin exchange
    val f = graft.ops.ScaleHints.fanout(docs)
    val fp = f.queryExecution.executedPlan.toString
    assert(fp.contains("ROUND_ROBIN") || fp.contains("RoundRobinPartitioning"), fp)
    // a frame the caller already repartitioned to >= target is returned
    // AS-IS (same object): no second exchange stacks on top
    val wide = docs.repartition(spark.sparkContext.defaultParallelism * 2)
    assert(graft.ops.ScaleHints.fanout(wide) eq wide)
  }

  test("releasing a reliable cut deletes its checkpoint files") {
    val sc = spark.sparkContext
    val ckptDir = java.nio.file.Files
      .createTempDirectory("graft_release_ckpt").toString
    try {
      sc.setCheckpointDir(ckptDir)
      val cut = graft.ops.ScaleHints.cut(spark.range(100).toDF("id"),
        reliable = true)
      assert(cut.count() == 100)
      def files(d: java.io.File): Int =
        if (d.isDirectory) d.listFiles().map(files).sum else 1
      val root = new java.io.File(ckptDir)
      assert(files(root) > 0, s"no checkpoint files under $ckptDir")
      graft.ops.ScaleHints.releaseCheckpoint(cut)
      assert(files(root) == 0, s"checkpoint files left under $ckptDir")
    } finally {
      // no public un-set for the checkpoint dir: re-point it at a fresh
      // temp dir that outlives the suite, as PageRankSpec does
      sc.setCheckpointDir(java.nio.file.Files
        .createTempDirectory("graft_ckpt_rest").toString)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckptDir))
    }
  }
}
