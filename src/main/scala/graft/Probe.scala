package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Vectors}

/** Diagnostic main for the scale gates' calibration numbers (the
  * GATE_CALIB_* and RECALL_* artifacts), one mode per measurement, all
  * on one local session:
  *
  *   - `bound <sfDir>`: the Jaccard candidate layer's measured gates;
  *   - `lsh-skew <sfDir> [<sfDir>...]`: hyperplane-LSH bucket skew;
  *   - `recall <sfDir> [threshold] [scaleTables] [maxPlanes] [maxTables]`:
  *     LSH near-dup recall vs the exhaustive baseline.
  *
  * Usage: tools/java_run.sh graft.Probe <bound|lsh-skew|recall> <sfDir> [args...]
  */
object Probe {
  private val usage = "usage: graft.Probe <bound|lsh-skew|recall> <sfDir> [args...]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, usage)
    val mode: SparkSession => Unit = args(0) match {
      case "bound"    => bound(_, args(1))
      case "lsh-skew" => spark => args.drop(1).foreach(lshSkew(spark, _))
      case "recall"   => recall(_, args.drop(1))
      case m          => throw new IllegalArgumentException(s"unknown mode '$m'; $usage")
    }
    val spark = LocalSession.start()
    try mode(spark) finally spark.stop()
  }

  private def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    r
  }

  /** For the dedup_ngram_jaccard (self) and dedup_cross_corpus (across)
    * shapes on a given SF dir: which strategy each generator chose
    * (band-only / prefix / LSH degrade), the measured candidate bound
    * that drove it, and per-stage wall times — the numbers the scale
    * artifacts cite. */
  def bound(spark: SparkSession, sfDir: String): Unit = {
    def sk(d: DataFrame) = d.select(col("doc_id").as("id"),
        col("n_chars").cast("long").as("len"),
        graft.ops.Dedup.hashedShingles(col("text"), 3).as("hs"))
      .withColumn("n", size(col("hs")))
      .filter(col("n") > 0)
      .localCheckpoint(true)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // across shape (dedup_cross_corpus): 2% benchmark side
    val bs = timed("sketch bench")(sk(docs.filter(col("doc_id") % 50 === 0)))
    val ps = timed("sketch corpus")(sk(docs.filter(col("doc_id") % 50 =!= 0)))
    val cand = timed("across candidate gen (incl bound)")(
      graft.ops.CandidateGen.bandPrefixAcross(ps, bs, 0.5, 32, 20))
    // r17: the across path carries the LINEARITY gate — measuredBound
    // is the sampled cross-bound estimate that decided it
    val rowsA = ps.count() + bs.count()
    val allow = graft.ops.CandidateGen.defaultAcrossCandidatesPerRow * rowsA
    println(s"[probe] across: exact=${cand.exact} " +
      s"estBound=${cand.measuredBound} allowance=$allow " +
      s"(rows=$rowsA x ${graft.ops.CandidateGen.defaultAcrossCandidatesPerRow}/row, " +
      s"margin x${2}) mayRepeat=${cand.mayRepeat}")
    // across estimator calibration (GATE_CALIB across leg): exact bound
    // via f=1 (the spec-pinned identity) vs the production-f estimate
    val fA = math.min(0.05, math.max(0.005, 20000.0 / math.max(rowsA, 1L)))
    val exactA = timed("across exact bound (f=1)")(
      graft.ops.CandidateGen.estimatePrefixCandidateBoundAcross(
        ps, bs, 0.5, 32, 1.0))
    val estA = timed(f"across sampled estimate (f=$fA%.4f)")(
      graft.ops.CandidateGen.estimatePrefixCandidateBoundAcross(
        ps, bs, 0.5, 32, fA))
    println(f"[probe] across exact bound=$exactA est=$estA " +
      f"ratio=${estA.toDouble / math.max(exactA, 1L)}%.3f")
    val nCand = timed("across candidate count")(cand.pairs.count())
    println(s"[probe] across candidates: $nCand")

    // self shape (dedup_ngram_jaccard)
    val ss = timed("sketch full corpus")(sk(docs))
    // fast-gate estimator calibration (r14): exact bound via the full
    // prefix build vs the doc-sampled estimate at the production
    // fraction — the measured error that justifies fastGateMargin
    val prefix = timed("full prefix build")(
      graft.ops.CandidateGen.prefixTokens(ss, 0.5,
        graft.ops.CandidateGen.gramDf(ss)).localCheckpoint(true))
    val exactBound = timed("exact prefixCandidateBound")(
      graft.ops.CandidateGen.prefixCandidateBound(prefix, 32))
    val rows = ss.count()
    val f = math.min(0.05, math.max(0.005, 20000.0 / math.max(rows, 1L)))
    val est = timed(f"sampled estimate (f=$f%.4f)")(
      graft.ops.CandidateGen.estimatePrefixCandidateBound(ss, 0.5, 32, f))
    val estFull = timed("estimate at f=1 (identity check)")(
      graft.ops.CandidateGen.estimatePrefixCandidateBound(ss, 0.5, 32, 1.0))
    println(f"[probe] self exact bound=$exactBound est=$est " +
      f"ratio=${est.toDouble / math.max(exactBound, 1L)}%.3f " +
      s"estAtF1=$estFull (must equal exact) rows=$rows")
    val candS = timed("self candidate gen (incl bound)")(
      graft.ops.CandidateGen.bandPrefixSelf(ss, 0.5, 32, 20))
    println(s"[probe] self: exact=${candS.exact} bound=${candS.measuredBound} " +
      s"estimated=${candS.boundEstimated} mayRepeat=${candS.mayRepeat}")
    val nCandS = timed("self candidate count")(candS.pairs.count())
    println(s"[probe] self candidates: $nCandS")
  }

  /** The hyperplane-LSH banded self-join's bucket SKEW (r16 verdict #1):
    * replays [[Dedup.embeddingNearDups]]'s exact banded (tbl, bkt)
    * construction at the query defaults on a given SF dir and prints,
    * WITHOUT running the join, the numbers that decide between the
    * mean-occupancy cost model and hot-bucket skew:
    *
    *   - the bucket-occupancy histogram (p50/p90/p99/max),
    *   - candidates = Σ_b C(occ_b, 2) — the join's true work term —
    *     vs the mean-occupancy model tables·n·(n/2^planes)/2,
    *   - what fraction of those candidates the top-K buckets carry
    *     (the skew smoking gun: quadratic in bucket size),
    *   - per-label corpus skew (the embeddings are per-label Gaussian
    *     clusters — tools/gen_sf1.py:74 — so label mass bounds how hot a
    *     bucket can get),
    *   - the qualifying fraction (cos ≥ threshold) on a bounded sample
    *     of the hottest bucket — candidate-waste vs output-bound.
    */
  def lshSkew(spark: SparkSession, sfDir: String): Unit = {
    // dedup_embedding_lsh defaults (DedupQueries): threshold 0.4, 8x8,
    // occupancy 64, maxPlanes 20, maxTables 64, seed 42, dim 64
    val threshold = 0.4
    val (nPlanes, nTables, occT, maxP, maxT, dim, seed) =
      (8, 8, 64L, 20, 64, 64, 42L)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .localCheckpoint(true)
    val n = emb.count()
    val (effPlanes, effTables, clampBinds) = Dedup.lshEffParams(
      n, threshold, nPlanes, nTables, occT, maxP, maxT, scaleTables = true)
    val meanOcc = n.toDouble / (1L << effPlanes)
    println(s"[skew] $sfDir: n=$n effPlanes=$effPlanes effTables=$effTables " +
      s"clampBinds=$clampBinds meanOcc=$meanOcc")

    val tableBuckets = array((0 until effTables).map { t =>
      Vectors.hyperplaneBuckets(col("embedding"),
        Vectors.hyperplanes(effPlanes, dim, seed + t))
    }: _*)
    val banded = emb.select(col("vec_id"),
      posexplode(tableBuckets).as(Seq("tbl", "bkt")))
    val occ = banded.groupBy("tbl", "bkt").count()
      .withColumnRenamed("count", "occ").localCheckpoint(true)

    val agg = occ.agg(
      count(lit(1)).as("buckets"),
      max(col("occ")).as("maxOcc"),
      expr("percentile_approx(occ, array(0.5, 0.9, 0.99, 0.999), 10000)")
        .as("pct"),
      sum(col("occ") * (col("occ") - 1) / 2).cast("double")
        .as("candidates")).head()
    val buckets = agg.getLong(0)
    val maxOcc = agg.getLong(1)
    val pct = agg.getSeq[Long](2)
    val cand = agg.getDouble(3)
    // mean-occupancy model the r16 artifact priced against: every
    // bucket at the mean -> tables * n * (meanOcc-1)/2
    val meanModel = effTables.toDouble * n * math.max(meanOcc - 1, 0) / 2
    println(s"[skew] buckets=$buckets occ p50=${pct(0)} " +
      s"p90=${pct(1)} p99=${pct(2)} p99.9=${pct(3)} max=$maxOcc")
    println(f"[skew] candidates SumC2=$cand%.3e meanModel=$meanModel%.3e " +
      f"skewFactor=${cand / math.max(meanModel, 1.0)}%.1fx")

    val topK = 20
    val top = occ.orderBy(col("occ").desc).limit(topK)
      .withColumn("c2", (col("occ") * (col("occ") - 1) / 2).cast("double"))
    val topRows = top.collect()
    val topCand = topRows.map(_.getAs[Double]("c2")).sum
    println(f"[skew] top-$topK buckets carry ${100 * topCand / cand}%.1f%% " +
      s"of candidates; top-5 occ=" +
      topRows.take(5).map(_.getAs[Long]("occ")).mkString(","))

    // label skew: per-label Gaussian clusters mean label mass bounds
    // bucket heat (a tight cluster can land whole in one bucket/table)
    val labels = emb.groupBy("label").count().orderBy(col("count").desc)
      .limit(5).collect()
    println(s"[skew] top-5 label masses: " +
      labels.map(r => s"${r.get(0)}:${r.getLong(1)}").mkString(" "))

    // qualifying fraction on the hottest bucket (bounded 2000-row
    // sample, <=2M pairs): decides candidate-waste vs output-bound
    val hot = topRows.head
    val hTbl = hot.getAs[Number]("tbl").intValue
    val hBkt = hot.getAs[Number]("bkt").longValue
    val hotIds = banded.filter(col("tbl") === hTbl && col("bkt") === hBkt)
      .select(col("vec_id")).limit(2000)
    val hotVecs = emb.join(hotIds, "vec_id")
      .select(col("vec_id"), col("embedding"),
        Vectors.norm(col("embedding")).as("nrm"))
      .localCheckpoint(true)
    val m = hotVecs.count()
    val a = hotVecs.select(col("vec_id").as("i"), col("embedding").as("vi"),
      col("nrm").as("ni"))
    val b = hotVecs.select(col("vec_id").as("j"), col("embedding").as("vj"),
      col("nrm").as("nj"))
    val qual = a.join(broadcast(b), col("i") < col("j"))
      .filter(Vectors.dot(col("vi"), col("vj")) / (col("ni") * col("nj"))
        >= threshold)
      .count()
    val pairs = m * (m - 1) / 2
    println(f"[skew] hottest bucket (tbl=$hTbl occ=${hot.getAs[Long]("occ")}): " +
      f"sample m=$m qualifying=$qual/$pairs " +
      f"(${100.0 * qual / math.max(pairs, 1L)}%.1f%%)")
  }

  /** Recall of the occupancy-gated hyperplane-LSH near-dup path vs the
    * exhaustive cosine baseline on a given embeddings table — the number
    * the sf10 spot artifact reports next to `dedup_embedding_lsh`'s step
    * (the plane/table scaling holds recall ANALYTICALLY at the anchor
    * cosine; this measures it on the actual corpus).
    *
    * `args`: sfDir, then optional threshold (default 0.4); scaleTables =
    * true|false|both — `both` evaluates the recall-holding table growth
    * AND the fixed-table (linear-work) alternative against ONE shared
    * exhaustive baseline (the O(n²) legs dominate the run, so the two
    * sides of the documented ρ-exponent trade cost one baseline, not
    * two); maxPlanes (a comma-separated list — one process walks the
    * whole forced-bind curve against ONE shared exhaustive baseline) and
    * maxTables (defaults 20/64). Low values FORCE the clamp regimes at
    * small corpora — the r13 verdict's ask: DedupSpec identified
    * maxPlanes (~67M rows at the defaults) as the real silent edge, and
    * nothing had measured behavior past the bind. An artificially low
    * maxPlanes on sf1 (n=5·10⁵ ≫ occupancy·2^10) reproduces the bind
    * exactly; the analytic prediction is recall HELD (plane growth stops,
    * so per-pair collision probability stops falling) at quadratically
    * growing candidate COST — this measures both (recall vs the shared
    * exhaustive truth, cost via lsh_sec and lsh_pairs).
    *
    * Prints one JSON line per variant {n, threshold, scale_tables,
    * max_planes, eff_planes, eff_tables, planes_bind, tables_bind,
    * exact_pairs, lsh_pairs, recall, exact_pairs_cos09, recall_cos09}.
    * The exhaustive leg is O(n²) — run only at spot-bench scales; the
    * recall join stays distributed (no driver collect of the pair sets). */
  def recall(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = args(0)
    val threshold = if (args.length > 1) args(1).toDouble else 0.4
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = e.count()
    // the exhaustive legs are the expensive part (O(n²) — ~2×10¹⁰ dot
    // products at the sf10 spot) — computed ONCE and shared by however
    // many LSH variants this run evaluates ("both" evaluates the
    // recall-holding and fixed-table sides of the ρ-exponent trade
    // against the same baseline in one process)
    val exact = graft.ops.Dedup.embeddingNearDups(e, "vec_id", "embedding",
      threshold, exhaustive = true).persist()
    val nExact = exact.count()
    // stratified: recall on the NEAR-DUP band (cos ≥ 0.9 — the pairs a
    // dedup pass exists to catch; the full-threshold number is dominated
    // by the far tail, where LSH recall is by design near zero)
    val exact09 = graft.ops.Dedup.embeddingNearDups(e, "vec_id", "embedding",
      math.max(threshold, 0.9), exhaustive = true).persist()
    val nExact09 = exact09.count()
    val variants = args.lift(2).getOrElse("true") match {
      case "both" => Seq(true, false)
      case v      => Seq(v.toBoolean)
    }
    // comma-separated list: one process evaluates the whole forced-bind
    // DECAY CURVE (e.g. "20,8,7,6,5") against the single shared
    // exhaustive baseline — the O(n²) leg is the run's cost, not the
    // LSH legs, so a 5-point curve costs ~one point
    val maxPlanesList = args.lift(3).getOrElse("20").split(",").map(_.trim.toInt).toSeq
    val maxTables = args.lift(4).map(_.toInt).getOrElse(64)
    for (scaleTables <- variants; maxPlanes <- maxPlanesList) {
      // the effective plane count floors at the BASE nPlanes, so a
      // forced maxPlanes below 8 would otherwise be a no-op — lower the
      // base with it so the forced bind actually deepens (occupancy
      // doubles per lost plane; this is the regime the curve measures)
      val basePlanes = math.min(8, maxPlanes)
      val (effPlanes, effTables, tablesBind) = graft.ops.Dedup.lshEffParams(
        n, threshold, nPlanes = basePlanes, nTables = 8,
        targetBucketOccupancy = 64L, maxPlanes = maxPlanes,
        maxTables = maxTables, scaleTables = scaleTables)
      val planesBind = effPlanes == maxPlanes && n > 64L * (1L << maxPlanes)
      val t0 = System.nanoTime()
      val lsh = graft.ops.Dedup.embeddingNearDups(e, "vec_id", "embedding",
        threshold, knownCount = Some(n), scaleTables = scaleTables,
        nPlanes = basePlanes, maxPlanes = maxPlanes,
        maxTables = maxTables).persist()
      val nLsh = lsh.count()
      val lshSec = (System.nanoTime() - t0) / 1e9
      val hits = exact.join(lsh, Seq("i", "j"), "left_semi").count()
      val recall = if (nExact == 0) 1.0 else hits.toDouble / nExact
      val hits09 = exact09.join(lsh, Seq("i", "j"), "left_semi").count()
      val recall09 = if (nExact09 == 0) 1.0 else hits09.toDouble / nExact09
      println(f"""{"n":$n,"threshold":$threshold,"scale_tables":$scaleTables,"max_planes":$maxPlanes,"eff_planes":$effPlanes,"eff_tables":$effTables,"planes_bind":$planesBind,"tables_bind":$tablesBind,"lsh_sec":$lshSec%.1f,"exact_pairs":$nExact,"lsh_pairs":$nLsh,"recall":$recall%.4f,"exact_pairs_cos09":$nExact09,"recall_cos09":$recall09%.4f}""")
      lsh.unpersist()
    }
  }
}
