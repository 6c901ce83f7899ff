package graft

/** One-off measurement main for the scale artifacts: recall of the
  * occupancy-gated hyperplane-LSH near-dup path vs the exhaustive
  * cosine baseline on a given embeddings table — the number the sf10
  * spot artifact reports next to `dedup_embedding_lsh`'s step (the
  * plane/table scaling holds recall ANALYTICALLY at the anchor cosine;
  * this measures it on the actual corpus). Usage:
  *   sbt "runMain graft.RecallEval <sfDir> [threshold]"
  * Optional third arg scaleTables=true|false|both — `both` evaluates
  * the recall-holding table growth AND the fixed-table (linear-work)
  * alternative against ONE shared exhaustive baseline (the O(n²) legs
  * dominate the run, so the two sides of the documented ρ-exponent
  * trade cost one baseline, not two).
  * Optional fourth/fifth args maxPlanes (a comma-separated list — one
  * process walks the whole forced-bind curve against ONE shared
  * exhaustive baseline) / maxTables (defaults 20/64); low values
  * FORCE the clamp regimes at small corpora — the r13 verdict's ask:
  * DedupSpec identified maxPlanes (~67M rows at the defaults) as the
  * real silent edge, and nothing had measured behavior past the bind.
  * An artificially low maxPlanes on sf1 (n=5·10⁵ ≫ occupancy·2^10)
  * reproduces the bind exactly; the analytic prediction is recall
  * HELD (plane growth stops, so per-pair collision probability stops
  * falling) at quadratically growing candidate COST — this measures
  * both (recall vs the shared exhaustive truth, cost via lsh_sec and
  * lsh_pairs).
  * Prints one JSON line per variant {n, threshold, scale_tables,
  * max_planes, eff_planes, eff_tables, planes_bind, tables_bind,
  * exact_pairs, lsh_pairs, recall, exact_pairs_cos09, recall_cos09}.
  * The exhaustive leg is O(n²) — run only at spot-bench scales; the
  * recall join stays distributed (no driver collect of the pair sets). */
object RecallEval {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val threshold = if (args.length > 1) args(1).toDouble else 0.4
    val spark = LocalSession.start()
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
    spark.stop()
  }
}
