package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** PageRank over an edge list (Brin & Page 1998), integer-quantized so
  * the result is bit-reproducible across engines and replayable as plain
  * SQL — the companion graph signal to [[Components]]: components give
  * dedup GROUPS, PageRank gives per-node IMPORTANCE (authority weighting
  * for corpus curation: rank crawled pages by link authority, weight
  * training documents by citation graph centrality).
  *
  * Quantization contract (everything exact integer arithmetic, no float
  * accumulation — a distributed float PageRank is merge-order-dependent
  * and can never hash-match an oracle):
  *
  *   r_0(v)     = scale                       (rank 1.0 in micro-units)
  *   c_t(u→v)   = r_t(u) div outdeg(u)        (exact integer division)
  *   r_{t+1}(v) = (1−d)·scale + (Σ c_t(u→v)) · dampNum div dampDen
  *
  * with d = dampNum/dampDen (default 85/100). Integer sums are
  * order-independent, so each iteration is deterministic; both Spark
  * `div` and DuckDB `//` floor identically for the non-negative values
  * that arise here.
  *
  * Scale shape: `outdeg` is computed once and joined to the edges once
  * (one shuffle); each iteration is the classic two-shuffle step — join
  * current ranks to the degree-annotated edges on src (ranks is the
  * nodes-sized small side), partial-aggregated sum on dst — with
  * `localCheckpoint` truncating lineage per round, so the plan stays
  * constant-size over iterations (the GraphX/Pregel hygiene). No driver
  * loops over data, only over the fixed iteration count.
  *
  * PRECONDITION: a node with no out-edges (dangling) absorbs rank mass
  * like standard non-normalized PageRank; feed a symmetrized edge list
  * (u→v plus v→u) when modelling an undirected graph, which also makes
  * every receiver a sender so the node set is stable across iterations.
  */
object PageRank {

  /** Node-count gate for the big-graph storage discipline (see
    * [[pageRank]]): below it the committed small-graph plan runs with
    * zero extra jobs; above it transients are released and the hot
    * per-round table is stored serialized. 500k nodes ⇒ edge tables in
    * the tens of millions, where row-object GC pressure dominates.
    * Overridable per session via `spark.graft.bigGraphNodes` (how the
    * specs exercise the big path on toy graphs). */
  val bigGraphNodesDefault: Long = 500000L

  def bigGraphNodes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.bigGraphNodes").map(_.toLong)
      .getOrElse(bigGraphNodesDefault)

  /** (node, rank) after `iters` rounds over directed `edges`; rank in
    * `scale`-units. Node set = nodes with at least one out-edge (every
    * node, for a symmetrized graph).
    *
    * When the node count (measured once, off the degree table) is at
    * most `broadcastMaxNodes`, the per-iteration ranks⋈edges join is a
    * BROADCAST join — the big edge table is never shuffled, only the
    * contribution sums move (with map-side partial aggregation). Past
    * that size the join falls back to a SHUFFLE_HASH join keyed on src
    * — the correct billion-node shape (only the nodes-sized ranks
    * shuffle per round; a sort-merge join would re-sort the edge side
    * every round).
    *
    * Partition-once discipline, gated on the SAME [[bigGraphNodes]]
    * measurement as the storage discipline: above the gate the hot edge
    * table is repartitioned ONCE, at setup, on the key the per-round
    * pipeline needs — `dst` in the broadcast regime (the broadcast join
    * preserves the streamed side's partitioning, so the per-round
    * contribution aggregate needs NO exchange: a 5-iteration run moves
    * the edge table through zero per-round shuffles), `src` past it
    * (the per-round ranks⋈edges join reuses the stored partitioning;
    * only ranks shuffles). The table is PERSISTED, not checkpointed: a
    * localCheckpoint/checkpoint erases the partitioning metadata (the
    * LogicalRDD it leaves captures UnknownPartitioning under AQE —
    * measured: the per-round plan re-exchanged the aggregate), while an
    * InMemoryRelation keeps the Repartition node visible to
    * EnsureRequirements, so the one setup shuffle is reused by every
    * round (PageRankSpec asserts the final iteration's plan has zero
    * shuffle exchanges).
    *
    * WHY gated: the per-round aggregate's exchange input is map-side
    * combined, so it moves ≈ min(edges, partitions·nodes) rows — on a
    * small graph that is far below edge scale and the setup shuffle +
    * cache costs MORE than five combined exchanges (measured at 10×
    * bench data: the unconditional r11 form ran graph_pagerank
    * 11.9 → 29.0 s). On a big graph partitions·nodes reaches edge
    * scale and the elision is the dominant win (the r10 sf10 term).
    * Below the gate the r10 shape stands: no repartition, eager
    * localCheckpoint, per-round combined exchanges.
    * CALLER CONTRACT (cache, big graphs only): the persisted edge
    * table cannot be released from inside the returned lazy plan —
    * after materializing the result, call `spark.catalog.clearCache()`
    * (what Bench/Verify do) to free it, the same contract as
    * [[Dedup.minHashNearDups]]'s sketch cache.
    *
    * Cluster safety: with a checkpoint directory configured
    * (`sc.setCheckpointDir`) and the graph above the
    * [[bigGraphNodes]] gate, every loop-lived cut (deg, edgesDeg, the
    * per-round ranks) is a RELIABLE checkpoint instead of a
    * localCheckpoint — executor death mid-loop re-materializes from
    * the checkpoint FS instead of killing the job
    * ([[ScaleHints.cut]]). */
  def pageRank(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", iters: Int = 5,
      dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = 1000000L,
      broadcastMaxNodes: Long = 10000000L): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val g = degreeEdges(edges, srcCol, dstCol, broadcastMaxNodes)
    val base = scale - scale * dampNum / dampDen // (1−d)·scale, exact
    val ranks0 = g.deg.select(col("src").as("node"), lit(scale).as("rank"))
    iterate(g, ranks0, lit(base), iters, dampNum, dampDen)
  }

  /** Personalized PageRank (Jeh & Widom 2003 / Haveliwala 2002):
    * teleport mass lands ONLY on the `seeds` node set, so rank measures
    * proximity to the seeds — the corpus-expansion signal ("documents
    * close to my trusted set" in the link/similarity graph) rather than
    * global authority. Same quantized arithmetic and iteration shape as
    * [[pageRank]]; the seed flag is a nodes-sized broadcast join applied
    * to each iteration's aggregate output (already keyed on node). Seeds
    * start at `scale`, everything else at 0. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      seedCol: String, srcCol: String = "src", dstCol: String = "dst",
      iters: Int = 5, dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = 1000000L,
      broadcastMaxNodes: Long = 10000000L): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val g = degreeEdges(edges, srcCol, dstCol, broadcastMaxNodes)
    val seedSet = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct().withColumn("__seed", lit(1))
    val base = scale - scale * dampNum / dampDen
    val ranks0 = g.deg.select(col("src").as("node"))
      .join(g.hint(seedSet), Seq("node"), "left")
      .select(col("node"),
        when(col("__seed").isNotNull, lit(scale)).otherwise(lit(0L)).as("rank"))
    val withSeedBase = (ranks: DataFrame) => ranks
      .join(g.hint(seedSet), Seq("node"), "left")
      .select(col("node"),
        (col("rank") + when(col("__seed").isNotNull, lit(base))
          .otherwise(lit(0L))).as("rank"))
    iterate(g, ranks0, lit(0L), iters, dampNum, dampDen,
      postStep = withSeedBase)
  }

  /** The loop inputs both PageRank variants build from an edge list:
    * `deg` (src, __deg), the degree-annotated loop table `edgesDeg`,
    * the join hint the node count selects, and the big-graph gates. */
  private case class DegreeEdges(deg: DataFrame, edgesDeg: DataFrame,
      hint: DataFrame => DataFrame, big: Boolean, reliable: Boolean)

  private def degreeEdges(edges: DataFrame, srcCol: String, dstCol: String,
      broadcastMaxNodes: Long): DegreeEdges = {
    // materialize the (possibly expensive) upstream edge derivation ONCE:
    // deg, the degree join, and the node count all read this checkpoint
    // instead of re-running the caller's joins/distinct three times.
    // SERIALIZED, the [[symmetrize]] transient rule: e is read a fixed
    // handful of times (never per round — edgesDeg is the loop table),
    // and while the symmetrized distinct materializes here BOTH the
    // symmetrize checkpoint and this one are live; two edge-scale
    // deserialized copies were the r14-probe GC driver.
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val deg0 = e.groupBy("src").agg(count(lit(1)).as("__deg"))
    val nNodes = deg0.count()
    val bcast = nNodes <= broadcastMaxNodes
    val hint: DataFrame => DataFrame =
      if (bcast) broadcast else (df => df.hint("shuffle_hash"))
    // Storage discipline, gated on MEASURED size (learned at 100x bench
    // data, where eagerly-cached deserialized edge-sized copies pinned
    // for the whole loop filled the protected storage floor, starved
    // execution memory and thrashed GC on hundreds of millions of row
    // objects). Big graphs: checkpoint nodes-sized deg so the raw edge
    // blocks can be RELEASED before the loop, and store the hot
    // edgesDeg SERIALIZED (one byte[] per block, not 2 objects per
    // row — at this size GC relief beats the per-round deserialize
    // cost). Small graphs keep the zero-extra-jobs deserialized plan:
    // the same discipline applied unconditionally measured +20-25% per
    // query at sf0.1, all of it the fixed costs.
    val big = nNodes > bigGraphNodes(e.sparkSession)
    val reliable = big && ScaleHints.reliableConfigured(e)
    val deg = if (big) ScaleHints.cut(deg0, reliable) else deg0
    // partition-once above the gate (see the scaladoc): dst in the
    // broadcast regime (per-round aggregate reuses it — no per-round
    // edge shuffle at all), src past it (the per-round shuffle-hash
    // join reuses it). PERSIST, not cut — the Repartition node must
    // stay visible or the partitioning dies with the checkpoint.
    // Reliable mode re-cuts the raw edges to the checkpoint FS first,
    // so the persisted frame's recompute lineage survives executor
    // death (persisted blocks themselves spill to local disk, the same
    // risk class as the localCheckpoint blocks they replace). Below
    // the gate: the r10 shape — no repartition, eager localCheckpoint,
    // the per-round combined exchange is cheaper than the setup
    // shuffle it would remove.
    val edgesDeg = if (big) {
      val eSrc = if (reliable) ScaleHints.cut(e, reliable = true) else e
      val ed = eSrc.join(hint(deg), Seq("src"))
        .repartition(col(if (bcast) "dst" else "src"))
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      ed.count() // materialize before the raw edge blocks go away
      ed
    } else e.join(hint(deg), Seq("src"))
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK)
    // everything downstream reads deg / edgesDeg; release the raw edge
    // blocks for real (Dataset.unpersist is a no-op on a localCheckpoint)
    if (big) ScaleHints.releaseCheckpoint(e)

    DegreeEdges(deg, edgesDeg, hint, big, reliable)
  }

  private def iterate(g: DegreeEdges, ranks0: DataFrame,
      baseCol: org.apache.spark.sql.Column, iters: Int, dampNum: Long,
      dampDen: Long, postStep: DataFrame => DataFrame = identity): DataFrame = {
    // lineage is cut every `cutEvery`-th round, not every round: each
    // eager cut is a full job (schedule + materialize + store), and a
    // 2–3-round plan is still constant-size — this divides the job
    // count of the fixed-point loop while keeping the plan from
    // deepening across arbitrary iteration counts (the GraphX/Pregel
    // hygiene). Big graphs stretch to every 3rd round (the cut jobs
    // are a larger share of a big loop's wall-clock); reliable mode
    // makes each cut a checkpoint-FS write ([[ScaleHints.cut]]).
    val cutEvery = if (g.big) 3 else 2
    var ranks = ScaleHints.cut(ranks0, g.reliable)
    for (it <- 1 to iters) {
      val contribs = g.edgesDeg
        .join(g.hint(ranks.withColumnRenamed("node", "src")), Seq("src"))
        .select(col("dst"), expr("rank div __deg").as("__c"))
      ranks = postStep(contribs.groupBy(col("dst").as("node"))
          .agg((baseCol + expr(s"(sum(__c) * ${dampNum}L) div ${dampDen}L"))
            .as("rank")))
      if (it % cutEvery == 0 && it < iters)
        ranks = ScaleHints.cut(ranks, g.reliable)
    }
    ranks
  }

  /** Symmetrize a directed pair list: u→v plus v→u, distinct. The input
    * is materialized once (eager localCheckpoint) before the union —
    * its two branches would otherwise each re-evaluate the caller's
    * pair derivation (a fact⋈dim join in every graph query here) just
    * to flip the columns; same fix as
    * [[Components.connectedComponents]].
    *
    * SERIALIZED storage (the transient-table rule): p0 is read exactly
    * twice (the two union branches) and is dead once the caller's
    * downstream materialization lands, but nothing can release it from
    * inside this lazy plan — at 100× bench data it is tens of millions
    * of rows pinned for the caller's whole query. Deserialized, those
    * are row OBJECTS the old-gen collector re-scans on every mixed
    * collection; the r14 stage probe measured 31–87 s of process GC
    * across otherwise-identical graph_pagerank runs, concentrated in
    * exactly this stage (2,224 s summed task GC in the slow run vs 642
    * in the fast). As byte[] blocks the interior is opaque to the
    * collector and the variance source is gone. */
  def symmetrize(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val p0 = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    p0.unionByName(p0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }
}
