package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Plan-shaping helpers shared by the pair-join operators. Both exist to
  * make the bench-scale plan fast WITHOUT hard-coding decisions that
  * invert at corpus scale: a `broadcast()` hint is a command, not a
  * heuristic, and an unconditional `repartition()` injects a full shuffle
  * into a scan that is already wide.
  */
private[graft] object ScaleHints {

  /** Broadcast hint gated on the optimizer's own size estimate.
    *
    * At bench scale (MB-sized sketch/dimension tables read from one small
    * parquet file) Spark's estimate is often just above the default 10 MB
    * auto-broadcast threshold because string/array widths are guessed
    * conservatively — the explicit hint recovers the broadcast join. At
    * corpus scale the same derived table estimates in the GB/TB range and
    * the hint would command a driver-OOM broadcast, so it is dropped and
    * the join keys (band/bucket ids) make the plan a plain shuffled
    * equi-join. The `factor` headroom (8 × threshold ≈ 80 MB by default)
    * is the cutover: wide enough to absorb estimate error on small
    * inputs, far below anything corpus-sized.
    */
  def maybeBroadcast(df: DataFrame, factor: Long = 8L): DataFrame = {
    val thresh = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (thresh > 0 &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(thresh) * factor)
      broadcast(df)
    else df
  }

  /** Round-robin fan-out of the probe side of a pair join, gated on an
    * estimate of how wide the frame already is. A few-MB scan arrives as
    * ONE partition, so without this the whole O(n²) condition evaluation
    * runs on one core (measured: 483 s → 16 s on the sf0.1 ngram
    * workload). A corpus-scale scan is already wider than the target, so
    * no shuffle is injected.
    *
    * The width estimate is plan-derived, not `df.rdd.getNumPartitions`:
    * materializing the RDD lineage re-runs physical planning on every
    * call (every pair-join probe paid it). Instead: (1) a frame the
    * caller already repartitioned to >= target is left alone (the
    * Repartition node is visible in the optimized plan); (2) otherwise
    * estimated partitions = stats size / maxPartitionBytes — the same
    * inputs the file splitter uses, so the decision agrees with the RDD
    * count for scan-shaped probes. The estimate decides only whether a
    * round-robin exchange is added, never a result. */
  def fanout(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism * 2
    val plan = df.queryExecution.optimizedPlan
    val explicitlyWide = plan.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition
        if r.numPartitions >= target => r
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
        if r.optNumPartitions.exists(_ >= target) => r
    }.isDefined
    if (explicitlyWide) df
    else {
      // checkpoint-derived frames (LogicalRDD leaves) have NO usable
      // size statistics — computeStats falls back to defaultSizeInBytes
      // (Long.MaxValue), which would read as "already wide" and skip the
      // fan-out exactly when a 1-partition checkpoint needs it most. The
      // leaf RDD already exists, so its real partition count is free.
      val leafRddParts = plan.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.getNumPartitions
      }
      if (leafRddParts.nonEmpty) {
        if (leafRddParts.max >= target) df else df.repartition(target)
      } else {
        val maxPart = math.max(1L,
          df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
        val estParts = plan.stats.sizeInBytes / maxPart
        if (estParts >= target) df else df.repartition(target)
      }
    }
  }

  /** Round-robin widening of a FEW-FILE scan ahead of heavy per-row
    * compute (shingle sketches, LSH banding) — the r17 fix for the sf30
    * dedup_embedding_lsh DNF, whose true cause was neither candidate
    * growth nor bucket skew: a parquet scan's EFFECTIVE parallelism is
    * bounded by its row-group count (Spark assigns a row group to the
    * byte-range split holding its midpoint; the other splits of the
    * same file produce zero rows), so a single-file input with ~1M-row
    * row groups runs the whole banding/shingling map stage on 1–2
    * cores no matter what maxPartitionBytes says (measured: 2 busy
    * executor threads of 32 at sf30, jstack in probes/lsh_dnf_r17/).
    * [[fanout]] cannot help — it widens the JOIN probe side after the
    * explode, above the compute.
    *
    * The gate uses what the logical plan actually knows: the scan's
    * FILE COUNT (a lower bound proxy for effective splits — row-group
    * counts live in footers the planner never reads) and its size.
    * Fires only when files < target parallelism AND bytes ≥ 8 ×
    * maxPartitionBytes: a 100 TB input arrives as thousands of files,
    * so the hint is a structural no-op exactly where a blind
    * repartition would inject a pointless full shuffle; a small corpus
    * (every oracle/spec SF) stays below the byte floor, so bench-scale
    * plans and history are untouched. Non-scan inputs (checkpoints,
    * in-memory frames) pass through unchanged — their partitioning is
    * already real. */
  def widenScan(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism * 2
    val plan = df.queryExecution.optimizedPlan
    val fileCounts = plan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.inputFiles.length
          case _ => Int.MaxValue
        }
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        Int.MaxValue // V2 scans size their own splits; leave them alone
    }
    if (fileCounts.isEmpty) df
    else {
      val minBytes = 8L * math.max(1L,
        df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
      val totalFiles = fileCounts.map(_.toLong).sum
      if (totalFiles < target && plan.stats.sizeInBytes >= minBytes)
        df.repartition(target)
      else df
    }
  }

  /** Size-gated lineage cut for a small derived table that is read by
    * two-or-three downstream branches: materialize it only when a lazy
    * re-evaluation would re-read meaningful file-scan bytes.
    *
    * Left lazy, Catalyst re-plans every reference as a full re-run of
    * the subtree — for a vocabulary/strata-sized aggregate over a
    * corpus scan that is one extra corpus pass per branch. But an eager
    * cut is itself a job (schedule + materialize + store), and on a
    * bench-scale input the re-scan is CHEAPER than the cut (measured
    * r17 A/B at sf0.1: +0.2-0.3 s per query from unconditional cuts in
    * bigramPmi/lmScore/temperatureWeights, while the same cut wins
    * 0.3-0.6 s where the subtree is re-evaluated 6-21×). The gate is
    * the [[widenScan]] byte rule: fire only when the subtree's parquet
    * scans total ≥ 8 × maxPartitionBytes (32 MB under the bench
    * session's 4 MB setting, 1 GB under the production default), i.e.
    * exactly when a re-scan is guaranteed to dwarf the cut job.
    * Checkpoint-derived inputs (LogicalRDD leaves) count zero scan
    * bytes — they are already materialized, so re-reading them is
    * block-cache traffic, not I/O. */
  def cutIfRescanCostly(df: DataFrame,
      level: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val plan = df.queryExecution.optimizedPlan
    val scanBytes = plan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.sizeInBytes
    }.sum
    val minBytes = 8L * math.max(1L,
      df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    if (scanBytes >= minBytes) df.localCheckpoint(true, level) else df
  }

  /** Lineage cut for iterative fixed-point loops, with a cluster-safe
    * escape hatch. `localCheckpoint` blocks live in executor storage —
    * on a real cluster an executor death mid-loop loses them and, the
    * lineage being cut, the JOB dies (at 100 TB that is a guaranteed
    * restart of a multi-hour run). When the session has a checkpoint
    * directory configured (`sc.setCheckpointDir` — the operator's
    * config gate) and the caller's size gate says the loop is big
    * enough to care, the cut is a RELIABLE `Dataset.checkpoint`:
    * blocks re-materialize from the checkpoint files on executor loss.
    * Below the gate — or on a session with no checkpoint dir, like the
    * single-host bench — the zero-infra localCheckpoint path is
    * unchanged. Reliable cuts cost a write of the frame to the
    * checkpoint FS per cut; callers should cut the nodes-sized tables,
    * not edge-sized ones, wherever the loop allows.
    *
    * The reliable path persists the frame BEFORE `checkpoint()` and
    * unpersists after: an eager `Dataset.checkpoint` runs TWO jobs over
    * the lineage (the materializing count, then the checkpoint-file
    * write — `RDD.checkpoint` recomputes unless the blocks are cached),
    * so without the persist every reliable cut in a PageRank/Components
    * loop would compute its frame twice — on exactly the 100 TB cluster
    * path the feature exists for. Serialized storage: the blocks live
    * only between the two jobs of one cut. */
  def cut(df: DataFrame, reliable: Boolean,
      level: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame =
    if (reliable) {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val out = df.checkpoint()
      df.unpersist(false)
      out
    } else df.localCheckpoint(true, level)

  /** The config half of the reliable-cut gate (see [[cut]]). */
  def reliableConfigured(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.getCheckpointDir.isDefined

  /** Eagerly free the RDD blocks behind a localCheckpointed frame.
    *
    * `Dataset.unpersist` is a NO-OP here: it only uncaches via the SQL
    * cache manager, which never holds checkpoint blocks — so a
    * "release the transient edge copy before the loop" call that uses
    * it silently leaks the blocks until GC. This matches ONLY the plan
    * ROOT — the LogicalRDD leaf a checkpoint leaves as the entire plan —
    * and unpersists its RDD directly (same pattern as DriftStream's
    * superseded-state release). Root-only on purpose: a whole-plan
    * traversal would also release LogicalRDD leaves of OTHER, still-live
    * checkpointed inputs when a caller passes a frame derived from
    * several of them, and a released localCheckpoint has no lineage to
    * recompute from — later reads of those frames would fail. If a
    * Spark upgrade changes the root shape (or a caller passes a derived
    * frame), the match misses and the blocks leak until the session's
    * ContextCleaner gets them — a deliberate degradation, never a wrong
    * result. A reliable cut's checkpoint files are deleted too: Spark
    * leaves them behind unless `spark.cleaner.referenceTracking.
    * cleanCheckpoints` is set, so a daemon cutting every tick would grow
    * its checkpoint dir without bound. CALLER CONTRACT: pass the
    * checkpointed frame ITSELF, and the frame must be dead — any later
    * read of it fails. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
        lr.rdd.getCheckpointFile.foreach { f =>
          val path = new org.apache.hadoop.fs.Path(f)
          path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(path, true)
        }
      case _ => ()
    }
}
