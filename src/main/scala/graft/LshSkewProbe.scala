package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Vectors}

/** Diagnostic main for the hyperplane-LSH banded self-join's bucket
  * SKEW (r16 verdict #1): replays [[Dedup.embeddingNearDups]]'s exact
  * banded (tbl, bkt) construction at the query defaults on a given SF
  * dir and prints, WITHOUT running the join, the numbers that decide
  * between the mean-occupancy cost model and hot-bucket skew:
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
  *
  * Usage: tools/java_run.sh graft.LshSkewProbe <sfDir> [<sfDir>...]
  */
object LshSkewProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.start()
    args.foreach(probe(spark, _))
    spark.stop()
  }

  def probe(spark: SparkSession, sfDir: String): Unit = {
    // dedup_embedding_lsh defaults (SparkEntry): threshold 0.4, 8x8,
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
}
