package graft

import org.apache.spark.sql.functions._

/** Diagnostic main for the Jaccard candidate layer's measured gates:
  * prints, for the dedup_ngram_jaccard (self) and dedup_cross_corpus
  * (across) shapes on a given SF dir, which strategy each generator
  * chose (band-only / prefix / LSH degrade), the measured candidate
  * bound that drove it, and per-stage wall times — the numbers the
  * scale artifacts cite. Usage:
  *   sbt "runMain graft.BoundProbe <sfDir>"
  */
object BoundProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = LocalSession.start()
    def sk(d: org.apache.spark.sql.DataFrame) = d.select(col("doc_id").as("id"),
        col("n_chars").cast("long").as("len"),
        graft.ops.Dedup.hashedShingles(col("text"), 3).as("hs"))
      .withColumn("n", size(col("hs")))
      .filter(col("n") > 0)
      .localCheckpoint(true)
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
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
    spark.stop()
  }
}
