package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{CandidateGen, Quantize, TfIdfEmbed, Vectors}
import graft.expr.{sketchFunctions => sf}
import graft.catalog.Catalog
import graft.catalog.Shared.{ivfIndexFor, qcLabeled, t}

/** The query contract: every declared query by name, as a Spark builder
  * over a scale-factor dir of parquet tables ([[queries]]) and as the ANSI
  * SQL that DuckDB checks it against ([[oracleSql]]). Both maps are views
  * of one catalog of [[graft.catalog.Query]] records (one family object
  * per file under `graft/catalog/`), so a builder and its oracle are
  * defined together and cannot drift apart by name.
  */
object SparkEntry {

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.all.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    Catalog.all.map(q => q.name -> q.oracle).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Fixed export location of the oracle's auxiliary MODEL artifacts —
    * the IVF coarse quantizer (centroid table + cell-assigned corpus,
    * the exact content [[graft.ops.Vectors.ivfSave]] persists) and the
    * PQ codebook. [[Verify]] writes them after the query dump; the
    * ann_* oracle SQL reads them back via read_parquet() and replays
    * the assignment arithmetic (probe routing, subspace encoding, ADC,
    * exact refine) in DuckDB — which is what turns the four index-based
    * ANN queries from rows-only into hash-checked. The models
    * themselves are fit artifacts (seed-fixed KMeans / Lloyd's), like a
    * bucketed table's layout: the oracle checks the QUERY arithmetic
    * against them, not the fit. */
  val oracleAuxDir: String = "/tmp/graft_oracle_aux"

  /** Gate tooling, not a library operator: runs at the verify SF
    * (sf0.01), where the assigned table is hundreds of rows — the
    * coalesce(1) exports are sized for DuckDB to read one file each,
    * not for corpus-scale writes (the production index persistence
    * path is [[graft.ops.Vectors.ivfSave]], cell-partitioned). */
  def writeOracleAux(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    val ivf = ivfIndexFor(s, dir)
    ivf.centroids.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/ivf_centroids")
    ivf.assigned.select("cid", "cell")
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/ivf_assigned")
    val pq = Quantize.pqFit(t(s, dir, "embeddings"), "vec_id", "embedding")
    (0 until pq.m).flatMap { j =>
      (0 until pq.k).map { c =>
        (j, c, pq.codebook.slice((j * pq.k + c) * pq.subDim,
          (j * pq.k + c + 1) * pq.subDim).toSeq)
      }
    }.toDF("j", "c", "sub")
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/pq_codebook")
    // the PCA rotation (sign canon folded in) — deterministic refit of
    // the same model embed_pca projects with
    Vectors.pcaRotationFrame(t(s, dir, "embeddings"), "vec_id", "embedding",
        kDims = 8)
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/pca_rotation")
    // per-doc 64-bit simhash sketches (SimHash64Expr, goldens in
    // SketchesSpec) — the oracle replays the BANDING and hamming verify
    // of dedup_simhash in SQL against them, the same artifact split as
    // the IVF assignment above (sketch = the index-side artifact, the
    // pair join = the query arithmetic being checked)
    t(s, dir, "documents")
      .select(col("doc_id"), sf.simhash64(col("text")).as("sh"))
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/simhash")
    // per-position rolling k-gram hashes (the kernel layer under the
    // winnowing selection) — the oracle replays text_fingerprint's
    // window-argmin + run-dedupe over these rows; pos = -1 marks the
    // short-text sentinel (whole-text FNV)
    val gramsUdf = udf((txt: String) => graft.ops.Sketches.gramHashes(txt))
    t(s, dir, "documents")
      .select(col("doc_id"), explode(gramsUdf(col("text"))).as("g"))
      .select(col("doc_id"), col("g._1").as("pos"), col("g._2").as("h"))
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/gram_hashes")
    // quality-classifier replay artifacts: the deterministic refit's
    // per-doc sparse TF-IDF features and the fitted linear model (idx -1
    // carries the intercept) — the oracle recomputes margin, sigmoid and
    // the milli floor from these
    val qc = graft.ops.QualityClassifier.trainScoreFull(
      qcLabeled(s, dir), "doc_id", "text", "weak_label")
    qc.features
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/qc_features")
    (qc.coefficients.zipWithIndex.map { case (w, i) => (i, w) } :+
        ((-1, qc.intercept))).toSeq.toDF("idx", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/qc_model")
    // TF-IDF replay artifacts: hashing-trick term→bucket mapping over
    // the corpus vocabulary + the fitted IDF weights — the oracle
    // recomputes rag_tfidf_embed's bucketed TF, IDF scaling and ordered
    // L2 normalization from these
    TfIdfEmbed.termBuckets(t(s, dir, "documents"), "text", dim = 128)
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/tfidf_buckets")
    // the exact RegexTokenizer token stream — DuckDB's lower()/RE2 '\s+'
    // can diverge from the JVM tokenization (locale case mappings, \x0B),
    // so the token layer ships as data like termBuckets does
    TfIdfEmbed.tokens(t(s, dir, "documents"), "doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/tfidf_tokens")
    TfIdfEmbed.idfWeights(t(s, dir, "documents"), "doc_id", "text", dim = 128)
      .zipWithIndex.map { case (w, i) => (i, w) }.toSeq.toDF("idx", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/tfidf_idf")
    // BPE replay artifacts: the per-WORD encode over the corpus's distinct
    // vocabulary (the same deterministic refit + codegen encode kernel the
    // query runs, golden-pinned word-by-word in BpeSpec) — the oracle
    // replays text_bpe_pieces' corpus APPLICATION layer in SQL: whitespace
    // tokenization, word→pieces join, in-order concat, piece count and the
    // md5 digest. Same artifact split as dedup_simhash (kernel exported,
    // query arithmetic replayed).
    // per-doc deflate lengths (the codegen Deflater kernel, pinned vs a
    // reference Deflater in SketchesSpec) — the oracle replays
    // text_compression's byte-length and ratio arithmetic over them
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.expr.sketchFunctions.deflate_len(col("text")).as("deflate_bytes"))
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/deflate_len")
    // f12_similarity_scale replay trace: the SAME PassJoin candidate set
    // the declared query verifies (quick-ratio length bound only — a
    // strict superset of the qualifying pairs), each with its difflib
    // matching blocks from the golden-pinned Similarity.matchingBlocks.
    // The oracle re-verifies every block IN SQL against the raw strings
    // (substr equality, ordering, non-overlap) and recomputes
    // sim = 2·Σlen/(la+lb) — the block decomposition is the exported
    // artifact, the decision chain is replayed, same split as the IVF
    // oracles above (a lying trace fails the substr checks and the
    // driver's hash compare goes red).
    val f12Blocks = udf((a: String, b: String) =>
      graft.ops.Similarity.matchingBlocks(a, b).grouped(3)
        .map(x => (x(0), x(1), x(2))).toSeq)
    def f12Trace(theta: Double, out: String): Unit =
      CandidateGen.similaritySelfPairs(t(s, dir, "part"), "p_partkey",
          "p_name", theta = theta, blockCols = Seq("p_brand"))((_, _) => lit(1.0))
        .select(col("i").as("k1"), col("j").as("k2"),
          // canonical orientation, matching the declared queries' sim:
          // blocks decompose (min(sa,sb), max(sa,sb))
          explode(f12Blocks(least(col("str_i"), col("str_j")),
            greatest(col("str_i"), col("str_j")))).as("blk"))
        .select(col("k1"), col("k2"), col("blk._1").as("pa"),
          col("blk._2").as("pb"), col("blk._3").as("len"))
        .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/$out")
    f12Trace(0.9, "f12_blocks")           // f12_similarity_scale
    f12Trace(0.5, "f12_blocks_ratcliff")  // f12_similarity_ratcliff
    val bpeModel = graft.ops.Bpe.fit(t(s, dir, "documents"), "text", nMerges = 32)
    t(s, dir, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("term"))
      .filter(length(col("term")) > 0).distinct()
      .select(col("term"),
        graft.ops.Bpe.encode(col("term"), bpeModel).as("__p"))
      .select(col("term"), concat_ws(" ", col("__p")).as("pieces_str"),
        size(col("__p")).as("n_pieces"))
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/bpe_word_pieces")
    // f1_clean_corpus decision trace: one row per PHYSICAL input line per
    // document with CleanCorpus.decisions' per-line code (K kept / R
    // rescued-kept / B blank-kept / E blank-dropped / P boilerplate /
    // H header / C cutoff / T after-cutoff). clean() itself is assembled
    // FROM this same kernel (decide → assemble, CleanCorpus.scala), so
    // the declared query and this trace cannot drift. The oracle replays
    // the whole decision chain in DuckDB — the cutoff/boilerplate/header/
    // dosage regex layers and the 15-line (+nested ':'-window) lookahead
    // recomputed INDEPENDENTLY from the raw lines, the prev-kept-line
    // state refolded from the trace's own prior decisions — then rebuilds
    // content (filter → join → normalize) and hash-compares. A lying
    // trace fails the per-line predicate re-checks or the line-coverage
    // counts and the doc drops out → red.
    val f1Trace = udf((text: String) => {
      val lines =
        if (text == null || text.isEmpty) Array("")
        else text.split("\n", -1)
      graft.ops.CleanCorpus.decisions(lines).zipWithIndex
        .map { case (c, i) => (i + 1, c.toString) }.toSeq
    })
    t(s, dir, "documents")
      .select(col("doc_id"), explode(f1Trace(col("text"))).as("d"))
      .select(col("doc_id"), col("d._1").as("line_idx"),
        col("d._2").as("decision"))
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/clean_trace")
    // text_bpe_fit state trace: the per-iteration vocab symbol tables
    // from the SAME fit loop the query runs (Bpe.fitWithStates — fit()
    // delegates to it, no drift). The oracle re-derives every merge
    // itself: state 0 is proved equal to the corpus dictionary, each
    // merge is recomputed as the pair-count argmax over state t, and
    // state t+1 is proved equal to the left-to-right non-overlapping
    // rewrite of state t under that recomputed merge — the trace is
    // verified intermediate state, not trusted output.
    val bpeFitStates = graft.ops.Bpe
      .fitWithStates(t(s, dir, "documents"), "text", nMerges = 50)._2
    bpeFitStates.zipWithIndex
      .flatMap { case (st, i) => st.map { case (w, sy, c) => (i, w, sy, c) } }
      .toDF("step", "word", "syms", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleAuxDir/bpe_fit_states")
  }
}
