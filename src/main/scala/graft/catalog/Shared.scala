package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.ops.{Fingerprint, Dedup, Vectors, TextAnalysis, Retrieval}
import graft.SparkEntry.oracleAuxDir

/** Helpers that more than one family object uses: the table readers,
  * the offline index artifacts, the shared fixtures (curation rules,
  * retrieval ground truth, query batch) and oracle fragments used by
  * several families. */
private[graft] object Shared {

  /** Memory-sink table names must be unique per streaming run within a
    * session (a name can be reused only after the prior query stops). */
  val streamRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** A genuinely fresh per-run scratch directory under java.io.tmpdir for
    * the streaming-sink queries. A pid+counter NAME is not fresh: after
    * pid recycling a new JVM can land on an old run's directory, and a
    * streaming sink's commit log in a stale directory either fails on
    * source mismatch or — same source dir — commits nothing and the
    * read-back silently returns the PREVIOUS run's files.
    * Files.createTempDirectory guarantees uniqueness, and the shutdown
    * hook deletes the tree so repeated Bench/Verify invocations don't
    * accumulate run outputs on a long-lived host. (The batch round-trip
    * queries keep deterministic pid paths on purpose — their writers are
    * overwrite-mode and reruns within one JVM reuse the path.) */
  def freshRunDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(p.toFile)
    }))
    p.toString
  }

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The ONE curation rule set shared by curate_tagged /
    * curate_tag_stats / curate_training_mix / t7_stream_curate — the
    * four queries must gate identically or the per-rule stats describe
    * a different corpus than the filter produces. Mirrored verbatim in
    * each query's oracle SQL. */
  def curationRules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "too_short" -> (col("n_tokens") >= 40),
    "low_diversity" -> (col("n_uniq") * 10 >= col("n_tokens") * 3),
    "no_stopword_evidence" -> (col("n_stop") * 100 >= col("n_tokens") * 2))

  /** events with `ts` surfaced as a session-zone TIMESTAMP regardless of
    * the physical parquet encoding — see [[graft.ops.EventTime]]: the
    * driver has shipped this table as TIMESTAMP(NANOS)-as-long and as
    * TIMESTAMP(MICROS)/NTZ across rounds, so the reader branches on the
    * actual column type. The DuckDB oracle's
    * make_timestamp(epoch_us(ts)) is already encoding-agnostic. */
  def events(s: SparkSession, dir: String): DataFrame =
    graft.ops.EventTime.normalizeTs(t(s, dir, "events"))

  /** Content fingerprint of one parquet table (canonical path + per-file
    * name/size/mtime) — the cache key for offline index artifacts.
    * Regenerating testdata in place, or two dirs whose names collide
    * under String.hashCode, must never serve a stale index. */
  def tableDigest(dir: String, tableName: String): String = {
    val table = new java.io.File(s"$dir/$tableName.parquet")
    val files: Seq[java.io.File] =
      if (table.isDirectory) {
        // recursive walk: a partitioned table keeps data in subdirs, and
        // those files must perturb the cache key too
        val stream = java.nio.file.Files.walk(table.toPath)
        try stream.filter(java.nio.file.Files.isRegularFile(_))
          .map[java.io.File](_.toFile).collect(java.util.stream.Collectors.toList[java.io.File])
          .asScala.toSeq
        finally stream.close()
      } else Seq(table)
    val ident = (table.getCanonicalPath +:
      files.sortBy(f => f.toPath.toString)
        .map(f => s"${table.toPath.relativize(f.toPath)}:${f.length}:${f.lastModified}")).mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(ident.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }

  /** The IVF quantizer is an offline artifact (see [[graft.ops.Vectors.ivfSave]]):
    * built and saved once per corpus — seed-fixed KMeans makes the
    * rebuild byte-identical — then loaded by every query batch, with the
    * assigned corpus coming back cell-partitioned for file pruning. The
    * first call on a machine pays the build; after that, probes only.
    *
    * The cache key is a CONTENT fingerprint of the embeddings table
    * (canonical path + per-file name/size/mtime), not a hash of the dir
    * string: regenerating testdata in place, or two dirs whose names
    * collide under String.hashCode, must never serve stale centroids. */
  def ivfIndexFor(s: SparkSession, dir: String): graft.ops.Vectors.IvfIndex = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_${tableDigest(dir, "embeddings")}"
    val marker = new java.io.File(s"$path/_built")
    this.synchronized {
      if (!marker.exists()) {
        Vectors.ivfSave(
          Vectors.ivfBuild(t(s, dir, "embeddings"), "vec_id", "embedding"), path)
        new java.io.FileOutputStream(marker).close()
      }
    }
    Vectors.ivfLoad(s, path)
  }

  /** The MinHash-LSH corpus index (doc_id % 10 ≠ 0 slice) as an offline
    * artifact, same cache policy as [[ivfIndexFor]]: content-keyed path,
    * first call pays the build, every later call loads sketch rows only.
    * `force` rebuilds unconditionally — the build-cost bench entry. */
  def minHashIndexFor(s: SparkSession, dir: String,
      force: Boolean = false): graft.ops.Dedup.MinHashIndex = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_mhidx_${tableDigest(dir, "documents")}"
    val marker = new java.io.File(s"$path/_built")
    this.synchronized {
      if (force || !marker.exists()) {
        Dedup.minHashIndexSave(Dedup.minHashIndexBuild(
          t(s, dir, "documents").filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text"), path)
        new java.io.FileOutputStream(marker).close()
      }
    }
    Dedup.minHashIndexLoad(s, path)
  }

  /** documents + deterministic fingerprint (P1) — shared by several ops. */
  def docsWithId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("rag_id", Fingerprint.ragId(concat_ws("_", col("source"), col("doc_id").cast("string"))))

  /** The weak-labeled corpus the quality classifier trains on — shared
    * by the query and the oracle-aux refit so both see identical
    * inputs. */
  def qcLabeled(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), col("text"),
      TextAnalysis.gopherFlags(col("text"), minWords = 30, maxWords = 80)
        .last.cast("int").as("weak_label"))

  /** Four deterministic raw spellings of the same two canonical
    * addresses per id-group of 4: variants 0/1 are one https page
    * (cased host + :443 + dup slash + fragment + tracking param +
    * unsorted query between them), variants 2/3 one http page (cased
    * www host + :80 + utm-only query + fragment). Exercises every
    * [[graft.ops.UrlOps.canonicalize]] rule and gives `dedup_url`
    * non-trivial survivor groups. */
  def rawUrlVariants: Column = {
    val g = expr("doc_id div 4").cast("string")
    when(col("doc_id") % 4 === 0,
        concat(lit("https://News.Example.org:443/articles//item-"), g,
          lit("?b=2&a=1")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("https://news.example.org/articles/item-"), g,
          lit("?a=1&utm_source=feed&b=2#sec")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("HTTP://WWW.Example.COM:80/item-"), g,
          lit("?utm_medium=x")))
      .otherwise(
        concat(lit("http://www.example.com/item-"), g, lit("#top")))
  }

  /** Shared retrieval ground-truth machinery: the persisted docTerms
    * index, the fixed query batch, and the ALL-TERMS relevant set
    * (every distinct query term present in the doc). Callers needing
    * the sparse judged subset (rag_hard_negatives' fiction: only even
    * doc_ids were judged) filter further — extracting this is what
    * keeps the judged-vs-full distinction explicit at each call site. */
  def retrievalGroundTruth(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val idx = Retrieval.docTerms(t(s, dir, "documents"), "doc_id", "text")
      .persist()
    val q = retrievalQueries(s)
    val qTerms = q.select(col("qid"),
      explode(array_distinct(split(trim(col("qtext")), "\\s+"))).as("term"))
    val qn = qTerms.groupBy("qid").agg(count(lit(1)).as("nt"))
    val allRelevant = idx.join(qTerms, Seq("term"))
      .groupBy("qid", "doc_id").agg(count(lit(1)).as("__hit"))
      .join(qn, Seq("qid")).filter(col("__hit") === col("nt"))
      .select("qid", "doc_id")
    (idx, q, allRelevant)
  }

  /** The synthetic PRIOR snapshot the PSI drift trio scores against:
    * 10% of ids absent, every doc_id%3==0 doc 200 chars shorter — one
    * definition shared by profile_psi / profile_psi_incr /
    * t10_stream_drift so all three stay bit-identical to the shared
    * psiOracleSql's prior CTE. */
  def psiPriorSnapshot(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 =!= 0)
      .withColumn("n_chars", when(col("doc_id") % 3 === 0,
        col("n_chars") + 200).otherwise(col("n_chars")))

  /** Fixed keyword-bag query batch for the retrieval queries (a query
    * workload is driver-provided in production; literals keep the oracle
    * replayable). Terms drawn from the generator vocabulary. */
  def retrievalQueries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1L, "spark table scan window"), (2L, "customer order join merge"),
      (3L, "vector data stream batch"), (4L, "slow query filter"))
      .toDF("qid", "qtext")
  }

  def auxCentroids = s"read_parquet('$oracleAuxDir/ivf_centroids/*.parquet')"

  def auxAssigned = s"read_parquet('$oracleAuxDir/ivf_assigned/*.parquet')"

  // ── CPython regex-class strings for oracle replays (r13): RE2 accepts
  // the same spellings the JVM kernels use, so these are shared verbatim
  // with CleanCorpus/TextOps/DoiExtract — engine and oracle cannot drift.
  val oraPyWs = graft.ops.CleanCorpus.PyWs

  val oraPyNonWordWs =
    "[^" + graft.ops.CleanCorpus.PyWordBody + graft.ops.CleanCorpus.PyWsBody + "]"

  /** Python str.strip() charset as a DuckDB trim() second argument. */
  val oraPyStripSet = graft.ops.CleanCorpus.PyWsCodepoints
    .map(c => s"chr($c)").mkString("||")

  def auxGramHashes = s"read_parquet('$oracleAuxDir/gram_hashes/*.parquet')"

  /** DuckDB rendering of the seed-fixed LSH hyperplane buckets: one CASE
    * per plane summing sign bits, with the plane vectors inlined as
    * literals (they are deterministic under the fixed seed, so both
    * engines compute identical buckets — double arithmetic, same
    * left-to-right accumulation order; parity verified 500/500 at
    * sf0.01 before wiring). */
  def planeCaseSql(nPlanes: Int, dim: Int, seed: Long): String =
    Vectors.hyperplanes(nPlanes, dim, seed).zipWithIndex.map { case (p, i) =>
      s"CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), " +
        p.mkString("[", ", ", "]") + s") > 0 THEN ${1 << i} ELSE 0 END"
    }.mkString(" + ")

  /** PSI drift oracle (DuckDB), shared by profile_psi and its merged-
    * shard twin: prior snapshot synthesis, both fixed-width histograms,
    * full-outer bin join, add-one smoothing, per-bin micro floor before
    * the integer sum — expression-tree mirror of
    * [[graft.ops.Profile.psiDrift]] (ln is the lone libm call, the same
    * isolation argument as the BM25 idf). */
  lazy val psiOracleSql: String =
    """WITH pr AS (SELECT source,
             CASE WHEN doc_id % 3 = 0 THEN n_chars + 200
                  ELSE n_chars END AS n_chars
           FROM documents WHERE doc_id % 10 <> 0),
         c AS (SELECT source, n_chars // 100 AS bin,
             CAST(count(*) AS BIGINT) AS cnt_c
           FROM documents GROUP BY source, bin),
         p AS (SELECT source, n_chars // 100 AS bin,
             CAST(count(*) AS BIGINT) AS cnt_p
           FROM pr GROUP BY source, bin),
         j AS (SELECT coalesce(c.source, p.source) AS source,
             coalesce(c.bin, p.bin) AS bin,
             coalesce(cnt_c, 0) AS cnt_c, coalesce(cnt_p, 0) AS cnt_p
           FROM c FULL OUTER JOIN p
             ON c.source = p.source AND c.bin = p.bin),
         tt AS (SELECT source, CAST(sum(cnt_c) AS BIGINT) AS n_c,
             CAST(sum(cnt_p) AS BIGINT) AS n_p,
             CAST(count(*) AS BIGINT) AS n_bins
           FROM j GROUP BY source),
         term AS (SELECT j.source, tt.n_bins,
             CAST(cnt_c + 1 AS DOUBLE) / CAST(n_c + n_bins AS DOUBLE) AS pp,
             CAST(cnt_p + 1 AS DOUBLE) / CAST(n_p + n_bins AS DOUBLE) AS qq
           FROM j JOIN tt USING (source)),
         sgrp AS (SELECT source, n_bins,
             CAST(sum(CAST(floor((1000000.0 * (pp - qq)) * ln(pp / qq))
               AS BIGINT)) AS BIGINT) AS psi_micro
           FROM term GROUP BY source, n_bins)
         SELECT source, n_bins, psi_micro,
           CAST(psi_micro >= 200000 AS INT) AS drift_flag
         FROM sgrp"""

  /** DuckDB spelling of [[rawUrlVariants]] — must synthesize the
    * byte-identical raw URL per doc_id. */
  lazy val urlVariantSql: String =
    """CASE WHEN doc_id % 4 = 0 THEN
           'https://News.Example.org:443/articles//item-' ||
             CAST(doc_id // 4 AS VARCHAR) || '?b=2&a=1'
         WHEN doc_id % 4 = 1 THEN
           'https://news.example.org/articles/item-' ||
             CAST(doc_id // 4 AS VARCHAR) || '?a=1&utm_source=feed&b=2#sec'
         WHEN doc_id % 4 = 2 THEN
           'HTTP://WWW.Example.COM:80/item-' ||
             CAST(doc_id // 4 AS VARCHAR) || '?utm_medium=x'
         ELSE 'http://www.example.com/item-' ||
             CAST(doc_id // 4 AS VARCHAR) || '#top' END"""

  /** [[graft.ops.UrlOps.canonicalize]] replayed as a DuckDB CTE chain
    * over a `raw(doc_id, url)` relation; yields `canon(doc_id, url,
    * canonical)`. Stage-for-stage mirror of the Column expression tree
    * (same regexes, same tracking-param list, same bytewise sort). */
  lazy val urlCanonCte: String =
    """s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS nf
           FROM raw),
         s2 AS (SELECT doc_id, url,
             lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               AS scheme,
             lower(regexp_extract(nf,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1)) AS hostport,
             regexp_extract(nf,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([^?]*)', 1) AS rawpath,
             regexp_extract(nf, '\?(.*)$', 1) AS rawq
           FROM s1),
         s3 AS (SELECT doc_id, url, scheme,
             CASE WHEN scheme = 'http'
                  THEN regexp_replace(hostport, ':80$', '')
                  WHEN scheme = 'https'
                  THEN regexp_replace(hostport, ':443$', '')
                  ELSE hostport END AS host,
             CASE WHEN rawpath = '' THEN '/'
                  ELSE regexp_replace(rawpath, '//+', '/', 'g') END AS path,
             coalesce(array_to_string(
               list_sort(list_filter(string_split(rawq, '&'),
                 p -> p <> '' AND NOT regexp_matches(p,
                   '(?i)^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|mc_cid|mc_eid|ref_src)='))),
               '&'), '') AS q
           FROM s2),
         canon AS (SELECT doc_id, url,
             scheme || '://' || host || path ||
               CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical
           FROM s3)"""
}
