package graft

import org.apache.spark.sql.{SparkSession, DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.jdk.CollectionConverters._

import graft.ops.{TextOps, Fingerprint, Enrich, Dedup, Vectors, TextAnalysis, TopK, Chunker, TfIdfEmbed, FuzzyJoin, CandidateGen, Components, AsofJoin, RangeJoin, SkewJoin, Profile, Contamination, Sampling, Quantize, Retrieval, Tagging, Funnel, Validate, PageRank, Layout, UrlOps}
import graft.expr.{sketchFunctions => sf}
import graft.expr.{functions => gf}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator from SURVEY.md §2 (or a
  * scale extension), expressed Spark-first over the driver-provided parquet
  * tables; [[oracleSql]] carries equivalent ANSI SQL for DuckDB. Operators
  * whose semantics are not SQL-expressible (stateful text scan, difflib
  * similarity, hash-seeded sketches) appear in [[queries]] only and are
  * pinned by ScalaTest golden/property specs instead.
  *
  * Column-name parity rule: every computed column is aliased identically in
  * the Spark query and the oracle SQL (driver compare sorts by name).
  */
object SparkEntry {

  /** Memory-sink table names must be unique per streaming run within a
    * session (a name can be reused only after the prior query stops). */
  private val streamRuns = new java.util.concurrent.atomic.AtomicLong(0)

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
  private def freshRunDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(p.toFile)
    }))
    p.toString
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The ONE curation rule set shared by curate_tagged /
    * curate_tag_stats / curate_training_mix / t7_stream_curate — the
    * four queries must gate identically or the per-rule stats describe
    * a different corpus than the filter produces. Mirrored verbatim in
    * each query's oracle SQL. */
  private def curationRules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "too_short" -> (col("n_tokens") >= 40),
    "low_diversity" -> (col("n_uniq") * 10 >= col("n_tokens") * 3),
    "no_stopword_evidence" -> (col("n_stop") * 100 >= col("n_tokens") * 2))

  /** events with `ts` surfaced as a session-zone TIMESTAMP regardless of
    * the physical parquet encoding — see [[graft.ops.EventTime]]: the
    * driver has shipped this table as TIMESTAMP(NANOS)-as-long and as
    * TIMESTAMP(MICROS)/NTZ across rounds, so the reader branches on the
    * actual column type. The DuckDB oracle's
    * make_timestamp(epoch_us(ts)) is already encoding-agnostic. */
  private def events(s: SparkSession, dir: String): DataFrame =
    graft.ops.EventTime.normalizeTs(t(s, dir, "events"))

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
  /** Content fingerprint of one parquet table (canonical path + per-file
    * name/size/mtime) — the cache key for offline index artifacts.
    * Regenerating testdata in place, or two dirs whose names collide
    * under String.hashCode, must never serve a stale index. */
  private def tableDigest(dir: String, tableName: String): String = {
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

  private def ivfIndexFor(s: SparkSession, dir: String): graft.ops.Vectors.IvfIndex = {
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
  private def minHashIndexFor(s: SparkSession, dir: String,
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
  private def docsWithId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("rag_id", Fingerprint.ragId(concat_ws("_", col("source"), col("doc_id").cast("string"))))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── A-family: aggregations (SURVEY §2.5) ────────────────────────────
    "q1_agg" -> { (s, dir) =>
      // sums accumulate in exact DECIMAL, then cast to DOUBLE at the edge:
      // the driver's pandas compare maps DuckDB DECIMAL→float64 but keeps
      // Spark parquet decimals as Decimal objects, so a decimal output
      // hash-mismatches even when values are identical (round-1 lesson).
      // The scaled sums stay < 2^53, so decimal→double is the correctly-
      // rounded same bit pattern on both engines.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1) - col("l_discount").cast("decimal(18,2)"))).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    },

    "a1_count_scrape_outcomes" -> { (s, dir) =>
      // success/failure counters split by class + success rate
      // (fda_watcher.py:433-437,472-479,510-516); ratio floored to an
      // integer percent so Spark/DuckDB double division stays hash-stable.
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_total"),
          count(when(col("value") > 10, 1)).as("n_high"),
          floor(lit(100) * count(when(col("value") > 10, 1)) / count(lit(1)))
            .cast("long").as("pct_high"))
    },

    "a2_objects_per_file" -> { (s, dir) =>
      // per-input-container object counts (combine_json_to_jsonl.py:229,266)
      t(s, dir, "documents").groupBy(col("source"))
        .agg(count(lit(1)).as("n_objects"), sum(col("n_chars")).as("total_chars"))
    },

    "a3_pipeline_stats_rollup" -> { (s, dir) =>
      // per-directory stats + grand total via ROLLUP
      // (combine_json_to_jsonl.py:327-359)
      t(s, dir, "documents").rollup(col("source"))
        .agg(grouping(col("source")).as("is_total"),
          count(lit(1)).as("n_files"), sum(col("n_chars")).as("n_chars_sum"))
    },

    "a7_cube_stats" -> { (s, dir) =>
      // full CUBE over (lang, source): every aggregation level in one
      // pass (the expand-plan shape), grouping ids disambiguate levels
      t(s, dir, "documents").cube(col("lang"), col("source"))
        .agg(grouping(col("lang")).as("g_lang"),
          grouping(col("source")).as("g_source"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars_sum"))
    },

    "a9_grouping_sets" -> { (s, dir) =>
      // explicit GROUPING SETS: just the two marginals + the detail
      // level — a selection CUBE can only produce by computing the grand
      // total and filtering it away. One expand pass, same grouping-id
      // disambiguation as a7. SQL form: the DataFrame API has
      // cube/rollup but no grouping-sets method.
      t(s, dir, "documents").createOrReplaceTempView("docs_gs")
      s.sql("""SELECT lang, source, grouping(lang) AS g_lang,
        grouping(source) AS g_source, count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
        FROM docs_gs
        GROUP BY GROUPING SETS ((lang), (source), (lang, source))""")
    },

    "a8_pivot_counts" -> { (s, dir) =>
      // PIVOT surface: per-user event counts, one column per type. The
      // value list is EXPLICIT — .pivot without it runs a distinct scan
      // first and caps at spark.sql.pivotMaxValues, the wrong plan at
      // scale; nulls fill to 0 like the oracle's conditional sums
      events(s, dir).groupBy("user_id")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
    },

    "profile_schema_drift" -> { (s, dir) =>
      // schema-evolution guard: the BASE side is read from the actual
      // parquet footer (not hardcoded — a silent upstream retype flips
      // `status` here before it breaks a downstream job), diffed against
      // the expected next-version contract. Metadata-scale op: schemas
      // are tiny, the value is the footer introspection + the stable
      // added/dropped/retyped verdict per column.
      import s.implicits._
      val base = t(s, dir, "documents").schema.fields.toSeq.map { f =>
        val tn = f.dataType match {
          case org.apache.spark.sql.types.LongType => "BIGINT"
          case org.apache.spark.sql.types.StringType => "VARCHAR"
          case org.apache.spark.sql.types.IntegerType => "INTEGER"
          case org.apache.spark.sql.types.DoubleType => "DOUBLE"
          case other => other.sql
        }
        (f.name, tn)
      }.toDF("col_name", "base_type")
      val evolved = Seq(("doc_id", "BIGINT"), ("text", "VARCHAR"),
        ("source", "VARCHAR"), ("n_chars", "INTEGER"), ("quality", "DOUBLE"))
        .toDF("col_name", "evo_type")
      base.join(evolved, Seq("col_name"), "full_outer")
        .select(col("col_name"),
          coalesce(col("base_type"), lit("")).as("base_type"),
          coalesce(col("evo_type"), lit("")).as("evo_type"),
          when(col("base_type").isNull, "added")
            .when(col("evo_type").isNull, "dropped")
            .when(col("base_type") =!= col("evo_type"), "retyped")
            .otherwise("same").as("status"))
    },

    "profile_winsorize" -> { (s, dir) =>
      // per-source p05/p95 winsorization: CLIP outliers, don't drop them
      // (dropping biases length-correlated stats; clipping keeps the row
      // count). Bounds are one tiny per-group aggregate broadcast back
      // onto the full scan — the full-data side never shuffles. Integer
      // floor/ceil on the interpolated percentiles keeps both engines
      // bit-identical.
      val docs = t(s, dir, "documents")
      val bounds = docs.groupBy("source").agg(
        floor(expr("percentile(n_chars, 0.05)")).cast("long").as("lo"),
        ceil(expr("percentile(n_chars, 0.95)")).cast("long").as("hi"))
      docs.select("doc_id", "source", "n_chars")
        .join(broadcast(bounds), Seq("source"))
        .select(col("doc_id"), col("source"),
          greatest(col("lo"), least(col("hi"), col("n_chars"))).as("n_chars_w"),
          (col("n_chars") < col("lo") || col("n_chars") > col("hi"))
            .cast("int").as("clipped"))
    },

    "a4_length_quantiles" -> { (s, dir) =>
      // distribution stats per source (the run-stats extension A4 wants
      // at corpus scale: exact interpolated percentiles — Spark
      // `percentile` and DuckDB `quantile_cont` compute the identical
      // (n−1)·p linear interpolation, verified bit-equal at sf0.01)
      t(s, dir, "documents").groupBy(col("source")).agg(
        expr("percentile(n_chars, 0.5)").as("p50"),
        expr("percentile(n_chars, 0.9)").as("p90"),
        expr("percentile(n_chars, 0.99)").as("p99"),
        min(col("n_chars")).as("len_min"),
        max(col("n_chars")).as("len_max"))
    },

    // ── P-family: projections / filters / row transforms (SURVEY §2.2) ──
    "p1_fingerprint_md5" -> { (s, dir) =>
      docsWithId(s, dir).select(col("doc_id"), col("rag_id"))
    },

    "p2_id_base_coalesce" -> { (s, dir) =>
      val url = when(col("doc_id") % 5 === 0, lit(""))
        .otherwise(concat(lit("https://ex.org/"), col("doc_id").cast("string")))
      t(s, dir, "documents").select(col("doc_id"),
        Fingerprint.idBase(url, col("source"), col("lang")).as("id_base"))
    },

    "p4_project_rename_rag" -> { (s, dir) =>
      // FDA record → RAG output schema (combine_json_to_jsonl.py:61-123);
      // `date` pinned literal per SURVEY §7.4 #5.
      docsWithId(s, dir).select(
        col("text").as("content"),
        col("source"),
        concat(lit("https://ex.org/"), col("doc_id").cast("string")).as("url"),
        lit("2026-01-01").as("date"),
        lit("1.0").as("version"),
        concat(lit("doc_"), col("doc_id").cast("string")).as("title"),
        col("lang").as("description"),
        col("rag_id"))
    },

    "p6_default_nonempty" -> { (s, dir) =>
      val maybeBlank = when(col("doc_id") % 7 === 0, lit("  ")).otherwise(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.defaultNonEmpty(maybeBlank,
          concat(lit("EMPTY_"), col("doc_id").cast("string"))).as("content"))
    },

    "p8_filter_valid_rows" -> { (s, dir) =>
      t(s, dir, "documents")
        .filter(col("doc_id").isNotNull && length(col("text")) > 0)
        .select(col("doc_id"), col("n_chars"))
    },

    "p9_filter_min_length" -> { (s, dir) =>
      t(s, dir, "documents").filter(length(col("text")) > 200)
        .select(col("doc_id"), length(col("text")).as("text_len"))
    },

    "p3_url_resolve" -> { (s, dir) =>
      val href = when(col("doc_id") % 3 === 0,
          concat(lit("https://abs.example/"), col("doc_id").cast("string")))
        .when(col("doc_id") % 3 === 1, concat(lit("/node/"), col("doc_id").cast("string")))
        .otherwise(concat(lit("rel/"), col("doc_id").cast("string")))
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.urlResolve(lit("https://www.fda.gov/"), href).as("resolved"))
    },

    "p10_f14_ingest_timestamp" -> { (s, dir) =>
      // pinned instant (SURVEY §7.4 #5): production uses current_timestamp()
      val pinned = to_timestamp(lit("2026-08-12 09:00:00"))
      Fingerprint.addIngestTimestamp(
          t(s, dir, "documents").select(col("doc_id")), pinned)
        .withColumn("scraped_at_str",
          TextOps.formatNow(col("scraped_at"), "yyyy-MM-dd HH:mm:ss"))
    },

    "f11_clean_title_for_search" -> { (s, dir) =>
      val title = concat(col("p_name"), lit("; part:"), col("p_brand"), lit(","))
      t(s, dir, "part").select(col("p_partkey"),
        TextOps.cleanTitleForSearch(title).as("clean_title"))
    },

    "p11_source_name_derive" -> { (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        when(lower(col("source")).contains("1"), lit("fda_oncology"))
          .otherwise(concat(lit("dir_"), regexp_extract(col("source"), "src(\\d+)", 1)))
          .as("derived_source"))
    },

    // ── J-family: joins (SURVEY §2.3) ───────────────────────────────────
    "j1_delta_anti_join" -> { (s, dir) =>
      val all = docsWithId(s, dir)
      val master = all.filter(col("doc_id") % 10 < 3)
      Fingerprint.deltaAntiJoin(all, master, "rag_id")
        .select(col("doc_id"), col("rag_id"))
    },

    "u4_scd2_history" -> { (s, dir) =>
      // type-2 versioned master: every doc current as of 2026-01-01 (docs
      // divisible by 9 also carry an already-closed older version); the
      // update batch changes n_chars for %4==0, no-ops %4==1, and brings
      // new ids — changed rows close and reopen, no-ops stay untouched
      val docs = t(s, dir, "documents").select("doc_id", "source", "n_chars")
      val hist = docs
        .withColumn("valid_from", lit("2026-01-01"))
        .withColumn("valid_to", lit(null).cast("string"))
        .unionByName(docs.filter(col("doc_id") % 9 === 0)
          .withColumn("n_chars", col("n_chars") - 5)
          .withColumn("valid_from", lit("2025-01-01"))
          .withColumn("valid_to", lit("2026-01-01")))
      val upd = docs.filter(col("doc_id") % 4 === 0)
          .withColumn("n_chars", col("n_chars") + 1)
        .unionByName(docs.filter(col("doc_id") % 4 === 1))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000)
          .withColumn("source", lit("srcNew")))
      Fingerprint.scd2Apply(hist, upd, "doc_id",
        Seq("source", "n_chars"), "2026-02-01")
    },

    "u6_scd2_lookup" -> { (s, dir) =>
      // point-in-time reads of the u4-shaped history: docs %9==0 probe a
      // date inside their CLOSED older version, everyone else probes the
      // current one — each probe resolves to exactly one version
      val docs = t(s, dir, "documents").select("doc_id", "source", "n_chars")
      val hist = docs
        .withColumn("valid_from", lit("2026-01-01"))
        .withColumn("valid_to", lit(null).cast("string"))
        .unionByName(docs.filter(col("doc_id") % 9 === 0)
          .withColumn("n_chars", col("n_chars") - 5)
          .withColumn("valid_from", lit("2025-01-01"))
          .withColumn("valid_to", lit("2026-01-01")))
      val probes = docs.select(col("doc_id"),
        when(col("doc_id") % 9 === 0, lit("2025-06-01"))
          .otherwise(lit("2026-06-01")).as("as_of"))
      Fingerprint.scd2Lookup(hist, probes, "doc_id", "as_of")
        .select("doc_id", "as_of", "source", "n_chars", "valid_from")
    },

    "j1_delta_bloom" -> { (s, dir) =>
      // J1's corpus-scale shape: bloom pre-filter + exact residual join —
      // identical result to j1_delta_anti_join, same oracle
      val all = docsWithId(s, dir)
      val master = all.filter(col("doc_id") % 10 < 3)
      Fingerprint.deltaAntiJoinBloom(all, master, "rag_id",
          expectedItems = 1000L)
        .select(col("doc_id"), col("rag_id"))
    },

    "j2_lookup_enrich_join" -> { (s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"), "left_outer")
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"), "left_outer")
        .select(col("c_custkey"), col("c_name"), col("n_name"), col("r_name"))
    },

    "j3_fuzzy_match_lev" -> { (s, dir) =>
      // fuzzy-join shape with the oracle-checkable levenshtein band
      // (exact difflib similarity is pinned in SimilaritySpec). PassJoin
      // (k = 4) + the distinct-string front: the brand-blocked raw
      // self-join evaluated lev on every in-brand row pair — fixed brand
      // cardinality means block occupancy grows linearly with the corpus
      // and evaluated pairs quadratically (measured 33× at 10× data).
      // The front runs lev at distinct-(brand, name) granularity
      // (vocabulary-sized); the id-level expansion is output-driven —
      // the qualifying pair set itself is what grows quadratically here
      // (1.08M pairs at sf0.1 → 108M at 10×, duplication-heavy names).
      FuzzyJoin.selfPairsExact(t(s, dir, "part"), "p_partkey", "p_name",
          k = 4, blockCols = Seq("p_brand")) { (a, b) =>
          levenshtein(a, b) <= 4
        }
        .select(col("i").as("k1"), col("j").as("k2"),
          col("str_i").as("name1"), col("str_j").as("name2"),
          levenshtein(col("str_i"), col("str_j")).as("dist"))
    },

    "tpch_q3_shaped" -> { (s, dir) =>
      // classic 3-way join + agg (engine-completeness headline; single
      // shuffle on l_orderkey). The customer side is GATED, not
      // hard-hinted: the BUILDING segment is SF-proportional, so at
      // corpus scale the hint would command a driver-OOM broadcast —
      // maybeBroadcast keeps BHJ at bench scale and lets the segment
      // shuffle on c_custkey when estimates say it outgrew the threshold.
      val c = graft.ops.ScaleHints.maybeBroadcast(
        t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING"))
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"))
    },

    "tpch_q5_shaped" -> { (s, dir) =>
      // classic 6-way star join (local-supplier revenue per nation):
      // fixed-size dims (nation 25, region 5) hard-broadcast, the
      // SF-proportional fact sides shuffle on their join keys, the
      // c_nationkey = s_nationkey residual rides the supplier join —
      // the join-ordering/broadcast-selection shape Q5 exists to test
      val nat = broadcast(t(s, dir, "nation"))
      val reg = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"))
    },

    "tpch_q18_shaped" -> { (s, dir) =>
      // large-volume-order shape (HAVING over a pre-aggregated fact,
      // then enrich): the quantity rollup happens BEFORE any join — at
      // scale the filter kills ~99% of orders while still key-sized,
      // so the enrich joins probe with a tiny build side
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)"))
          .cast("double").as("total_qty"))
        .filter(col("total_qty") > 250.0)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("total_qty"))
    },

    "tpch_q4_shaped" -> { (s, dir) =>
      // EXISTS-shaped LEFT SEMI join (the one classic join shape the set
      // lacked): orders with ≥1 returned lineitem, counted per priority.
      // Semi join never duplicates probe rows and its build side carries
      // only the join key — at scale that's the difference between a
      // key-sized shuffle and re-aggregating an exploded inner join.
      val flagged = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R").select("l_orderkey")
      t(s, dir, "orders")
        .join(flagged, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
    },

    "j4_asof_join" -> { (s, dir) =>
      // as-of temporal lookup: every purchase gets the most recent click
      // at-or-before it per user; oracle is DuckDB's NATIVE ASOF JOIN
      // against our union+window composition
      val e = events(s, dir)
      val l = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val r = e.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("click_value"))
        .withColumn("click_ts", col("ts"))
      AsofJoin.asofJoin(l, r, "user_id", "ts",
        Seq("click_value", "click_ts"))
    },

    "j5_range_join" -> { (s, dir) =>
      // point-in-range join: event values against 25 overlapping nation
      // bands — banded equi-join composition vs DuckDB's raw inequality
      // join (which its optimizer runs as an IEJoin)
      val bands = t(s, dir, "nation").select(
        col("n_nationkey").as("band_id"),
        (col("n_nationkey") * 18).cast("double").as("lo"),
        (col("n_nationkey") * 18 + 35).cast("double").as("hi"))
      RangeJoin.pointInRange(
          t(s, dir, "events").select(col("event_id"), col("value")),
          "value", bands, "lo", "hi", binWidth = 32)
        .select(col("event_id"), col("band_id"), col("value"))
    },

    "j6_salted_join" -> { (s, dir) =>
      // manual key salting: semantics are EXACTLY the plain equi join
      // (the oracle), the salt only respreads hot keys — aggregated so
      // the check covers the join result, not row order
      val joined = SkewJoin.saltedEquiJoin(
        t(s, dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
        t(s, dir, "orders"), "o_orderkey", "l_linenumber", saltFactor = 8)
      joined.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty_sum"))
    },

    "j6_salted_hotkey" -> { (s, dir) =>
      // targeted salting: a mixed workload where 5 keys are provably hot
      // (one per event type) and ~5000 synthetic keys are singletons —
      // only the hot slice pays the salt replication, the cold slice
      // takes the plain join; oracle is the plain equi join
      val keyed = t(s, dir, "events").withColumn("k",
        when(col("value") < 400, col("event_type"))
          .otherwise(concat(col("event_type"), lit("#"),
            pmod(col("event_id"), lit(997)).cast("string"))))
      val dim = keyed.groupBy(col("k")).agg(count(lit(1)).as("key_n"))
      // dim IS the per-key left count — hand it to the operator so hot
      // detection reuses it instead of re-aggregating the whole stream
      SkewJoin.saltedHotKeyJoin(keyed, dim, "k", "event_id",
          saltFactor = 8, hotThreshold = 500L,
          keyCounts = Some(dim.select(col("k"), col("key_n").as("__n"))))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("key_n")).cast("long").as("key_n_sum"))
    },

    "j7_interval_overlap" -> { (s, dir) =>
      // interval-overlap join of two derived band tables (nation 25 x
      // region 5, overlapping spans) — banded equi composition vs the
      // raw inequality oracle
      val nb = t(s, dir, "nation").select(col("n_nationkey"),
        (col("n_nationkey") * 18).cast("double").as("n_lo"),
        (col("n_nationkey") * 18 + 35).cast("double").as("n_hi"))
      val rb = t(s, dir, "region").select(col("r_regionkey"),
        (col("r_regionkey") * 90).cast("double").as("r_lo"),
        (col("r_regionkey") * 90 + 120).cast("double").as("r_hi"))
      RangeJoin.intervalOverlap(nb, "n_lo", "n_hi", rb, "r_lo", "r_hi",
          binWidth = 64)
        .select(col("n_nationkey"), col("r_regionkey"))
    },

    "text_quality_filter" -> { (s, dir) =>
      // training-data curation: keep documents at or above their
      // source's median quality score (window percentile both engines)
      val scored = t(s, dir, "documents").select(
        col("doc_id") +: col("source") +: TextAnalysis.qualityScore(col("text")): _*)
      val w = Window.partitionBy(col("source"))
      scored
        .withColumn("med", expr("percentile(q_score, 0.5)").over(w))
        .filter(col("q_score") >= col("med"))
        .select(col("doc_id"), col("source"), col("q_score"), col("med"))
    },

    "u3_merge_upsert" -> { (s, dir) =>
      // MERGE semantics: update rows win over their keyed master rows,
      // untouched master rows survive (updates ∪ master-anti-updates)
      val master = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val updates = master.filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), concat(lit("UPDATED "), col("text")).as("text"))
      Fingerprint.mergeUpsert(master, updates, "doc_id")
    },

    "profile_documents" -> { (s, dir) =>
      // one-pass per-column profiling (nulls / exact distincts / min-max)
      Profile.profile(t(s, dir, "documents"),
          Seq("doc_id", "lang", "source", "n_chars"))
        .withColumnRenamed("column", "col_name")
    },

    "profile_correlation" -> { (s, dir) =>
      // metric-redundancy diagnostic: per-source Pearson r between char
      // and token counts, from exact integer moments (milli-floored)
      val docs = t(s, dir, "documents")
      Profile.corrPerGroup(docs, "source", col("n_chars"),
        size(split(trim(col("text")), "\\s+")).cast("long"))
    },

    "mix_temperature" -> { (s, dir) =>
      // T=2 source balancing: sampling weights ∝ sqrt(token count) —
      // sqrt is the one exactly-rounded power, so weights hash-match
      Sampling.temperatureWeights(t(s, dir, "documents"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long"))
    },

    "profile_dataset_digest" -> { (s, dir) =>
      // order-independent corpus fingerprint: the one-row "did anything
      // change" check that gates index rebuilds and snapshot publishes
      Profile.datasetDigest(t(s, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
    },

    "profile_key_skew" -> { (s, dir) =>
      // join-key skew diagnostic on the event-type key (the salting
      // decision input); top-2 mass share + hottest-key balance ratio
      Profile.keySkew(events(s, dir), "event_type", k = 2)
    },

    "profile_drift" -> { (s, dir) =>
      // snapshot drift monitoring: the prior version is the corpus minus
      // every 10th doc, so min/max (doc_id range) and the distinct-ratio
      // flags all trip — nonzero drift is what gets hash-checked
      val docs = t(s, dir, "documents")
      Profile.profileDrift(docs, docs.filter(col("doc_id") % 10 =!= 0),
        Seq("doc_id", "lang", "source", "n_chars"))
    },

    "profile_histogram" -> { (s, dir) =>
      // exact equi-width doc-length histogram, integer bucket edges —
      // engines bucket identically because the edge math is integer
      Profile.histogramInt(t(s, dir, "documents"), "n_chars", 0L, 600L, 24)
    },

    "profile_approx_quantiles" -> { (s, dir) =>
      // approximate per-source percentiles with a REPLAYABLE contract:
      // deterministic md5 row sample (25%), exact empirical lower
      // quantile over the sample — rank-error class (the GK guarantee)
      // but every step hash-replays in the oracle, which
      // percentile_approx's engine-private GK state never can (that
      // library path remains Profile.approxQuantilesPerGroup, rank
      // error pinned in ProfileSpec)
      Profile.sampleQuantilesPerGroup(t(s, dir, "documents"),
        "source", "n_chars", "doc_id", Seq(50, 90, 99),
        samplePerMyriad = 2500)
    },

    "profile_quantiles_hist" -> { (s, dir) =>
      // the DETERMINISTIC fixed-memory quantile twin: per-(source, bin)
      // counts (bounded-cardinality shuffle, plain-table mergeable
      // sketch) → smallest bin reaching rank ceil(p·n); error ≤ binWidth
      // by construction and the estimate is engine-exact — what
      // percentile_approx's GK state can never be
      Profile.histQuantilesPerGroup(t(s, dir, "documents"),
        "source", "n_chars", Seq(50, 90, 99), binWidth = 100L)
    },

    "profile_distinct_per_group" -> { (s, dir) =>
      // distinct users per event type via per-group KMV (k=16 so the
      // estimator branch engages at sf0.01 — every type has > 16
      // distinct users): fixed memory per group at ANY cardinality,
      // where exact countDistinct holds the whole key set per group
      val sk = Profile.kmvSketchPerGroup(events(s, dir),
        "event_type", "user_id", k = 16)
      Profile.kmvEstimatePerGroup(sk, "event_type", "adc_users", k = 16)
    },

    "profile_join_estimate" -> { (s, dir) =>
      // pre-join planning audit (the measure half of measure-decide-act
      // for salting): predicted |orders ⋈ customer| on custkey from the
      // two key histograms — Σ cntA·cntB — plus the skew facts that
      // decide the join strategy BEFORE it runs. Both inputs are
      // post-aggregate key histograms, never the raw tables.
      val a = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("na"))
      val b = t(s, dir, "customer")
        .groupBy(col("c_custkey").as("k")).agg(count(lit(1)).as("nb"))
      a.join(b, "k")
        .agg(sum(col("na") * col("nb")).cast("long").as("est_rows"),
          count(lit(1)).as("n_shared_keys"),
          max(col("na") * col("nb")).cast("long").as("max_key_product"))
    },

    "events_transitions" -> { (s, dir) =>
      // behavioral Markov matrix: per-user next-event via lead() over
      // (ts, event_id), transition counts and per-state milli
      // probabilities — one user-keyed shuffle + one pair aggregate
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      // cut (size-gated): pairs feeds the totals and the final join —
      // left lazy, the second reference re-runs the user-keyed window
      // over the whole events table
      val pairs = graft.ops.ScaleHints.cutIfRescanCostly(events(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("cur_type"), col("next_type"))
        .agg(count(lit(1)).as("n")))
      val tot = pairs.groupBy("cur_type").agg(sum("n").cast("long").as("__tot"))
      pairs.join(tot, "cur_type")
        .select(col("cur_type"), col("next_type"), col("n"),
          expr("1000 * n div __tot").as("p_milli"))
    },

    "profile_psi" -> { (s, dir) =>
      // distribution drift vs a synthetic prior snapshot (10% of ids
      // absent; every doc_id%3==0 doc 200 chars shorter in the prior —
      // a real length-distribution shift): per-source PSI over n_chars
      // histograms, micro-units, 0.2-rule alert flag
      val docs = t(s, dir, "documents")
      val prior = psiPriorSnapshot(docs)
      Profile.psiDrift(docs, prior, "source", "n_chars", binWidth = 100L)
    },

    "profile_psi_incr" -> { (s, dir) =>
      // the merged-shard twin: current sketch assembled from two shard
      // sketches (union + re-sum) — bit-identical to the one-pass
      // sketch, so this shares profile_psi's oracle and the hash match
      // IS the merge==full proof
      val docs = t(s, dir, "documents")
      val prior = psiPriorSnapshot(docs)
      val merged = Profile.histQuantileSketch(
          docs.filter(col("doc_id") % 2 === 0), "source", "n_chars", 100L)
        .unionByName(Profile.histQuantileSketch(
          docs.filter(col("doc_id") % 2 =!= 0), "source", "n_chars", 100L))
        .groupBy("source", "bin").agg(sum("cnt").as("cnt"))
      Profile.psiFromSketches(merged,
        Profile.histQuantileSketch(prior, "source", "n_chars", 100L),
        "source")
    },

    "validate_documents" -> { (s, dir) =>
      // Deequ-shaped ingest gate: 8 declared expectations, ONE aggregate
      // pass (+ a broadcast dim join for the referential rule). The tight
      // n_chars band is deliberately failing so the checker exercises a
      // nonzero violation count, not just all-green rows.
      Validate.check(t(s, dir, "documents"), Seq(
        Validate.NotNull("text_not_null", "text"),
        Validate.Unique("doc_id_unique", Seq("doc_id")),
        Validate.InRange("n_chars_range", "n_chars", 1L, 100000L),
        Validate.InRange("n_chars_tight", "n_chars", 1L, 300L),
        Validate.OneOf("lang_allowed", "lang",
          Seq("en", "de", "fr", "es", "zh")),
        Validate.Matches("source_format", "source", "^src[0-9]+$"),
        Validate.Predicate("n_chars_consistent",
          col("n_chars") === length(col("text"))),
        Validate.RefIn("doc_has_embedding", "doc_id",
          t(s, dir, "embeddings"), "vec_id"),
        Validate.RowCountBetween("row_count_min", 100L, Long.MaxValue)))
    },

    // ── D-family: dedup + delta (SURVEY §2.4) ───────────────────────────
    "d1_dedup_by_fingerprint" -> { (s, dir) =>
      // idempotent re-ingest: union the scrape with itself, dedup on the
      // fingerprint → exactly the original (fda_watcher.py:86-93 README claim)
      val docs = docsWithId(s, dir).select(col("rag_id"), col("doc_id"), col("source"))
      Fingerprint.dedupByFingerprint(docs.unionByName(docs), "rag_id", "doc_id")
    },

    "d2_content_hash" -> { (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        Fingerprint.contentHash(col("text")).as("corpus_hash"))
    },

    // ── O-family: sorts / limits / top-k (SURVEY §2.6) ──────────────────
    "o1_sort_lexical" -> { (s, dir) =>
      t(s, dir, "documents").orderBy(col("source"), col("doc_id"))
        .select(col("doc_id"), col("source")).limit(100)
    },

    "o2_argmax_mtime" -> { (s, dir) =>
      events(s, dir).orderBy(col("ts").desc, col("event_id").desc)
        .select(col("event_id"), col("ts")).limit(1)
    },

    "o4_retmax_limit" -> { (s, dir) =>
      // O4 — the reference's retmax=1 "first hit only" lookup
      // (pubmed_enrichment.py:136-137,143,158-164): a filtered search
      // that keeps exactly the first match in a deterministic order.
      // Catalyst pushes the Limit below the projection (LimitPushDown /
      // TakeOrderedAndProject), so the scan never ranks the full match
      // set — against a live source the same limit rides the client call.
      t(s, dir, "documents")
        .filter(col("text").contains("spark"))
        .orderBy(col("doc_id"))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .limit(1)
    },

    "o5_head_n_preview" -> { (s, dir) =>
      t(s, dir, "documents").orderBy(col("doc_id"))
        .select(col("doc_id"), col("lang"), col("source")).limit(5)
    },

    "o6_topk_per_group" -> { (s, dir) =>
      // salted two-phase top-k (skew-resistant; exact — see ops/TopK)
      TopK.perGroup(events(s, dir),
          key = Seq(col("event_type")),
          order = Seq(col("value").desc, col("event_id")),
          saltBy = Seq(col("event_id")), k = 3)
        .select(col("event_type"), col("event_id"), col("value"), col("rk"))
    },

    // ── U-family: set ops (SURVEY §2.7) ─────────────────────────────────
    "u1_union_master_update" -> { (s, dir) =>
      val all = docsWithId(s, dir)
      val fresh = all.filter(col("doc_id") % 10 < 3).select(col("doc_id"), col("rag_id"))
      val master = all.filter(col("doc_id") % 10 >= 3).select(col("doc_id"), col("rag_id"))
      Fingerprint.unionMasterUpdate(fresh, master, "ingest_seq")
    },

    "u7_union_by_name" -> { (s, dir) =>
      // heterogeneous-schema union: the in-memory twin of the mergeSchema
      // read — an old extract without `lang` unions with the current
      // shape, missing columns null-filled BY NAME (positional UNION
      // would silently misalign). doc_id % 3 splits within every source,
      // so both null and non-null lang counts are hash-checked per group.
      val docs = t(s, dir, "documents")
      val cur = docs.filter(col("doc_id") % 3 === 0)
        .select("doc_id", "source", "lang")
      val old = docs.filter(col("doc_id") % 3 =!= 0)
        .select("doc_id", "source")
      cur.unionByName(old, allowMissingColumns = true)
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          count(when(col("lang").isNull, 1)).as("n_no_lang"))
    },

    "u2_intersect_except" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      val rich = c.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
      val building = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      rich.intersect(building).withColumn("tag", lit("both"))
        .unionByName(rich.except(building).withColumn("tag", lit("rich_only")))
    },

    // ── F-family: scalar string/regex/date/array/json (SURVEY §2.8) ─────
    "f2_strip_markdown_images" -> { (s, dir) =>
      val md = concat(lit("!["), col("lang"), lit("]("), col("source"),
        lit(") "), col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.stripMarkdownImages(md).as("content"))
    },

    "f3_strip_marker_wrapper" -> { (s, dir) =>
      // marker-output artifact strip (combine_json_to_jsonl.py:110-113);
      // wrap half the rows so both branches are exercised
      val wrapped = when(col("doc_id") % 2 === 0,
        concat(lit("markdown='"), col("text"), lit("'"))).otherwise(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.stripMarkerWrapper(wrapped).as("content"))
    },

    "f4_unescape_newlines" -> { (s, dir) =>
      // literal \n escapes → real newlines + trim
      // (pdf_extraction/combine_json_to_jsonl.py:52-58)
      val escaped = concat(lit("  "),
        replace(col("text"), lit(" "), lit("\\n")), lit("  "))
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.unescapeNewlines(escaped).as("content"))
    },

    "p5_project_rename_pdf" -> { (s, dir) =>
      // PDF EnrichedDocument {Title,Citation,Link,Corpus} → RAG output
      // schema (pdf_extraction/combine_json_to_jsonl.py:63-80): content
      // is clean_content (image strip + \n unescape + newline collapse +
      // strip), date is the citation year (default pinned per SURVEY §7.4)
      val citation = when(col("doc_id") % 11 === 0, lit("Doe. Study, no year."))
        .otherwise(concat(lit("Doe et al. ("),
          (lit(1990) + col("doc_id") % 30).cast("string"), lit("). "),
          col("lang"), lit(".")))
      val corpus = concat(lit("![fig](img.png) "), col("text"),
        lit("\\n\\n\\n\\nEnd."))
      t(s, dir, "documents").select(
        TextOps.pdfCleanContent(corpus).as("content"),
        col("source"),
        concat(lit("https://doi.org/10.9/"), col("doc_id").cast("string")).as("url"),
        TextOps.extractYear(citation, lit("2026")).as("date"),
        lit("1.0").as("version"),
        concat(lit("T-"), col("doc_id").cast("string")).as("title"),
        citation.as("citation"))
    },

    "p7_drop_intermediate_cols" -> { (s, dir) =>
      // master-output projection (json_split_and_clean.py:299-313): drop
      // the Scraped_At / raw-text intermediates, add cleaned Corpus + md5
      t(s, dir, "documents")
        .withColumn("Scraped_At", lit("2026-01-01 00:00:00"))
        .withColumn("Corpus", trim(col("text")))
        .drop("Scraped_At", "text")
        .withColumn("corpus_hash", md5(col("Corpus")))
    },

    "f5_collapse_whitespace" -> { (s, dir) =>
      val spread = regexp_replace(col("text"), " ", "   ")
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.collapseWhitespace(spread).as("content"))
    },

    "f6_normalize_unicode" -> { (s, dir) =>
      val uni = translate(col("text"), "ae", "–’")
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.normalizeUnicodePunct(uni).as("content"))
    },

    "f7_normalize_for_compare" -> { (s, dir) =>
      val punct = regexp_replace(col("p_name"), " ", "; ")
      t(s, dir, "part").select(col("p_partkey"),
        TextOps.normalizeForCompare(punct).as("norm"))
    },

    "f8_normalize_doi" -> { (s, dir) =>
      val raw = concat(lit("https://doi.org/10."),
        (lit(1000) + col("p_partkey") % 9000).cast("string"),
        lit("/Abc."), col("p_brand"))
      t(s, dir, "part").select(col("p_partkey"), TextOps.normalizeDoi(raw).as("doi"))
    },

    "f10_extract_year" -> { (s, dir) =>
      val citation = when(col("o_orderkey") % 11 === 0, lit("No year here."))
        .otherwise(concat(lit("Author et al. ("), year(col("o_orderdate")).cast("string"),
          lit("). Study of "), col("o_orderpriority"), lit(".")))
      t(s, dir, "orders").select(col("o_orderkey"),
        TextOps.extractYear(citation, lit("2026")).as("yr"))
    },

    "f15_format_authors" -> { (s, dir) =>
      val words = split(concat_ws(" ", col("p_name"), col("p_type"), col("p_brand")), " ")
      val authors = when(col("p_partkey") % 7 === 0, array().cast("array<string>"))
        .otherwise(slice(words, lit(1), (lit(1) + col("p_partkey") % 5).cast("int")))
      t(s, dir, "part").select(col("p_partkey"),
        Enrich.formatAuthors(authors).as("authors_fmt"))
    },

    "f16_build_citation" -> { (s, dir) =>
      val doi = when(col("p_partkey") % 3 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("10."),
          (lit(1000) + col("p_partkey") % 9000).cast("string"), lit("/x")))
      t(s, dir, "part").select(col("p_partkey"),
        Enrich.buildCitation(lit("Doe et al."), lit("2024"), col("p_name"),
          lit("J Eng Data"), doi).as("citation"),
        Enrich.buildLink(doi, col("p_partkey").cast("string")).as("link"))
    },

    "f18_record_to_json" -> { (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.recordToJsonString(col("doc_id"), col("lang"), col("source"))
          .as("payload"))
    },

    "f20_parse_json" -> { (s, dir) =>
      events(s, dir).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    },

    "f13_html_extract" -> { (s, dir) =>
      // F13 driver-visible: each doc wrapped in a deterministic page
      // (nav junk div + <article><p>…) — the cascade must pick the
      // article region, flatten the <p>, and apply the >50-char
      // substance gate; the oracle replays the equivalent whitespace
      // collapse + gate. Custom codegen expression, not a UDF.
      val html = concat(
        lit("<html><head><title>x</title></head><body>" +
          "<div class=\"nav\">skip this</div><article><p>"),
        col("text"), lit("</p></article></body></html>"))
      t(s, dir, "documents").select(col("doc_id"),
        gf.html_text(html).as("content"))
    },

    "f19_parse_pubmed_xml" -> { (s, dir) =>
      // F19 driver-visible round-trip: a PubMed efetch response is
      // synthesized per customer row, parsed back through the typed
      // from_xml schema + XPath-parity projections; the oracle simply
      // re-derives the fields from the source columns — so a hash match
      // proves the parse recovered title/doi/journal/year/authors.
      val c = t(s, dir, "customer").filter(col("c_custkey") < 500)
      val xml = concat(
        lit("<PubmedArticleSet><PubmedArticle><MedlineCitation><Article>" +
          "<ArticleTitle>"), col("c_name"),
        lit("</ArticleTitle><Journal><Title>Journal of "), col("c_mktsegment"),
        lit("</Title><JournalIssue><PubDate><Year>2024</Year></PubDate>" +
          "</JournalIssue></Journal><AuthorList><Author><LastName>"),
        col("c_name"), lit("</LastName><ForeName>Prime</ForeName></Author>" +
          "</AuthorList></Article></MedlineCitation><PubmedData>" +
          "<ArticleIdList><ArticleId IdType=\"pubmed\">"),
        col("c_custkey").cast("string"),
        lit("</ArticleId><ArticleId IdType=\"doi\">10.1000/c"),
        col("c_custkey").cast("string"),
        lit("</ArticleId></ArticleIdList></PubmedData></PubmedArticle>" +
          "</PubmedArticleSet>"))
      graft.ops.PubMedXml.parseToColumns(
          c.select(col("c_custkey").as("key"), xml.as("xml")), "xml")
        .select(col("key"), col("title"), col("doi"), col("journal"),
          col("year"), array_join(col("authors"), "; ").as("authors"))
    },

    "d3_skip_processed" -> { (s, dir) =>
      // D3 driver-visible: re-scrape skip — inputs already in the
      // processed ledger (every 7th doc) drop out via the anti join
      val docs = t(s, dir, "documents")
      Fingerprint.skipProcessed(docs.select("doc_id", "source"),
        docs.filter(col("doc_id") % 7 === 0).select("doc_id"), "doc_id")
    },

    // ── T-family: incremental/windowed semantics, batch-checkable ───────
    "t2_window_hourly" -> { (s, dir) =>
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
    },

    "profile_missing_hours" -> { (s, dir) =>
      // Data-completeness monitor: hours with ZERO events per type —
      // silence is invisible to every groupBy (no row, no group), so the
      // expected spine is GENERATED per type from its own min/max hour
      // and anti-joined against observed hours. Both sides of the join
      // are post-aggregate (≤ types × hours rows) — at 100 TB the only
      // full-data pass is the first groupBy.
      val e = events(s, dir)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      val bounds = e.groupBy("event_type")
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val spine = bounds.select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
          .as("missing_hour"))
      spine.join(
        e.select(col("event_type"), col("h").as("missing_hour")).distinct(),
        Seq("event_type", "missing_hour"), "left_anti")
    },

    "t1_stream_hourly" -> { (s, dir) =>
      // T1 driver-visible: an ACTUAL Structured Streaming run
      // (AvailableNow file-source micro-batches → memory sink), not the
      // batch twin — the oracle is the equivalent batch SQL, so the
      // driver checks streaming-batch unification end to end. DECIMAL
      // accumulation inside the stream makes the sum independent of
      // micro-batch order.
      val name = s"graft_t1_stream_${streamRuns.incrementAndGet()}"
      val q = graft.streaming.EventsStream.runAvailableNow(s, dir, name)
      q.awaitTermination()
      s.table(name).select(col("hour_ts"), col("event_type"),
        col("n_events"), col("value_sum").cast("double").as("value_sum"))
    },

    "t10_stream_drift" -> { (s, dir) =>
      // streaming PSI drift: the hist sketch folded micro-batch by
      // micro-batch (foreachBatch, AvailableNow) into a running master,
      // then scored against the synthesized prior — shares profile_psi's
      // oracle, so the hash match proves stream==batch for the sketch
      val merged = graft.streaming.DriftStream.runSketchNow(s,
        graft.streaming.DriftStream.readDocs(s, dir),
        "source", "n_chars", binWidth = 100L)
      val prior = psiPriorSnapshot(t(s, dir, "documents"))
      Profile.psiFromSketches(merged,
        Profile.histQuantileSketch(prior, "source", "n_chars", 100L),
        "source")
    },

    "t4_sliding_window" -> { (s, dir) =>
      // 3-hour sliding aggregates per event type: RANGE frame over event
      // time in micros; sums accumulate in DECIMAL (order-independent,
      // engine-exact) and surface as DOUBLE. Note the partition count
      // here is the type cardinality — at corpus scale this query shape
      // wants day-bucketed sub-windows or the streaming path (T1/T2);
      // kept as the analysis form, matching DuckDB's RANGE window.
      val e = events(s, dir).withColumn("ts_us", expr("unix_micros(ts)"))
      val w = Window.partitionBy("event_type").orderBy("ts_us")
        .rangeBetween(-10800000000L, 0L)
      e.select(col("event_id"), col("event_type"),
        count(lit(1)).over(w).as("n_3h"),
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("sum_3h"))
    },

    "t3_session_window" -> { (s, dir) =>
      // session windows (30-min gap) over the events stream table —
      // built-in session_window; the custom-state streaming twin is
      // streaming/Sessionize (flatMapGroupsWithState, SessionizeSpec)
      graft.streaming.Sessionize.sessionsBatch(events(s, dir), gapMinutes = 30)
    },

    "t5_stream_stream_join" -> { (s, dir) =>
      // stream-stream inner join, ACTUALLY run as a stream (AvailableNow
      // micro-batches → memory sink): purchases attributed to the same
      // user's clicks in the preceding 30 min, watermarks bounding the
      // join state on both sides. The oracle is the equivalent batch
      // range join, so the driver checks stream-batch unification for
      // the join operator the way t1 does for aggregation.
      val name = s"graft_t5_stream_${streamRuns.incrementAndGet()}"
      val q = graft.streaming.EventsStream.runAttributionNow(s, dir, name)
      q.awaitTermination()
      s.table(name).select("purchase_id", "click_id", "user_id",
        "purchase_ts", "click_ts")
    },

    "t6_stream_dedup" -> { (s, dir) =>
      // streaming exact dedup, ACTUALLY run as a stream (D1's incremental
      // form): keys projected before dropDuplicates, so the emitted set
      // is the distinct key set — order-independent, batch-oracle-checked
      val name = s"graft_t6_stream_${streamRuns.incrementAndGet()}"
      val q = graft.streaming.DedupStream.runDedupKeysNow(s, dir, name,
        Seq("user_id", "event_type"))
      q.awaitTermination()
      s.table(name)
    },

    "t8_stream_enrich" -> { (s, dir) =>
      // stream ⋈ static dim (the everyday streaming join): stateless per
      // micro-batch, no watermark, no state store — union equals the
      // batch join, which is the oracle. Parquet sink, not memory: the
      // memory sink collects every enriched row into the driver
      // single-threaded (it was the whole super-linear term at 10×
      // data, and a wall at corpus scale); the file sink writes
      // executor-side and the result reads back as a plain scan.
      val out = freshRunDir("graft_t8_enrich_")
      val dim = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val q = graft.streaming.EventsStream.runEnrichToParquet(s, dir, dim,
        col("user_id") % 100, col("s_suppkey"), out)
      q.awaitTermination()
      s.read.parquet(s"$out/data").select(col("event_id"), col("user_id"),
        col("s_nationkey").cast("long").as("nation"))
    },

    "t9_stream_upsert" -> { (s, dir) =>
      // foreachBatch MERGE-upsert run as an ACTUAL stream: each micro-
      // batch merges into a versioned keyed parquet snapshot (the Delta
      // MERGE INTO shape over plain parquet). Final snapshot = latest
      // event per user by (ts, event_id) — arrival-order-independent,
      // so the batch argmax is the oracle.
      val root = freshRunDir("graft_t9_upsert_")
      val run = graft.streaming.UpsertStream.runUpsertNow(s, dir, root)
      run.query.awaitTermination()
      run.snapshot().select(col("user_id"), col("ts").as("last_ts"),
        col("event_type").as("last_event_type"), col("value").as("last_value"))
    },

    "funnel_conversion" -> { (s, dir) =>
      // windowFunnel-shaped ordered conversion: view → click → purchase
      // within 1 h of the earliest view; one shuffle + per-user HOF walk
      Funnel.funnelDepth(events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), windowSec = 3600L)
    },

    "event_paths_topk" -> { (s, dir) =>
      // top-20 three-step entry paths (the Sankey query); event_id is the
      // unique tie-break so every user's path is deterministic
      Funnel.topPaths(events(s, dir), "user_id", "event_type", "ts",
        "event_id", pathLen = 3, k = 20)
    },

    "events_rate_anomaly" -> { (s, dir) =>
      // hourly event-rate spikes per type vs the trailing 24h baseline
      Funnel.rateAnomaly(events(s, dir), "event_type", "ts",
        bucketSec = 3600L, trailBuckets = 24)
    },

    "events_new_users" -> { (s, dir) =>
      // growth decomposition: per day, distinct actives split into first-
      // time vs returning (day stringified — pandas DATE parity)
      Funnel.newVsReturning(events(s, dir), "user_id", "ts")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_active").cast("long").as("n_active"),
          col("n_new").cast("long").as("n_new"))
    },

    "events_rolling_wau" -> { (s, dir) =>
      // trailing-7-day distinct actives per observed day (DAU/WAU family)
      Funnel.rollingActives(events(s, dir), "user_id", "ts", windowDays = 7)
        .select(date_format(col("window_end"), "yyyy-MM-dd").as("window_end"),
          col("n_active").cast("long").as("n_active"))
    },

    "retention_cohorts" -> { (s, dir) =>
      // first-seen-day cohorts × day-offset distinct-active matrix;
      // cohort emitted as yyyy-MM-dd text (pandas keeps Spark DATE as
      // str but DuckDB DATE as datetime64 — stringify both sides)
      Funnel.retentionCohorts(events(s, dir), "user_id", "ts")
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          col("day_offset"), col("n_users").cast("long").as("n_users"))
    },

    "t7_stream_curate" -> { (s, dir) =>
      // the Dolma rule gate run as an ACTUAL stream (stateless projection
      // → micro-batch-order-independent, so the batch SQL is the oracle)
      val name = s"graft_t7_curate_${streamRuns.incrementAndGet()}"
      val q = graft.streaming.CurateStream.runCurateNow(s, dir, name,
        curationRules)
      q.awaitTermination()
      s.table(name)
    },

    "rag_chunk_documents" -> { (s, dir) =>
      // RAG chunking (north star): 64-token windows, stride 48
      Chunker.chunkByTokens(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "text", size = 64, stride = 48)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
    },

    "f1_clean_corpus" -> { (s, dir) =>
      // ORACLE-CHECKED since round 13 via the exported decision trace
      // (writeOracleAux clean_trace): the stateful per-line clean has no
      // direct SQL form, but its per-line decisions ship as data and
      // DuckDB re-proves every one against the raw lines and rebuilds
      // content — see f1TraceSql. clean() is assembled from the SAME
      // decisions() kernel the trace exports (no drift possible);
      // CPython parity of that kernel is golden-pinned (CleanCorpusSpec
      // + 250-doc fuzz).
      t(s, dir, "documents").select(col("doc_id"),
        gf.clean_corpus(col("text")).as("content"))
    },

    "j3_fuzzy_match_scale" -> { (s, dir) =>
      // the 100 TB twin of j3: PassJoin segment signatures make the
      // candidate set EXACT for lev ≤ 4 (FuzzyJoin.selfPairsExact) while
      // staying an equi hash join — O(k²) keys per row instead of
      // O(|block|²) comparisons — so the oracle is the plain blocked
      // all-pairs lev band, hash-checked. (The deletion-neighborhood
      // variant with its 98.6% recall contract remains the
      // f12_similarity_scale path.)
      // banded DP: levenshtein(a, b, 4) early-exits rows whose distance
      // exceeds the threshold (returns -1) — O(k·n) per pair instead of
      // O(n²), and the verify is the dominant cost on ~10⁶ candidates
      FuzzyJoin.selfPairsExact(t(s, dir, "part"), "p_partkey", "p_name",
          k = 4, blockCols = Seq("p_brand"))((a, b) => levenshtein(a, b, 4) >= 0)
        .select(col("i").as("k1"), col("j").as("k2"),
          levenshtein(col("str_i"), col("str_j"), 4).as("dist"))
    },

    "j3_fuzzy_match_cross" -> { (s, dir) =>
      // cross-table twin of j3_fuzzy_match_scale: probe rows matched to
      // a DIMENSION under the same exact PassJoin candidates
      // (FuzzyJoin.pairsExact) — the reference's title-lookup-against-
      // an-index shape (pubmed_enrichment.py:270-296) at the 100 TB
      // plan: equi hash join on segment keys, banded-lev verify, never
      // probe×dim all-pairs. Split of part by key parity stands in for
      // the two tables; oracle is the blocked cross all-pairs band.
      val p = t(s, dir, "part")
      FuzzyJoin.pairsExact(p.filter(col("p_partkey") % 2 === 0),
          "p_partkey", "p_name",
          p.filter(col("p_partkey") % 2 === 1), "p_partkey", "p_name",
          k = 4, blockCols = Seq("p_brand"))((a, b) => levenshtein(a, b, 4) >= 0)
        .select(col("i").as("k1"), col("j").as("k2"),
          levenshtein(col("str_i"), col("str_j"), 4).as("dist"))
    },

    "f12_similarity_scale" -> { (s, dir) =>
      // ORACLE-CHECKED since round 12 via the exported block trace
      // (writeOracleAux f12_blocks): difflib ratio has no direct SQL
      // form, but the block decomposition ships as data and DuckDB
      // re-verifies every block against the raw strings + recomputes
      // sim — see the oracleSql comment. The candidate layer is EXACT:
      // ratio→edit-distance lemma + measured-Lmax PassJoin radius in
      // CandidateGen.similaritySelfPairs (FuzzyJoinSpec proves equality
      // with brute-force all-pairs). The declared sim is ORIENTATION-
      // CANONICAL — ratio(min(sa,sb), max(sa,sb)): difflib's ratio is
      // weakly order-sensitive (measured: 2 of 19,902 θ=0.5 pairs flip
      // by orientation), and the distinct-string front evaluates one
      // decision per distinct pair, so the well-defined declared
      // relation is the symmetric one; the lemma and quick-ratio bound
      // are orientation-free, so exactness is untouched.
      CandidateGen.similaritySelfPairs(t(s, dir, "part"), "p_partkey",
          "p_name", theta = 0.9, blockCols = Seq("p_brand"))(
          (a, b) => gf.similarity(least(a, b), greatest(a, b)))
        .select(col("i").as("k1"), col("j").as("k2"),
          gf.similarity(least(col("str_i"), col("str_j")),
            greatest(col("str_i"), col("str_j"))).as("sim"))
    },

    "f12_similarity_ratcliff" -> { (s, dir) =>
      // ORACLE-CHECKED since round 12 via its own exported block trace
      // at θ = 0.5 (writeOracleAux f12_blocks_ratcliff — the same
      // DuckDB replay as f12_similarity_scale). Round 9 wrote this as a
      // raw brand-blocked self-join with only the length-ratio conjunct
      // (which at θ = 0.5 prunes almost nothing); brand cardinality is
      // fixed, so block occupancy grew linearly with sf and candidate
      // pairs quadratically — 34× at 10× data. Same route as
      // f12_similarity_scale now: measured-Lmax PassJoin radius +
      // distinct-string front, exact by the ratio→lev lemma
      // (FuzzyJoinSpec pins equality against the brute-force self-join).
      // Orientation-canonical sim, as f12_similarity_scale.
      CandidateGen.similaritySelfPairs(t(s, dir, "part"), "p_partkey",
          "p_name", theta = 0.5, blockCols = Seq("p_brand"))(
          (a, b) => gf.similarity(least(a, b), greatest(a, b)))
        .select(col("i").as("k1"), col("j").as("k2"),
          gf.similarity(least(col("str_i"), col("str_j")),
            greatest(col("str_i"), col("str_j"))).as("sim"))
    },

    "f9_extract_doi" -> { (s, dir) =>
      // DOI extraction with bibliography veto over synthesized doc text;
      // oracle replays the match-clean-veto loop as regexp_extract_all +
      // list_filter (validated against the CPython mirror 500/500)
      val txt = concat(col("text"), lit(" see 10."),
        (lit(1000) + col("doc_id") % 9000).cast("string"), lit("/ref."), col("lang"),
        when(col("doc_id") % 4 === 0, lit(" listed in the bibliography"))
          .otherwise(lit("")))
      t(s, dir, "documents").select(col("doc_id"),
        gf.extract_doi(txt).as("doi"))
    },
    // ── Scale extensions: dedup / similarity-search / text analytics ────
    "dedup_exact_groups" -> { (s, dir) =>
      // exact dup detection on a corpus with injected re-ingest dups;
      // the ids array is stringified at the query edge (the driver's
      // pandas sort crashes on array columns) — the array form stays the
      // library API (Dedup.exactDupGroups, DedupSpec)
      val docs = t(s, dir, "documents")
      val doubled = docs.unionByName(docs.filter(col("doc_id") % 3 === 0))
      Dedup.exactDupGroups(doubled, "doc_id", "text")
        .withColumn("ids", array_join(transform(col("ids"), _.cast("string")), ","))
    },

    "dedup_normalized_exact" -> { (s, dir) =>
      // normalize-then-hash pass: injected mutants (uppercased, doubled
      // spaces, trailing " !!") group with their originals — raw md5
      // (dedup_exact_groups) would miss every one of them
      val docs = t(s, dir, "documents")
      val mutants = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(regexp_replace(upper(col("text")), " ", "  "), lit(" !!"))
            .as("text"))
      Dedup.normalizedDupGroups(
          docs.select("doc_id", "text").unionByName(mutants), "doc_id", "text")
        .withColumn("ids", array_join(transform(col("ids"), _.cast("string")), ","))
    },

    "dedup_ngram_jaccard" -> { (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        "n_chars", threshold = 0.5)
    },

    "dedup_cluster_survivors" -> { (s, dir) =>
      // the complete near-dup dedup pass, composed end to end: exact
      // blocked-Jaccard pairs → transitive clusters (pointer-jumping
      // components) → ONE deterministic survivor per cluster (longest
      // doc, id tie-break) + cluster size. What ships to training is
      // "survivors ∪ docs with no pairs"; this query outputs the cluster
      // decisions the anti-join would consume.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        "n_chars", threshold = 0.5)
      val comp = Components.connectedComponents(pairs.select("i", "j"))
      val members = comp.join(
        docs.select(col("doc_id").as("node"), col("n_chars")), Seq("node"))
      val surv = Dedup.keepBestPerGroup(members, col("component"),
          Seq(col("n_chars").desc, col("node").asc))
        .select(col("component"), col("node").as("survivor_id"),
          col("n_chars").as("survivor_n_chars"))
      members.groupBy("component").agg(count(lit(1)).as("n_members"))
        .join(surv, Seq("component"))
    },

    "dedup_minhash_lsh" -> { (s, dir) =>
      // oracle-checked against ALL-PAIRS exact jaccard ≥ 0.5: banding is
      // hash-seeded, but its output equals the exact answer whenever
      // recall is structurally 1 — on this data every qualifying pair
      // sits at jac ≥ 0.9 (verified before wiring), where the 16×4
      // banding miss probability is ≤ 1e-24. DedupSpec pins the same
      // equality at sf0.001.
      Dedup.minHashNearDups(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5)
    },

    "dedup_simhash" -> { (s, dir) =>
      Dedup.simHashNearDups(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 6)
    },

    "dedup_winnow_overlap" -> { (s, dir) =>
      // MOSS-style near-dup pairs: >= 3 shared winnowed fingerprints
      // (verbatim 16-char runs), boilerplate hashes df-capped; the
      // oracle replays selection + df cap + pair count over the
      // exported per-position gram hashes (same aux as text_fingerprint)
      Dedup.winnowOverlapPairs(t(s, dir, "documents"), "doc_id", "text",
        minShared = 3L, maxDf = 50,
        assumeUniqueIds = true) // doc_id is the table's key
    },

    "dedup_incremental_index_build" -> { (s, dir) =>
      // the BUILD half of incremental LSH dedup, benched separately from
      // the probe (the r7 single entry conflated one-time index
      // construction with the steady-state batch cost the operator
      // exists to make cheap): unconditionally re-sketches the corpus
      // slice and persists it (content-keyed path), returning the
      // indexed-row count. Oracle: a doc sketches iff it has ≥ 3
      // space-split tokens (shingleK = 3) — same tokenization the
      // hash-green probe oracle replays.
      val idx = minHashIndexFor(s, dir, force = true)
      idx.sketches.agg(count(lit(1)).as("n_indexed"))
    },

    "dedup_incremental_lsh" -> { (s, dir) =>
      // the PROBE half: the corpus index is an offline artifact (loaded
      // sketch rows, built at most once per corpus content — see
      // minHashIndexFor); only the new batch (doc_id % 10 = 0) is
      // sketched, its band rows broadcast against the index, the corpus
      // never re-shuffles. Oracle = exact cross-split jaccard: every
      // qualifying crossing pair sits at jac ≥ 0.95 at sf0.01 (≥ 0.90 at
      // sf0.001), where 16×4 banding recall is structurally 1 (miss
      // prob ≤ 1e-7).
      val idx = minHashIndexFor(s, dir)
      Dedup.minHashDedupeAgainst(idx,
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text", threshold = 0.5)
    },

    "dedup_embedding_cosine" -> { (s, dir) =>
      // EXACT cosine near-dups of a bounded probe batch (vec_id < 64 —
      // the ann_bruteforce_topk bound) against the full corpus: one
      // linear scan, probe broadcast. The former declared form — the
      // full-corpus exhaustive pair join — is Θ(n²) in OUTPUT alone
      // (qualifying pairs measure a constant ~5e-4 of ALL pairs on this
      // clustered corpus: 66/124750 at sf0.001, 920/2M at sf0.1), so no
      // engine could hold it sub-quadratic; it remains the oracle shape
      // in DedupSpec (equality vs this query on the probe slice) and
      // the recall reference for dedup_embedding_lsh, which is the
      // declared full-corpus route.
      val e = t(s, dir, "embeddings")
      Dedup.embeddingNearDupsAgainst(e.filter(col("vec_id") < 64), e,
        "vec_id", "embedding", threshold = 0.4)
    },

    "dedup_embedding_lsh" -> { (s, dir) =>
      // oracle-checked: the default multi-table hyperplane-LSH candidate
      // path — the oracle recomputes all 8 seed-shifted bucket tables
      // from literal plane values and applies the same cosine verify
      Dedup.embeddingNearDups(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4)
    },

    "dedup_semantic" -> { (s, dir) =>
      // SemDeDup (Abbas et al. 2023): k-means cells block the pair join,
      // each semantic-dup group keeps its lowest-centroid-cosine member.
      // Runs off the SAVED quantizer (shared with ann_ivf_topk — the
      // fit is an offline artifact, a dedup run never refits). Oracle:
      // DuckDB replays the whole chain against the exported index —
      // within-cell cosine pairs, WITH RECURSIVE min-id components, the
      // centroid-cosine keep rule. Group membership / recall-vs-exact
      // also pinned in DedupSpec.
      Dedup.semanticDedup(ivfIndexFor(s, dir), threshold = 0.4)
    },

    "ann_bruteforce_topk" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Vectors.annBruteForceTopK(e.filter(col("vec_id") < 8), e,
        "vec_id", "vec_id", "embedding", "embedding", k = 5)
    },

    "ann_filtered_topk" -> { (s, dir) =>
      // attribute-FILTERED vector search (the "top-k among docs matching
      // a metadata predicate" RAG query): the filter applies to the
      // corpus BEFORE scoring — pre-filtering, exact under the predicate,
      // never the post-filter top-k that silently under-returns. With the
      // IVF path the same predicate lands on the cell-partitioned
      // assigned table and prunes inside probed cells.
      val e = t(s, dir, "embeddings")
      Vectors.annBruteForceTopK(e.filter(col("vec_id") < 8),
        e.filter(col("label") % 2 === 0),
        "vec_id", "vec_id", "embedding", "embedding", k = 5)
    },

    "ann_quantized_topk" -> { (s, dir) =>
      // ANN over the int8-quantized index: scores run against q·s
      // reconstructions (1 byte/dim in flight instead of 4) — the memory
      // story for a 100 TB embedding matrix; same rank/tie-break contract
      // as ann_bruteforce_topk, oracle recomputes the codes exactly
      val rec = Quantize.dequantize(t(s, dir, "embeddings"), "vec_id", "embedding")
      Vectors.annBruteForceTopK(rec.filter(col("vec_id") < 8), rec,
        "vec_id", "vec_id", "recon", "recon", k = 5)
    },

    "ann_lsh_bucketed" -> { (s, dir) =>
      // oracle-checked: the hyperplanes are seed-fixed constants, so the
      // DuckDB side recomputes the same sign-pattern buckets from literal
      // plane values (generated below in lshPlaneSql; bucket parity
      // verified 500/500 at sf0.01 before wiring)
      val e = t(s, dir, "embeddings")
      Vectors.annLshTopK(e.filter(col("vec_id") < 8), e,
        "vec_id", "vec_id", "embedding", "embedding", k = 5)
    },

    "ann_knn_graph" -> { (s, dir) =>
      // corpus self-kNN graph (every doc's 3 nearest neighbors) over the
      // LSH bucket path — the input to graph clustering / dataset
      // cartography. Queries ARE the corpus: the bucket equi-join keeps
      // the pair stream bounded, never all-pairs. nPlanes stays at the
      // oracle's 4 (16 buckets) for this corpus size; at scale raise it
      // so 2^nPlanes ≫ shuffle parallelism — bucket count IS the join's
      // key cardinality, and 16 keys would serialize a 1000-executor
      // shuffle (the op takes nPlanes for exactly this dial).
      val e = t(s, dir, "embeddings")
      Vectors.annLshTopK(e, e, "vec_id", "vec_id", "embedding", "embedding",
        k = 3)
    },

    "ann_recall_eval" -> { (s, dir) =>
      // the ANN evaluation loop, driver-checked: recall@5 of the
      // hyperplane-LSH result against the brute-force exact result per
      // query — the number that tunes nPlanes/nProbe before anyone
      // trusts an approximate index. One equi join + tiny aggregate.
      val e = t(s, dir, "embeddings")
      val exact = Vectors.annBruteForceTopK(e.filter(col("vec_id") < 8), e,
        "vec_id", "vec_id", "embedding", "embedding", k = 5)
      val approx = Vectors.annLshTopK(e.filter(col("vec_id") < 8), e,
        "vec_id", "vec_id", "embedding", "embedding", k = 5)
      Vectors.recallAtK(approx, exact, "qid", "cid", k = 5)
    },

    "ann_pq_topk" -> { (s, dir) =>
      // oracle: DuckDB replays encode/ADC/refine against the exported
      // codebook (writeOracleAux); fit determinism pinned in VectorsSpec.
      // ANN over the product-quantized index — m bytes per vector in the
      // scan (32× below float32) with ADC scoring straight off the codes.
      val e = t(s, dir, "embeddings")
      val idx = Quantize.pqFit(e, "vec_id", "embedding")
      val coded = Quantize.pqEncode(e, "vec_id", "embedding", idx)
      Quantize.annPqRefineTopK(e.filter(col("vec_id") < 8), coded, e, idx,
        "vec_id", "vec_id", "embedding", "embedding", k = 5, rerank = 50)
    },

    "ann_ivf_topk" -> { (s, dir) =>
      // oracle: DuckDB replays probe routing + exact ranking against the
      // exported centroid/assignment tables (writeOracleAux).
      // Probes a PREBUILT index (built+saved once per corpus dir, loaded
      // thereafter) — the production contract: the quantizer is an
      // offline artifact like a bucketed table, not a per-query fit.
      val e = t(s, dir, "embeddings")
      Vectors.annIvfTopK(e.filter(col("vec_id") < 8), ivfIndexFor(s, dir),
        "vec_id", "embedding", k = 5, nProbe = 4, pruneFiles = true)
    },

    "ann_incremental_ingest" -> { (s, dir) =>
      // incremental vector ingest (oracle replays the batch assignment
      // + probe arithmetic, like ann_ivf_topk): the
      // saved quantizer + the 90% corpus slice's saved assignment stand,
      // the new 10% batch is assigned to the EXISTING centroids and
      // unioned in — no refit, no corpus reshuffle. Queries then probe
      // the merged index; recall/assignment semantics pinned in
      // VectorsSpec ("ivfIngest" tests).
      val full = ivfIndexFor(s, dir)
      val corpusSlice = graft.ops.Vectors.IvfIndex(full.centroids,
        full.assigned.filter(col("cid") % 10 =!= 0))
      val batch = t(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
      val merged = Vectors.ivfIngest(corpusSlice, batch, "vec_id", "embedding")
      Vectors.annIvfTopK(t(s, dir, "embeddings").filter(col("vec_id") < 8),
        merged, "vec_id", "embedding", k = 5, nProbe = 4, pruneFiles = false)
    },

    "text_token_stats" -> { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id") +: TextAnalysis.tokenStats(col("text")): _*)
    },

    "profile_metrics_long" -> { (s, dir) =>
      // wide→long UNPIVOT melt: per-doc metrics as (doc_id, metric,
      // value) rows — the shape every metrics store / tall-table monitor
      // ingests. Narrow 1→k row generator, no shuffle; completes the
      // relational surface next to PIVOT/CUBE/ROLLUP.
      t(s, dir, "documents").select(
          col("doc_id"), col("n_chars"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
          octet_length(col("text")).cast("long").as("n_bytes"))
        .unpivot(Array(col("doc_id")),
          Array(col("n_chars"), col("n_tokens"), col("n_bytes")),
          "metric", "value")
    },

    "text_quality_score" -> { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id") +: TextAnalysis.qualityScore(col("text")): _*)
    },

    "text_lang_id" -> { (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
    },

    "text_entropy" -> { (s, dir) =>
      // char-level Shannon entropy quality gate (Gopher-style "is this
      // text" signal); milli-nat integers keep the double fold compare-
      // stable (sequential char-sorted sum on BOTH engines)
      TextAnalysis.charEntropy(t(s, dir, "documents"), "doc_id", "text")
    },

    "dedup_degree_stats" -> { (s, dir) =>
      // per-doc duplication degree: neighbor count + strongest tie from
      // the exact pair list — "how duplicated is this document" as a
      // quality signal (heavily-mirrored docs get down-weighted)
      val pairs = Dedup.prefixJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", tNum = 1L, tDen = 2L, shingleK = 3)
      // one explode instead of unionByName of two projections: the union
      // duplicates the whole pair-join subtree in the plan, so the
      // expensive candidate+verify stages ran twice
      pairs.select(explode(array(
          struct(col("i").as("doc_id"), col("jac_milli")),
          struct(col("j").as("doc_id"), col("jac_milli")))).as("e"))
        .select(col("e.doc_id").as("doc_id"), col("e.jac_milli").as("jac_milli"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_neighbors"),
          max("jac_milli").as("max_jac_milli"))
    },

    "dedup_source_matrix" -> { (s, dir) =>
      // provenance audit: near-dup PAIR counts rolled up by (source_i,
      // source_j) — which sources duplicate which; pairs from the exact
      // prefix join, source labels via two broadcast-sized joins
      val docs = t(s, dir, "documents")
      val pairs = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
        tNum = 1L, tDen = 2L, shingleK = 3)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("i"), col("source").as("src_i")), Seq("i"))
        .join(src.select(col("doc_id").as("j"), col("source").as("src_j")), Seq("j"))
        .groupBy(least(col("src_i"), col("src_j")).as("src_a"),
          greatest(col("src_i"), col("src_j")).as("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
    },

    "dedup_prefix_jaccard" -> { (s, dir) =>
      // exact set-similarity join (AllPairs/PPJoin prefix filter) at
      // jaccard ≥ 1/2 — recall 1.0 by construction, no length banding;
      // the engines rank prefixes differently but verify identically
      Dedup.prefixJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        tNum = 1L, tDen = 2L, shingleK = 3)
    },

    "dedup_containment" -> { (s, dir) =>
      // asymmetric quote/subsumption detection: overlap coefficient over
      // df-capped shingles — the pairs symmetric Jaccard can't see
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        simMilliMin = 800L, shingleK = 3, maxDf = 50)
    },

    "text_lang_mix" -> { (s, dir) =>
      // code-switching detector: sentence-level language ID rolled up to
      // a per-doc histogram with the dominant language's share
      TextAnalysis.langMix(t(s, dir, "documents"), "doc_id", "text")
    },

    "text_readability" -> { (s, dir) =>
      // Flesch reading-ease tagger: three regexp counts + one floored
      // double expression, a pure codegen projection
      t(s, dir, "documents").select(
        col("doc_id") +: TextAnalysis.fleschMilli(col("text")): _*)
    },

    "text_vocab_topk" -> { (s, dir) =>
      // corpus vocabulary: term count + document frequency, top-500 with
      // a total (count desc, token asc) order → TakeOrderedAndProject,
      // no global sort
      TextAnalysis.vocabTopK(t(s, dir, "documents"), "doc_id", "text", 500)
    },

    "text_vocab_coverage" -> { (s, dir) =>
      // tokenizer-vocab sizing: cumulative share of all token
      // occurrences covered by the top-200 vocabulary, in milli-units
      TextAnalysis.vocabCoverage(t(s, dir, "documents"), "doc_id", "text", 200)
    },

    "text_bigram_pmi" -> { (s, dir) =>
      // collocation mining: top-200 adjacent bigrams with exact counts +
      // PMI in floored milli-nats from the same expression tree as the
      // oracle
      TextAnalysis.bigramPmi(t(s, dir, "documents"), "doc_id", "text", 200)
    },

    "text_lm_score" -> { (s, dir) =>
      // corpus-trained bigram LM (add-1/2 smoothing): per-doc total
      // log-prob in floored milli-nats — integer sums, order-independent
      TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text")
    },

    "embed_quantize_int8" -> { (s, dir) =>
      // int8 scalar quantization of the embedding matrix (4x memory cut
      // for ANN at scale); exploded (vec_id, dim, q, resid_milli) output
      Quantize.int8Codes(t(s, dir, "embeddings"), "vec_id", "embedding")
    },

    "a5_zscore_per_source" -> { (s, dir) =>
      // per-source outlier scoring of document length: moments from exact
      // integer sums (never distributed floating stddev), z in milli-units
      Profile.zscorePerGroup(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "source", "n_chars")
        .select("doc_id", "source", "n_chars", "z_milli")
    },

    "a6_robust_zscore" -> { (s, dir) =>
      // MAD-based robust outlier scoring — the heavy-tail-safe twin of
      // a5: median/MAD are unmoved by the outliers being hunted
      Profile.madZscorePerGroup(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "source", "n_chars")
        .select("doc_id", "source", "n_chars", "rz_milli")
    },

    "u5_keep_best" -> { (s, dir) =>
      // dedup survivor policy: one row per content-hash group, best =
      // longest text then smallest doc_id (total order ⇒ deterministic)
      val d = t(s, dir, "documents")
        .withColumn("content_hash", md5(col("text")))
      Dedup.keepBestPerGroup(d, col("content_hash"),
          Seq(col("n_chars").desc, col("doc_id").asc))
        .select("doc_id", "content_hash", "n_chars")
    },

    "rag_chunk_paragraphs" -> { (s, dir) =>
      // paragraph-aware chunking: the documents text is a flat token
      // stream (no sentence punctuation), so paragraph breaks are
      // injected after every literal " table " occurrence — frequent in
      // the generator vocabulary — then whole paragraphs pack into
      // 64-token-budget chunks
      val p = t(s, dir, "documents").select(col("doc_id"),
        replace(col("text"), lit(" table "), lit(" table\n\n")).as("ptext"))
      Chunker.chunkByParagraphs(p, "ptext", maxTokens = 64)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
    },

    "rag_tfidf_embed" -> { (s, dir) =>
      // MLlib hashing-TF/IDF embeddings, emitted as exact per-dimension
      // integer micro-units (scalar columns — raw float arrays crash the
      // driver's pandas sort). The hash mapping (term→bucket) and the
      // fitted IDF vector are the exported artifacts (writeOracleAux);
      // the oracle replays bucketed TF counting, IDF scaling, the
      // ordered L2 normalization and the float downcast — every step
      // IEEE-deterministic, so the micro floor matches bit-for-bit.
      // Unit-norm + ANN-compat contracts pinned in ChunkEmbedSpec.
      TfIdfEmbed.embed(t(s, dir, "documents"), "doc_id", "text", dim = 128)
        .select(col("doc_id"),
          posexplode(col("embedding")).as(Seq("idx", "v")))
        .select(col("doc_id"), col("idx"),
          floor(lit(1000000) * col("v").cast("double")).cast("long")
            .as("v_micro"))
    },

    "dedup_components" -> { (s, dir) =>
      // connected components over chain edges (consecutive events per
      // user): hundreds-of-hops paths exercise the pointer-jumping
      // convergence; component = min event_id of the user's chain. The
      // oracle is DuckDB's recursive CTE computing the same fixpoint.
      val e = events(s, dir).filter(col("event_id") < 2000)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
      val edges = e.select(col("event_id").as("i"),
          lead("event_id", 1).over(w).as("j"))
        .filter(col("j").isNotNull)
      Components.connectedComponents(edges)
    },

    "layout_compaction" -> { (s, dir) =>
      // OPTIMIZE planning from metadata only: every document stands in
      // for a small file (bytes = n_chars), packed per source into
      // 4000-byte output bins by sorted next-fit — one window, no
      // sequential state; oversized files isolate by the same arithmetic
      Layout.compactionPlan(
        t(s, dir, "documents").select(col("source"),
          concat(lit("f_"), col("doc_id").cast("string")).as("file"),
          col("n_chars").cast("long").as("bytes")),
        "source", "file", "bytes", targetBytes = 4000L)
    },

    "layout_partition_prune" -> { (s, dir) =>
      // hive-partitioned layout round trip: documents written dir-per-lang
      // (one file per dir — repartition first), read back with a partition
      // filter that PRUNES at listing time (LayoutSpec asserts the scan
      // touches 2 of 5 partition dirs). Oracle replays filter+agg on the
      // unpartitioned table — layout must never change answers.
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_layout_pp_" +
        ProcessHandle.current().pid()
      Layout.partitionedWrite(t(s, dir, "documents")
        .select("doc_id", "source", "n_chars", "lang"), root, Seq("lang"))
      Layout.prunedRead(s, root, col("lang").isin("en", "zh"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars_sum"))
    },

    "layout_zorder" -> { (s, dir) =>
      // Z-order layout audit: interleave (user_id, day) bits, cut the
      // curve into 32 "files", report each file's min/max on BOTH dims —
      // the hypercube-bounds proof that multi-predicate skipping works.
      // ntile over the exact key order keeps bucketing deterministic for
      // the oracle; the production write path is Layout.zorderWrite
      // (repartitionByRange — sampled boundaries, one shuffle).
      val e = events(s, dir).select(col("event_id"), col("user_id"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).as("day_off"))
      val keyed = e.withColumn("zkey",
        Layout.zorderKey2(col("user_id"), col("day_off").cast("long"), bits = 8))
      // r17: the former ntile(32) over Window.orderBy(zkey, event_id)
      // moved the WHOLE events table to one task — the one unbounded
      // global window in the declared set. Layout.globalNtile computes
      // the identical bucket ids scalably (per-zkey offsets from the
      // bounded bits=8 histogram + a zkey-partitioned rank window).
      Layout.globalNtile(keyed, col("zkey"), col("event_id"),
          n = 32, outCol = "file_id")
        .groupBy("file_id")
        .agg(count(lit(1)).as("n_rows"),
          min("user_id").as("min_user"), max("user_id").as("max_user"),
          min("day_off").as("min_day"), max("day_off").as("max_day"))
    },

    "graph_triangles" -> { (s, dir) =>
      // per-node triangle counts + clustering coefficient over the
      // nation↔nation trade graph (nations connected when a customer in
      // one buys from a supplier in the other). The operator runs the
      // degree-ORIENTATION algorithm (out-degree bounded by O(√|E|), so
      // wedge enumeration survives hubs) — the graph here is small but
      // the plan shape is the 100 TB one.
      val cust = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_nationkey").as("cn"))
      val supp = t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"), col("s_nationkey").as("sn"))
      val edges = cust.join(supp, col("o_orderkey") === col("l_orderkey"))
        .filter(col("cn") =!= col("sn"))
        .select(col("cn").as("i"), col("sn").as("j"))
      Components.triangleCounts(edges)
    },

    "events_json_extract" -> { (s, dir) =>
      // schema-on-read over the semi-structured props column: from_json
      // with an explicit schema (codegen'd Jackson parse, no UDF), then
      // a per-type rollup of the extracted field. Null-safe: rows whose
      // props lack `k` drop out of the aggregates, not the row count.
      val k = from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
        .getField("k")
      t(s, dir, "events").select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), count(col("k")).as("n_with_k"),
          sum("k").as("k_sum"), min("k").as("k_min"), max("k").as("k_max"))
    },

    "events_forward_fill" -> { (s, dir) =>
      // LOCF gap-filling: every 3rd reading deterministically nulled,
      // then forward-filled per user (last non-null over an ordered
      // user-keyed frame, event_id tie-break) — the standard repair for
      // sparse sensor/metric series before windowed math. One shuffle on
      // user_id; values pass through unchanged (no arithmetic), so the
      // doubles hash-match bit-exactly.
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          when(col("event_id") % 3 =!= 0, col("value")).as("v"))
        .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
    },

    "events_decay_score" -> { (s, dir) =>
      // freshness-weighted engagement: per-user half-life-decayed value
      // sum (72h half-life, power-of-two shift — exact, no exp())
      Funnel.halfLifeDecayScore(events(s, dir), "user_id", "ts", "value",
        halfLifeHours = 72L)
    },

    "events_interpolate" -> { (s, dir) =>
      // linear interpolation for INTERIOR gaps (the LOCF twin for
      // metrics where holding the last value biases downward-trending
      // series): bracket each null with the nearest non-null on both
      // sides (two ordered frames over one user-keyed shuffle), fill
      // proportionally to the event_id distance. Edges (no bracket)
      // stay null. Milli-floored after an expression tree the oracle
      // mirrors exactly.
      val wp = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val base = events(s, dir)
        .select(col("user_id"), col("event_id"),
          when(col("event_id") % 3 =!= 0, col("value")).as("v"))
        .select(col("user_id"), col("event_id"), col("v"),
          last(col("v"), ignoreNulls = true).over(wp).as("pv"),
          last(when(col("v").isNotNull, col("event_id")), ignoreNulls = true)
            .over(wp).as("pe"),
          first(col("v"), ignoreNulls = true).over(wn).as("nv"),
          first(when(col("v").isNotNull, col("event_id")), ignoreNulls = true)
            .over(wn).as("ne"))
      val interp = col("pv") + (col("nv") - col("pv")) *
        ((col("event_id") - col("pe")).cast("double") /
          (col("ne") - col("pe")).cast("double"))
      base.select(col("user_id"), col("event_id"),
        when(col("v").isNotNull, floor(lit(1000) * col("v")).cast("long"))
          .as("v_milli"),
        when(col("v").isNotNull, floor(lit(1000) * col("v")).cast("long"))
          .when(col("pv").isNotNull && col("nv").isNotNull,
            floor(lit(1000) * interp).cast("long"))
          .as("interp_milli"))
    },

    "events_corrupt_audit" -> { (s, dir) =>
      // schema-on-read FAILURE accounting: every 7th props string is
      // deterministically truncated into invalid JSON, then parsed with
      // an explicit `_corrupt_record` column (from_json PERMISSIVE keeps
      // the row and captures the raw text there — the quarantine surface
      // for semi-structured ingest; a silent-null parse can't tell
      // corrupt from merely-missing keys, this can). Oracle rebuilds the
      // same classification via json_valid.
      val raw = when(col("event_id") % 7 === 0,
        expr("substring(props, 1, length(props)-2)")).otherwise(col("props"))
      val parsed = from_json(raw,
        org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, _corrupt_record STRING"),
        Map("columnNameOfCorruptRecord" -> "_corrupt_record"))
      t(s, dir, "events")
        .select(col("event_type"), parsed.as("j"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_total"),
          count(col("j._corrupt_record")).as("n_corrupt"),
          count(col("j.k")).as("n_with_k"),
          sum(col("j.k")).cast("long").as("k_sum"))
    },

    "event_transitions" -> { (s, dir) =>
      // first-order Markov transition matrix over per-user event
      // sequences: P(next=to | cur=from) in floored milli — the behavior-
      // model / anomalous-flow baseline. One user-keyed window (lead) +
      // one aggregate; the from-type totals are a broadcast-sized join.
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      // cut (size-gated): counts feeds the totals and the final join —
      // left lazy, the second reference re-runs the user-keyed window
      // over the whole events table
      val counts = graft.ops.ScaleHints.cutIfRescanCostly(events(s, dir)
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n")))
      val totals = counts.groupBy("from_type").agg(sum("n").as("__tot"))
      counts.join(broadcast(totals), Seq("from_type"))
        .withColumn("prob_milli", expr("n * 1000 div __tot"))
        .drop("__tot")
    },

    "graph_pagerank" -> { (s, dir) =>
      // link authority over the customer↔supplier bipartite graph (who
      // buys from whom), 5 integer-quantized iterations — symmetrized so
      // no node dangles; micro-unit ranks are exact integers, so the
      // oracle replays the identical fixed-point arithmetic in SQL
      val pairs = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
      PageRank.pageRank(PageRank.symmetrize(pairs, "a", "b"), iters = 5)
        .select(
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          expr("node div 2").as("entity_id"),
          col("rank"))
    },

    "graph_label_prop" -> { (s, dir) =>
      // clamped label propagation: 20 audited suppliers carry their
      // nation label; 3 rounds spread it across the purchase graph
      // (bipartite — customers at round 1, unlabeled suppliers round 2)
      val pairs = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
      val seeds = t(s, dir, "supplier").filter(col("s_suppkey") < 20)
        .select((col("s_suppkey") * 2 + 1).as("node"),
          col("s_nationkey").as("label"))
      Components.labelPropagation(
          PageRank.symmetrize(pairs, "a", "b"), seeds, "node", "label",
          iters = 3)
        .select(
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          expr("node div 2").as("entity_id"),
          col("label"))
    },

    "graph_ppr" -> { (s, dir) =>
      // personalized PageRank: teleport mass pinned to suppliers 1-10 —
      // rank becomes proximity to the trusted seed set (corpus-expansion
      // signal), same quantized arithmetic as graph_pagerank
      val pairs = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
      val seeds = t(s, dir, "supplier").filter(col("s_suppkey") < 10)
        .select((col("s_suppkey") * 2 + 1).as("node"))
      PageRank.personalizedPageRank(
          PageRank.symmetrize(pairs, "a", "b"), seeds, "node", iters = 5)
        .select(
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          expr("node div 2").as("entity_id"),
          col("rank"))
    },

    "text_contamination" -> { (s, dir) =>
      // benchmark decontamination: every 50th document plays the eval
      // set, the rest the training corpus; injected near-dups make some
      // benchmark docs fully contaminated
      val docs = t(s, dir, "documents")
      Contamination.benchmarkOverlap(
        docs.filter(col("doc_id") % 50 =!= 0), "text",
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", k = 3)
    },

    "text_repetition" -> { (s, dir) =>
      // Gopher-style duplicate-bigram quality signals per document
      TextAnalysis.repetitionStats(t(s, dir, "documents"), "doc_id", "text", n = 2)
    },

    "text_compression" -> { (s, dir) =>
      // zlib deflate-ratio repetition gate. The deflate kernel has no
      // SQL form, so the per-doc deflate lengths are the exported
      // artifact (writeOracleAux; kernel pinned vs a reference Deflater
      // in SketchesSpec) and the oracle replays the byte-length, ratio
      // and zero-guard arithmetic — the dedup_simhash artifact split.
      // Shuffle-free narrow map — the cheapest repetition signal.
      TextAnalysis.compressionStats(t(s, dir, "documents"), "doc_id", "text")
    },

    "text_pii_redact" -> { (s, dir) =>
      // PII scrub: the testdata corpus is clean, so every third doc gets
      // a deterministic injected snippet (email/IP/SSN/phone) that the
      // oracle rebuilds identically — the redaction+counts must agree
      val inj = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 ssn 123-45-6789 tel 415-555-0199")))
        .otherwise(col("text"))
      t(s, dir, "documents").select(
        (col("doc_id") +: graft.ops.Privacy.piiStats(inj)) :+
          graft.ops.Privacy.redactPii(inj).as("redacted"): _*)
    },

    "privacy_k_anonymity" -> { (s, dir) =>
      // k-anonymity audit over the (lang, source) quasi-identifier:
      // group sizes hover around k=5 at sf0.01, so both flag values are
      // exercised and hash-checked
      graft.ops.Privacy.kAnonymity(t(s, dir, "documents"),
        Seq("lang", "source"), k = 5L)
    },

    "privacy_l_diversity" -> { (s, dir) =>
      // the homogeneity-attack companion to the k audit: ≥ l distinct
      // sensitive values (n_chars century bucket as the sensitive proxy)
      // per (lang, source) group; 37/97 groups trip at l=3 at sf0.01, so
      // both flag values are hash-checked
      graft.ops.Privacy.lDiversity(t(s, dir, "documents"),
        Seq("lang", "source"), expr("n_chars div 100"), l = 3L)
    },

    "privacy_suppressed" -> { (s, dir) =>
      // suppression enforcement: rows in sub-k QI groups dropped (one
      // window shuffle, no join), survivors rolled up per lang
      graft.ops.Privacy.suppressSmallGroups(t(s, dir, "documents"),
          Seq("lang", "source"), k = 5L)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    },

    "sample_stratified" -> { (s, dir) =>
      // deterministic per-source Bernoulli sample: src0 half, src1 none,
      // src2 full, everything else 25% — pure pushed-down filter
      val docs = t(s, dir, "documents")
      Sampling.stratifiedSample(docs.select("doc_id", "source"),
        col("doc_id").cast("string"), col("source"),
        Map("src0" -> 5000, "src1" -> 0, "src2" -> 10000),
        defaultPerMyriad = 2500)
    },

    "mix_domains" -> { (s, dir) =>
      // training-mix epochs: src0 seen 2.5x, src1 0.25x, default 1x —
      // hash-deterministic fractional replication, exploded per epoch
      val docs = t(s, dir, "documents")
      Sampling.mixEpochs(docs.select("doc_id", "source"),
        col("doc_id").cast("string"), col("source"),
        Map("src0" -> 2.5, "src1" -> 0.25), defaultWeight = 1.0)
    },

    "shuffle_shards" -> { (s, dir) =>
      // deterministic global shuffle as 8 hash shards with in-shard
      // positions — one shuffle on the shard key, no global sort
      Sampling.shuffleShards(t(s, dir, "documents").select("doc_id"),
        col("doc_id").cast("string"), nShards = 8)
    },

    "mix_reweight" -> { (s, dir) =>
      // mixture correction: importance weights steering the observed
      // source mix toward an explicit target (src1* strata targeted at
      // 30 milli-shares, the rest at 70), clamped to [200, 5000] with
      // the clamp flagged — rare strata must not explode
      val docs = t(s, dir, "documents")
      val targets = docs.select(col("source")).distinct()
        .withColumn("target_milli",
          when(col("source").startsWith("src1"), lit(30L)).otherwise(lit(70L)))
      Sampling.reweightToTarget(docs, "source", targets, "target_milli",
        minMilli = 200L, maxMilli = 5000L)
    },

    "mix_token_budget" -> { (s, dir) =>
      // token-budget mixing: take ~20k tokens (n_chars as the proxy)
      // per source in deterministic hash order, keeping whole documents
      Sampling.takeTokenBudget(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          col("doc_id").cast("string"), col("source"), col("n_chars"),
          lit(20000))
        .select("doc_id", "source", "n_chars", "cum_tokens")
    },

    "s9_sink_roundtrip" -> { (s, dir) =>
      // S9 sink proof the driver can SEE: write partitioned JSONL, read
      // it back with an explicit schema, hash-match the original rows.
      // Round-trips the sink+source pair instead of trusting the spec.
      // pid-suffixed so two concurrent driver sessions never interleave
      // writes into one another's read
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_s9_roundtrip_${ProcessHandle.current().pid()}"
      graft.sources.Sinks.writeJsonl(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"), out)
      s.read.schema("doc_id LONG, source STRING, n_chars LONG").json(out)
    },

    "s11_csv_roundtrip" -> { (s, dir) =>
      // CSV sink+source proof, driver-checked like s9. The corpus has no
      // CSV-hostile bytes, so every 5th doc gets a deterministic injected
      // suffix with a comma, a double quote, and a NEWLINE — the oracle
      // rebuilds the same strings from the original parquet, so the
      // hash only matches if the quote/escape/multiLine dialect
      // round-trips them byte-exactly.
      val hostile = concat(col("text"),
        lit(", \"quoted\"\nline2 of doc "), col("doc_id").cast("string"))
      val src = t(s, dir, "documents").select(
        col("doc_id"), col("source"), col("n_chars"),
        when(col("doc_id") % 5 === 0, hostile).otherwise(col("text")).as("text_rt"))
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_s11_roundtrip_${ProcessHandle.current().pid()}"
      graft.sources.Sinks.writeCsv(src, out)
      graft.sources.Sources.csvTable(s, out,
        "doc_id LONG, source STRING, n_chars LONG, text_rt STRING")
    },

    "dedup_cross_corpus" -> { (s, dir) =>
      // near-dup DEcontamination (the fuzzy twin of text_contamination):
      // every 50th doc plays the benchmark; emit benchmark↔corpus
      // near-dup pairs. Decontamination is asymmetric by nature, and
      // round 9 paid for ignoring that: it computed ALL corpus×corpus
      // pairs and filtered to the 2% benchmark crossing (21× at 10×
      // data). Now only the benchmark side is indexed
      // (Dedup.ngramJaccardAcross) and the corpus probes it — candidates
      // are linear in true matches; output contract and hash unchanged.
      val docs = t(s, dir, "documents")
      Dedup.ngramJaccardAcross(
          probe = docs.filter(col("doc_id") % 50 =!= 0),
          build = docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", "n_chars", threshold = 0.5)
        .select(col("build_id").as("bench_id"),
          col("probe_id").as("corpus_id"), col("jac"))
    },

    "profile_approx" -> { (s, dir) =>
      // KMV approximate distincts per column — the one-pass bounded-
      // memory answer to profiling at corpus scale (exact twin is
      // profile_documents). Unlike an HLL register blob, the KMV state
      // is k md5 hash values, so the DuckDB oracle replays the entire
      // estimate (min-k distinct hashes, (k−1)·2⁶⁰/kth) exactly;
      // error-vs-exact also pinned in MiscOpsSpec.
      Profile.approxDistinctKmv(t(s, dir, "documents"),
        Seq("doc_id", "source", "lang", "n_chars"))
    },

    "embed_pca" -> { (s, dir) =>
      // PCA reduction of the embedding matrix to 8 dims (storage /
      // prefilter path). The oracle replays the projection as one inner
      // product per component against the exported signed rotation
      // (writeOracleAux); orthonormality, sign canon, variance ordering,
      // and neighbor preservation are pinned in VectorsSpec.
      Vectors.pcaProject(t(s, dir, "embeddings"), "vec_id", "embedding",
          kDims = 8)
        .withColumnRenamed("id", "vec_id")
    },

    "profile_heavy_hitters" -> { (s, dir) =>
      // count-min-sketch top-20 tokens — the no-full-shuffle frequency
      // profile (exact twin is text_vocab_topk). The sketch is a d×w
      // COUNTER TABLE addressed by md5 slices (Profile.cmsCounters), so
      // the oracle replays the whole pipeline — counters, deterministic
      // candidate sample, min-over-d read-back, top-k — in SQL; the
      // over-estimate bound vs exact counts stays pinned in MiscOpsSpec.
      Profile.heavyHittersCms(t(s, dir, "documents"), col("doc_id"),
        col("text"), k = 20)
    },

    "profile_approx_incr" -> { (s, dir) =>
      // mergeable-KMV proof, same pattern as profile_heavy_hitters_incr:
      // per-slice min-k sketches kmvMerge into EXACTLY the full-corpus
      // sketch (min-k of a union = min-k over the unioned min-k sets),
      // so this hash-matches profile_approx's oracle verbatim.
      val docs = t(s, dir, "documents")
      val a = docs.filter(col("doc_id") % 10 =!= 0)
      val b = docs.filter(col("doc_id") % 10 === 0)
      Seq("doc_id", "source", "lang", "n_chars").map { c =>
        Profile.kmvEstimate(Profile.kmvMerge(Seq(
          Profile.kmvSketch(a, c), Profile.kmvSketch(b, c))), s"adc_$c")
      }.reduce(_.crossJoin(_))
    },

    "profile_heavy_hitters_incr" -> { (s, dir) =>
      // mergeable-sketch proof: counter tables built per corpus slice
      // (as different ingest runs would) union + re-sum into EXACTLY
      // the full-corpus sketch — counter addition commutes — so this
      // query hash-matches the SAME oracle as profile_heavy_hitters.
      // The build/merge/probe split is the sketch lifecycle at 100 TB:
      // per-slice counters persist as tiny tables, a merge is a
      // d·w-bounded aggregate, and a fresh batch never re-sketches
      // history.
      val docs = t(s, dir, "documents")
      def occ(f: DataFrame) =
        Profile.tokenOccurrences(f, col("doc_id"), col("text"))
      val merged = Profile.cmsMerge(Seq(
        Profile.cmsCounters(occ(docs.filter(col("doc_id") % 10 =!= 0)), "tok"),
        Profile.cmsCounters(occ(docs.filter(col("doc_id") % 10 === 0)), "tok")))
      Profile.heavyHittersFromCounters(merged, occ(docs), k = 20)
    },

    "sample_per_group" -> { (s, dir) =>
      // deterministic 7-per-source sample: md5-ranked reservoir inside
      // each stratum — stable across runs, one shuffle on the stratum
      Sampling.samplePerStratum(
        t(s, dir, "documents").select("doc_id", "source"),
        col("doc_id").cast("string"), col("source"), n = 7)
    },

    "sample_split" -> { (s, dir) =>
      // hash-deterministic 5%/5% test/val split, rolled up per source —
      // every row's split is a pure function of its key (leakage-proof
      // across re-runs); emitted per-row then aggregated for the check
      Sampling.assignSplit(t(s, dir, "documents"),
          col("doc_id").cast("string"), testPerMyriad = 500, valPerMyriad = 500)
        .groupBy("source", "split").agg(count(lit(1)).as("n"))
    },

    "sample_weighted" -> { (s, dir) =>
      // quality-proportional retention: each doc's keep probability IS
      // its quality score (q_score% → per-myriad), decided by the same
      // cross-engine key hash as every sampler here — a filter, no RNG
      val scored = t(s, dir, "documents").select(
        col("doc_id") +: TextAnalysis.qualityScore(col("text")): _*)
      Sampling.weightedSample(scored, col("doc_id").cast("string"),
          col("q_score") * 100)
        .select("doc_id", "q_score")
    },

    "sample_dsir" -> { (s, dir) =>
      // DSIR (Xie et al. 2023): hashed unigram+bigram importance weights
      // of every doc against the src0 slice as the target distribution,
      // then a Gumbel top-k resample (P(keep) ∝ exp(w)) — deterministic
      // end to end, oracle replays buckets, milli-quantized log-ratios,
      // and the Gumbel keys exactly
      val d = t(s, dir, "documents")
      val w = Sampling.dsirWeights(d, col("doc_id"), col("text"),
        col("source") === "src0")
      Sampling.dsirResample(w, "id", "w_milli", k = 125)
        .select(col("id").as("doc_id"), col("w_milli"), col("key_milli"),
          col("kept"))
    },

    "split_decontaminated" -> { (s, dir) =>
      // split hygiene end-to-end: hash-deterministic split, then every
      // train doc near-dupping (3-gram jaccard ≥ 0.5) a held-out doc is
      // re-labeled train_contaminated — the eval set stays unseen even
      // through paraphrases. Pair detection rides the blocked jaccard
      // candidate path; this stage is two broadcast joins.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        "n_chars", threshold = 0.5)
      Sampling.decontaminateSplit(
          Sampling.assignSplit(docs, col("doc_id").cast("string"),
            testPerMyriad = 500, valPerMyriad = 500),
          col("doc_id"), pairs, "i", "j")
        .select("doc_id", "source", "split")
    },

    "media_probe" -> { (s, dir) =>
      // multimodal plumbing, driver-checked: synthesized media paths
      // (extension cycles by doc_id), extension→modality routing, exact
      // byte length and content digest of the payload. The decode stage
      // stays an honest stub (no codecs in this container); everything
      // the cluster actually schedules on — schema, routing, sizes,
      // hashes — is real and oracle-checked here.
      val ext = element_at(
        typedlit(Seq(".jpg", ".wav", ".mp4", ".txt", ".png")),
        (col("doc_id") % 5 + 1).cast("int"))
      val path = concat(lit("media/doc_"), col("doc_id").cast("string"), ext)
      t(s, dir, "documents").select(col("doc_id"),
        path.as("path"),
        graft.multimodal.MediaOps.modalityOf(path).as("modality"),
        octet_length(col("text")).as("n_bytes"),
        sha2(col("text").cast("binary"), 256).as("sha"))
    },

    "media_pipeline" -> { (s, dir) =>
      // the full multimodal path the cluster schedules — binary payloads
      // → media frame (modality routing) → mapPartitions decode → video
      // frame sampling (explode generator, payload dropped). Audio rows
      // carry REAL synthesized RIFF/WAVE payloads that the decode stage
      // parses byte-level (WavCodec); image/video keep the md5-derived
      // deterministic fake (no codecs in this container). Both paths are
      // hash-checked: the oracle replays the WAV synthesis arithmetic
      // (duration = nSamples/8 ms) and the md5 fake directly in SQL.
      // udf justified: imperative little-endian byte assembly (RIFF
      // header + PCM samples) has no Column-function form.
      val wavUdf = udf((id: Long) =>
        graft.multimodal.WavCodec.synthesize(id, 8000, 800 + (id % 32).toInt * 8))
      val ext = element_at(
        typedlit(Seq(".jpg", ".wav", ".mp4", ".txt", ".png")),
        (col("doc_id") % 5 + 1).cast("int"))
      val bin = t(s, dir, "documents").select(
        concat(lit("media/doc_"), col("doc_id").cast("string"), ext).as("path"),
        when(col("doc_id") % 5 === 1, wavUdf(col("doc_id")))
          .otherwise(col("text").cast("binary")).as("content"))
      val decoded = graft.multimodal.MediaOps.decode(
        graft.multimodal.MediaOps.toMediaFrame(bin))
      graft.multimodal.MediaOps.frameSample(decoded, everyMs = 5000L)
        .select(col("path"), col("modality"), col("frame_idx"),
          col("frame_ts_ms"), col("meta.width").as("width"),
          col("meta.height").as("height"), col("meta.format").as("format"),
          col("meta.duration_ms").as("duration_ms"))
    },

    "media_frame_dedup" -> { (s, dir) =>
      // cross-video dedup from sampled-frame signatures: the corpus's
      // video slice (doc_id%5==2, media_pipeline's synthesis arithmetic)
      // plus a trimmed re-upload of every 4th clip; re-encodes of
      // identical content share ALL frame sigs (jaccard 1000), trims are
      // contained (overlap 1000, jaccard < 1000). df-capped inverted
      // index — no video-to-video comparison ever materializes.
      val vids = t(s, dir, "documents").filter(col("doc_id") % 5 === 2)
        .select(col("doc_id"), col("text"),
          concat(lit("media/doc_"), col("doc_id").cast("string"),
            lit(".mp4")).as("path"),
          expr("CAST(1000 + (CAST(conv(substr(md5(text), 1, 15), 16, 10) " +
            "AS BIGINT) div 8388608) % 60000 AS BIGINT)").as("duration_ms"))
        .withColumn("nf", floor(greatest(lit(1.0),
          col("duration_ms") / lit(5000.0))).cast("long"))
        .select(col("doc_id"), col("text"), col("path"), col("nf"))
      val withTrims = vids.unionByName(
        vids.filter(col("doc_id") % 20 === 2)
          .select(col("doc_id"), col("text"),
            regexp_replace(col("path"), "\\.mp4$", "_trim.mp4").as("path"),
            greatest(lit(1L), col("nf") - 2).as("nf")))
      val frames = withTrims
        .withColumn("frame_idx", explode(sequence(lit(0L), col("nf") - 1)))
        .select(col("path"),
          substring(md5(concat(md5(col("text").cast("binary")), lit("_"),
            col("frame_idx").cast("string")).cast("binary")), 1, 16)
            .as("frame_sig"))
      graft.multimodal.MediaOps.frameDedupPairs(frames, "path", "frame_sig",
        dfCap = 8, minOverlapMilli = 800L)
    },

    "curate_length_batches" -> { (s, dir) =>
      // dynamic-batching prep: power-of-two length buckets, 8-doc
      // batches cut in md5 order inside (bucket, shard), per-batch
      // padding-waste accounting — the op that keeps a training job
      // from padding every batch to the corpus max. 4 shards keep any
      // dominant length band fanned out (no whole-bucket sort).
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      Sampling.lengthBucketedBatches(docs, col("doc_id").cast("string"),
          col("n_tokens"), batchSize = 8, nShards = 4)
        .groupBy("bucket_cap", "shard", "batch_no")
        .agg(count(lit(1)).as("n_docs"),
          sum("tokens_used").as("sum_tokens"),
          max("tokens_used").as("max_tokens"))
        .withColumn("pad_waste_milli",
          floor(lit(1000) * (col("n_docs") * col("bucket_cap") - col("sum_tokens")) /
            (col("n_docs") * col("bucket_cap"))).cast("long"))
    },

    "pack_sequences" -> { (s, dir) =>
      // concat-and-cut training sequence packing: 4 shards, 2048-token
      // sequences; each doc labeled with its start offset and sequence
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      Sampling.packSequences(docs, col("doc_id").cast("string"),
        col("n_tokens"), budgetTokens = 2048, nShards = 4)
    },

    "curate_corpus" -> { (s, dir) =>
      // the end-to-end curation pass a training corpus takes, composed
      // from the library's own operators: quality gate → token-length
      // gate → exact dedup (deterministic min-id survivor per content
      // hash) → train/val/test assignment → per-source/split rollup.
      // One linear chain: filters push to the scan, the dedup is the
      // only wide stage before the rollup.
      val docs = t(s, dir, "documents")
      val scored = docs.select(
        (col("doc_id") +: col("source") +: col("text") +:
          TextAnalysis.qualityScore(col("text"))): _*)
      val gated = scored.filter(col("q_score") >= 30 && col("n_tokens") >= 50)
      val deduped = Fingerprint.dedupByFingerprint(
        gated.withColumn("fp", md5(col("text"))), "fp", "doc_id")
      Sampling.assignSplit(deduped, col("doc_id").cast("string"),
          testPerMyriad = 500, valPerMyriad = 500)
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("sum_tokens"))
    },

    "corpus_overlap" -> { (s, dir) =>
      // inter-source overlap matrix: the share of each source's distinct
      // 3-gram vocabulary that appears in every other source — corpus-
      // level contamination analysis. Distinct (source, shingle) pairs,
      // one self-equi-join on the shingle, two hash aggregates.
      val docs = t(s, dir, "documents")
      // materialized once (eager, serialized): sh feeds both self-join
      // sides AND the totals aggregate — left lazy, the corpus is
      // shingle-tokenized three times (3 scans measured at sf0.1)
      val sh = docs.select(col("source"),
        explode(Dedup.tokenShingles(col("text"), 3)).as("sh")).distinct()
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val shared = sh.select(col("source").as("src_a"), col("sh"))
        .join(sh.select(col("source").as("src_b"), col("sh")), Seq("sh"))
        .filter(col("src_a") =!= col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
      val totals = sh.groupBy(col("source").as("src_a"))
        .agg(count(lit(1)).as("n_total"))
      shared.join(totals, Seq("src_a"))
        .select(col("src_a"), col("src_b"), col("n_shared"), col("n_total"),
          (col("n_shared").cast("double") / col("n_total").cast("double")).as("overlap"))
    },

    "text_fingerprint" -> { (s, dir) =>
      // winnowing fingerprints in the canonical SET form (Schleimer et
      // al. 2003): one row per selected-gram run. The per-position gram
      // hashes are the exported kernel artifact (writeOracleAux); the
      // oracle replays the window-argmin (latest index wins ties) and
      // the run dedupe in SQL. The scalar folded form stays available as
      // the rolling_fingerprint expression, fold==runs pinned in
      // SketchesSpec. udf justified: variable-length struct-array out of
      // a stateful windowed scan.
      val runsUdf = udf((txt: String) => graft.ops.Sketches.winnowedRuns(txt))
      t(s, dir, "documents").select(col("doc_id"),
          explode(runsUdf(col("text"))).as("r"))
        .select(col("doc_id"), col("r._1").as("win_start"),
          col("r._2").as("pos"), col("r._3").as("fp_hash"))
    },

    "rag_bm25_topk" -> { (s, dir) =>
      // sparse retrieval half of the RAG stack: BM25 top-10 per query,
      // integer micro-unit scores (per-term floor before the doc sum)
      Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        retrievalQueries(s), "qid", "qtext", k = 10)
    },

    "rag_mmr_diversify" -> { (s, dir) =>
      // retrieve-then-diversify: BM25 top-12 candidates per query, then
      // greedy MMR (λ=0.7, all-integer milli-units, doc_id tie-break)
      // down to 5 — near-dup passages lose to new-evidence passages
      Retrieval.mmrTopK(t(s, dir, "documents"), "doc_id", "text",
        retrievalQueries(s), "qid", "qtext",
        nCand = 12, k = 5, lambdaMilli = 700)
    },

    "rag_incremental_index" -> { (s, dir) =>
      // incremental lexical-index maintenance: a batch of UPDATED docs
      // (doc_id % 7) and NEW docs (doc_id % 11, shifted ids) upserts into
      // the standing docTerms index — only the batch is tokenized, the
      // index never rescans. Ranking over the merged index must equal a
      // full rebuild over the merged corpus (the oracle replays that).
      val docs = t(s, dir, "documents")
      val base = Retrieval.docTerms(docs, "doc_id", "text")
      val batch = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(lit("UPDATED "), col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat(col("text"), lit(" extra spark merge")).as("text")))
      val merged = Retrieval.mergeIndex(base, batch, "doc_id", "text").persist()
      Retrieval.bm25TopKIndexed(merged, retrievalQueries(s), "qid", "qtext",
        k = 10)
    },

    "rag_hybrid_rrf" -> { (s, dir) =>
      // hybrid retrieval: reciprocal-rank fusion of the BM25 ranking with
      // a term-coverage ranking — the fused list is what a RAG app
      // serves. The one-pass form: both rankings come from ONE
      // index ⋈ query-terms aggregate and all three ranking windows
      // share the qid exchange (semantics identical to fusing the two
      // separate top-20 lists; the oracle replays the composed SQL).
      val idx = Retrieval.docTerms(t(s, dir, "documents"), "doc_id", "text")
        .persist()
      Retrieval.hybridRrfTopK(idx, retrievalQueries(s), "qid", "qtext",
        kPer = 20, k = 10)
    },

    "ann_ivfpq_topk" -> { (s, dir) =>
      // FAISS IndexIVFPQ composition — coarse cells route the
      // query, ADC scores the PQ codes inside probed cells, exact cosine
      // re-ranks the rerank survivors; oracle replays the whole chain
      // against the exported centroids + codebook (writeOracleAux)
      val e = t(s, dir, "embeddings")
      val pq = Quantize.pqFit(e, "vec_id", "embedding")
      Quantize.annIvfPqTopK(t(s, dir, "embeddings").filter(col("vec_id") < 8),
        ivfIndexFor(s, dir), pq, "vec_id", "embedding",
        k = 5, nProbe = 4, rerank = 20)
    },

    "rag_eval_mrr" -> { (s, dir) =>
      // retrieval evaluation: MRR@10 of the BM25 ranking against a
      // deterministic ground truth (relevant = docs containing EVERY
      // query term) — the tuning-loop scoreboard for k1/b/analyzers
      val (idx, q, relevant) = retrievalGroundTruth(s, dir)
      Retrieval.mrrAtK(
        Retrieval.bm25TopKIndexed(idx, q, "qid", "qtext", k = 10),
        relevant, k = 10, queries = q)
    },

    "rag_hard_negatives" -> { (s, dir) =>
      // contrastive-training mining: the highest-BM25-ranked docs that
      // are NOT in the judged-relevant set are the hard negatives (the
      // pairs that teach an embedding model the decision boundary).
      // Judgments are sparse in real corpora — here only even doc_ids
      // were "judged" — so the odd top-ranked docs mine as negatives.
      val (idx, q, allRelevant) = retrievalGroundTruth(s, dir)
      val judged = allRelevant.filter(col("doc_id") % 2 === 0)
      // the anti join stays an SMJ on purpose: BOTH sides are bounded
      // (top-10×|Q| vs the judged qrels), so there is no corpus-scale
      // side to protect; an r17 A/B measured the broadcast form SLOWER
      // at sf0.1 (broadcast build serializes the qrel subtree) with no
      // scale upside
      Retrieval.bm25TopKIndexed(idx, q, "qid", "qtext", k = 10)
        .join(judged, Seq("qid", "doc_id"), "left_anti")
        .select("qid", "rank", "doc_id")
    },

    "rag_random_negatives" -> { (s, dir) =>
      // the uniform-negative companion to hard negatives: per query, 10
      // hash-deterministic corpus docs EXCLUDING both the retrieved
      // top-10 and the FULL relevant set — unlike hard negatives (which
      // deliberately mine the un-judged relevant docs), a random
      // negative drawn from ANY relevant doc is false-negative
      // contamination, so no judged-subset filter here. The hash gate
      // thins the scan×|Q| candidate space to ~8% before the anti-join
      // and window; |Q| is a bounded broadcast batch.
      val (idx, q, allRelevant) = retrievalGroundTruth(s, dir)
      val avoid = Retrieval.bm25TopKIndexed(idx, q, "qid", "qtext", k = 10)
        .select("qid", "doc_id").unionByName(allRelevant).distinct()
      val docs = t(s, dir, "documents")
      val cand = docs.select(col("doc_id"))
        .crossJoin(broadcast(q.select("qid")))
        // one codegen kernel per (qid, doc_id); the oracle replays the
        // equivalent conv(substr(md5(...), 1, 15), 16, 10) in SQL
        .withColumn("__h", graft.expr.sketchFunctions.md5_prefix60(
          concat(col("qid").cast("string"), lit("_"),
            col("doc_id").cast("string"))))
        .filter(col("__h") % 10000 < 800)
        // the anti join plans as a static SortMergeJoin (the avoid set's
        // size ESTIMATE is corpus-derived through the index joins, so a
        // size-gated broadcast hint correctly declines — r17 verified it
        // never fires) but the build side's ACTUAL size is bounded by
        // k·|Q| + qrels, so AQE's runtime stats convert it to a
        // broadcast join; the candidate stream is never sorted at scale
        .join(avoid, Seq("qid", "doc_id"), "left_anti")
      val w = Window.partitionBy("qid").orderBy(col("__h").asc, col("doc_id").asc)
      cand.withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 10)
        .select("qid", "rank", "doc_id")
    },

    "rag_eval_ndcg" -> { (s, dir) =>
      // position-discounted retrieval evaluation: NDCG@10 of the BM25
      // ranking against the same all-terms ground truth as rag_eval_mrr
      val (idx, q, relevant) = retrievalGroundTruth(s, dir)
      Retrieval.ndcgAtK(
        Retrieval.bm25TopKIndexed(idx, q, "qid", "qtext", k = 10),
        relevant, k = 10, queries = q)
    },

    "rag_context_pack" -> { (s, dir) =>
      // the RAG last mile: pack the BM25 ranking into a 300-token context
      // budget in rank order (whole documents kept while the budget has
      // room — the takeTokenBudget shape, keyed by rank instead of hash);
      // one bounded window over k·|queries| rows
      val docs = t(s, dir, "documents")
      val idx = Retrieval.docTerms(docs, "doc_id", "text").persist()
      val ranked = Retrieval.bm25TopKIndexed(idx, retrievalQueries(s),
        "qid", "qtext", k = 20)
      // token counts come FROM the persisted index (dl is functionally
      // dependent on doc_id) — no second tokenize pass over the corpus
      val withTok = ranked.join(
        idx.select(col("doc_id"), col("dl").cast("long").as("n_tokens"))
          .distinct(),
        Seq("doc_id"))
      Sampling.takeTokenBudgetOrdered(withTok, Seq(col("rank")),
          col("qid"), col("n_tokens"), lit(300))
        .withColumn("cum_before", col("cum_tokens") - col("n_tokens"))
        .select(col("qid"), col("rank"), col("doc_id"),
          col("n_tokens"), col("cum_before"))
    },

    "curate_tagged" -> { (s, dir) =>
      // Dolma-style tag-then-filter: quality taggers become attribute
      // columns, named keep-rules collect per-doc drop reasons — the
      // audit trail (WHICH rule killed WHICH doc), not just a boolean
      val tagged = t(s, dir, "documents").select(
        col("doc_id") +: TextAnalysis.qualityScore(col("text")): _*)
      Tagging.applyRules(tagged, curationRules)
        .select("doc_id", "n_tokens", "n_uniq", "n_stop", "drop_reasons", "keep")
    },

    "curate_training_mix" -> { (s, dir) =>
      // the training-mix pipeline composed end-to-end from library ops:
      // Dolma-style rule gate → DSIR weights against the src0 target →
      // per-source token-budget fill in importance order. Every stage is
      // deterministic, the oracle replays the whole chain in SQL.
      val tagged = t(s, dir, "documents").select(
        col("doc_id") +: col("source") +: col("text") +:
          TextAnalysis.qualityScore(col("text")): _*)
      val gated = Tagging.applyRules(tagged, curationRules)
        .filter(col("keep"))
      val w = Sampling.dsirWeights(gated, col("doc_id"), col("text"),
        col("source") === "src0")
      val sel = gated.select(col("doc_id"), col("source"), col("n_tokens"))
        .join(w.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
      Sampling.takeTokenBudgetOrdered(sel,
          Seq(col("w_milli").desc, col("doc_id").asc),
          col("source"), col("n_tokens"), lit(2000))
        .select("doc_id", "source", "n_tokens", "w_milli", "cum_tokens")
    },

    "curate_tag_stats" -> { (s, dir) =>
      // the per-rule cost rollup over the same rule set: how much corpus
      // each rule removes — the number that tunes thresholds
      val tagged = t(s, dir, "documents").select(
        col("doc_id") +: TextAnalysis.qualityScore(col("text")): _*)
      val curated = Tagging.applyRules(tagged, curationRules)
      Tagging.ruleStats(curated)
        .select(col("reason"), col("n_dropped").cast("long").as("n_dropped"))
    },

    "text_gopher_rules" -> { (s, dir) =>
      // Gopher rule gate (word-count band, mean word length, alpha ratio,
      // stopword evidence) — thresholds cross-multiplied to integer compares
      t(s, dir, "documents").select(
        col("doc_id") +: TextAnalysis.gopherFlags(col("text"),
          minWords = 30, maxWords = 80): _*)
    },

    "dedup_token_blocks" -> { (s, dir) =>
      // C4-style exact span dedup: 20-token blocks, first corpus occurrence
      // survives, documents reassembled from surviving blocks
      Dedup.dedupTokenBlocks(t(s, dir, "documents"), "doc_id", "text", 20)
    },

    "text_novelty" -> { (s, dir) =>
      // uniqueness curation signal: share of each doc's distinct 3-gram
      // shingles found in no other document (near-dup clusters score low)
      TextAnalysis.noveltyScore(t(s, dir, "documents"), "doc_id", "text")
    },

    "text_keyphrases" -> { (s, dir) =>
      // RAKE keyphrases: stopword-delimited candidate runs, degree/freq
      // word scores in milli, top-3 phrases per document
      TextAnalysis.rakeKeyphrases(t(s, dir, "documents"), "doc_id", "text",
        k = 3)
    },

    "url_canonicalize" -> { (s, dir) =>
      // web-corpus address normalization: four raw spellings per page
      // (cased host, default port, tracking params, fragment, dup
      // slashes, unsorted query) must collapse to one canonical form
      val raw = t(s, dir, "documents").select(col("doc_id"),
        rawUrlVariants.as("url"))
      raw.select(col("doc_id"), col("url"),
        UrlOps.canonicalize(col("url")).as("canonical"))
    },

    "dedup_url" -> { (s, dir) =>
      // URL-exact dedup on the canonical spelling: re-crawls of the same
      // address group; survivor = earliest id, n_dups = re-crawl count
      val raw = t(s, dir, "documents").select(col("doc_id"),
        rawUrlVariants.as("url"))
      UrlOps.dedupByUrl(raw, "url", "doc_id")
    },

    "curate_domain_cap" -> { (s, dir) =>
      // domain-level anti-spam curation: blocklisted hosts dropped
      // (broadcast anti-join), then at most 15 docs per registrable
      // domain under a deterministic quality order — the link-farm
      // domain holding ~40% of raw volume survives with exactly 15
      val s2 = s
      import s2.implicits._
      val docs = t(s, dir, "documents")
      val v = col("doc_id") % 10
      val host = when(v <= 3, lit("spam.linkfarm.net"))
        .when(v <= 5, lit("blog.example.org"))
        .when(v === 6, lit("Docs.Example.COM"))
        .when(v === 7, lit("www.news-site.io"))
        .when(v === 8, lit("archive.example.org:8080"))
        .otherwise(lit("banned.tracker.net"))
      val raw = docs.select(col("doc_id"), col("n_chars"),
        concat(lit("https://"), host, lit("/p/"),
          col("doc_id").cast("string")).as("url"))
      val blocklist = Seq("banned.tracker.net").toDF("blocked_domain")
      UrlOps.domainCapFilter(raw, "url", blocklist, cap = 15,
        Seq(col("n_chars").desc, col("doc_id").asc))
        .select("doc_id", "domain", "domain_rank")
    },

    "dedup_boilerplate_blocks" -> { (s, dir) =>
      // CCNet/RefinedWeb template strip: a 10-token block in MORE THAN 3
      // documents is boilerplate and vanishes from every document
      // (including the first — no "original" worth keeping), unlike the
      // keep-first rule above. Injected near-dup clusters make real
      // boilerplate blocks exist at sf0.01.
      Dedup.stripBoilerplateBlocks(t(s, dir, "documents"), "doc_id", "text",
        blockTokens = 10, maxDocs = 3)
    },

    "dedup_span_coverage" -> { (s, dir) =>
      // Lee et al. duplicated-span coverage: fraction of each document's
      // tokens inside an exact 20-token span occurring elsewhere in the
      // corpus at ANY alignment; islands window merges overlapping spans
      Dedup.spanDupCoverage(t(s, dir, "documents"), "doc_id", "text", 20)
    },

    "corpus_diff" -> { (s, dir) =>
      // dataset-version CDC: a deterministic synthetic prior snapshot
      // (10% of ids absent → added; ids ending in 1 truncated → changed;
      // a shifted-id slice present only in old → removed) diffed against
      // the current corpus — one hash-only full-outer join
      val docs = t(s, dir, "documents")
      val prior = docs.filter(col("doc_id") % 10 =!= 0)
        .withColumn("text", when(col("doc_id") % 10 === 1,
          substring(col("text"), 1, 10)).otherwise(col("text")))
        .unionAll(docs.filter(col("doc_id") % 10 === 9)
          .withColumn("doc_id", col("doc_id") + 1000000))
      graft.ops.Incremental.snapshotDiff(prior, docs, "doc_id", "text")
    },

    "embed_centroids" -> { (s, dir) =>
      // per-label embedding centroids in integer milli-units (domain-drift
      // / cluster-quality monitoring; the aggregate IVF's quantizer wants):
      // per-element floor to milli BEFORE the integer sum — engine- and
      // order-exact, same trick as the lm/PMI scores
      val e = t(s, dir, "embeddings")
      e.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("xm", floor(col("x").cast("double") * 1000).cast("long"))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n"), sum(col("xm")).cast("long").as("sum_milli"))
        .withColumn("centroid_milli",
          floor(col("sum_milli").cast("double") / col("n").cast("double"))
            .cast("long"))
    },

    "text_nfc" -> { (s, dir) =>
      // Unicode NFC canonical composition (pre-hash normalization for
      // dedup): decomposed sequences synthesized deterministically
      // (a → a + U+0300), then composed — both engines implement the
      // same Unicode algorithm, outputs byte-equal
      t(s, dir, "documents").select(col("doc_id"),
        gf.nfc_normalize(regexp_replace(col("text"), "a", "à"))
          .as("text_nfc"))
    },

    "mix_calibrated" -> { (s, dir) =>
      // per-source percentile calibration of the quality score: a global
      // threshold over raw scores silently skews the mix toward sources
      // whose style inflates the metric, so each doc is ranked WITHIN its
      // source first (percent_rank, doc_id tie-break for determinism) —
      // cross-source selection then compares like with like. Rank
      // arithmetic is integer-exact, so the milli floor is engine-stable.
      // One shuffle on source; at corpus scale the window runs per
      // source partition with no global sort.
      val w = Window.partitionBy("source")
        .orderBy(col("q_score"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id") +: col("source") +:
          TextAnalysis.qualityScore(col("text")): _*)
        .select(col("doc_id"), col("source"), col("q_score"),
          floor(lit(1000) * percent_rank().over(w)).cast("long").as("pct_milli"))
    },

    "mix_curriculum" -> { (s, dir) =>
      // curriculum mixing: per-quality-tier epoch weights (low-quality
      // quartile seen 0.25x, top quartile 2.5x). Tiers come from exact
      // q_score quartile CUTPOINTS (one aggregate, broadcast by the
      // cross join) — never a global ntile sort, so the plan is fully
      // distributed at corpus scale; replication is the hash-exact
      // mixEpochs machinery
      val docs = t(s, dir, "documents")
      val scored = docs.select(
        col("doc_id") +: TextAnalysis.qualityScore(col("text")): _*)
        .select("doc_id", "q_score")
      val cuts = scored.agg(
        expr("percentile(q_score, 0.25)").as("c25"),
        expr("percentile(q_score, 0.5)").as("c50"),
        expr("percentile(q_score, 0.75)").as("c75"))
      val tiered = scored.crossJoin(cuts)
        .withColumn("tier",
          when(col("q_score") <= col("c25"), "t1")
            .when(col("q_score") <= col("c50"), "t2")
            .when(col("q_score") <= col("c75"), "t3")
            .otherwise("t4"))
        .select("doc_id", "q_score", "tier")
      Sampling.mixEpochs(tiered, col("doc_id").cast("string"), col("tier"),
        Map("t1" -> 0.25, "t2" -> 0.75, "t3" -> 1.5, "t4" -> 2.5),
        defaultWeight = 1.0)
    },

    "text_bpe_fit" -> { (s, dir) =>
      // ORACLE-CHECKED since round 13 via the exported per-iteration
      // state trace (writeOracleAux bpe_fit_states): DuckDB re-derives
      // every merge itself — state 0 proved equal to the corpus
      // dictionary, merge t recomputed as the argmax over state t's
      // pair counts, state t+1 proved equal to the rewrite — see
      // bpeFitSql. One distributed word-count shuffle feeds a
      // driver-side merge loop over the maxVocab-BOUNDED dictionary —
      // the classic BPE split: corpus pass scales out, merge learning is
      // O(vocab·merges) on bounded state. Ties break lexicographically,
      // so the merge table is deterministic (pinned in BpeSpec).
      import s.implicits._
      graft.ops.Bpe.fit(t(s, dir, "documents"), "text", nMerges = 50)
        .merges.zipWithIndex
        .map { case ((a, b), r) => (r.toLong, a, b) }
        .toDF("rank", "left", "right")
    },

    "text_bpe_pieces" -> { (s, dir) =>
      // BPE tokenizer TRAINED on the corpus word dictionary (32 merges,
      // driver-side deterministic learning over a distributed word count),
      // then applied corpus-wide by the codegen'd encode expression. The
      // oracle replays the corpus layer (tokenize, vocab join, ordered
      // concat + md5) in SQL against the exported per-word pieces
      // (writeOracleAux); word-level merge-walk semantics pinned by
      // BpeSpec hand goldens + round-trip property
      val docs = t(s, dir, "documents")
      val model = graft.ops.Bpe.fit(docs, "text", nMerges = 32)
      docs.select(col("doc_id"),
          graft.ops.Bpe.encode(col("text"), model).as("__p"))
        .select(col("doc_id"), size(col("__p")).as("n_pieces"),
          md5(concat_ws(" ", col("__p"))).as("pieces_md5"))
    },

    "incr_agg_refresh" -> { (s, dir) =>
      // incremental materialized-view refresh: per-type count/sum base
      // (event_id % 10 < 8, "last night's rollup") merged with the raw
      // remainder as the delta — only the delta is scanned at refresh
      // time; DECIMAL accumulation makes merged == full recompute exactly
      val ev = events(s, dir)
      val base = ev.filter(col("event_id") % 10 < 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).as("value_sum"))
      val delta = ev.filter(col("event_id") % 10 >= 8)
      graft.ops.Incremental.refreshCountSum(base, delta,
          Seq("event_type"), "n_events", "value_sum", "value")
        .select(col("event_type"), col("n_events"),
          col("value_sum").cast("double").as("value_sum"))
    },

    "quality_classifier" -> { (s, dir) =>
      // FineWeb-style model-based quality filter — weak label from the
      // Gopher gate, TF-IDF + logistic regression, corpus-wide score.
      // The L-BFGS fit is the exported artifact (writeOracleAux refits
      // deterministically and dumps features + coefficients); the oracle
      // replays the SCORING layer in SQL. The checked score is
      // margin_micro (floor of 10⁶ · the ordered sparse dot + intercept)
      // — pure float arithmetic, bit-reproducible cross-engine — not the
      // post-sigmoid milli floor, whose exp() is not correctly rounded
      // in either engine and could flip a floor at a milli boundary.
      // pred ≡ margin ≥ 0 ≡ P ≥ 0.5. Fit semantics pinned in
      // QualityClassifierSpec; the weak-label column itself is
      // text_gopher_rules' own oracle.
      graft.ops.QualityClassifier.trainScore(
          qcLabeled(s, dir), "doc_id", "text", "weak_label")
        .select("doc_id", "margin_micro", "pred")
    }
  )

  /** The weak-labeled corpus the quality classifier trains on — shared
    * by the query and the oracle-aux refit so both see identical
    * inputs. */
  private def qcLabeled(s: SparkSession, dir: String): DataFrame =
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
  private def rawUrlVariants: Column = {
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
  private def retrievalGroundTruth(s: SparkSession, dir: String)
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
  private def psiPriorSnapshot(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 =!= 0)
      .withColumn("n_chars", when(col("doc_id") % 3 === 0,
        col("n_chars") + 200).otherwise(col("n_chars")))

  /** Fixed keyword-bag query batch for the retrieval queries (a query
    * workload is driver-provided in production; literals keep the oracle
    * replayable). Terms drawn from the generator vocabulary. */
  private def retrievalQueries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1L, "spark table scan window"), (2L, "customer order join merge"),
      (3L, "vector data stream batch"), (4L, "slow query filter"))
      .toDF("qid", "qtext")
  }

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

  private def auxCentroids = s"read_parquet('$oracleAuxDir/ivf_centroids/*.parquet')"
  private def auxAssigned = s"read_parquet('$oracleAuxDir/ivf_assigned/*.parquet')"
  private def auxCodebook = s"read_parquet('$oracleAuxDir/pq_codebook/*.parquet')"
  private def auxPcaRotation = s"read_parquet('$oracleAuxDir/pca_rotation/*.parquet')"
  private def auxF12Blocks = s"read_parquet('$oracleAuxDir/f12_blocks/*.parquet')"
  private def auxF12BlocksRatcliff =
    s"read_parquet('$oracleAuxDir/f12_blocks_ratcliff/*.parquet')"

  /** The shared f12 block-trace replay (see the f12_similarity_scale
    * oracle comment): verify each exported block as a positioned common
    * substring, check ordering/non-overlap, recompute sim, threshold. */
  private def f12TraceSql(aux: String, theta: Double): String =
    s"""WITH ord AS (
           SELECT k1, k2, pa, pb, len,
             coalesce(pa >= lag(pa + len) OVER w AND pb >= lag(pb + len) OVER w,
               TRUE) AS ord_ok
           FROM $aux
           WINDOW w AS (PARTITION BY k1, k2 ORDER BY pa)),
         chk AS (
           SELECT o.k1, o.k2, sum(o.len) AS m,
             bool_and(o.ord_ok) AS ord_ok,
             bool_and(substr(least(a.p_name, b.p_name), o.pa + 1, o.len) =
                      substr(greatest(a.p_name, b.p_name), o.pb + 1, o.len))
               AS sub_ok,
             any_value(len(a.p_name)) AS la, any_value(len(b.p_name)) AS lb
           FROM ord o
           JOIN part a ON a.p_partkey = o.k1
           JOIN part b ON b.p_partkey = o.k2
           GROUP BY o.k1, o.k2)
         SELECT k1, k2, 2.0 * m / (la + lb) AS sim
         FROM chk
         WHERE ord_ok AND sub_ok AND 2.0 * m / (la + lb) >= $theta"""
  // ── CPython regex-class strings for oracle replays (r13): RE2 accepts
  // the same spellings the JVM kernels use, so these are shared verbatim
  // with CleanCorpus/TextOps/DoiExtract — engine and oracle cannot drift.
  private val oraPyWs = graft.ops.CleanCorpus.PyWs
  private val oraPyWsB = graft.ops.CleanCorpus.PyWsBody
  private val oraPyNonWordWs =
    "[^" + graft.ops.CleanCorpus.PyWordBody + graft.ops.CleanCorpus.PyWsBody + "]"
  /** Python str.strip() charset as a DuckDB trim() second argument. */
  private val oraPyStripSet = graft.ops.CleanCorpus.PyWsCodepoints
    .map(c => s"chr($c)").mkString("||")

  private def auxCleanTrace = s"read_parquet('$oracleAuxDir/clean_trace/*.parquet')"

  /** The f1_clean_corpus trace replay (see the writeOracleAux comment).
    *
    * Python-strip charset (pyStrip parity): 09-0D, 1C-1F, 20, 85, A0,
    * 1680, 2000-200A, 2028, 2029, 202F, 205F, 3000. Regexes mirror the
    * JVM kernel exactly, which since r13 mirrors CPython's UNICODE \s
    * and \d (CleanCorpus.PyWs — the same explicit class as the strip
    * charset — and \p{Nd}; RE2 supports both spellings).
    * Case-insensitivity: the kernel compiles CASE_INSENSITIVE|UNICODE_CASE
    * and CPython re.IGNORECASE unicode-folds on str — both sides
    * simple-casefold (ſ→s, K→k, ß fixed point), pinned by the casefold
    * goldens in CleanCorpusSpec. '.' semantics: the kernel compiles
    * UNIX_LINES so Java '.' excludes only \n, exactly CPython re and
    * RE2 — interior \r (bare-\r-endings documents) spans '.*' on all
    * three engines.
    */
  private def f1TraceSql: String = {
    val ws = "chr(9)||chr(10)||chr(11)||chr(12)||chr(13)||chr(28)||chr(29)||" +
      "chr(30)||chr(31)||chr(32)||chr(133)||chr(160)||chr(5760)||chr(8192)||" +
      "chr(8193)||chr(8194)||chr(8195)||chr(8196)||chr(8197)||chr(8198)||" +
      "chr(8199)||chr(8200)||chr(8201)||chr(8202)||chr(8232)||chr(8233)||" +
      "chr(8239)||chr(8287)||chr(12288)"
    // json_split_and_clean.py:37-59 — re.search, so the framing .* drop
    val cut = "(This review.*used.*Assessment Aid|" +
      "This review was conducted.*Assessment Aid|" +
      "This review used.*Real-Time Oncology Review|This review used.*RTOR|" +
      "This review was conducted under Project Orbis|" +
      "The application was granted.*priority review|" +
      "The application was granted.*breakthrough|" +
      "The application was granted.*orphan|granted.*priority review|" +
      "granted.*breakthrough designation|granted.*orphan drug designation|" +
      "received.*orphan drug designation|received.*breakthrough designation|" +
      "received.*priority review)"
    // json_split_and_clean.py:64-93 — re.match, so ^-anchored alternation;
    // the \s after "for" is CPython's unicode class (CleanCorpus.PyWs)
    val pws = graft.ops.CleanCorpus.PyWs
    val pnd = graft.ops.CleanCorpus.PyD
    val boiler = "^(Follow the Oncology Center of Excellence|Follow us on X|" +
      "Healthcare professionals should report all serious adverse events|" +
      s"Full prescribing information for$pws|" +
      s"View full prescribing information for$pws|" +
      s"See full prescribing information for$pws|" +
      "For assistance with single-patient INDs for investigational oncology products|" +
      "FDA expedited programs are described in the Guidance|" +
      "A description of FDA expedited programs is in the Guidance|" +
      "For information on the COVID-19 pandemic|" +
      "FDA: Coronavirus Disease 2019 \\(COVID-19\\)|" +
      "CDC: Coronavirus \\(COVID-19\\))"
    // json_split_and_clean.py:123-131 — CPython unicode \d (Nd) and \s
    val dos = s"($pnd+$pws*(kg|mg|g|mcg)|less than.*$pnd|" +
      s"greater than.*$pnd|$pnd+$pws*(or|and)$pws*" +
      s"(greater|less)|orally.*twice.*daily|orally.*once.*daily|mg.*orally)"
    s"""WITH raw AS (
           SELECT d.doc_id, g.i AS li, trim(d.parts[g.i], $ws) AS s
           FROM (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS parts
                 FROM documents) d,
                LATERAL (SELECT unnest(generate_series(1, len(d.parts))) AS i) g),
         flag AS (
           -- sf = the (?i) match input with the Turkish dotted/dotless i
           -- (U+0130/U+0131) pre-folded to 'i': CPython re.IGNORECASE
           -- and the JVM kernel (UNICODE_CASE) both fold that pair into
           -- ASCII i, RE2 does not (measured r14: İ↔i matches on
           -- CPython/Java, not RE2; ſ→s and Kelvin-K→k fold on all
           -- three). The fold touches ONLY the regex inputs — content
           -- rebuild and the exact case-sensitive header compare still
           -- read the raw line.
           SELECT doc_id, li, s,
             s = '' AS blank,
             s <> '' AND regexp_matches(sf, '$cut', 'i') AS cutm,
             s <> '' AND regexp_matches(sf, '$boiler', 'i') AS boiler,
             s IN ('Efficacy and Safety', 'Recommended Dosage',
                   'Expedited Programs') AS hdr,
             s <> '' AND regexp_matches(sf, '$dos', 'i') AS dos,
             s LIKE '%:' AS colon_end
           FROM (SELECT *, translate(s, chr(304) || chr(305), 'ii') AS sf
                 FROM raw)),
         fw AS (
           -- 15-line dosage lookahead + nested ':'-window, recomputed
           -- from the raw lines only (json_split_and_clean.py:149-190)
           SELECT f.doc_id, f.li,
             EXISTS (SELECT 1 FROM flag l
                     WHERE l.doc_id = f.doc_id
                       AND l.li BETWEEN f.li + 1 AND f.li + 15
                       AND NOT l.blank AND l.dos)
             OR EXISTS (SELECT 1 FROM flag l JOIN flag n
                          ON n.doc_id = l.doc_id
                         AND n.li BETWEEN l.li + 1 AND l.li + 15
                        WHERE l.doc_id = f.doc_id
                          AND l.li BETWEEN f.li + 1 AND f.li + 15
                          AND NOT l.blank AND l.colon_end
                          AND NOT n.blank AND n.dos) AS fu
           FROM flag f WHERE f.cutm),
         j AS (
           SELECT f.*, t.decision, coalesce(w.fu, FALSE) AS fu,
             CASE WHEN t.decision IN ('K', 'R', 'B')
                  THEN (CASE WHEN t.decision = 'B' THEN '' ELSE f.s END)
             END AS aval
           FROM flag f
           LEFT JOIN $auxCleanTrace t
             ON t.doc_id = f.doc_id AND t.line_idx = f.li
           LEFT JOIN fw w ON w.doc_id = f.doc_id AND w.li = f.li),
         w2 AS (
           -- 'previous kept line ends with :' refolded from the trace
           SELECT *,
             coalesce(last_value(aval IGNORE NULLS) OVER
               (PARTITION BY doc_id ORDER BY li
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), '')
               LIKE '%:' AS pcolon
           FROM j),
         cidx AS (
           SELECT doc_id, min(CASE WHEN decision = 'C' THEN li END) AS ci
           FROM w2 GROUP BY doc_id),
         ver AS (
           -- every declared decision re-proved from raw-line predicates,
           -- the recomputed lookahead, and the refolded prev-kept state
           SELECT w2.doc_id,
             bool_and(CASE w2.decision
               WHEN 'K' THEN NOT blank AND NOT cutm AND NOT boiler
                 AND NOT hdr AND (c.ci IS NULL OR li < c.ci)
               WHEN 'R' THEN NOT blank AND cutm AND (fu OR pcolon)
                 AND NOT boiler AND NOT hdr AND (c.ci IS NULL OR li < c.ci)
               WHEN 'B' THEN blank AND pcolon AND (c.ci IS NULL OR li < c.ci)
               WHEN 'E' THEN blank AND NOT pcolon AND (c.ci IS NULL OR li < c.ci)
               WHEN 'P' THEN NOT blank AND (NOT cutm OR fu OR pcolon)
                 AND boiler AND (c.ci IS NULL OR li < c.ci)
               WHEN 'H' THEN NOT blank AND (NOT cutm OR fu OR pcolon)
                 AND NOT boiler AND hdr AND (c.ci IS NULL OR li < c.ci)
               WHEN 'C' THEN NOT blank AND cutm AND NOT fu AND NOT pcolon
                 AND li = c.ci
               WHEN 'T' THEN c.ci IS NOT NULL AND li > c.ci
               ELSE FALSE END) AS dec_ok,
             count(*) AS n_raw
           FROM w2 JOIN cidx c USING (doc_id) GROUP BY w2.doc_id),
         tcnt AS (
           SELECT doc_id, count(*) AS n_tr,
             count(DISTINCT line_idx) AS n_trd
           FROM $auxCleanTrace GROUP BY doc_id),
         okdoc AS (
           SELECT v.doc_id FROM ver v JOIN tcnt t USING (doc_id)
           WHERE v.dec_ok AND t.n_tr = v.n_raw AND t.n_trd = v.n_raw),
         body AS (
           SELECT doc_id,
             string_agg(CASE WHEN decision = 'B' THEN '' ELSE s END,
               chr(10) ORDER BY li) AS c
           FROM w2 WHERE decision IN ('K', 'R', 'B') GROUP BY doc_id)
       SELECT d.doc_id,
         trim(
           regexp_replace(
             regexp_replace(
               replace(replace(replace(replace(replace(replace(replace(
                 coalesce(b.c, ''),
                 chr(8211), '-'), chr(8212), '-'), chr(8722), '-'),
                 chr(8216), ''''), chr(8217), ''''),
                 chr(8220), '"'), chr(8221), '"'),
               ' +', ' ', 'g'),
             '\\n{3,}', chr(10) || chr(10), 'g'),
           $ws) AS content
       FROM documents d
       JOIN okdoc USING (doc_id)
       LEFT JOIN body b ON b.doc_id = d.doc_id"""
  }

  private def auxBpeFitStates =
    s"read_parquet('$oracleAuxDir/bpe_fit_states/*.parquet')"

  /** The text_bpe_fit state-trace replay (see the writeOracleAux
    * comment). The merges the oracle emits are its OWN argmax
    * computations over the (fully verified) exported states: state 0 is
    * set-compared against the corpus dictionary (tokenize + count +
    * code-point symbol split all in SQL), each state transition is
    * re-proved with a list_reduce rewrite implementing the left-to-right
    * non-overlapping merge (greedy pairing ≡ reduce, since a merged
    * piece a||b can never equal the left symbol a), and any failed
    * check empties the result → red. Byte-order VARCHAR comparison in
    * the argmax ORDER BY matches Bpe.utf8Compare. */
  private def bpeFitSql(nMerges: Int): String =
    s"""WITH st AS (
           SELECT step, word, syms, string_split(syms, ' ') AS s, c
           FROM $auxBpeFitStates),
         dict AS (
           SELECT w AS word, count(*) AS c FROM (
             SELECT unnest(regexp_split_to_array(text,
               '[ \\t\\x0B\\f\\r\\n]+')) AS w FROM documents)
           WHERE w <> '' GROUP BY w
           ORDER BY c DESC, w LIMIT 100000),
         d0 AS (
           SELECT word, c,
             array_to_string(
               list_append(regexp_split_to_array(word, ''), '</w>'),
               ' ') AS syms0
           FROM dict),
         s0ok AS (
           SELECT NOT EXISTS (
             SELECT 1 FROM d0
             FULL JOIN (SELECT word, syms, c FROM st WHERE step = 0) z
               ON z.word = d0.word
             WHERE z.word IS NULL OR d0.word IS NULL
                OR z.syms <> d0.syms0 OR z.c <> d0.c) AS ok),
         pairs AS (
           SELECT step, s[g.j] AS a, s[g.j + 1] AS b, sum(c) AS n
           FROM st,
             LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS j) g
           GROUP BY step, a, b),
         am AS (
           SELECT step, a, b FROM (
             SELECT step, a, b,
               row_number() OVER (PARTITION BY step
                 ORDER BY n DESC, a, b) AS rn
             FROM pairs) WHERE rn = 1),
         rew AS (
           SELECT t.step, t.word, t.c,
             list_reduce(t.s, (acc, x) ->
               CASE WHEN (acc = m.a OR ends_with(acc, ' ' || m.a))
                         AND x = m.b
                    THEN substr(acc, 1, len(acc) - len(m.a)) || m.a || m.b
                    ELSE acc || ' ' || x END) AS r
           FROM st t JOIN am m USING (step)),
         chain AS (
           SELECT coalesce(bool_and(n.word IS NOT NULL AND n.syms = r.r
                           AND n.c = r.c), TRUE) AS ok
           FROM rew r
           LEFT JOIN st n ON n.step = r.step + 1 AND n.word = r.word
           WHERE r.step < (SELECT max(step) FROM st)),
         -- Bpe.fit stops when no pair remains (exhaustion), exporting S <=
         -- nMerges states; the gate accepts S < nMerges ONLY when the
         -- rewrite of the last exported state is fully merged (every word
         -- a single symbol — symbols never contain spaces, words are split
         -- on \\s+), i.e. exhaustion is PROVEN, not trusted.
         exh AS (
           SELECT (SELECT max(step) + 1 FROM st) = $nMerges
               OR bool_and(strpos(r.r, ' ') = 0) AS ok
           FROM rew r WHERE r.step = (SELECT max(step) FROM st)),
         cnt AS (SELECT step, count(*) AS n FROM st GROUP BY step),
         allok AS (
           SELECT (SELECT ok FROM s0ok)
             AND (SELECT ok FROM chain)
             AND (SELECT ok FROM exh)
             AND (SELECT count(*) BETWEEN 1 AND $nMerges
                    AND min(step) = 0
                    AND max(step) = count(*) - 1 FROM cnt)
             AND (SELECT bool_and(n = (SELECT count(*) FROM dict))
                  FROM cnt) AS ok)
       SELECT CAST(step AS BIGINT) AS "rank", a AS "left", b AS "right"
       FROM am WHERE (SELECT ok FROM allok)"""

  private def auxSimhash = s"read_parquet('$oracleAuxDir/simhash/*.parquet')"
  private def auxGramHashes = s"read_parquet('$oracleAuxDir/gram_hashes/*.parquet')"
  private def auxQcFeatures = s"read_parquet('$oracleAuxDir/qc_features/*.parquet')"
  private def auxQcModel = s"read_parquet('$oracleAuxDir/qc_model/*.parquet')"
  private def auxTfidfBuckets = s"read_parquet('$oracleAuxDir/tfidf_buckets/*.parquet')"
  private def auxTfidfIdf = s"read_parquet('$oracleAuxDir/tfidf_idf/*.parquet')"
  private def auxTfidfTokens = s"read_parquet('$oracleAuxDir/tfidf_tokens/*.parquet')"
  private def auxBpePieces = s"read_parquet('$oracleAuxDir/bpe_word_pieces/*.parquet')"
  private def auxDeflateLen = s"read_parquet('$oracleAuxDir/deflate_len/*.parquet')"

  /** Shared by profile_approx and its merged-sketch twin. */
  private val kmvOracleSql: String = {
    def kmv(expr: String, alias: String, notNull: String) =
      s"""k_$alias AS (
         SELECT DISTINCT CAST(('0x' || substr(md5($expr), 1, 15)) AS UBIGINT) AS h
         FROM documents WHERE $notNull IS NOT NULL ORDER BY h LIMIT 256),
       e_$alias AS (
         SELECT CASE WHEN count(*) < 256 THEN count(*)
           ELSE CAST(floor(255.0 * 1152921504606846976.0 /
             CAST(max(h) AS DOUBLE)) AS BIGINT) END AS adc_$alias
         FROM k_$alias)"""
    s"""WITH ${kmv("CAST(doc_id AS VARCHAR)", "doc_id", "doc_id")},
       ${kmv("source", "source", "source")},
       ${kmv("lang", "lang", "lang")},
       ${kmv("CAST(n_chars AS VARCHAR)", "n_chars", "n_chars")}
       SELECT adc_doc_id, adc_source, adc_lang, adc_n_chars
       FROM e_doc_id, e_source, e_lang, e_n_chars"""
  }

  /** Shared by profile_heavy_hitters and its merged-sketch twin. */
  private val heavyHittersOracleSql: String =
    """WITH occ AS (
         SELECT d.doc_id AS id, u.i - 1 AS pos,
           string_split_regex(trim(d.text), '\s+')[u.i] AS tok
         FROM documents d,
           unnest(range(1, len(string_split_regex(trim(d.text), '\s+')) + 1))
             AS u(i)),
       occ2 AS (SELECT * FROM occ WHERE len(tok) > 0),
       hs AS (SELECT unnest(range(7)) AS i),
       counters AS (
         SELECT hs.i,
           CAST(('0x' || substr(md5(tok), 1 + 4*hs.i, 4)) AS UBIGINT)
             % 20000 AS bucket,
           count(*) AS cnt
         FROM occ2, hs GROUP BY 1, 2),
       cand AS (
         SELECT tok, count(*) AS sn FROM occ2
         WHERE CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || ':' ||
               CAST(pos AS VARCHAR) || ':' || tok), 1, 15)) AS UBIGINT)
             % 10000 < 1000
         GROUP BY tok HAVING count(*) >= 2),
       cb AS (
         SELECT c.tok, hs.i,
           CAST(('0x' || substr(md5(c.tok), 1 + 4*hs.i, 4)) AS UBIGINT)
             % 20000 AS bucket
         FROM cand c CROSS JOIN hs),
       est AS (
         SELECT cb.tok, min(k.cnt) AS est_count
         FROM cb JOIN counters k ON k.i = cb.i AND k.bucket = cb.bucket
         GROUP BY cb.tok)
       SELECT tok, CAST(est_count AS BIGINT) AS est_count FROM est
       ORDER BY est_count DESC, tok ASC LIMIT 20"""

  /** Shared oracle fragment: the nProbe nearest centroids per query
    * (squared-L2 ascending, centroid index as the stable tie-break —
    * list_distance is the monotone sqrt of the UDF's squared distance,
    * so the ordering is identical). */
  private def probedCellsSql(nProbe: Int): String =
    s"""probed AS (
          SELECT qid, cell FROM (
            SELECT q.vec_id AS qid, c.cell,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]), c.centroid), c.cell) AS pr
            FROM embeddings q, $auxCentroids c
            WHERE q.vec_id < 8)
          WHERE pr <= $nProbe)"""

  /** Shared oracle fragment: PQ-encode the corpus against the exported
    * codebook (nearest sub-centroid per subspace, lower code wins ties)
    * and rebuild each reconstruction in subspace order — one flat
    * DOUBLE[] whose left-to-right inner products accumulate in exactly
    * the order the codegen'd pq_adc_dot / pq_recon_norm2 kernels use. */
  private def pqReconSql: String =
    s"""subq AS (
          SELECT e.vec_id, js.j,
            (CAST(e.embedding AS DOUBLE[]))[js.j*8+1 : js.j*8+8] AS sv
          FROM embeddings e, (SELECT unnest(range(8)) AS j) js),
        codes AS (
          SELECT vec_id, j, sub FROM (
            SELECT s.vec_id, s.j, cb.sub,
              row_number() OVER (PARTITION BY s.vec_id, s.j
                ORDER BY list_distance(s.sv, cb.sub), cb.c) AS rn
            FROM subq s JOIN $auxCodebook cb ON cb.j = s.j)
          WHERE rn = 1),
        recon AS (
          SELECT vec_id, flatten(list(sub ORDER BY j)) AS rv
          FROM codes GROUP BY vec_id)"""

  /** Shared oracle fragment: exact-cosine re-rank of a (qid, cid)
    * candidate set to top-k — the DuckDB twin of
    * [[graft.ops.Vectors.exactCosineRefine]]. */
  private def refineSql(k: Int): String =
    s"""SELECT qid, cid, rk FROM (
          SELECT cd.qid, cd.cid,
            row_number() OVER (PARTITION BY cd.qid
              ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, cd.cid) AS rk
          FROM cand cd JOIN embeddings q ON q.vec_id = cd.qid
                       JOIN embeddings e ON e.vec_id = cd.cid)
        WHERE rk <= $k"""

  /** DuckDB rendering of the seed-fixed LSH hyperplane buckets: one CASE
    * per plane summing sign bits, with the plane vectors inlined as
    * literals (they are deterministic under the fixed seed, so both
    * engines compute identical buckets — double arithmetic, same
    * left-to-right accumulation order; parity verified 500/500 at
    * sf0.01 before wiring). */
  private def planeCaseSql(nPlanes: Int, dim: Int, seed: Long): String =
    Vectors.hyperplanes(nPlanes, dim, seed).zipWithIndex.map { case (p, i) =>
      s"CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), " +
        p.mkString("[", ", ", "]") + s") > 0 THEN ${1 << i} ELSE 0 END"
    }.mkString(" + ")

  private lazy val lshPlaneSql: String = planeCaseSql(4, 64, 42L)

  /** The 8 seed-shifted tables of [[Dedup.embeddingNearDups]]'s default
    * LSH path, as a UNION ALL of per-table bucket selects.
    *
    * VALIDITY DOMAIN: this replays the FIXED 8-plane × 8-table
    * construction, which is the engine's output exactly when the
    * occupancy gate is idle — n ≤ targetBucketOccupancy·2^nPlanes =
    * 16,384 embeddings at the defaults. Every driver-shipped SF sits
    * far below it (500 rows at the sf0.01 verify SF, 2,000 at sf0.1).
    * Above the gate the engine grows planes (and tables, holding
    * recall — see the embeddingNearDups scaladoc) from the MEASURED
    * corpus size, which a static SQL string cannot replay; the
    * above-gate behavior is spec-verified instead (DedupSpec: precision
    * vs the exhaustive baseline, twin recall, below-gate invariance). */
  private lazy val embLshBandedSql: String =
    (0 until 8).map { t =>
      s"SELECT vec_id, embedding, $t AS tbl, ${planeCaseSql(8, 64, 42L + t)} AS bkt FROM embeddings"
    }.mkString(" UNION ALL ")

  def oracleSql: Map[String, String] = Map(

    "ann_lsh_bucketed" ->
      s"""WITH b AS (SELECT vec_id, embedding, $lshPlaneSql AS bucket
           FROM embeddings)
         SELECT qid, cid, rk FROM (
           SELECT q.vec_id AS qid, e.vec_id AS cid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                        e.vec_id) AS rk
           FROM b q JOIN b e ON q.bucket = e.bucket AND q.vec_id <> e.vec_id
           WHERE q.vec_id < 8)
         WHERE rk <= 5""",

    "ann_knn_graph" ->
      s"""WITH b AS (SELECT vec_id, embedding, $lshPlaneSql AS bucket
           FROM embeddings)
         SELECT qid, cid, rk FROM (
           SELECT q.vec_id AS qid, e.vec_id AS cid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                        e.vec_id) AS rk
           FROM b q JOIN b e ON q.bucket = e.bucket AND q.vec_id <> e.vec_id)
         WHERE rk <= 3""",

    "ann_recall_eval" ->
      s"""WITH b AS (SELECT vec_id, embedding, $lshPlaneSql AS bucket
           FROM embeddings),
         approx AS (SELECT qid, cid FROM (
           SELECT q.vec_id AS qid, e.vec_id AS cid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                        e.vec_id) AS rk
           FROM b q JOIN b e ON q.bucket = e.bucket AND q.vec_id <> e.vec_id
           WHERE q.vec_id < 8)
         WHERE rk <= 5),
         exact AS (SELECT qid, cid FROM (
           SELECT q.vec_id AS qid, e.vec_id AS cid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                        e.vec_id) AS rk
           FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
           WHERE q.vec_id < 8)
         WHERE rk <= 5)
         SELECT e.qid, CAST(count(a.cid) AS BIGINT) AS n_hits,
           CAST(count(a.cid) AS DOUBLE) / 5 AS recall
         FROM exact e LEFT JOIN approx a ON e.qid = a.qid AND e.cid = a.cid
         GROUP BY e.qid""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    "a1_count_scrape_outcomes" ->
      """SELECT event_type, count(*) AS n_total,
         count(CASE WHEN value > 10 THEN 1 END) AS n_high,
         CAST(floor(100 * count(CASE WHEN value > 10 THEN 1 END) / count(*)) AS BIGINT) AS pct_high
         FROM events GROUP BY event_type""",

    "a2_objects_per_file" ->
      """SELECT source, count(*) AS n_objects,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY source""",

    "a3_pipeline_stats_rollup" ->
      """SELECT source, grouping(source) AS is_total, count(*) AS n_files,
         CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
         FROM documents GROUP BY ROLLUP(source)""",

    "a8_pivot_counts" ->
      """SELECT user_id,
         CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
         CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
         CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
         CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
         CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
         FROM events GROUP BY user_id""",

    "a7_cube_stats" ->
      """SELECT lang, source, grouping(lang) AS g_lang,
         grouping(source) AS g_source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
         FROM documents GROUP BY CUBE(lang, source)""",

    "a9_grouping_sets" ->
      """SELECT lang, source, grouping(lang) AS g_lang,
         grouping(source) AS g_source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
         FROM documents
         GROUP BY GROUPING SETS ((lang), (source), (lang, source))""",

    "profile_schema_drift" ->
      """WITH base AS (SELECT column_name AS col_name, column_type AS base_type
             FROM (DESCRIBE SELECT * FROM documents)),
         evo AS (SELECT * FROM (VALUES ('doc_id','BIGINT'),('text','VARCHAR'),
             ('source','VARCHAR'),('n_chars','INTEGER'),('quality','DOUBLE'))
           AS t(col_name, evo_type))
         SELECT coalesce(base.col_name, evo.col_name) AS col_name,
           coalesce(base_type, '') AS base_type,
           coalesce(evo_type, '') AS evo_type,
           CASE WHEN base_type IS NULL THEN 'added'
                WHEN evo_type IS NULL THEN 'dropped'
                WHEN base_type <> evo_type THEN 'retyped'
                ELSE 'same' END AS status
         FROM base FULL OUTER JOIN evo ON base.col_name = evo.col_name""",

    "profile_winsorize" ->
      """WITH b AS (SELECT source,
           CAST(floor(quantile_cont(n_chars, 0.05)) AS BIGINT) AS lo,
           CAST(ceil(quantile_cont(n_chars, 0.95)) AS BIGINT) AS hi
         FROM documents GROUP BY source)
         SELECT doc_id, d.source,
           greatest(lo, least(hi, n_chars)) AS n_chars_w,
           CAST(n_chars < lo OR n_chars > hi AS INTEGER) AS clipped
         FROM documents d JOIN b ON d.source = b.source""",

    "a4_length_quantiles" ->
      """SELECT source,
         quantile_cont(n_chars, 0.5) AS p50,
         quantile_cont(n_chars, 0.9) AS p90,
         quantile_cont(n_chars, 0.99) AS p99,
         min(n_chars) AS len_min,
         max(n_chars) AS len_max
         FROM documents GROUP BY source""",

    "p1_fingerprint_md5" ->
      """SELECT doc_id, md5(concat_ws('_', source, CAST(doc_id AS VARCHAR))) AS rag_id
         FROM documents""",

    "p2_id_base_coalesce" ->
      """SELECT doc_id,
         COALESCE(NULLIF(TRIM(CASE WHEN doc_id % 5 = 0 THEN ''
           ELSE 'https://ex.org/' || CAST(doc_id AS VARCHAR) END), ''),
           concat_ws('_', source, lang)) AS id_base
         FROM documents""",

    "p4_project_rename_rag" ->
      """SELECT text AS content, source,
         'https://ex.org/' || CAST(doc_id AS VARCHAR) AS url,
         '2026-01-01' AS date, '1.0' AS version,
         'doc_' || CAST(doc_id AS VARCHAR) AS title, lang AS description,
         md5(concat_ws('_', source, CAST(doc_id AS VARCHAR))) AS rag_id
         FROM documents""",

    "p6_default_nonempty" ->
      """SELECT doc_id,
         COALESCE(NULLIF(TRIM(CASE WHEN doc_id % 7 = 0 THEN '  ' ELSE text END), ''),
           'EMPTY_' || CAST(doc_id AS VARCHAR)) AS content
         FROM documents""",

    "p8_filter_valid_rows" ->
      """SELECT doc_id, n_chars FROM documents
         WHERE doc_id IS NOT NULL AND length(text) > 0""",

    "p9_filter_min_length" ->
      """SELECT doc_id, length(text) AS text_len FROM documents
         WHERE length(text) > 200""",

    "p3_url_resolve" ->
      """SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'https://abs.example/' || CAST(doc_id AS VARCHAR)
              WHEN doc_id % 3 = 1 THEN 'https://www.fda.gov' || '/node/' || CAST(doc_id AS VARCHAR)
              ELSE 'https://www.fda.gov' || '/' || 'rel/' || CAST(doc_id AS VARCHAR)
         END AS resolved
         FROM documents""",

    "p10_f14_ingest_timestamp" ->
      """SELECT doc_id, TIMESTAMP '2026-08-12 09:00:00' AS scraped_at,
         strftime(TIMESTAMP '2026-08-12 09:00:00', '%Y-%m-%d %H:%M:%S') AS scraped_at_str
         FROM documents""",

    // r13: the reference strips FIRST (unicode strip) and applies NO
    // outer trim — a trailing ',' leaves a trailing space in the output
    "f11_clean_title_for_search" ->
      s"""SELECT p_partkey,
         regexp_replace(trim(p_name || '; part:' || p_brand || ',',
           $oraPyStripSet), '[;:,]', ' ', 'g') AS clean_title
         FROM part""",

    "p11_source_name_derive" ->
      """SELECT doc_id,
         CASE WHEN contains(lower(source), '1') THEN 'fda_oncology'
         ELSE 'dir_' || regexp_extract(source, 'src(\d+)', 1) END AS derived_source
         FROM documents""",

    "j1_delta_anti_join" ->
      """WITH d AS (SELECT doc_id,
           md5(concat_ws('_', source, CAST(doc_id AS VARCHAR))) AS rag_id
           FROM documents)
         SELECT doc_id, rag_id FROM d
         WHERE rag_id NOT IN (SELECT rag_id FROM d WHERE doc_id % 10 < 3)""",

    "u6_scd2_lookup" ->
      """WITH docs AS (SELECT doc_id, source, n_chars FROM documents),
         hist AS (
           SELECT doc_id, source, n_chars,
             '2026-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
           FROM docs
           UNION ALL
           SELECT doc_id, source, n_chars - 5,
             '2025-01-01', '2026-01-01'
           FROM docs WHERE doc_id % 9 = 0),
         p AS (SELECT doc_id,
             CASE WHEN doc_id % 9 = 0 THEN '2025-06-01'
                  ELSE '2026-06-01' END AS as_of
           FROM docs)
         SELECT p.doc_id, p.as_of, h.source, h.n_chars, h.valid_from
         FROM p JOIN hist h ON p.doc_id = h.doc_id
           AND h.valid_from <= p.as_of
           AND (h.valid_to IS NULL OR p.as_of < h.valid_to)""",

    "u4_scd2_history" ->
      """WITH docs AS (SELECT doc_id, source, n_chars FROM documents),
         hist AS (SELECT doc_id, source, n_chars,
             '2026-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
           FROM docs),
         closed AS (SELECT doc_id, source, n_chars - 5 AS n_chars,
             '2025-01-01' AS valid_from, '2026-01-01' AS valid_to
           FROM docs WHERE doc_id % 9 = 0),
         upd AS (
           SELECT doc_id, source, n_chars + 1 AS n_chars FROM docs WHERE doc_id % 4 = 0
           UNION ALL
           SELECT doc_id, source, n_chars FROM docs WHERE doc_id % 4 = 1
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, 'srcNew' AS source, n_chars
           FROM docs WHERE doc_id % 10 = 0),
         j AS (SELECT COALESCE(h.doc_id, u.doc_id) AS doc_id,
             h.source AS hs, h.n_chars AS hn, h.valid_from AS hvf,
             u.source AS us, u.n_chars AS un,
             h.doc_id IS NOT NULL AS has_h, u.doc_id IS NOT NULL AS has_u,
             (h.source IS NOT DISTINCT FROM u.source
              AND h.n_chars IS NOT DISTINCT FROM u.n_chars) AS same
           FROM hist h FULL OUTER JOIN upd u ON h.doc_id = u.doc_id)
         SELECT doc_id, source, n_chars, valid_from, valid_to FROM closed
         UNION ALL
         SELECT doc_id, hs, hn, hvf, CAST(NULL AS VARCHAR)
         FROM j WHERE has_h AND (NOT has_u OR same)
         UNION ALL
         SELECT doc_id, hs, hn, hvf, '2026-02-01'
         FROM j WHERE has_h AND has_u AND NOT same
         UNION ALL
         SELECT doc_id, us, un, '2026-02-01', CAST(NULL AS VARCHAR)
         FROM j WHERE has_u AND (NOT has_h OR NOT same)""",

    "j1_delta_bloom" ->
      """WITH d AS (SELECT doc_id,
           md5(concat_ws('_', source, CAST(doc_id AS VARCHAR))) AS rag_id
           FROM documents)
         SELECT doc_id, rag_id FROM d
         WHERE rag_id NOT IN (SELECT rag_id FROM d WHERE doc_id % 10 < 3)""",

    "j2_lookup_enrich_join" ->
      """SELECT c_custkey, c_name, n_name, r_name
         FROM customer
         LEFT JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey""",

    "j3_fuzzy_match_lev" ->
      """SELECT a.p_partkey AS k1, b.p_partkey AS k2,
         a.p_name AS name1, b.p_name AS name2,
         levenshtein(a.p_name, b.p_name) AS dist
         FROM part a JOIN part b
         ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
         AND levenshtein(a.p_name, b.p_name) <= 4""",

    "u3_merge_upsert" ->
      """WITH u AS (SELECT doc_id, 'UPDATED ' || text AS text
           FROM documents WHERE doc_id % 4 = 0)
         SELECT doc_id, text FROM u
         UNION ALL
         SELECT m.doc_id, m.text FROM documents m
         WHERE m.doc_id NOT IN (SELECT doc_id FROM u)""",

    "profile_documents" ->
      """SELECT 'doc_id' AS col_name, count(*) AS n_rows,
           count(*) - count(doc_id) AS n_null,
           count(DISTINCT doc_id) AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_str, CAST(max(doc_id) AS VARCHAR) AS max_str
         FROM documents
         UNION ALL
         SELECT 'lang', count(*),
           count(*) - count(lang), count(DISTINCT lang),
           CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR) FROM documents
         UNION ALL
         SELECT 'source', count(*),
           count(*) - count(source), count(DISTINCT source),
           CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR) FROM documents
         UNION ALL
         SELECT 'n_chars', count(*),
           count(*) - count(n_chars), count(DISTINCT n_chars),
           CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM documents""",

    "profile_correlation" ->
      """WITH m AS (SELECT source,
             CAST(n_chars AS HUGEINT) AS x,
             CAST(len(string_split_regex(trim(text), '\s+')) AS HUGEINT) AS y
           FROM documents),
         s AS (SELECT source, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sx2, sum(y * y) AS sy2
           FROM m GROUP BY source)
         SELECT source, CAST(n AS BIGINT) AS n_rows,
           CASE WHEN n >= 2
               AND CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) > 0
               AND CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) > 0
             THEN CAST(floor(1000.0 *
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) /
               sqrt((CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) *
                    (CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))))
               AS BIGINT)
             ELSE NULL END AS corr_milli
         FROM s""",

    "mix_temperature" ->
      """WITH s AS (SELECT source AS stratum,
             CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS n_units
           FROM documents GROUP BY source),
         m AS (SELECT stratum, n_units,
             CAST(floor(1000000.0 * sqrt(CAST(n_units AS DOUBLE))) AS BIGINT)
               AS mm
           FROM s),
         t AS (SELECT CAST(sum(mm) AS BIGINT) AS tot FROM m)
         SELECT stratum, n_units,
           CAST(mm * 1000 // tot AS BIGINT) AS weight_milli
         FROM m, t""",

    "profile_dataset_digest" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(('0x' || substr(md5(concat_ws(chr(1),
               coalesce(CAST(doc_id AS VARCHAR), chr(2)),
               coalesce(text, chr(2)),
               coalesce(lang, chr(2)),
               coalesce(source, chr(2)),
               coalesce(CAST(n_chars AS VARCHAR), chr(2)))), 1, 15))
             AS UBIGINT)) % 1000000000000000000 AS BIGINT) AS digest
         FROM documents""",

    "profile_key_skew" ->
      """WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY event_type),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS top_n FROM
           (SELECT n FROM c ORDER BY n DESC, event_type ASC LIMIT 2)),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(max(n) AS BIGINT) AS max_key_rows FROM c)
         SELECT n_keys, n_rows, max_key_rows,
           CAST(max_key_rows * n_keys * 1000 // n_rows AS BIGINT)
             AS skew_ratio_milli,
           CAST(t.top_n * 1000 // n_rows AS BIGINT) AS top_share_milli
         FROM a, t""",

    "profile_drift" -> {
      // the one-pass profile replayed per snapshot, joined per column
      def prof(table: String) = Seq("doc_id", "lang", "source", "n_chars")
        .map(c => s"""SELECT '$c' AS col_name, count(*) AS rows_x,
             count(*) - count($c) AS null_x, count(DISTINCT $c) AS dist_x,
             CAST(min($c) AS VARCHAR) AS min_x,
             CAST(max($c) AS VARCHAR) AS max_x FROM $table""")
        .mkString(" UNION ALL ")
      s"""WITH cur AS (${prof("documents")}),
         prior_t AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
         prev AS (${prof("prior_t")})
         SELECT c.col_name,
           c.rows_x AS rows_cur, c.null_x AS null_cur, c.dist_x AS dist_cur,
           p.rows_x AS rows_prev, p.null_x AS null_prev, p.dist_x AS dist_prev,
           CAST(c.min_x <> p.min_x OR c.max_x <> p.max_x AS INT)
             AS minmax_changed,
           CAST(abs(c.dist_x * p.rows_x - p.dist_x * c.rows_x) * 100
             > 10 * p.dist_x * c.rows_x AS INT) AS dist_drift,
           CAST(abs(c.null_x * p.rows_x - p.null_x * c.rows_x) * 100
             > 10 * p.null_x * c.rows_x AS INT) AS null_drift
         FROM cur c JOIN prev p USING (col_name)"""
    },

    "profile_histogram" ->
      """WITH b AS (SELECT
           CASE WHEN n_chars < 0 THEN 0
                WHEN n_chars >= 600 THEN 25
                ELSE CAST(1 + (n_chars - 0) * 24 // (600 - 0) AS INT) END AS bin,
           n_chars
           FROM documents WHERE n_chars IS NOT NULL)
         SELECT bin, CAST(count(*) AS BIGINT) AS n,
           min(n_chars) AS v_min, max(n_chars) AS v_max
         FROM b GROUP BY bin""",

    "validate_documents" ->
      """WITH m AS (
           SELECT count(*) AS n_rows,
             sum(CASE WHEN d.text IS NULL THEN 1 ELSE 0 END) AS v_text,
             count(CASE WHEN d.doc_id IS NOT NULL THEN 1 END)
               - count(DISTINCT d.doc_id) AS v_uni,
             sum(CASE WHEN d.n_chars IS NOT NULL
               AND (d.n_chars < 1 OR d.n_chars > 100000) THEN 1 ELSE 0 END) AS v_range,
             sum(CASE WHEN d.n_chars IS NOT NULL
               AND (d.n_chars < 1 OR d.n_chars > 300) THEN 1 ELSE 0 END) AS v_tight,
             sum(CASE WHEN d.lang IS NOT NULL
               AND d.lang NOT IN ('en','de','fr','es','zh') THEN 1 ELSE 0 END) AS v_lang,
             sum(CASE WHEN d.source IS NOT NULL
               AND NOT regexp_matches(d.source, '^src[0-9]+$') THEN 1 ELSE 0 END) AS v_src,
             sum(CASE WHEN NOT COALESCE(d.n_chars = length(d.text), FALSE)
               THEN 1 ELSE 0 END) AS v_len,
             sum(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NULL
               THEN 1 ELSE 0 END) AS v_ref
           FROM documents d
           LEFT JOIN (SELECT DISTINCT vec_id FROM embeddings) e
             ON d.doc_id = e.vec_id)
         SELECT 'text_not_null' AS rule, CAST(v_text AS BIGINT) AS metric,
           CAST(v_text AS BIGINT) AS n_violations,
           CAST(v_text = 0 AS INT) AS pass FROM m
         UNION ALL SELECT 'doc_id_unique', CAST(v_uni AS BIGINT),
           CAST(v_uni AS BIGINT), CAST(v_uni = 0 AS INT) FROM m
         UNION ALL SELECT 'n_chars_range', CAST(v_range AS BIGINT),
           CAST(v_range AS BIGINT), CAST(v_range = 0 AS INT) FROM m
         UNION ALL SELECT 'n_chars_tight', CAST(v_tight AS BIGINT),
           CAST(v_tight AS BIGINT), CAST(v_tight = 0 AS INT) FROM m
         UNION ALL SELECT 'lang_allowed', CAST(v_lang AS BIGINT),
           CAST(v_lang AS BIGINT), CAST(v_lang = 0 AS INT) FROM m
         UNION ALL SELECT 'source_format', CAST(v_src AS BIGINT),
           CAST(v_src AS BIGINT), CAST(v_src = 0 AS INT) FROM m
         UNION ALL SELECT 'n_chars_consistent', CAST(v_len AS BIGINT),
           CAST(v_len AS BIGINT), CAST(v_len = 0 AS INT) FROM m
         UNION ALL SELECT 'doc_has_embedding', CAST(v_ref AS BIGINT),
           CAST(v_ref AS BIGINT), CAST(v_ref = 0 AS INT) FROM m
         UNION ALL SELECT 'row_count_min', CAST(n_rows AS BIGINT),
           CAST(CASE WHEN n_rows >= 100 THEN 0 ELSE 1 END AS BIGINT),
           CAST(n_rows >= 100 AS INT) FROM m""",

    "j6_salted_join" ->
      """SELECT o.o_orderpriority, count(*) AS n_items,
         CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         GROUP BY o.o_orderpriority""",

    "j6_salted_hotkey" ->
      """WITH keyed AS (SELECT event_id, event_type,
           CASE WHEN value < 400 THEN event_type
                ELSE event_type || '#' || CAST(event_id % 997 AS VARCHAR)
           END AS k
           FROM events),
         dim AS (SELECT k, count(*) AS key_n FROM keyed GROUP BY k)
         SELECT keyed.event_type, count(*) AS n_rows,
           CAST(sum(dim.key_n) AS BIGINT) AS key_n_sum
         FROM keyed JOIN dim ON keyed.k = dim.k
         GROUP BY keyed.event_type""",

    "j7_interval_overlap" ->
      """WITH nb AS (SELECT n_nationkey,
           CAST(n_nationkey * 18 AS DOUBLE) AS n_lo,
           CAST(n_nationkey * 18 + 35 AS DOUBLE) AS n_hi FROM nation),
         rb AS (SELECT r_regionkey,
           CAST(r_regionkey * 90 AS DOUBLE) AS r_lo,
           CAST(r_regionkey * 90 + 120 AS DOUBLE) AS r_hi FROM region)
         SELECT nb.n_nationkey, rb.r_regionkey
         FROM nb JOIN rb ON nb.n_lo <= rb.r_hi AND rb.r_lo <= nb.n_hi""",

    "text_quality_filter" ->
      """WITH t AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, source, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, tk -> list_contains(
             ['the','a','of','and','to','in','is','it','on','for'], tk))) AS n_stop
           FROM t),
         q AS (SELECT doc_id, source,
           CAST(floor(100 * (0.7 * (CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
             0.3 * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)))) AS BIGINT) AS q_score
           FROM c),
         m AS (SELECT doc_id, source, q_score,
           quantile_cont(q_score, 0.5) OVER (PARTITION BY source) AS med
           FROM q)
         SELECT doc_id, source, q_score, med FROM m WHERE q_score >= med""",

    "j5_range_join" ->
      """WITH b AS (SELECT n_nationkey AS band_id,
           CAST(n_nationkey * 18 AS DOUBLE) AS lo,
           CAST(n_nationkey * 18 + 35 AS DOUBLE) AS hi
           FROM nation)
         SELECT e.event_id, b.band_id, e.value
         FROM events e JOIN b ON e.value >= b.lo AND e.value <= b.hi""",

    "j4_asof_join" ->
      """WITH e AS (SELECT event_id, user_id,
           make_timestamp(epoch_us(ts)) AS ts, event_type, value FROM events),
         l AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
         r AS (SELECT user_id, ts AS click_ts, max(value) AS click_value
               FROM e WHERE event_type = 'click' GROUP BY user_id, ts)
         SELECT l.event_id, l.user_id, l.ts, r.click_value, r.click_ts
         FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.ts >= r.click_ts""",

    "tpch_q4_shaped" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
           WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY o_orderpriority""",

    "tpch_q5_shaped" ->
      """SELECT n_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n_name""",

    "tpch_q18_shaped" ->
      """WITH big AS (
           SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
           FROM lineitem GROUP BY l_orderkey)
         SELECT c_name, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice, total_qty
         FROM orders
         JOIN big ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE total_qty > 250.0""",

    "tpch_q3_shaped" ->
      """SELECT l_orderkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY l_orderkey""",

    "d1_dedup_by_fingerprint" ->
      """WITH doubled AS (
           SELECT md5(concat_ws('_', source, CAST(doc_id AS VARCHAR))) AS rag_id,
                  doc_id, source FROM documents
           UNION ALL
           SELECT md5(concat_ws('_', source, CAST(doc_id AS VARCHAR))) AS rag_id,
                  doc_id, source FROM documents)
         SELECT rag_id, min(doc_id) AS doc_id, arg_min(source, doc_id) AS source
         FROM doubled GROUP BY rag_id""",

    "d2_content_hash" ->
      """SELECT doc_id, md5(text) AS corpus_hash FROM documents""",

    "o1_sort_lexical" ->
      """SELECT doc_id, source FROM documents
         ORDER BY source, doc_id LIMIT 100""",

    "o2_argmax_mtime" ->
      """SELECT event_id, make_timestamp(epoch_us(ts)) AS ts FROM events
         ORDER BY ts DESC, event_id DESC LIMIT 1""",

    "o4_retmax_limit" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE contains(text, 'spark') ORDER BY doc_id LIMIT 1""",

    "o5_head_n_preview" ->
      """SELECT doc_id, lang, source FROM documents ORDER BY doc_id LIMIT 5""",

    "o6_topk_per_group" ->
      """SELECT event_type, event_id, value, rk FROM (
           SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY value DESC, event_id) AS rk
           FROM events) WHERE rk <= 3""",

    "u1_union_master_update" ->
      """WITH d AS (SELECT doc_id,
           md5(concat_ws('_', source, CAST(doc_id AS VARCHAR))) AS rag_id
           FROM documents)
         SELECT doc_id, rag_id, 0 AS ingest_seq FROM d WHERE doc_id % 10 < 3
         UNION ALL
         SELECT doc_id, rag_id, 1 AS ingest_seq FROM d WHERE doc_id % 10 >= 3""",

    "u7_union_by_name" ->
      """WITH u AS (
           SELECT doc_id, source, lang FROM documents WHERE doc_id % 3 = 0
           UNION ALL BY NAME
           SELECT doc_id, source FROM documents WHERE doc_id % 3 <> 0)
         SELECT source, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE lang IS NULL) AS BIGINT) AS n_no_lang
         FROM u GROUP BY source""",

    "u2_intersect_except" ->
      """SELECT c_custkey, 'both' AS tag FROM (
           SELECT c_custkey FROM customer WHERE c_acctbal > 5000
           INTERSECT
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
         UNION ALL
         SELECT c_custkey, 'rich_only' AS tag FROM (
           SELECT c_custkey FROM customer WHERE c_acctbal > 5000
           EXCEPT
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')""",

    "f2_strip_markdown_images" ->
      """SELECT doc_id,
         regexp_replace('![' || lang || '](' || source || ') ' || text,
           '!\[.*?\]\(.*?\)', '', 'g') AS content
         FROM documents""",

    "f3_strip_marker_wrapper" ->
      """WITH t AS (SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'markdown=''' || text || ''''
                ELSE text END AS x
           FROM documents)
         SELECT doc_id,
           CASE WHEN starts_with(x, 'markdown=''') AND ends_with(x, '''')
                THEN substr(x, 11, length(x) - 11) ELSE x END AS content
         FROM t""",

    "f4_unescape_newlines" ->
      """SELECT doc_id,
         trim(regexp_replace('  ' || replace(text, ' ', '\n') || '  ',
           '\\n', chr(10), 'g')) AS content
         FROM documents""",

    "p5_project_rename_pdf" ->
      ("""WITH t AS (SELECT doc_id, text, lang, source,
           CASE WHEN doc_id % 11 = 0 THEN 'Doe. Study, no year.'
                ELSE 'Doe et al. (' || CAST(1990 + doc_id % 30 AS VARCHAR)
                     || '). ' || lang || '.' END AS citation,
           '![fig](img.png) ' || text || '\n\n\n\nEnd.' AS corpus
           FROM documents)
         SELECT
           trim(regexp_replace(regexp_replace(
               regexp_replace(corpus, '!\[.*?\]\(.*?\)', '', 'g'),
               '\\n', chr(10), 'g'),
             '\n{3,}', chr(10) || chr(10), 'g'),
             """ + oraPyStripSet + """) AS content,
           source,
           'https://doi.org/10.9/' || CAST(doc_id AS VARCHAR) AS url,
           COALESCE(NULLIF(regexp_extract(citation, '\((\p{Nd}{4})\)', 1), ''), '2026') AS date,
           '1.0' AS version,
           'T-' || CAST(doc_id AS VARCHAR) AS title,
           citation
         FROM t"""),

    "p7_drop_intermediate_cols" ->
      """SELECT doc_id, lang, source, n_chars, trim(text) AS "Corpus",
         md5(trim(text)) AS corpus_hash
         FROM documents""",

    "f5_collapse_whitespace" ->
      """SELECT doc_id,
         regexp_replace(regexp_replace(replace(text, ' ', '   '), ' +', ' ', 'g'),
           '\n{3,}', chr(10) || chr(10), 'g') AS content
         FROM documents""",

    "f6_normalize_unicode" ->
      """SELECT doc_id,
         translate(translate(text, 'ae', '–’'), '–—−‘’“”', '---''''""') AS content
         FROM documents""",

    "f7_normalize_for_compare" ->
      s"""SELECT p_partkey,
         regexp_replace(regexp_replace(trim(lower(replace(p_name, ' ', '; ')),
           $oraPyStripSet), '$oraPyNonWordWs', ' ', 'g'),
           '$oraPyWs+', ' ', 'g') AS norm
         FROM part""",

    "f8_normalize_doi" ->
      s"""SELECT p_partkey,
         regexp_replace(lower(trim('https://doi.org/10.' ||
           CAST(1000 + p_partkey % 9000 AS VARCHAR) || '/Abc.' || p_brand,
           $oraPyStripSet)),
           '^(https?://doi\\.org/|doi:$oraPyWs*)', '') AS doi
         FROM part""",

    "f10_extract_year" ->
      s"""SELECT o_orderkey,
         COALESCE(NULLIF(regexp_extract(
           CASE WHEN o_orderkey % 11 = 0 THEN 'No year here.'
           ELSE 'Author et al. (' || CAST(year(o_orderdate) AS VARCHAR) ||
             '). Study of ' || o_orderpriority || '.' END,
           '\\((\\p{Nd}{4})\\)', 1), ''), '2026') AS yr
         FROM orders""",

    "f15_format_authors" ->
      """WITH t AS (SELECT p_partkey,
           CASE WHEN p_partkey % 7 = 0 THEN CAST([] AS VARCHAR[])
           ELSE list_slice(string_split(concat_ws(' ', p_name, p_type, p_brand), ' '),
             1, CAST(1 + p_partkey % 5 AS INT)) END AS a
           FROM part)
         SELECT p_partkey,
         CASE WHEN len(a) = 0 THEN 'Unknown'
              WHEN len(a) = 1 THEN a[1]
              WHEN len(a) <= 3 THEN
                array_to_string(list_slice(a, 1, len(a) - 1), ', ') || ', & ' || a[len(a)]
              ELSE a[1] || ' et al.' END AS authors_fmt
         FROM t""",

    "f16_build_citation" ->
      """WITH t AS (SELECT p_partkey, p_name,
           CASE WHEN p_partkey % 3 = 0 THEN NULL
           ELSE '10.' || CAST(1000 + p_partkey % 9000 AS VARCHAR) || '/x' END AS doi
           FROM part)
         SELECT p_partkey,
         'Doe et al.. (2024). ' || p_name || '. J Eng Data' ||
           CASE WHEN doi IS NOT NULL AND length(TRIM(doi)) > 0
             THEN '. https://doi.org/' || doi ELSE '' END AS citation,
         CASE WHEN doi IS NOT NULL AND length(TRIM(doi)) > 0
           THEN 'https://doi.org/' || doi
           ELSE 'https://pubmed.ncbi.nlm.nih.gov/' || CAST(p_partkey AS VARCHAR)
         END AS link
         FROM t""",

    "f18_record_to_json" ->
      """SELECT doc_id,
         to_json(struct_pack(doc_id := doc_id, lang := lang, source := source)) AS payload
         FROM documents""",

    "f20_parse_json" ->
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events""",

    "f13_html_extract" ->
      """SELECT doc_id,
         CASE WHEN len(t) > 50 THEN t ELSE '' END AS content
         FROM (SELECT doc_id,
           trim(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents)""",

    "f19_parse_pubmed_xml" ->
      """SELECT c_custkey AS key, c_name AS title,
         '10.1000/c' || CAST(c_custkey AS VARCHAR) AS doi,
         'Journal of ' || c_mktsegment AS journal,
         '2024' AS year, c_name || ', Prime' AS authors
         FROM customer WHERE c_custkey < 500""",

    "d3_skip_processed" ->
      """SELECT doc_id, source FROM documents WHERE doc_id % 7 <> 0""",

    "t4_sliding_window" ->
      """SELECT event_id, event_type,
           count(*) OVER w AS n_3h,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_3h
         FROM (SELECT event_id, event_type, value, epoch_us(ts) AS ts_us
               FROM events)
         WINDOW w AS (PARTITION BY event_type ORDER BY ts_us
           RANGE BETWEEN 10800000000 PRECEDING AND CURRENT ROW)""",

    "t3_session_window" ->
      """WITH e AS (SELECT user_id, make_timestamp(epoch_us(ts)) AS ts FROM events),
         d AS (SELECT user_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS brk
           FROM e),
         g AS (SELECT user_id, ts,
           sum(brk) OVER (PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS sid
           FROM d)
         SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
         FROM g GROUP BY user_id, sid""",

    "rag_chunk_documents" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, toks,
           unnest(range(0, greatest(CAST(ceil(len(toks)*1.0/48) AS INT), 1))) AS i
           FROM t)
         SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           array_to_string(list_slice(toks, CAST(i*48+1 AS INT), CAST(i*48+64 AS INT)), ' ') AS chunk_text
         FROM c""",

    "rag_chunk_paragraphs" ->
      """WITH t AS (SELECT doc_id,
           string_split_regex(
             replace(text, ' table ', ' table' || chr(10) || chr(10)),
             '\n{2,}') AS ps0
           FROM documents),
         f AS (SELECT doc_id,
           list_filter(list_transform(ps0, x -> trim(x)), x -> length(x) > 0) AS ps
           FROM t),
         e AS (SELECT doc_id, ps, CAST(unnest(range(1, len(ps) + 1)) AS INT) AS pos FROM f),
         c AS (SELECT doc_id, pos, ps[pos] AS para,
           len(string_split_regex(ps[pos], '\s+')) AS ntok FROM e),
         w AS (SELECT doc_id, pos, para,
           COALESCE(sum(ntok) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           FROM c)
         SELECT doc_id, CAST(floor(off / 64) AS INT) AS chunk_idx,
           string_agg(para, chr(10) || chr(10) ORDER BY pos) AS chunk_text
         FROM w GROUP BY doc_id, CAST(floor(off / 64) AS INT)""",

    "t2_window_hourly" ->
      """SELECT date_trunc('hour', make_timestamp(epoch_us(ts))) AS hour_ts, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM events GROUP BY date_trunc('hour', make_timestamp(epoch_us(ts)))""",

    "profile_missing_hours" ->
      """WITH e AS (SELECT event_type,
             date_trunc('hour', make_timestamp(epoch_us(ts))) AS h FROM events),
         b AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM e GROUP BY event_type),
         spine AS (SELECT event_type,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS missing_hour FROM b),
         d AS (SELECT DISTINCT event_type, h FROM e)
         SELECT s.event_type, s.missing_hour
         FROM spine s LEFT JOIN d ON d.event_type = s.event_type AND d.h = s.missing_hour
         WHERE d.h IS NULL""",

    "t1_stream_hourly" ->
      """SELECT date_trunc('hour', make_timestamp(epoch_us(ts))) AS hour_ts,
         event_type, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM events
         GROUP BY date_trunc('hour', make_timestamp(epoch_us(ts))), event_type""",

    "t5_stream_stream_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
           make_timestamp(epoch_us(ts)) AS ts FROM events)
         SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id, p.ts AS purchase_ts, c.ts AS click_ts
         FROM (SELECT * FROM e WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM e WHERE event_type = 'click') c
           ON p.user_id = c.user_id
           AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts""",

    "dedup_exact_groups" ->
      """WITH doubled AS (
           SELECT * FROM documents
           UNION ALL SELECT * FROM documents WHERE doc_id % 3 = 0)
         SELECT md5(text) AS content_hash, count(*) AS n_dups,
           array_to_string(list_sort(list(doc_id)), ',') AS ids
         FROM doubled GROUP BY md5(text) HAVING count(*) > 1""",

    "dedup_normalized_exact" ->
      s"""WITH aug AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000,
             regexp_replace(upper(text), ' ', '  ', 'g') || ' !!'
           FROM documents WHERE doc_id % 3 = 0),
         n AS (SELECT doc_id,
             TRIM(regexp_replace(regexp_replace(trim(lower(text),
               $oraPyStripSet), '$oraPyNonWordWs', ' ', 'g'),
               '$oraPyWs+', ' ', 'g')) AS norm
           FROM aug)
         SELECT md5(norm) AS norm_hash, count(*) AS n_dups,
           array_to_string(list_sort(list(doc_id)), ',') AS ids
         FROM n GROUP BY md5(norm) HAVING count(*) > 1""",

    "dedup_ngram_jaccard" ->
      """WITH t AS (
           SELECT doc_id, n_chars,
             CASE WHEN len(string_split(text,' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                 i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
             ELSE [] END AS sh,
             CAST(floor(n_chars / 32) AS BIGINT) AS bkt
           FROM documents),
         probe AS (SELECT doc_id AS i, n_chars AS len_i, sh AS sh_i,
           unnest([bkt - 1, bkt, bkt + 1]) AS bkt FROM t)
         SELECT i, j, jac FROM (
           SELECT probe.i, t.doc_id AS j,
             len(list_intersect(probe.sh_i, t.sh)) * 1.0 /
               len(list_distinct(list_concat(probe.sh_i, t.sh))) AS jac
           FROM probe JOIN t ON probe.bkt = t.bkt AND probe.i < t.doc_id
             AND abs(probe.len_i - t.n_chars) <= 20)
         WHERE jac >= 0.5""",

    "dedup_cluster_survivors" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, n_chars,
             CASE WHEN len(string_split(text,' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                 i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
             ELSE [] END AS sh,
             CAST(floor(n_chars / 32) AS BIGINT) AS bkt
           FROM documents),
         probe AS (SELECT doc_id AS i, n_chars AS len_i, sh AS sh_i,
           unnest([bkt - 1, bkt, bkt + 1]) AS bkt FROM t),
         pr AS (SELECT i, j FROM (
           SELECT probe.i, t.doc_id AS j,
             len(list_intersect(probe.sh_i, t.sh)) * 1.0 /
               len(list_distinct(list_concat(probe.sh_i, t.sh))) AS jac
           FROM probe JOIN t ON probe.bkt = t.bkt AND probe.i < t.doc_id
             AND abs(probe.len_i - t.n_chars) <= 20)
           WHERE jac >= 0.5),
         sym AS (SELECT i AS a, j AS b FROM pr UNION SELECT j, i FROM pr),
         cc(node, label) AS (
           SELECT a, a FROM sym
           UNION
           SELECT s.a, cc.label FROM sym s JOIN cc ON s.b = cc.node),
         comp AS (SELECT node, min(label) AS component FROM cc GROUP BY node),
         m AS (SELECT comp.node, comp.component, d.n_chars
           FROM comp JOIN documents d ON comp.node = d.doc_id),
         rk AS (SELECT component, node, n_chars,
             row_number() OVER (PARTITION BY component
               ORDER BY n_chars DESC, node ASC) AS r
           FROM m),
         sz AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members
           FROM m GROUP BY component)
         SELECT sz.component, sz.n_members, rk.node AS survivor_id,
           CAST(rk.n_chars AS BIGINT) AS survivor_n_chars
         FROM sz JOIN rk ON sz.component = rk.component AND rk.r = 1""",

    "dedup_embedding_cosine" ->
      """SELECT a.vec_id AS i, b.vec_id AS j
         FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         WHERE a.vec_id < 64
           AND list_cosine_similarity(a.embedding, b.embedding) >= 0.4""",

    "dedup_cross_corpus" ->
      """WITH t AS (
           SELECT doc_id, n_chars,
             CASE WHEN len(string_split(text,' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                 i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
             ELSE [] END AS sh,
             CAST(floor(n_chars / 32) AS BIGINT) AS bkt
           FROM documents),
         probe AS (SELECT doc_id AS i, n_chars AS len_i, sh AS sh_i,
           unnest([bkt - 1, bkt, bkt + 1]) AS bkt FROM t),
         pairs AS (SELECT i, j, jac FROM (
           SELECT probe.i, t.doc_id AS j,
             len(list_intersect(probe.sh_i, t.sh)) * 1.0 /
               len(list_distinct(list_concat(probe.sh_i, t.sh))) AS jac
           FROM probe JOIN t ON probe.bkt = t.bkt AND probe.i < t.doc_id
             AND abs(probe.len_i - t.n_chars) <= 20)
         WHERE jac >= 0.5)
         SELECT CASE WHEN i % 50 = 0 THEN i ELSE j END AS bench_id,
           CASE WHEN i % 50 = 0 THEN j ELSE i END AS corpus_id, jac
         FROM pairs WHERE (i % 50 = 0) <> (j % 50 = 0)""",

    "mix_token_budget" ->
      """WITH c AS (SELECT doc_id, source, n_chars,
             CAST(sum(n_chars) OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR))
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
           FROM documents)
         SELECT doc_id, source, n_chars, cum_tokens FROM c
         WHERE cum_tokens - n_chars < 20000""",

    "s9_sink_roundtrip" ->
      "SELECT doc_id, source, n_chars FROM documents",

    "s11_csv_roundtrip" ->
      """SELECT doc_id, source, n_chars,
           CASE WHEN doc_id % 5 = 0
             THEN text || ', "quoted"' || chr(10) || 'line2 of doc ' || doc_id
             ELSE text END AS text_rt
         FROM documents""",

    "dedup_minhash_lsh" ->
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN len(string_split(text,' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                 i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
             ELSE [] END AS sh
           FROM documents)
         SELECT i, j, jac FROM (
           SELECT a.doc_id AS i, b.doc_id AS j,
             len(list_intersect(a.sh, b.sh)) * 1.0 /
               len(list_distinct(list_concat(a.sh, b.sh))) AS jac
           FROM t a JOIN t b ON a.doc_id < b.doc_id)
         WHERE jac >= 0.5""",

    // the 64-bit sketch is the exported index artifact (per-row kernel,
    // goldens in SketchesSpec); the oracle replays the QUERY arithmetic —
    // 16-bit chunk banding and the hamming verify — in SQL (`>>` is
    // arithmetic in DuckDB vs Spark's shiftrightunsigned, but the & 65535
    // mask keeps only the shifted-in-window bits, so the chunks agree)
    "dedup_simhash" ->
      s"""WITH sh AS (SELECT doc_id, sh FROM $auxSimhash),
         cand AS (
           SELECT a.doc_id AS i, b.doc_id AS j, a.sh AS sa, b.sh AS sb
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE ((a.sh >> 0) & 65535) = ((b.sh >> 0) & 65535)
              OR ((a.sh >> 16) & 65535) = ((b.sh >> 16) & 65535)
              OR ((a.sh >> 32) & 65535) = ((b.sh >> 32) & 65535)
              OR ((a.sh >> 48) & 65535) = ((b.sh >> 48) & 65535))
         SELECT i, j, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
         FROM cand WHERE bit_count(xor(sa, sb)) <= 6""",

    // winnowing selection replayed over the exported per-position gram
    // hashes: window argmin with ORDER BY h ASC, pos DESC (the kernel's
    // `<=` scan keeps the LATEST index among equal minima), then the
    // consecutive-run dedupe via lag; pos = -1 rows are the short-text
    // sentinel emitted as the single (0, 0, fnv) fingerprint row
    "text_fingerprint" ->
      s"""WITH g AS (SELECT doc_id, pos, h FROM $auxGramHashes WHERE pos >= 0),
         n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
         win AS (SELECT g.doc_id, g.pos AS wi
                 FROM g JOIN n USING (doc_id) WHERE g.pos + 8 <= n.n),
         sel AS (
           SELECT doc_id, wi, pos, h FROM (
             SELECT w.doc_id, w.wi, g.pos, g.h,
               row_number() OVER (PARTITION BY w.doc_id, w.wi
                 ORDER BY g.h ASC, g.pos DESC) AS rn
             FROM win w JOIN g ON g.doc_id = w.doc_id
                              AND g.pos BETWEEN w.wi AND w.wi + 7)
           WHERE rn = 1),
         runs AS (
           SELECT doc_id, wi, pos, h,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY wi) AS prev_pos
           FROM sel)
         SELECT doc_id, CAST(wi AS INTEGER) AS win_start,
           CAST(pos AS INTEGER) AS pos, h AS fp_hash
         FROM runs WHERE prev_pos IS NULL OR prev_pos <> pos
         UNION ALL
         SELECT doc_id, 0 AS win_start, 0 AS pos, h AS fp_hash
         FROM $auxGramHashes WHERE pos = -1""",

    // winnowing-overlap pairs: the same selection replay as
    // text_fingerprint, then distinct per-doc fingerprints, the df cap,
    // and the shared-count pair join
    "dedup_winnow_overlap" ->
      s"""WITH g AS (SELECT doc_id, pos, h FROM $auxGramHashes WHERE pos >= 0),
         n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
         win AS (SELECT g.doc_id, g.pos AS wi
                 FROM g JOIN n USING (doc_id) WHERE g.pos + 8 <= n.n),
         sel AS (
           SELECT doc_id, wi, pos, h FROM (
             SELECT w.doc_id, w.wi, g.pos, g.h,
               row_number() OVER (PARTITION BY w.doc_id, w.wi
                 ORDER BY g.h ASC, g.pos DESC) AS rn
             FROM win w JOIN g ON g.doc_id = w.doc_id
                              AND g.pos BETWEEN w.wi AND w.wi + 7)
           WHERE rn = 1),
         runs AS (
           SELECT doc_id, wi, pos, h,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY wi) AS prev_pos
           FROM sel),
         fp AS (
           SELECT DISTINCT doc_id, h FROM (
             SELECT doc_id, h FROM runs
             WHERE prev_pos IS NULL OR prev_pos <> pos
             UNION ALL
             SELECT doc_id, h FROM $auxGramHashes WHERE pos = -1)),
         keep AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 50),
         fk AS (SELECT fp.doc_id, fp.h FROM fp JOIN keep USING (h))
         SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS n_shared
         FROM fk a JOIN fk b ON a.h = b.h AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 3""",

    // the scoring layer of the quality classifier replayed against the
    // exported refit artifacts: ordered sparse dot (ascending feature
    // index — the BLAS accumulation order, exactly reproduced by
    // list_inner_product over ORDER BY idx lists), sigmoid, milli floor.
    // Docs whose TF-IDF is all-zero never reach the features table and
    // score at the bare intercept via the left join. The margin —
    // list_inner_product over ascending idx, intercept added after —
    // reproduces the BLAS accumulation bit-for-bit (float + is
    // commutative; only reassociation would break it), so the micro
    // floor is exact with NO exp() anywhere in the compare path.
    "quality_classifier" ->
      s"""WITH f AS (SELECT doc_id, idx, v FROM $auxQcFeatures),
         w AS (SELECT idx, w FROM $auxQcModel WHERE idx >= 0),
         b AS (SELECT w FROM $auxQcModel WHERE idx = -1),
         dm AS (
           SELECT f.doc_id,
             list_inner_product(list(f.v ORDER BY f.idx),
                                list(w.w ORDER BY f.idx)) AS dot
           FROM f JOIN w USING (idx) GROUP BY f.doc_id),
         scored AS (
           SELECT d.doc_id,
             CAST(floor(1000000.0 *
               ((SELECT w FROM b) + coalesce(dm.dot, 0.0)))
               AS BIGINT) AS margin_micro
           FROM documents d LEFT JOIN dm ON dm.doc_id = d.doc_id)
         SELECT doc_id, margin_micro, margin_micro >= 0 AS pred FROM scored""",

    // TF-IDF embedding replay against the exported hash mapping + IDF
    // weights. The token stream is the exported RegexTokenizer output
    // (tfidf_tokens) — re-tokenizing with DuckDB lower() + RE2 '\s+'
    // could diverge on locale case mappings or \x0B whitespace, so the
    // token layer is artifact, everything downstream (bucketed TF, IDF
    // scaling, ordered L2 norm, float downcast before the micro floor)
    // is replay. All-zero docs keep their unnormalized zeros (the
    // Normalizer's norm=0 branch).
    "rag_tfidf_embed" ->
      s"""WITH tok AS (
           SELECT doc_id, term FROM $auxTfidfTokens),
         tf AS (
           SELECT tok.doc_id, tb.idx, CAST(count(*) AS DOUBLE) AS tf
           FROM tok JOIN $auxTfidfBuckets tb USING (term)
           GROUP BY tok.doc_id, tb.idx),
         nz AS (
           SELECT tf.doc_id, tf.idx, tf.tf * i.w AS v
           FROM tf JOIN $auxTfidfIdf i USING (idx)
           WHERE tf.tf * i.w != 0),
         nrm AS (
           SELECT doc_id,
             sqrt(list_inner_product(list(v ORDER BY idx),
                                     list(v ORDER BY idx))) AS nrm
           FROM nz GROUP BY doc_id),
         grid AS (
           SELECT d.doc_id, u.idx FROM documents d,
             (SELECT unnest(range(128)) AS idx) u),
         outv AS (
           SELECT g.doc_id, g.idx,
             CASE WHEN nrm.nrm IS NULL OR nrm.nrm = 0
               THEN coalesce(nz.v, 0.0)
               ELSE coalesce(nz.v, 0.0) / nrm.nrm END AS vd
           FROM grid g
           LEFT JOIN nz ON nz.doc_id = g.doc_id AND nz.idx = g.idx
           LEFT JOIN nrm ON nrm.doc_id = g.doc_id)
         SELECT doc_id, CAST(idx AS INTEGER) AS idx,
           CAST(floor(1000000 * CAST(CAST(vd AS FLOAT) AS DOUBLE)) AS BIGINT)
             AS v_micro
         FROM outv""",

    // deflate lengths are artifact (no SQL deflate); byte length, ratio
    // and the zero-guard are replay — 1000·dl and its double conversion
    // are exact below 2^53, so the floored division matches bit-for-bit
    "text_compression" ->
      s"""WITH dl AS (SELECT doc_id, deflate_bytes FROM $auxDeflateLen)
         SELECT d.doc_id,
           CAST(strlen(d.text) AS BIGINT) AS n_bytes,
           dl.deflate_bytes,
           CASE WHEN strlen(d.text) > 0
             THEN CAST(floor(1000.0 * dl.deflate_bytes /
               strlen(d.text)) AS BIGINT)
             ELSE 0 END AS ratio_milli
         FROM documents d JOIN dl USING (doc_id)""",

    // full KMV replay, no aux artifact: per column, the k = 256 smallest
    // distinct 60-bit md5 hashes; estimate = count when below k, else
    // (k−1) · 2⁶⁰ / kth-smallest — 255.0 and 2⁶⁰ are exactly
    // representable doubles and the one division is IEEE-identical, so
    // the floor matches bit-for-bit
    "profile_approx" -> kmvOracleSql,

    // the histogram quantile sketch replayed bin for bin: fixed-width
    // bins, cumulative counts, smallest bin reaching rank
    // ceil(p·n) = (n·pct + 99) div 100, lower bound reported
    "profile_quantiles_hist" ->
      """WITH c AS (SELECT source, n_chars // 100 AS bin,
             CAST(count(*) AS BIGINT) AS cnt
           FROM documents GROUP BY source, bin),
         cum AS (SELECT source, bin,
             sum(cnt) OVER (PARTITION BY source ORDER BY bin) AS cum
           FROM c),
         t AS (SELECT source, sum(cnt) AS n FROM c GROUP BY source),
         rk AS (SELECT t.source, p.prob_pct,
             (t.n * p.prob_pct + 99) // 100 AS rnk
           FROM t, (SELECT unnest([50, 90, 99]) AS prob_pct) p)
         SELECT rk.source, CAST(rk.prob_pct AS INT) AS prob_pct,
           CAST(min(cum.bin) * 100 AS BIGINT) AS q_hist
         FROM rk JOIN cum ON cum.source = rk.source AND cum.cum >= rk.rnk
         GROUP BY rk.source, rk.prob_pct""",

    // the deterministic-sample quantile replayed end to end: md5 row
    // sample membership, per-(source, value) counts, cumulative window,
    // smallest sampled value reaching rank ceil(p·n_sample)
    "profile_approx_quantiles" ->
      """WITH s AS (SELECT source, CAST(n_chars AS BIGINT) AS v
           FROM documents
           WHERE n_chars IS NOT NULL
             AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
               AS UBIGINT) % 10000 < 2500),
         vc AS (SELECT source, v, CAST(count(*) AS BIGINT) AS cnt
           FROM s GROUP BY source, v),
         cum AS (SELECT source, v,
             sum(cnt) OVER (PARTITION BY source ORDER BY v) AS cum
           FROM vc),
         t AS (SELECT source, sum(cnt) AS n FROM vc GROUP BY source),
         rk AS (SELECT t.source, p.prob_pct,
             (t.n * p.prob_pct + 99) // 100 AS rnk
           FROM t, (SELECT unnest([50, 90, 99]) AS prob_pct) p)
         SELECT rk.source, CAST(rk.prob_pct AS INT) AS prob_pct,
           CAST(min(cum.v) AS BIGINT) AS q_sample
         FROM rk JOIN cum ON cum.source = rk.source AND cum.cum >= rk.rnk
         GROUP BY rk.source, rk.prob_pct""",

    // per-group KMV replay: distinct 60-bit md5 hashes, row_number ≤ k
    // per group, then the identical estimate arithmetic (the kmv
    // double constant spelled byte-for-byte like the Spark literal)
    "profile_distinct_per_group" ->
      """WITH h AS (SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               AS UBIGINT) AS h
           FROM events WHERE user_id IS NOT NULL),
         r AS (SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
           FROM h),
         s AS (SELECT event_type, h FROM r WHERE rn <= 16),
         a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             max(h) AS hmax
           FROM s GROUP BY event_type)
         SELECT event_type,
           CAST(CASE WHEN n < 16 THEN n
                ELSE CAST(floor(15.0 * 1.152921504606846976e18 /
                  CAST(hmax AS DOUBLE)) AS BIGINT) END AS BIGINT)
             AS adc_users
         FROM a""",

    "profile_join_estimate" ->
      """WITH a AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS na
           FROM orders GROUP BY o_custkey),
         b AS (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS nb
           FROM customer GROUP BY c_custkey)
         SELECT CAST(sum(na * nb) AS BIGINT) AS est_rows,
           CAST(count(*) AS BIGINT) AS n_shared_keys,
           CAST(max(na * nb) AS BIGINT) AS max_key_product
         FROM a JOIN b ON a.k = b.k""",

    // lead() over the identical (ts, event_id) order; pair counts and
    // per-state milli shares
    "events_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
             make_timestamp(epoch_us(ts)) AS ts FROM events),
         p AS (SELECT event_type AS cur_type,
             lead(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS next_type
           FROM e),
         c AS (SELECT cur_type, next_type, CAST(count(*) AS BIGINT) AS n
           FROM p WHERE next_type IS NOT NULL
           GROUP BY cur_type, next_type),
         t AS (SELECT cur_type, CAST(sum(n) AS BIGINT) AS tot
           FROM c GROUP BY cur_type)
         SELECT c.cur_type, c.next_type, c.n,
           CAST(1000 * c.n // t.tot AS BIGINT) AS p_milli
         FROM c JOIN t ON c.cur_type = t.cur_type""",

    // PSI replay: both histograms, full-outer bin join, Laplace-smoothed
    // p/q through the identical double expression tree (ln is the lone
    // libm call), per-bin micro floor before the integer sum
    "profile_psi" -> psiOracleSql,

    // the merged-shard query is BIT-IDENTICAL to the one-pass sketch
    // (counts sum), so it shares the oracle — the hash match IS the
    // merge==full proof
    "profile_psi_incr" -> psiOracleSql,

    // the STREAMING fold ends at the same sketch table (merge is
    // addition), so it shares the oracle too — hash match proves
    // stream==batch for the drift monitor
    "t10_stream_drift" -> psiOracleSql,

    // the merged-sketch query is BIT-IDENTICAL to the full-corpus one
    // (min-k of a union = min-k over unioned min-k sets), so it shares
    // the oracle — the hash match IS the merge==full proof
    "profile_approx_incr" -> kmvOracleSql,

    // full count-min-sketch replay, no aux artifact: counters = per-row
    // 16-bit md5 slices mod 20000 (w = ceil(2/1e-4), d = 7 =
    // ceil(log2(1/(1-0.99))) — Profile.cmsDims), candidates = the same
    // md5 occurrence sample as the sampler oracles, estimate = min over
    // the 7 counter rows. posexplode positions count ALL split elements
    // (pos assigned before the empty-token filter), mirrored by indexing
    // the full array with u.i - 1.
    "profile_heavy_hitters" -> heavyHittersOracleSql,

    // the merged-sketch query is BIT-IDENTICAL to the full-corpus one
    // (counter addition commutes), so it shares the oracle — the hash
    // match IS the merge==full proof
    "profile_heavy_hitters_incr" -> heavyHittersOracleSql,

    // BPE corpus-encode replay against the exported per-word pieces: the
    // word-level merge walk is the exported kernel artifact (BpeSpec hand
    // goldens pin it); the oracle recomputes the corpus layer — ordered
    // whitespace tokenization (empty tokens dropped, same as the kernel's
    // trim+split+nonEmpty), the vocabulary join, the in-order ' ' concat
    // feeding md5, and the piece-count sum. Docs with no tokens keep
    // n_pieces = 0 and md5('') — the kernel's empty-encode output.
    "text_bpe_pieces" ->
      s"""WITH wp AS (SELECT term, pieces_str, n_pieces FROM $auxBpePieces),
         tok AS (
           SELECT d.doc_id, u.i,
             string_split_regex(d.text, '\\s+')[u.i] AS term
           FROM documents d,
             unnest(range(1, len(string_split_regex(d.text, '\\s+')) + 1))
               AS u(i)
           WHERE len(string_split_regex(d.text, '\\s+')[u.i]) > 0),
         agg AS (
           SELECT tok.doc_id,
             sum(wp.n_pieces) AS np,
             string_agg(wp.pieces_str, ' ' ORDER BY tok.i) AS ps
           FROM tok JOIN wp USING (term) GROUP BY tok.doc_id)
         SELECT d.doc_id,
           CAST(coalesce(a.np, 0) AS INTEGER) AS n_pieces,
           md5(coalesce(a.ps, '')) AS pieces_md5
         FROM documents d LEFT JOIN agg a USING (doc_id)""",

    // a doc sketches iff it has >= 3 space-split tokens (shingleK = 3) —
    // the same tokenization the probe oracle below replays
    "dedup_incremental_index_build" ->
      """SELECT count(*) AS n_indexed FROM documents
         WHERE doc_id % 10 <> 0 AND len(string_split(text, ' ')) >= 3""",

    "dedup_incremental_lsh" ->
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN len(string_split(text,' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                 i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
             ELSE [] END AS sh
           FROM documents)
         SELECT batch_id, corpus_id, jac FROM (
           SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
             len(list_intersect(b.sh, c.sh)) * 1.0 /
               len(list_distinct(list_concat(b.sh, c.sh))) AS jac
           FROM t b JOIN t c ON b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0)
         WHERE jac >= 0.5""",

    "dedup_embedding_lsh" ->
      s"""WITH banded AS ($embLshBandedSql)
         SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
         FROM banded a JOIN banded b
           ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4""",

    "dedup_components" ->
      """WITH RECURSIVE
         e AS (SELECT event_id, user_id FROM events WHERE event_id < 2000),
         edges AS (SELECT event_id AS i,
             lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS j
           FROM e),
         sym AS (SELECT i AS a, j AS b FROM edges WHERE j IS NOT NULL
                 UNION
                 SELECT j, i FROM edges WHERE j IS NOT NULL),
         cc(node, label) AS (
           SELECT a, a FROM sym
           UNION
           SELECT s.a, cc.label FROM sym s JOIN cc ON s.b = cc.node)
         SELECT node, min(label) AS component FROM cc GROUP BY node""",

    // compaction replay: same (bytes desc, name) window, running-total
    // bin arithmetic, per-bin rollup
    "layout_compaction" ->
      """WITH f AS (SELECT source, 'f_' || CAST(doc_id AS VARCHAR) AS file,
             CAST(n_chars AS BIGINT) AS bytes
           FROM documents),
         c AS (SELECT source, file, bytes,
             sum(bytes) OVER (PARTITION BY source
               ORDER BY bytes DESC, file
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM f)
         SELECT source, CAST((cum - bytes) // 4000 AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS bin_bytes
         FROM c GROUP BY source, (cum - bytes) // 4000""",

    "layout_partition_prune" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum
         FROM documents WHERE lang IN ('en', 'zh')
         GROUP BY lang, source""",

    "layout_zorder" -> {
      // identical 8-bit Morton interleave, unrolled as SQL bit ops
      val zexpr = (0 until 8).map(i =>
        s"(((user_id >> $i) & 1) << ${2 * i}) | (((day_off >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""WITH e AS (SELECT event_id, user_id,
           date_diff('day', DATE '2024-01-01',
             CAST(make_timestamp(epoch_us(ts)) AS DATE)) AS day_off
           FROM events),
         k AS (SELECT event_id, user_id, day_off, $zexpr AS zkey FROM e),
         b AS (SELECT user_id, day_off,
             ntile(32) OVER (ORDER BY zkey, event_id) AS file_id FROM k)
         SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
           min(user_id) AS min_user, max(user_id) AS max_user,
           min(day_off) AS min_day, max(day_off) AS max_day
         FROM b GROUP BY file_id"""
    },

    "graph_triangles" ->
      """WITH und AS (
           SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
                  greatest(c.c_nationkey, s.s_nationkey) AS b
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           WHERE c.c_nationkey <> s.s_nationkey),
         deg AS (SELECT node, count(*) AS deg FROM (
             SELECT a AS node FROM und UNION ALL SELECT b FROM und)
           GROUP BY node),
         o AS (SELECT
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
               THEN u.a ELSE u.b END AS src,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
               THEN u.b ELSE u.a END AS dst
           FROM und u JOIN deg da ON u.a = da.node
             JOIN deg db ON u.b = db.node),
         w AS (SELECT o1.src, o1.dst AS x, o2.dst AS y
           FROM o o1 JOIN o o2 ON o1.src = o2.src
           JOIN deg dx ON o1.dst = dx.node JOIN deg dy ON o2.dst = dy.node
           WHERE dx.deg < dy.deg OR (dx.deg = dy.deg AND o1.dst < o2.dst)),
         t AS (SELECT w.src AS n1, w.x AS n2, w.y AS n3
           FROM w JOIN o ON w.x = o.src AND w.y = o.dst),
         pn AS (SELECT node, count(*) AS n_triangles FROM (
             SELECT n1 AS node FROM t UNION ALL SELECT n2 FROM t
             UNION ALL SELECT n3 FROM t) GROUP BY node)
         SELECT CAST(d.node AS BIGINT) AS node, CAST(d.deg AS BIGINT) AS deg,
           CAST(coalesce(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.deg >= 2 THEN CAST(coalesce(pn.n_triangles, 0) * 2000
             // (d.deg * (d.deg - 1)) AS BIGINT) ELSE NULL END
             AS clustering_milli
         FROM deg d LEFT JOIN pn ON d.node = pn.node""",

    "events_json_extract" ->
      """WITH e AS (SELECT event_type,
             CAST(props->>'k' AS BIGINT) AS k FROM events)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(k) AS BIGINT) AS n_with_k,
           CAST(sum(k) AS BIGINT) AS k_sum,
           CAST(min(k) AS BIGINT) AS k_min,
           CAST(max(k) AS BIGINT) AS k_max
         FROM e GROUP BY event_type""",

    // decay replay: epoch-microsecond age, shift-by-k division, same
    // floor/quantize order
    "events_decay_score" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
         r AS (SELECT max(us) AS us_ref FROM e),
         d AS (SELECT user_id,
             least((us_ref - us) // 259200000000, 62) AS k,
             CAST(floor(1000 * value) AS BIGINT) AS v
           FROM e, r)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(v // (CAST(1 AS BIGINT) << CAST(k AS INT))) AS BIGINT)
             AS decay_score_milli
         FROM d GROUP BY user_id""",

    "events_interpolate" ->
      """WITH s AS (SELECT user_id, event_id,
           CASE WHEN event_id % 3 <> 0 THEN value END AS v FROM events),
         b AS (SELECT user_id, event_id, v,
           last_value(v IGNORE NULLS) OVER wp AS pv,
           last_value(CASE WHEN v IS NOT NULL THEN event_id END IGNORE NULLS)
             OVER wp AS pe,
           first_value(v IGNORE NULLS) OVER wn AS nv,
           first_value(CASE WHEN v IS NOT NULL THEN event_id END IGNORE NULLS)
             OVER wn AS ne
           FROM s
           WINDOW wp AS (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT user_id, event_id,
           CASE WHEN v IS NOT NULL
             THEN CAST(floor(1000 * v) AS BIGINT) END AS v_milli,
           CASE WHEN v IS NOT NULL THEN CAST(floor(1000 * v) AS BIGINT)
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                  CAST(floor(1000 * (pv + (nv - pv) *
                    (CAST(event_id - pe AS DOUBLE) / CAST(ne - pe AS DOUBLE))))
                    AS BIGINT)
           END AS interp_milli
         FROM b""",

    "events_forward_fill" ->
      """WITH s AS (SELECT user_id, event_id,
           CASE WHEN event_id % 3 <> 0 THEN value END AS v FROM events)
         SELECT user_id, event_id, v,
           last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
         FROM s""",

    "events_corrupt_audit" ->
      """WITH m AS (SELECT event_type,
             CASE WHEN event_id % 7 = 0
               THEN substring(props, 1, length(props) - 2)
               ELSE props END AS p
           FROM events)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(*) FILTER (WHERE NOT json_valid(p)) AS BIGINT) AS n_corrupt,
           CAST(count(CASE WHEN json_valid(p)
             THEN CAST(p->>'k' AS BIGINT) END) AS BIGINT) AS n_with_k,
           CAST(sum(CASE WHEN json_valid(p)
             THEN CAST(p->>'k' AS BIGINT) END) AS BIGINT) AS k_sum
         FROM m GROUP BY event_type""",

    "event_transitions" ->
      """WITH e AS (SELECT user_id, event_type,
             make_timestamp(epoch_us(ts)) AS ts, event_id FROM events),
         nx AS (SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM e),
         c AS (SELECT from_type, to_type, count(*) AS n FROM nx
           WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
         t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY from_type)
         SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n,
           CAST(c.n * 1000 // t.tot AS BIGINT) AS prob_milli
         FROM c JOIN t USING (from_type)""",

    "graph_pagerank" ->
      """WITH pairs AS (SELECT DISTINCT o.o_custkey * 2 AS a,
             l.l_suppkey * 2 + 1 AS b
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         edges AS (SELECT a AS src, b AS dst FROM pairs
                   UNION SELECT b, a FROM pairs),
         deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
         i1 AS (SELECT e.dst AS node, 150000 + (sum(r.r // g.d) * 85) // 100 AS r
           FROM edges e JOIN r0 r ON r.node = e.src JOIN deg g ON g.src = e.src
           GROUP BY e.dst),
         i2 AS (SELECT e.dst AS node, 150000 + (sum(r.r // g.d) * 85) // 100 AS r
           FROM edges e JOIN i1 r ON r.node = e.src JOIN deg g ON g.src = e.src
           GROUP BY e.dst),
         i3 AS (SELECT e.dst AS node, 150000 + (sum(r.r // g.d) * 85) // 100 AS r
           FROM edges e JOIN i2 r ON r.node = e.src JOIN deg g ON g.src = e.src
           GROUP BY e.dst),
         i4 AS (SELECT e.dst AS node, 150000 + (sum(r.r // g.d) * 85) // 100 AS r
           FROM edges e JOIN i3 r ON r.node = e.src JOIN deg g ON g.src = e.src
           GROUP BY e.dst),
         i5 AS (SELECT e.dst AS node, 150000 + (sum(r.r // g.d) * 85) // 100 AS r
           FROM edges e JOIN i4 r ON r.node = e.src JOIN deg g ON g.src = e.src
           GROUP BY e.dst)
         SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           node // 2 AS entity_id, CAST(r AS BIGINT) AS rank
         FROM i5""",

    "graph_label_prop" -> {
      def round(prev: String) =
        s"""SELECT node, label FROM seeds
           UNION ALL
           SELECT node, label FROM (
             SELECT e.dst AS node, l.label,
               row_number() OVER (PARTITION BY e.dst
                 ORDER BY count(*) DESC, l.label ASC) AS rk
             FROM edges e JOIN $prev l ON l.node = e.src
             GROUP BY e.dst, l.label) v
           WHERE rk = 1 AND node NOT IN (SELECT node FROM seeds)"""
      s"""WITH pairs AS (SELECT DISTINCT o.o_custkey * 2 AS a,
             l.l_suppkey * 2 + 1 AS b
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         edges AS (SELECT a AS src, b AS dst FROM pairs
                   UNION SELECT b, a FROM pairs),
         seeds AS (SELECT s_suppkey * 2 + 1 AS node,
             CAST(s_nationkey AS BIGINT) AS label
           FROM supplier WHERE s_suppkey < 20),
         l1 AS (${round("seeds")}),
         l2 AS (${round("l1")}),
         l3 AS (${round("l2")})
         SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           node // 2 AS entity_id, label
         FROM l3"""
    },

    "graph_ppr" -> {
      val seeds = (0 until 10).map(s => s * 2 + 1).mkString(", ")
      def it(prev: String) =
        s"""SELECT e.dst AS node,
           CASE WHEN e.dst IN ($seeds) THEN 150000 ELSE 0 END
             + (sum(r.r // g.d) * 85) // 100 AS r
           FROM edges e JOIN $prev r ON r.node = e.src
             JOIN deg g ON g.src = e.src
           GROUP BY e.dst"""
      s"""WITH pairs AS (SELECT DISTINCT o.o_custkey * 2 AS a,
             l.l_suppkey * 2 + 1 AS b
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         edges AS (SELECT a AS src, b AS dst FROM pairs
                   UNION SELECT b, a FROM pairs),
         deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         r0 AS (SELECT src AS node,
           CAST(CASE WHEN src IN ($seeds) THEN 1000000 ELSE 0 END AS BIGINT)
             AS r FROM deg),
         i1 AS (${it("r0")}),
         i2 AS (${it("i1")}),
         i3 AS (${it("i2")}),
         i4 AS (${it("i3")}),
         i5 AS (${it("i4")})
         SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           node // 2 AS entity_id, CAST(r AS BIGINT) AS rank
         FROM i5"""
    },

    "j3_fuzzy_match_cross" ->
      """SELECT a.p_partkey AS k1, b.p_partkey AS k2,
           levenshtein(a.p_name, b.p_name) AS dist
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand
          AND a.p_partkey % 2 = 0 AND b.p_partkey % 2 = 1
         WHERE levenshtein(a.p_name, b.p_name) <= 4""",

    "j3_fuzzy_match_scale" ->
      """SELECT a.p_partkey AS k1, b.p_partkey AS k2,
           levenshtein(a.p_name, b.p_name) AS dist
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
         WHERE levenshtein(a.p_name, b.p_name) <= 4""",

    "f9_extract_doi" ->
      ("""WITH s AS (
           SELECT doc_id,
             substr(text || ' see 10.' || CAST(1000 + doc_id % 9000 AS VARCHAR) || '/ref.' || lang ||
               CASE WHEN doc_id % 4 = 0 THEN ' listed in the bibliography' ELSE '' END, 1, 5000) AS st
           FROM documents),
         c AS (
           SELECT doc_id, st,
             regexp_extract_all(st,
               '10\.\p{Nd}{4,}/[^""" + oraPyWsB + """\]\)>",;]+') AS cands
           FROM s),
         f AS (
           SELECT doc_id,
             list_filter(cands, cd ->
               len(regexp_replace(cd, '[.,;:\]\)>]+$', '')) >= 10 AND
               contains(regexp_replace(cd, '[.,;:\]\)>]+$', ''), '/') AND
               NOT (
                 contains(lower(substr(st, greatest(1, strpos(st, cd) - 100), 200)), 'reference') OR
                 contains(lower(substr(st, greatest(1, strpos(st, cd) - 100), 200)), 'cited') OR
                 contains(lower(substr(st, greatest(1, strpos(st, cd) - 100), 200)), 'bibliography'))) AS surv
           FROM c)
         SELECT doc_id,
           CASE WHEN len(surv) > 0 THEN regexp_replace(surv[1], '[.,;:\]\)>]+$', '') END AS doi
         FROM f"""),

    "dedup_semantic" ->
      s"""WITH RECURSIVE emb AS (
           SELECT a.cid, a.cell, CAST(e.embedding AS DOUBLE[]) AS v,
             sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) AS n
           FROM $auxAssigned a JOIN embeddings e ON e.vec_id = a.cid),
         pairs AS (
           SELECT x.cid AS i, y.cid AS j
           FROM emb x JOIN emb y ON x.cell = y.cell AND x.cid < y.cid
           WHERE list_inner_product(x.v, y.v) / (x.n * y.n) >= 0.4),
         edges AS (SELECT i AS a, j AS b FROM pairs UNION ALL SELECT j, i FROM pairs),
         nodes AS (SELECT i AS node FROM pairs UNION SELECT j FROM pairs),
         r(node, m) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT e.a, r.m FROM r JOIN edges e ON e.b = r.node),
         grp AS (SELECT node, min(m) AS g FROM r GROUP BY node),
         cen AS (SELECT cell, centroid,
             sqrt(list_inner_product(centroid, centroid)) AS cn
           FROM $auxCentroids),
         scored AS (
           SELECT grp.node, emb.cell, grp.g,
             CAST(floor(1000 * list_inner_product(emb.v, cen.centroid) / (emb.n * cen.cn)) AS BIGINT)
               AS centroid_cos_milli
           FROM grp JOIN emb ON emb.cid = grp.node
                    JOIN cen ON cen.cell = emb.cell)
         SELECT node AS id, cell, g AS "group", centroid_cos_milli,
           (row_number() OVER (PARTITION BY g ORDER BY centroid_cos_milli, node) = 1) AS keep
         FROM scored""",

    // the exported-artifact replay pattern (as dedup_semantic/ann_*):
    // the trace rows are the PassJoin candidate superset with their
    // difflib block decompositions (writeOracleAux); the oracle verifies
    // every block against the raw strings — a common substring at the
    // claimed positions (substr equality), ordered and non-overlapping
    // on both sides — and recomputes sim = 2·Σlen/(la+lb) itself, so an
    // invalid or inflated trace drops the pair and the hash goes red.
    // The difflib-parity of the decomposition layer is golden-pinned
    // block by block in SimilaritySpec (72 CPython cases + invariants).
    "f12_similarity_scale" -> f12TraceSql(auxF12Blocks, 0.9),
    // same replay at θ = 0.5 over its own exported trace
    "f12_similarity_ratcliff" -> f12TraceSql(auxF12BlocksRatcliff, 0.5),

    // the decision-trace replay for the stateful line cleaner (see
    // f1TraceSql + the writeOracleAux comment): per-line keep/drop/
    // cutoff/rescue decisions ship as data, DuckDB re-proves each one
    // against the raw lines (regex layers + the 15-line dosage lookahead
    // recomputed independently; prev-kept state refolded from the
    // trace's prior decisions — an inductive chain, so one wrong
    // decision anywhere fails its own re-check) and rebuilds content.
    "f1_clean_corpus" -> f1TraceSql,

    // the state-trace replay for BPE merge learning (see bpeFitSql):
    // the oracle's merges are its own per-step pair-count argmaxes over
    // the verified state chain — fully independently derived.
    "text_bpe_fit" -> bpeFitSql(50),

    "embed_pca" -> {
      val comps = (1 to 8).map { c =>
        s"""CAST(floor(1000 * list_inner_product(CAST(embedding AS DOUBLE[]),
               (SELECT loading FROM $auxPcaRotation WHERE comp = $c))) AS BIGINT) AS pc${c}_milli"""
      }.mkString(",\n           ")
      s"""SELECT vec_id,
           $comps
         FROM embeddings"""
    },

    // ── ANN index-replay oracles (aux model artifacts from writeOracleAux):
    // probe routing, cell membership, PQ encode/ADC, and the exact refine
    // are all replayed in DuckDB against the exported centroids/codebook.
    "ann_ivf_topk" ->
      s"""WITH ${probedCellsSql(4)}
         SELECT qid, cid, rk FROM (
           SELECT p.qid, a.cid,
             row_number() OVER (PARTITION BY p.qid
               ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, a.cid) AS rk
           FROM probed p
           JOIN $auxAssigned a ON a.cell = p.cell
           JOIN embeddings q ON q.vec_id = p.qid
           JOIN embeddings e ON e.vec_id = a.cid
           WHERE a.cid <> p.qid)
         WHERE rk <= 5""",

    "ann_incremental_ingest" ->
      s"""WITH merged AS (
           SELECT cid, cell FROM $auxAssigned WHERE cid % 10 <> 0
           UNION ALL
           SELECT b.vec_id AS cid,
             (SELECT c.cell FROM $auxCentroids c
               ORDER BY list_distance(CAST(b.embedding AS DOUBLE[]), c.centroid), c.cell
               LIMIT 1) AS cell
           FROM embeddings b WHERE b.vec_id % 10 = 0),
         ${probedCellsSql(4)}
         SELECT qid, cid, rk FROM (
           SELECT p.qid, a.cid,
             row_number() OVER (PARTITION BY p.qid
               ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, a.cid) AS rk
           FROM probed p
           JOIN merged a ON a.cell = p.cell
           JOIN embeddings q ON q.vec_id = p.qid
           JOIN embeddings e ON e.vec_id = a.cid
           WHERE a.cid <> p.qid)
         WHERE rk <= 5""",

    "ann_pq_topk" ->
      s"""WITH $pqReconSql,
         cand AS (
           SELECT qid, cid FROM (
             SELECT q.vec_id AS qid, r.vec_id AS cid,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_inner_product(CAST(q.embedding AS DOUBLE[]), r.rv) /
                   (sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) *
                    sqrt(list_inner_product(r.rv, r.rv))) DESC, r.vec_id) AS rr
             FROM embeddings q JOIN recon r ON r.vec_id <> q.vec_id
             WHERE q.vec_id < 8)
           WHERE rr <= 50)
         ${refineSql(5)}""",

    "ann_ivfpq_topk" ->
      s"""WITH $pqReconSql,
         ${probedCellsSql(4)},
         cand AS (
           SELECT qid, cid FROM (
             SELECT p.qid, r.vec_id AS cid,
               row_number() OVER (PARTITION BY p.qid ORDER BY
                 list_inner_product(CAST(q.embedding AS DOUBLE[]), r.rv) /
                   (sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) *
                    sqrt(list_inner_product(r.rv, r.rv))) DESC, r.vec_id) AS rr
             FROM probed p
             JOIN $auxAssigned a ON a.cell = p.cell
             JOIN recon r ON r.vec_id = a.cid
             JOIN embeddings q ON q.vec_id = p.qid
             WHERE a.cid <> p.qid)
           WHERE rr <= 20)
         ${refineSql(5)}""",

    "ann_bruteforce_topk" ->
      """SELECT qid, cid, rk FROM (
           SELECT q.vec_id AS qid, e.vec_id AS cid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                        e.vec_id) AS rk
           FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
           WHERE q.vec_id < 8)
         WHERE rk <= 5""",

    "ann_filtered_topk" ->
      """SELECT qid, cid, rk FROM (
           SELECT q.vec_id AS qid, e.vec_id AS cid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                        e.vec_id) AS rk
           FROM embeddings q
           JOIN (SELECT * FROM embeddings WHERE label % 2 = 0) e
             ON q.vec_id <> e.vec_id
           WHERE q.vec_id < 8)
         WHERE rk <= 5""",

    "ann_quantized_topk" ->
      """WITH e AS (SELECT vec_id,
           generate_subscripts(embedding, 1) AS dim,
           unnest(embedding) AS x FROM embeddings),
         sc AS (SELECT dim, CAST(max(abs(x)) AS DOUBLE) / 127.0 AS s
           FROM e GROUP BY dim),
         rec AS (SELECT vec_id,
           list(CASE WHEN s = 0 THEN 0.0
             ELSE floor(CAST(x AS DOUBLE) / s + 0.5) * s END
             ORDER BY e.dim) AS v
           FROM e JOIN sc ON e.dim = sc.dim GROUP BY vec_id)
         SELECT qid, cid, rk FROM (
           SELECT q.vec_id AS qid, c.vec_id AS cid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rk
           FROM rec q JOIN rec c ON q.vec_id <> c.vec_id
           WHERE q.vec_id < 8)
         WHERE rk <= 5""",

    "text_contamination" ->
      """WITH sh AS (SELECT doc_id,
           CASE WHEN len(string_split(text,' ')) >= 3 THEN
             list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
           ELSE [] END AS shs
           FROM documents),
         cs AS (SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id % 50 <> 0),
         bs AS (SELECT doc_id, unnest(shs) AS s FROM sh WHERE doc_id % 50 = 0),
         tot AS (SELECT doc_id, count(*) AS n_shingles FROM bs GROUP BY doc_id),
         hit AS (SELECT doc_id, count(*) AS n_hit FROM bs
                 WHERE s IN (SELECT s FROM cs) GROUP BY doc_id)
         SELECT t.doc_id, t.n_shingles, COALESCE(h.n_hit, 0) AS n_hit,
           COALESCE(h.n_hit, 0) / CAST(t.n_shingles AS DOUBLE) AS contamination
         FROM tot t LEFT JOIN hit h USING (doc_id)""",

    "text_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
         g AS (SELECT doc_id,
             unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram
           FROM toks WHERE len(w) >= 2),
         c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram)
         SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_grams,
           count(*) AS n_distinct,
           CAST(max(cnt) AS BIGINT) AS top_cnt,
           CAST(COALESCE(sum(cnt) FILTER (WHERE cnt > 1), 0) AS BIGINT) AS dup_cnt,
           CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS top_frac,
           CAST(COALESCE(sum(cnt) FILTER (WHERE cnt > 1), 0) AS DOUBLE)
             / CAST(sum(cnt) AS DOUBLE) AS dup_frac
         FROM c GROUP BY doc_id""",

    "corpus_overlap" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT DISTINCT source, unnest(
             CASE WHEN len(w) >= 3 THEN
               list_transform(range(1, len(w) - 1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
             ELSE [] END) AS sh
           FROM w),
         tot AS (SELECT source AS src_a, count(*) AS n_total FROM sh GROUP BY 1),
         shared AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
           FROM sh a JOIN sh b USING (sh)
           WHERE a.source <> b.source GROUP BY 1, 2)
         SELECT src_a, src_b, n_shared, n_total,
           CAST(n_shared AS DOUBLE) / CAST(n_total AS DOUBLE) AS overlap
         FROM shared JOIN tot USING (src_a)""",

    "text_pii_redact" ->
      """WITH inj AS (SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' ||
               CAST(doc_id AS VARCHAR) || '@example.com or 10.0.' ||
               CAST(doc_id % 256 AS VARCHAR) || '.7 ssn 123-45-6789 tel 415-555-0199'
             ELSE text END AS t
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ip,
           CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS INT) AS n_ssn,
           CAST(len(regexp_extract_all(t, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS INT) AS n_phone,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
             '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS redacted
         FROM inj""",

    "privacy_k_anonymity" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) < 5 AS INT) AS at_risk
         FROM documents GROUP BY lang, source""",

    "privacy_l_diversity" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT n_chars // 100) AS BIGINT) AS n_sensitive,
           CAST(count(DISTINCT n_chars // 100) < 3 AS INT) AS at_risk
         FROM documents GROUP BY lang, source""",

    "privacy_suppressed" ->
      """WITH g AS (SELECT lang,
             count(*) OVER (PARTITION BY lang, source) AS ks
           FROM documents)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_kept
         FROM g WHERE ks >= 5 GROUP BY lang""",

    "sample_stratified" ->
      """SELECT doc_id, source FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 10000
           < CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 0
                         WHEN 'src2' THEN 10000 ELSE 2500 END""",

    // reweight replay: counts, total, target CASE, integer weight and
    // clamp arithmetic
    "mix_reweight" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY source),
         tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS N FROM c),
         w AS (SELECT source, n_docs,
             1000 * n_docs // N AS share_milli,
             (CASE WHEN source LIKE 'src1%' THEN 30 ELSE 70 END) * N
               // n_docs AS wraw
           FROM c, tot)
         SELECT source, n_docs, CAST(share_milli AS BIGINT) AS share_milli,
           CAST(least(greatest(wraw, 200), 5000) AS BIGINT) AS weight_milli,
           CAST(wraw <> least(greatest(wraw, 200), 5000) AS INT) AS clamped
         FROM w""",

    "mix_domains" ->
      """WITH b AS (SELECT doc_id, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 10000 AS bucket
           FROM documents),
         n AS (SELECT doc_id, source,
             CASE source
               WHEN 'src0' THEN 2 + CASE WHEN bucket < 5000 THEN 1 ELSE 0 END
               WHEN 'src1' THEN 0 + CASE WHEN bucket < 2500 THEN 1 ELSE 0 END
               ELSE 1 END AS n
           FROM b)
         SELECT doc_id, source, unnest(range(1, n + 1)) AS epoch
         FROM n WHERE n > 0""",

    "sample_per_group" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source, row_number() OVER
             (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
           FROM documents)
         WHERE rk <= 7""",

    "sample_split" ->
      """WITH b AS (SELECT source,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 10000 AS bucket
           FROM documents)
         SELECT source,
           CASE WHEN bucket < 500 THEN 'test'
                WHEN bucket < 1000 THEN 'val'
                ELSE 'train' END AS split,
           count(*) AS n
         FROM b GROUP BY 1, 2""",

    "sample_weighted" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, tk -> list_contains(
             ['the','a','of','and','to','in','is','it','on','for'], tk))) AS n_stop
           FROM t),
         q AS (SELECT doc_id,
           CAST(floor(100 * (0.7 * (CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
             0.3 * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)))) AS BIGINT) AS q_score
           FROM c)
         SELECT doc_id, q_score FROM q
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 10000
           < q_score * 100""",

    "sample_dsir" ->
      """WITH t AS (SELECT doc_id, source,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         f AS (SELECT doc_id, source,
           list_concat(toks, list_transform(range(1, len(toks)),
             i -> toks[i] || ' ' || toks[i+1])) AS feats
           FROM t),
         ex AS (SELECT doc_id, source, unnest(feats) AS tok FROM f),
         exb AS (SELECT doc_id, source, substr(md5(tok), 1, 3) AS bkt FROM ex),
         st AS (SELECT bkt,
             sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
             count(*) AS cr
           FROM exb GROUP BY bkt),
         tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
             CAST(sum(cr) AS BIGINT) AS nr FROM st),
         lr AS (SELECT bkt,
             CAST(floor(1000 * (ln((ct + 1.0) / (nt + 4096.0)) -
               ln((cr + 1.0) / (nr + 4096.0)))) AS BIGINT) AS lr_milli
           FROM st, tot),
         w AS (SELECT doc_id, CAST(sum(lr_milli) AS BIGINT) AS w_milli
           FROM exb JOIN lr USING (bkt) GROUP BY doc_id),
         keyed AS (SELECT doc_id, w_milli,
             w_milli + CAST(floor(1000 * -ln(-ln(
               (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS UBIGINT) % 10000000 + 0.5) / 10000000.0)))
               AS BIGINT) AS key_milli
           FROM w),
         r AS (SELECT doc_id, w_milli, key_milli,
             row_number() OVER (ORDER BY key_milli DESC, doc_id ASC) AS rk
           FROM keyed)
         SELECT doc_id, w_milli, key_milli, rk <= 125 AS kept FROM r""",

    "split_decontaminated" ->
      """WITH t AS (
           SELECT doc_id, n_chars,
             CASE WHEN len(string_split(text,' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                 i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
             ELSE [] END AS sh,
             CAST(floor(n_chars / 32) AS BIGINT) AS bkt
           FROM documents),
         probe AS (SELECT doc_id AS i, n_chars AS len_i, sh AS sh_i,
           unnest([bkt - 1, bkt, bkt + 1]) AS bkt FROM t),
         pairs AS (SELECT i, j FROM (
           SELECT probe.i, t.doc_id AS j,
             len(list_intersect(probe.sh_i, t.sh)) * 1.0 /
               len(list_distinct(list_concat(probe.sh_i, t.sh))) AS jac
           FROM probe JOIN t ON probe.bkt = t.bkt AND probe.i < t.doc_id
             AND abs(probe.len_i - t.n_chars) <= 20)
         WHERE jac >= 0.5),
         s AS (SELECT doc_id, source,
           CASE WHEN bucket < 500 THEN 'test'
                WHEN bucket < 1000 THEN 'val'
                ELSE 'train' END AS split
           FROM (SELECT doc_id, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 10000 AS bucket
             FROM documents)),
         edges AS (SELECT i AS a, j AS b FROM pairs
           UNION ALL SELECT j AS a, i AS b FROM pairs),
         dirty AS (SELECT DISTINCT edges.a FROM edges
           JOIN s ON edges.b = s.doc_id AND s.split IN ('test', 'val'))
         SELECT s.doc_id, s.source,
           CASE WHEN s.split = 'train' AND dirty.a IS NOT NULL
             THEN 'train_contaminated' ELSE s.split END AS split
         FROM s LEFT JOIN dirty ON s.doc_id = dirty.a""",

    "media_pipeline" ->
      """WITH m AS (
           SELECT doc_id,
             'media/doc_' || CAST(doc_id AS VARCHAR) ||
               (['.jpg','.wav','.mp4','.txt','.png'])[(doc_id % 5) + 1] AS path,
             CASE (doc_id % 5) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
               WHEN 2 THEN 'video' WHEN 3 THEN 'other' ELSE 'image' END AS modality,
             CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT) AS h
           FROM documents),
         d AS (
           SELECT path, modality,
             CASE WHEN modality = 'audio' THEN 8000
                  ELSE CAST(64 + h % 1920 AS INT) END AS width,
             CASE WHEN modality = 'audio' THEN 1
                  ELSE CAST(64 + (h // 2048) % 1080 AS INT) END AS height,
             CASE modality WHEN 'image' THEN 'rgb8' WHEN 'audio' THEN 'pcm16'
               WHEN 'video' THEN 'yuv420' ELSE 'bin' END AS format,
             CAST(CASE WHEN modality = 'image' THEN 0
                  WHEN modality = 'audio' THEN 100 + doc_id % 32
                  ELSE 1000 + (h // 8388608) % 60000 END AS BIGINT) AS duration_ms
           FROM m),
         f AS (
           SELECT *, CAST(floor(greatest(1.0, CASE WHEN modality = 'video'
               THEN duration_ms / 5000.0 ELSE 1.0 END)) AS BIGINT) AS nf
           FROM d)
         SELECT path, modality, CAST(u.fi AS BIGINT) AS frame_idx,
           CAST(u.fi * 5000 AS BIGINT) AS frame_ts_ms,
           width, height, format, duration_ms
         FROM f, unnest(range(f.nf)) AS u(fi)""",

    "media_probe" ->
      """SELECT doc_id,
           'media/doc_' || CAST(doc_id AS VARCHAR) ||
             (['.jpg','.wav','.mp4','.txt','.png'])[(doc_id % 5) + 1] AS path,
           CASE (doc_id % 5) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
             WHEN 2 THEN 'video' WHEN 3 THEN 'other' WHEN 4 THEN 'image' END AS modality,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           sha256(text) AS sha
         FROM documents""",

    // frame-dedup replay: video synthesis arithmetic (media_pipeline's h
    // and duration), trim twin, per-frame sigs, df cap, pair join and
    // the two integer overlap measures
    "media_frame_dedup" ->
      """WITH v AS (SELECT doc_id, text,
             'media/doc_' || CAST(doc_id AS VARCHAR) || '.mp4' AS path,
             CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT) AS h
           FROM documents WHERE doc_id % 5 = 2),
         n AS (SELECT doc_id, text, path,
             CAST(floor(greatest(1.0,
               CAST(1000 + (h // 8388608) % 60000 AS BIGINT) / 5000.0))
               AS BIGINT) AS nf
           FROM v),
         allv AS (SELECT text, path, nf FROM n
           UNION ALL
           SELECT text, replace(path, '.mp4', '_trim.mp4'),
             greatest(1, nf - 2)
           FROM n WHERE doc_id % 20 = 2),
         fr AS (SELECT DISTINCT path,
             substr(md5(md5(text) || '_' || CAST(u.fi AS VARCHAR)), 1, 16)
               AS sig
           FROM allv, unnest(range(allv.nf)) AS u(fi)),
         dfc AS (SELECT sig FROM fr GROUP BY sig HAVING count(*) <= 8),
         oc AS (SELECT fr.path, fr.sig FROM fr JOIN dfc USING (sig)),
         sz AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM oc
           GROUP BY path),
         pr AS (SELECT a.path AS path_a, b.path AS path_b,
             CAST(count(*) AS BIGINT) AS shared_frames
           FROM oc a JOIN oc b ON a.sig = b.sig AND a.path < b.path
           GROUP BY a.path, b.path)
         SELECT path_a, path_b, shared_frames,
           CAST(1000 * shared_frames // least(sa.n, sb.n) AS BIGINT)
             AS overlap_milli,
           CAST(1000 * shared_frames // (sa.n + sb.n - shared_frames)
             AS BIGINT) AS jaccard_milli
         FROM pr JOIN sz sa ON pr.path_a = sa.path
           JOIN sz sb ON pr.path_b = sb.path
         WHERE 1000 * shared_frames // least(sa.n, sb.n) >= 800""",

    // length-bucketed batching replay: the power-of-two CASE ladder, the
    // md5 shard + in-bucket order, fixed 8-row batch cut, and the
    // padding-waste arithmetic (exact integers into one double division)
    "curate_length_batches" ->
      """WITH d AS (
           SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS h,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 4 AS BIGINT) AS shard
           FROM documents),
         b AS (
           SELECT *, CAST(CASE
             WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
             WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
             WHEN n_tokens <= 256 THEN 256 WHEN n_tokens <= 512 THEN 512
             WHEN n_tokens <= 1024 THEN 1024 WHEN n_tokens <= 2048 THEN 2048
             WHEN n_tokens <= 4096 THEN 4096 ELSE 8192 END AS INTEGER) AS bucket_cap
           FROM d),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY bucket_cap, shard ORDER BY h) AS rn
           FROM b),
         a AS (
           SELECT bucket_cap, shard,
             CAST(floor((rn - 1) / 8) AS BIGINT) AS batch_no,
             count(*) AS n_docs,
             CAST(sum(least(n_tokens, bucket_cap)) AS BIGINT) AS sum_tokens,
             CAST(max(least(n_tokens, bucket_cap)) AS BIGINT) AS max_tokens
           FROM r GROUP BY 1, 2, 3)
         SELECT bucket_cap, shard, batch_no, n_docs, sum_tokens, max_tokens,
           CAST(floor(1000.0 * (n_docs * bucket_cap - sum_tokens) /
             (n_docs * bucket_cap)) AS BIGINT) AS pad_waste_milli
         FROM a""",

    "pack_sequences" ->
      """WITH d AS (SELECT doc_id, source,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           md5(CAST(doc_id AS VARCHAR)) AS h,
           CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 4 AS BIGINT) AS shard
           FROM documents)
         SELECT doc_id, source, n_tokens, shard,
           CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY h) - n_tokens AS BIGINT) AS start_tok,
           CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY h) - n_tokens) / 2048) AS BIGINT) AS seq_no
         FROM d""",

    "curate_corpus" ->
      """WITH t AS (SELECT doc_id, source, text,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, source, text, len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_uniq,
             len(list_filter(toks, tk -> list_contains(
               ['the','a','of','and','to','in','is','it','on','for'], tk))) AS n_stop
           FROM t),
         q AS (SELECT *, CAST(floor(100 * (0.7 * (CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
             0.3 * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)))) AS BIGINT) AS q_score
           FROM c),
         g AS (SELECT * FROM q WHERE q_score >= 30 AND n_tokens >= 50),
         d AS (SELECT * FROM (SELECT *, row_number() OVER
             (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM g)
           WHERE rn = 1),
         s AS (SELECT source, n_tokens,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 10000 < 500 THEN 'test'
                  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 10000 < 1000 THEN 'val'
                  ELSE 'train' END AS split
           FROM d)
         SELECT source, split, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         FROM s GROUP BY 1, 2""",

    "shuffle_shards" ->
      """SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY h) AS BIGINT) AS pos
         FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 8 AS BIGINT) AS shard
           FROM documents)""",

    "profile_metrics_long" ->
      """WITH wide AS (SELECT doc_id, n_chars,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           CAST(strlen(text) AS BIGINT) AS n_bytes
         FROM documents)
         UNPIVOT wide ON n_chars, n_tokens, n_bytes INTO NAME metric VALUE value""",

    "text_token_stats" ->
      """SELECT doc_id,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_uniq,
         len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_alpha,
         len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS n_bpe
         FROM documents""",

    "dedup_degree_stats" ->
      """WITH t AS (SELECT doc_id AS id,
           CASE WHEN len(string_split(text,' ')) >= 3 THEN
             list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
           ELSE [] END AS sh
           FROM documents),
         b AS (SELECT id, sh, len(sh) AS n FROM t WHERE len(sh) > 0),
         g AS (SELECT id, n, unnest(sh) AS gram FROM b),
         d AS (SELECT gram, count(*) AS gdf FROM g GROUP BY gram),
         r AS (SELECT g.id, g.n, g.gram,
             row_number() OVER (PARTITION BY g.id
               ORDER BY d.gdf ASC, g.gram ASC) AS rk
           FROM g JOIN d USING (gram)),
         p AS (SELECT id, gram FROM r
           WHERE rk <= n - ((1 * n + 2 - 1) // 2) + 1),
         c AS (SELECT DISTINCT a.id AS i, b2.id AS j
           FROM p a JOIN p b2 ON a.gram = b2.gram AND a.id < b2.id),
         v AS (SELECT c.i, c.j,
             CAST(len(list_intersect(bi.sh, bj.sh)) AS BIGINT) AS inter,
             CAST(bi.n + bj.n - len(list_intersect(bi.sh, bj.sh)) AS BIGINT)
               AS uni
           FROM c JOIN b bi ON bi.id = c.i JOIN b bj ON bj.id = c.j),
         pr AS (SELECT i, j, CAST(inter * 1000 // uni AS BIGINT) AS jac_milli
           FROM v WHERE inter * 2 >= 1 * uni),
         sym AS (SELECT i AS doc_id, jac_milli FROM pr
                 UNION ALL SELECT j, jac_milli FROM pr)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_neighbors,
           max(jac_milli) AS max_jac_milli
         FROM sym GROUP BY doc_id""",

    "dedup_source_matrix" ->
      """WITH t AS (SELECT doc_id AS id,
           CASE WHEN len(string_split(text,' ')) >= 3 THEN
             list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
           ELSE [] END AS sh
           FROM documents),
         b AS (SELECT id, sh, len(sh) AS n FROM t WHERE len(sh) > 0),
         g AS (SELECT id, n, unnest(sh) AS gram FROM b),
         d AS (SELECT gram, count(*) AS gdf FROM g GROUP BY gram),
         r AS (SELECT g.id, g.n, g.gram,
             row_number() OVER (PARTITION BY g.id
               ORDER BY d.gdf ASC, g.gram ASC) AS rk
           FROM g JOIN d USING (gram)),
         p AS (SELECT id, gram FROM r
           WHERE rk <= n - ((1 * n + 2 - 1) // 2) + 1),
         c AS (SELECT DISTINCT a.id AS i, b2.id AS j
           FROM p a JOIN p b2 ON a.gram = b2.gram AND a.id < b2.id),
         v AS (SELECT c.i, c.j,
             CAST(len(list_intersect(bi.sh, bj.sh)) AS BIGINT) AS inter,
             CAST(bi.n + bj.n - len(list_intersect(bi.sh, bj.sh)) AS BIGINT)
               AS uni
           FROM c JOIN b bi ON bi.id = c.i JOIN b bj ON bj.id = c.j),
         pr AS (SELECT i, j FROM v WHERE inter * 2 >= 1 * uni)
         SELECT least(di.source, dj.source) AS src_a,
           greatest(di.source, dj.source) AS src_b,
           CAST(count(*) AS BIGINT) AS n_pairs
         FROM pr
         JOIN documents di ON di.doc_id = pr.i
         JOIN documents dj ON dj.doc_id = pr.j
         GROUP BY 1, 2""",

    "dedup_prefix_jaccard" ->
      """WITH t AS (SELECT doc_id AS id,
           CASE WHEN len(string_split(text,' ')) >= 3 THEN
             list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
           ELSE [] END AS sh
           FROM documents),
         b AS (SELECT id, sh, len(sh) AS n FROM t WHERE len(sh) > 0),
         g AS (SELECT id, n, unnest(sh) AS gram FROM b),
         d AS (SELECT gram, count(*) AS gdf FROM g GROUP BY gram),
         r AS (SELECT g.id, g.n, g.gram,
             row_number() OVER (PARTITION BY g.id
               ORDER BY d.gdf ASC, g.gram ASC) AS rk
           FROM g JOIN d USING (gram)),
         p AS (SELECT id, gram FROM r
           WHERE rk <= n - ((1 * n + 2 - 1) // 2) + 1),
         c AS (SELECT DISTINCT a.id AS i, b2.id AS j
           FROM p a JOIN p b2 ON a.gram = b2.gram AND a.id < b2.id),
         v AS (SELECT c.i, c.j,
             CAST(len(list_intersect(bi.sh, bj.sh)) AS BIGINT) AS inter,
             CAST(bi.n + bj.n - len(list_intersect(bi.sh, bj.sh)) AS BIGINT)
               AS uni
           FROM c JOIN b bi ON bi.id = c.i JOIN b bj ON bj.id = c.j)
         SELECT i, j, CAST(inter * 1000 // uni AS BIGINT) AS jac_milli
         FROM v WHERE inter * 2 >= 1 * uni""",

    "dedup_containment" ->
      """WITH t AS (SELECT doc_id,
           CASE WHEN len(string_split(text,' ')) >= 3 THEN
             list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))
           ELSE [] END AS sh
           FROM documents),
         gr AS (SELECT doc_id AS id, unnest(sh) AS gram FROM t),
         d AS (SELECT gram, count(*) AS df FROM gr GROUP BY gram),
         r AS (SELECT gr.id, gr.gram FROM gr JOIN d USING (gram)
               WHERE d.df <= 50),
         s AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM r GROUP BY id),
         p AS (SELECT a.id AS i, b.id AS j, CAST(count(*) AS BIGINT) AS n_shared
               FROM r a JOIN r b ON a.gram = b.gram AND a.id < b.id
               GROUP BY a.id, b.id)
         SELECT i, j, si.sz AS sz_i, sj.sz AS sz_j, n_shared,
           CAST(n_shared * 1000 // least(si.sz, sj.sz) AS BIGINT)
             AS containment_milli
         FROM p JOIN s si ON si.id = p.i JOIN s sj ON sj.id = p.j
         WHERE n_shared * 1000 // least(si.sz, sj.sz) >= 800""",

    "text_lang_mix" ->
      """WITH seg AS (SELECT doc_id, s AS seg FROM (
             SELECT doc_id, unnest(string_split_regex(text, '[.!?]+')) AS s
             FROM documents)
           WHERE len(trim(s)) > 0),
         t AS (SELECT doc_id, string_split_regex(trim(seg), '\s+') AS toks
           FROM seg),
         sc AS (SELECT doc_id,
           len(list_filter(toks, tk -> list_contains(['the','and','is','of'], tk))) AS s_en,
           len(list_filter(toks, tk -> list_contains(['der','und','ist','das'], tk))) AS s_de,
           len(list_filter(toks, tk -> list_contains(['el','los','es','de'], tk))) AS s_es,
           len(list_filter(toks, tk -> list_contains(['le','les','est','et'], tk))) AS s_fr,
           len(list_filter(toks, tk -> list_contains(['的','是','在','了'], tk))) AS s_zh
           FROM t),
         lb AS (SELECT doc_id,
           CASE WHEN best = 0 THEN 'und'
                WHEN s_en = best THEN 'en'
                WHEN s_de = best THEN 'de'
                WHEN s_es = best THEN 'es'
                WHEN s_fr = best THEN 'fr'
                ELSE 'zh' END AS seg_lang
           FROM (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS best
                 FROM sc)),
         c AS (SELECT doc_id, seg_lang, CAST(count(*) AS BIGINT) AS n
           FROM lb GROUP BY doc_id, seg_lang),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY n DESC, seg_lang ASC) AS rk FROM c)
         SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_segments,
           CAST(count(*) AS BIGINT) AS n_langs,
           max(CASE WHEN rk = 1 THEN seg_lang END) AS lang_dominant,
           CAST(max(CASE WHEN rk = 1 THEN n END) * 1000 // sum(n) AS BIGINT)
             AS dominant_milli
         FROM r GROUP BY doc_id""",

    "text_readability" ->
      """WITH m AS (SELECT doc_id,
           greatest(1, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT))
             AS n_words,
           greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
             AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
             AS n_syllables
           FROM documents)
         SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST(floor(1000.0 * (206.835
             - 1.015 * CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)
             - 84.6 * CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
           AS BIGINT) AS flesch_milli
         FROM m""",

    "text_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
           FROM documents),
         c AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS cnt
           FROM ch WHERE len(ch) > 0 GROUP BY doc_id, ch),
         s AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars_tot,
             sum(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE)) ORDER BY ch)
               AS sacc
           FROM c GROUP BY doc_id)
         SELECT doc_id, n_chars_tot,
           CAST(floor(1000 * (ln(CAST(n_chars_tot AS DOUBLE)) -
             sacc / CAST(n_chars_tot AS DOUBLE))) AS BIGINT) AS entropy_milli
         FROM s""",

    "text_vocab_topk" ->
      """WITH tok AS (SELECT doc_id,
           unnest(string_split_regex(trim(text), '\s+')) AS token
           FROM documents)
         SELECT token, CAST(count(*) AS BIGINT) AS term_cnt,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
         FROM tok WHERE len(token) > 0
         GROUP BY token
         ORDER BY term_cnt DESC, token ASC LIMIT 500""",

    "text_vocab_coverage" ->
      """WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
           FROM documents),
         c AS (SELECT token, CAST(count(*) AS BIGINT) AS term_cnt
           FROM tok WHERE len(token) > 0 GROUP BY token),
         top AS (SELECT token, term_cnt FROM c
           ORDER BY term_cnt DESC, token ASC LIMIT 200)
         SELECT CAST(row_number() OVER
             (ORDER BY term_cnt DESC, token ASC) AS BIGINT) AS rank,
           token, term_cnt,
           CAST(floor(1000 * CAST(sum(term_cnt) OVER
               (ORDER BY term_cnt DESC, token ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
             (SELECT CAST(sum(term_cnt) AS DOUBLE) FROM c)) AS BIGINT)
             AS cum_cov_milli
         FROM top""",

    "text_bigram_pmi" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
         bi AS (SELECT w[idx] AS w1, w[idx + 1] AS w2
           FROM (SELECT w, unnest(range(1, len(w))) AS idx FROM t)),
         uc AS (SELECT unnest(w) AS tk FROM t),
         u AS (SELECT tk, CAST(count(*) AS BIGINT) AS c FROM uc GROUP BY tk),
         bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
           FROM bi GROUP BY w1, w2),
         tot AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM u) AS n_uni,
           (SELECT CAST(sum(c_xy) AS BIGINT) FROM bc) AS n_bi)
         SELECT w1, w2, c_xy, u1.c AS c_x, u2.c AS c_y,
           CAST(floor(1000 * (ln(CAST(c_xy AS DOUBLE)) -
             ln(CAST(u1.c AS DOUBLE)) - ln(CAST(u2.c AS DOUBLE)) +
             2 * ln(CAST(n_uni AS DOUBLE)) - ln(CAST(n_bi AS DOUBLE))))
             AS BIGINT) AS pmi_milli
         FROM bc JOIN u u1 ON bc.w1 = u1.tk JOIN u u2 ON bc.w2 = u2.tk, tot
         ORDER BY c_xy DESC, w1 ASC, w2 ASC LIMIT 200""",

    "text_lm_score" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
         occ AS (SELECT doc_id, w[idx] AS w1, w[idx + 1] AS w2
           FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS idx FROM t)),
         u AS (SELECT tk, CAST(count(*) AS BIGINT) AS c1
           FROM (SELECT unnest(w) AS tk FROM t) GROUP BY tk),
         bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
           FROM occ GROUP BY w1, w2),
         v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM u),
         st AS (SELECT w1, w2, c12, c1, v FROM bc JOIN u ON bc.w1 = u.tk, v)
         SELECT occ.doc_id, count(*) AS n_bigrams,
           CAST(sum(CAST(floor(1000 * (ln(CAST(2 * c12 + 1 AS DOUBLE)) -
             ln(CAST(2 * c1 + v AS DOUBLE)))) AS BIGINT)) AS BIGINT)
             AS lp_milli_sum
         FROM occ JOIN st ON occ.w1 = st.w1 AND occ.w2 = st.w2
         GROUP BY occ.doc_id""",

    "embed_quantize_int8" ->
      """WITH e AS (SELECT vec_id,
           generate_subscripts(embedding, 1) - 1 AS dim,
           unnest(embedding) AS x FROM embeddings),
         sc AS (SELECT dim, CAST(max(abs(x)) AS DOUBLE) / 127.0 AS s
           FROM e GROUP BY dim)
         SELECT vec_id, e.dim,
           CAST(CASE WHEN s = 0 THEN 0
             ELSE floor(CAST(x AS DOUBLE) / s + 0.5) END AS BIGINT) AS q,
           CAST(floor(1000 * abs(CAST(x AS DOUBLE) -
             (CASE WHEN s = 0 THEN 0
              ELSE floor(CAST(x AS DOUBLE) / s + 0.5) END) * s))
             AS BIGINT) AS resid_milli
         FROM e JOIN sc ON e.dim = sc.dim""",

    "a6_robust_zscore" ->
      """WITH m AS (SELECT source, quantile_cont(n_chars, 0.5) AS med
           FROM documents GROUP BY source),
         d AS (SELECT doc_id, d.source, n_chars, med
           FROM documents d JOIN m ON d.source = m.source),
         a AS (SELECT source, quantile_cont(abs(n_chars - med), 0.5) AS mad
           FROM d GROUP BY source)
         SELECT doc_id, d.source, n_chars,
           CASE WHEN mad > 0 THEN
             CAST(floor(1000 * 0.6745 * (n_chars - med) / mad) AS BIGINT)
           END AS rz_milli
         FROM d JOIN a ON d.source = a.source""",

    "a5_zscore_per_source" ->
      """WITH st AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS s,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
           FROM documents GROUP BY source)
         SELECT doc_id, d.source, n_chars,
           CASE WHEN n >= 2 AND
               (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
                 CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) > 0
             THEN CAST(floor(1000 * ((CAST(n_chars AS DOUBLE) -
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) /
               sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) *
                 CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) /
                 (CAST(n AS DOUBLE) - 1)))) AS BIGINT)
           END AS z_milli
         FROM documents d JOIN st ON d.source = st.source""",

    "u5_keep_best" ->
      """WITH d AS (SELECT doc_id, md5(text) AS content_hash, n_chars
           FROM documents),
         r AS (SELECT doc_id, content_hash, n_chars,
             row_number() OVER (PARTITION BY content_hash
               ORDER BY n_chars DESC, doc_id ASC) AS rn
           FROM d)
         SELECT doc_id, content_hash, n_chars FROM r WHERE rn = 1""",

    "text_quality_score" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, tk -> list_contains(
             ['the','a','of','and','to','in','is','it','on','for'], tk))) AS n_stop
           FROM t)
         SELECT doc_id, n_tokens, n_uniq, n_stop,
           CAST(floor(100 * (0.7 * (CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
             0.3 * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)))) AS BIGINT) AS q_score
         FROM c""",

    "text_lang_id" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         sc AS (SELECT doc_id,
           len(list_filter(toks, tk -> list_contains(['the','and','is','of'], tk))) AS s_en,
           len(list_filter(toks, tk -> list_contains(['der','und','ist','das'], tk))) AS s_de,
           len(list_filter(toks, tk -> list_contains(['el','los','es','de'], tk))) AS s_es,
           len(list_filter(toks, tk -> list_contains(['le','les','est','et'], tk))) AS s_fr,
           len(list_filter(toks, tk -> list_contains(['的','是','在','了'], tk))) AS s_zh
           FROM t),
         b AS (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS best FROM sc)
         SELECT doc_id,
           CASE WHEN best = 0 THEN 'und'
                WHEN s_en = best THEN 'en'
                WHEN s_de = best THEN 'de'
                WHEN s_es = best THEN 'es'
                WHEN s_fr = best THEN 'fr'
                ELSE 'zh' END AS lang_pred
         FROM b""",

    "t6_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events""",

    "dedup_span_coverage" ->
      """WITH tk AS (SELECT doc_id,
           string_split_regex(trim(text), '\s+') AS w,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS dl
           FROM documents),
         g AS (SELECT doc_id, dl, CAST(i AS BIGINT) AS pos,
             md5(array_to_string(w[i:i+19], ' ')) AS gram
           FROM (SELECT doc_id, dl, w,
               CAST(unnest(range(1, CAST(dl AS INT) - 18)) AS INT) AS i
             FROM tk WHERE dl >= 20)),
         d AS (SELECT doc_id, pos FROM (
             SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS c
             FROM g) WHERE c > 1),
         i1 AS (SELECT doc_id, pos,
             max(pos + 19) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           FROM d),
         i2 AS (SELECT doc_id, pos,
             sum(CASE WHEN pm IS NULL OR pos > pm THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
           FROM i1),
         isl AS (SELECT doc_id, isl,
             max(pos) + 19 - min(pos) + 1 AS len
           FROM i2 GROUP BY doc_id, isl),
         cov AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS covered
           FROM isl GROUP BY doc_id)
         SELECT tk.doc_id, dl,
           CAST(coalesce(covered, 0) AS BIGINT) AS covered,
           CAST(floor(1000 * CAST(coalesce(covered, 0) AS DOUBLE) /
             CAST(dl AS DOUBLE)) AS BIGINT) AS dup_frac_milli
         FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id""",

    "corpus_diff" ->
      """WITH prior AS (
           SELECT doc_id,
             CASE WHEN doc_id % 10 = 1 THEN substr(text, 1, 10)
                  ELSE text END AS text
           FROM documents WHERE doc_id % 10 <> 0
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text
           FROM documents WHERE doc_id % 10 = 9),
         o AS (SELECT doc_id, md5(text) AS oh FROM prior),
         n AS (SELECT doc_id, md5(text) AS nh FROM documents)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN oh <> nh THEN 'changed' END AS change_type
         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
         WHERE (CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN oh <> nh THEN 'changed' END) IS NOT NULL""",

    "embed_centroids" ->
      """WITH e AS (SELECT label,
           generate_subscripts(embedding, 1) - 1 AS dim,
           unnest(embedding) AS x FROM embeddings),
         m AS (SELECT label, dim,
           CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS xm FROM e)
         SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(xm) AS BIGINT) AS sum_milli,
           CAST(floor(CAST(sum(xm) AS DOUBLE) / CAST(count(*) AS DOUBLE))
             AS BIGINT) AS centroid_milli
         FROM m GROUP BY label, dim""",

    "text_nfc" ->
      """SELECT doc_id,
           nfc_normalize(replace(text, 'a', 'a' || chr(768))) AS text_nfc
         FROM documents""",

    "mix_calibrated" ->
      """WITH t AS (SELECT doc_id, source,
             string_split_regex(trim(text), '\s+') AS toks FROM documents),
         c AS (SELECT doc_id, source, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, tk -> list_contains(
             ['the','a','of','and','to','in','is','it','on','for'], tk))) AS n_stop
           FROM t),
         q AS (SELECT doc_id, source,
           CAST(floor(100 * (0.7 * (CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
             0.3 * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)))) AS BIGINT) AS q_score
           FROM c)
         SELECT doc_id, source, q_score,
           CAST(floor(1000 * percent_rank() OVER (PARTITION BY source
             ORDER BY q_score, doc_id)) AS BIGINT) AS pct_milli
         FROM q""",

    "mix_curriculum" ->
      """WITH sc AS (SELECT doc_id,
           CAST(floor(100 * (0.7 * (CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE) /
                 CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)) +
             0.3 * (CAST(len(list_filter(string_split_regex(trim(text), '\s+'), tk -> list_contains(
                 ['the','a','of','and','to','in','is','it','on','for'], tk))) AS DOUBLE) /
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)))) AS BIGINT) AS q_score
           FROM documents),
         cuts AS (SELECT quantile_cont(q_score, 0.25) AS c25,
             quantile_cont(q_score, 0.5) AS c50,
             quantile_cont(q_score, 0.75) AS c75 FROM sc),
         tiered AS (SELECT doc_id, q_score,
             CASE WHEN q_score <= c25 THEN 't1'
                  WHEN q_score <= c50 THEN 't2'
                  WHEN q_score <= c75 THEN 't3'
                  ELSE 't4' END AS tier
           FROM sc, cuts),
         b AS (SELECT doc_id, q_score, tier,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 10000 AS bucket
           FROM tiered),
         n AS (SELECT doc_id, q_score, tier,
             CASE tier
               WHEN 't1' THEN 0 + CASE WHEN bucket < 2500 THEN 1 ELSE 0 END
               WHEN 't2' THEN 0 + CASE WHEN bucket < 7500 THEN 1 ELSE 0 END
               WHEN 't3' THEN 1 + CASE WHEN bucket < 5000 THEN 1 ELSE 0 END
               WHEN 't4' THEN 2 + CASE WHEN bucket < 5000 THEN 1 ELSE 0 END
               ELSE 1 END AS n
           FROM b)
         SELECT doc_id, q_score, tier,
           CAST(unnest(range(1, n + 1)) AS BIGINT) AS epoch
         FROM n WHERE n > 0""",

    "incr_agg_refresh" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM events GROUP BY event_type""",

    "rag_bm25_topk" ->
      s"""$bm25Cte
         SELECT qid, rank, doc_id, score_micro FROM (
           SELECT qid, doc_id, score_micro,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS INT) AS rank
           FROM sc)
         WHERE rank <= 10""",

    // the greedy MMR trajectory replayed as a recursive CTE: state = one
    // frontier row per qid carrying the picked list; each round joins
    // the remaining candidates, takes max sim against the picked list,
    // and arg-mins on the (-score, doc_id) key — the exact integer
    // arithmetic and tie-break of Retrieval.mmrDiversify
    "rag_mmr_diversify" ->
      s"""${bm25Cte.replace("WITH q(", "WITH RECURSIVE q(")},
         cand AS (SELECT qid, doc_id, score_micro FROM (
             SELECT qid, doc_id, score_micro,
               row_number() OVER (PARTITION BY qid
                 ORDER BY score_micro DESC, doc_id) AS rnk FROM sc)
           WHERE rnk <= 12),
         mx AS (SELECT qid, max(score_micro) AS mxs FROM cand GROUP BY qid),
         rel AS (SELECT c.qid, c.doc_id,
             CASE WHEN mxs > 0 THEN c.score_micro * 1000 // mxs
                  ELSE 0 END AS rel_milli
           FROM cand c JOIN mx USING (qid)),
         ctoks AS (SELECT r.qid, r.doc_id, dt.term
           FROM rel r JOIN dt ON r.doc_id = dt.doc_id),
         sz AS (SELECT qid, doc_id, count(*) AS n FROM ctoks
           GROUP BY qid, doc_id),
         inter AS (SELECT a.qid AS qid, a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS ov
           FROM ctoks a JOIN ctoks b ON a.qid = b.qid AND a.term = b.term
             AND a.doc_id < b.doc_id
           GROUP BY a.qid, a.doc_id, b.doc_id),
         jac0 AS (SELECT i.qid, doc_a, doc_b,
             (1000 * ov) // (sa.n + sb.n - ov) AS sim_milli
           FROM inter i JOIN sz sa ON i.qid = sa.qid AND i.doc_a = sa.doc_id
             JOIN sz sb ON i.qid = sb.qid AND i.doc_b = sb.doc_id),
         jac AS (SELECT qid, doc_a, doc_b, sim_milli FROM jac0
           UNION ALL SELECT qid, doc_b, doc_a, sim_milli FROM jac0),
         st AS (
           SELECT qid, 1 AS step, [doc_id] AS sel_list, doc_id AS picked,
             rel_milli
           FROM (SELECT qid, doc_id, rel_milli,
               row_number() OVER (PARTITION BY qid
                 ORDER BY rel_milli DESC, doc_id) AS rn FROM rel)
           WHERE rn = 1
           UNION ALL
           SELECT qid, step + 1 AS step,
             list_append(sel_list, arg_min(doc_id, ord)) AS sel_list,
             arg_min(doc_id, ord) AS picked,
             arg_min(rel_milli, ord) AS rel_milli
           FROM (
             -- scalar (score desc, doc_id asc) key: score ∈ [-3e5,7e5],
             -- doc_id < 1e10, so (7e5-score)*1e10 + doc_id fits BIGINT
             SELECT qid, step, sel_list, doc_id, rel_milli,
               (700000 - score_mmr) * 10000000000 + doc_id AS ord
             FROM (
               SELECT s.qid, s.step, s.sel_list, r.doc_id, r.rel_milli,
                 700 * r.rel_milli - 300 * coalesce(max(j.sim_milli), 0)
                   AS score_mmr
               FROM st s
               JOIN rel r ON r.qid = s.qid
                 AND NOT list_contains(s.sel_list, r.doc_id)
               LEFT JOIN jac j ON j.qid = s.qid AND j.doc_a = r.doc_id
                 AND list_contains(s.sel_list, j.doc_b)
               WHERE s.step < 5
               GROUP BY s.qid, s.step, s.sel_list, r.doc_id, r.rel_milli))
           GROUP BY qid, step, sel_list)
         SELECT qid, CAST(step AS INT) AS rank, picked AS doc_id, rel_milli
         FROM st""",

    "rag_incremental_index" -> {
      // the bm25 CTE re-based onto the merged corpus (updates + inserts)
      val aug =
        """aug AS (
             SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN 'UPDATED ' || text
                 ELSE text END AS text
             FROM documents
             UNION ALL
             SELECT doc_id + 2000000, text || ' extra spark merge'
             FROM documents WHERE doc_id % 11 = 0)"""
      val cte = bm25Cte.replace(
        "FROM documents),",
        "FROM aug),").replace("WITH q(", s"WITH $aug, q(")
      s"""$cte
         SELECT qid, rank, doc_id, score_micro FROM (
           SELECT qid, doc_id, score_micro,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS INT) AS rank
           FROM sc)
         WHERE rank <= 10"""
    },

    "rag_eval_mrr" ->
      s"""$bm25Cte,
         bm AS (SELECT qid, doc_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS INT) AS rank
           FROM sc QUALIFY rank <= 10),
         qn AS (SELECT qid, CAST(count(*) AS BIGINT) AS nt
           FROM qt GROUP BY qid),
         rel AS (SELECT h.qid, h.doc_id FROM (
             SELECT qt.qid AS qid, dt.doc_id AS doc_id,
               CAST(count(*) AS BIGINT) AS hit
             FROM dt JOIN qt ON dt.term = qt.term
             GROUP BY qt.qid, dt.doc_id) h
           JOIN qn ON h.qid = qn.qid WHERE h.hit = qn.nt),
         hits AS (SELECT bm.qid, min(rank) AS first_rank,
             CAST(count(*) AS BIGINT) AS n_rel_in_topk
           FROM bm JOIN rel ON bm.qid = rel.qid AND bm.doc_id = rel.doc_id
           GROUP BY bm.qid)
         SELECT u.qid,
           CAST(coalesce(first_rank, 0) AS INT) AS first_rank,
           CAST(coalesce(n_rel_in_topk, 0) AS BIGINT) AS n_rel_in_topk,
           CASE WHEN coalesce(first_rank, 0) > 0
             THEN CAST(floor(1000.0 / CAST(first_rank AS DOUBLE)) AS BIGINT)
             ELSE 0 END AS rr_milli
         FROM (SELECT DISTINCT qid FROM q) u
         LEFT JOIN hits ON u.qid = hits.qid""",

    "rag_hard_negatives" ->
      s"""$bm25Cte,
         bm AS (SELECT qid, doc_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS INT) AS rank
           FROM sc QUALIFY rank <= 10),
         qn AS (SELECT qid, CAST(count(*) AS BIGINT) AS nt
           FROM qt GROUP BY qid),
         rel AS (SELECT h.qid, h.doc_id FROM (
             SELECT qt.qid AS qid, dt.doc_id AS doc_id,
               CAST(count(*) AS BIGINT) AS hit
             FROM dt JOIN qt ON dt.term = qt.term
             GROUP BY qt.qid, dt.doc_id) h
           JOIN qn ON h.qid = qn.qid
           WHERE h.hit = qn.nt AND h.doc_id % 2 = 0)
         SELECT bm.qid, bm.rank, bm.doc_id
         FROM bm ANTI JOIN rel ON bm.qid = rel.qid AND bm.doc_id = rel.doc_id""",

    // random negatives: hash gate (same md5→UBIGINT pattern as the
    // samplers), avoid = bm25 top-10 ∪ relevant, hash-order take-10
    "rag_random_negatives" ->
      s"""$bm25Cte,
         bm AS (SELECT qid, doc_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS INT) AS rank
           FROM sc QUALIFY rank <= 10),
         qn AS (SELECT qid, CAST(count(*) AS BIGINT) AS nt
           FROM qt GROUP BY qid),
         rel AS (SELECT h.qid, h.doc_id FROM (
             SELECT qt.qid AS qid, dt.doc_id AS doc_id,
               CAST(count(*) AS BIGINT) AS hit
             FROM dt JOIN qt ON dt.term = qt.term
             GROUP BY qt.qid, dt.doc_id) h
           JOIN qn ON h.qid = qn.qid
           WHERE h.hit = qn.nt),
         avoid AS (SELECT qid, doc_id FROM bm
           UNION SELECT qid, doc_id FROM rel),
         cand AS (SELECT q.qid AS qid, d.doc_id AS doc_id,
             CAST(('0x' || substr(md5(CAST(q.qid AS VARCHAR) || '_' ||
               CAST(d.doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS h
           FROM documents d, q),
         flt AS (SELECT c.qid, c.doc_id, c.h FROM cand c
           ANTI JOIN avoid a ON c.qid = a.qid AND c.doc_id = a.doc_id
           WHERE c.h % 10000 < 800)
         SELECT qid, rank, doc_id FROM (
           SELECT qid, doc_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY h, doc_id) AS INT) AS rank
           FROM flt)
         WHERE rank <= 10""",

    "rag_eval_ndcg" ->
      s"""$bm25Cte,
         bm AS (SELECT qid, doc_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS INT) AS rank
           FROM sc QUALIFY rank <= 10),
         qn AS (SELECT qid, CAST(count(*) AS BIGINT) AS nt
           FROM qt GROUP BY qid),
         rel AS (SELECT h.qid, h.doc_id FROM (
             SELECT qt.qid AS qid, dt.doc_id AS doc_id,
               CAST(count(*) AS BIGINT) AS hit
             FROM dt JOIN qt ON dt.term = qt.term
             GROUP BY qt.qid, dt.doc_id) h
           JOIN qn ON h.qid = qn.qid WHERE h.hit = qn.nt),
         dcg AS (SELECT bm.qid,
             CAST(sum(CAST(floor(1000000.0 * ln(2.0) /
               ln(CAST(rank + 1 AS DOUBLE))) AS BIGINT)) AS BIGINT)
               AS dcg_micro
           FROM bm JOIN rel ON bm.qid = rel.qid AND bm.doc_id = rel.doc_id
           GROUP BY bm.qid),
         rn AS (SELECT qid, CAST(count(*) AS BIGINT) AS r
           FROM rel GROUP BY qid),
         ideal AS (SELECT qid,
             CAST(sum(CAST(floor(1000000.0 * ln(2.0) /
               ln(CAST(i + 1 AS DOUBLE))) AS BIGINT)) AS BIGINT)
               AS idcg_micro
           FROM (SELECT qid, unnest(range(1, CAST(least(r, 10) AS BIGINT) + 1))
                   AS i FROM rn)
           GROUP BY qid)
         SELECT u.qid,
           CAST(coalesce(dcg_micro, 0) AS BIGINT) AS dcg_micro,
           CAST(coalesce(idcg_micro, 0) AS BIGINT) AS idcg_micro,
           CASE WHEN coalesce(idcg_micro, 0) > 0
             THEN CAST(coalesce(dcg_micro, 0) * 1000 // idcg_micro AS BIGINT)
             ELSE 0 END AS ndcg_milli
         FROM (SELECT DISTINCT qid FROM q) u
         LEFT JOIN dcg ON u.qid = dcg.qid
         LEFT JOIN ideal ON u.qid = ideal.qid""",

    "rag_context_pack" ->
      s"""$bm25Cte,
         bm AS (SELECT qid, doc_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS INT) AS rank
           FROM sc QUALIFY rank <= 20),
         tok AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
           FROM documents),
         packed AS (SELECT qid, rank, bm.doc_id AS doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (PARTITION BY qid
               ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS cum_before
           FROM bm JOIN tok ON bm.doc_id = tok.doc_id)
         SELECT qid, rank, doc_id, n_tokens, cum_before
         FROM packed WHERE cum_before < 300""",

    "rag_hybrid_rrf" ->
      s"""$bm25Cte,
         bm AS (SELECT qid, doc_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id) AS INT) AS rank
           FROM sc QUALIFY rank <= 20),
         cov0 AS (SELECT qid, dt.doc_id AS doc_id, any_value(dl) AS dl,
             CAST(count(*) AS BIGINT) AS n_hit
           FROM dt JOIN qt ON dt.term = qt.term GROUP BY qid, dt.doc_id),
         cov AS (SELECT qid, doc_id,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY n_hit DESC, dl ASC, doc_id ASC) AS INT) AS rank
           FROM cov0 QUALIFY rank <= 20),
         u AS (SELECT qid, doc_id,
             CAST(floor(1e9 / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE))) AS BIGINT) AS rrf_nano
           FROM bm
           UNION ALL
           SELECT qid, doc_id,
             CAST(floor(1e9 / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE))) AS BIGINT) AS rrf_nano
           FROM cov),
         f AS (SELECT qid, doc_id, CAST(sum(rrf_nano) AS BIGINT) AS rrf_nano
           FROM u GROUP BY qid, doc_id)
         SELECT qid, rank, doc_id, rrf_nano FROM (
           SELECT qid, doc_id, rrf_nano,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY rrf_nano DESC, doc_id) AS INT) AS rank
           FROM f)
         WHERE rank <= 10""",

    "curate_tagged" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, tk -> list_contains(
             ['the','a','of','and','to','in','is','it','on','for'], tk))) AS n_stop
           FROM t)
         SELECT doc_id, n_tokens, n_uniq, n_stop,
           concat_ws(',',
             CASE WHEN NOT coalesce(n_tokens >= 40, FALSE) THEN 'too_short' END,
             CASE WHEN NOT coalesce(n_uniq * 10 >= n_tokens * 3, FALSE) THEN 'low_diversity' END,
             CASE WHEN NOT coalesce(n_stop * 100 >= n_tokens * 2, FALSE)
               THEN 'no_stopword_evidence' END) AS drop_reasons,
           (coalesce(n_tokens >= 40, FALSE) AND
             coalesce(n_uniq * 10 >= n_tokens * 3, FALSE) AND
             coalesce(n_stop * 100 >= n_tokens * 2, FALSE)) AS keep
         FROM c""",

    "funnel_conversion" ->
      """WITH e AS (SELECT user_id, event_type,
             make_timestamp(epoch_us(ts)) AS ts FROM events),
         u1 AS (SELECT user_id, min(ts) AS t1 FROM e
           WHERE event_type = 'view' GROUP BY user_id),
         u2 AS (SELECT e.user_id, min(e.ts) AS t2
           FROM e JOIN u1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > u1.t1
             AND e.ts <= u1.t1 + INTERVAL 1 HOUR
           GROUP BY e.user_id),
         u3 AS (SELECT e.user_id, min(e.ts) AS t3
           FROM e JOIN u1 USING (user_id) JOIN u2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > u2.t2
             AND e.ts <= u1.t1 + INTERVAL 1 HOUR
           GROUP BY e.user_id)
         SELECT u1.user_id, u1.t1,
           CAST(1 + CAST(t2 IS NOT NULL AS INT) +
             CAST(t3 IS NOT NULL AS INT) AS INT) AS depth
         FROM u1
         LEFT JOIN u2 ON u1.user_id = u2.user_id
         LEFT JOIN u3 ON u1.user_id = u3.user_id""",

    "event_paths_topk" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
             make_timestamp(epoch_us(ts)) AS ts FROM events),
         p AS (SELECT user_id, array_to_string(
             list_slice(list(event_type ORDER BY ts, event_id), 1, 3), '>')
             AS path
           FROM e GROUP BY user_id),
         c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_users
           FROM p GROUP BY path)
         SELECT path, n_users FROM (
           SELECT path, n_users,
             row_number() OVER (ORDER BY n_users DESC, path) AS rk FROM c)
         WHERE rk <= 20""",

    "t8_stream_enrich" ->
      """SELECT e.event_id, e.user_id, CAST(s.s_nationkey AS BIGINT) AS nation
         FROM events e LEFT JOIN supplier s ON e.user_id % 100 = s.s_suppkey""",

    "t9_stream_upsert" ->
      """WITH e AS (SELECT user_id, make_timestamp(epoch_us(ts)) AS ts,
             event_type, value, event_id FROM events),
         r AS (SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn FROM e)
         SELECT user_id, ts AS last_ts, event_type AS last_event_type,
           value AS last_value FROM r WHERE rn = 1""",

    "events_rate_anomaly" ->
      """WITH e AS (SELECT event_type,
             CAST(epoch_us(ts) // 1000000 // 3600 AS BIGINT) AS bucket
           FROM events),
         c AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
           FROM e GROUP BY event_type, bucket),
         wf AS (SELECT event_type, bucket, n,
             count(n) OVER fr AS bn,
             CAST(sum(n) OVER fr AS BIGINT) AS bs,
             CAST(sum(n * n) OVER fr AS BIGINT) AS bs2
           FROM c WINDOW fr AS (PARTITION BY event_type ORDER BY bucket
             RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING)),
         v AS (SELECT event_type, bucket, n, bn,
             CAST(bs AS DOUBLE) / CAST(bn AS DOUBLE) AS mean,
             (CAST(bs2 AS DOUBLE) - CAST(bs AS DOUBLE) * CAST(bs AS DOUBLE)
               / CAST(bn AS DOUBLE)) / (CAST(bn AS DOUBLE) - 1.0) AS vr
           FROM wf),
         z AS (SELECT event_type, bucket, n,
             CASE WHEN bn >= 2 AND vr > 0
               THEN CAST(floor(1000.0 * (CAST(n AS DOUBLE) - mean) / sqrt(vr))
                 AS BIGINT) END AS z_milli
           FROM v)
         SELECT event_type, bucket, n, z_milli,
           CAST(coalesce(z_milli >= 3000, FALSE) AS INT) AS spike
         FROM z""",

    "events_new_users" ->
      """WITH e AS (SELECT DISTINCT user_id,
             CAST(make_timestamp(epoch_us(ts)) AS DATE) AS day FROM events),
         f AS (SELECT user_id, min(day) AS first_day FROM e GROUP BY user_id)
         SELECT strftime(e.day, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(count(CASE WHEN e.day = f.first_day THEN 1 END) AS BIGINT)
             AS n_new
         FROM e JOIN f ON e.user_id = f.user_id
         GROUP BY 1""",

    "events_rolling_wau" ->
      """WITH e AS (SELECT DISTINCT user_id,
             CAST(make_timestamp(epoch_us(ts)) AS DATE) AS day FROM events),
         d AS (SELECT DISTINCT day FROM e),
         x AS (SELECT e.user_id, d.day AS window_end
           FROM e JOIN d ON d.day BETWEEN e.day AND e.day + 6)
         SELECT strftime(window_end, '%Y-%m-%d') AS window_end,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
         FROM x GROUP BY 1""",

    "retention_cohorts" ->
      """WITH e AS (SELECT user_id,
             CAST(make_timestamp(epoch_us(ts)) AS DATE) AS day FROM events),
         f AS (SELECT user_id, min(day) AS cohort FROM e GROUP BY user_id)
         SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
           CAST(day - cohort AS INT) AS day_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
         FROM e JOIN f ON e.user_id = f.user_id
         GROUP BY 1, 2""",

    "t7_stream_curate" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, tk -> list_contains(
             ['the','a','of','and','to','in','is','it','on','for'], tk))) AS n_stop
           FROM t)
         SELECT doc_id, n_tokens,
           concat_ws(',',
             CASE WHEN NOT coalesce(n_tokens >= 40, FALSE) THEN 'too_short' END,
             CASE WHEN NOT coalesce(n_uniq * 10 >= n_tokens * 3, FALSE) THEN 'low_diversity' END,
             CASE WHEN NOT coalesce(n_stop * 100 >= n_tokens * 2, FALSE)
               THEN 'no_stopword_evidence' END) AS drop_reasons,
           (coalesce(n_tokens >= 40, FALSE) AND
             coalesce(n_uniq * 10 >= n_tokens * 3, FALSE) AND
             coalesce(n_stop * 100 >= n_tokens * 2, FALSE)) AS keep
         FROM c""",

    "curate_training_mix" ->
      """WITH t AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, source, toks, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, tk -> list_contains(
             ['the','a','of','and','to','in','is','it','on','for'], tk))) AS n_stop
           FROM t),
         g AS (SELECT doc_id, source, toks, n_tokens FROM c
           WHERE n_tokens >= 40 AND n_uniq * 10 >= n_tokens * 3 AND
             n_stop * 100 >= n_tokens * 2),
         f AS (SELECT doc_id, source, n_tokens,
           list_concat(toks, list_transform(range(1, len(toks)),
             i -> toks[i] || ' ' || toks[i+1])) AS feats
           FROM g),
         ex AS (SELECT doc_id, source, unnest(feats) AS tok FROM f),
         exb AS (SELECT doc_id, source, substr(md5(tok), 1, 3) AS bkt FROM ex),
         st AS (SELECT bkt,
             sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
             count(*) AS cr
           FROM exb GROUP BY bkt),
         tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
             CAST(sum(cr) AS BIGINT) AS nr FROM st),
         lr AS (SELECT bkt,
             CAST(floor(1000 * (ln((ct + 1.0) / (nt + 4096.0)) -
               ln((cr + 1.0) / (nr + 4096.0)))) AS BIGINT) AS lr_milli
           FROM st, tot),
         w AS (SELECT doc_id, CAST(sum(lr_milli) AS BIGINT) AS w_milli
           FROM exb JOIN lr USING (bkt) GROUP BY doc_id),
         sel AS (SELECT g.doc_id, g.source, g.n_tokens, w.w_milli
           FROM g JOIN w ON g.doc_id = w.doc_id),
         b AS (SELECT doc_id, source, n_tokens, w_milli,
             CAST(sum(n_tokens) OVER (PARTITION BY source
               ORDER BY w_milli DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens
           FROM sel)
         SELECT doc_id, source, n_tokens, w_milli, cum_tokens
         FROM b WHERE cum_tokens - n_tokens < 2000""",

    "curate_tag_stats" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (SELECT doc_id, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_uniq,
           len(list_filter(toks, tk -> list_contains(
             ['the','a','of','and','to','in','is','it','on','for'], tk))) AS n_stop
           FROM t),
         d AS (SELECT doc_id, concat_ws(',',
             CASE WHEN NOT coalesce(n_tokens >= 40, FALSE) THEN 'too_short' END,
             CASE WHEN NOT coalesce(n_uniq * 10 >= n_tokens * 3, FALSE) THEN 'low_diversity' END,
             CASE WHEN NOT coalesce(n_stop * 100 >= n_tokens * 2, FALSE)
               THEN 'no_stopword_evidence' END) AS drop_reasons
           FROM c),
         r AS (SELECT unnest(string_split(drop_reasons, ',')) AS reason
           FROM d WHERE drop_reasons <> '')
         SELECT reason, CAST(count(*) AS BIGINT) AS n_dropped
         FROM r GROUP BY reason""",

    "text_gopher_rules" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
           CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS BIGINT)
             AS n_word_chars
           FROM documents),
         c AS (SELECT doc_id, n_word_chars,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(len(list_filter(toks, tk -> regexp_matches(tk, '[a-z]')))
             AS BIGINT) AS n_alpha_words,
           CAST(len(list_filter(toks, tk -> list_contains(
             ['the','a','of','and','to','in','is','it','on','for'], tk)))
             AS BIGINT) AS n_stop_words
           FROM t)
         SELECT doc_id, n_words, n_word_chars, n_alpha_words, n_stop_words,
           (n_words >= 30 AND n_words <= 80) AS ok_word_count,
           (3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words)
             AS ok_mean_word_len,
           (5 * n_alpha_words >= 4 * n_words) AS ok_alpha_ratio,
           (n_stop_words >= 2) AS ok_stopwords,
           ((n_words >= 30 AND n_words <= 80)
             AND (3 * n_words <= n_word_chars AND n_word_chars <= 10 * n_words)
             AND (5 * n_alpha_words >= 4 * n_words)
             AND (n_stop_words >= 2)) AS gopher_pass
         FROM c""",

    // per-doc distinct 3-gram shingles (the dedup_incremental_lsh gram
    // CTE), document frequency over them, unique share per doc
    "text_novelty" ->
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN len(string_split(text, ' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i+1] || ' ' ||
                      string_split(text, ' ')[i+2]))
             ELSE [] END AS sh
           FROM documents),
         g AS (SELECT doc_id, unnest(sh) AS gram FROM t),
         f AS (SELECT gram, count(*) AS dfreq FROM g GROUP BY gram),
         p AS (
           SELECT g.doc_id, count(*) AS n_grams,
             sum(CASE WHEN f.dfreq = 1 THEN 1 ELSE 0 END) AS n_unique
           FROM g JOIN f USING (gram) GROUP BY g.doc_id)
         SELECT d.doc_id,
           CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(p.n_unique, 0) AS BIGINT) AS n_unique,
           CASE WHEN coalesce(p.n_grams, 0) > 0
             THEN CAST(floor(1000.0 * p.n_unique / p.n_grams) AS BIGINT)
             ELSE 0 END AS novelty_milli
         FROM documents d LEFT JOIN p USING (doc_id)""",

    // RAKE replay: stopword/punct delimiting, distinct phrase set,
    // degree/freq word stats, milli-floored word scores, phrase sums,
    // (score desc, phrase) top-3
    "text_keyphrases" ->
      """WITH ph0 AS (SELECT doc_id,
             unnest(string_split_regex(regexp_replace(regexp_replace(
               lower(text),
               '\b(the|a|of|and|to|in|is|it|on|for)\b', '|', 'g'),
               '[.,;:!?()]', '|', 'g'), '\|+')) AS phrase
           FROM documents),
         ph AS (SELECT DISTINCT doc_id, trim(phrase) AS phrase FROM ph0
           WHERE trim(phrase) <> ''),
         tk AS (SELECT doc_id, phrase,
             unnest(string_split_regex(phrase, '\s+')) AS word,
             len(string_split_regex(phrase, '\s+')) AS plen
           FROM ph),
         ws AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(plen) AS BIGINT) AS deg
           FROM tk GROUP BY doc_id, word),
         psc AS (SELECT tk.doc_id, tk.phrase,
             CAST(sum(1000 * deg // freq) AS BIGINT) AS score_milli
           FROM tk JOIN ws ON tk.doc_id = ws.doc_id AND tk.word = ws.word
           GROUP BY tk.doc_id, tk.phrase)
         SELECT doc_id, rank, phrase, score_milli FROM (
           SELECT doc_id, phrase, score_milli,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY score_milli DESC, phrase) AS INT) AS rank
           FROM psc)
         WHERE rank <= 3""",

    // the UrlOps.canonicalize rule chain replayed stage by stage:
    // fragment strip, scheme/host lowercase, default-port strip, dup
    // slash collapse, tracking-param filter + bytewise param sort
    "url_canonicalize" ->
      s"""WITH raw AS (SELECT doc_id, $urlVariantSql AS url FROM documents),
         $urlCanonCte
         SELECT doc_id, url, canonical FROM canon""",

    "dedup_url" ->
      s"""WITH raw AS (SELECT doc_id, $urlVariantSql AS url FROM documents),
         $urlCanonCte
         SELECT canonical AS canonical_url, min(doc_id) AS survivor_id,
           CAST(count(*) AS BIGINT) AS n_dups
         FROM canon GROUP BY canonical""",

    // domainOf replay (host lowercase, port strip, www strip), blocklist
    // filter, then the per-domain row_number cap
    "curate_domain_cap" ->
      """WITH raw AS (SELECT doc_id, n_chars,
           CASE WHEN doc_id % 10 <= 3 THEN 'spam.linkfarm.net'
                WHEN doc_id % 10 <= 5 THEN 'blog.example.org'
                WHEN doc_id % 10 = 6 THEN 'Docs.Example.COM'
                WHEN doc_id % 10 = 7 THEN 'www.news-site.io'
                WHEN doc_id % 10 = 8 THEN 'archive.example.org:8080'
                ELSE 'banned.tracker.net' END AS host
           FROM documents),
         d AS (SELECT doc_id, n_chars,
           regexp_replace(regexp_replace(lower(regexp_extract(
             regexp_replace('https://' || host || '/p/' ||
               CAST(doc_id AS VARCHAR), '#.*', ''),
             '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1)),
             ':[0-9]+$', ''), '^www\.', '') AS domain
           FROM raw),
         k AS (SELECT * FROM d WHERE domain <> 'banned.tracker.net'),
         r AS (SELECT doc_id, domain,
           CAST(row_number() OVER (PARTITION BY domain
             ORDER BY n_chars DESC, doc_id) AS INT) AS domain_rank
           FROM k)
         SELECT doc_id, domain, domain_rank FROM r
         WHERE domain_rank <= 15""",

    // same block CTE as dedup_token_blocks at width 10; the keep rule is
    // a df-threshold NOT IN against the (tiny) boilerplate set instead
    // of first-occurrence
    "dedup_boilerplate_blocks" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
         e AS (SELECT doc_id, unnest(w) AS tok,
           generate_subscripts(w, 1) AS idx FROM t),
         b AS (SELECT doc_id, CAST((idx - 1) // 10 AS INT) AS block_idx,
           string_agg(tok, ' ' ORDER BY idx) AS block
           FROM e GROUP BY doc_id, block_idx),
         boiler AS (SELECT block FROM b
           GROUP BY block HAVING count(DISTINCT doc_id) > 3),
         k AS (SELECT doc_id, block_idx, block,
           block NOT IN (SELECT block FROM boiler) AS keep FROM b)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN keep THEN block END, ' '
             ORDER BY block_idx), '') AS text_clean
         FROM k GROUP BY doc_id""",

    "dedup_token_blocks" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
         e AS (SELECT doc_id, unnest(w) AS tok,
           generate_subscripts(w, 1) AS idx FROM t),
         b AS (SELECT doc_id, CAST((idx - 1) // 20 AS INT) AS block_idx,
           string_agg(tok, ' ' ORDER BY idx) AS block
           FROM e GROUP BY doc_id, block_idx),
         k AS (SELECT doc_id, block_idx, block,
           (row_number() OVER (PARTITION BY block
             ORDER BY doc_id, block_idx) = 1) AS keep
           FROM b)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN keep THEN block END, ' '
             ORDER BY block_idx), '') AS text_deduped
         FROM k GROUP BY doc_id"""
  )

  /** PSI drift oracle (DuckDB), shared by profile_psi and its merged-
    * shard twin: prior snapshot synthesis, both fixed-width histograms,
    * full-outer bin join, add-one smoothing, per-bin micro floor before
    * the integer sum — expression-tree mirror of
    * [[graft.ops.Profile.psiDrift]] (ln is the lone libm call, the same
    * isolation argument as the BM25 idf). */
  private lazy val psiOracleSql: String =
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
  private lazy val urlVariantSql: String =
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
  private lazy val urlCanonCte: String =
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

  /** Shared BM25 pipeline CTE (DuckDB): the literal query batch, doc-term
    * tf/dl, corpus stats, per-term df, query terms, integer micro-nat idf,
    * per-term floored contributions, per-(query, doc) integer score sums.
    * Arithmetic is spelled operation-for-operation like the Spark plan in
    * [[graft.ops.Retrieval.bm25Scores]] — +, ×, / on doubles are exactly
    * rounded so only ln() could diverge (by ≤1 ulp; floor flips are
    * measure-zero and verified empirically at sf0.001/sf0.01). */
  private lazy val bm25Cte: String =
    """WITH q(qid, qtext) AS (VALUES
           (1, 'spark table scan window'), (2, 'customer order join merge'),
           (3, 'vector data stream batch'), (4, 'slow query filter')),
         t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
         dt AS (SELECT doc_id, term, CAST(any_value(dl) AS BIGINT) AS dl,
             CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(w) AS term, len(w) AS dl FROM t)
           GROUP BY doc_id, term),
         corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(w)) AS BIGINT) AS sum_dl FROM t),
         dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df
           FROM dt GROUP BY term),
         qt AS (SELECT qid, unnest(list_distinct(string_split_regex(trim(qtext), '\s+'))) AS term
           FROM q),
         idf AS (SELECT qid, qt.term AS term,
             CAST(floor(1e6 * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)))
               AS BIGINT) AS idf_micro,
             n_docs, sum_dl
           FROM qt JOIN dft ON qt.term = dft.term, corpus),
         contrib AS (SELECT qid, dt.doc_id AS doc_id,
             CAST(floor(CAST(idf_micro AS DOUBLE) *
               (CAST(tf AS DOUBLE) * (1.2 + 1.0)) /
               (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) +
                 0.75 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) /
                   CAST(sum_dl AS DOUBLE)))) AS BIGINT) AS c
           FROM dt JOIN idf ON dt.term = idf.term),
         sc AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
           FROM contrib GROUP BY qid, doc_id)"""

}
