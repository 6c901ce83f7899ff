package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.{Components, Profile, Funnel, PageRank}
import Shared._

/** Scale extensions: profiles and sketches, event series and graphs. */
private[graft] object AnalyticsQueries {

  val queries: Seq[Query] = Seq(

    Query("profile_schema_drift", { (s, dir) =>
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
         FROM base FULL OUTER JOIN evo ON base.col_name = evo.col_name"""),

    Query("profile_winsorize", { (s, dir) =>
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
      """WITH b AS (SELECT source,
           CAST(floor(quantile_cont(n_chars, 0.05)) AS BIGINT) AS lo,
           CAST(ceil(quantile_cont(n_chars, 0.95)) AS BIGINT) AS hi
         FROM documents GROUP BY source)
         SELECT doc_id, d.source,
           greatest(lo, least(hi, n_chars)) AS n_chars_w,
           CAST(n_chars < lo OR n_chars > hi AS INTEGER) AS clipped
         FROM documents d JOIN b ON d.source = b.source"""),

    Query("profile_documents", { (s, dir) =>
      // one-pass per-column profiling (nulls / exact distincts / min-max)
      Profile.profile(t(s, dir, "documents"),
          Seq("doc_id", "lang", "source", "n_chars"))
        .withColumnRenamed("column", "col_name")
    },
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
           CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM documents"""),

    Query("profile_correlation", { (s, dir) =>
      // metric-redundancy diagnostic: per-source Pearson r between char
      // and token counts, from exact integer moments (milli-floored)
      val docs = t(s, dir, "documents")
      Profile.corrPerGroup(docs, "source", col("n_chars"),
        size(split(trim(col("text")), "\\s+")).cast("long"))
    },
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
         FROM s"""),

    Query("profile_dataset_digest", { (s, dir) =>
      // order-independent corpus fingerprint: the one-row "did anything
      // change" check that gates index rebuilds and snapshot publishes
      Profile.datasetDigest(t(s, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
    },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(('0x' || substr(md5(concat_ws(chr(1),
               coalesce(CAST(doc_id AS VARCHAR), chr(2)),
               coalesce(text, chr(2)),
               coalesce(lang, chr(2)),
               coalesce(source, chr(2)),
               coalesce(CAST(n_chars AS VARCHAR), chr(2)))), 1, 15))
             AS UBIGINT)) % 1000000000000000000 AS BIGINT) AS digest
         FROM documents"""),

    Query("profile_key_skew", { (s, dir) =>
      // join-key skew diagnostic on the event-type key (the salting
      // decision input); top-2 mass share + hottest-key balance ratio
      Profile.keySkew(events(s, dir), "event_type", k = 2)
    },
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
         FROM a, t"""),

    Query("profile_drift", { (s, dir) =>
      // snapshot drift monitoring: the prior version is the corpus minus
      // every 10th doc, so min/max (doc_id range) and the distinct-ratio
      // flags all trip — nonzero drift is what gets hash-checked
      val docs = t(s, dir, "documents")
      Profile.profileDrift(docs, docs.filter(col("doc_id") % 10 =!= 0),
        Seq("doc_id", "lang", "source", "n_chars"))
    }, {
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
    }),

    Query("profile_histogram", { (s, dir) =>
      // exact equi-width doc-length histogram, integer bucket edges —
      // engines bucket identically because the edge math is integer
      Profile.histogramInt(t(s, dir, "documents"), "n_chars", 0L, 600L, 24)
    },
      """WITH b AS (SELECT
           CASE WHEN n_chars < 0 THEN 0
                WHEN n_chars >= 600 THEN 25
                ELSE CAST(1 + (n_chars - 0) * 24 // (600 - 0) AS INT) END AS bin,
           n_chars
           FROM documents WHERE n_chars IS NOT NULL)
         SELECT bin, CAST(count(*) AS BIGINT) AS n,
           min(n_chars) AS v_min, max(n_chars) AS v_max
         FROM b GROUP BY bin"""),

    Query("profile_approx_quantiles", { (s, dir) =>
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
      // the deterministic-sample quantile replayed end to end: md5 row
      // sample membership, per-(source, value) counts, cumulative window,
      // smallest sampled value reaching rank ceil(p·n_sample)
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
         GROUP BY rk.source, rk.prob_pct"""),

    Query("profile_quantiles_hist", { (s, dir) =>
      // the DETERMINISTIC fixed-memory quantile twin: per-(source, bin)
      // counts (bounded-cardinality shuffle, plain-table mergeable
      // sketch) → smallest bin reaching rank ceil(p·n); error ≤ binWidth
      // by construction and the estimate is engine-exact — what
      // percentile_approx's GK state can never be
      Profile.histQuantilesPerGroup(t(s, dir, "documents"),
        "source", "n_chars", Seq(50, 90, 99), binWidth = 100L)
    },
      // the histogram quantile sketch replayed bin for bin: fixed-width
      // bins, cumulative counts, smallest bin reaching rank
      // ceil(p·n) = (n·pct + 99) div 100, lower bound reported
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
         GROUP BY rk.source, rk.prob_pct"""),

    Query("profile_distinct_per_group", { (s, dir) =>
      // distinct users per event type via per-group KMV (k=16 so the
      // estimator branch engages at sf0.01 — every type has > 16
      // distinct users): fixed memory per group at ANY cardinality,
      // where exact countDistinct holds the whole key set per group
      val sk = Profile.kmvSketchPerGroup(events(s, dir),
        "event_type", "user_id", k = 16)
      Profile.kmvEstimatePerGroup(sk, "event_type", "adc_users", k = 16)
    },
      // per-group KMV replay: distinct 60-bit md5 hashes, row_number ≤ k
      // per group, then the identical estimate arithmetic (the kmv
      // double constant spelled byte-for-byte like the Spark literal)
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
         FROM a"""),

    Query("profile_join_estimate", { (s, dir) =>
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
      """WITH a AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS na
           FROM orders GROUP BY o_custkey),
         b AS (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS nb
           FROM customer GROUP BY c_custkey)
         SELECT CAST(sum(na * nb) AS BIGINT) AS est_rows,
           CAST(count(*) AS BIGINT) AS n_shared_keys,
           CAST(max(na * nb) AS BIGINT) AS max_key_product
         FROM a JOIN b ON a.k = b.k"""),

    Query("events_transitions", { (s, dir) =>
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
      // lead() over the identical (ts, event_id) order; pair counts and
      // per-state milli shares
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
         FROM c JOIN t ON c.cur_type = t.cur_type"""),

    Query("profile_psi", { (s, dir) =>
      // distribution drift vs a synthetic prior snapshot (10% of ids
      // absent; every doc_id%3==0 doc 200 chars shorter in the prior —
      // a real length-distribution shift): per-source PSI over n_chars
      // histograms, micro-units, 0.2-rule alert flag
      val docs = t(s, dir, "documents")
      val prior = psiPriorSnapshot(docs)
      Profile.psiDrift(docs, prior, "source", "n_chars", binWidth = 100L)
    },
      // PSI replay: both histograms, full-outer bin join, Laplace-smoothed
      // p/q through the identical double expression tree (ln is the lone
      // libm call), per-bin micro floor before the integer sum
      psiOracleSql),

    Query("profile_psi_incr", { (s, dir) =>
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
      // the merged-shard query is BIT-IDENTICAL to the one-pass sketch
      // (counts sum), so it shares the oracle — the hash match IS the
      // merge==full proof
      psiOracleSql),

    Query("profile_missing_hours", { (s, dir) =>
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
      """WITH e AS (SELECT event_type,
             date_trunc('hour', make_timestamp(epoch_us(ts))) AS h FROM events),
         b AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM e GROUP BY event_type),
         spine AS (SELECT event_type,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS missing_hour FROM b),
         d AS (SELECT DISTINCT event_type, h FROM e)
         SELECT s.event_type, s.missing_hour
         FROM spine s LEFT JOIN d ON d.event_type = s.event_type AND d.h = s.missing_hour
         WHERE d.h IS NULL"""),

    Query("event_paths_topk", { (s, dir) =>
      // top-20 three-step entry paths (the Sankey query); event_id is the
      // unique tie-break so every user's path is deterministic
      Funnel.topPaths(events(s, dir), "user_id", "event_type", "ts",
        "event_id", pathLen = 3, k = 20)
    },
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
         WHERE rk <= 20"""),

    Query("events_rate_anomaly", { (s, dir) =>
      // hourly event-rate spikes per type vs the trailing 24h baseline
      Funnel.rateAnomaly(events(s, dir), "event_type", "ts",
        bucketSec = 3600L, trailBuckets = 24)
    },
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
         FROM z"""),

    Query("events_new_users", { (s, dir) =>
      // growth decomposition: per day, distinct actives split into first-
      // time vs returning (day stringified — pandas DATE parity)
      Funnel.newVsReturning(events(s, dir), "user_id", "ts")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_active").cast("long").as("n_active"),
          col("n_new").cast("long").as("n_new"))
    },
      """WITH e AS (SELECT DISTINCT user_id,
             CAST(make_timestamp(epoch_us(ts)) AS DATE) AS day FROM events),
         f AS (SELECT user_id, min(day) AS first_day FROM e GROUP BY user_id)
         SELECT strftime(e.day, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(count(CASE WHEN e.day = f.first_day THEN 1 END) AS BIGINT)
             AS n_new
         FROM e JOIN f ON e.user_id = f.user_id
         GROUP BY 1"""),

    Query("events_rolling_wau", { (s, dir) =>
      // trailing-7-day distinct actives per observed day (DAU/WAU family)
      Funnel.rollingActives(events(s, dir), "user_id", "ts", windowDays = 7)
        .select(date_format(col("window_end"), "yyyy-MM-dd").as("window_end"),
          col("n_active").cast("long").as("n_active"))
    },
      """WITH e AS (SELECT DISTINCT user_id,
             CAST(make_timestamp(epoch_us(ts)) AS DATE) AS day FROM events),
         d AS (SELECT DISTINCT day FROM e),
         x AS (SELECT e.user_id, d.day AS window_end
           FROM e JOIN d ON d.day BETWEEN e.day AND e.day + 6)
         SELECT strftime(window_end, '%Y-%m-%d') AS window_end,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
         FROM x GROUP BY 1"""),

    Query("profile_metrics_long", { (s, dir) =>
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
      """WITH wide AS (SELECT doc_id, n_chars,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           CAST(strlen(text) AS BIGINT) AS n_bytes
         FROM documents)
         UNPIVOT wide ON n_chars, n_tokens, n_bytes INTO NAME metric VALUE value"""),

    Query("graph_triangles", { (s, dir) =>
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
         FROM deg d LEFT JOIN pn ON d.node = pn.node"""),

    Query("events_json_extract", { (s, dir) =>
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
      """WITH e AS (SELECT event_type,
             CAST(props->>'k' AS BIGINT) AS k FROM events)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(k) AS BIGINT) AS n_with_k,
           CAST(sum(k) AS BIGINT) AS k_sum,
           CAST(min(k) AS BIGINT) AS k_min,
           CAST(max(k) AS BIGINT) AS k_max
         FROM e GROUP BY event_type"""),

    Query("events_forward_fill", { (s, dir) =>
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
      """WITH s AS (SELECT user_id, event_id,
           CASE WHEN event_id % 3 <> 0 THEN value END AS v FROM events)
         SELECT user_id, event_id, v,
           last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
         FROM s"""),

    Query("events_decay_score", { (s, dir) =>
      // freshness-weighted engagement: per-user half-life-decayed value
      // sum (72h half-life, power-of-two shift — exact, no exp())
      Funnel.halfLifeDecayScore(events(s, dir), "user_id", "ts", "value",
        halfLifeHours = 72L)
    },
      // decay replay: epoch-microsecond age, shift-by-k division, same
      // floor/quantize order
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
         r AS (SELECT max(us) AS us_ref FROM e),
         d AS (SELECT user_id,
             least((us_ref - us) // 259200000000, 62) AS k,
             CAST(floor(1000 * value) AS BIGINT) AS v
           FROM e, r)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(v // (CAST(1 AS BIGINT) << CAST(k AS INT))) AS BIGINT)
             AS decay_score_milli
         FROM d GROUP BY user_id"""),

    Query("events_interpolate", { (s, dir) =>
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
         FROM b"""),

    Query("events_corrupt_audit", { (s, dir) =>
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
         FROM m GROUP BY event_type"""),

    Query("event_transitions", { (s, dir) =>
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
         FROM c JOIN t USING (from_type)"""),

    Query("graph_pagerank", { (s, dir) =>
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
         FROM i5"""),

    Query("graph_label_prop", { (s, dir) =>
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
    }, {
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
    }),

    Query("graph_ppr", { (s, dir) =>
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
    }, {
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
    }),

    Query("profile_approx", { (s, dir) =>
      // KMV approximate distincts per column — the one-pass bounded-
      // memory answer to profiling at corpus scale (exact twin is
      // profile_documents). Unlike an HLL register blob, the KMV state
      // is k md5 hash values, so the DuckDB oracle replays the entire
      // estimate (min-k distinct hashes, (k−1)·2⁶⁰/kth) exactly;
      // error-vs-exact also pinned in MiscOpsSpec.
      Profile.approxDistinctKmv(t(s, dir, "documents"),
        Seq("doc_id", "source", "lang", "n_chars"))
    },
      // full KMV replay, no aux artifact: per column, the k = 256 smallest
      // distinct 60-bit md5 hashes; estimate = count when below k, else
      // (k−1) · 2⁶⁰ / kth-smallest — 255.0 and 2⁶⁰ are exactly
      // representable doubles and the one division is IEEE-identical, so
      // the floor matches bit-for-bit
      kmvOracleSql),

    Query("profile_heavy_hitters", { (s, dir) =>
      // count-min-sketch top-20 tokens — the no-full-shuffle frequency
      // profile (exact twin is text_vocab_topk). The sketch is a d×w
      // COUNTER TABLE addressed by md5 slices (Profile.cmsCounters), so
      // the oracle replays the whole pipeline — counters, deterministic
      // candidate sample, min-over-d read-back, top-k — in SQL; the
      // over-estimate bound vs exact counts stays pinned in MiscOpsSpec.
      Profile.heavyHittersCms(t(s, dir, "documents"), col("doc_id"),
        col("text"), k = 20)
    },
      // full count-min-sketch replay, no aux artifact: counters = per-row
      // 16-bit md5 slices mod 20000 (w = ceil(2/1e-4), d = 7 =
      // ceil(log2(1/(1-0.99))) — Profile.cmsDims), candidates = the same
      // md5 occurrence sample as the sampler oracles, estimate = min over
      // the 7 counter rows. posexplode positions count ALL split elements
      // (pos assigned before the empty-token filter), mirrored by indexing
      // the full array with u.i - 1.
      heavyHittersOracleSql),

    Query("profile_approx_incr", { (s, dir) =>
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
      // the merged-sketch query is BIT-IDENTICAL to the full-corpus one
      // (min-k of a union = min-k over unioned min-k sets), so it shares
      // the oracle — the hash match IS the merge==full proof
      kmvOracleSql),

    Query("profile_heavy_hitters_incr", { (s, dir) =>
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
      // the merged-sketch query is BIT-IDENTICAL to the full-corpus one
      // (counter addition commutes), so it shares the oracle — the hash
      // match IS the merge==full proof
      heavyHittersOracleSql),

    Query("incr_agg_refresh", { (s, dir) =>
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
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM events GROUP BY event_type""")
  )

  /** Shared by profile_approx and its merged-sketch twin. */
  private lazy val kmvOracleSql: String = {
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
  private lazy val heavyHittersOracleSql: String =
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
}
