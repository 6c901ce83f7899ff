package graft
package catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.{Profile, Funnel}
import Shared._

/** T-family: incremental and windowed semantics, batch-checkable. */
private[graft] object IncrementalQueries {

  val queries: Seq[Query] = Seq(

    Query("t2_window_hourly", { (s, dir) =>
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
    },
      """SELECT date_trunc('hour', make_timestamp(epoch_us(ts))) AS hour_ts, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM events GROUP BY date_trunc('hour', make_timestamp(epoch_us(ts)))"""),

    Query("t1_stream_hourly", { (s, dir) =>
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
      """SELECT date_trunc('hour', make_timestamp(epoch_us(ts))) AS hour_ts,
         event_type, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM events
         GROUP BY date_trunc('hour', make_timestamp(epoch_us(ts))), event_type"""),

    Query("t10_stream_drift", { (s, dir) =>
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
      // the STREAMING fold ends at the same sketch table (merge is
      // addition), so it shares the oracle too — hash match proves
      // stream==batch for the drift monitor
      psiOracleSql),

    Query("t4_sliding_window", { (s, dir) =>
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
      """SELECT event_id, event_type,
           count(*) OVER w AS n_3h,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_3h
         FROM (SELECT event_id, event_type, value, epoch_us(ts) AS ts_us
               FROM events)
         WINDOW w AS (PARTITION BY event_type ORDER BY ts_us
           RANGE BETWEEN 10800000000 PRECEDING AND CURRENT ROW)"""),

    Query("t3_session_window", { (s, dir) =>
      // session windows (30-min gap) over the events stream table —
      // built-in session_window; the custom-state streaming twin is
      // streaming/Sessionize (flatMapGroupsWithState, SessionizeSpec)
      graft.streaming.Sessionize.sessionsBatch(events(s, dir), gapMinutes = 30)
    },
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
         FROM g GROUP BY user_id, sid"""),

    Query("t5_stream_stream_join", { (s, dir) =>
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
      """WITH e AS (SELECT event_id, user_id, event_type,
           make_timestamp(epoch_us(ts)) AS ts FROM events)
         SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id, p.ts AS purchase_ts, c.ts AS click_ts
         FROM (SELECT * FROM e WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM e WHERE event_type = 'click') c
           ON p.user_id = c.user_id
           AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts"""),

    Query("t6_stream_dedup", { (s, dir) =>
      // streaming exact dedup, ACTUALLY run as a stream (D1's incremental
      // form): keys projected before dropDuplicates, so the emitted set
      // is the distinct key set — order-independent, batch-oracle-checked
      val name = s"graft_t6_stream_${streamRuns.incrementAndGet()}"
      val q = graft.streaming.DedupStream.runDedupKeysNow(s, dir, name,
        Seq("user_id", "event_type"))
      q.awaitTermination()
      s.table(name)
    },
      """SELECT DISTINCT user_id, event_type FROM events"""),

    Query("t8_stream_enrich", { (s, dir) =>
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
      """SELECT e.event_id, e.user_id, CAST(s.s_nationkey AS BIGINT) AS nation
         FROM events e LEFT JOIN supplier s ON e.user_id % 100 = s.s_suppkey"""),

    Query("t9_stream_upsert", { (s, dir) =>
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
      """WITH e AS (SELECT user_id, make_timestamp(epoch_us(ts)) AS ts,
             event_type, value, event_id FROM events),
         r AS (SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn FROM e)
         SELECT user_id, ts AS last_ts, event_type AS last_event_type,
           value AS last_value FROM r WHERE rn = 1"""),

    Query("funnel_conversion", { (s, dir) =>
      // windowFunnel-shaped ordered conversion: view → click → purchase
      // within 1 h of the earliest view; one shuffle + per-user HOF walk
      Funnel.funnelDepth(events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), windowSec = 3600L)
    },
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
         LEFT JOIN u3 ON u1.user_id = u3.user_id"""),

    Query("retention_cohorts", { (s, dir) =>
      // first-seen-day cohorts × day-offset distinct-active matrix;
      // cohort emitted as yyyy-MM-dd text (pandas keeps Spark DATE as
      // str but DuckDB DATE as datetime64 — stringify both sides)
      Funnel.retentionCohorts(events(s, dir), "user_id", "ts")
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          col("day_offset"), col("n_users").cast("long").as("n_users"))
    },
      """WITH e AS (SELECT user_id,
             CAST(make_timestamp(epoch_us(ts)) AS DATE) AS day FROM events),
         f AS (SELECT user_id, min(day) AS cohort FROM e GROUP BY user_id)
         SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
           CAST(day - cohort AS INT) AS day_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
         FROM e JOIN f ON e.user_id = f.user_id
         GROUP BY 1, 2"""),

    Query("t7_stream_curate", { (s, dir) =>
      // the Dolma rule gate run as an ACTUAL stream (stateless projection
      // → micro-batch-order-independent, so the batch SQL is the oracle)
      val name = s"graft_t7_curate_${streamRuns.incrementAndGet()}"
      val q = graft.streaming.CurateStream.runCurateNow(s, dir, name,
        curationRules)
      q.awaitTermination()
      s.table(name)
    },
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
         FROM c""")
  )
}
