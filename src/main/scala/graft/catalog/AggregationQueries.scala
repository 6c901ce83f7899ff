package graft
package catalog

import org.apache.spark.sql.functions._

import graft.ops.Profile
import Shared._

/** A-family: aggregations (SURVEY §2.5). */
private[graft] object AggregationQueries {

  val queries: Seq[Query] = Seq(

    Query("q1_agg", { (s, dir) =>
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
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus"""),

    Query("a1_count_scrape_outcomes", { (s, dir) =>
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
      """SELECT event_type, count(*) AS n_total,
         count(CASE WHEN value > 10 THEN 1 END) AS n_high,
         CAST(floor(100 * count(CASE WHEN value > 10 THEN 1 END) / count(*)) AS BIGINT) AS pct_high
         FROM events GROUP BY event_type"""),

    Query("a2_objects_per_file", { (s, dir) =>
      // per-input-container object counts (combine_json_to_jsonl.py:229,266)
      t(s, dir, "documents").groupBy(col("source"))
        .agg(count(lit(1)).as("n_objects"), sum(col("n_chars")).as("total_chars"))
    },
      """SELECT source, count(*) AS n_objects,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY source"""),

    Query("a3_pipeline_stats_rollup", { (s, dir) =>
      // per-directory stats + grand total via ROLLUP
      // (combine_json_to_jsonl.py:327-359)
      t(s, dir, "documents").rollup(col("source"))
        .agg(grouping(col("source")).as("is_total"),
          count(lit(1)).as("n_files"), sum(col("n_chars")).as("n_chars_sum"))
    },
      """SELECT source, grouping(source) AS is_total, count(*) AS n_files,
         CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
         FROM documents GROUP BY ROLLUP(source)"""),

    Query("a7_cube_stats", { (s, dir) =>
      // full CUBE over (lang, source): every aggregation level in one
      // pass (the expand-plan shape), grouping ids disambiguate levels
      t(s, dir, "documents").cube(col("lang"), col("source"))
        .agg(grouping(col("lang")).as("g_lang"),
          grouping(col("source")).as("g_source"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars_sum"))
    },
      """SELECT lang, source, grouping(lang) AS g_lang,
         grouping(source) AS g_source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
         FROM documents GROUP BY CUBE(lang, source)"""),

    Query("a9_grouping_sets", { (s, dir) =>
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
      """SELECT lang, source, grouping(lang) AS g_lang,
         grouping(source) AS g_source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
         FROM documents
         GROUP BY GROUPING SETS ((lang), (source), (lang, source))"""),

    Query("a8_pivot_counts", { (s, dir) =>
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
      """SELECT user_id,
         CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
         CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
         CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
         CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
         CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
         FROM events GROUP BY user_id"""),

    Query("a4_length_quantiles", { (s, dir) =>
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
      """SELECT source,
         quantile_cont(n_chars, 0.5) AS p50,
         quantile_cont(n_chars, 0.9) AS p90,
         quantile_cont(n_chars, 0.99) AS p99,
         min(n_chars) AS len_min,
         max(n_chars) AS len_max
         FROM documents GROUP BY source"""),

    Query("a5_zscore_per_source", { (s, dir) =>
      // per-source outlier scoring of document length: moments from exact
      // integer sums (never distributed floating stddev), z in milli-units
      Profile.zscorePerGroup(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "source", "n_chars")
        .select("doc_id", "source", "n_chars", "z_milli")
    },
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
         FROM documents d JOIN st ON d.source = st.source"""),

    Query("a6_robust_zscore", { (s, dir) =>
      // MAD-based robust outlier scoring — the heavy-tail-safe twin of
      // a5: median/MAD are unmoved by the outliers being hunted
      Profile.madZscorePerGroup(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "source", "n_chars")
        .select("doc_id", "source", "n_chars", "rz_milli")
    },
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
         FROM d JOIN a ON d.source = a.source""")
  )
}
