package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: the Spark builder over a scale-factor dir of
  * parquet tables, and the DuckDB SQL that checks its result.
  *
  * Column-name parity rule: every computed column is aliased identically
  * in the builder and the oracle SQL (the hash compare sorts columns by
  * name). */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

/** Every declared query, family by family: SURVEY.md §2's operator
  * families, then the scale extensions split by name prefix. */
private[graft] object Catalog {
  val all: Seq[Query] = Seq(
    AggregationQueries.queries, ProjectionQueries.queries,
    JoinQueries.queries, DeltaQueries.queries, SortQueries.queries,
    SetOpQueries.queries, ScalarQueries.queries, IncrementalQueries.queries,
    DedupQueries.queries, TextQueries.queries, RagQueries.queries,
    CurationQueries.queries, AnalyticsQueries.queries,
    MediaIoQueries.queries).flatten
}
