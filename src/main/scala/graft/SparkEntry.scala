package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._
import graft.queries.ReferenceQueries.q01DedupLatestAgg

/** Driver contract (see SURVEY.md §7): `entry` plus the query registry.
  *
  * The queries live in per-family objects under [[graft.queries]], each
  * ending in a `defs: Seq[QueryDef]` that pairs a query with its DuckDB
  * oracle SQL and its streaming flag. Every oracle-checked query is
  * deterministic: stable total-order ORDER BY, literal dates,
  * floating-point aggregates rounded identically on both sides, column
  * names aliased identically in the Spark plan and the oracle SQL.
  * Window tie-breaks include l_partkey / l_suppkey because l_linenumber
  * is NOT unique within l_orderkey in this testdata.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Latest-snapshot-per-key → validate → aggregate: the essence of the
    * reference pipeline (SURVEY.md §7.2).
    */
  def entry(spark: SparkSession): DataFrame =
    q01DedupLatestAgg(spark, "/root/testdata/sf0.001")

  /** Every query, keyed by name. Built from the family `defs`; a name
    * defined twice fails here instead of silently shadowing the other
    * entry, as a duplicate key in a `Map` literal would.
    */
  val queries: Map[String, QueryDef] = {
    val all = Seq(
      ReferenceQueries.defs, AnalyticsQueries.defs, DedupQueries.defs,
      TextQueries.defs, TrainPrepQueries.defs, RetrievalQueries.defs,
      MediaQueries.defs).flatten
    val dups = all.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"query names defined twice: ${dups.toSeq.sorted.mkString(", ")}")
    all.map(d => d.name -> d).toMap
  }
}
