package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query: its registry name, how to build it, its
  * DuckDB oracle, and whether it runs a Structured Streaming job. Each
  * query family object ends in a `val defs: Seq[QueryDef]`, and
  * [[graft.SparkEntry.queries]] is built from those lists.
  *
  * @param name registry key, `qNN[suffix]_snake_case`.
  * @param run builds the result frame from a session and an sf dir.
  * @param oracle equivalent ANSI SQL that DuckDB runs on the same
  *   parquet tables (tables referenced by bare name). `None` means the
  *   driver records a weaker rows-only check. Exactly four queries are
  *   rows-only, because their result depends on Spark-side k-means or
  *   an approximate sketch: q23 (IVF over k-means cells), q32 (HLL++
  *   approximate distinct), q107 (PQ codes) and q109 (IVF-ADC). Their
  *   `b` twins carry hash-checked contracts instead.
  * @param streaming true when `run` launches a REAL Structured Streaming
  *   job (AvailableNow micro-batches, checkpointed state stores). Each
  *   carries a fixed ~2-4 s startup cost that is execution machinery,
  *   not data path, so [[graft.Bench]] totals them separately and
  *   streaming startup noise never masks a batch-query regression.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    streaming: Boolean = false)
