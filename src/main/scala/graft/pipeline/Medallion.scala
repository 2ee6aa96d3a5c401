package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dq.Rules
import graft.etl.Transform
import graft.gold.Star
import graft.sinks.Writers

/** The reference's full batch pipeline, end-to-end in one process:
  * Bronze (inferred JSON) → typed Silver with DLQ + dedup → DQ gate →
  * Gold star schema — the four Glue jobs
  * (ref: Step Function/crypto-etl-pipeline.asl.json:5-76) as composed
  * DataFrame stages. State passes in-process; only the medallion layer
  * boundaries persist (Silver/Gold parquet), not every stage.
  *
  * The one in-process hand-off that is materialized is the deduped
  * Silver candidate: the transform stage `localCheckpoint`s it eagerly,
  * so the DQ aggregates, the Silver append, the fact overwrite and both
  * dim merges read those rows from the executors' block stores instead
  * of each re-running the Bronze JSON scan, the cast projection and the
  * dedup shuffle. It is the reference's "read the input once per step"
  * (each Glue job reads its S3 input once) in a single process, and
  * it stays small at any Bronze size: at most one row per coin per day.
  */
object Medallion {

  /** What one run wrote. `silver`, `fact`, `dimCoins` and `dimDate`
    * are the written rows: they read the materialized Silver candidate
    * or the files just written, never Bronze, so they stay valid after
    * the landing files are gone (until the next run rewrites the dims).
    * `dlq` stays a lazy view over Bronze: evaluating it again re-scans
    * the landing files and stamps a new `timestamp`.
    */
  final case class Outputs(
      silver: DataFrame,
      dlq: DataFrame,
      fact: DataFrame,
      dimCoins: DataFrame,
      dimDate: DataFrame)

  /** Cast projection spec Bronze → Silver
    * (ref: glue/data_transform_s3.py:113-126).
    */
  val silverSpec: Seq[(String, String, DataType)] = Seq(
    ("id", "coin_id", StringType),
    ("symbol", "symbol", StringType),
    ("name", "name", StringType),
    ("current_price", "current_price", DoubleType),
    ("market_cap", "market_cap", LongType),
    ("market_cap_rank", "market_cap_rank", IntegerType),
    ("total_volume", "total_volume", LongType),
    ("high_24h", "high_24h", DoubleType),
    ("low_24h", "low_24h", DoubleType),
    ("price_change_24h", "price_change_24h", DoubleType),
    ("price_change_percentage_24h", "price_change_percentage_24h", DoubleType),
    ("circulating_supply", "circulating_supply", DoubleType),
    ("total_supply", "total_supply", DoubleType))

  /** Run Bronze → Gold. `now` pins the metadata columns for
    * deterministic tests (SURVEY.md §7.4.1). DQ failures gate the
    * pipeline (Left), like the reference's verification raise
    * (ref: glue/data_quality_pydeequ.py:133).
    *
    * The stages compose through [[Pipeline.runNotified]] — the same
    * DAG runner (O-67: per-stage catch, short-circuit) plus the
    * terminal notification record (the ASL NotifySuccess/NotifyFailure
    * analogue, ref: Step Function/crypto-etl-pipeline.asl.json:77-96) —
    * so the orchestration layer itself sits on the verified path.
    */
  def run(
      spark: SparkSession,
      bronze: DataFrame,
      outDir: String,
      now: java.time.Instant,
      dqRules: Seq[graft.dq.DqRule] = Rules.referenceCryptoRuleset)
      : Either[StageFailure, Outputs] = {
    // Pipeline.run threads ONE frame through the DAG; the medallion
    // layers that fork off it (DLQ, dims) are captured as the stages
    // run and assembled into Outputs at the end.
    var dlq: DataFrame = null
    var silver: DataFrame = null
    var fact: DataFrame = null
    var dimCoins: DataFrame = null
    var dimDate: DataFrame = null

    // Transform: projection + metadata + schema-enforcement split + dedup
    val transform: Pipeline.Stage = df =>
      if (df.isEmpty) Left(StageFailure("transform", "empty input"))
      else {
        val projected = Transform.withMetadata(
          Transform.castProjection(df, silverSpec), Some(now))
        val (valid, bad) = Transform.schemaSplit(
          projected, graft.schema.Schemas.cryptoRequired)
        Writers.dlqAppend(bad, s"$outDir/dlq")
        dlq = bad
        // Materialized once: every later stage reads these rows, not Bronze
        Right(Transform.dedupLatest(
          valid,
          partitionCols = Seq("coin_id", "update_date"),
          orderCols = Seq(col("last_updated_ts").desc, col("market_cap_rank").asc_nulls_last))
          .localCheckpoint())
      }

    // DQ gate (ref DQDL ruleset) on the deduped silver candidate
    val dataQuality: Pipeline.Stage = df =>
      Rules.gate(df, dqRules).left.map(failures =>
        StageFailure("data_quality",
          failures.map(f => s"${f.rule} (observed=${f.observed})").mkString("; ")))

    // Gold: fact with dynamic partition overwrite + dims merged into
    // what earlier runs wrote (ref: glue/data_aggregate_gold.py:102-188)
    val gold: Pipeline.Stage = Pipeline.stage { s =>
      silver = s
      Writers.parquetAppendPartitioned(s, s"$outDir/silver", "update_date")
      fact = s.withColumnRenamed("update_date", "date")
        .filter(col("coin_id").isNotNull)
      Writers.parquetDynamicOverwrite(fact, s"$outDir/fact_crypto_daily", "date")
      // mergeDim dedups on the key, so the incoming side needs no distinct
      dimCoins = mergeDimInto(spark, s.select("coin_id", "symbol", "name"),
        Seq("coin_id"), s"$outDir/dim_coins")
      dimDate = mergeDimInto(spark, Star.dimDate(fact, "date"), Seq("date"), s"$outDir/dim_date")
      fact
    }

    Pipeline.runNotified(spark, "medallion", bronze,
      Seq("transform" -> transform, "data_quality" -> dataQuality, "gold" -> gold),
      s"$outDir/notifications")
      .map(_ => Outputs(silver, dlq, fact, dimCoins, dimDate))
  }

  /** Merge `incoming` into the dim table at `path` on `keyCols`
    * ([[Star.mergeDim]] over [[Pipeline.readOrEmpty]]), overwrite it,
    * and return the table as written. Reading and overwriting one path
    * is safe because the merge's key shuffle reads the old files before
    * the overwrite replaces them.
    */
  private def mergeDimInto(
      spark: SparkSession, incoming: DataFrame, keyCols: Seq[String], path: String): DataFrame = {
    Writers.parquetOverwrite(
      Star.mergeDim(Pipeline.readOrEmpty(spark, path, incoming.schema), incoming, keyCols), path)
    spark.read.schema(incoming.schema).parquet(path)
  }
}
