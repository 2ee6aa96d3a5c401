package graft.schema

import org.apache.spark.sql.types._

/** Typed Silver row (SURVEY.md §1.1: `Dataset[CoinTick]` for the typed
  * core) — required fields are non-Option, matching `cryptoRequired`;
  * the rest mirror EXPECTED_SCHEMA nullability.
  */
final case class CryptoTick(
    coin_id: String,
    symbol: String,
    name: String,
    current_price: Double,
    market_cap: Long,
    market_cap_rank: Option[Int],
    total_volume: Option[Long],
    high_24h: Option[Double],
    low_24h: Option[Double],
    price_change_24h: Option[Double],
    price_change_percentage_24h: Option[Double],
    circulating_supply: Option[Double],
    total_supply: Option[Double],
    update_date: java.sql.Date,
    last_updated_ts: java.sql.Timestamp)

/** Declared schemas: ports of the reference's record shapes (FIXTURES.md §A).
  * Spark does not enforce nullability on read — enforcement is the job of
  * `Transform.schemaSplit` / the DQ rules, these are declarations only.
  */
object Schemas {

  /** Typed view of a Silver frame — compile-time field checks for the
    * pipeline core; stays a zero-copy view (same plan, an Encoder on
    * top).
    */
  def asTicks(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Dataset[CryptoTick] = {
    implicit val enc: org.apache.spark.sql.Encoder[CryptoTick] =
      org.apache.spark.sql.Encoders.product[CryptoTick]
    df.as[CryptoTick]
  }

  /** Required (non-nullable) Silver fields — the schema-enforcement set
    * (ref: glue/data_transform_s3.py:27-31, third arg False).
    */
  val cryptoRequired: Seq[String] =
    Seq("coin_id", "symbol", "name", "current_price", "market_cap")

  /** Events stream table (TESTDATA.md). */
  val events: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = true)))
}
