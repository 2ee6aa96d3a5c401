package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Sql, Tables}
import graft.dq.{Analyzers, ColumnValues, Rules}
import graft.etl.Transform
import graft.gold.Star
import graft.stream.{Jobs, Validate}
import graft.queries.Shared.{eventSliceStreamInput, eventsForReplay, tempDir,
  throttleOracle, writeEventSlicesPlain, writeSliceFilesByExpr,
  writeSlicedFrame}

/** The reference pipeline's own surface: ETL transforms, data-quality
  * checks, the Gold star schema, the medallion pipeline, sinks, and
  * the streaming validation/stateful jobs, plus the plain SQL shapes
  * (joins, rollups, windows) they are built from.
  */
object ReferenceQueries {

  /** O-28 window dedup + O-11 null guard + O-29 agg + O-47 sort. */
  def q01DedupLatestAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val deduped = Transform.dedupLatest(
      li,
      partitionCols = Seq("l_orderkey"),
      orderCols = Seq(
        col("l_shipdate").desc, col("l_linenumber").desc,
        col("l_partkey").desc, col("l_suppkey").desc))
    deduped
      .filter(col("l_orderkey").isNotNull)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"))
      .orderBy(col("l_returnflag"))
  }

  /** O-06/O-08: select + rename + cast projection. */
  def q02CastProjection(spark: SparkSession, dir: String): DataFrame =
    Transform.castProjection(Tables.orders(spark, dir), Seq(
      ("o_orderkey", "order_id", LongType),
      ("o_custkey", "cust_id", IntegerType),
      ("o_orderstatus", "status", StringType),
      ("o_totalprice", "total_price", DoubleType),
      ("o_orderdate", "order_date", DateType),
      ("o_orderpriority", "priority", StringType)))
      .orderBy(col("order_id"))

  /** O-07/O-26/O-27: schema-enforcement annotation over events with
    * deterministically injected nulls (the testdata has none).
    */
  def q03SchemaEnforce(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("value",
        when(col("event_type") === "error", lit(null).cast(DoubleType)).otherwise(col("value")))
      .withColumn("user_id",
        when(col("event_id") % 13 === 0, lit(null).cast(LongType)).otherwise(col("user_id")))
    Transform.withValidity(ev, Seq("event_id", "ts", "user_id", "value"))
      .select(col("event_id"), col("is_valid"), col("error_reason"))
      .orderBy(col("event_id"))
  }

  /** O-32..O-37 + exact-distinct: Deequ-style metrics in one agg pass,
    * plus O-34 Uniqueness (two-level agg).
    */
  def q04DqMetrics(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    Analyzers.run(li,
      Seq(
        Analyzers.size,
        Analyzers.completeness("l_orderkey"),
        Analyzers.completeness("l_quantity"),
        Analyzers.mean("l_extendedprice"),
        Analyzers.standardDeviation("l_quantity"),
        Analyzers.minimum("l_extendedprice"),
        Analyzers.maximum("l_extendedprice"),
        Analyzers.exactMedian("l_quantity"),
        Analyzers.countDistinct("l_orderkey")),
      uniquenessCols = Seq("l_orderkey"))
      .withColumn("value", round(col("value"), 4))
      .orderBy(col("instance"), col("name"))
  }

  /** O-40/O-41: DQDL row-level outcomes, aggregated per verdict. */
  def q05DqRowOutcomes(spark: SparkSession, dir: String): DataFrame = {
    val rules = Seq(
      ColumnValues("l_quantity", _ > 0, "gt_0"),
      ColumnValues("l_quantity", _ <= 45, "le_45"),
      ColumnValues("l_discount", _ <= 0.05, "le_005"))
    Rules.rowOutcomes(Tables.lineitem(spark, dir), rules)
      .withColumn("failed_rules", concat_ws(",", col("DataQualityRulesFail")))
      .groupBy(col("DataQualityEvaluationResult"), col("failed_rules"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("DataQualityEvaluationResult"), col("failed_rules"))
  }

  /** O-16..O-24: dim_date scalar stack over distinct order dates. */
  def q06DimDate(spark: SparkSession, dir: String): DataFrame =
    Star.dimDate(Tables.orders(spark, dir), "o_orderdate").orderBy(col("date"))

  /** O-44: star join — fact ⋈ orders ⋈ customer ⋈ broadcast dims. */
  def q07StarJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
    val n = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nationkey"), col("n_name"), col("n_regionkey"))
    val r = Tables.region(spark, dir)
      .select(col("r_regionkey").as("n_regionkey"), col("r_name"))
    val fact = li.join(o, "l_orderkey").join(c, "o_custkey")
    Star.starJoin(fact, Seq((n, Seq("c_nationkey")), (r, Seq("n_regionkey"))))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** O-49: top-k by market-cap analogue (orders by total price). */
  def q08TopK(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** O-42/O-45: partition-level upsert — anti-join + union, then verify
    * via an aggregate. Incoming = post-cutoff orders with reprices.
    */
  def q09Upsert(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val incoming = o
      .filter(col("o_orderdate").cast(DateType) >= lit("1999-01-01").cast(DateType))
      .withColumn("o_totalprice", col("o_totalprice") * 1.05)
    val merged = Star.upsert(o, incoming, Seq("o_orderdate"))
    merged.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** O-43/O-46: dedup union (SQL UNION) of dim key sets. */
  def q10UnionDistinct(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
    c.unionByName(s).distinct().orderBy(col("nationkey"))
  }

  /** O-60..O-62 batch semantics: validate + reasons + alert flag. */
  def q17ValidateEvents(spark: SparkSession, dir: String): DataFrame =
    Validate.annotate(Tables.events(spark, dir), Jobs.eventRules)
      .withColumn("is_alert", Jobs.eventAlert)
      .select(col("event_id"), col("is_valid"), col("error_reason"), col("is_alert"))
      .orderBy(col("event_id"))

  /** Tumbling-window aggregation (batch path of the shared logic). */
  def q18WindowHourly(spark: SparkSession, dir: String): DataFrame =
    Jobs.windowedAgg(Tables.events(spark, dir))
      .orderBy(col("window_start"), col("event_type"))

  /** Sliding windows — 1 h every 15 min (SURVEY §2.10's slide
    * semantics): each event lands in 4 overlapping windows. Batch twin
    * of `runWindowedStream(slide = ...)`; the oracle replays the
    * overlap by cross-joining each event with its 4 bucket offsets.
    */
  def q18bWindowSliding(spark: SparkSession, dir: String): DataFrame =
    Jobs.windowedAgg(Tables.events(spark, dir), "1 hour", Some("15 minutes"))
      .orderBy(col("window_start"), col("event_type"))

  /** The WATERMARKED sliding-window stream itself (not just its batch
    * twin q18b): events replay as four contiguous time slices, one
    * file per micro-batch (`maxFilesPerTrigger = 1`), through
    * `runWindowedStream` with a 1 h window sliding every 15 min and a
    * 10 min watermark, append mode — so a window only lands in the
    * sink once the watermark closes it. Within one AvailableNow run
    * the final no-data flush batch advances the watermark to
    * max(event time) − lateness and a window whose end EQUALS the
    * watermark still emits (pinned empirically + by this oracle), so
    * the emitted set is exactly the q18b aggregate restricted to
    * `window_end ≤ max(ts) − 10 min` — a deterministic, hash-checkable
    * contract for the streaming path. Slices land oldest-first (strictly
    * increasing mod times), so no batch carries data older than the
    * watermark and nothing is dropped as late mid-run.
    */
  def q18cWindowStreamSliding(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q18c")
    val in = writeEventSlicesPlain(eventsForReplay(spark, dir), tmp, 4)
    Jobs.runWindowedStream(spark, in, s"$tmp/ckpt", s"$tmp/out",
      lateness = "10 minutes", windowDuration = "1 hour", slide = Some("15 minutes"),
      stateShufflePartitions = Some(8), filesPerTrigger = 2)
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Multiplicity-preserving sibling of [[writeSliceFilesByExpr]] for
    * the cross-slice replay recipes (q55's dup/carry-over injection):
    * `membership` is an `array<int>` of the slice ids each row lands
    * in (duplicates kept — a row listed twice in its own slice is an
    * exact in-batch duplicate). Still ONE scan + one partitioned
    * write where the per-slice form paid one filter job per slice
    * PLUS one source scan per union leg. Row ORDER within a slice
    * file differs from the union form — callers must be (and the
    * dedup/changelog consumers are) content-deterministic within a
    * batch.
    */
  private def writeSliceFilesExploded(
      df: DataFrame, membership: Column, tmp: String, n: Int = 4): String =
    writeSlicedFrame(
      df.select(df.columns.map(col) :+
        explode(membership.cast("array<int>")).as("__slice"): _*),
      df.schema, df.sparkSession, tmp, n)

  /** O-59/O-61: the same validation executed as a REAL Structured
    * Streaming query (AvailableNow over the events parquet, memory
    * sink). Stateless ⇒ result ≡ q17's batch result, same oracle.
    */
  def q19StreamValidate(spark: SparkSession, dir: String): DataFrame =
    Jobs.runValidationStream(spark, dir)
      .select(col("event_id"), col("is_valid"), col("error_reason"), col("is_alert"))
      .orderBy(col("event_id"))

  /** Stateful streaming (flatMapGroupsWithState) as a driver-checked
    * query: rising-edge alert suppression — emit an event only when
    * its user's value crosses ABOVE the threshold. Runs as a REAL
    * AvailableNow streaming query with per-key state; the oracle is
    * the batch lag-window twin (state ≡ "previous value", whatever the
    * micro-batch boundaries), so the custom-state operator family gets
    * a hash-checked row like q19 does for the stateless path.
    */
  def q19bStatefulEdges(spark: SparkSession, dir: String): DataFrame =
    graft.stream.Stateful.runRisingEdgeStream(spark, dir, 200.0,
      stateShufflePartitions = Some(8))
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))

  /** The SAME rising-edge semantics on `transformWithState` (typed
    * named state, RocksDB state store) — Spark 4's current-generation
    * arbitrary-state API beside q19b's `flatMapGroupsWithState`; same
    * batch lag-window oracle.
    */
  def q19cStatefulTws(spark: SparkSession, dir: String): DataFrame =
    graft.stream.Stateful.runRisingEdgeStreamTws(spark, dir, 200.0,
      stateShufflePartitions = Some(8))
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))

  /** O-63: JSON payload parse with malformed-record routing. */
  def q20PropsJson(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("props",
        when(col("event_id") % 97 === 0, lit("not-json")).otherwise(col("props")))
      .withColumn("k", get_json_object(col("props"), "$.k").cast(IntegerType))
    ev.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))
  }

  /** O-25/O-29: per-month report aggregation. */
  def q26MonthlyReport(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_items"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("ship_month"))

  /** O-39: Deequ-style verification suite → check-results frame, full
    * `checkResultsAsDataFrame` shape including `constraint_message`
    * (fixed `%.4f` formatting keeps the message engine-portable).
    */
  def q27DqCheckResults(spark: SparkSession, dir: String): DataFrame = {
    val rules = Seq(
      graft.dq.IsComplete("l_orderkey"),
      ColumnValues("l_quantity", _ > 0, "gt_0"),
      ColumnValues("l_discount", _ <= 0.05, "le_005"),
      graft.dq.RowCountBetween(50, 10000000),
      graft.dq.CompletenessAbove("l_extendedprice", 0.95),
      graft.dq.UniquenessAbove("l_orderkey", 0.99))
    Rules.checkResults(spark, Tables.lineitem(spark, dir), rules)
      .orderBy(col("constraint"))
  }

  /** O-12/O-42: anti-semijoin — orders with no lineitems, as a
    * distributed left_anti join (the reference's collect+isin replaced).
    */
  def q28AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val liKeys = Tables.lineitem(spark, dir).select(col("l_orderkey").as("o_orderkey"))
    o.join(liKeys, Seq("o_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Left-outer join + null coalescing: per-order revenue, 0 for
    * orders with no lineitems.
    */
  def q29OuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    Tables.orders(spark, dir)
      .join(rev, Seq("o_orderkey"), "left_outer")
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("rev").isNull, 1L).otherwise(0L)).as("n_no_items"),
        round(sum(coalesce(col("rev"), lit(0.0))), 2).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** SQL surface (§3.2's Athena analogue): the star-schema revenue
    * query expressed as `spark.sql` over registered views — the same
    * text an analyst would run; Catalyst plans it identically to q07.
    */
  def q31SqlStar(spark: SparkSession, dir: String): DataFrame =
    Sql.query(spark, dir,
      """SELECT r_name, n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin)

  /** Rollup aggregation (subtotal + grand-total rows). */
  def q30Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** O-28 again via the aggregation scale path (`max_by`, map-side
    * partial combine — no window sort); result is identical to q01's
    * window form, so it shares q01's oracle.
    */
  def q33DedupAggPath(spark: SparkSession, dir: String): DataFrame =
    Transform.dedupLatestAgg(
      Tables.lineitem(spark, dir),
      partitionCols = Seq("l_orderkey"),
      maxKeyCols = Seq(col("l_shipdate"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey")))
      .filter(col("l_orderkey").isNotNull)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"))
      .orderBy(col("l_returnflag"))

  /** Running window frames: cumulative revenue per customer over their
    * order history (rowsBetween unboundedPreceding..current).
    */
  def q36RunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.orders(spark, dir)
      .filter(col("o_custkey") < 100)
      .withColumn("running_total", round(sum(col("o_totalprice")).over(w), 2))
      .select(col("o_custkey"), col("o_orderkey"), col("running_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** O-51..O-58 write-path round trip: exercises the sinks end-to-end
    * and aggregates what comes back, so the writers get a hash-checked
    * CORRECTNESS row (a faithful round trip is value-preserving, so
    * the oracle computes the same aggregates from the source tables).
    *  - fact side: full orders written via DYNAMIC partition overwrite
    *    (O-52/O-54), then partition 'O' re-written with discounted
    *    prices — only the touched partition may change (mirrors q09's
    *    proven-stable `*0.9` + `round(sum)` shape);
    *  - DLQ side: error events through the `dt=/hour=` JSONL layout
    *    (O-55/O-58), read back via partition columns.
    */
  def q40SinkRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q40")
    // repartition by the partition column before a partitioned write —
    // the standard small-files guard: one task owns each output
    // partition instead of every task writing a sliver of each
    val orders = Tables.orders(spark, dir).repartition(col("o_orderstatus"))

    // one week of errors: exercises the hive layout without creating
    // hundreds of tiny hour= dirs on the bench path. The DLQ write is
    // independent of the fact-table writes (different dir, append mode
    // — untouched by the dynamic-overwrite conf flips below), so it
    // overlaps them from a driver thread: its 168-dir
    // commit was the single largest job in the query
    import scala.concurrent.ExecutionContext.Implicits.global
    val errs = Tables.events(spark, dir).filter(col("event_type") === "error")
      .filter(col("ts") < lit("2024-01-08").cast(TimestampType))
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val dlqWritten = scala.concurrent.Future {
      graft.sinks.Writers.badRecordsPartitioned(errs, "ts", s"$tmp/dlq")
    }

    graft.sinks.Writers.parquetDynamicOverwrite(orders, s"$tmp/fact", "o_orderstatus")
    val patch = orders.filter(col("o_orderstatus") === "O")
      .withColumn("o_totalprice", col("o_totalprice") * 0.9)
    graft.sinks.Writers.parquetDynamicOverwrite(patch, s"$tmp/fact", "o_orderstatus")
    val fact = spark.read.parquet(s"$tmp/fact")
    scala.concurrent.Await.result(dlqWritten,
      scala.concurrent.duration.Duration.Inf)
    // explicit schema: no inference pass over the many small JSONL files
    val dlqSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", LongType),
      org.apache.spark.sql.types.StructField("ts", StringType),
      org.apache.spark.sql.types.StructField("user_id", LongType),
      org.apache.spark.sql.types.StructField("value", DoubleType),
      org.apache.spark.sql.types.StructField("dt", StringType),
      org.apache.spark.sql.types.StructField("hour", StringType)))
    val dlq = spark.read.schema(dlqSchema).json(s"$tmp/dlq")

    val factAgg = fact.groupBy(col("o_orderstatus").cast("string").as("k"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("v"))
      .select(lit("fact").as("side"), col("k"), col("n"), col("v"))
    val dlqAgg = dlq.groupBy(col("dt").cast("string").as("k"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      .select(lit("dlq").as("side"), col("k"), col("n"), col("v"))
    factAgg.unionByName(dlqAgg).orderBy(col("side"), col("k"))
  }

  /** Bucketed co-located join: both sides written `bucketBy` the join
    * key, then joined — on a bucketed layout the join needs NO exchange
    * on either side (BucketJoinSpec pins the zero-Exchange plan under
    * a disabled broadcast threshold; at this verify scale the small
    * side may still broadcast, which is also exchange-free on the
    * fact side). This is the ship-layout for Silver/Gold join keys at
    * 100 TB: shuffle once at write time, never again per query.
    */
  def q42BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    // a fresh session can't overwrite a managed-table LOCATION left by
    // an earlier session (catalog is in-memory, the warehouse dir is
    // not): drop the catalog entry AND delete any stale location
    Seq("graft_q42_lineitem", "graft_q42_orders").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      wh.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wh, true)
    }
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_q42_lineitem")
    Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_q42_orders")
    spark.table("graft_q42_lineitem")
      .join(spark.table("graft_q42_orders"), Seq("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** Salted two-stage aggregation — the skew pattern: a hot group key
    * first aggregates per (key, salt) so no single task absorbs the
    * whole key, then the tiny per-salt partials combine. Deterministic
    * salt (hash of a second column, not rand()) keeps the query
    * replayable; the result is EXACTLY the plain groupBy (the oracle
    * is the unsalted SQL), which is the point — same answer, bounded
    * per-task state under skew.
    */
  def q43SaltedAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(xxhash64(col("l_orderkey")), lit(8)))
      .groupBy(col("l_suppkey"), col("salt"))
      .agg(sum(col("l_quantity")).as("partial_qty"), count(lit(1)).as("partial_n"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("partial_qty")), 2).as("sum_qty"),
        sum(col("partial_n")).as("n_rows"))
      .orderBy(col("l_suppkey"))

  /** The reference's actual PRODUCT — the four-stage chained pipeline
    * (ref: Step Function/crypto-etl-pipeline.asl.json:5-76) — as ONE
    * driver-checked query: a deterministic crypto-shaped bronze corpus
    * derived from `customer` lands as JSONL in two nested batch
    * prefixes, the recursive bronze scan (O-01..O-03) picks both up,
    * and `Medallion.run` chains transform (cast projection + schema
    * split + DLQ + dedup) → DQ gate (the reference's full DQDL
    * ruleset) → gold star writes through `Pipeline.runNotified`
    * (O-67..O-71). The result aggregates what actually LANDED on disk
    * (gold fact, DLQ JSONL, dim, notification), so every stage
    * boundary is inside the hash-checked surface.
    *
    * Fixture design (all sf-independent — bounded at c_custkey ≤ 120):
    * batch 1 has one tick per coin; batch 2 re-ticks every 7th coin
    * with a worse (higher) market_cap_rank and a +999 price that dedup
    * must discard. Every 10th coin has a null current_price, every
    * 13th a null market_cap → schema enforcement routes those to the
    * DLQ with per-field reasons, leaving 99 coins: inside the
    * reference ruleset's RowCount 50..150 gate at every SF.
    */
  def q44MedallionE2E(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q44")
    val base = Tables.customer(spark, dir)
      .filter(col("c_custkey") <= 120)
      .select(
        col("c_custkey").cast(LongType).as("k"),
        col("c_name").as("cname"),
        (abs(col("c_acctbal")) + 1.0).as("price"))

    def bronzeRecords(src: DataFrame, rankShift: Int, priceShift: Double): DataFrame =
      src.select(
        concat(lit("c"), col("k")).as("id"),
        concat(lit("SYM"), col("k")).as("symbol"),
        col("cname").as("name"),
        when(col("k") % 10 === 0, lit(null).cast(DoubleType))
          .otherwise(col("price") + priceShift).as("current_price"),
        when(col("k") % 13 === 0, lit(null).cast(LongType))
          .otherwise(col("k") * 1000).as("market_cap"),
        (col("k") + rankShift).cast(IntegerType).as("market_cap_rank"),
        (col("k") * 10).as("total_volume"),
        (col("price") + 1.0).as("high_24h"),
        (col("price") - 1.0).as("low_24h"),
        lit(1.5).as("price_change_24h"),
        lit(2.5).as("price_change_percentage_24h"),
        col("k").cast(DoubleType).as("circulating_supply"),
        col("k").cast(DoubleType).as("total_supply"))

    bronzeRecords(base, 0, 0.0)
      .coalesce(1).write.mode("overwrite").json(s"$tmp/landing/batch=1")
    bronzeRecords(base.filter(col("k") % 7 === 0), 1000, 999.0)
      .coalesce(1).write.mode("overwrite").json(s"$tmp/landing/batch=2")

    val bronze = graft.sources.Readers.jsonRecursive(spark, s"$tmp/landing")
    val out = graft.pipeline.Medallion.run(spark, bronze, s"$tmp/out",
      java.time.Instant.parse("2024-01-15T00:00:00Z")) match {
      case Right(o) => o
      case Left(f) => sys.error(s"medallion pipeline failed at ${f.stage}: ${f.reason}")
    }
    require(out.fact != null) // Outputs fully populated on Right

    // aggregate what landed on disk, not the in-memory frames
    val goldAgg = spark.read.parquet(s"$tmp/out/fact_crypto_daily")
      .groupBy(pmod(col("market_cap_rank"), lit(5)).cast(StringType).as("k"))
      .agg(count(lit(1)).as("n"), round(sum(col("current_price")), 2).as("v"))
      .select(lit("gold").as("side"), col("k"), col("n"), col("v"))
    val dlqSchema = StructType(Seq(
      StructField("raw_data", StringType),
      StructField("error_reason", StringType),
      StructField("timestamp", StringType),
      StructField("validation_type", StringType)))
    val dlqAgg = spark.read.schema(dlqSchema).json(s"$tmp/out/dlq")
      .groupBy(col("error_reason").as("k"))
      .agg(count(lit(1)).as("n"))
      .select(lit("dlq").as("side"), col("k"), col("n"), lit(0.0).as("v"))
    val dimAgg = spark.read.parquet(s"$tmp/out/dim_coins")
      .agg(count(lit(1)).as("n"))
      .select(lit("dim_coins").as("side"), lit("*").as("k"), col("n"), lit(0.0).as("v"))
    val noteSchema = StructType(Seq(
      StructField("pipeline", StringType), StructField("status", StringType),
      StructField("stage", StringType), StructField("reason", StringType)))
    val noteAgg = spark.read.schema(noteSchema).json(s"$tmp/out/notifications")
      .groupBy(col("status").as("k"))
      .agg(count(lit(1)).as("n"))
      .select(lit("notify").as("side"), col("k"), col("n"), lit(0.0).as("v"))
    goldAgg.unionByName(dlqAgg).unionByName(dimAgg).unionByName(noteAgg)
      .orderBy(col("side"), col("k"))
  }

  /** Streaming exact dedup (`dropDuplicatesWithinWatermark`) as a REAL
    * multi-batch stream: events replay as four time slices (two files
    * per micro-batch, oldest first), with duplicate copies injected
    * BOTH within a slice (every 3rd event — batch-local state) and
    * into the NEXT slice (every 5th event — cross-batch state; every
    * 15th gets both). Lateness covers the full event-time span, so
    * nothing is late, no state expires mid-run, and the deduped stream
    * is EXACTLY the original events table — the oracle aggregates that
    * table directly, with no mirror of the injection.
    */
  def q55StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q55")
    // one-pass replay synthesis (r16): the old per-slice unions paid
    // ~10 source scans (4 slices × 2-3 legs). Membership per event:
    // its own event-time slice j (searchsorted over the same cuts as
    // writeEventSlices), j AGAIN if event_id%3=0 (the in-batch exact
    // duplicate), and j+1 if event_id%5=0 and a next slice exists
    // (the cross-batch carry-over — slice i receives slice i−1's %5
    // rows, so slice 0 receives none). Same multiset per slice file;
    // the dedup consumer is content-deterministic within a batch.
    val ev = eventsForReplay(spark, dir)
    val n = 4
    val bounds = ev.agg(min(col("ts")).cast(LongType).as("lo"),
      max(col("ts")).cast(LongType).as("hi")).head()
    val cuts = (0 to n).map(i =>
      bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) * i / n)
    val tsl = col("ts").cast(LongType)
    val j = (1 until n).reverse.foldLeft(lit(n - 1): Column)(
      (acc, i) => when(tsl < cuts(i), i - 1).otherwise(acc))
    val in = writeSliceFilesExploded(ev,
      filter(array(
        j,
        when(col("event_id") % 3 === 0, j),
        when(col("event_id") % 5 === 0 && j < lit(n - 1), j + 1)),
        x => x.isNotNull),
      tmp, n)
    // the replay is bounded → few state partitions (per-partition state
    // commits are the dominant cost; a production stream sizes this up)
    graft.stream.Jobs.runDedupStream(spark, in, lateness = "40 days",
      stateShufflePartitions = Some(8), filesPerTrigger = 2)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** CUBE over (returnflag, linestatus) — completes the grouping-sets
    * family next to q30's ROLLUP, with `grouping_id` disambiguating
    * aggregate-null from data-null rows (both engines use the same
    * first-column-is-MSB bitmask convention).
    */
  def q56Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("l_quantity")), 2).as("sum_qty"),
        grouping_id().cast(IntegerType).as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** SCD Type 2: each customer's order-priority history compressed
    * into versioned rows (valid_from / valid_to / version /
    * is_current) — one key-partitioned sort carries the lag
    * change-detection, the version numbers and the lead validity
    * close-out. Bounded to o_custkey < 200 for a stable row count
    * across SFs.
    */
  def q59Scd2(spark: SparkSession, dir: String): DataFrame =
    Star.scd2(
      Tables.orders(spark, dir).filter(col("o_custkey") < 200)
        .withColumn("o_orderdate", col("o_orderdate").cast(DateType)),
      keyCol = "o_custkey", attrCol = "o_orderpriority",
      effectiveCol = "o_orderdate", tieBreaks = Seq("o_orderkey"))
      .orderBy(col("o_custkey"), col("version"))

  /** Robust outlier profile per event type: median, MAD, and the
    * |x − med| > 3·MAD count — the heavy-tail-safe DQ rule beside
    * q04's mean/stddev profile.
    */
  def q60MadOutliers(spark: SparkSession, dir: String): DataFrame =
    Analyzers.robustOutlierStats(Tables.events(spark, dir), "event_type", "value", 3.0)
      .orderBy(col("event_type"))

  /** Pivot with an EXPLICIT value list (no extra distinct job to
    * discover columns — the form that scales): weekly value totals,
    * one column per event type.
    */
  def q61Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("week", to_date(date_trunc("week", col("ts"))))
      .groupBy(col("week"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(sum(col("value")), 2))
      .orderBy(col("week"))

  /** Stream-stream interval join (click → purchase attribution within
    * 1 h) over the four-slice replay — a REAL two-source streaming
    * query with watermarks on both sides and a time-bounded join
    * condition (state stays bounded in production). Lateness covers
    * the replayed span, so the emitted pairs are exactly the batch
    * interval join the oracle runs.
    */
  def q62StreamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q62")
    val in = writeEventSlicesPlain(eventsForReplay(spark, dir), tmp, 4)
    graft.stream.Jobs.runIntervalJoinStream(spark, in,
      lateness = "40 days", maxGap = "1 hour",
      stateShufflePartitions = Some(8), filesPerTrigger = 2)
      .select(col("user_id"), col("click_id"), col("purchase_id"))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** ntile decile profile — the remaining window-rank family member
    * (row_number/rank/lag/lead are covered elsewhere). A global ntile
    * is inherently a single-partition sort, so like q37's top-k the
    * window input is BOUNDED first: TakeOrderedAndProject keeps the
    * top 1000 orders, ntile runs over ≤ 1000 rows (partitioned on a
    * non-foldable constant to keep WindowExec off the warning path).
    * Unbounded decile profiles belong to the KLL sketch (q32c/q45),
    * not to a global window. Tie-break on the unique key makes bucket
    * boundaries engine-identical.
    */
  def q63NtileDeciles(spark: SparkSession, dir: String): DataFrame = {
    val top = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(1000)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(xxhash64(col("o_orderkey")), lit(1)))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    top
      .withColumn("decile", ntile(10).over(w))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_orders"),
        round(min(col("o_totalprice")), 2).as("lo"),
        round(max(col("o_totalprice")), 2).as("hi"))
      .orderBy(col("decile"))
  }

  /** Streaming session windows over the four-slice replay: sessions
    * merge across micro-batches in the state store and emit once the
    * watermark passes their end — the q18c watermark contract applied
    * to q35's session semantics; the oracle rebuilds sessions
    * first-principles (lag + cumsum) and keeps those the final
    * watermark closed.
    */
  def q70SessionStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q70")
    val in = writeEventSlicesPlain(eventsForReplay(spark, dir), tmp, 4)
    graft.stream.Jobs.runSessionStream(spark, in,
      gap = "30 minutes", lateness = "10 minutes",
      stateShufflePartitions = Some(8), filesPerTrigger = 2)
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Stream-static enrichment: the events stream joined to a static
    * user-tier dim (derived from customer keys, broadcast), aggregated
    * per (tier, event_type). Stateless ⇒ identical to the batch join
    * the oracle runs.
    */
  def q72StreamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"),
        (col("c_custkey") % 3).cast(IntegerType).as("tier"))
    graft.stream.Jobs.runEnrichStream(spark, dir, dim, Seq("user_id"))
      .groupBy(col("tier"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("tier"), col("event_type"))
  }

  /** The customer snapshot + the orders-derived changelog shared by
    * q79 and q90 — ONE definition so the two queries (and their oracle
    * SQL, which mirrors this construction) can never drift apart.
    * Only a quarter of the key space churns: untouched base rows
    * surviving verbatim is half the contract.
    */
  private def cdcBase(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))

  private def cdcChanges(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_custkey") % 4 === 0).select(
        when(col("o_orderkey") % 11 === 0, col("o_custkey") + 1000000L)
          .otherwise(col("o_custkey")).as("c_custkey"),
        lit("CHANGED").as("c_mktsegment"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 7 === 0, lit("D"))
          .when(col("o_orderkey") % 11 === 0, lit("I"))
          .otherwise(lit("U")).as("op"))

  /** CDC changelog apply (MERGE INTO semantics as one aggregation):
    * customer is the base snapshot; orders replay as a keyed changelog
    * (seq = orderkey; every 7th order a DELETE, every 11th an INSERT
    * under a shifted key, the rest UPDATEs) — the applied snapshot
    * summarized per segment. Updates/inserts land in segment 'CHANGED'
    * so survivors of each path are visible in the aggregate.
    */
  def q79CdcApply(spark: SparkSession, dir: String): DataFrame = {
    Transform.applyChangelog(cdcBase(spark, dir), cdcChanges(spark, dir),
      Seq("c_custkey"), "seq", "op")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("acctbal_sum"))
      .orderBy(col("c_mktsegment"))
  }

  /** Explicit GROUPING SETS — the arbitrary-subset form that ROLLUP
    * (q30) and CUBE (q56) are shorthands for: (flag, status), (status),
    * and grand total, skipping the (flag) slice to prove the list is
    * honored verbatim.
    */
  def q80GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        grouping_id().cast(IntegerType).as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Equal-width histogram of document sizes (20 buckets over n_chars):
    * the one-pass corpus-profiling job — bucket boundaries in exact
    * integer arithmetic, O(buckets) output at any corpus size.
    */
  def q81Histogram(spark: SparkSession, dir: String): DataFrame =
    graft.dq.Analyzers.equalWidthHistogram(
      Tables.documents(spark, dir), "n_chars", buckets = 20)
      .orderBy(col("bucket"))

  /** Schema-evolution union: an old-schema slice (no priority column)
    * and a new-schema slice union by NAME with missing columns
    * null-filled — the schema-drift tolerance every long-lived
    * ingestion needs — then aggregate with the missing marker visible.
    */
  def q85SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val v1 = orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val v2 = orders.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
    v1.unionByName(v2, allowMissingColumns = true)
      .groupBy(coalesce(col("o_orderpriority"), lit("<missing>")).as("priority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("priority"))
  }

  /** Table-version diff (snapshot reconciliation): the CDC-applied
    * snapshot (q79's op) full-outer-joined against the original base on
    * the key, rows classified added / removed / changed / unchanged by
    * payload comparison — the regression-diff every pipeline migration
    * runs. One shuffle join; counts + key checksums per status.
    */
  def q90TableDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = cdcBase(spark, dir)
    val next = Transform.applyChangelog(base, cdcChanges(spark, dir),
      Seq("c_custkey"), "seq", "op")
    val a = base.select(col("c_custkey"),
      struct(col("c_mktsegment"), col("c_acctbal")).as("old_p"))
    val b = next.select(col("c_custkey"),
      struct(col("c_mktsegment"), col("c_acctbal")).as("new_p"))
    a.join(b, Seq("c_custkey"), "full_outer")
      .withColumn("status",
        when(col("old_p").isNull, lit("added"))
          .when(col("new_p").isNull, lit("removed"))
          .when(col("old_p") === col("new_p"), lit("unchanged"))
          .otherwise(lit("changed")))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("key_sum"))
      .orderBy(col("status"))
  }

  /** Cross-table referential-integrity audit — the DQ family's missing
    * multi-table check: orphaned lineitems (no order) and orphaned
    * orders (no customer) via anti joins, reported beside the parent
    * row counts. On clean TPC-H-ish data both orphan counts are 0 —
    * the point: the AUDIT itself is the hash-checked artifact, and any
    * integrity regression in an ingest flips the row.
    */
  def q91IntegrityAudit(spark: SparkSession, dir: String): DataFrame = {
    // one aggregation per relationship (rows + orphans in the same
    // pass), no driver-side counts
    def audit(child: DataFrame, childKey: String, parent: DataFrame,
        parentKey: String, label: String): DataFrame =
      child.select(col(childKey))
        .join(parent.select(col(parentKey).as("__k")).distinct()
          .withColumn("__p", lit(1)), col(childKey) === col("__k"), "left_outer")
        .agg(count(lit(1)).as("rows"),
          // a no-group agg over ZERO rows yields sum=NULL; the audit
          // must report 0 orphans for an empty child, like the oracle
          coalesce(sum(when(col("__p").isNull, 1L).otherwise(0L)), lit(0L))
            .as("orphans"))
        .select(explode(array(
          struct(lit(s"${label}_rows").as("check"), col("rows").as("n")),
          struct(lit(s"${label}_orphans").as("check"), col("orphans").as("n")))).as("e"))
        .select(col("e.check").as("check"), col("e.n").as("n"))
    audit(Tables.lineitem(spark, dir), "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey", "lineitem")
      .unionByName(audit(Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir), "c_custkey", "orders"))
      .orderBy(col("check"))
  }

  /** q79's CDC merge as a REAL incremental stream: the changelog
    * replays in four seq-ordered micro-batches (one file each,
    * oldest-first mod times) through `runChangelogStream`, each batch
    * merging into a versioned snapshot; the FINAL snapshot must equal
    * the one-shot batch apply — q79's oracle verbatim.
    */
  def q96StreamCdc(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q96")
    val changes = cdcChanges(spark, dir)
    val mx = changes.agg(max(col("seq"))).head().getLong(0)
    // contiguous ascending seq ranges — the order a CDC log delivers,
    // which is runChangelogStream's cross-batch contract. One-pass
    // form (r16): slice = searchsorted(seq) over the same quarter
    // cuts (seq = o_orderkey ≥ 1, so the old `seq > 0` lower bound of
    // slice 0 admits every row, as here); the changelog merge keys on
    // (c_custkey, max seq), so within-batch row order is immaterial
    val in = writeSliceFilesByExpr(changes,
      (1 until 4).reverse.foldLeft(lit(3): Column)(
        (acc, i) => when(col("seq") <= mx * i / 4, i - 1).otherwise(acc)),
      tmp, 4)
    val v = Jobs.runChangelogStream(spark, cdcBase(spark, dir), in,
      changes.schema, Seq("c_custkey"), "seq", "op", s"$tmp/snap", s"$tmp/ckpt")
    // retention runs IN the oracle-checked path: superseded full
    // snapshots are deleted, the latest version must be untouched
    graft.sinks.Writers.pruneSnapshotVersions(spark, s"$tmp/snap", keep = 2)
    spark.read.parquet(s"$tmp/snap/v=$v")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("acctbal_sum"))
      .orderBy(col("c_mktsegment"))
  }

  /** q89's rate-limit throttle as a REAL stateful stream: the per-key
    * last-kept anchor lives in `transformWithState` ValueState across
    * four event-time-ordered micro-batches; the kept set must equal the
    * batch `flatMapSortedGroups` recurrence — q89's recursive-CTE
    * oracle verbatim. (Duplicate (user, ts) pairs need no explicit
    * distinct in the stream: an equal-timestamp event is 0 µs after
    * the anchor and drops, which is the same kept set.)
    */
  def q99StreamThrottle(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q99")
    val in = writeEventSlicesPlain(
      eventsForReplay(spark, dir).filter(col("user_id") < 12), tmp, 4)
    val kept = graft.stream.Stateful
      .runThrottleStream(spark, in, cooldownUs = 6L * 3600L * 1000000L,
        stateShufflePartitions = Some(8))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_kept"))
    Tables.events(spark, dir).filter(col("user_id") < 12)
      .select(col("user_id"), col("ts")).distinct()
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      .join(kept, Seq("user_id"))
      .orderBy(col("user_id"))
  }

  private def eventQi: Seq[org.apache.spark.sql.Column] = Seq(
    col("event_type"), to_date(col("ts")).as("day"),
    floor(col("value") / lit(100.0)).cast("long").as("value_band"))

  /** k-anonymity audit (`dq/Privacy`): equivalence classes over the
    * quasi-identifiers (event type × day × value band) with sizes and
    * the size-under-k risk verdict — the privacy-review artifact that
    * gates a release. One partial-aggregated keyed shuffle.
    */
  def q134KAnonymity(spark: SparkSession, dir: String): DataFrame =
    graft.dq.Privacy.kAnonymityClasses(
      Tables.events(spark, dir), eventQi, k = 5L)
      .orderBy(col("event_type"), col("day"), col("value_band"))

  /** Enforcement twin of q134: rows in under-k classes suppressed via
    * a window count on the SAME key (no join back); the per-type
    * summary (kept/suppressed/id checksum) hash-checks the exact
    * suppression set, not just counts.
    */
  def q134bKAnonymityEnforce(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val kept = graft.dq.Privacy.enforceKAnonymity(ev, eventQi, k = 5L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_kept"), sum(col("event_id")).as("kept_id_sum"))
    val all = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"))
    all.join(kept, Seq("event_type"), "left")
      .select(col("event_type"), col("n_rows"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_rows") - coalesce(col("n_kept"), lit(0L))).as("n_suppressed"),
        coalesce(col("kept_id_sum"), lit(0L)).as("kept_id_sum"))
      .orderBy(col("event_type"))
  }

  /** Numeric drift ([[graft.dq.Analyzers.numericDrift]]): q146's PSI
    * machinery over a continuous feature — document character length
    * bucketed into 10 fixed-width bins on [0, 500) (fixed range, so
    * the binning can't shift between versions), even vs odd corpus
    * halves. The length drift a truncation bug or extraction change
    * would show first.
    */
  def q150LengthDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def half(side: Int) = docs
      .filter(pmod(col("doc_id"), lit(2)) === side)
      .select(length(col("text")).as("len"))
    graft.dq.Analyzers.numericDrift(half(0), half(1), "len", 0.0, 500.0, 10)
      .orderBy(col("category"))
  }

  /** l-diversity audit ([[graft.dq.Privacy.lDiversityClasses]]):
    * q134's QI classes re-graded on DISTINCT sensitive values
    * (user_id) — the homogeneity-attack gap k-anonymity leaves open
    * (a large class whose rows all belong to one user still
    * re-identifies them). Same single keyed shuffle; the distinct
    * count compiles to a partial-distinct aggregate.
    */
  def q163LDiversity(spark: SparkSession, dir: String): DataFrame =
    graft.dq.Privacy.lDiversityClasses(
      Tables.events(spark, dir), eventQi, col("user_id"), l = 3L)
      .orderBy(col("event_type"), col("day"), col("value_band"))

  /** Enforcement twin of q163: rows in under-l classes suppressed via
    * a dense_rank max over the SAME keyed sort (windows can't express
    * `count(DISTINCT) OVER` — the rank trick keeps it one shuffle, no
    * join back). Per-type summary with id checksums pins the exact
    * suppression set, the q134b shape.
    */
  def q163bLDiversityEnforce(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val kept = graft.dq.Privacy.enforceLDiversity(ev, eventQi, col("user_id"), l = 3L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_kept"), sum(col("event_id")).as("kept_id_sum"))
    val all = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"))
    all.join(kept, Seq("event_type"), "left")
      .select(col("event_type"), col("n_rows"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_rows") - coalesce(col("n_kept"), lit(0L))).as("n_suppressed"),
        coalesce(col("kept_id_sum"), lit(0L)).as("kept_id_sum"))
      .orderBy(col("event_type"))
  }

  /** The q172/q177 shared three-version edit recipe: base balances →
    * CDC-style update (every 10th doubled) → delete sweep (every 7th
    * removed). Returns the published table path.
    */
  private def publishCustVersions(spark: SparkSession, dir: String): String = {
    val tmp = tempDir("graft-versions")
    val path = s"$tmp/cust"
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"))
    graft.sinks.Versioned.publish(base, path, 0)
    val v1 = base.withColumn("c_acctbal",
      when(pmod(col("c_custkey"), lit(10)) === 0, col("c_acctbal") * 2)
        .otherwise(col("c_acctbal")))
    graft.sinks.Versioned.publish(v1, path, 1)
    graft.sinks.Versioned.publish(
      v1.filter(pmod(col("c_custkey"), lit(7)) =!= 0), path, 2)
    path
  }

  /** Time-travel reads over versioned snapshots
    * ([[graft.sinks.Versioned]]): publish three versions of the
    * customer balance table (base → CDC-style balance update → delete
    * sweep), then read each AS OF its version — the reproducible-
    * training-run primitive ("corpus v=12") and the debugging read
    * ("before yesterday's load"). The per-version stats (rows, id
    * checksum, exact balance cents) pin that every retained snapshot
    * is intact and isolated from later writers; `latest_version` pins
    * the listing logic. Oracle replays the same edit recipe.
    */
  def q172TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val path = publishCustVersions(spark, dir)
    val latest = graft.sinks.Versioned.latestVersion(spark, path)
    (0L to 2L).map { v =>
      graft.sinks.Versioned.readAsOf(spark, path, v)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("c_custkey")).as("id_sum"),
          sum(round(col("c_acctbal") * 100).cast("long")).as("bal_cents"))
        .select(lit(v).as("version"), col("n_rows"), col("id_sum"),
          col("bal_cents"), lit(latest).as("latest_version"))
    }.reduce(_.unionByName(_)).orderBy(col("version"))
  }

  /** Version-to-version DIFF over the q172 snapshots: for each
    * consecutive pair, the full-outer keyed comparison summarized as
    * added/removed/changed/unchanged — the change-audit a versioned
    * table ships with (q90's per-row diff, lifted to the version
    * timeline). The v0→v1 changed count excludes zero-balance
    * customers (doubling 0 changes nothing) — the value comparison,
    * not the edit recipe, decides.
    */
  def q177VersionDiff(spark: SparkSession, dir: String): DataFrame = {
    val path = publishCustVersions(spark, dir)
    def diff(fromV: Long, toV: Long) = {
      val a = graft.sinks.Versioned.readAsOf(spark, path, fromV)
        .select(col("c_custkey"), col("c_acctbal").as("old_b"))
      val b = graft.sinks.Versioned.readAsOf(spark, path, toV)
        .select(col("c_custkey"), col("c_acctbal").as("new_b"))
      a.join(b, Seq("c_custkey"), "full_outer")
        .agg(
          sum(when(col("old_b").isNull, 1L).otherwise(0L)).as("n_added"),
          sum(when(col("new_b").isNull, 1L).otherwise(0L)).as("n_removed"),
          sum(when(col("old_b").isNotNull && col("new_b").isNotNull &&
            col("old_b") =!= col("new_b"), 1L).otherwise(0L)).as("n_changed"),
          sum(when(col("old_b") === col("new_b"), 1L).otherwise(0L))
            .as("n_unchanged"))
        .select(lit(fromV).as("from_version"), lit(toV).as("to_version"),
          col("n_added"), col("n_removed"), col("n_changed"),
          col("n_unchanged"))
    }
    diff(0L, 1L).unionByName(diff(1L, 2L)).orderBy(col("from_version"))
  }

  /** Key-skew audit ([[graft.dq.Analyzers.skewReport]]) over the
    * event stream, with a planted hot key (every 3rd event) so the
    * report provably recommends a real salt count at every SF (the
    * q135 injection discipline) — measure the skew, THEN pick the
    * q43/q75 salt factor, instead of guessing.
    */
  def q173SkewReport(spark: SparkSession, dir: String): DataFrame =
    graft.dq.Analyzers.skewReport(
      Tables.events(spark, dir),
      when(pmod(col("event_id"), lit(3)) === 0, lit("hot"))
        .otherwise(col("event_type")),
      topN = 10)

  /** Materialized-view incremental refresh
    * ([[graft.etl.Transform.mergeAggStates]]): the hourly rollup's
    * partial states from a base load (80% of events) and a delta
    * batch (the rest) merged algebraically — and the oracle computes
    * the FULL recompute directly, so the hash check IS the
    * incremental-maintenance theorem (merged ≡ recomputed). Exact
    * cents arithmetic; the derived mean is a truncating division at
    * read time.
    */
  def q174MvMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def state(cond: Column) = ev.filter(cond)
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
    Transform.mergeAggStates(
      Seq(state(pmod(col("event_id"), lit(5)) =!= 4),
        state(pmod(col("event_id"), lit(5)) === 4)),
      Seq("hr"), Seq("n_events", "value_cents"))
      .withColumn("avg_cents", expr("value_cents div n_events"))
      .orderBy(col("hr"))
  }

  /** STREAMING MV maintenance
    * ([[graft.stream.Jobs.runAggMergeStream]]): the q174 hourly
    * rollup maintained per micro-batch by ALGEBRAIC state merge —
    * delta-sized work per trigger, the genuinely incremental contrast
    * to the snapshot-recompute twins (q104b/q146b/q162b), possible
    * exactly because counts and sums are commutative monoids. The
    * final published state shares q174's full-recompute oracle: the
    * hash check is the maintenance theorem under arbitrary batch
    * slicing.
    */
  def q174bMvStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q174b")
    val (in, schema) = eventSliceStreamInput(spark, dir, tmp)
    graft.stream.Jobs.runAggMergeStream(spark, in, schema, s"$tmp/work",
      batch => batch
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("value_cents")),
      keyCols = Seq("hr"), measureCols = Seq("n_events", "value_cents"))
      .withColumn("avg_cents", expr("value_cents div n_events"))
      .orderBy(col("hr"))
  }

  /** Mutual information between event type and hour-of-day
    * ([[graft.dq.Analyzers.mutualInformation]]): the dependence
    * profile ("does the clock predict the event mix?") behind feature
    * selection and leakage hunts — per-cell MI terms from exact
    * integer counts, Σ = MI.
    */
  def q184MutualInfo(spark: SparkSession, dir: String): DataFrame =
    graft.dq.Analyzers.mutualInformation(
      Tables.events(spark, dir), col("event_type"), hour(col("ts")))
      .orderBy(col("x"), col("y"))

  /** Robust per-type value statistics: the 10%-trimmed mean beside
    * the raw mean — the robust-location summary q60's MAD outlier
    * flags complement (MAD says WHICH rows are extreme; the trimmed
    * mean reports the level with the tails excised). Exact: trim
    * counts by deterministic (value, id) rank windows, means by
    * truncating division on cents.
    */
  def q186TrimmedMean(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type").as("key"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
    val asc = Window.partitionBy(col("key"))
      .orderBy(col("cents").asc, col("event_id").asc)
    val desc = Window.partitionBy(col("key"))
      .orderBy(col("cents").desc, col("event_id").desc)
    ev.withColumn("__ra", row_number().over(asc))
      .withColumn("__rd", row_number().over(desc))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("key"))))
      .withColumn("__k", expr("__n div 10"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_rows"),
        expr("sum(cents) div count(1)").as("mean_cents"),
        sum(when(col("__ra") > col("__k") && col("__rd") > col("__k"), 1L)
          .otherwise(0L)).as("n_kept"),
        expr("sum(CASE WHEN __ra > __k AND __rd > __k THEN cents END)" +
          " div sum(CASE WHEN __ra > __k AND __rd > __k THEN 1 END)")
          .as("trimmed_mean_cents"))
      .select(col("key"), col("n_rows"), col("n_kept"),
        col("mean_cents"), col("trimmed_mean_cents"))
      .orderBy(col("key"))
  }

  /** t-closeness audit ([[graft.dq.Privacy.tClosenessClasses]]):
    * completes the release-gate trilogy — k-anonymity bounds class
    * SIZE (q134), l-diversity bounds distinct sensitive VALUES
    * (q163), t-closeness bounds the sensitive DISTRIBUTION's EMD
    * distance from the global one (the skewness attack the other two
    * miss). QI = (event type, day); sensitive = value band. Exact
    * cross-multiplied integer EMD in DECIMAL(38,0); the at_risk
    * verdict is multiplied-through, so no floor can flip it.
    */
  def q193TCloseness(spark: SparkSession, dir: String): DataFrame =
    graft.dq.Privacy.tClosenessClasses(
      Tables.events(spark, dir).filter(col("value").isNotNull),
      Seq(col("event_type"), to_date(col("ts")).as("day")),
      floor(col("value") / lit(100.0)).cast("long"),
      tPpmBound = 250000L)
      .orderBy(col("event_type"), col("day"))

  /** Benford first-digit audit
    * ([[graft.dq.Analyzers.benfordReport]]) over order totals (in
    * cents): the forensic screen for fabricated or unit-mangled
    * numeric columns. Digits come from the long's STRING form (no
    * log/float), expectations are compile-time ppm constants, shares
    * are exact truncating ppm — the whole 9-row table hash-checks.
    */
  def q195Benford(spark: SparkSession, dir: String): DataFrame =
    graft.dq.Analyzers.benfordReport(
      Tables.orders(spark, dir), round(col("o_totalprice") * 100))
      .orderBy(col("digit"))

  /** ORC source/sink roundtrip — the second columnar format a lake
    * engine must speak (Spark's built-in ORC datasource; no external
    * connector): the orders table lands as ORC partitioned by status,
    * reads back through a fresh scan, and aggregates — which must
    * equal the same aggregation straight off the parquet source, so
    * the oracle (DuckDB reads only the parquet) pins type fidelity
    * (timestamps, doubles, strings) across the format boundary. The
    * partitioned layout keeps ORC's predicate/partition pruning
    * available at scale.
    */
  def q211OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q211")
    Tables.orders(spark, dir)
      .write.mode("overwrite").partitionBy("o_orderstatus")
      .orc(s"$tmp/orders_orc")
    spark.read.orc(s"$tmp/orders_orc")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"),
        max(col("o_orderdate")).as("last_order"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy(col("o_orderstatus"))
  }

  /** CSV source tier ([[graft.sources.Readers.csvWithSchema]] — the
    * O-07 schema-enforcement discipline on the highest-traffic
    * real-world tabular format, north-star scope: the reference's
    * landing is JSON-only, ref glue/data_ingestion_s3.py:30-31).
    * Orders round-trip Spark's CSV writer/reader under a declared
    * schema (quoting, doubles, timestamps), with three TYPE-corrupt
    * lines planted in the landing dir that must route to the
    * corrupt-record DLQ — not fail the read, not pollute the typed
    * aggregates. ONE scan computes the good-side rollup and the DLQ
    * census (the corrupt rows form their own 'DLQ' group), so the
    * split costs nothing extra and the plan always references real
    * data columns (the corrupt-only-projection contract).
    */
  def q260CsvIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = tempDir("graft-q260")
    // corrupt lines first (plain text part files in the landing dir:
    // the reader globs every non-hidden file), real rows appended as
    // CSV — each line carries exactly one planted type failure
    spark.createDataset(Seq(
      "notanumber,7,O,1.5,1996-01-02T00:00:00.000Z,1-URGENT",
      "12,zz,F,2.5,1996-01-02T00:00:00.000Z,2-HIGH",
      "13,14,P,notadouble,1996-01-02T00:00:00.000Z,3-MEDIUM"))
      .coalesce(1).write.mode("overwrite").text(s"$tmp/landing")
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      .write.mode("append").csv(s"$tmp/landing")
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType, nullable = true),
      StructField("o_custkey", LongType, nullable = true),
      StructField("o_orderstatus", StringType, nullable = true),
      StructField("o_totalprice", DoubleType, nullable = true),
      StructField("o_orderdate", TimestampType, nullable = true),
      StructField("o_orderpriority", StringType, nullable = true)))
    val parsed = graft.sources.Readers.csvWithSchema(
      spark, s"$tmp/landing", schema)
    val bad = col("_corrupt_record").isNotNull
    parsed
      .groupBy(when(bad, lit("DLQ")).otherwise(col("o_orderstatus"))
        .as("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(when(!bad, col("o_totalprice"))), 2).as("sum_total"),
        countDistinct(when(!bad, col("o_orderpriority"))).as("n_prio"),
        max(when(!bad, col("o_orderdate"))).as("last_order"))
      .orderBy(col("o_orderstatus"))
  }

  /** Per-type hourly-volume TREND: exact integer least squares of the
    * hourly count series against its own hour index — slope_ppm =
    * (n·Σxy − Σx·Σy)·10⁶ div (n·Σx² − (Σx)²), all longs (the
    * question drift (level changed?) and changepoint (when?) don't
    * answer: how FAST is it changing). One hourly aggregation, one
    * keyed window for the index, one per-key aggregate.
    */
  def q181VolumeTrend(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("hr"))
    Tables.events(spark, dir)
      .groupBy(col("event_type").as("key"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("y"))
      .withColumn("x", (row_number().over(w) - 1).cast("long"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_obs"), sum(col("y")).as("sum_y"),
        sum(col("x")).as("__sx"), sum(col("x") * col("x")).as("__sxx"),
        sum(col("x") * col("y")).as("__sxy"))
      .select(col("key"), col("n_obs"), col("sum_y"),
        expr("sum_y * 1000000 div n_obs").as("mean_y_ppm"),
        expr("(n_obs * __sxy - __sx * sum_y) * 1000000" +
          " div (n_obs * __sxx - __sx * __sx)").as("slope_ppm"))
      .orderBy(col("key"))
  }

  /** Exact Kolmogorov–Smirnov drift ([[graft.dq.Analyzers.ksDrift]])
    * on document length between the two corpus halves: the bin-free
    * companion to q150's fixed-bin PSI. The supremum, its location,
    * and the tie-break are pure long arithmetic (cross-multiplied CDF
    * comparison; two-phase prefix sums) — the oracle replays the CDFs
    * with one global window, a deliberately different formulation of
    * the same exact quantities.
    */
  def q156KsDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def half(side: Int) = docs
      .filter(pmod(col("doc_id"), lit(2)) === side)
      .select(length(col("text")).as("len"))
    graft.dq.Analyzers.ksDrift(half(0), half(1), "len")
  }

  /** Shared by q79 (one-shot batch apply) and q96 (incremental
    * streaming apply): both must converge to the same snapshot.
    */
  private val cdcSnapshotOracle: String =
    """WITH ch AS (
      |  SELECT CASE WHEN o_orderkey % 11 = 0 THEN o_custkey + 1000000
      |              ELSE o_custkey END AS key,
      |         o_orderkey AS seq,
      |         CASE WHEN o_orderkey % 7 = 0 THEN 'D'
      |              WHEN o_orderkey % 11 = 0 THEN 'I'
      |              ELSE 'U' END AS op,
      |         o_totalprice AS bal
      |  FROM orders WHERE o_custkey % 4 = 0),
      |last AS (
      |  SELECT key, op, bal FROM (
      |    SELECT key, op, bal,
      |           row_number() OVER (PARTITION BY key
      |             ORDER BY seq DESC, op DESC) AS rn
      |    FROM ch) WHERE rn = 1),
      |snap AS (
      |  SELECT CASE WHEN l.key IS NULL THEN c.c_mktsegment
      |              ELSE 'CHANGED' END AS seg,
      |         CASE WHEN l.key IS NULL THEN c.c_acctbal ELSE l.bal END AS bal,
      |         coalesce(l.op, 'B') AS op
      |  FROM customer c FULL JOIN last l ON c.c_custkey = l.key)
      |SELECT seg AS c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |       round(sum(bal), 2) AS acctbal_sum
      |FROM snap WHERE op <> 'D' GROUP BY 1 ORDER BY 1""".stripMargin

  /** q174/q174b shared oracle: the hourly rollup recomputed from
    * scratch — merged (batch or streamed) state must equal it.
    */
  private def mvMergeSql: String =
    """SELECT date_trunc('hour', ts) AS hr,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |         AS value_cents,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |         // count(*) AS avg_cents
      |FROM events GROUP BY 1 ORDER BY hr""".stripMargin

  private def validateEventsOracle: String =
    """SELECT event_id,
      |       NOT (value IS NULL OR value <= 0
      |            OR (value IS NOT NULL AND value > 0 AND value < 0.05)
      |            OR event_type = 'error') AS is_valid,
      |       concat_ws(' | ',
      |         CASE WHEN value IS NULL OR value <= 0 THEN 'Invalid or zero value' END,
      |         CASE WHEN value IS NOT NULL AND value > 0 AND value < 0.05
      |              THEN 'Value below threshold' END,
      |         CASE WHEN event_type = 'error' THEN 'Error event' END) AS error_reason,
      |       value > 450.0 AS is_alert
      |FROM events ORDER BY event_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q01_dedup_latest_agg", q01DedupLatestAgg, Some(
      """WITH dedup AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY l_orderkey
        |      ORDER BY l_shipdate DESC, l_linenumber DESC,
        |               l_partkey DESC, l_suppkey DESC) AS rn
        |    FROM lineitem) WHERE rn = 1)
        |SELECT l_returnflag,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(avg(l_extendedprice), 2) AS avg_price
        |FROM dedup
        |WHERE l_orderkey IS NOT NULL
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),
    QueryDef("q02_cast_projection", q02CastProjection, Some(
      """SELECT o_orderkey AS order_id,
        |       CAST(o_custkey AS INT) AS cust_id,
        |       o_orderstatus AS status,
        |       o_totalprice AS total_price,
        |       CAST(o_orderdate AS DATE) AS order_date,
        |       o_orderpriority AS priority
        |FROM orders ORDER BY order_id""".stripMargin)),
    QueryDef("q03_schema_enforce", q03SchemaEnforce, Some(
      """WITH ev AS (
        |  SELECT event_id, ts,
        |         CASE WHEN event_id % 13 = 0 THEN NULL ELSE user_id END AS user_id,
        |         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
        |  FROM events)
        |SELECT event_id,
        |       (event_id IS NOT NULL AND ts IS NOT NULL
        |        AND user_id IS NOT NULL AND value IS NOT NULL) AS is_valid,
        |       CASE WHEN event_id IS NOT NULL AND ts IS NOT NULL
        |                 AND user_id IS NOT NULL AND value IS NOT NULL THEN ''
        |            ELSE 'Missing required fields: ' || concat_ws(', ',
        |                 CASE WHEN event_id IS NULL THEN 'event_id' END,
        |                 CASE WHEN ts IS NULL THEN 'ts' END,
        |                 CASE WHEN user_id IS NULL THEN 'user_id' END,
        |                 CASE WHEN value IS NULL THEN 'value' END)
        |       END AS error_reason
        |FROM ev ORDER BY event_id""".stripMargin)),
    QueryDef("q04_dq_metrics", q04DqMetrics, Some(
      """WITH t AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS size_v,
        |         CAST(count(l_orderkey) AS DOUBLE) / count(*) AS compl_ok,
        |         CAST(count(l_quantity) AS DOUBLE) / count(*) AS compl_q,
        |         avg(l_extendedprice) AS mean_p,
        |         stddev_pop(l_quantity) AS sd_q,
        |         CAST(min(l_extendedprice) AS DOUBLE) AS min_p,
        |         CAST(max(l_extendedprice) AS DOUBLE) AS max_p,
        |         CAST(median(l_quantity) AS DOUBLE) AS med_q,
        |         CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS cd_ok
        |  FROM lineitem),
        |u AS (
        |  SELECT CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / sum(c) AS uq
        |  FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey))
        |SELECT * FROM (
        |  SELECT 'Dataset' AS entity, '*' AS instance, 'Size' AS name,
        |         round(size_v, 4) AS value FROM t
        |  UNION ALL SELECT 'Column', 'l_orderkey', 'Completeness', round(compl_ok, 4) FROM t
        |  UNION ALL SELECT 'Column', 'l_quantity', 'Completeness', round(compl_q, 4) FROM t
        |  UNION ALL SELECT 'Column', 'l_extendedprice', 'Mean', round(mean_p, 4) FROM t
        |  UNION ALL SELECT 'Column', 'l_quantity', 'StandardDeviation', round(sd_q, 4) FROM t
        |  UNION ALL SELECT 'Column', 'l_extendedprice', 'Minimum', round(min_p, 4) FROM t
        |  UNION ALL SELECT 'Column', 'l_extendedprice', 'Maximum', round(max_p, 4) FROM t
        |  UNION ALL SELECT 'Column', 'l_quantity', 'Median', round(med_q, 4) FROM t
        |  UNION ALL SELECT 'Column', 'l_orderkey', 'CountDistinct', round(cd_ok, 4) FROM t
        |  UNION ALL SELECT 'Column', 'l_orderkey', 'Uniqueness', round(uq, 4) FROM u)
        |ORDER BY instance, name""".stripMargin)),
    QueryDef("q05_dq_row_outcomes", q05DqRowOutcomes, Some(
      """WITH annotated AS (
        |  SELECT concat_ws(',',
        |           CASE WHEN NOT (l_quantity IS NOT NULL AND l_quantity > 0)
        |                THEN 'ColumnValues_l_quantity_gt_0' END,
        |           CASE WHEN NOT (l_quantity IS NOT NULL AND l_quantity <= 45)
        |                THEN 'ColumnValues_l_quantity_le_45' END,
        |           CASE WHEN NOT (l_discount IS NOT NULL AND l_discount <= 0.05)
        |                THEN 'ColumnValues_l_discount_le_005' END) AS failed_rules
        |  FROM lineitem)
        |SELECT CASE WHEN failed_rules = '' THEN 'Passed' ELSE 'Failed' END
        |         AS DataQualityEvaluationResult,
        |       failed_rules,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM annotated
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)),
    QueryDef("q06_dim_date", q06DimDate, Some(
      """WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS date FROM orders)
        |SELECT date,
        |       CAST(year(date) AS INT) AS year,
        |       CAST(month(date) AS INT) AS month,
        |       CAST(day(date) AS INT) AS day,
        |       CAST(quarter(date) AS INT) AS quarter,
        |       CAST(dayofweek(date) + 1 AS INT) AS day_of_week,
        |       CAST(weekofyear(date) AS INT) AS week_of_year,
        |       monthname(date) AS month_name,
        |       dayname(date) AS day_name,
        |       dayofweek(date) IN (0, 6) AS is_weekend
        |FROM d ORDER BY date""".stripMargin)),
    QueryDef("q07_star_join", q07StarJoin, Some(
      """SELECT r_name, n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin)),
    QueryDef("q08_topk", q08TopK, Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),
    QueryDef("q09_upsert", q09Upsert, Some(
      """WITH incoming AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         o_totalprice * 1.05 AS o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders
        |  WHERE CAST(o_orderdate AS DATE) >= DATE '1999-01-01'),
        |merged AS (
        |  -- NOT EXISTS (not NOT IN): on this data o_orderdate is never
        |  -- NULL, but NOT IN under a NULL key collapses to zero rows —
        |  -- keep the safe form as the template (q91's lesson)
        |  SELECT * FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM incoming i
        |                    WHERE i.o_orderdate = o.o_orderdate)
        |  UNION ALL SELECT * FROM incoming)
        |SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       round(sum(o_totalprice), 2) AS total
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    QueryDef("q10_union_distinct", q10UnionDistinct, Some(
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin)),
    QueryDef("q17_validate_events", q17ValidateEvents, Some(validateEventsOracle)),
    QueryDef("q18_window_hourly", q18WindowHourly, Some(
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("q18b_window_sliding", q18bWindowSliding, Some(
      """SELECT time_bucket(INTERVAL '15 minutes', ts)
        |         - to_minutes(15 * CAST(k.k AS INT)) AS window_start,
        |       event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) k
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin)),
    QueryDef("q18c_window_stream", q18cWindowStreamSliding, Some(
      """WITH wm AS (
        |  SELECT max(make_timestamp(epoch_ns(ts) // 1000))
        |           - INTERVAL 10 MINUTE AS w
        |  FROM events)
        |SELECT * FROM (
        |  SELECT time_bucket(INTERVAL '15 minutes', ts)
        |           - to_minutes(15 * CAST(k.k AS INT)) AS window_start,
        |         event_type,
        |         CAST(count(*) AS BIGINT) AS n_events,
        |         round(sum(value), 2) AS sum_value
        |  FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) k
        |  GROUP BY window_start, event_type)
        |WHERE window_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
        |ORDER BY window_start, event_type""".stripMargin), streaming = true),
    QueryDef("q19_stream_validate", q19StreamValidate,
      Some(validateEventsOracle), streaming = true),
    QueryDef("q19b_stateful_edges", q19bStatefulEdges, Some(
      """WITH w AS (
        |  SELECT event_id, user_id, value,
        |         lag(value) OVER (
        |           PARTITION BY user_id
        |           ORDER BY epoch_ns(ts) // 1000, event_id) AS prev
        |  FROM events)
        |SELECT event_id, user_id, value FROM w
        |WHERE value > 200.0 AND (prev IS NULL OR prev <= 200.0)
        |ORDER BY event_id""".stripMargin), streaming = true),
    // same semantics, same oracle — q19c runs it on transformWithState
    QueryDef("q19c_stateful_tws", q19cStatefulTws, Some(
      """WITH w AS (
        |  SELECT event_id, user_id, value,
        |         lag(value) OVER (
        |           PARTITION BY user_id
        |           ORDER BY epoch_ns(ts) // 1000, event_id) AS prev
        |  FROM events)
        |SELECT event_id, user_id, value FROM w
        |WHERE value > 200.0 AND (prev IS NULL OR prev <= 200.0)
        |ORDER BY event_id""".stripMargin), streaming = true),
    QueryDef("q20_props_json", q20PropsJson, Some(
      """WITH ev AS (
        |  SELECT event_type,
        |         CASE WHEN event_id % 97 = 0 THEN 'not-json' ELSE props END AS props
        |  FROM events),
        |parsed AS (
        |  SELECT event_type,
        |         CAST(nullif(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS INT) AS k
        |  FROM ev)
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |       CAST(sum(k) AS BIGINT) AS sum_k
        |FROM parsed GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QueryDef("q26_monthly_report", q26MonthlyReport, Some(
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("q27_dq_check_results", q27DqCheckResults, Some(
      """WITH m AS (
        |  SELECT count(*) AS n,
        |         CAST(count(l_orderkey) AS DOUBLE) / count(*) AS compl_o,
        |         CAST(sum(CASE WHEN NOT (l_quantity IS NOT NULL AND l_quantity > 0)
        |             THEN 1 ELSE 0 END) AS DOUBLE) AS cv_q_bad,
        |         CAST(sum(CASE WHEN NOT (l_discount IS NOT NULL AND l_discount <= 0.05)
        |             THEN 1 ELSE 0 END) AS DOUBLE) AS cv_d_bad,
        |         CAST(count(l_extendedprice) AS DOUBLE) / count(*) AS compl_e
        |  FROM lineitem),
        |u AS (
        |  SELECT CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / sum(c)
        |           AS uniq_v
        |  FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey)),
        |rows_ AS (
        |  SELECT 'IsComplete l_orderkey' AS constraint,
        |         compl_o = 1.0 AS ok, compl_o AS val FROM m, u
        |  UNION ALL SELECT 'ColumnValues l_quantity gt_0',
        |         cv_q_bad = 0, cv_q_bad FROM m, u
        |  UNION ALL SELECT 'ColumnValues l_discount le_005',
        |         cv_d_bad = 0, cv_d_bad FROM m, u
        |  UNION ALL SELECT 'RowCount between 50 and 10000000',
        |         n BETWEEN 50 AND 10000000, CAST(n AS DOUBLE) FROM m, u
        |  UNION ALL SELECT 'Completeness l_extendedprice > 0.95',
        |         compl_e > 0.95, compl_e FROM m, u
        |  UNION ALL SELECT 'Uniqueness l_orderkey > 0.99',
        |         uniq_v > 0.99, uniq_v FROM m, u),
        |overall AS (SELECT CASE WHEN bool_and(ok) THEN 'Success' ELSE 'Error' END AS st
        |            FROM rows_)
        |SELECT 'DataQualityCheck' AS check, 'Error' AS check_level,
        |       overall.st AS check_status, rows_.constraint,
        |       CASE WHEN rows_.ok THEN 'Success' ELSE 'Failure' END AS constraint_status,
        |       CASE WHEN rows_.ok THEN ''
        |            ELSE printf('observed=%.4f', rows_.val) END AS constraint_message
        |FROM rows_, overall ORDER BY rows_.constraint""".stripMargin)),
    QueryDef("q28_anti_join", q28AntiJoin, Some(
      """-- NOT EXISTS (not NOT IN): l_orderkey is non-NULL here, but the
        |-- NULL-safe form is the template (NOT IN + one NULL = no rows)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),
    QueryDef("q29_outer_join", q29OuterJoin, Some(
      """WITH rev AS (
        |  SELECT l_orderkey AS o_orderkey,
        |         sum(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem GROUP BY 1)
        |SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CASE WHEN rev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_items,
        |       round(sum(coalesce(rev, 0.0)), 2) AS revenue
        |FROM orders LEFT JOIN rev USING (o_orderkey)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    QueryDef("q31_sql_star", q31SqlStar, Some(
      """SELECT r_name, n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin)),
    QueryDef("q30_rollup", q30Rollup, Some(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),
    QueryDef("q33_dedup_agg_path", q33DedupAggPath, Some(
      """WITH dedup AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY l_orderkey
        |      ORDER BY l_shipdate DESC, l_linenumber DESC,
        |               l_partkey DESC, l_suppkey DESC) AS rn
        |    FROM lineitem) WHERE rn = 1)
        |SELECT l_returnflag,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(avg(l_extendedprice), 2) AS avg_price
        |FROM dedup
        |WHERE l_orderkey IS NOT NULL
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),
    QueryDef("q36_running_total", q36RunningTotal, Some(
      """SELECT o_custkey, o_orderkey,
        |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |         AS running_total
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),
    QueryDef("q40_sink_roundtrip", q40SinkRoundTrip, Some(
      """WITH fact AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 0.9
        |              ELSE o_totalprice END AS price
        |  FROM orders),
        |f AS (
        |  SELECT 'fact' AS side, o_orderstatus AS k,
        |         CAST(count(*) AS BIGINT) AS n, round(sum(price), 2) AS v
        |  FROM fact GROUP BY 2),
        |d AS (
        |  SELECT 'dlq' AS side, strftime(ts, '%Y-%m-%d') AS k,
        |         CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS v
        |  FROM events
        |  WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-08'
        |  GROUP BY 2)
        |SELECT * FROM f UNION ALL SELECT * FROM d
        |ORDER BY side, k""".stripMargin)),
    QueryDef("q42_bucketed_join", q42BucketedJoin, Some(
      """SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    QueryDef("q43_salted_agg", q43SaltedAgg, Some(
      """SELECT l_suppkey,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)),
    QueryDef("q44_medallion_e2e", q44MedallionE2E, Some(
      """WITH base AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k, abs(c_acctbal) + 1.0 AS price
        |  FROM customer WHERE c_custkey <= 120),
        |bronze AS (
        |  SELECT k, k AS rnk, price, 0.0 AS shift FROM base
        |  UNION ALL
        |  SELECT k, k + 1000 AS rnk, price, 999.0 AS shift FROM base WHERE k % 7 = 0),
        |typed AS (
        |  SELECT k, rnk,
        |         CASE WHEN k % 10 = 0 THEN NULL ELSE price + shift END AS current_price,
        |         CASE WHEN k % 13 = 0 THEN NULL ELSE k * 1000 END AS market_cap
        |  FROM bronze),
        |valid AS (
        |  SELECT * FROM typed
        |  WHERE current_price IS NOT NULL AND market_cap IS NOT NULL),
        |dlqrows AS (
        |  SELECT 'Missing required fields: ' || concat_ws(', ',
        |           CASE WHEN current_price IS NULL THEN 'current_price' END,
        |           CASE WHEN market_cap IS NULL THEN 'market_cap' END) AS error_reason
        |  FROM typed WHERE current_price IS NULL OR market_cap IS NULL),
        |silver AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY k ORDER BY rnk) AS rn
        |    FROM valid)
        |  WHERE rn = 1),
        |g AS (
        |  SELECT 'gold' AS side, CAST(rnk % 5 AS VARCHAR) AS k,
        |         CAST(count(*) AS BIGINT) AS n, round(sum(current_price), 2) AS v
        |  FROM silver GROUP BY 2),
        |d AS (
        |  SELECT 'dlq' AS side, error_reason AS k,
        |         CAST(count(*) AS BIGINT) AS n, 0.0 AS v
        |  FROM dlqrows GROUP BY 2),
        |dim AS (
        |  SELECT 'dim_coins' AS side, '*' AS k,
        |         CAST(count(*) AS BIGINT) AS n, 0.0 AS v FROM silver),
        |note AS (
        |  SELECT 'notify' AS side, 'SUCCEEDED' AS k, CAST(1 AS BIGINT) AS n, 0.0 AS v)
        |SELECT * FROM g UNION ALL SELECT * FROM d
        |UNION ALL SELECT * FROM dim UNION ALL SELECT * FROM note
        |ORDER BY side, k""".stripMargin)),
    QueryDef("q55_stream_dedup", q55StreamDedup, Some(
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin), streaming = true),
    QueryDef("q56_cube", q56Cube, Some(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST,
        |         l_linestatus ASC NULLS FIRST""".stripMargin)),
    QueryDef("q59_scd2", q59Scd2, Some(
      """WITH ord AS (
        |  SELECT o_custkey, o_orderpriority, CAST(o_orderdate AS DATE) AS eff,
        |         o_orderkey
        |  FROM orders WHERE o_custkey < 200),
        |lagged AS (
        |  SELECT *,
        |         lag(o_orderpriority) OVER w AS prev_attr,
        |         lag(eff) OVER w AS prev_eff
        |  FROM ord
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY eff, o_orderkey)),
        |changes AS (
        |  SELECT o_custkey, o_orderpriority, eff, o_orderkey FROM lagged
        |  WHERE prev_eff IS NULL OR o_orderpriority IS DISTINCT FROM prev_attr),
        |versioned AS (
        |  SELECT o_custkey, o_orderpriority,
        |         eff AS valid_from,
        |         coalesce(lead(eff) OVER w2, DATE '9999-12-31') AS valid_to,
        |         CAST(row_number() OVER w2 AS INT) AS version
        |  FROM changes
        |  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY eff, o_orderkey))
        |SELECT o_custkey, o_orderpriority, valid_from, valid_to, version,
        |       valid_to = DATE '9999-12-31' AS is_current
        |FROM versioned ORDER BY o_custkey, version""".stripMargin)),
    QueryDef("q60_mad_outliers", q60MadOutliers, Some(
      """WITH med AS (
        |  SELECT event_type, median(value) AS med FROM events GROUP BY 1),
        |dev AS (
        |  SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type, any_value(med) AS med, median(adev) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type,
        |       CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(sum(CASE WHEN d.adev > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_outliers,
        |       round(any_value(m.med), 4) AS med,
        |       round(any_value(m.mad), 4) AS mad
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin)),
    QueryDef("q61_pivot", q61Pivot, Some(
      """SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
        |       round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
        |       round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error,
        |       round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
        |       round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
        |       round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("q62_ss_join", q62StreamStreamJoin, Some(
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin), streaming = true),
    QueryDef("q63_ntile_deciles", q63NtileDeciles, Some(
      """WITH top AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1000),
        |d AS (
        |  SELECT o_totalprice,
        |         CAST(ntile(10) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS INT)
        |           AS decile
        |  FROM top)
        |SELECT decile, CAST(count(*) AS BIGINT) AS n_orders,
        |       round(min(o_totalprice), 2) AS lo,
        |       round(max(o_totalprice), 2) AS hi
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin)),
    QueryDef("q70_session_stream", q70SessionStream, Some(
      """WITH wm AS (
        |  SELECT max(make_timestamp(epoch_ns(ts) // 1000))
        |           - INTERVAL 10 MINUTE AS w
        |  FROM events),
        |x AS (
        |  SELECT user_id, ts, value, event_id,
        |         CASE WHEN ts - lag(ts) OVER win >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x),
        |g AS (
        |  SELECT user_id, sid,
        |         min(ts) AS session_start,
        |         max(ts) + INTERVAL 30 MINUTE AS session_end,
        |         CAST(count(*) AS BIGINT) AS n_events,
        |         round(sum(value), 2) AS sum_value
        |  FROM s GROUP BY 1, 2)
        |SELECT session_start, session_end, user_id, n_events, sum_value
        |FROM g WHERE session_end <= (SELECT w FROM wm)
        |ORDER BY user_id, session_start""".stripMargin), streaming = true),
    QueryDef("q72_stream_enrich", q72StreamEnrich, Some(
      """SELECT CAST(c_custkey % 3 AS INT) AS tier, event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY tier, event_type""".stripMargin), streaming = true),
    QueryDef("q79_cdc_apply", q79CdcApply, Some(cdcSnapshotOracle)),
    QueryDef("q80_grouping_sets", q80GroupingSets, Some(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY gid, l_returnflag ASC NULLS FIRST,
        |         l_linestatus ASC NULLS FIRST""".stripMargin)),
    QueryDef("q81_histogram", q81Histogram, Some(
      """WITH s AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM documents)
        |SELECT CAST(CASE WHEN hi = lo THEN 0
        |            ELSE ((n_chars - lo) * 20) // (hi - lo + 1) END AS BIGINT)
        |         AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(min(n_chars) AS BIGINT) AS lo_val,
        |       CAST(max(n_chars) AS BIGINT) AS hi_val
        |FROM documents, s GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("q85_schema_evolution", q85SchemaEvolution, Some(
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<missing>'
        |            ELSE o_orderpriority END AS priority,
        |       CAST(count(*) AS BIGINT) AS n,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("q90_table_diff", q90TableDiff, Some(
      """WITH ch AS (
        |  SELECT CASE WHEN o_orderkey % 11 = 0 THEN o_custkey + 1000000
        |              ELSE o_custkey END AS key,
        |         o_orderkey AS seq,
        |         CASE WHEN o_orderkey % 7 = 0 THEN 'D'
        |              WHEN o_orderkey % 11 = 0 THEN 'I'
        |              ELSE 'U' END AS op,
        |         o_totalprice AS bal
        |  FROM orders WHERE o_custkey % 4 = 0),
        |last AS (
        |  SELECT key, op, bal FROM (
        |    SELECT key, op, bal,
        |           row_number() OVER (PARTITION BY key
        |             ORDER BY seq DESC, op DESC) AS rn
        |    FROM ch) WHERE rn = 1),
        |next AS (
        |  SELECT coalesce(l.key, c.c_custkey) AS key,
        |         CASE WHEN l.key IS NULL THEN c.c_mktsegment
        |              ELSE 'CHANGED' END AS seg,
        |         CASE WHEN l.key IS NULL THEN c.c_acctbal ELSE l.bal END AS bal
        |  FROM customer c FULL JOIN last l ON c.c_custkey = l.key
        |  WHERE coalesce(l.op, 'B') <> 'D'),
        |d AS (
        |  SELECT coalesce(b.c_custkey, n.key) AS key,
        |         CASE WHEN b.c_custkey IS NULL THEN 'added'
        |              WHEN n.key IS NULL THEN 'removed'
        |              WHEN b.c_mktsegment = n.seg AND b.c_acctbal = n.bal
        |                THEN 'unchanged'
        |              ELSE 'changed' END AS status
        |  FROM customer b FULL JOIN next n ON b.c_custkey = n.key)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(key) AS BIGINT) AS key_sum
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("q91_integrity_audit", q91IntegrityAudit, Some(
      """SELECT "check", n FROM (
        |  SELECT 'lineitem_rows' AS "check", CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem
        |  UNION ALL
        |  -- NOT EXISTS, not NOT IN: the Spark side is an outer-join
        |  -- NULL probe (anti-join semantics), under which a NULL child
        |  -- key counts as an orphan; NOT IN would collapse to zero
        |  -- matches the moment any key is NULL — and an integrity
        |  -- audit runs on dirty data.
        |  SELECT 'lineitem_orphans', CAST(count(*) AS BIGINT)
        |  FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |  UNION ALL
        |  SELECT 'orders_rows', CAST(count(*) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'orders_orphans', CAST(count(*) AS BIGINT)
        |  FROM orders r
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = r.o_custkey))
        |ORDER BY "check"""".stripMargin)),
    // the streaming apply must converge to the SAME snapshot as the
    // one-shot batch apply — one oracle pins both
    QueryDef("q96_stream_cdc", q96StreamCdc, Some(cdcSnapshotOracle), streaming = true),
    // the streaming anchor state must reproduce the identical kept set
    QueryDef("q99_stream_throttle", q99StreamThrottle, Some(throttleOracle), streaming = true),
    QueryDef("q134_k_anonymity", q134KAnonymity, Some(
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |       CAST(floor(value / 100.0) AS BIGINT) AS value_band,
        |       CAST(count(*) AS BIGINT) AS class_size,
        |       count(*) < 5 AS at_risk
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY event_type, day, value_band""".stripMargin)),
    QueryDef("q134b_k_anonymity_enforce", q134bKAnonymityEnforce, Some(
      """WITH c AS (
        |  SELECT event_id, event_type,
        |         count(*) OVER (PARTITION BY event_type, CAST(ts AS DATE),
        |                        CAST(floor(value / 100.0) AS BIGINT)) AS cs
        |  FROM events),
        |kept AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
        |         CAST(sum(event_id) AS BIGINT) AS kept_id_sum
        |  FROM c WHERE cs >= 5 GROUP BY 1),
        |allr AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM events GROUP BY 1)
        |SELECT a.event_type, a.n_rows,
        |       coalesce(k.n_kept, 0) AS n_kept,
        |       a.n_rows - coalesce(k.n_kept, 0) AS n_suppressed,
        |       coalesce(k.kept_id_sum, 0) AS kept_id_sum
        |FROM allr a LEFT JOIN kept k USING (event_type)
        |ORDER BY a.event_type""".stripMargin)),
    QueryDef("q150_length_drift", q150LengthDrift, Some(
      """WITH o AS (
        |  SELECT CAST(least(9, greatest(0,
        |           CAST(floor(length(text) / 50.0) AS INT))) AS INT) AS category
        |  FROM documents WHERE doc_id % 2 = 0),
        |n AS (
        |  SELECT CAST(least(9, greatest(0,
        |           CAST(floor(length(text) / 50.0) AS INT))) AS INT) AS category
        |  FROM documents WHERE doc_id % 2 = 1),
        |oc AS (SELECT category, count(*) AS n_old FROM o GROUP BY 1),
        |nc AS (SELECT category, count(*) AS n_new FROM n GROUP BY 1),
        |j AS (
        |  SELECT coalesce(oc.category, nc.category) AS category,
        |         coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
        |  FROM oc FULL OUTER JOIN nc ON oc.category = nc.category),
        |t AS (SELECT sum(n_old) AS tot_old, sum(n_new) AS tot_new,
        |             count(*) AS n_categories FROM j)
        |SELECT j.category,
        |       CAST(j.n_old AS BIGINT) AS n_old,
        |       CAST(j.n_new AS BIGINT) AS n_new,
        |       round(
        |         ((j.n_old + 1) / CAST(t.tot_old + t.n_categories AS DOUBLE)
        |          - (j.n_new + 1) / CAST(t.tot_new + t.n_categories AS DOUBLE))
        |         * ln(((j.n_old + 1) / CAST(t.tot_old + t.n_categories AS DOUBLE))
        |              / ((j.n_new + 1) / CAST(t.tot_new + t.n_categories AS DOUBLE))),
        |         6) AS psi_term
        |FROM j, t ORDER BY category""".stripMargin)),
    QueryDef("q163_l_diversity", q163LDiversity, Some(
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |       CAST(floor(value / 100.0) AS BIGINT) AS value_band,
        |       CAST(count(*) AS BIGINT) AS class_size,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_sensitive,
        |       count(DISTINCT user_id) < 3 AS at_risk
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY event_type, day, value_band""".stripMargin)),
    QueryDef("q163b_l_diversity_enforce", q163bLDiversityEnforce, Some(
      """WITH c AS (
        |  SELECT event_id, event_type,
        |         count(DISTINCT user_id)
        |           OVER (PARTITION BY event_type, CAST(ts AS DATE),
        |                 CAST(floor(value / 100.0) AS BIGINT)) AS ns
        |  FROM events),
        |kept AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
        |         CAST(sum(event_id) AS BIGINT) AS kept_id_sum
        |  FROM c WHERE ns >= 3 GROUP BY 1),
        |allr AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM events GROUP BY 1)
        |SELECT a.event_type, a.n_rows,
        |       coalesce(k.n_kept, 0) AS n_kept,
        |       a.n_rows - coalesce(k.n_kept, 0) AS n_suppressed,
        |       coalesce(k.kept_id_sum, 0) AS kept_id_sum
        |FROM allr a LEFT JOIN kept k USING (event_type)
        |ORDER BY a.event_type""".stripMargin)),
    // the same edit recipe replayed per version; latest_version pins
    // the snapshot listing
    QueryDef("q172_time_travel", q172TimeTravel, Some(
      """WITH base AS (SELECT c_custkey, c_acctbal FROM customer),
        |v1 AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal * 2
        |              ELSE c_acctbal END AS c_acctbal
        |  FROM base),
        |v2 AS (SELECT * FROM v1 WHERE c_custkey % 7 <> 0),
        |r AS (
        |  SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows,
        |         sum(c_custkey) AS id_sum,
        |         sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS bal_cents
        |  FROM base
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT), count(*), sum(c_custkey),
        |         sum(CAST(round(c_acctbal * 100) AS BIGINT)) FROM v1
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), count(*), sum(c_custkey),
        |         sum(CAST(round(c_acctbal * 100) AS BIGINT)) FROM v2)
        |SELECT version, CAST(n_rows AS BIGINT) AS n_rows,
        |       CAST(id_sum AS BIGINT) AS id_sum,
        |       CAST(bal_cents AS BIGINT) AS bal_cents,
        |       CAST(2 AS BIGINT) AS latest_version
        |FROM r ORDER BY version""".stripMargin)),
    // the same full-outer value comparison per consecutive version
    QueryDef("q177_version_diff", q177VersionDiff, Some(
      """WITH base AS (SELECT c_custkey, c_acctbal FROM customer),
        |v1 AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal * 2
        |              ELSE c_acctbal END AS c_acctbal
        |  FROM base),
        |v2 AS (SELECT * FROM v1 WHERE c_custkey % 7 <> 0),
        |d1 AS (
        |  SELECT CAST(0 AS BIGINT) AS from_version,
        |         CAST(1 AS BIGINT) AS to_version,
        |         CAST(sum(CASE WHEN a.c_custkey IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_added,
        |         CAST(sum(CASE WHEN b.c_custkey IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_removed,
        |         CAST(sum(CASE WHEN a.c_custkey IS NOT NULL
        |                    AND b.c_custkey IS NOT NULL
        |                    AND a.c_acctbal <> b.c_acctbal
        |                   THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |         CAST(sum(CASE WHEN a.c_acctbal = b.c_acctbal
        |                   THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
        |  FROM base a FULL OUTER JOIN v1 b USING (c_custkey)),
        |d2 AS (
        |  SELECT CAST(1 AS BIGINT), CAST(2 AS BIGINT),
        |         CAST(sum(CASE WHEN a.c_custkey IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT),
        |         CAST(sum(CASE WHEN b.c_custkey IS NULL THEN 1 ELSE 0 END)
        |           AS BIGINT),
        |         CAST(sum(CASE WHEN a.c_custkey IS NOT NULL
        |                    AND b.c_custkey IS NOT NULL
        |                    AND a.c_acctbal <> b.c_acctbal
        |                   THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(sum(CASE WHEN a.c_acctbal = b.c_acctbal
        |                   THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM v1 a FULL OUTER JOIN v2 b USING (c_custkey))
        |SELECT * FROM d1 UNION ALL SELECT * FROM d2
        |ORDER BY from_version""".stripMargin)),
    QueryDef("q173_skew_report", q173SkewReport, Some(
      """WITH k AS (
        |  SELECT CASE WHEN event_id % 3 = 0 THEN 'hot'
        |              ELSE event_type END AS key
        |  FROM events),
        |c AS (SELECT key, CAST(count(*) AS BIGINT) AS n_rows
        |      FROM k GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total,
        |             CAST(count(*) AS BIGINT) AS n_keys FROM c)
        |SELECT key, n_rows,
        |       (n_rows * 1000000) // total AS share_ppm,
        |       (n_rows * n_keys + total - 1) // total AS suggested_salts
        |FROM c, t ORDER BY n_rows DESC, key LIMIT 10""".stripMargin)),
    // the oracle is the FULL recompute — the hash check is the
    // merged ≡ recomputed incremental-maintenance theorem (q174b: the
    // same theorem under arbitrary micro-batch slicing)
    QueryDef("q174_mv_merge", q174MvMerge, Some(mvMergeSql)),
    QueryDef("q174b_mv_stream", q174bMvStream, Some(mvMergeSql), streaming = true),
    QueryDef("q184_mutual_info", q184MutualInfo, Some(
      """WITH j AS (
        |  SELECT event_type AS x, extract(hour FROM ts) AS y,
        |         CAST(count(*) AS BIGINT) AS n_xy
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(sum(n_xy) AS BIGINT) AS n_x FROM j GROUP BY 1),
        |my AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y FROM j GROUP BY 1),
        |t AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM j)
        |SELECT j.x, CAST(j.y AS INT) AS y, j.n_xy, mx.n_x, my.n_y,
        |       round((j.n_xy / CAST(t.n AS DOUBLE)) *
        |             ln(j.n_xy * CAST(t.n AS DOUBLE)
        |                / (mx.n_x * CAST(my.n_y AS DOUBLE))), 6) AS mi_term
        |FROM j JOIN mx USING (x) JOIN my USING (y) CROSS JOIN t
        |ORDER BY x, y""".stripMargin)),
    QueryDef("q186_trimmed_mean", q186TrimmedMean, Some(
      """WITH e AS (
        |  SELECT event_type AS key, event_id,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT key, cents,
        |         row_number() OVER (PARTITION BY key
        |           ORDER BY cents, event_id) AS ra,
        |         row_number() OVER (PARTITION BY key
        |           ORDER BY cents DESC, event_id DESC) AS rd,
        |         count(*) OVER (PARTITION BY key) // 10 AS k
        |  FROM e)
        |SELECT key, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN ra > k AND rd > k THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_kept,
        |       CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents,
        |       CAST(sum(CASE WHEN ra > k AND rd > k THEN cents END)
        |            // sum(CASE WHEN ra > k AND rd > k THEN 1 END)
        |         AS BIGINT) AS trimmed_mean_cents
        |FROM r GROUP BY key ORDER BY key""".stripMargin)),
    QueryDef("q193_t_closeness", q193TCloseness, Some(
      """WITH b AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(floor(value / 100.0) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT v, CAST(count(*) AS BIGINT) AS gc FROM b GROUP BY 1),
        |gg AS (
        |  SELECT v,
        |         CAST(sum(gc) OVER (ORDER BY v) AS BIGINT) AS gcum,
        |         CAST(sum(gc) OVER () AS BIGINT) AS n_total,
        |         CAST(count(*) OVER () AS BIGINT) AS m
        |  FROM g),
        |cls AS (
        |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS class_size
        |  FROM b GROUP BY 1, 2),
        |cv AS (
        |  SELECT event_type, day, v, CAST(count(*) AS BIGINT) AS cc
        |  FROM b GROUP BY 1, 2, 3),
        |sp AS (
        |  SELECT c.event_type, c.day, c.class_size,
        |         g.v, g.gcum, g.n_total, g.m,
        |         COALESCE(cv.cc, CAST(0 AS BIGINT)) AS cc
        |  FROM cls c CROSS JOIN gg g
        |  LEFT JOIN cv ON cv.event_type = c.event_type
        |    AND cv.day = c.day AND cv.v = g.v),
        |cum AS (
        |  SELECT *, sum(cc) OVER (PARTITION BY event_type, day
        |    ORDER BY v) AS ccum
        |  FROM sp),
        |agg AS (
        |  SELECT event_type, day, class_size, max(n_total) AS n_total,
        |         max(m) AS m,
        |         sum(abs(CAST(ccum AS HUGEINT) * n_total
        |               - CAST(gcum AS HUGEINT) * class_size)) AS st
        |  FROM cum GROUP BY 1, 2, 3)
        |SELECT event_type, day, class_size, m AS n_values,
        |       CAST(st * 1000000 // (CAST(class_size AS HUGEINT)
        |         * n_total * greatest(m - 1, 1)) AS BIGINT) AS t_ppm,
        |       st * 1000000 > 250000 * CAST(class_size AS HUGEINT)
        |         * n_total * greatest(m - 1, 1) AS at_risk
        |FROM agg ORDER BY event_type, day""".stripMargin)),
    QueryDef("q195_benford", q195Benford, Some(
      """WITH v AS (
        |  SELECT abs(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders),
        |d AS (
        |  SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT)
        |           AS digit,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM v WHERE cents IS NOT NULL AND cents > 0 GROUP BY 1),
        |e(digit, benford_ppm) AS (VALUES
        |  (1, CAST(301029 AS BIGINT)), (2, CAST(176091 AS BIGINT)),
        |  (3, CAST(124938 AS BIGINT)), (4, CAST(96910 AS BIGINT)),
        |  (5, CAST(79181 AS BIGINT)), (6, CAST(66946 AS BIGINT)),
        |  (7, CAST(57991 AS BIGINT)), (8, CAST(51152 AS BIGINT)),
        |  (9, CAST(45757 AS BIGINT))),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows FROM d)
        |SELECT e.digit, COALESCE(d.n, CAST(0 AS BIGINT)) AS n, t.n_rows,
        |       CASE WHEN t.n_rows > 0
        |         THEN COALESCE(d.n, CAST(0 AS BIGINT)) * 1000000 // t.n_rows
        |         ELSE CAST(0 AS BIGINT) END AS share_ppm,
        |       e.benford_ppm,
        |       abs(CASE WHEN t.n_rows > 0
        |             THEN COALESCE(d.n, CAST(0 AS BIGINT)) * 1000000
        |               // t.n_rows
        |             ELSE CAST(0 AS BIGINT) END - e.benford_ppm)
        |         AS abs_dev_ppm
        |FROM e LEFT JOIN d ON d.digit = e.digit CROSS JOIN t
        |ORDER BY e.digit""".stripMargin)),
    // q211: the oracle reads ONLY the parquet source — equality pins
    // type fidelity across the ORC write/read boundary
    QueryDef("q211_orc_roundtrip", q211OrcRoundtrip, Some(
      """SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n,
        |       round(sum(o_totalprice), 2) AS total,
        |       max(o_orderdate) AS last_order,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),
    // q260: the CSV roundtrip must be lossless (so the good-side
    // rollup equals the parquet originals) and the three planted
    // type-corrupt lines must land in the DLQ group, exactly
    QueryDef("q260_csv_ingest", q260CsvIngest, Some(
      """SELECT * FROM (
        |  SELECT o_orderstatus, count(*) AS n_rows,
        |         round(sum(o_totalprice), 2) AS sum_total,
        |         count(DISTINCT o_orderpriority) AS n_prio,
        |         max(o_orderdate) AS last_order
        |  FROM orders GROUP BY 1
        |  UNION ALL
        |  SELECT 'DLQ', 3, NULL, 0, NULL
        |) ORDER BY o_orderstatus""".stripMargin)),
    QueryDef("q181_volume_trend", q181VolumeTrend, Some(
      """WITH h AS (
        |  SELECT event_type AS key, date_trunc('hour', ts) AS hr,
        |         CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |ix AS (
        |  SELECT key, y,
        |         CAST(row_number() OVER (PARTITION BY key ORDER BY hr) - 1
        |           AS BIGINT) AS x
        |  FROM h),
        |a AS (
        |  SELECT key, CAST(count(*) AS BIGINT) AS n_obs,
        |         CAST(sum(y) AS BIGINT) AS sum_y,
        |         CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM ix GROUP BY 1)
        |SELECT key, n_obs, sum_y,
        |       CAST((sum_y * 1000000) // n_obs AS BIGINT) AS mean_y_ppm,
        |       CAST(((n_obs * sxy - sx * sum_y) * 1000000)
        |            // (n_obs * sxx - sx * sx) AS BIGINT) AS slope_ppm
        |FROM a ORDER BY key""".stripMargin)),
    // single-global-window CDF replay vs the engine's two-phase
    // prefix sums — same exact integers, different formulation
    QueryDef("q156_ks_drift", q156KsDrift, Some(
      """WITH o AS (
        |  SELECT CAST(length(text) AS BIGINT) AS v FROM documents
        |  WHERE doc_id % 2 = 0),
        |ne AS (
        |  SELECT CAST(length(text) AS BIGINT) AS v FROM documents
        |  WHERE doc_id % 2 = 1),
        |u AS (SELECT v, 1 AS a, 0 AS b FROM o
        |      UNION ALL SELECT v, 0, 1 FROM ne),
        |pv AS (SELECT v, CAST(sum(a) AS BIGINT) AS c_old,
        |              CAST(sum(b) AS BIGINT) AS c_new
        |       FROM u GROUP BY 1),
        |t AS (SELECT CAST(sum(c_old) AS BIGINT) AS n_old,
        |             CAST(sum(c_new) AS BIGINT) AS n_new FROM pv),
        |c AS (SELECT v,
        |        CAST(sum(c_old) OVER (ORDER BY v) AS BIGINT) AS cum_old,
        |        CAST(sum(c_new) OVER (ORDER BY v) AS BIGINT) AS cum_new
        |      FROM pv),
        |d AS (SELECT c.v, abs(cum_old * t.n_new - cum_new * t.n_old) AS d_num,
        |             t.n_old, t.n_new
        |      FROM c, t)
        |SELECT v AS at_value, CAST(d_num AS BIGINT) AS d_num, n_old, n_new,
        |       round(CAST(d_num AS DOUBLE) / nullif(n_old * n_new, 0), 6) AS ks
        |FROM d ORDER BY d_num DESC, v ASC LIMIT 1""".stripMargin))
  )
}
