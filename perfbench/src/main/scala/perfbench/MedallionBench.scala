package perfbench

import java.nio.file.Path
import java.time.{Instant, LocalDate, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.dq.{RowCountBetween, Rules}
import graft.pipeline.Medallion
import graft.sources.Readers

/** Bronze → Silver → Gold through `Medallion.run`, one generated day per
  * call, every day into one Gold output: the daily load when days are
  * small, a backfill when one day is large.
  */
object MedallionBench {

  /** Each set-up runs `warmTicks`-tick days; `fullWarmDays` full-size
    * days then run untimed before measuring. `minBatches` keeps the
    * sample count the same from run to run when a batch takes a sizeable
    * share of the measured seconds.
    */
  final case class Shape(coins: Int, ticks: Int, invalidShare: Double,
      warmTicks: Int, fullWarmDays: Int, minBatches: Int)

  val daily = Shape(coins = 1000, ticks = 4, invalidShare = 0.02,
    warmTicks = 4, fullWarmDays = 2, minBatches = 5)
  val backfill = Shape(coins = 2000, ticks = 60, invalidShare = 0.01,
    warmTicks = 8, fullWarmDays = 1, minBatches = 3)

  /** The reference ruleset with its row-count bounds (50..150 for the
    * reference's 100 coins) scaled to the generated coin count.
    */
  def rules(coins: Int) = Rules.referenceCryptoRuleset.map {
    case RowCountBetween(_, _) => RowCountBetween(coins / 2L, coins * 3L / 2L)
    case r => r
  }

  private val day0 = LocalDate.parse("2024-01-01")
  private def nowOf(day: Int): Instant = day0.plusDays(day.toLong).atTime(12, 0).toInstant(ZoneOffset.UTC)

  def run(h: Harness, shape: Shape): Result = {
    val a = h.args
    var out: Path = null
    var day = 0
    val landed = mutable.ArrayBuffer.empty[(Gen.BronzeDay, Boolean)]

    def land(coins: Int, ticks: Int): Gen.BronzeDay = {
      val d = h.phase("generate")(Gen.bronzeDay(a.seed, day, coins, ticks, shape.invalidShare, a.cpus,
        out.resolveSibling("staging").resolve(s"day-$day"), out.resolveSibling("landing").resolve(s"day-$day")))
      day += 1
      d
    }
    def call(d: Gen.BronzeDay): Unit = {
      val bronze = Readers.jsonRecursive(h.spark, out.resolveSibling("landing").resolve(s"day-${d.day}").toString)
      landed += d -> Medallion.run(h.spark, bronze, out.toString, nowOf(d.day), rules(d.coins)).isRight
    }

    h.setup(3) { rep =>
      out = a.work.resolve(s"rep-$rep").resolve("gold")
      landed.clear()
      day = 0
      call(land(shape.coins, shape.warmTicks))
    }
    for (_ <- 0 until shape.fullWarmDays) call(land(shape.coins, shape.ticks))
    h.startMeasuring()
    var measured = 0.0
    val batches = mutable.ArrayBuffer.empty[(Gen.BronzeDay, Op)]
    while (measured < a.seconds || batches.size < shape.minBatches) {
      val d = land(shape.coins, shape.ticks)
      val (_, o) = h.op("batch") { o =>
        o.attrs("bronze_bytes") = d.bytes.toDouble
        o.attrs("records") = d.records.toDouble
        call(d)
      }
      batches += d -> o
      measured += o.seconds
    }
    val heapMb = Heap.peakMb()

    // Correctness: every landed day, warm-up days included.
    val checkStart = System.nanoTime()
    val spark = h.spark
    val fact = spark.read.parquet(s"$out/fact_crypto_daily")
      .groupBy(col("date").cast("string"))
      .agg(count(lit(1)), sum("market_cap_rank"), sum("market_cap"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val silver = spark.read.parquet(s"$out/silver")
      .groupBy(col("update_date").cast("string")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dlq = spark.read.json(s"$out/dlq").groupBy("error_reason").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dimCoins = spark.read.parquet(s"$out/dim_coins").count()
    val notes = spark.read.json(s"$out/notifications").groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val mismatches = mutable.ArrayBuffer.empty[String]
    landed.foreach { case (d, ok) =>
      val date = day0.plusDays(d.day.toLong).toString
      val good = ok && fact.get(date).contains((d.winners, d.winnerRankSum, d.winnerCapSum)) &&
        silver.get(date).contains(d.winners)
      if (!good) mismatches += s"day $date: run ok=$ok fact=${fact.get(date)} silver=${silver.get(date)} " +
        s"expected (${d.winners},${d.winnerRankSum},${d.winnerCapSum})"
    }
    val expectedDlq = landed.flatMap(_._1.dlqByReason).groupMapReduce(_._1)(_._2)(_ + _)
    if (dlq != expectedDlq) mismatches += s"dlq $dlq expected $expectedDlq"
    val coins = landed.flatMap(_._1.validCoins).toSet.size.toLong
    if (dimCoins != coins) mismatches += s"dim_coins $dimCoins expected $coins"
    if (notes != Map("SUCCEEDED" -> landed.size.toLong))
      mismatches += s"notifications $notes expected ${landed.size} SUCCEEDED"
    h.phases("check") = (System.nanoTime() - checkStart) / 1e9

    val secs = batches.map(_._2.seconds).toSeq
    val records = batches.map(_._1.records).sum.toDouble
    val bronzeBytes = batches.map(_._1.bytes).sum.toDouble
    val allRecords = landed.map(_._1.records).sum.toDouble
    val tail = Stats.tail(secs)
    Result(
      attempted = landed.size,
      // Each wrong day is a failed operation; each failed global check is one more.
      failed = mismatches.size,
      mismatches = mismatches.toSeq,
      endToEnd = Seq(
        "latency_p50_s" -> Stats.median(secs),
        "records_per_s" -> Stats.median(batches.map { case (d, o) => d.records / o.seconds }.toSeq),
        "peak_heap_mb" -> heapMb),
      record = Seq(
        "batches" -> batches.size.toDouble,
        "records_per_batch" -> records / batches.size,
        "bronze_mb_per_batch" -> bronzeBytes / batches.size / 1e6,
        "invalid_share" -> landed.map(_._1.invalid).sum / allRecords,
        "duplicate_share" -> landed.map(_._1.duplicates).sum / allRecords,
        "alert_share" -> 0.0,
        "latency_max_s" -> secs.max) ++
        tail.toSeq.flatMap { case (p, v) => Seq("latency_tail_percentile" -> p.toDouble, "latency_tail_s" -> v) },
      layer = Seq("medallion.read_amplification" -> h.trace.map { t =>
        val traced = batches.filter(_._2.traced)
        t.counter("input_bytes") / traced.map(_._1.bytes).sum.toDouble
      }.getOrElse(0.0)))
  }
}
