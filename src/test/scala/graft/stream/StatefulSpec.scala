package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

class StatefulSpec extends SparkSpec {
  import spark.implicits._

  private def e(id: Long, t: String, user: Long, v: Double) =
    KeyedEvent(id, Timestamp.valueOf(t), user, v)

  test("rising-edge alerts fire once per surge, state survives batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KeyedEvent]
    val q = Stateful.risingEdgeAlerts(spark, input.toDS().toDF()
      .selectExpr("event_id", "ts", "user_id", "value").as[KeyedEvent], 450.0)
      .writeStream.format("memory").queryName("edge_alerts")
      .outputMode("append").start()
    try {
      // batch 1: user 1 surges (alert), user 2 stays low (none)
      input.addData(e(1, "2024-01-01 10:00:00", 1, 500.0), e(2, "2024-01-01 10:00:00", 2, 10.0))
      q.processAllAvailable()
      // batch 2: user 1 still above (suppressed), user 2 surges (alert)
      input.addData(e(3, "2024-01-01 10:05:00", 1, 480.0), e(4, "2024-01-01 10:05:00", 2, 460.0))
      q.processAllAvailable()
      // batch 3: user 1 drops then surges again (new alert)
      input.addData(
        e(5, "2024-01-01 10:10:00", 1, 10.0),
        e(6, "2024-01-01 10:11:00", 1, 470.0))
      q.processAllAvailable()
      val alerts = spark.table("edge_alerts")
        .select("event_id").as[Long].collect().toSet
      assert(alerts == Set(1L, 4L, 6L))
    } finally q.stop()
  }

  test("within-batch ordering is by event time, not arrival") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KeyedEvent]
    val q = Stateful.risingEdgeAlerts(spark, input.toDS().toDF()
      .selectExpr("event_id", "ts", "user_id", "value").as[KeyedEvent], 450.0)
      .writeStream.format("memory").queryName("edge_alerts2")
      .outputMode("append").start()
    try {
      // arrival order scrambled: surge(10:02) arrives before dip(10:01)
      // and the initial surge(10:00); time-order = surge, dip, surge
      input.addData(
        e(12, "2024-01-01 10:02:00", 7, 470.0),
        e(11, "2024-01-01 10:01:00", 7, 10.0),
        e(10, "2024-01-01 10:00:00", 7, 500.0))
      q.processAllAvailable()
      val alerts = spark.table("edge_alerts2")
        .select("event_id").as[Long].collect().toSet
      assert(alerts == Set(10L, 12L)) // two rising edges in time order
    } finally q.stop()
  }

  test("transformWithState path emits the same edges as flatMapGroupsWithState") {
    val dir = "/root/testdata/sf0.001"
    val fmgws = Stateful.runRisingEdgeStream(spark, dir, 200.0)
      .select("event_id").as[Long].collect().sorted.toSeq
    val tws = Stateful.runRisingEdgeStreamTws(spark, dir, 200.0)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(fmgws.nonEmpty && tws == fmgws)
  }

  test("streaming throttle anchor survives batches and equals the batch recurrence") {
    import org.apache.spark.sql.functions.col
    // events at t = 0, 4, 8, 12 min for key 1 (cooldown 5 min) split so
    // the t=8 keep decision depends on state from an EARLIER batch
    val us = 60L * 1000000L
    val rows = Seq((1L, 0L * us), (1L, 4L * us), (1L, 8L * us), (1L, 12L * us),
      (2L, 0L * us))
    val tmp = tempDir("graft-throttle-s")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val t0 = System.currentTimeMillis() - 60000
    rows.grouped(2).zipWithIndex.foreach { case (chunk, i) =>
      chunk.map { case (u, t) =>
        (i.toLong * 10 + u, new java.sql.Timestamp(t / 1000), u, "x", 0.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/slice$i")
      val part = new java.io.File(s"$tmp/slice$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$in/part-$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000L)
    }
    // the run scopes the state-store provider and the state partition
    // count to itself: both read as before once it returns or throws
    val confKeys = Seq("spark.sql.streaming.stateStore.providerClass",
      "spark.sql.shuffle.partitions")
    def confs() = confKeys.map(spark.conf.getOption)
    val before = confs()
    val kept = Stateful.runThrottleStream(spark, in, cooldownUs = 5L * us,
        stateShufflePartitions = Some(3))
      .select(col("user_id"), col("ts_us")).as[(Long, Long)].collect().toSet
    assert(confs() == before)
    intercept[Exception] {
      Stateful.runThrottleStream(spark, s"$tmp/missing", cooldownUs = 5L * us,
        stateShufflePartitions = Some(3))
    }
    assert(confs() == before)
    // batch reference: keep 0 (anchor), drop 4, keep 8, drop 12; key 2 keeps its only event
    val batch = graft.ext.TimeSeries.throttle(
      rows.map { case (u, t) => (u, t, 0L) }.toDS(), 5L * us)
      .collect().map(e => (e._1, e._2)).toSet
    assert(kept == batch)
    assert(kept == Set((1L, 0L), (1L, 8L * us), (2L, 0L)))
  }

  test("streaming Holt (level, trend) state survives batches and equals the batch recursion") {
    import org.apache.spark.sql.functions.col
    // two keys, 6 hours each with varying counts; slices cut ON hour
    // boundaries (2 hours per slice) so the cross-batch contract holds
    // and every recursion step after hour 2 depends on earlier-batch
    // state
    val h = 3600L
    def ev(id: Long, key: String, hr: Long, n: Int) =
      (0 until n).map(k => (id * 100 + k, new java.sql.Timestamp((hr * h + k) * 1000L),
        1L, key, 0.0, "{}"))
    val counts = Map("a" -> Seq(5, 2, 9, 1, 7, 4), "b" -> Seq(3, 3, 8, 8, 1, 6))
    val rows = counts.flatMap { case (key, ns) =>
      ns.zipWithIndex.flatMap { case (n, i) =>
        ev(if (key == "a") i.toLong else 50L + i, key, 480000L + i, n)
      }
    }.toSeq
    val tmp = tempDir("graft-holt-s")
    val in = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val t0 = System.currentTimeMillis() - 60000
    (0 until 3).foreach { i =>
      val lo = 480000L + i * 2; val hi = lo + 2
      rows.filter(r => r._2.getTime / 1000 / h >= lo && r._2.getTime / 1000 / h < hi)
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/slice$i")
      val part = new java.io.File(s"$tmp/slice$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$in/part-$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 1000L)
    }
    val streamed = Stateful.runHoltStream(spark, in)
      .select(col("key"), col("hr").cast("long"), col("n"),
        col("level_scaled"), col("trend_scaled"), col("forecast_scaled"))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val batch = graft.ext.TimeSeries.holtHourly(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      "event_type", "ts")
      .select(col("key"), col("hr").cast("long"), col("n"),
        col("level_scaled"), col("trend_scaled"), col("forecast_scaled"))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed.nonEmpty && streamed == batch)
    // the trend term is genuinely exercised (some non-zero b)
    assert(streamed.exists(_._5 != 0L))
  }
}
