package graft.pipeline

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Readers

class MedallionSpec extends SparkSpec {
  import spark.implicits._

  private def bronzeJson(n: Int, from: Int = 1): Seq[String] =
    (from until from + n).map { i =>
      s"""{"id":"coin_$i","symbol":"c$i","name":"Coin $i","current_price":${i * 1.5},
         |"market_cap":${i * 2000000},"market_cap_rank":$i,"total_volume":${i * 100},
         |"high_24h":${i * 1.6},"low_24h":${i * 1.4},"price_change_24h":0.1,
         |"price_change_percentage_24h":1.5,"circulating_supply":1000.0,
         |"total_supply":2000.0}""".stripMargin.replaceAll("\n", "")
    }

  test("bronze→silver→gold end-to-end with DLQ and star outputs") {
    val out = tempDir("graft-medallion")
    // 60 good rows + 1 missing required field + a duplicate tick for coin_1
    val rows = bronzeJson(60) :+
      """{"id":"bad_coin","symbol":null,"name":"Bad","current_price":1.0,"market_cap":5}""" :+
      """{"id":"coin_1","symbol":"c1","name":"Coin 1","current_price":99.9,"market_cap":2000000}"""
    val bronze = Readers.jsonStrings(spark, rows)
    val now = java.time.Instant.parse("2024-03-05T12:00:00Z")

    val res = Medallion.run(spark, bronze, out, now)
    assert(res.isRight, res.left.toOption.map(_.reason))
    val o = res.toOption.get

    // dedup kept one row per coin per day → 60 silver rows
    assert(o.silver.count() == 60)
    // the duplicate coin_1 tick collapsed deterministically
    assert(o.silver.filter(col("coin_id") === "coin_1").count() == 1)
    // DLQ captured the schema violation with its reason
    val dlq = spark.read.json(s"$out/dlq")
    assert(dlq.count() == 1)
    assert(dlq.select("error_reason").as[String].head() ==
      "Missing required fields: symbol")
    // gold layers persisted
    assert(spark.read.parquet(s"$out/fact_crypto_daily").count() == 60)
    assert(spark.read.parquet(s"$out/dim_coins").count() == 60)
    val dimDate = spark.read.parquet(s"$out/dim_date")
    assert(dimDate.count() == 1)
    assert(dimDate.select("date").as[java.sql.Date].head().toString == "2024-03-05")
    // fact is partitioned by date (hive layout)
    assert(new java.io.File(s"$out/fact_crypto_daily/date=2024-03-05").exists())
    // terminal notification recorded the success
    assert(spark.read.json(s"$out/notifications")
      .select("status").as[String].head() == "SUCCEEDED")
  }

  /** Writes `rows` as one JSONL landing file; returns it. */
  private def land(dir: String, rows: Seq[String]): java.nio.file.Path = {
    val f = java.nio.file.Paths.get(s"$dir/batch=1/bronze.json")
    Files.createDirectories(f.getParent)
    Files.writeString(f, rows.mkString("\n"))
  }

  /** Data files (not checksums or markers) directly under `dir`. */
  private def dataFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten.filter(_.startsWith("part-"))

  test("dims merge across runs: dim_date and dim_coins keep every earlier day's keys") {
    val out = tempDir("graft-medallion-days")
    val tue = java.time.Instant.parse("2024-03-05T12:00:00Z")
    val sat = java.time.Instant.parse("2024-03-09T12:00:00Z")
    assert(Medallion.run(spark, Readers.jsonStrings(spark, bronzeJson(60)), out, tue).isRight)
    assert(Medallion.run(spark, Readers.jsonStrings(spark, bronzeJson(60, from = 41)), out, sat).isRight)

    val dimDate = spark.read.parquet(s"$out/dim_date")
      .select(col("date").cast("string"), col("day_of_week"), col("is_weekend"))
      .as[(String, Int, Boolean)].collect().sortBy(_._1).toSeq
    assert(dimDate == Seq(("2024-03-05", 3, false), ("2024-03-09", 7, true)))
    // coins 1-60 then 41-100
    assert(spark.read.parquet(s"$out/dim_coins").count() == 100)

    // one data file per day partition and per dim table
    for (day <- Seq("2024-03-05", "2024-03-09")) {
      assert(dataFiles(s"$out/silver/update_date=$day").size == 1, day)
      assert(dataFiles(s"$out/fact_crypto_daily/date=$day").size == 1, day)
    }
    assert(dataFiles(s"$out/dim_coins").size == 1)
    assert(dataFiles(s"$out/dim_date").size == 1)
  }

  test("Outputs are the rows written: they survive the landing files' removal") {
    val tmp = tempDir("graft-medallion-outputs")
    val file = land(s"$tmp/landing", bronzeJson(60))
    val bronze = Readers.jsonRecursive(spark, s"$tmp/landing")
    val res = Medallion.run(spark, bronze, s"$tmp/out",
      java.time.Instant.parse("2024-03-05T12:00:00Z"))
    assert(res.isRight, res.left.toOption.map(_.reason))
    Files.delete(file)

    val o = res.toOption.get
    assert(o.silver.count() == 60)
    assert(o.fact.count() == 60)
    assert(o.dimCoins.count() == 60)
    assert(o.dimDate.count() == 1)
  }

  test("one run reads Bronze at most 3 times: later stages read the materialized candidate") {
    val tmp = tempDir("graft-medallion-scans")
    // 60 coins x 40 ticks: the deduped candidate is a small share of Bronze
    val bronzeBytes = Files.size(land(s"$tmp/landing", Seq.fill(40)(bronzeJson(60)).flatten)).toDouble
    val bronze = Readers.jsonRecursive(spark, s"$tmp/landing")

    val bytesRead = new java.util.concurrent.atomic.LongAdder
    val drainKey = "graft.test.drain"
    val drained = scala.concurrent.Promise[Unit]()
    @volatile var drainJob = -1
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytesRead.add(m.inputMetrics.bytesRead))
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(drainKey) != null)) drainJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == drainJob) drained.trySuccess(())
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val res = Medallion.run(spark, bronze, s"$tmp/out",
        java.time.Instant.parse("2024-03-05T12:00:00Z"))
      assert(res.isRight, res.left.toOption.map(_.reason))
      // a listener gets events in order: once a job submitted after the
      // run has ended, every task of the run has been counted
      sc.setLocalProperty(drainKey, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(drainKey, null)
      scala.concurrent.Await.result(drained.future, scala.concurrent.duration.Duration(60, "s"))
    } finally sc.removeSparkListener(listener)

    val amplification = bytesRead.sum / bronzeBytes
    assert(amplification <= 3.0, f"read $amplification%.2fx the Bronze bytes")
  }

  test("silver output is viewable as a typed Dataset[CryptoTick]") {
    val out = tempDir("graft-typed")
    val bronze = Readers.jsonStrings(spark, bronzeJson(60))
    val res = Medallion.run(spark, bronze, out,
      java.time.Instant.parse("2024-03-05T12:00:00Z"))
    val ticks = graft.schema.Schemas.asTicks(res.toOption.get.silver)
    // typed ops: compile-time field access
    val topCap = ticks.filter(_.market_cap > 100000000L)
      .map(t => t.coin_id)(org.apache.spark.sql.Encoders.STRING)
      .collect().toSet
    assert(topCap.nonEmpty && topCap.forall(_.startsWith("coin_")))
    assert(ticks.head().update_date.toString == "2024-03-05")
  }

  test("DQ gate halts the pipeline on rule violations") {
    val out = tempDir("graft-medallion-fail")
    // only 5 rows → RowCount between 50 and 150 fails
    val bronze = Readers.jsonStrings(spark, bronzeJson(5))
    val res = Medallion.run(spark, bronze, out,
      java.time.Instant.parse("2024-03-05T12:00:00Z"))
    assert(res.isLeft)
    assert(res.left.toOption.get.stage == "data_quality")
    assert(res.left.toOption.get.reason.contains("RowCount_50_150"))
    // gold was never written
    assert(!new java.io.File(s"$out/fact_crypto_daily").exists())
    // terminal notification recorded the failing stage
    assert(spark.read.json(s"$out/notifications")
      .select("status", "stage").as[(String, String)].head() ==
      ("FAILED", "data_quality"))
  }

  test("dynamic partition overwrite replaces only touched partitions") {
    val out = tempDir("graft-dyn")
    val day1 = Seq(("a", "2024-01-01"), ("b", "2024-01-01"), ("c", "2024-01-02"))
      .toDF("k", "date")
    graft.sinks.Writers.parquetDynamicOverwrite(day1, s"$out/t", "date")
    // overwrite only 2024-01-02 with new content
    val day2 = Seq(("z", "2024-01-02")).toDF("k", "date")
    graft.sinks.Writers.parquetDynamicOverwrite(day2, s"$out/t", "date")
    val all = spark.read.parquet(s"$out/t").select("k").as[String].collect().toSet
    assert(all == Set("a", "b", "z")) // 01-01 untouched, 01-02 replaced
  }

  test("bad-records sink writes hive dt=/hour= layout") {
    val out = tempDir("graft-bad")
    val bad = Seq(("x", java.sql.Timestamp.valueOf("2024-01-05 07:30:00")))
      .toDF("payload", "ts")
    graft.sinks.Writers.badRecordsPartitioned(bad, "ts", s"$out/bad")
    assert(new java.io.File(s"$out/bad/dt=2024-01-05/hour=07").exists())
  }

  test("kv upsert sink: last write per key wins") {
    val out = tempDir("graft-kv")
    val p = s"$out/kv"
    graft.sinks.Writers.kvUpsert(spark,
      Seq(("btc", 1, 100.0), ("eth", 1, 50.0)).toDF("coin_id", "v", "price"),
      Seq("coin_id"), p)
    graft.sinks.Writers.kvUpsert(spark,
      Seq(("btc", 2, 101.0)).toDF("coin_id", "v", "price"), Seq("coin_id"), p)
    val rows = spark.read.parquet(p).orderBy("coin_id")
      .as[(String, Int, Double)].collect().toSeq
    assert(rows == Seq(("btc", 2, 101.0), ("eth", 1, 50.0)))
  }

  test("recursive JSONL scan reads nested landing prefixes") {
    val tmp = tempDir("graft-recursive")
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/dt=2024-01-01/hour=05"))
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/dt=2024-01-02/hour=06"))
    Files.writeString(java.nio.file.Paths.get(s"$tmp/dt=2024-01-01/hour=05/a.json"),
      """{"id":"x","v":1}""" + "\n" + """{"id":"y","v":2}""")
    Files.writeString(java.nio.file.Paths.get(s"$tmp/dt=2024-01-02/hour=06/b.json"),
      """{"id":"z","v":3}""")
    val df = Readers.jsonRecursive(spark, tmp)
    assert(df.count() == 3)
    assert(df.columns.contains("id") && df.columns.contains("v"))
  }

  test("from_json payload parsing routes unparseable records") {
    val payloads = Seq(
      """{"coin_id":"btc","current_price":1.5}""",
      "garbage{{{").toDF("value")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("coin_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("current_price",
        org.apache.spark.sql.types.DoubleType)))
    val parsed = Readers.parseJsonColumn(payloads, schema)
    assert(parsed.filter(col("is_corrupt")).count() == 1)
    assert(parsed.filter(!col("is_corrupt"))
      .select("parsed.coin_id").as[String].head() == "btc")
  }

  test("corrupt json lines land in _corrupt_record, not exceptions") {
    val tmp = tempDir("graft-corrupt")
    Files.writeString(java.nio.file.Paths.get(s"$tmp/data.json"),
      """{"coin_id":"btc","value":1.0}
        |this is not json
        |{"coin_id":"eth","value":2.0}""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("coin_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    // Spark disallows querying ONLY _corrupt_record off a raw scan —
    // cache the parsed result first (documented workaround)
    val df = Readers.jsonWithSchema(spark, tmp, schema).cache()
    assert(df.count() == 3)
    assert(df.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(df.filter(col("coin_id").isNotNull).count() == 2)
  }

  test("Versioned: publish/readAsOf isolation, latest tracking, loud misses") {
    import graft.sinks.Versioned
    val path = java.nio.file.Files.createTempDirectory("graft-versioned")
      .toString + "/t"
    assert(Versioned.latestVersion(spark, path) == -1L)
    intercept[IllegalArgumentException] { Versioned.readLatest(spark, path) }
    Versioned.publish((1L to 5L).toDF("id"), path, 0)
    Versioned.publish((1L to 3L).toDF("id"), path, 1)
    assert(Versioned.latestVersion(spark, path) == 1L)
    // v0 is untouched by the v1 write (snapshot isolation by immutability)
    assert(Versioned.readAsOf(spark, path, 0).count() == 5L)
    assert(Versioned.readLatest(spark, path).count() == 3L)
    intercept[IllegalArgumentException] { Versioned.readAsOf(spark, path, 7) }
    // published versions are immutable: re-publishing v1 is refused
    intercept[IllegalArgumentException] {
      Versioned.publish((1L to 9L).toDF("id"), path, 1)
    }
    assert(Versioned.readLatest(spark, path).count() == 3L)
    // a version directory without its _SUCCESS marker (torn write /
    // in-flight publish) is invisible to listing AND reads
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/v=9"))
    assert(Versioned.latestVersion(spark, path) == 1L)
    intercept[IllegalArgumentException] { Versioned.readAsOf(spark, path, 9) }
    // a stale staging dir never shadows the version listing
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/.staging-v=4"))
    assert(Versioned.latestVersion(spark, path) == 1L)
  }
}
