package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.stream.Jobs

/** Poll files of events through `Jobs.runRoutingStream` on one
  * checkpoint. Catch-up: a pre-landed backlog is drained by one call,
  * which gives throughput. Live: an open-loop generator lands one
  * pre-built file per interval by atomic rename while calls repeat;
  * each file's latency runs from its scheduled landing time until the
  * call that committed it returns.
  */
object StreamBench {

  val warmFiles = 4
  val warmEvents = 500
  val backlogFiles = 40
  val backlogEvents = 2000
  val catchupRounds = 3
  val warmPolls = 3
  val liveIntervalS = 1.0
  val liveEvents = 500
  val minLiveFiles = 10
  val badShare = 0.05
  val alertShare = 0.02

  private val PollName = """poll-(\d+)\.parquet""".r.unanchored

  def run(h: Harness): Result = {
    val a = h.args
    var base: Path = null
    def dir(name: String) = base.resolve(name)
    var fileNo = 0
    var nextId = 0L
    var expected = Gen.noEvents
    val landedAt = mutable.Map.empty[Int, Long]

    /** Builds `n` poll files in staging; returns them in landing order. */
    def build(n: Int, events: Int, offsetMicros: Int => Long): Seq[(Int, Path, Gen.Events)] =
      h.phase("generate")((0 until n).map { i =>
        val no = fileNo
        val f = dir("staging").resolve(f"poll-$no%06d.parquet")
        val e = Gen.pollFile(a.seed, no, nextId, events, offsetMicros(i), badShare, alertShare, f)
        fileNo += 1
        nextId += events
        (no, f, e)
      })
    def land(f: (Int, Path, Gen.Events)): Unit = {
      Files.move(f._2, dir("input").resolve(f._2.getFileName), StandardCopyOption.ATOMIC_MOVE)
      landedAt.synchronized { landedAt(f._1) = System.nanoTime() }
    }
    def call(): Unit = Jobs.runRoutingStream(h.spark, dir("input").toString,
      dir("good").toString, dir("bad").toString, dir("alert").toString, dir("checkpoint").toString)

    // Files committed so far, read from the source log of the checkpoint.
    val routed = mutable.Set.empty[Int]
    val logRead = mutable.Set.empty[String]
    def refreshRouted(): Seq[Int] = {
      val logDir = dir("checkpoint").resolve("sources").resolve("0")
      val fresh = mutable.ArrayBuffer.empty[Int]
      if (Files.isDirectory(logDir)) {
        val entries = Files.list(logDir)
        try entries.iterator.asScala.map(_.getFileName.toString)
          .filter(n => !n.startsWith(".") && !logRead(n)).toSeq.sorted.foreach { n =>
            Files.readAllLines(logDir.resolve(n), StandardCharsets.UTF_8).asScala.foreach {
              case PollName(no) if routed.add(no.toInt) => fresh += no.toInt
              case _ =>
            }
            logRead += n
          } finally entries.close()
      }
      fresh.toSeq
    }

    h.setup(3) { rep =>
      base = a.work.resolve(s"rep-$rep")
      Seq("input", "staging").foreach(d => Files.createDirectories(dir(d)))
      fileNo = 0; nextId = 0L; expected = Gen.noEvents
      landedAt.clear(); routed.clear(); logRead.clear()
      val warm = build(warmFiles, warmEvents, _ => 0L)
      warm.foreach(land)
      expected = warm.map(_._3).foldLeft(expected)(_ + _)
      call()
      refreshRouted()
    }
    def landBacklog(): Long = {
      val backlog = build(backlogFiles, backlogEvents, _ => 0L)
      backlog.foreach(land)
      expected = backlog.map(_._3).foldLeft(expected)(_ + _)
      backlog.map(_._3.events).sum
    }

    // Untimed warm-up of both call shapes: calls were still getting
    // faster over the first few catch-up rounds and live polls.
    landBacklog()
    call()
    for (_ <- 0 until warmPolls) {
      build(1, liveEvents, _ => 0L).foreach { f => land(f); expected = expected + f._3 }
      call()
    }
    refreshRouted()
    h.startMeasuring()

    // Catch-up phase.
    val catchup = mutable.ArrayBuffer.empty[(Op, Long, Int)]
    for (_ <- 0 until catchupRounds) {
      val events = landBacklog()
      val (_, o) = h.op("catchup") { _ => call() }
      val files = refreshRouted()
      o.attrs("files") = files.size.toDouble
      catchup += ((o, events, files.size))
    }

    // Live phase.
    val catchupSeconds = catchup.map(_._1.seconds).sum
    val nLive = math.max(minLiveFiles, math.ceil((a.seconds - catchupSeconds) / liveIntervalS).toInt)
    val intervalNs = (liveIntervalS * 1e9).toLong
    val live = build(nLive, liveEvents, i => (i * liveIntervalS * 1e6).toLong)
    expected = live.map(_._3).foldLeft(expected)(_ + _)
    val liveNos = live.map(_._1).toSet
    val t0 = System.nanoTime() + 100000000L
    def scheduled(no: Int) = t0 + (no - live.head._1) * intervalNs
    val generator = new Thread(() => live.foreach { f =>
      val wait = scheduled(f._1) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      land(f)
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()

    val latency = mutable.Map.empty[Int, Double]
    val backlogAtCall = mutable.ArrayBuffer.empty[Double]
    var drainCalls = 0
    def allLanded = landedAt.synchronized(liveNos.forall(landedAt.contains))
    def pendingFiles = landedAt.synchronized(landedAt.keySet.count(!routed(_)))
    while (!(allLanded && liveNos.forall(routed)) && drainCalls < 3) {
      // A call starts as soon as a landed file waits, as on a file-arrival
      // notification, so no latency comes from calls that find nothing.
      while (pendingFiles == 0 && !allLanded) Thread.sleep(1)
      if (allLanded) drainCalls += 1
      val pending = pendingFiles
      backlogAtCall += pending.toDouble
      val (_, o) = h.op("poll") { _ => call() }
      val done = System.nanoTime()
      val files = refreshRouted()
      o.attrs("files") = files.size.toDouble
      o.attrs("backlog_files") = pending.toDouble
      files.filter(liveNos).foreach(no => latency(no) = (done - scheduled(no)) / 1e9)
    }
    generator.join()
    val heapMb = Heap.peakMb()
    val lag = live.map(f => (landedAt(f._1) - scheduled(f._1)) / 1e9)

    // Correctness.
    val checkStart = System.nanoTime()
    val spark = h.spark
    def read(name: String) = spark.read.parquet(dir(name).toString)
    val routedFrame = read("good").select("event_id").union(read("bad").select("event_id"))
    val agg = routedFrame.agg(count(lit(1)), countDistinct("event_id"), sum("event_id")).head()
    val badCount = read("bad").count()
    val alertCount = read("alert").count()
    val mismatches = mutable.ArrayBuffer.empty[String]
    if (agg.getLong(0) != expected.events) mismatches += s"routed ${agg.getLong(0)} expected ${expected.events}"
    if (agg.getLong(1) != expected.events) mismatches += s"distinct ids ${agg.getLong(1)} expected ${expected.events}"
    if (agg.getLong(2) != expected.idSum) mismatches += s"id sum ${agg.getLong(2)} expected ${expected.idSum}"
    if (badCount != expected.bad) mismatches += s"bad $badCount expected ${expected.bad}"
    if (alertCount != expected.alerts) mismatches += s"alerts $alertCount expected ${expected.alerts}"
    h.phases("check") = (System.nanoTime() - checkStart) / 1e9
    // Each unrouted file is a failed operation; each failed check is one more.
    val unrouted = (0 until fileNo).count(!routed(_))
    val failed = unrouted + mismatches.size
    if (unrouted > 0) mismatches += s"$unrouted poll files unrouted"

    val lat = latency.values.toSeq
    val tail = Stats.tail(lat)
    val throughput = catchup.map { case (o, events, _) => events / o.seconds }.toSeq
    val tracedCatchup = catchup.filter(_._1.traced)
    Result(
      attempted = fileNo,
      failed = failed,
      mismatches = mismatches.toSeq,
      endToEnd = Seq(
        "latency_p50_s" -> Stats.median(lat),
        "records_per_s" -> Stats.median(throughput),
        "peak_heap_mb" -> heapMb),
      record = Seq(
        "poll_files" -> fileNo.toDouble,
        "events" -> expected.events.toDouble,
        "live_files" -> nLive.toDouble,
        "live_interval_s" -> liveIntervalS,
        "latency_samples" -> lat.size.toDouble,
        "latency_max_s" -> (if (lat.isEmpty) 0.0 else lat.max),
        "catchup_files_per_call" -> backlogFiles.toDouble,
        "poll_calls" -> h.ops.count(_.name == "poll").toDouble,
        "invalid_share" -> expected.bad.toDouble / expected.events,
        "duplicate_share" -> 0.0,
        "alert_share" -> expected.alerts.toDouble / expected.events,
        "generator_lag_max_s" -> lag.max) ++
        tail.toSeq.flatMap { case (p, v) => Seq("latency_tail_percentile" -> p.toDouble, "latency_tail_s" -> v) },
      layer = h.trace.toSeq.flatMap { t =>
        val firstTrigger = h.tracedOps.flatMap { o =>
          t.triggerList.filter(_.op == o.id).map(_.start).minOption.map(s => (s - o.start) / 1e3)
        }
        Seq(
          "stream.start_to_first_trigger_s" -> (if (firstTrigger.isEmpty) 0.0 else firstTrigger.sum / firstTrigger.size),
          "stream.tasks_per_file" -> tracedCatchup.map(c => t.counter(s"op.${c._1.id}.tasks")).sum /
            math.max(1, tracedCatchup.map(_._3).sum),
          "stream.backlog_files" -> (if (backlogAtCall.isEmpty) 0.0 else backlogAtCall.sum / backlogAtCall.size))
      } ++ Seq("generator.lag_s" -> lag.max))
  }
}
