package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** What a workload measured. `failed` counts wrong or failed operations
  * and failed output checks, each described in `mismatches`. `endToEnd`
  * and `layer` are metrics by name; `record` holds the extra facts of the
  * run record (sample counts, input shares, tail percentiles).
  */
final case class Result(
    attempted: Int,
    failed: Int,
    mismatches: Seq[String],
    endToEnd: Seq[(String, Double)],
    record: Seq[(String, Double)],
    layer: Seq[(String, Double)])

/** Entry point: `--workload W --seed N --seconds S --trace 0|1 --cpus C
  * --work DIR --results DIR`. Prints the run record, then one JSON line
  * with `correct`, `attempted`, `failed` and the metrics.
  */
object Main {

  val endToEndUnits: Seq[(String, String)] = Seq(
    "latency_p50_s" -> "s", "records_per_s" -> "1/s", "peak_heap_mb" -> "MB", "setup_s" -> "s")

  val layerUnits: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.outside_jobs_s" -> "s", "spark.sched_delay_s" -> "s",
    "sql.analysis_ms" -> "ms", "sql.optimization_ms" -> "ms", "sql.planning_ms" -> "ms",
    "pipeline.jobs" -> "count",
    "sinks.Writers.jobs" -> "count", "sinks.Writers.busy_s" -> "s", "sinks.Writers.output_files" -> "count",
    "medallion.read_amplification" -> "x",
    "sources.Readers.jobs" -> "count", "sources.Readers.busy_s" -> "s", "sources.Readers.input_bytes" -> "B",
    "dq.Rules.jobs" -> "count", "dq.Rules.task_cpu_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.gc_s" -> "s",
    "stream.start_to_first_trigger_s" -> "s", "stream.addBatch_ms" -> "ms",
    "stream.queryPlanning_ms" -> "ms", "stream.walCommit_ms" -> "ms",
    "stream.commitOffsets_ms" -> "ms", "stream.latestOffset_ms" -> "ms",
    "stream.Jobs.jobs" -> "count", "stream.tasks_per_file" -> "count",
    "sql.plan_text_bytes" -> "B",
    "generator.lag_s" -> "s", "stream.backlog_files" -> "count", "host.loadavg" -> "load",
    "trace.overhead_s" -> "s")

  def loadavg(): Double =
    new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")), StandardCharsets.US_ASCII)
      .trim.split("\\s+")(0).toDouble

  /** (steal, total) jiffies of all CPUs: time the hypervisor gave to others. */
  def cpuJiffies(): (Long, Long) = {
    val f = new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/stat")), StandardCharsets.US_ASCII)
      .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  /** Per traced operation: the counters every workload shares. */
  private def layerMetrics(h: Harness): Seq[(String, Double)] = h.trace match {
    case None => Nil
    case Some(t) =>
      val n = math.max(1, h.tracedOps.size).toDouble
      val jobs = t.jobList
      def in(layer: String) = jobs.filter(j => j.layer == layer || j.layer.startsWith(layer + "."))
      def busy(layer: String) = in(layer).map(j => math.max(0L, j.end - j.start)).sum / 1e3
      val trig = t.triggerList
      def perTrigger(k: String) =
        if (trig.isEmpty) 0.0 else trig.map(_.durations.getOrElse(k, 0L)).sum.toDouble / trig.size
      val traced = h.tracedOps.map(_.seconds)
      val untraced = h.ops.filterNot(_.traced).map(_.seconds).toSeq
      Seq(
        "spark.jobs" -> jobs.size / n,
        "spark.outside_jobs_s" -> t.outsideJobsSeconds(h.tracedOps) / n,
        "spark.sched_delay_s" -> t.counter("sched_delay_s") / n,
        "sql.analysis_ms" -> t.counter("sql.analysis_ms") / n,
        "sql.optimization_ms" -> t.counter("sql.optimization_ms") / n,
        "sql.planning_ms" -> t.counter("sql.planning_ms") / n,
        "pipeline.jobs" -> in("pipeline").size / n,
        "sinks.Writers.jobs" -> in("sinks.Writers").size / n,
        "sinks.Writers.busy_s" -> busy("sinks.Writers") / n,
        "sinks.Writers.output_files" -> t.counter("sinks.Writers.output_files") / n,
        "sources.Readers.jobs" -> in("sources.Readers").size / n,
        "sources.Readers.busy_s" -> busy("sources.Readers") / n,
        "sources.Readers.input_bytes" -> t.counter("sources.Readers.input_bytes") / n,
        "dq.Rules.jobs" -> in("dq.Rules").size / n,
        "dq.Rules.task_cpu_s" -> t.counter("dq.Rules.task_cpu_s") / n,
        "spark.task_cpu_s" -> t.counter("task_cpu_s") / n,
        "spark.shuffle_read_bytes" -> t.counter("shuffle_read_bytes") / n,
        "spark.shuffle_write_bytes" -> t.counter("shuffle_write_bytes") / n,
        "spark.gc_s" -> t.counter("gc_s") / n,
        "stream.addBatch_ms" -> perTrigger("addBatch"),
        "stream.queryPlanning_ms" -> perTrigger("queryPlanning"),
        "stream.walCommit_ms" -> perTrigger("walCommit"),
        "stream.commitOffsets_ms" -> perTrigger("commitOffsets"),
        "stream.latestOffset_ms" -> perTrigger("latestOffset"),
        "stream.Jobs.jobs" -> in("stream.Jobs").size / n,
        "sql.plan_text_bytes" -> t.counter("plan_text_bytes") / n,
        "trace.overhead_s" ->
          (if (untraced.isEmpty) 0.0 else Stats.median(traced) - Stats.median(untraced)))
  }

  def main(argv: Array[String]): Unit = {
    val code = try { run(Args.parse(argv)); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    System.exit(code)
  }

  private def run(a: Args): Unit = {
    val load = loadavg()
    val (steal0, total0) = cpuJiffies()
    val h = new Harness(a)
    Files.createDirectories(a.results)
    val res = a.workload match {
      case "medallion_daily" => MedallionBench.run(h, MedallionBench.daily)
      case "medallion_backfill" => MedallionBench.run(h, MedallionBench.backfill)
      case "stream_route" => StreamBench.run(h)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val layers = (layerMetrics(h) ++ res.layer ++ Seq("host.loadavg" -> load)).toMap
    val endToEnd = (res.endToEnd :+ ("setup_s" -> Stats.median(h.setupSeconds.toSeq))).toMap
    val spans = h.trace.map(_.spanLines(h.ops.toSeq)).getOrElse(Nil)
    h.stop()
    val (steal1, total1) = cpuJiffies()
    val steal = (steal1 - steal0).toDouble / math.max(1L, total1 - total0)

    val flags = Seq(
      Option.when(load > a.cpus / 2.0)("loadavg_start_above_half_the_cores"),
      Option.when(steal > 0.05)("cpu_steal_above_5_percent"),
      res.record.find(_._1 == "generator_lag_max_s").filter(_._2 > 0.1).map(_ => "generator_late"))
      .flatten
    val fs = Files.getFileStore(a.work)
    val record = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> Json.num(a.seconds), "trace" -> a.trace.toString,
      "master" -> Json.str(s"local[${a.cpus}]"),
      "scratch_filesystem" -> Json.str(s"${fs.`type`} (${fs.name})"),
      "loadavg_start" -> Json.num(load),
      "cpu_steal_share" -> Json.num(steal),
      "setup_s_samples" -> h.setupSeconds.map(Json.num).mkString("[", ",", "]"),
      "op_seconds" -> h.ops.map(o => Json.num(o.seconds)).mkString("[", ",", "]"),
      "op_names" -> h.ops.map(o => Json.str(o.name)).mkString("[", ",", "]"),
      "flags" -> flags.map(Json.str).mkString("[", ",", "]"),
      "mismatches" -> res.mismatches.map(Json.str).mkString("[", ",", "]")) ++
      h.phases.toSeq.map { case (k, v) => s"harness_${k}_s" -> Json.num(v) } ++
      res.record.map { case (k, v) => k -> Json.num(v) })
    Files.write(a.results.resolve("record.json"), (record + "\n").getBytes(StandardCharsets.UTF_8))
    if (a.trace) Files.write(a.results.resolve("spans.jsonl"),
      spans.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    println(s"perfbench record: $record")

    val (names, values) = if (a.trace) (layerUnits, layers) else (endToEndUnits, endToEnd)
    val metrics = names.map { case (name, unit) =>
      name -> Json.obj(Seq("value" -> Json.num(values.getOrElse(name, 0.0)), "unit" -> Json.str(unit)))
    }
    println(Json.obj(Seq(
      "correct" -> (res.failed == 0).toString,
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "metrics" -> Json.obj(metrics))))
  }
}
