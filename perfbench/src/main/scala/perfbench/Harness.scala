package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed call into the program: a batch, a poll call. */
final case class Op(id: Int, name: String, traced: Boolean) {
  var start = 0L
  var end = 0L
  var seconds = 0.0
  val attrs: mutable.Map[String, Double] = mutable.Map.empty
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    cpus: Int, work: Path, results: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cpus").toInt,
      java.nio.file.Paths.get(need("work")).toAbsolutePath,
      java.nio.file.Paths.get(need("results")).toAbsolutePath)
  }
}

/** Minimal JSON rendering for the result and span records. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Sessions, set-up timing, operation timing and tracing for one run. */
final class Harness(val args: Args) {
  var spark: SparkSession = _
  var trace: Option[Trace] = None
  val setupSeconds = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[Op]
  def tracedOps: Seq[Op] = ops.filter(_.traced).toSeq
  /** Untimed harness work by phase (input building, checks), seconds. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  private var opCount = 0

  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** A fresh local session over scratch space inside the run directory. */
  private def newSession(): SparkSession = {
    if (spark != null) {
      trace.foreach(_.close())
      trace = None
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    spark = SparkSession.builder()
      .master(s"local[${args.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Set-up, `reps` times, each from a fresh session: `prepare(rep)`
    * lands the inputs and makes the warm-up calls. The last repetition's
    * state is what the measured phase continues from.
    */
  def setup(reps: Int)(prepare: Int => Unit): Unit =
    for (rep <- 0 until reps) {
      val t0 = System.nanoTime()
      newSession()
      prepare(rep)
      setupSeconds += (System.nanoTime() - t0) / 1e9
    }

  /** Starts the measured phase: registers the tracer on a traced run. */
  def startMeasuring(): Unit = {
    if (args.trace) trace = Some(new Trace(spark))
    Heap.reset()
  }

  /** Times one call. On a traced run every other operation is traced,
    * so the untraced ones give the paired tracing overhead.
    */
  def op[T](name: String)(body: Op => T): (T, Op) = {
    val o = Op(opCount, name, args.trace && opCount % 2 == 0)
    opCount += 1
    def timed(): T = {
      o.start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body(o) finally {
        o.seconds = (System.nanoTime() - t0) / 1e9
        o.end = System.currentTimeMillis()
      }
    }
    val r = trace match {
      case Some(t) => t.record(o)(timed())
      case None => timed()
    }
    ops += o
    (r, o)
  }

  def stop(): Unit = {
    trace.foreach(_.close())
    if (spark != null) spark.stop()
  }
}

/** Heap occupancy after each collection, as the JVM reports it. */
object Heap {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peak = 0L

  ManagementFactory.getGarbageCollectorMXBeans.forEach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.stream
              .mapToLong(_.getUsed).sum
            synchronized { if (used > peak) peak = used }
          }
      }, null, null)
    case _ =>
  }

  def reset(): Unit = synchronized { peak = 0L }

  /** Peak after-collection heap since `reset`, closed by one full collection. */
  def peakMb(): Double = {
    System.gc()
    Thread.sleep(200)
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val bytes: Long = synchronized(math.max(peak, now))
    bytes / (1024.0 * 1024.0)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    (99 to 50 by -1).find(p => xs.size * (100 - p) / 100.0 >= 10.0)
      .map(p => p -> percentile(xs, p / 100.0))
}
