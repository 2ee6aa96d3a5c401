package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. The same seed always yields the same bytes;
  * the program under test only ever sees the landed files.
  */
object Gen {

  /** What one generated Bronze day must produce downstream. */
  final case class BronzeDay(
      day: Int,
      coins: Int,
      records: Long,
      bytes: Long,
      invalid: Long,
      duplicates: Long,
      winners: Long,
      winnerRankSum: Long,
      winnerCapSum: Long,
      validCoins: Set[Int],
      dlqByReason: Map[String, Long])

  // Bronze keys of the required Silver columns, in `Schemas.cryptoRequired`
  // order, paired with the Silver name the DLQ reason reports.
  private val requiredKeys = Seq(
    "id" -> "coin_id", "symbol" -> "symbol", "name" -> "name",
    "current_price" -> "current_price", "market_cap" -> "market_cap")

  /** Lands one day of CoinGecko-style market ticks as JSON lines under
    * `landing`, split into `parts` files, by an atomic directory rename.
    * Every tick of a coin gets a distinct `market_cap_rank` (tick-major),
    * so the Silver dedup — which ties on the batch-wide `last_updated_ts`
    * — keeps the lowest-ranked valid tick. A share `invalidShare` of the
    * ticks drops exactly one required field and must reach the DLQ.
    */
  def bronzeDay(seed: Long, day: Int, coins: Int, ticks: Int, invalidShare: Double,
      parts: Int, staging: Path, landing: Path): BronzeDay = {
    val rnd = new SplittableRandom(seed * 1000003L + day)
    val minValidRank = Array.fill(coins)(Int.MaxValue)
    val capOfMin = new Array[Long](coins)
    val dlq = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var invalid = 0L
    Files.createDirectories(staging)
    val writers = (0 until parts).map { p =>
      new BufferedWriter(new OutputStreamWriter(
        Files.newOutputStream(staging.resolve(f"part-$p%05d.json")), StandardCharsets.UTF_8), 1 << 16)
    }
    val sb = new java.lang.StringBuilder(512)
    for (t <- 0 until ticks; i <- 0 until coins) {
      val rank = t * coins + i + 1
      val price = 0.01 + rnd.nextDouble() * 5000.0
      val cap = 1000000L + rnd.nextLong(1000000000000L)
      val drop = if (rnd.nextDouble() < invalidShare) rnd.nextInt(requiredKeys.size) else -1
      sb.setLength(0)
      sb.append('{')
      def field(key: String, value: String, quoted: Boolean): Unit = {
        if (sb.length > 1) sb.append(',')
        sb.append('"').append(key).append("\":")
        if (quoted) sb.append('"').append(value).append('"') else sb.append(value)
      }
      def req(k: Int, key: String, value: String, quoted: Boolean): Unit =
        if (drop != k) field(key, value, quoted)
      req(0, "id", f"coin-$i%05d", quoted = true)
      req(1, "symbol", s"c$i", quoted = true)
      req(2, "name", s"Coin $i", quoted = true)
      req(3, "current_price", java.lang.Double.toString(price), quoted = false)
      req(4, "market_cap", java.lang.Long.toString(cap), quoted = false)
      field("market_cap_rank", Integer.toString(rank), quoted = false)
      field("total_volume", java.lang.Long.toString(rnd.nextLong(1L << 40)), quoted = false)
      field("high_24h", java.lang.Double.toString(price * 1.05), quoted = false)
      field("low_24h", java.lang.Double.toString(price * 0.95), quoted = false)
      field("price_change_24h", java.lang.Double.toString(rnd.nextDouble() * 10 - 5), quoted = false)
      field("price_change_percentage_24h", java.lang.Double.toString(rnd.nextDouble() * 40 - 20), quoted = false)
      field("circulating_supply", java.lang.Double.toString(rnd.nextDouble() * 1e9), quoted = false)
      field("total_supply", java.lang.Double.toString(rnd.nextDouble() * 2e9), quoted = false)
      sb.append("}\n")
      writers(rank % parts).append(sb)
      if (drop >= 0) {
        invalid += 1
        dlq(s"Missing required fields: ${requiredKeys(drop)._2}") += 1
      } else if (rank < minValidRank(i)) {
        minValidRank(i) = rank
        capOfMin(i) = cap
      }
    }
    writers.foreach(_.close())
    val bytes = (0 until parts).map(p => Files.size(staging.resolve(f"part-$p%05d.json"))).sum
    Files.createDirectories(landing.getParent)
    Files.move(staging, landing, StandardCopyOption.ATOMIC_MOVE)
    val valid = (0 until coins).filter(minValidRank(_) != Int.MaxValue)
    val records = coins.toLong * ticks
    BronzeDay(day, coins, records, bytes, invalid, records - invalid - valid.size, valid.size,
      valid.map(minValidRank(_).toLong).sum, valid.map(capOfMin(_)).sum,
      valid.toSet, dlq.toMap)
  }

  /** What a set of generated poll files must produce downstream. */
  final case class Events(files: Int, events: Long, bad: Long, alerts: Long, idSum: Long) {
    def +(o: Events): Events = Events(files + o.files, events + o.events,
      bad + o.bad, alerts + o.alerts, idSum + o.idSum)
  }
  val noEvents: Events = Events(0, 0, 0, 0, 0)

  private val eventSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int64 event_id;
      |  required int64 ts (TIMESTAMP(MICROS,true));
      |  required int64 user_id;
      |  required binary event_type (STRING);
      |  required double value;
      |  optional binary props (STRING);
      |}""".stripMargin)

  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  // Fixed epoch for event time: inputs depend on the seed only.
  private val epochMicros = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L

  /** Writes one poll file of `n` events (ids from `firstId`) to `file`.
    * Shares `badShare` break one of the routing rules (zero or negative
    * value, value under 0.05, or an error event) and `alertShare` are
    * valid surges above the alert threshold. Event time is the file's
    * scheduled offset `atMicros` from a fixed epoch.
    */
  def pollFile(seed: Long, fileNo: Int, firstId: Long, n: Int, atMicros: Long,
      badShare: Double, alertShare: Double, file: Path): Events = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val rnd = new SplittableRandom(seed * 7919L + fileNo)
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withType(eventSchema).withConf(hadoopConf).build()
    val groups = new SimpleGroupFactory(eventSchema)
    var bad = 0L
    var alerts = 0L
    val types = Array("view", "click", "purchase")
    try {
      for (j <- 0 until n) {
        val id = firstId + j
        var eventType = types(rnd.nextInt(types.length))
        var value = 0.05 + rnd.nextDouble() * 449.9
        val u = rnd.nextDouble()
        if (u < badShare) {
          bad += 1
          rnd.nextInt(3) match {
            case 0 => value = -rnd.nextDouble() * 10
            case 1 => value = 0.001 + rnd.nextDouble() * 0.04
            case _ => eventType = "error"
          }
        } else if (u < badShare + alertShare) {
          alerts += 1
          value = 451.0 + rnd.nextDouble() * 49.0
        }
        val g = groups.newGroup()
          .append("event_id", id)
          .append("ts", epochMicros + atMicros)
          .append("user_id", rnd.nextLong(100000L))
          .append("event_type", eventType)
          .append("value", value)
        if (rnd.nextInt(4) != 0) g.append("props", s"""{"k":${rnd.nextInt(1000)}}""")
        writer.write(g)
      }
    } finally writer.close()
    Events(1, n, bad, alerts, (firstId until firstId + n).sum)
  }
}
