package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession every harness main builds: [[Bench]], [[Verify]]
  * and the `tools` dev mains. `local[cpus]` with as many shuffle
  * partitions, [[Scratch]]'s tmpfs-when-available local and warehouse
  * dirs, UTC, and the UI off. The legacy parquet nanos-as-long read is
  * pinned session-wide so `Tables.withNanosAsLong`'s save/restore is
  * idempotent under the harness thread pools (its previous value is
  * always `Some("true")`); it is harmless for non-nanos files.
  */
object Harness {

  /** Local cores for the session: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.local.dir", Scratch.sparkLocalDir)
      .config("spark.sql.warehouse.dir", Scratch.warehouseDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
