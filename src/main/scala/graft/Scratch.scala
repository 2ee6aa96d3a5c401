package graft

/** Host-local scratch policy, shared by the harness session
  * ([[Harness]]) and the query scratch allocator: prefer the tmpfs
  * mount when one is writable — streaming checkpoints, sink dirs,
  * and shuffle spill are thousands of tiny fsync'd files, and the
  * bench host mounts a large tmpfs.
  * Harness-local only; cluster deployments provision their own
  * local dirs and pass real storage paths into the job functions.
  */
object Scratch {

  private val Tmpfs = java.nio.file.Paths.get("/dev/shm")

  /** The tmpfs root when present and writable. */
  def tmpfsBase: Option[java.nio.file.Path] =
    if (java.nio.file.Files.isDirectory(Tmpfs) &&
        java.nio.file.Files.isWritable(Tmpfs)) Some(Tmpfs)
    else None

  /** `spark.local.dir` value: tmpfs-backed when available, else the
    * JVM temp dir.
    */
  def sparkLocalDir: String =
    tmpfsBase.map(_.resolve("graft-spark-local").toString)
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** `spark.sql.warehouse.dir` value: the managed tables the suite
    * creates (the bucketed-join pair) are transient scratch like the
    * sink dirs, so they follow the same tmpfs-when-available policy;
    * falls back to Spark's own default. Static conf — set at session
    * build only.
    */
  def warehouseDir: String =
    tmpfsBase.map(_.resolve("graft-warehouse").toString)
      .getOrElse("spark-warehouse")
}
