package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per sbt test fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlImplicits: org.apache.spark.sql.SQLImplicits = spark.implicits

  /** Scratch dir deleted at JVM exit — same hygiene as
    * `queries.Shared.tempDir`; without it every `sbt test` run leaves
    * dozens of graft-* trees in /tmp.
    */
  def tempDir(prefix: String): String = SparkSpec.tempDir(prefix)
}

object SparkSpec {
  def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      if (Files.exists(p))
        Files.walk(p).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => { Files.deleteIfExists(f); () })
    }))
    p.toString
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", tempDir("graft-warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
