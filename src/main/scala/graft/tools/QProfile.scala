package graft.tools

import org.apache.spark.sql.functions.{col, length, sum}

/** Stage-level profile of a synth→decode→census query (dev tool):
  * times the corpus encode, the decode+checkpoint, and the census
  * separately so a slow media query can be attributed. Run:
  * `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.QProfile"`.
  */
object QProfile {
  def main(args: Array[String]): Unit = {
    val dir = sys.env("SPARK_GRAFT_SF_DIR")
    val cpus = graft.Harness.cpus
    val spark = graft.Harness.session(cpus)
    def t[A](label: String)(f: => A): A = {
      val s = System.nanoTime(); val r = f
      println(f"PROF $label ${(System.nanoTime() - s) / 1e9}%.2f s"); r
    }
    (0 until 2).foreach { round =>
      t(s"r$round encode-only")(
        graft.fixtures.MediaFixtures.synthMpegVideoMedia(spark, dir)
          .select(sum(length(col("payload")))).collect())
      val fh = t(s"r$round decode+checkpoint")(
        graft.ext.Multimodal.videoFrameHashes(spark,
          graft.fixtures.MediaFixtures.synthMpegVideoMedia(spark, dir),
          stride = 2, partitions = cpus.toInt).toDF().localCheckpoint(true))
      t(s"r$round census")(
        graft.queries.MediaQueries.videoKeyframeCensus(fh).collect())
    }
    spark.stop()
  }
}
