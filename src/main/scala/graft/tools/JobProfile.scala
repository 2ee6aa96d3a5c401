package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Job-level profile of a named query (dev tool): runs it under a
  * listener recording every Spark job's wall time and call site, then
  * prints the per-job breakdown. The diagnostic for queries whose
  * cost is SCHEDULER-bound (many tiny jobs — the q139 shape) rather
  * than data-bound: the bench total can't attribute that, this can.
  * Run: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.JobProfile
  * <query> [<query> ...]"`.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProfile <query> [<query> ...]")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Harness.session(graft.Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Double, String)]())
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(j.jobId, (System.nanoTime(),
          Option(j.properties).map(p =>
            Option(p.getProperty("spark.job.description"))
              .getOrElse(p.getProperty("callSite.short", "?")))
            .getOrElse("?")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val s = starts.remove(j.jobId)
        if (s != null)
          rows.add((j.jobId, (System.nanoTime() - s._1) / 1e9, s._2))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    for (q <- args) {
      rows.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q).run(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // listener bus is async: give tail events a moment to drain
      Thread.sleep(500)
      val snap = rows.toArray(Array.empty[(Int, Double, String)]).sortBy(_._1)
      println(f"PROFILE $q total=$total%.2f s jobs=${snap.length}")
      snap.foreach { case (id, secs, site) =>
        println(f"  job $id%4d $secs%7.3f s  $site")
      }
      val bySite = snap.groupBy(_._3).view
        .mapValues(g => (g.length, g.map(_._2).sum)).toSeq
        .sortBy(-_._2._2)
      println(s"BY-SITE $q")
      bySite.foreach { case (site, (n, secs)) =>
        println(f"  $secs%7.3f s  n=$n%-4d $site")
      }
    }
    spark.stop()
  }
}
