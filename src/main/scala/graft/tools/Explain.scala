package graft.tools

/** Dev tool: print the formatted physical plan of one or more queries.
  * `runMain graft.tools.Explain <sfdir> <query>...`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session(graft.Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    args.tail.foreach { q =>
      println(s"========== $q ==========")
      graft.SparkEntry.queries(q).run(spark, args.head).explain("formatted")
    }
    spark.stop()
  }
}
