package graft

/** Driver-contract invariants: the pieces the harness relies on but
  * nothing else exercises directly (Bench swallows per-query
  * exceptions, so a query that throws would silently time at ~0 s).
  */
class ContractSpec extends SparkSpec {

  test("rows-only queries are exactly the four QueryDef.oracle names") {
    // every other query is hash-checked against its DuckDB oracle; a
    // dropped oracle would silently weaken the check to a row count
    val rowsOnly = SparkEntry.queries.values.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(rowsOnly == Set("q23_ivf_topk", "q32_approx_distinct",
      "q107_pq_codes", "q109_ivf_adc_topk"))
  }

  test("docs/COVERAGE.md tracks every query, and cites no stale ones") {
    // the coverage map is hand-maintained; this guard keeps it from
    // silently rotting. Match grain: the qNN short prefix (the map
    // cites "q23b", the registry key is "q23b_ivf_recall").
    val cov = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("docs/COVERAGE.md")), "UTF-8")
    val cited = raw"\bq\d+[a-z]*\b".r.findAllIn(cov).toSet
    val shorts = SparkEntry.queries.keySet.map(_.takeWhile(_ != '_'))
    val unmapped = shorts -- cited
    assert(unmapped.isEmpty, s"queries missing a COVERAGE.md row: $unmapped")
    val stale = cited -- shorts
    assert(stale.isEmpty, s"COVERAGE.md cites queries that no longer exist: $stale")
  }

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs exception-free and non-empty on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val empties = Seq.newBuilder[String]
    // QueryDef.streaming must be true exactly for the queries that start
    // a stream: Bench books those under the streaming total.
    // onQueryStarted fires synchronously inside start(), so the count is
    // complete once the query function returns.
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = { started.incrementAndGet(); () }
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val mislabeled = Seq.newBuilder[String]
    spark.streams.addListener(listener)
    try SparkEntry.queries.foreach { case (name, d) =>
      started.set(0)
      val n = d.run(spark, dir).count() // throws -> test fails with the name visible
      if (n == 0) empties += name
      if ((started.get() > 0) != d.streaming) mislabeled += s"$name (streams started: ${started.get()})"
    } finally spark.streams.removeListener(listener)
    assert(mislabeled.result().isEmpty,
      s"QueryDef.streaming disagrees with what the query runs: ${mislabeled.result()}")
    // empty results are legal for threshold queries but worth knowing;
    // q12/q13 near-dup pairs can be empty at the tiniest scale
    val allowedEmpty = Set("q12_jaccard_pairs", "q13_minhash_pairs")
    val unexpected = empties.result().filterNot(allowedEmpty)
    assert(unexpected.isEmpty, s"unexpectedly empty results: $unexpected")
  }

  test("events(): nanosAsLong conf restored after read, frame still executes") {
    // pins the assumption Tables.withNanosAsLong relies on: the legacy
    // conf is only needed during schema resolution, and the lazily
    // executed frame survives the conf being restored. If a Spark
    // upgrade starts reading the conf at execution time, this fails.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    val before = spark.conf.getOption(key) // default, not "true"
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    assert(spark.conf.getOption(key) == before, "conf leaked from events()")
    assert(ev.count() > 0) // executes AFTER the conf was restored
  }

  test("eventsStream: conf pinned set for the stream's lifetime; batch restores after") {
    // A per-read option can't scope the legacy flag (probed on Spark
    // 4.1.2: parquet schema resolution only consults the session conf),
    // so eventsStream deliberately leaves it set — micro-batch scans
    // re-resolve the file schema mid-stream. Pin that behavior, then
    // pin that the batch path still saves/restores on a dirty session.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    val streamed = graft.stream.Jobs.runValidationStream(spark, "/root/testdata/sf0.001")
    assert(streamed.count() > 0)
    assert(spark.conf.get(key) == "true",
      "streaming session no longer holds the conf its micro-batches need")
    spark.conf.unset(key)
    assert(Tables.events(spark, "/root/testdata/sf0.001").count() > 0)
    assert(spark.conf.getOption(key) != Some("true"), "batch read left the conf set")
  }

  test("Bench.historyMedians parses the durable history (anomaly-retry reference)") {
    // the anomaly retry keys on this parse: a silent format mismatch
    // would disable the noise defense without anyone noticing
    val medians = Bench.historyMedians("/root/testdata/sf0.1", "32")
    assume(new java.io.File("docs/bench_history.jsonl").isFile)
    assert(medians.nonEmpty, "clean sf0.1/cpus=32 history must yield medians")
    assert(medians.contains("q01_dedup_latest_agg"))
    assert(medians.values.forall(v => v > 0 && v < 600))
    // a query name absent from history must simply be absent
    assert(!medians.contains("q9999_not_a_query"))
    // non-matching sf yields nothing rather than mixing scales
    assert(Bench.historyMedians("/no/such/sf", "32").isEmpty)
  }

  test("q152 audit reconciles with q147's aggregate funnel, stage by stage") {
    // the per-doc attribution and the attrition report are different
    // formulations over the same shared stages — the audit's verdict
    // census must reproduce every stage count AND the survivor id sum
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val audit = SparkEntry.queries("q152_funnel_audit").run(spark, dir)
      .groupBy(col("verdict")).agg(
        count(lit(1)).as("n"), sum(col("doc_id")).as("ids"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val funnel = SparkEntry.queries("q147_web_funnel").run(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def n(v: String) = audit.get(v).map(_._1).getOrElse(0L)
    assert(n("1_blocklist") + n("2_quality") + n("3_duplicate") + n("kept")
      == funnel("0_extract")._1, "audit must cover every extracted page")
    assert(funnel("0_extract")._1 - n("1_blocklist") == funnel("1_blocklist")._1)
    assert(funnel("1_blocklist")._1 - n("2_quality") == funnel("2_quality")._1)
    assert(funnel("2_quality")._1 - n("3_duplicate") == funnel("3_exact_dedup")._1)
    assert(audit("kept")._2 == funnel("3_exact_dedup")._2,
      "kept ids must be exactly the dedup survivors")
  }
}
