package graft

/** Plan-shape regression tests: the physical plans the 100 TB posture
  * depends on. If one of these breaks, the query still returns correct
  * rows — but the plan stopped being the one we'd run at scale, which
  * is exactly the regression a row-level oracle can't see.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q).run(spark, dir).queryExecution.executedPlan.toString

  /** Executed plans of every action a query runs INTERNALLY (for
    * queries that materialize eagerly and return a LocalTableScan),
    * captured via a QueryExecutionListener.
    */
  private def executedPlans(q: String): Seq[String] = {
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries(q).run(spark, dir).collect()
      // listener events post asynchronously; poll until stable
      var last = -1
      var same = 0
      while (same < 3) {
        Thread.sleep(200)
        val n = plans.synchronized(plans.size)
        if (n == last) same += 1 else { same = 0; last = n }
      }
    } finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toVector)
  }

  test("q01: null-guard filter reaches the parquet scan; rank limit pushed below shuffle") {
    val p = plan("q01_dedup_latest_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey)]"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q01: scan is column-pruned (no unused columns read)") {
    val p = plan("q01_dedup_latest_agg")
    assert(!p.contains("l_comment"), p)
    assert(!p.contains("l_tax"), p) // projected away before the window
  }

  test("q07: all dims broadcast — no shuffle join on the fact side") {
    val p = plan("q07_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 4, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q31 (SQL text) plans the same broadcast star join as the DataFrame API") {
    val p = plan("q31_sql_star")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 4, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q22: pairwise scoring uses the codegen'd kernel, not interpreted HOFs") {
    val p = plan("q22_cosine_neardup")
    assert(p.contains("floatcosinesimilarity"), p)
    // the HOF path would show ArrayTransform/Aggregate expressions
    assert(!p.contains("aggregate(zip_with"), p)
  }

  test("q22b: full-corpus SRP path has no quadratic join (no cartesian/BNLJ)") {
    val p = plan("q22b_srp_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("unbounded cosineNearDupPairs does NOT broadcast the build side") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val p = graft.ext.Similarity
      .cosineNearDupPairs(emb, "vec_id", "embedding", 0.9)
      .queryExecution.optimizedPlan.toString
    // no broadcast hint in the logical plan — physical planning may still
    // pick BNLJ for a tiny local input, but a 100 TB corpus won't be
    // forced through the driver's broadcast limit
    assert(!p.contains("ResolvedHint"), p)
  }

  test("q41: CMS sketch aggregates with map-side partials (ObjectHashAggregate)") {
    val p = plan("q41_cms_heavy_hitters")
    assert(p.contains("ObjectHashAggregate"), p)
    // the sketch reduces map-side: a partial_ mode aggregate exists
    assert(p.contains("partial_graft_cms_agg") || p.contains("partial cms") ||
      "partial".r.findFirstIn(p).isDefined, p)
  }

  test("q32c: KLL sketch aggregates with map-side partials (ObjectHashAggregate)") {
    val p = plan("q32c_kll_bounds")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_graft_kll_agg") ||
      "partial".r.findFirstIn(p).isDefined, p)
  }

  test("q37/q41: top-k is TakeOrderedAndProject, not a global-window sort") {
    Seq("q37_heavy_hitters", "q41_cms_heavy_hitters").foreach { q =>
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q\n$p")
      // the ranking window must sit ABOVE the limit (bounded ≤ k-row
      // input), never directly over the full aggregate output; in the
      // top-down plan print that means Window appears before (above)
      // TakeOrderedAndProject. Both markers must EXIST (indexOf = -1
      // would otherwise compare vacuously true against any position).
      val wi = p.indexOf("Window [row_number")
      val ti = p.indexOf("TakeOrderedAndProject")
      assert(wi >= 0 && ti >= 0, s"$q: plan markers missing\n$p")
      assert(wi < ti, s"$q\n$p")
    }
  }

  test("q48: decontamination joins corpus shingles against a BROADCAST bench side") {
    val p = plan("q48_decontaminate")
    // the shingle-volume join (corpus shingles × benchmark shingles)
    // carries the hint and must broadcast; the later ids-only outer
    // flag-join may legitimately shuffle — contaminated-id counts are
    // unbounded at scale, so it must NOT be forced broadcast
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q10: union+distinct compiles to a hash aggregate, not a global sort") {
    val p = plan("q10_union_distinct")
    assert(p.contains("HashAggregate"), p)
  }

  test("q28: anti join stays a join (no collected isin list)") {
    val p = plan("q28_anti_join")
    assert(p.contains("LeftAnti"), p)
  }

  test("scd2 operator costs exactly ONE shuffle (all windows share the key sort)") {
    import org.apache.spark.sql.functions.col
    // the operator itself, without q59's output orderBy (which adds the
    // range-partition exchange any deterministic dump needs)
    val p = graft.gold.Star.scd2(
      Tables.orders(spark, dir)
        .withColumn("o_orderdate", col("o_orderdate").cast("date")),
      "o_custkey", "o_orderpriority", "o_orderdate", Seq("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert("Window".r.findAllIn(p).size >= 2, p) // lag pass + lead/version pass
  }

  test("q53/q57: 1-row stat frames cross-join via BROADCAST, never CartesianProduct") {
    Seq("q53_tfidf_terms", "q57_funnel").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q\n$p")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$q\n$p")
    }
  }

  test("q52: resample grid join has no quadratic surface") {
    val p = plan("q52_resample_fill")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q76/q78: inverted-index and LSH band joins are hash joins, never quadratic") {
    Seq("q76_containment_pairs", "q78_incremental_neardup").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q\n$p")
    }
  }

  test("q75: salted join keys include the salt on a sort-merge join") {
    val p = plan("q75_salted_skew_join")
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("__salt"), p)
  }

  test("q79: changelog apply is one aggregation — a single exchange, no join") {
    val p = plan("q79_cdc_apply")
    assert(!p.contains("Join"), p)
    assert(p.contains("max_by") || p.contains("maxby") || p.contains("ObjectHashAggregate")
      || p.contains("SortAggregate"), p)
  }

  test("q81/q83: profiling stays O(output) — broadcast stats, partial top-k agg") {
    val h = plan("q81_histogram")
    assert(!h.contains("CartesianProduct"), h)
    val t = plan("q83_grouped_topk")
    assert(t.contains("partial_topkagg") && !t.contains("Window"), t)
  }

  test("q73/q86: text scans prune to (doc_id, text) — no full-row reads") {
    Seq("q73_repetition_filters", "q86_quality_classifier").foreach { q =>
      val p = plan(q)
      val reads = "ReadSchema: [^\n]*".r.findAllIn(p).toList
      assert(reads.nonEmpty, s"$q\n$p")
      reads.foreach { r =>
        assert(!r.contains("lang") && !r.contains("source") && !r.contains("n_chars"),
          s"$q read more than it needs: $r")
      }
    }
  }

  test("AQE runtime bloom filter injects on the fact side of a selective shuffle join") {
    import org.apache.spark.sql.functions.{col, sum}
    // At 100 TB this fires by default: the application-side scan must
    // exceed spark.sql...applicationSideScanSizeThreshold (10 GB). The
    // test lowers the threshold to observe the plan shape at test scale
    // — proving our declarative joins COMPOSE with runtime filtering
    // (a hand-scheduled join would not get this for free).
    val conf = spark.conf
    val wanted = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = wanted.map { case (k, _) => k -> conf.getOption(k) }
    wanted.foreach { case (k, v) => conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, dir)
      val o = Tables.orders(spark, dir)
        .filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey"), col("o_orderstatus"))
      val p = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(sum(col("l_quantity")))
        .queryExecution.executedPlan.toString
      assert(p.contains("might_contain"), p)
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("q92: TF-IDF cosine pairs ride the inverted index — no quadratic join") {
    val p = plan("q92_tfidf_cosine")
    assert(!p.contains("CartesianProduct"), p)
    // nested-loop joins may appear ONLY as the broadcast 1-row
    // corpus-size frame inside the cached weight build (q53's accepted
    // shape); the doc-pair join itself must be a hash join on the term
    // key over the persisted unit-weight frame
    assert(p.contains("BroadcastHashJoin [term") || p.contains("SortMergeJoin [term"), p)
    assert(p.contains("InMemoryTableScan"), p) // both sides read the cache
  }

  test("q92b: dfCap prunes the index BEFORE the self-join; pairs ride the capped cache") {
    val p = plan("q92b_tfidf_capped")
    assert(!p.contains("CartesianProduct"), p)
    // same inverted-index shape as q92...
    assert(p.contains("BroadcastHashJoin [term") || p.contains("SortMergeJoin [term"), p)
    assert(p.contains("InMemoryTableScan"), p)
    // ...and the df-cap filter sits INSIDE the cached unit-weight build
    // (upstream of the pair join), so hot terms never reach a posting
    // list — the cap is a pre-join index filter, not a post-join score
    // filter: the cached fragment both sides consume must carry a
    // `df <= cap` predicate
    val df = SparkEntry.queries("q92b_tfidf_capped").run(spark, dir)
    val cached = df.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cachedPlan.toString
    }.mkString("\n")
    assert("\\(df#\\d+L? <= ".r.findFirstIn(cached).isDefined, cached.take(1500))
  }

  test("q97b: global fill never global-sorts the docs — bucket windows + broadcast offsets") {
    val p = plan("q97b_budget_global")
    // the doc-level window partitions by the quality bucket (keyed
    // shuffle); range partitioning appears ONLY for the O(langs)
    // output orderBy and the O(buckets) offset window — never over the
    // full doc set (the offset window's sort feeds a frame whose
    // source is the bucket AGGREGATE, so its exchange is tiny)
    assert(p.contains("Exchange hashpartitioning(__qb"), p)
    assert(p.contains("BroadcastHashJoin [__qb"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q190: quantile normalization never global-sorts the docs — bucket windows + broadcast offsets") {
    val p = plan("q190_quantile_norm")
    // doc-grain window partitions by (group, bucket) — a keyed
    // shuffle; the broadcast range join against the O(buckets) cuts
    // frame is a BroadcastNestedLoopJoin with a tiny literal side (the
    // q97b shape); range partitioning appears only for the output
    // orderBy and the O(groups·buckets) offset window
    assert(p.contains("Exchange hashpartitioning(source"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("unigram Viterbi encode is a pure map pass — no shuffle, no join") {
    import org.apache.spark.sql.functions._
    val p = Tables.documents(spark, dir)
      .select(graft.ext.Text.unigramPieces(lower(col("text")),
        Map("a" -> 1L), maxPieceLen = 4).as("p"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("q191: temperature mixture is one keyed aggregate + tiny-frame windows") {
    val p = plan("q191_temperature_mixture")
    assert(p.contains("Exchange hashpartitioning(source"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q88b: LSH corpus dedup has no quadratic surface anywhere in the chain") {
    // the cluster stage iterates with checkpoints at build time, so the
    // final plan shows only the anti-join over the materialized cluster
    // frame — pin the no-quadratic property there...
    val p = plan("q88b_dedup_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // ...and pin the band-bucket hash join on the PAIR frame q88b feeds
    // into clustering (same call, pre-cluster)
    import org.apache.spark.sql.functions.col
    val pairs = graft.ext.Dedup.minhashNearDupPairs(
      Tables.documents(spark, dir), "doc_id", "text",
      shingleSize = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(pairs.contains("band"), pairs.take(1500))
    assert(!pairs.contains("CartesianProduct") &&
      !pairs.contains("BroadcastNestedLoopJoin"), pairs)
  }

  test("q101: semantic dedup's pairwise pass is label-keyed — no quadratic surface") {
    val p = plan("q101_semantic_dedup")
    assert(!p.contains("CartesianProduct"), p)
    // the pairwise join is an equi-join on the k-means label (the
    // SemDeDup blocking), scored by the codegen'd kernel; BNLJ can
    // appear only for the tiny literal/centroid frames, never keyed
    // on vectors — pin the label equi-join directly
    assert(p.contains("floatcosinesimilarity"), p)
    assert("(?s)HashJoin.*\\[label".r.findFirstIn(p).isDefined
      || p.contains("SortMergeJoin [label"), p)
  }

  test("q102: repeated spans ride the gram inverted index — no quadratic join, partial agg") {
    for (q <- Seq("q102_repeated_spans", "q102b_repeated_spans_hashed")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q\n$p")
      // the ≥ minDocs distinct-doc count partial-aggregates map-side
      // before its exchange (HashAggregate above and below the gram
      // shuffle), and the doc window is keyed, not global
      assert(p.contains("HashAggregate"), s"$q\n$p")
      assert(!("(?s)Sort \\[pos".r.findFirstIn(p).exists(_ => p.contains("Exchange rangepartitioning(pos"))),
        s"$q\n$p")
    }
  }

  test("q103/q106: span excision and contamination report stay hash-join shaped") {
    // keep-one excision adds only the keeper filter — same plan family
    for (q <- Seq("q103_excise_spans", "q103b_excise_keep_one")) {
      val excise = plan(q)
      assert(!excise.contains("CartesianProduct") &&
        !excise.contains("BroadcastNestedLoopJoin"), s"$q\n$excise")
    }
    // hashed keys change the join key width, not the plan shape: the
    // benchmark shingle table broadcasts, the corpus side streams, and
    // the pair count partial-aggregates before its exchange
    for (q <- Seq("q106_contamination_report", "q106b_contamination_hashed")) {
      val report = plan(q)
      assert(!report.contains("CartesianProduct"), s"$q\n$report")
      assert(report.contains("BroadcastHashJoin"), s"$q\n$report")
      assert(report.contains("HashAggregate"), s"$q\n$report")
    }
  }

  test("q107: PQ encode is a map pass — codebooks ride as literals, no join on the vector side") {
    val p = plan("q107_pq_codes")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), p)
    // one scan, one projection, the output sort — nothing else
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("q109: IVF-ADC scores only probed cells via a broadcast cell join — no full-corpus cross join") {
    val p = plan("q109_ivf_adc_topk")
    // the (query, cell) probe table broadcasts onto the label-keyed
    // code table; the only cross joins are the tiny query × centroid
    // probe (both broadcast-scale) — the corpus side never cartesians
    assert(p.contains("BroadcastHashJoin [label"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q104: epoch plan broadcasts the O(#groups) targets — no cartesian, keyed window") {
    val p = plan("q104_materialize_mixture")
    assert(!p.contains("CartesianProduct"), p)
    // the doc-side join against the tiny target table must broadcast
    // (the 1-row total frame may ride a BroadcastNestedLoopJoin — the
    // accepted q53/q57 stat-frame shape — but never a shuffle join)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the remainder prefix is a lang-keyed window, not a global sort
    // (range partitioning appears only for the final output ORDER BY)
    assert(p.contains("Exchange hashpartitioning(lang"), p)
  }

  test("q105: token sharding never global-sorts the docs — bucket windows + broadcast offsets") {
    val p = plan("q105_token_shards")
    assert(!p.contains("CartesianProduct"), p)
    // within-bucket running sum is a __tb-keyed window; the offset
    // table broadcasts back; range partitioning appears only for the
    // O(256)-row offset window and the final output ORDER BY — never
    // over the full doc set keyed on the hash order
    assert(p.contains("Exchange hashpartitioning(__tb"), p)
    assert(p.contains("BroadcastHashJoin [__tb"), p)
    assert(!p.contains("Exchange rangepartitioning(h"), p)
  }

  test("q100b: two-stage decontamination keeps the bloom probe join-free inside the capstone") {
    val p = plan("q100b_curate_scale")
    assert(p.contains("might_contain"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bloom decontamination probe is a map pass — filter rides as a literal, not a join") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir)
    val p = graft.ext.TrainPrep.bloomContaminatedDocs(
      docs, docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", 5)
      .queryExecution.executedPlan.toString
    // the probe is a Filter over the corpus scan (the bloom bytes are a
    // literal inside might_contain) — the ONLY join in the whole plan
    // is the final flag-attach back onto the id list; in particular no
    // join feeds the probe and nothing is quadratic
    assert(p.contains("might_contain"), p.take(1200))
    assert("Join".r.findAllIn(p).size == 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q97: budget fill is one keyed window — no join, no global sort of docs") {
    val p = plan("q97_budget_fill")
    assert(!p.contains("Join"), p)
    // the cumulative-sum window partitions by lang (keyed shuffle); the
    // only range partitioning is the final O(langs) output orderBy
    assert(p.contains("Exchange hashpartitioning(lang"), p)
    assert("rangepartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q98: quantization is a map pass over literal stats — no join on the vector side") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
    val p = graft.ext.Features.quantizeVectors(
      emb, "vec_id", "embedding", graft.ext.Features.dimMinMax(emb, "embedding"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Exchange"), p)
  }

  test("q100: the curation composition stays hash-join shaped end to end") {
    val p = plan("q100_curate_corpus")
    // five composed stages, zero quadratic surfaces: the only
    // nested-loop joins are broadcast 1-row stat frames, and the
    // decontamination bench side broadcasts
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q95: deterministic shuffle windows per shard — no join, no global data sort") {
    val p = plan("q95_shuffle_shards")
    // shard assignment is map-side arithmetic; the data-sized shuffle is
    // the shard-keyed window (hashpartitioning) — the only range
    // partitioning is the final orderBy over O(shards) digest rows
    assert(!p.contains("Join"), p)
    assert(p.contains("Exchange hashpartitioning(shard"), p)
    assert("rangepartitioning".r.findAllIn(p).size == 1, p)
  }

  test("refineTopK fetches candidates by a KEYED join — the corpus never cross-joins") {
    import org.apache.spark.sql.functions.col
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val queries = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val cbs = graft.ext.Features.pqTrainCodebooks(
      base, "vec_id", "embedding", m = 16, k = 16, iters = 1)
    val cands = graft.ext.Features.pqAdcTopK(
      graft.ext.Features.pqEncode(base, "vec_id", "embedding", cbs),
      queries, cbs, 30)
    val p = graft.ext.Features.refineTopK(cands, base, queries, "embedding", 10)
      .queryExecution.executedPlan.toString
    // the candidate→vector fetch is a hash join on vec_id; the only
    // cross join anywhere is the ADC stage's broadcast query fan-out
    assert(p.contains("Join [vec_id") || p.contains("Join [query_id"), p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("persisted IVF-PQ index: probe join dynamic-partition-prunes the code scan") {
    import org.apache.spark.sql.functions.col
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val clustered = graft.ext.Similarity.kmeansLabels(
      base, "vec_id", "embedding", k = 4, iters = 1)
    val cbs = graft.ext.Features.pqTrainCodebooks(
      base, "vec_id", "embedding", m = 16, k = 16, iters = 1)
    val codes = graft.ext.Features.pqEncode(
      clustered, "vec_id", "embedding", cbs, carryCols = Seq("label"))
    val tmpIdx = tempDir("graft-plandpp")
    graft.ext.AnnIndex.write(codes,
      graft.ext.Similarity.clusterCentroids(clustered), cbs, tmpIdx)
    val idx = graft.ext.AnnIndex.read(spark, tmpIdx)
    val queries = base.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val p = graft.ext.AnnIndex.searchTopK(idx, queries, k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    // THE on-disk scale property: the broadcast probe side feeds a
    // dynamic pruning subquery on the label partition column, so a
    // search reads ~nprobe/k of the index's files
    assert(p.toLowerCase.contains("dynamicpruning"), p.take(2000))
    assert(p.contains("PartitionFilters"), p.take(2000))
  }

  test("q112: DSIR scoring joins the ≤4096-row distribution table by BROADCAST") {
    val p = plan("q112_dsir_weights")
    // corpus-sized shuffles key on (doc_id, bucket) / doc_id only; the
    // log-ratio table broadcasts; totals ride 1-row broadcast cross
    // joins (the accepted q53/q57 stat-frame shape) — nothing range
    // partitions except the final output orderBy. (The featureless-doc
    // attach is a doc_id-keyed outer join — a linear SMJ/SHJ, fine.)
    assert(p.contains("BroadcastHashJoin [b"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert("rangepartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q117: segment cleaning is ONE map pass — no exchange at all before the output sort") {
    val p = plan("q117_clean_segments")
    // split/filter/reassemble all ride the projection; the only
    // partitioning in the plan is the final display orderBy
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert("rangepartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Generate"), p) // no explode
  }

  test("q116: cross-entropy model joins — unigram/vocab sides broadcast, no cartesian blowup") {
    val p = plan("q116_cross_entropy")
    // both model joins hash-join (broadcast at this SF); the only
    // nested-loop is the 1-row vocab stat frame riding a broadcast
    // cross join (the accepted q53/q57/q112 shape)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
  }

  test("q118: paragraph dedup never global-sorts the corpus — keyed window + keyed reassembly") {
    val p = plan("q118_paragraph_dedup")
    // hashpartitioning on the paragraph key and on doc_id; the single
    // rangepartitioning is the final display orderBy
    assert("rangepartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("hashpartitioning"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bpeApply: the encode half is map-only — zero exchanges, zero joins") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val p = graft.ext.Text.bpeApply(docs, "doc_id", "text",
      Seq(("a", "b"), ("a b", "c"), ("d", "e"), ("f", "g"), ("h", "i")))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("q125: unicode normalization + fold is a map pass — only the display sort shuffles") {
    val p = plan("q125_unicode_normalize")
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert("rangepartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("classifier gradient step: co-located on the cached doc_id partitioning — only the bucket shuffle is new") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    val feat = graft.ext.Classifier.hashedFeatures(docs, "doc_id", "text",
        when(col("lang") === "en", 1.0).otherwise(0.0), 16)
      .repartition(col("doc_id")).persist()
    try {
      feat.count()
      // one loop body of trainElliott: per-doc z (score) joined back to
      // the feature frame, gradient summed per bucket
      val scored = graft.ext.Classifier.score(feat, Array.fill(17)(0L))
      val g = feat.join(scored.select(col("doc_id"), col("z")), Seq("doc_id"))
        .withColumn("q", floor(col("z") * col("cnt") * lit(1.0e9)))
        .groupBy(col("bucket")).agg(sum(col("q")).as("g"))
      val p = g.queryExecution.executedPlan.toString
      // the ONLY new shuffle is the ≤(buckets+1)-row gradient aggregate
      assert("Exchange hashpartitioning\\(bucket".r.findAllIn(p).size == 1, p)
      // the per-doc aggregation and the join ride the cached doc_id
      // partitioning — Spark must not re-shuffle either side on doc_id
      assert("Exchange hashpartitioning\\(doc_id#\\d+L, \\d+\\), ENSURE_REQUIREMENTS"
        .r.findAllIn(p).isEmpty, p)
      assert(!p.contains("CartesianProduct"), p)
    } finally { feat.unpersist(); () }
  }

  test("q128: hard-negative mining broadcasts the query set — the corpus is scanned once") {
    val p = plan("q128_hard_negatives")
    // non-equi self-exclusion join: broadcast nested loop over the
    // tiny query side is the intended shape (q21's accepted form);
    // the corpus side must never cartesian or shuffle to the join
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
  }

  test("q136: BM25 joins broadcast the query-bounded sides; only the 1-row stats ride a nested loop") {
    val p = plan("q136_bm25_search")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    // the (N, avgdl) single-row frame is the accepted q53/q57 shape
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
  }

  test("q130: datasheet is three keyed aggregations — no cartesian anywhere") {
    val p = plan("q130_corpus_datasheet")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("hashpartitioning"), p)
  }

  test("q142: blocklist screen is ONE map pass — literal terms, no join, no explode") {
    val p = plan("q142_blocklist_screen")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p)
    // only the display orderBy partitions
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("q142b: blocklist join form broadcasts the term table — corpus never shuffles on tokens") {
    val p = plan("q142b_blocklist_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p) // term join + reattach
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the corpus aggregates on the doc id; the only token-keyed
    // exchange is the blocklist's own distinct() — bounded by the
    // blocklist, never the corpus
    assert(p.contains("hashpartitioning(doc_id"), p)
    assert("hashpartitioning\\(__term#\\d+,".r.findAllIn(p).size <= 1, p)
  }

  test("q140: wav decode is scan → keyed repartition → map decode — no joins") {
    val p = plan("q140_wav_decode")
    assert(!p.contains("Join"), p)
    assert(p.contains("MapPartitions"), p) // the disclosed imperative decode tier
  }

  test("q149: phrase blocklist is ONE map pass — token array materialized, no join/explode") {
    val p = plan("q149_phrase_blocklist")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p)
    assert("Exchange".r.findAllIn(p).size == 1, p) // display sort only
  }

  test("q145: html extraction is ONE map pass — only the display sort partitions") {
    val p = plan("q145_html_extract")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p)
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert("rangepartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q146: drift totals ride a broadcast 1-row frame — no cartesian blowup") {
    val p = plan("q146_token_drift")
    assert(!p.contains("CartesianProduct"), p)
    // the totals cross-join is the accepted q53/q57 1-row BNLJ shape
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    assert(p.contains("hashpartitioning"), p) // category-keyed counts + full-outer
  }

  test("q175: pair lift broadcasts the item supports and the 1-row basket count") {
    val p = plan("q175_pair_lift")
    assert(!p.contains("CartesianProduct"), p)
    // two item-support joins broadcast; only the basket self-join and
    // the distinct/count aggregations shuffle
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
  }

  test("q168: seasonal baselines broadcast back onto the series — one corpus aggregation") {
    val p = plan("q168_seasonal_spikes")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q165b: hashed novelty shuffles 8-byte gram keys through the codegen'd kernel") {
    val p = plan("q165b_novelty_hashed")
    // the kernel expression appears in the plan; no interpreted
    // string-building lambda on the hashed path
    assert(p.contains("stringarrayshinglehashes"), p)
    assert(!p.contains("concat_ws"), p)
  }

  test("q169: unimax windows run over the O(#groups) frame — one corpus-sized aggregation only") {
    val p = plan("q169_unimax_alloc")
    // the single-partition windows are over the tiny group frame; the
    // corpus contributes exactly one partial-agg'd keyed aggregation
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q210: curriculum ranks without a global sort — bucket windows carry the rank") {
    val p = plan("q210_curriculum")
    // the difficulty rank comes from quantileNormalize's per-bucket
    // windows + broadcast offsets; rangepartitioning may appear only
    // for the display orderBy, never to feed a corpus-wide Window
    val windowIdx = p.indexOf("Window [row_number")
    assert(windowIdx >= 0, p)
    assert(p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q116c: tertiles rank without a global sort — no ntile, bucket windows only") {
    val p = plan("q116c_tertiles_scale")
    // the exact ntile is replaced by quantileNormalize's two-phase rank:
    // the row_number window is partitioned by (__g, __qb) — never a
    // corpus-wide single-partition WindowExec (q116 keeps the exact
    // ntile for oracle determinism; this is its scale twin). The one
    // empty-partition window that remains runs over the O(numBuckets)
    // offsets frame (≤ 33 rows by construction — the accepted
    // q210/q169 bounded-frame shape), not over the corpus.
    assert(!p.contains("ntile"), p)
    val windowIdx = p.indexOf("Window [row_number")
    assert(windowIdx >= 0, p)
    val spec = p.substring(windowIdx, math.min(p.length, windowIdx + 400))
    assert(spec.contains("__qb"), spec) // rank window is bucket-partitioned
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q193: t-closeness global cumsum is range-decomposed, no m-sized single-partition window") {
    val p = plan("q193_t_closeness")
    // the distinct-value histogram is range-shuffled and cumulated
    // per range (hashpartitioning(__bkt)); the only SinglePartition
    // window left is the O(P) bounds-prefix frame
    assert(p.contains("rangepartitioning(__v"), p)
    assert(p.contains("hashpartitioning(__bkt"), p)
    val singles = "Exchange SinglePartition".r.findAllIn(p).size
    assert(singles <= 1, s"expected at most the O(P) bounds frame, got $singles:\n$p")
  }

  test("q206/q171: layout file model ranks via range shuffle + pid windows, no global row_number") {
    Seq("q206_hilbert_layout", "q171_skipping_report").foreach { q =>
      // the report materializes eagerly inside skippingReportMulti
      // (so its persisted frames can be released — the returned frame
      // is a LocalTableScan); pin the INTERNALLY executed plan
      val plans = executedPlans(q)
      assert(plans.nonEmpty, q)
      def anyP(s: String) = plans.exists(_.contains(s))
      // the per-row rank window is partitioned by the range-shuffle
      // partition id; the only single-partition window is the O(P)
      // offsets prefix (the accepted bounded-frame shape)
      assert(anyP("Window [row_number"), s"$q: ${plans.mkString}")
      assert(anyP("hashpartitioning(__pid"), s"$q: ${plans.mkString}")
      assert(anyP("rangepartitioning(__l"), s"$q: ${plans.mkString}")
      assert(!anyP("ntile"), s"$q")
    }
  }

  test("q243: NCD sample pairing runs in doc_id-block windows, not one global window") {
    val p = plan("q243_ncd_verify")
    assert(p.contains("Window [lead"), p)
    assert(p.contains("hashpartitioning(__blk"), p)
    // no corpus-wide single-partition exchange ahead of the pairing
    // window (the display orderBy's rangepartitioning is fine)
    val wi = p.indexOf("Window [lead")
    val before = p.substring(wi)
    assert(before.contains("Exchange hashpartitioning(__blk"), p)
  }

  test("q124b: funnel tail-cut replaces the corpus-wide ntile with bucket windows") {
    // q124/q124b build their six stage rows as one union-of-aggregates
    // action over lazily checkpointed stages (r16), and q124b's scored
    // frame checkpoints eagerly before quantileNormalize — the plans
    // that matter are the ones executed along the way (class-level
    // executedPlans listener helper)
    val exact = executedPlans("q124_curation_funnel")
    assert(exact.exists(_.contains("ntile")),
      "sanity: the exact funnel must show its global ntile to the listener")
    val scale = executedPlans("q124b_curation_scale")
    assert(scale.nonEmpty)
    assert(!scale.exists(_.contains("ntile")),
      "the scale funnel must not run any ntile window")
    // the tail-cut rank must come from quantileNormalize's
    // bucket-partitioned row_number: a plan carrying both the rank
    // window and the __qb bucket key must have executed (the exact
    // window-partitioning shape is pinned by the q116c test; plans
    // here also carry the funnel's fingerprint-dedup window, so the
    // check is plan-level, not first-occurrence)
    assert(scale.exists(p =>
      p.contains("Window [row_number") && p.contains("__qb")),
      "expected the two-phase bucket-partitioned rank to execute")
  }

  test("q248: skew-evidence pair — salted half shuffles on (k, __salt), twin on k alone") {
    val salted = plan("q248_skew_salted")
    assert(salted.contains("__salt"), salted)
    assert(salted.contains("SortMergeJoin"), salted)
    val unsalted = plan("q248b_skew_unsalted")
    assert(!unsalted.contains("__salt"), unsalted)
    assert(unsalted.contains("SortMergeJoin"), unsalted)
    // same shape otherwise: the bench delta between the two is the
    // skew stall, not a different algorithm
    assert(!salted.contains("CartesianProduct") && !unsalted.contains("CartesianProduct"))
  }

  test("q218: CDC chunking is doc-keyed end to end — no cartesian, no corpus self-join") {
    val p = plan("q218_cdc_chunks")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // lag/prefix-sum windows and the chunk fold all key on doc_id
    assert(p.contains("Exchange hashpartitioning(doc_id"), p)
  }

  test("q217: FIM is ONE map pass — no join, no aggregation, only the display sort partitions") {
    val p = plan("q217_fim_transform")
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"), p)
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  test("q216: span corruption never joins — explode + doc-keyed windows + one fold") {
    val p = plan("q216_span_corrupt")
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Exchange hashpartitioning(doc_id"), p)
  }

  test("bm25 index serve: scoring reads stored postings only — no tokenizer, text never scanned") {
    import spark.implicits._
    val tmp = tempDir("graft-plan-bm25idx")
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"),
      (3L, "alpha delta")).toDF("doc_id", "text")
    val (p0, d0, s0) = graft.ext.Text.bm25Index(docs, "doc_id", "text")
    p0.write.parquet(s"$tmp/postings")
    d0.write.parquet(s"$tmp/dl")
    s0.write.parquet(s"$tmp/stats")
    val served = graft.ext.Text.bm25ServeFromIndex(
      spark.read.parquet(s"$tmp/postings"), spark.read.parquet(s"$tmp/dl"),
      spark.read.parquet(s"$tmp/stats"), Seq(("q", Seq("alpha", "beta"))), 2)
    val p = served.queryExecution.executedPlan.toString
    // q204's 100 TB point: serve cost is bounded by the query-filtered
    // index — a tokenizer or text scan here means the index was ignored
    assert(!p.contains("split("), p)
    assert(!p.contains("text:string"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("sq adc: search scans stored codes only — corpus floats never rematerialize") {
    import spark.implicits._
    val tmp = tempDir("graft-plan-sqadc")
    val corpus = Seq((1L, Array(0f, 1f)), (2L, Array(5f, 3f)), (3L, Array(9f, 7f)))
      .toDF("vec_id", "embedding")
    val stats = graft.ext.Features.dimMinMax(corpus, "embedding")
    graft.ext.Features.quantizeVectors(corpus, "vec_id", "embedding", stats)
      .write.parquet(s"$tmp/codes")
    val topk = graft.ext.Features.sqAdcTopK(
      spark.read.parquet(s"$tmp/codes"),
      Seq((9L, Array(0f, 0f))).toDF("query_id", "query_vec"), stats, 2)
    val p = topk.queryExecution.executedPlan.toString
    // bounds ride as literals (statsLiterals' driver hop) — the only
    // scan is the 4x-compressed code table
    assert(p.contains("codes"), p)
    assert(!p.contains("embedding:array"), p)
  }

  test("q224/q230: sequence vote has no quadratic clip surface — banded candidates only") {
    // candidates come from the frame/window-level pigeonhole banding;
    // the vote is a keyed equi-join per implied offset — a cartesian
    // or nested-loop join here means the clip-pair surface escaped
    // the banding
    Seq("q224_video_seq_neardup", "q230_audio_seq_neardup").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
  }

  test("q225: exact-dedup tier shuffles render digests, not rendered text") {
    val p = plan("q225_conv_dedup")
    // the md5 grain: hashpartitioning on rk (the digest), and no
    // exchange keyed on the rendered string itself
    assert(p.contains("hashpartitioning(rk"), p)
    assert(!p.contains("hashpartitioning(rendered"), p)
  }

  test("q202: hamming banding carries the hot-bucket grid guard — both branches in the plan") {
    // the split is a runtime filter on bucket_n, so the PLAN always
    // shows both routes: the plain bucket join unioned with the
    // grid-salted branch (explode(sequence(0, nsalt-1)) on each side).
    // If the union or the salt generators vanish, the guard was
    // optimized away and a degenerate-fingerprint corpus is one hot
    // bucket from a quadratic straggler again.
    val p = plan("q202_image_neardup")
    assert(p.contains("Union"), p)
    assert("sequence\\(0".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }
}
