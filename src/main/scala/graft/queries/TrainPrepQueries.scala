package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ext.Text
import graft.stream.Jobs
import graft.queries.Shared.{classifierOracle, docSliceStreamInput, tempDir}

/** Training-data preparation (`ext.TrainPrep`): splits, sampling,
  * mixtures, packing, sharding, decontamination and DSIR — the rest
  * of the text family, split out to keep each file readable.
  */
object TrainPrepQueries {

  /** Deterministic 80/10/10 corpus split by portable id-hash bucket
    * (md5-prefix, no RNG): per split, document count and an id checksum
    * — a membership change in ANY split hash-mismatches. Stability
    * across corpus versions is the point: a doc's split is a function
    * of its id alone.
    */
  def q46HashSplit(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.hashSplit(
      Tables.documents(spark, dir), "doc_id",
      Seq("train" -> 3277, "val" -> 3687, "test" -> 4096))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("split"))

  /** Contiguous sequence packing: per source shard, documents ordered
    * by id lay end-to-end and cut into 512-token bins (a doc belongs
    * to the bin holding its first token). Per (source, bin): docs,
    * tokens, and the bin's start check — the exact assembly map a
    * pretraining shard writer needs.
    */
  def q47PackSequences(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.packSequences(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          graft.ext.Text.tokenCount(col("text")).as("n_tokens")),
      "source", "doc_id", "n_tokens", budget = 512)
      .groupBy(col("source"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        min(col("start_offset")).as("bin_start"))
      .orderBy(col("source"), col("bin"))

  /** Deterministic per-language quota sample (8 docs per lang by
    * md5-hash rank, no RNG): the corpus-mixing step, fully
    * reproducible — the oracle rebuilds the identical sample.
    */
  def q49QuotaSample(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.quotaSample(
      Tables.documents(spark, dir), "lang", "doc_id", quota = 8)
      .select(col("lang"), col("doc_id"))
      .orderBy(col("lang"), col("doc_id"))

  /** Benchmark decontamination: corpus docs sharing any word 5-gram
    * with a (pseudo-)benchmark subset (`doc_id % 50 = 0`), flagged via
    * a broadcast shingle semi-join; summarized per contamination flag
    * with an id checksum so any flag flip hash-mismatches.
    */
  def q48Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.ext.TrainPrep.contaminatedDocs(
      docs, docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 5)
      .groupBy(col("contaminated"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("contaminated"))
  }

  /** Weighted corpus sampling: 20 docs per language, inclusion odds
    * proportional to a deterministic weight (1 + doc_id mod 5) — the
    * Efraimidis–Spirakis key reproduced digit-for-digit in the oracle
    * (13 md5 hex digits keep every step float-exact in both engines).
    */
  def q65WeightedSample(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.weightedSample(
      Tables.documents(spark, dir).filter(col("doc_id") < 600)
        .withColumn("weight", (lit(1) + col("doc_id") % 5).cast(DoubleType)),
      "lang", "doc_id", "weight", k = 20)
      .select(col("doc_id"), col("lang"), col("weight"))
      .orderBy(col("lang"), col("doc_id"))

  /** Overlapping context-window chunking (32-token chunks, stride 24):
    * every chunk's token count and content md5 — chunk boundaries and
    * payloads both hash-checked.
    */
  def q74ChunkDocs(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.chunkDocs(
      Tables.documents(spark, dir), "doc_id", "text", chunkSize = 32, stride = 24)
      .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk_toks"))).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Bloom-filter decontamination contract: the sub-linear probe must
    * flag EVERY exactly-contaminated document (bloom filters have no
    * false negatives — `n_missed` must be 0) with the false-positive
    * overshoot inside a 5% budget. The exact semi-join (q48's ground
    * truth, same benchmark slice and shingle width) rides along to
    * adjudicate, so the guarantee itself is hash-checked.
    */
  def q93BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val flagged = graft.ext.TrainPrep.bloomContaminatedDocs(
      docs, bench, "doc_id", "text", n = 5)
    val exact = graft.ext.TrainPrep.contaminatedDocs(
      docs, bench, "doc_id", "text", n = 5)
    flagged.join(exact, "doc_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
        sum(when(col("contaminated") && !col("flagged"), 1L).otherwise(0L))
          .as("n_missed"),
        (sum(when(!col("contaminated") && col("flagged"), 1L).otherwise(0L)) * 20
          <= count(lit(1))).as("fp_bound_ok"))
  }

  /** Temperature-scaled mixture weights per language (alpha = 0.5):
    * the multilingual re-balancing computation — low-resource languages
    * get sample_rate > 1, the dominant one < 1. All six decimals
    * hash-checked.
    */
  def q94MixtureWeights(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.mixtureWeights(
      Tables.documents(spark, dir), "lang", alpha = 0.5)
      .orderBy(col("lang"))

  /** Deterministic corpus shuffle into 8 shards: shard assignment and
    * within-shard order both md5-derived, verified by an order digest —
    * md5 over the comma-joined doc ids in position order — so the
    * EXACT permutation (not just the membership) hash-checks.
    */
  def q95ShuffleShards(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.deterministicShuffle(
      Tables.documents(spark, dir), "doc_id", numShards = 8)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("doc_id")))),
            s => s.getField("doc_id").cast(StringType)),
          ",")).as("order_digest"))
      .orderBy(col("shard"))

  /** Per-language token-budget fill: the greedy corpus-selection step —
    * each language admits its highest-quality documents (q86's exact
    * logit as the score) until a 3,000-token budget is hit. Both
    * regimes are exercised: small languages fit entirely, the dominant
    * one is cut mid-rank; prefix semantics make the cut reproducible.
    */
  def q97BudgetFill(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("quality",
        Text.qualityLogit(col("text"), Seq(-2.4, 2.0, -3.0, 1.5, 2.5)))
      .withColumn("n_tokens", Text.tokenCount(col("text")).cast(LongType))
    graft.ext.TrainPrep.budgetFill(
      docs, "lang", "doc_id", "quality", "n_tokens", budget = 3000L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("admitted"), col("n_tokens")).otherwise(0L))
          .as("tokens_admitted"))
      .orderBy(col("lang"))
  }

  /** SKIP-AND-CONTINUE budget fill (q97's knapsack-greedy sibling):
    * same per-language 3,000-token budget, but straddlers are skipped
    * and the scan continues, so every language packs to within one
    * doc-size of its budget (~2998/3000 here) where prefix fill stops
    * at the first straddler. Inherently sequential per group —
    * `flatMapSortedGroups`, the justified last-resort tier — and the
    * oracle rebuilds the ADMITTED chain with a correlated-min
    * recursive CTE (q89's verified pattern: recursion depth = number
    * of admitted docs, not corpus size).
    */
  def q97cBudgetFillSkip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .withColumn("quality",
        Text.qualityLogit(col("text"), Seq(-2.4, 2.0, -3.0, 1.5, 2.5)))
      .withColumn("n_tokens", Text.tokenCount(col("text")).cast(LongType))
      .select(col("lang"), col("doc_id"), col("quality"), col("n_tokens"))
      .as[(String, Long, Double, Long)]
    graft.ext.TrainPrep.budgetFillSkip(docs, budget = 3000L)
      .toDF("lang", "doc_id", "quality", "n_tokens", "admitted_tokens", "admitted")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("admitted"), col("n_tokens")).otherwise(0L))
          .as("tokens_admitted"))
      .orderBy(col("lang"))
  }

  /** GLOBAL token-budget fill (q97's single-target form): one 10k-token
    * budget over the whole corpus, languages competing in one global
    * (quality DESC, id ASC) order — the two-phase bucketed prefix sum
    * that never global-sorts. Per-language sums of the EXACT global
    * running totals hash-check, so every doc's global prefix value is
    * pinned (not just the admitted counts); a bucket-boundary error of
    * even one token anywhere in the corpus would flip `running_sum`.
    */
  def q97bBudgetFillGlobal(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("quality",
        Text.qualityLogit(col("text"), Seq(-2.4, 2.0, -3.0, 1.5, 2.5)))
      .withColumn("n_tokens", Text.tokenCount(col("text")).cast(LongType))
    graft.ext.TrainPrep.budgetFillGlobal(
      docs, "doc_id", "quality", "n_tokens", budget = 10000L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("admitted"), col("n_tokens")).otherwise(0L))
          .as("tokens_admitted"),
        sum(col("running_tokens")).as("running_sum"))
      .orderBy(col("lang"))
  }

  /** Epoch materialization: q94's temperature weights (α = 0.5) turned
    * into an exact per-document repeat plan for a 50k-token corpus —
    * base whole-corpus repeats plus a hash-ordered prefix getting one
    * extra, per group. At sf0.01 most languages up-sample (multiple
    * epochs); at sf0.1 the same budget down-samples — both regimes
    * hash-check against the same oracle.
    */
  def q104MaterializeMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("n_tokens", Text.tokenCount(col("text")).cast(LongType))
    val weights = graft.ext.TrainPrep.mixtureWeights(docs, "lang", alpha = 0.5)
    graft.ext.TrainPrep.materializeMixture(
      docs, "lang", "doc_id", "n_tokens", weights, totalTokens = 50000L)
      .orderBy(col("lang"), col("doc_id"))
  }

  /** Token-balanced sharding: the shuffled corpus packed into
    * ~2000-token contiguous shards via the exact two-phase global
    * prefix sum (bucket partials + broadcast offsets — zero global
    * sort). The oracle computes the same running total with one
    * global window, so the hash check pins the two-phase
    * decomposition's exactness.
    */
  def q105TokenShards(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), Text.tokenCount(col("text")).cast(LongType).as("n_tokens"))
    graft.ext.TrainPrep.tokenBalancedShards(docs, "doc_id", "n_tokens", 2000L)
      .orderBy(col("doc_id"))
  }

  /** STREAMING twin of q104: the epoch plan maintained INCREMENTALLY —
    * each micro-batch appends to a versioned corpus snapshot and
    * re-derives the full mixture → repeat plan (a corpus-GLOBAL
    * property: one arriving doc shifts its whole group's repeat
    * counts, so the incremental form is snapshot recompute, not row
    * state — see [[graft.stream.Jobs.runPlanRecomputeStream]]). Every
    * plan operator is deterministic in corpus content, so the final
    * published plan is bit-identical to the batch path — q104's own
    * oracle checks it.
    */
  def q104bMixtureStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q104b")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    graft.stream.Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      corpus => {
        val d = corpus.withColumn("n_tokens", Text.tokenCount(col("text")).cast(LongType))
        val weights = graft.ext.TrainPrep.mixtureWeights(d, "lang", alpha = 0.5)
        graft.ext.TrainPrep.materializeMixture(
          d, "lang", "doc_id", "n_tokens", weights, totalTokens = 50000L)
          .select(col("lang"), col("doc_id"), col("n_tokens"),
            col("base_repeats"), col("extra_repeat"), col("n_repeats"))
      }, filesPerTrigger = 2)
      .orderBy(col("lang"), col("doc_id"))
  }

  /** STREAMING twin of q105: token-balanced sharding maintained
    * incrementally over the growing corpus (same snapshot-recompute
    * mechanics as q104b — `tokens_before` is a global prefix sum, so
    * any arrival can shift every later doc's shard). Final state
    * hash-checks against q105's batch oracle.
    */
  def q105bShardStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q105b")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    graft.stream.Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      corpus => graft.ext.TrainPrep.tokenBalancedShards(
        corpus.select(col("doc_id"),
          Text.tokenCount(col("text")).cast(LongType).as("n_tokens")),
        "doc_id", "n_tokens", 2000L), filesPerTrigger = 2)
      .orderBy(col("doc_id"))
  }

  /** Contamination attribution: the audit report behind q48's flags —
    * which benchmark doc leaked into which corpus doc, with distinct
    * shared-4-gram counts and the doc's shingle total (4-grams rather
    * than q48's 5-grams: the report is the investigative view, so it
    * casts a slightly wider net than the drop gate). Same benchmark
    * slice as q48/q93 (doc_id % 50 = 0), self-pairs excluded.
    */
  def q106ContaminationReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.ext.TrainPrep.contaminationReport(
      docs, docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", 4)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** q106 with `hashShingles = true` — the audit view's scale form:
    * the benchmark broadcast and every join-key compare carry 8-byte
    * xxhash64 values instead of 4-gram strings (the q102b pattern, at
    * a real benchmark-suite size a ~10× narrower broadcast). Same
    * oracle as q106: the hash check pins hashed ≡ exact shared-shingle
    * counts on this corpus.
    */
  def q106bContaminationReportHashed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.ext.TrainPrep.contaminationReport(
      docs, docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", 4,
      hashShingles = true)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** DSIR importance log-weights (Xie et al. 2023) over the corpus
    * with the English src1/src2 slice as the target domain: hashed
    * bigram bag-of-buckets (portable md5-prefix buckets, 4096),
    * add-one-smoothed log p̂_target/p̂_corpus, summed per doc — the
    * classifier-free "make the corpus look like the target" scorer;
    * [[graft.ext.TrainPrep.weightedSample]]-composable. Fully
    * oracle-checked: every count, bucket, and log-ratio reproduces
    * bit-for-bit in the oracle engine.
    */
  def q112DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val target = docs.filter(col("lang") === "en" &&
      col("source").isin("src1", "src2"))
    graft.ext.TrainPrep.dsirLogWeights(docs, "doc_id", "text", target, n = 2)
      .orderBy(col("doc_id"))
  }

  /** Target-matched corpus selection — DSIR end to end (Xie et al.
    * 2023 §3): q112's importance log-weights become sampling weights
    * (exp of the ROUNDED log-weight, so both engines exponentiate the
    * identical input) and [[graft.ext.TrainPrep.weightedSample]]
    * draws 25 docs per language by deterministic Efraimidis–Spirakis
    * ranks — "make the corpus look like the target" as one composed,
    * fully hash-checked pipeline. Shapes: the DSIR stage's broadcast
    * ratio table + keyed shuffles (q112), then one window per
    * language group (q65).
    */
  def q123DsirSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val target = docs.filter(col("lang") === "en" &&
      col("source").isin("src1", "src2"))
    val weights = graft.ext.TrainPrep.dsirLogWeights(
      docs, "doc_id", "text", target, n = 2)
    val weighted = docs.select(col("doc_id"), col("lang"))
      .join(weights, Seq("doc_id"))
      .withColumn("weight", exp(col("dsir_log_weight")))
    graft.ext.TrainPrep.weightedSample(weighted, "lang", "doc_id", "weight", k = 25)
      .select(col("doc_id"), col("lang"), col("dsir_log_weight"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** The eval discipline every classifier-gated curation run needs:
    * train on the deterministic hashSplit train slice (80%), score
    * EVERYTHING, report the per-split confusion matrix — if holdout
    * accuracy craters vs train, the quality gate is memorizing, not
    * generalizing. All counts are exact integers (keep = z > 0 on the
    * exact integer-ratio z), so the whole report hash-checks against
    * the oracle's replay of split, training, and scoring.
    */
  def q129ClassifierHoldout(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val label = when(size(filter(Text.tokens(col("text")), t => t === "vector"))
        > size(filter(Text.tokens(col("text")), t => t === "spark")), 1.0)
      .otherwise(0.0)
    def featOf(d: DataFrame) = graft.ext.Classifier.hashedFeatures(
      d, "doc_id", "text", label, numBuckets = 64)
    val isTrain = graft.ext.TrainPrep.splitBucket(col("doc_id")) < 3277
    // materialized once (the q126b discipline): hashing is a per-row
    // map + per-doc groupBy, so filtering the TRAIN slice after
    // hashing is identical to hashing the filtered docs — one
    // tokenize+hash pass feeds both training and the full score
    val feat = featOf(docs).localCheckpoint(true)
    val w = graft.ext.Classifier.trainElliott(
      feat.filter(isTrain), numBuckets = 64, iters = 4)
    graft.ext.Classifier.score(feat, w)
      .withColumn("split", when(isTrain, "train").otherwise("holdout"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1.0 && col("keep"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === 0.0 && col("keep"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === 1.0 && !col("keep"), 1L).otherwise(0L)).as("fn"),
        sum(when(col("y") === 0.0 && !col("keep"), 1L).otherwise(0L)).as("tn"))
      .select(col("split"), col("n_docs"), col("tp"), col("fp"), col("fn"),
        col("tn"),
        round((col("tp") + col("tn")).cast("double") / col("n_docs"), 6)
          .as("accuracy"))
      .orderBy(col("split"))
  }

  /** Train/holdout LEAKAGE audit: exact-duplicate texts that cross
    * the hashSplit boundary — decontamination (q48/q93) guards against
    * an EXTERNAL benchmark; this guards the split itself (a duplicated
    * doc landing on both sides leaks the holdout into training). One
    * fingerprint-keyed aggregation over the whole corpus: a class
    * leaks iff it spans both splits; per-split summary plus id
    * checksums pin the exact leaking set. Near-dup leakage is the
    * same audit through `minhashNearDupAgainst` (q78's directional
    * form) — exact grain here, the shape every split ships with.
    */
  def q135SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // the synthetic corpus has (almost) no exact duplicates, so the
    // audit injects the real-world case deterministically: every 40th
    // doc re-crawled under a new id — its hash bucket (and so its
    // split) re-rolls, which is exactly how a duplicate leaks across
    // a split boundary
    val docs = base.unionByName(
      base.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .withColumn("split",
        when(graft.ext.TrainPrep.splitBucket(col("doc_id")) < 3277, "train")
          .otherwise("holdout"))
      .select(col("doc_id"), col("split"), md5(col("text")).as("fp"))
    val classes = docs.groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "holdout", 1L).otherwise(0L)).as("n_holdout"),
        sum(col("doc_id")).as("id_sum"))
    classes
      .select(
        when(col("n_train") > 0 && col("n_holdout") > 0, "leaking")
          .when(col("n_docs") > 1, "dup_within_split")
          .otherwise("unique").as("status"),
        col("n_docs"), col("n_train"), col("n_holdout"), col("id_sum"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_classes"), sum(col("n_docs")).as("n_docs"),
        sum(col("n_train")).as("n_train"), sum(col("n_holdout")).as("n_holdout"),
        sum(col("id_sum")).as("id_sum"))
      .orderBy(col("status"))
  }

  /** RAG retrieval capstone: the corpus chunked into overlapping
    * 32-token windows (q74's chunker), BM25 ranked at CHUNK grain
    * (q136's queries), top-5 contexts per query with provenance
    * (doc_id, chunk_id) and a content digest — the retrieval half of
    * a RAG stack end to end. Chunk ids pack as doc_id·1000+chunk_id
    * (chunk counts are bounded far below 1000 by doc length), so the
    * BM25 machinery runs unchanged over the chunk corpus.
    */
  def q138RagRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val chunks = graft.ext.TrainPrep.chunkDocs(
      Tables.documents(spark, dir), "doc_id", "text",
      chunkSize = 32, stride = 24)
      .select((col("doc_id") * 1000 + col("chunk_id")).as("cid"),
        concat_ws(" ", col("chunk_toks")).as("ctext"))
    val hits = Text.bm25TopK(chunks, "cid", "ctext",
      Seq(("disc", Seq("vector", "spark")), ("stop", Seq("the", "a")),
        ("mixed", Seq("merge", "window", "customer"))), k = 5)
      .withColumnRenamed("doc_id", "cid")
    hits.join(chunks.select(col("cid"), md5(col("ctext")).as("chunk_md5")),
        Seq("cid"))
      .select(col("query_id"), col("rank"),
        expr("cid div 1000").as("doc_id"),
        (col("cid") % 1000).cast("int").as("chunk_id"),
        col("score"), col("chunk_md5"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** UniMax budget allocation
    * ([[graft.ext.TrainPrep.unimaxAllocation]]): a token budget
    * spread as uniformly as possible across language groups with a
    * 2-epoch cap per group — the principled alternative to q94's
    * temperature weights that never over-repeats a low-resource
    * group. Every 20th doc forms a deterministic "rare" group so the
    * cap provably binds at every SF; the budget is 1.8× the corpus
    * (one disclosed scalar hop at definition time, the q92b
    * precedent), so the capped/uncapped split is scale-invariant.
    * All long arithmetic (the cap predicate multiplies through
    * instead of dividing) — the allocation replays exactly.
    */
  def q169UnimaxAlloc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("grp",
        when(pmod(col("doc_id"), lit(20)) === 0, lit("rare"))
          .otherwise(col("lang")))
    val total = docs.agg(sum(Text.tokenCount(col("text"))).as("t"))
      .head().getLong(0)
    graft.ext.TrainPrep.unimaxAllocation(docs, "grp",
      Text.tokenCount(col("text")),
      budget = total * 18 / 10, maxEpochs = 2)
      .orderBy(col("grp"))
  }

  /** Cross-source score CALIBRATION
    * ([[graft.ext.TrainPrep.quantileNormalize]]): the q14 composite
    * quality score mapped onto each source's empirical CDF — the
    * correction that makes "top 20% by quality" mean the same thing
    * in every domain before a mixing decision thresholds it. Exact
    * per-doc rank/ppm table; the oracle computes the same ranks with
    * a plain per-source window, so the hash check pins the two-phase
    * (KLL-bucketed, no per-group global sort) decomposition equal to
    * the naive form.
    */
  def q190QuantileNorm(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.quantileNormalize(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          Text.qualityScore(col("text")).as("quality")),
      "source", "doc_id", col("quality"), numBuckets = 8)
      .select(col("doc_id"), col("source"), col("quality"),
        col("q_rank"), col("group_n"), col("quantile_ppm"))
      .orderBy(col("doc_id"))

  /** STREAMING twin of q190: the per-source quantile table maintained
    * over the growing corpus. A rank is corpus-GLOBAL (one arriving
    * doc shifts every later rank in its source), so the incremental
    * form is snapshot recompute (q104b/q105b mechanics via
    * [[graft.stream.Jobs.runPlanRecomputeStream]]); the plan is
    * content-deterministic, so the final published table bit-equals
    * the batch path — q190's own oracle checks it.
    */
  def q190bQuantileNormStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q190b")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp, withSource = true)
    Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      corpus => graft.ext.TrainPrep.quantileNormalize(
        corpus.select(col("doc_id"), col("source"),
          Text.qualityScore(col("text")).as("quality")),
        "source", "doc_id", col("quality"), numBuckets = 8)
        .select(col("doc_id"), col("source"), col("quality"),
          col("q_rank"), col("group_n"), col("quantile_ppm")), filesPerTrigger = 2)
      .orderBy(col("doc_id"))
  }

  /** TEMPERATURE-based mixture allocation
    * ([[graft.ext.TrainPrep.temperatureMixture]], the mT5/XLM-R
    * p_g ∝ n_g^(1/T) sampling rule at T = 2): per-source token
    * counts compressed by the square root, re-shared, and turned
    * into exact token targets + the implied epochs factor — the
    * proportional-vs-uniform compromise next to q169's UniMax
    * water-filling. One libm pow per source quantized to the 10⁻⁶
    * grid; every share/target/epochs value after is exact
    * DECIMAL(38,0) integer arithmetic.
    */
  def q191TemperatureMixture(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.temperatureMixture(
      Tables.documents(spark, dir), "source",
      when(length(trim(col("text"))) > 0, Text.tokenCount(col("text"))
        .cast("long")).otherwise(0L),
      temperature = 2.0, budget = 100000L)
      .orderBy(col("source"))

  /** Sequence-batching PADDING-WASTE report: the same corpus batched
    * two ways at batch size 32 — md5-shuffled order (the naive
    * loader) vs length-sorted order (bucketed batching) — each
    * scored by the tokens a dynamic-padding collate actually pads:
    * Σ_batches (batch_size · max_len − Σ len). The table that
    * justifies length bucketing in a training pipeline (sorted
    * batching routinely halves padded-token throughput loss). Both
    * global ranks come from [[graft.ext.TrainPrep.quantileNormalize]]
    * with a constant group — the two-phase KLL-bucketed rank, so
    * NEITHER strategy needs a global sort; the md5 order ranks by
    * the exact 52-bit numeric value of the 13-hex md5 prefix (the
    * [[graft.ext.TrainPrep.weightedSample]] convention).
    */
  def q194PackingWaste(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(length(trim(col("text"))) > 0, Text.tokenCount(col("text"))
          .cast("long")).otherwise(0L).as("n_toks"))
    def strategy(name: String, score: Column): DataFrame = {
      val ranked = graft.ext.TrainPrep.quantileNormalize(
        docs.withColumn("__grp", lit("all")), "__grp", "doc_id", score,
        numBuckets = 8)
      ranked
        .withColumn("__batch", expr("(q_rank - 1) div 32"))
        .groupBy(col("__batch"))
        .agg(count(lit(1)).as("__n"), max(col("n_toks")).as("__mx"),
          sum(col("n_toks")).as("__sum"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("__sum")).as("real_tokens"),
          sum(col("__n") * col("__mx")).as("padded_tokens"))
        .select(lit(name).as("strategy"), col("n_batches"),
          col("real_tokens"), col("padded_tokens"),
          expr("CASE WHEN padded_tokens > 0 THEN" +
            " (padded_tokens - real_tokens) * 1000000 div padded_tokens" +
            " ELSE 0L END").as("waste_ppm"))
    }
    val mdScore = conv(substring(md5(col("doc_id").cast("string")), 1, 13),
      16, 10).cast("double")
    strategy("1_shuffled", mdScore)
      .unionByName(strategy("2_sorted", col("n_toks").cast("double")))
      .orderBy(col("strategy"))
  }

  /** STREAMING twin of q191: the temperature-mixture allocation
    * maintained over the growing corpus (snapshot recompute — a share
    * is corpus-global: one arriving doc re-shares every group).
    * Content-deterministic plan ⇒ the final published table
    * bit-equals the batch path; q191's own oracle checks it.
    */
  def q191bTemperatureStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q191b")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp, withSource = true)
    Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      corpus => graft.ext.TrainPrep.temperatureMixture(corpus, "source",
        when(length(trim(col("text"))) > 0, Text.tokenCount(col("text"))
          .cast("long")).otherwise(0L),
        temperature = 2.0, budget = 100000L), filesPerTrigger = 2)
      .orderBy(col("source"))
  }

  /** Competence-based CURRICULUM schedule
    * ([[graft.ext.TrainPrep.curriculumSchedule]], Platanios et al.
    * 2019): the corpus ordered easy→hard by token count (the
    * canonical length curriculum) through the exact zero-global-sort
    * rank, phased by the quantized √-competence pacing (phase p of 4
    * admits the easiest ⌊N·√(p/4)⌋ docs — closed form
    * ⌈rank²·4/N²⌉, truncating decimal arithmetic), with a
    * deterministic md5 within-phase training order. The per-doc
    * artifact — rank, first admitting phase, phase order — is what a
    * training loop consumes; the oracle replays rank, the integer
    * closed form, and the md5 order window verbatim.
    */
  def q210Curriculum(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.curriculumSchedule(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      "doc_id", Text.tokenCount(col("text")).cast("long"), phases = 4)
      .select(col("doc_id"), col("difficulty"), col("difficulty_rank"),
        col("n_docs"), col("first_phase"), col("phase_order"))
      .orderBy(col("doc_id"))

  /** STREAMING curriculum twin: the schedule is corpus-GLOBAL (one
    * arriving doc shifts every rank and the phase cut-offs), so
    * snapshot recompute is the correct incremental form
    * ([[graft.stream.Jobs.runPlanRecomputeStream]], the q104b/q132
    * class). Shares q210's oracle verbatim.
    */
  def q210bCurriculumStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q210b")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      docs => graft.ext.TrainPrep.curriculumSchedule(
        docs.select(col("doc_id"), col("text")),
        "doc_id", Text.tokenCount(col("text")).cast("long"), phases = 4)
        .select(col("doc_id"), col("difficulty"), col("difficulty_rank"),
          col("n_docs"), col("first_phase"), col("phase_order")), filesPerTrigger = 2)
      .orderBy(col("doc_id"))
  }

  /** Neyman-allocation stratified sample
    * ([[graft.ext.TrainPrep.neymanSample]]): a 500-row budget split
    * across event types proportionally to N_h·S_h (exact integer
    * isqrt of n·Σy²−(Σy)² on value cents) — the estimator-variance-
    * minimizing allocation q49's uniform quota ignores. The audit
    * pins weights, allocations, AND the exact md5-rank selection (id
    * checksums); null-value rows are excluded (variance needs y).
    */
  def q183NeymanSample(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TrainPrep.neymanSample(
      Tables.events(spark, dir).filter(col("value").isNotNull),
      "event_type", "event_id", round(col("value") * 100),
      budget = 500L)
      .orderBy(col("event_type"))

  /** Shared CTE chain of the q112/q123 oracles: DSIR hashed-bigram
    * bucket counts through the per-doc summed log-weight (`lw`).
    */
  private val dsirWeightCtes: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |         unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS gram
      |  FROM tok WHERE len(t) >= 2),
      |bkt AS (
      |  SELECT doc_id, substring(md5(gram), 1, 3) AS b FROM g),
      |db AS (
      |  SELECT doc_id, b, count(*) AS cnt FROM bkt GROUP BY 1, 2),
      |cb AS (
      |  SELECT b, sum(cnt) AS cc FROM db GROUP BY 1),
      |tgt AS (
      |  SELECT bkt.b, count(*) AS tc
      |  FROM bkt JOIN documents d USING (doc_id)
      |  WHERE d.lang = 'en' AND d.source IN ('src1', 'src2')
      |  GROUP BY 1),
      |ratios AS (
      |  SELECT cb.b,
      |         ln((coalesce(tc, 0) + 1) /
      |            ((SELECT sum(tc) FROM tgt) + 4096.0)) -
      |         ln((cc + 1) / ((SELECT sum(cc) FROM cb) + 4096.0)) AS lr
      |  FROM cb LEFT JOIN tgt USING (b)),
      |lw AS (
      |  SELECT doc_id, sum(cnt * lr) AS w
      |  FROM db JOIN ratios USING (b) GROUP BY 1)""".stripMargin

  /** Shared by q105 (batch two-phase prefix sum) and q105b (the
    * incremental snapshot-recompute stream): one global window over
    * the md5 order — the brute-force form of the bucket decomposition
    * the Spark side runs.
    */
  private val tokenShardsOracle: String =
    """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |           AS n_tokens,
        |         substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (
        |           ORDER BY h, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS tokens_before
        |  FROM d)
        |SELECT doc_id, n_tokens, tokens_before,
        |       CAST(tokens_before // 2000 AS BIGINT) AS shard
        |FROM r ORDER BY doc_id""".stripMargin

  /** Shared by q104 (batch) and q104b (incremental stream): weights
    * re-derived as q94's verified CTE, then targets, base repeats, and
    * the md5-prefix extra repeat — floor/CAST staging mirrors the
    * Spark side exactly (all values < 2^52, so the double-math floor()
    * is integer-exact in both engines).
    */
  private val materializeMixtureOracle: String =
    """WITH d AS (
        |  SELECT doc_id, lang,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |           AS n_tokens
        |  FROM documents),
        |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY 1),
        |t AS (SELECT sum(pow(n_docs, 0.5)) AS z FROM c),
        |wt AS (SELECT lang, round(pow(n_docs, 0.5) / z, 6) AS weight FROM c, t),
        |g AS (SELECT lang, sum(n_tokens) AS gtokens FROM d GROUP BY 1),
        |tg AS (
        |  SELECT g.lang,
        |         CAST(floor(wt.weight * 50000) AS BIGINT) AS target,
        |         g.gtokens
        |  FROM g JOIN wt USING (lang)),
        |tb AS (
        |  SELECT lang, target, gtokens,
        |         CAST(floor(CAST(target AS DOUBLE) / gtokens) AS BIGINT) AS base
        |  FROM tg),
        |r AS (
        |  SELECT d.lang, d.doc_id, d.n_tokens, tb.base,
        |         tb.target - tb.base * tb.gtokens AS rem,
        |         sum(d.n_tokens) OVER (
        |           PARTITION BY d.lang
        |           ORDER BY substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15),
        |                    d.doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM d JOIN tb USING (lang))
        |SELECT lang, doc_id, n_tokens,
        |       base AS base_repeats,
        |       rem > 0 AND run <= rem AS extra_repeat,
        |       base + CASE WHEN rem > 0 AND run <= rem THEN 1 ELSE 0 END
        |         AS n_repeats
        |FROM r ORDER BY lang, doc_id""".stripMargin

  /** Shared by q106 (string-keyed shingles) and q106b (xxhash64-keyed
    * shingles): both must report identical (doc, bench) shared-shingle
    * counts — that equivalence is exactly what q106b verifies.
    */
  private val contaminationReportOracle: String =
    """WITH t AS (
      |  SELECT doc_id, list_distinct(
      |           [list_aggregate(toks[i:i+3], 'string_agg', ' ')
      |            FOR i IN range(1, greatest(len(toks) - 3, 1) + 1)]) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents)),
      |d AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS sz FROM t),
      |b AS (SELECT doc_id AS bench_id, unnest(sh) AS s FROM t
      |      WHERE doc_id % 50 = 0)
      |SELECT d.doc_id, b.bench_id,
      |       CAST(count(*) AS BIGINT) AS n_shared,
      |       CAST(any_value(d.sz) AS BIGINT) AS doc_shingles
      |FROM d JOIN b USING (s)
      |WHERE d.doc_id <> b.bench_id
      |GROUP BY d.doc_id, b.bench_id
      |ORDER BY d.doc_id, b.bench_id""".stripMargin

  /** q191/q191b shared oracle: the temperature-weighted (T=2 →
    * sqrt) source allocation — the streamed snapshot-recompute twin
    * must bit-equal the batch allocation.
    */
  private def temperatureMixtureSql: String =
    """WITH t AS (
      |  SELECT source,
      |         CASE WHEN length(trim(text)) > 0
      |           THEN CAST(len(regexp_split_to_array(trim(text), '\s+'))
      |                AS BIGINT)
      |           ELSE CAST(0 AS BIGINT) END AS n_toks
      |  FROM documents),
      |c AS (
      |  SELECT source, CAST(sum(n_toks) AS BIGINT) AS n_tokens
      |  FROM t GROUP BY 1),
      |w AS (
      |  SELECT source, n_tokens,
      |         CAST(round(pow(CAST(n_tokens AS DOUBLE), 0.5) * 1000000)
      |           AS BIGINT) AS w_scaled
      |  FROM c),
      |s AS (
      |  SELECT *, CAST(sum(w_scaled) OVER () AS BIGINT) AS wsum FROM w),
      |p AS (
      |  SELECT source, n_tokens, w_scaled,
      |         CASE WHEN wsum > 0
      |           THEN CAST(CAST(w_scaled AS HUGEINT) * 1000000 // wsum
      |             AS BIGINT)
      |           ELSE CAST(0 AS BIGINT) END AS share_ppm
      |  FROM s),
      |tg AS (
      |  SELECT *,
      |         CAST(CAST(share_ppm AS HUGEINT) * 100000 // 1000000
      |           AS BIGINT) AS target_tokens
      |  FROM p)
      |SELECT source, n_tokens, w_scaled, share_ppm, target_tokens,
      |       CASE WHEN n_tokens > 0
      |         THEN CAST(CAST(target_tokens AS HUGEINT) * 1000000
      |           // n_tokens AS BIGINT)
      |         ELSE CAST(0 AS BIGINT) END AS epochs_ppm
      |FROM tg ORDER BY source""".stripMargin

  /** q190/q190b oracle: the q14 quality expression + a plain
    * per-source window — the naive form the two-phase decomposition
    * must equal.
    */
  private def quantileNormSql: String =
    """WITH t AS (
      |  SELECT doc_id, source, text,
      |         regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, source,
      |         round((least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
      |                + (1.0 - least((CAST(length(text) - length(
      |                      regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
      |                      AS DOUBLE)
      |                    / greatest(length(text), 1)) * 5.0, 1.0))
      |                + least((CAST(len(list_filter(toks,
      |                      x -> list_contains(['the','a','an','and','or',
      |                        'of','to','in','is','it'], x))) AS DOUBLE)
      |                    / greatest(len(toks), 1)) * 5.0, 1.0)) / 3.0, 4)
      |           AS quality
      |  FROM t),
      |r AS (
      |  SELECT doc_id, source, quality,
      |         CAST(row_number() OVER (PARTITION BY source
      |           ORDER BY quality, doc_id) AS BIGINT) AS q_rank,
      |         CAST(count(*) OVER (PARTITION BY source) AS BIGINT)
      |           AS group_n
      |  FROM q)
      |SELECT doc_id, source, quality, q_rank, group_n,
      |       q_rank * 1000000 // group_n AS quantile_ppm
      |FROM r ORDER BY doc_id""".stripMargin

  /** q210/q210b shared oracle: exact rank, integer competence closed
    * form, md5 within-phase order.
    */
  private val curriculumSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
      |           AS difficulty
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, difficulty,
      |         CAST(row_number() OVER (ORDER BY difficulty, doc_id) AS BIGINT)
      |           AS difficulty_rank,
      |         CAST(count(*) OVER () AS BIGINT) AS n_docs
      |  FROM d),
      |p AS (
      |  SELECT r.*,
      |         (difficulty_rank * difficulty_rank * 4 + n_docs * n_docs - 1)
      |           // (n_docs * n_docs) AS first_phase
      |  FROM r)
      |SELECT doc_id, difficulty, difficulty_rank, n_docs, first_phase,
      |       CAST(row_number() OVER (PARTITION BY first_phase
      |            ORDER BY md5('cur#' || CAST(doc_id AS VARCHAR)), doc_id)
      |         AS INT) AS phase_order
      |FROM p ORDER BY doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q46_hash_split", q46HashSplit, Some(
      """WITH b AS (
        |  SELECT doc_id,
        |         strpos('123456789abcdef',
        |                substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
        |         + strpos('123456789abcdef',
        |                  substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) * 16
        |         + strpos('123456789abcdef',
        |                   substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 3277 THEN 'train'
        |            WHEN bucket < 3687 THEN 'val'
        |            ELSE 'test' END AS split,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("q47_pack_sequences", q47PackSequences, Some(
      """WITH t AS (
        |  SELECT doc_id, source,
        |         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT source, doc_id, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           - n_tokens AS start_offset
        |  FROM t)
        |SELECT source, CAST(start_offset // 512 AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS tokens,
        |       CAST(min(start_offset) AS BIGINT) AS bin_start
        |FROM o GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("q49_quota_sample", q49QuotaSample, Some(
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 15),
        |                    doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 8
        |ORDER BY lang, doc_id""".stripMargin)),
    QueryDef("q48_decontaminate", q48Decontaminate, Some(
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct([list_aggregate(toks[i:i+4], 'string_agg', ' ')
        |                        FOR i IN range(1, greatest(len(toks) - 4, 1) + 1)]) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents)),
        |bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 50 = 0),
        |hits AS (
        |  SELECT DISTINCT c.doc_id
        |  FROM sh c JOIN bench b
        |    ON c.doc_id != b.bench_id AND len(list_intersect(c.s, b.s)) > 0),
        |flagged AS (
        |  SELECT d.doc_id, h.doc_id IS NOT NULL AS contaminated
        |  FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id)
        |SELECT contaminated,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM flagged GROUP BY 1 ORDER BY 1""".stripMargin)),
    // the ES uniform reconstructs Spark's conv(md5-prefix, 16, 10)
    // positionally — 13 hex digits (52 bits), so every term, partial
    // sum, and the final int→double value is exact in IEEE doubles on
    // both engines
    QueryDef("q65_weighted_sample", q65WeightedSample, Some({
      val digitTerms = (1 to 13)
        .map(i => s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * power(16, ${13 - i})")
        .mkString(" +\n           ")
      s"""WITH d AS (
         |  SELECT doc_id, lang, CAST(1 + doc_id % 5 AS DOUBLE) AS weight,
         |         md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents WHERE doc_id < 600),
         |k AS (
         |  SELECT doc_id, lang, weight,
         |         ln((($digitTerms) + 1.0) / power(16, 13)) / weight AS es_key
         |  FROM d),
         |r AS (
         |  SELECT doc_id, lang, weight,
         |         row_number() OVER (PARTITION BY lang
         |                            ORDER BY es_key DESC, doc_id) AS rk
         |  FROM k)
         |SELECT doc_id, lang, weight FROM r WHERE rk <= 20
         |ORDER BY lang, doc_id""".stripMargin
    })),
    QueryDef("q74_chunk_docs", q74ChunkDocs, Some(
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, toks,
        |         CASE WHEN len(toks) <= 32 THEN 1
        |              ELSE (len(toks) - 32 + 23) // 24 + 1 END AS n_chunks
        |  FROM t),
        |c AS (
        |  SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_id FROM n)
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        |       CAST(len(toks[chunk_id*24 + 1 : chunk_id*24 + 32]) AS INT)
        |         AS n_chunk_tokens,
        |       md5(array_to_string(toks[chunk_id*24 + 1 : chunk_id*24 + 32], ' '))
        |         AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),
    QueryDef("q93_bloom_decontaminate", q93BloomDecontaminate, Some(
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct([list_aggregate(toks[i:i+4], 'string_agg', ' ')
        |                        FOR i IN range(1, greatest(len(toks) - 4, 1) + 1)]) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents)),
        |bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 50 = 0),
        |hits AS (
        |  SELECT DISTINCT c.doc_id
        |  FROM sh c JOIN bench b
        |    ON c.doc_id != b.bench_id AND len(list_intersect(c.s, b.s)) > 0)
        |-- n_missed = 0 and fp_bound_ok = TRUE are the CONTRACT: the
        |-- bloom probe may never miss a truly contaminated doc, and may
        |-- over-flag at most 5% of the corpus
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_contaminated,
        |       CAST(0 AS BIGINT) AS n_missed,
        |       TRUE AS fp_bound_ok
        |FROM documents""".stripMargin)),
    QueryDef("q94_mixture_weights", q94MixtureWeights, Some(
      """WITH c AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS total,
        |             sum(pow(n_docs, 0.5)) AS z FROM c)
        |SELECT lang, n_docs,
        |       round(n_docs / total, 6) AS p_natural,
        |       round(pow(n_docs, 0.5) / z, 6) AS weight,
        |       round(pow(n_docs, 0.5) / z / (n_docs / total), 6) AS sample_rate
        |FROM c, t ORDER BY lang""".stripMargin)),
    QueryDef("q95_shuffle_shards", q95ShuffleShards, Some(
      """WITH b AS (
        |  SELECT doc_id,
        |         (strpos('123456789abcdef',
        |                 substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
        |          + strpos('123456789abcdef',
        |                   substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) * 16
        |          + strpos('123456789abcdef',
        |                   substring(md5(CAST(doc_id AS VARCHAR)), 3, 1))) % 8 AS shard,
        |         substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS h
        |  FROM documents)
        |SELECT CAST(shard AS INTEGER) AS shard,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       md5(string_agg(CAST(doc_id AS VARCHAR), ','
        |             ORDER BY h, doc_id)) AS order_digest
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("q97_budget_fill", q97BudgetFill, Some(
      """WITH t AS (
        |  SELECT doc_id, lang, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |z AS (
        |  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
        |         -2.4 + 2.0 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
        |              + -3.0 * (CAST(length(text)
        |                  - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
        |                  AS DOUBLE) / greatest(length(text), 1))
        |              + 1.5 * (CAST(len(list_filter(toks, x -> list_contains(
        |                  ['the','a','an','and','or','of','to','in','is','it'], x)))
        |                  AS DOUBLE) / greatest(len(toks), 1))
        |              + 2.5 * (CAST(len(list_distinct(toks)) AS DOUBLE)
        |                  / greatest(len(toks), 1)) AS z
        |  FROM t),
        |r AS (
        |  SELECT lang, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY lang
        |           ORDER BY z DESC, doc_id ROWS UNBOUNDED PRECEDING) AS run
        |  FROM z)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN run <= 3000 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_admitted,
        |       CAST(sum(CASE WHEN run <= 3000 THEN n_tokens ELSE 0 END) AS BIGINT)
        |         AS tokens_admitted
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("q97c_budget_skip", q97cBudgetFillSkip, Some(
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, lang, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |z AS (
        |  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
        |         -2.4 + 2.0 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
        |              + -3.0 * (CAST(length(text)
        |                  - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
        |                  AS DOUBLE) / greatest(length(text), 1))
        |              + 1.5 * (CAST(len(list_filter(toks, x -> list_contains(
        |                  ['the','a','an','and','or','of','to','in','is','it'], x)))
        |                  AS DOUBLE) / greatest(len(toks), 1))
        |              + 2.5 * (CAST(len(list_distinct(toks)) AS DOUBLE)
        |                  / greatest(len(toks), 1)) AS z
        |  FROM t),
        |r AS MATERIALIZED (
        |  SELECT lang, doc_id, n_tokens,
        |         row_number() OVER (PARTITION BY lang ORDER BY z DESC, doc_id) AS rn
        |  FROM z),
        |-- the ADMITTED chain: recursion steps only across admitted docs
        |-- (depth = survivors, not corpus) — each step hops to the next
        |-- rank whose doc still fits the remaining budget
        |seed AS (SELECT lang, min(rn) AS rn FROM r WHERE n_tokens <= 3000 GROUP BY lang),
        |kept(lang, rn, used) AS (
        |  SELECT s.lang, s.rn, r.n_tokens
        |  FROM seed s JOIN r ON r.lang = s.lang AND r.rn = s.rn
        |  UNION ALL
        |  SELECT q.lang, q.nrn, q.used + r.n_tokens
        |  FROM (SELECT k.lang, k.rn, k.used,
        |               (SELECT min(r2.rn) FROM r r2
        |                WHERE r2.lang = k.lang AND r2.rn > k.rn
        |                  AND r2.n_tokens <= 3000 - k.used) AS nrn
        |        FROM kept k) q
        |  JOIN r ON r.lang = q.lang AND r.rn = q.nrn
        |  WHERE q.nrn IS NOT NULL),
        |dec AS (
        |  SELECT r.lang, r.n_tokens, k.rn IS NOT NULL AS admitted
        |  FROM r LEFT JOIN kept k ON k.lang = r.lang AND k.rn = r.rn)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_admitted,
        |       CAST(sum(CASE WHEN admitted THEN n_tokens ELSE 0 END) AS BIGINT)
        |         AS tokens_admitted
        |FROM dec GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("q97b_budget_global", q97bBudgetFillGlobal, Some(
      """WITH t AS (
        |  SELECT doc_id, lang, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |z AS (
        |  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
        |         -2.4 + 2.0 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
        |              + -3.0 * (CAST(length(text)
        |                  - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
        |                  AS DOUBLE) / greatest(length(text), 1))
        |              + 1.5 * (CAST(len(list_filter(toks, x -> list_contains(
        |                  ['the','a','an','and','or','of','to','in','is','it'], x)))
        |                  AS DOUBLE) / greatest(len(toks), 1))
        |              + 2.5 * (CAST(len(list_distinct(toks)) AS DOUBLE)
        |                  / greatest(len(toks), 1)) AS z
        |  FROM t),
        |-- ONE global running order (no PARTITION BY): the oracle states
        |-- the semantics as the global sort the Spark side must never run
        |r AS (
        |  SELECT lang, n_tokens,
        |         sum(n_tokens) OVER (
        |           ORDER BY z DESC, doc_id ROWS UNBOUNDED PRECEDING) AS run
        |  FROM z)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN run <= 10000 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_admitted,
        |       CAST(sum(CASE WHEN run <= 10000 THEN n_tokens ELSE 0 END) AS BIGINT)
        |         AS tokens_admitted,
        |       CAST(sum(run) AS BIGINT) AS running_sum
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),
    // weights re-derived as q94's verified CTE, then targets, base
    // repeats, and the md5-prefix extra repeat — floor/CAST staging
    // mirrors the Spark side exactly (all values < 2^52, so the
    // double-math floor() is integer-exact in both engines)
    QueryDef("q104_materialize_mixture", q104MaterializeMixture, Some(materializeMixtureOracle)),
    // ONE global window over the md5 order — the brute-force form of
    // the two-phase bucket decomposition the Spark side runs
    QueryDef("q105_token_shards", q105TokenShards, Some(tokenShardsOracle)),
    QueryDef("q104b_mixture_stream", q104bMixtureStream,
      Some(materializeMixtureOracle), streaming = true),
    // the streaming twin recomputes the same plan per micro-batch and
    // publishes the final version — content-deterministic, so the
    // batch oracle checks it verbatim
    QueryDef("q105b_shard_stream", q105bShardStream, Some(tokenShardsOracle), streaming = true),
    // distinct 4-gram shingles per side, inner join, pair counts —
    // the q76 inverted-index oracle shape, corpus × benchmark slice.
    // One oracle for both forms: the hashed path must reproduce the
    // exact string-keyed counts bit-for-bit
    QueryDef("q106_contamination_report", q106ContaminationReport, Some(contaminationReportOracle)),
    QueryDef("q106b_contamination_hashed", q106bContaminationReportHashed,
      Some(contaminationReportOracle)),
    QueryDef("q112_dsir_weights", q112DsirWeights, Some(
      (dsirWeightCtes +
        """
          |SELECT d.doc_id, round(coalesce(w, 0.0), 4) AS dsir_log_weight
          |FROM documents d LEFT JOIN lw USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin))),
    QueryDef("q123_dsir_sample", q123DsirSample, Some({
      val digitTerms = (1 to 13)
        .map(i => s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * power(16, ${13 - i})")
        .mkString(" +\n           ")
      dsirWeightCtes + s""",
         |dw AS (
         |  SELECT d.doc_id, d.lang, round(coalesce(w, 0.0), 4) AS lw,
         |         md5(CAST(d.doc_id AS VARCHAR)) AS h
         |  FROM documents d LEFT JOIN lw USING (doc_id)),
         |es AS (
         |  SELECT doc_id, lang, lw,
         |         ln((($digitTerms) + 1.0) / power(16, 13)) / exp(lw) AS es_key
         |  FROM dw),
         |r AS (
         |  SELECT doc_id, lang, lw,
         |         row_number() OVER (PARTITION BY lang
         |                            ORDER BY es_key DESC, doc_id) AS rk
         |  FROM es)
         |SELECT doc_id, lang, lw AS dsir_log_weight
         |FROM r WHERE rk <= 25
         |ORDER BY lang, doc_id""".stripMargin
    })),
    QueryDef("q129_classifier_holdout", q129ClassifierHoldout, Some(classifierOracle("eval"))),
    QueryDef("q135_split_leakage", q135SplitLeakage, Some(
      """WITH docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 40 = 0),
        |d AS (
        |  SELECT doc_id, md5(text) AS fp,
        |         CASE WHEN strpos('123456789abcdef',
        |                substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
        |              + strpos('123456789abcdef',
        |                substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) * 16
        |              + strpos('123456789abcdef',
        |                substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) < 3277
        |              THEN 'train' ELSE 'holdout' END AS split
        |  FROM docs2),
        |cl AS (
        |  SELECT fp, count(*) AS n_docs,
        |         sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
        |         sum(CASE WHEN split = 'holdout' THEN 1 ELSE 0 END) AS n_holdout,
        |         sum(doc_id) AS id_sum
        |  FROM d GROUP BY 1)
        |SELECT CASE WHEN n_train > 0 AND n_holdout > 0 THEN 'leaking'
        |            WHEN n_docs > 1 THEN 'dup_within_split'
        |            ELSE 'unique' END AS status,
        |       CAST(count(*) AS BIGINT) AS n_classes,
        |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |       CAST(sum(n_train) AS BIGINT) AS n_train,
        |       CAST(sum(n_holdout) AS BIGINT) AS n_holdout,
        |       CAST(sum(id_sum) AS BIGINT) AS id_sum
        |FROM cl GROUP BY 1 ORDER BY status""".stripMargin)),
    QueryDef("q138_rag_retrieval", q138RagRetrieval, Some(
      """WITH q(query_id, term) AS (
        |  VALUES ('disc', 'vector'), ('disc', 'spark'),
        |         ('stop', 'the'), ('stop', 'a'),
        |         ('mixed', 'merge'), ('mixed', 'window'), ('mixed', 'customer')),
        |t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, toks,
        |         CASE WHEN len(toks) <= 32 THEN 1
        |              ELSE (len(toks) - 32 + 23) // 24 + 1 END AS n_chunks
        |  FROM t),
        |c AS (
        |  SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_id FROM n),
        |ch AS (
        |  SELECT doc_id * 1000 + chunk_id AS cid,
        |         toks[chunk_id*24 + 1 : chunk_id*24 + 32] AS ct
        |  FROM c),
        |dl AS (SELECT cid, CAST(len(ct) AS BIGINT) AS dl FROM ch),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(dl) AS BIGINT) AS sdl FROM dl),
        |tf AS (
        |  SELECT cid, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT cid, unnest(ct) AS term FROM ch)
        |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT q.query_id, tf.cid,
        |         round(sum(
        |           ln(1.0 + (st.n - df.df + 0.5) / (df.df + 0.5)) *
        |           (tf.tf * (1.2 + 1.0)) /
        |           (tf.tf + 1.2 * (1.0 - 0.75
        |                           + 0.75 * dl.dl / (CAST(st.sdl AS DOUBLE) / st.n)))
        |         ), 4) AS score
        |  FROM tf JOIN q USING (term) JOIN df USING (term)
        |  JOIN dl ON dl.cid = tf.cid CROSS JOIN st
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT query_id, cid, score,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY score DESC, cid) AS INT) AS rank
        |  FROM sc)
        |SELECT query_id, rank, CAST(cid // 1000 AS BIGINT) AS doc_id,
        |       CAST(cid % 1000 AS INT) AS chunk_id, score,
        |       md5(array_to_string(ch.ct, ' ')) AS chunk_md5
        |FROM rk JOIN ch USING (cid)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    // water-filling closed form: ascending-cap order, multiplied-through
    // cap predicate (exact longs), running-AND capped prefix, equal
    // truncating share for the uncapped remainder
    QueryDef("q169_unimax_alloc", q169UnimaxAlloc, Some(
      """WITH d AS (
        |  SELECT CASE WHEN doc_id % 20 = 0 THEN 'rare' ELSE lang END AS grp,
        |         len(regexp_split_to_array(trim(text), '\s+')) AS tc
        |  FROM documents),
        |g AS (
        |  SELECT grp, CAST(sum(tc) AS BIGINT) AS n_tokens,
        |         CAST(sum(tc) * 2 AS BIGINT) AS cap_tokens
        |  FROM d GROUP BY 1),
        |b AS (SELECT CAST((sum(tc) * 18) // 10 AS BIGINT) AS bud FROM d),
        |w AS (
        |  SELECT g.*, bud,
        |         count(*) OVER ()
        |           - row_number() OVER (ORDER BY cap_tokens, grp) + 1 AS m,
        |         coalesce(sum(cap_tokens)
        |           OVER (ORDER BY cap_tokens, grp
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           0) AS cumb
        |  FROM g, b),
        |o AS (SELECT *, CASE WHEN cap_tokens * m <= bud - cumb
        |                     THEN 1 ELSE 0 END AS ok FROM w),
        |cp AS (
        |  SELECT *, min(ok) OVER (ORDER BY cap_tokens, grp
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
        |           AS capped
        |  FROM o),
        |f AS (
        |  SELECT *,
        |         coalesce(sum(CASE WHEN capped THEN cap_tokens END)
        |                  OVER (), 0) AS granted,
        |         sum(CASE WHEN capped THEN 0 ELSE 1 END) OVER () AS nu
        |  FROM cp)
        |SELECT grp, n_tokens, cap_tokens, capped,
        |       CAST(CASE WHEN capped THEN cap_tokens
        |                 ELSE (bud - granted) // nu END AS BIGINT)
        |         AS alloc_tokens
        |FROM f ORDER BY grp""".stripMargin)),
    QueryDef("q190_quantile_norm", q190QuantileNorm, Some(quantileNormSql)),
    QueryDef("q190b_quantile_stream", q190bQuantileNormStream,
      Some(quantileNormSql), streaming = true),
    QueryDef("q191_temperature_mixture", q191TemperatureMixture, Some(temperatureMixtureSql)),
    QueryDef("q194_packing_waste", q194PackingWaste, Some(
      """WITH d AS (
        |  SELECT doc_id,
        |         CASE WHEN length(trim(text)) > 0
        |           THEN CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |                AS BIGINT)
        |           ELSE CAST(0 AS BIGINT) END AS n_toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_toks,
        |         row_number() OVER (
        |           ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 13),
        |                    doc_id) AS rank_shuf,
        |         row_number() OVER (ORDER BY n_toks, doc_id) AS rank_sort
        |  FROM d),
        |u AS (
        |  SELECT '1_shuffled' AS strategy, (rank_shuf - 1) // 32 AS batch,
        |         n_toks FROM r
        |  UNION ALL
        |  SELECT '2_sorted' AS strategy, (rank_sort - 1) // 32 AS batch,
        |         n_toks FROM r),
        |p AS (
        |  SELECT strategy, batch, CAST(count(*) AS BIGINT) AS n,
        |         CAST(max(n_toks) AS BIGINT) AS mx,
        |         CAST(sum(n_toks) AS BIGINT) AS s
        |  FROM u GROUP BY 1, 2),
        |a AS (
        |  SELECT strategy, CAST(count(*) AS BIGINT) AS n_batches,
        |         CAST(sum(s) AS BIGINT) AS real_tokens,
        |         CAST(sum(n * mx) AS BIGINT) AS padded_tokens
        |  FROM p GROUP BY 1)
        |SELECT strategy, n_batches, real_tokens, padded_tokens,
        |       CASE WHEN padded_tokens > 0
        |         THEN (padded_tokens - real_tokens) * 1000000
        |           // padded_tokens
        |         ELSE CAST(0 AS BIGINT) END AS waste_ppm
        |FROM a ORDER BY strategy""".stripMargin)),
    QueryDef("q191b_temperature_stream", q191bTemperatureStream,
      Some(temperatureMixtureSql), streaming = true),
    // q210/q210b: exact ascending rank, the integer competence closed
    // form (ceil via +den-1 then truncating //), md5 within-phase
    // order; the stream twin recomputes the corpus-global schedule
    QueryDef("q210_curriculum", q210Curriculum, Some(curriculumSql)),
    QueryDef("q210b_curriculum_stream", q210bCurriculumStream,
      Some(curriculumSql), streaming = true),
    // isqrt = float-seeded floor sqrt, ±1-corrected — exact on both
    // engines; allocation and selection replayed end to end
    QueryDef("q183_neyman_sample", q183NeymanSample, Some(
      """WITH e AS (
        |  SELECT event_type AS s, event_id,
        |         CAST(round(value * 100) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL),
        |st AS (
        |  SELECT s, CAST(count(*) AS BIGINT) AS n_pop,
        |         CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM e GROUP BY 1),
        |w AS (
        |  SELECT s, n_pop, n_pop * syy - sy * sy AS x,
        |         CAST(floor(sqrt(CAST(n_pop * syy - sy * sy AS DOUBLE)))
        |           AS BIGINT) AS s0
        |  FROM st),
        |wt AS (
        |  SELECT s, n_pop,
        |         s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= x THEN 1 ELSE 0 END)
        |            - (CASE WHEN s0 * s0 > x THEN 1 ELSE 0 END) AS weight
        |  FROM w),
        |al AS (
        |  SELECT s, n_pop, weight,
        |         CASE WHEN sum(weight) OVER () > 0
        |              THEN least(n_pop,
        |                         (500 * weight) // sum(weight) OVER ())
        |              ELSE 0 END AS alloc
        |  FROM wt),
        |rk AS (
        |  SELECT e.s, e.event_id,
        |         row_number() OVER (PARTITION BY e.s
        |           ORDER BY substring(md5(CAST(e.event_id AS VARCHAR)), 1, 15),
        |                    e.event_id) AS rn
        |  FROM e),
        |sm AS (
        |  SELECT rk.s, CAST(count(*) AS BIGINT) AS n_sampled,
        |         CAST(sum(event_id) AS BIGINT) AS sampled_id_sum
        |  FROM rk JOIN al ON al.s = rk.s AND rk.rn <= al.alloc
        |  GROUP BY 1)
        |SELECT al.s AS event_type, al.n_pop,
        |       CAST(al.weight AS BIGINT) AS weight,
        |       CAST(al.alloc AS BIGINT) AS alloc,
        |       coalesce(sm.n_sampled, 0) AS n_sampled,
        |       coalesce(sm.sampled_id_sum, 0) AS sampled_id_sum
        |FROM al LEFT JOIN sm ON sm.s = al.s
        |ORDER BY event_type""".stripMargin))
  )
}
