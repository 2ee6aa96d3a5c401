package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.dq.Analyzers
import graft.ext.{Text, TextNorm}
import graft.stream.Jobs
import graft.queries.Shared.{bm25OracleCtes, bm25PassSql, classifierOracle,
  docSliceStreamInput, tempDir, withCached, writeSliceFilesByExpr}
import graft.fixtures.DocFixtures.{synthConversations, synthHtmlCol,
  synthHtmlWith}

/** Text processing: `Text`, `TextNorm`, `Classifier` and `Chat` —
  * statistics, tokenizers (BPE, unigram), quality filters, blocklists,
  * HTML extraction, BM25, classifiers and chat templates.
  */
object TextQueries {

  /** Text quality metrics: tokens, regex tokens, avg token length,
    * punctuation/stopword ratios, composite quality score.
    */
  def q14TextStats(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      Text.tokenCount(t).as("n_tokens"),
      Text.regexTokenCount(t).as("n_regex_tokens"),
      round(Text.avgTokenLength(t), 4).as("avg_token_len"),
      round(Text.punctRatio(t), 4).as("punct_ratio"),
      round(Text.stopwordRatio(t), 4).as("stopword_ratio"),
      Text.qualityScore(t).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID heuristic vs the labeled lang column. */
  def q15LangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("predicted_lang", Text.langId(col("text")))
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted_lang"))

  /** Content fingerprint per document. */
  def q16Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Text.fingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))

  /** Top-3 TF-IDF terms per document (smoothed scikit-style IDF);
    * ranking compares the ROUNDED score with a term tie-break so the
    * order is engine-reproducible.
    */
  def q53TfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    Text.tfidfTopTerms(
      Tables.documents(spark, dir).filter(col("doc_id") < 600),
      "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("rank"))

  /** PII scrubbing over documents with deterministically injected
    * emails / phone numbers / SSNs / IPs (the corpus has none):
    * per-pattern counts on the raw text plus an md5 of the fully
    * redacted text, so the redaction OUTPUT itself — not just the
    * match counts — is inside the hash-checked surface.
    */
  def q54PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val pats = Text.piiPatterns.toMap
    val injected = Tables.documents(spark, dir)
      .filter(col("doc_id") < 600)
      .select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call 555-867-"),
            lpad((col("doc_id") % 10000).cast(StringType), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" node at 192.168.1.77 up"))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" ssn 123-45-6789 on file"))
          .otherwise(lit(""))).as("text"))
    injected.select(
      col("doc_id"),
      Text.piiCount(col("text"), pats("EMAIL")).cast(LongType).as("n_email"),
      Text.piiCount(col("text"), pats("PHONE")).cast(LongType).as("n_phone"),
      Text.piiCount(col("text"), pats("SSN")).cast(LongType).as("n_ssn"),
      Text.piiCount(col("text"), pats("IP")).cast(LongType).as("n_ip"),
      (length(col("text")) - length(Text.redactPii(col("text"))))
        .cast(LongType).as("chars_removed"),
      md5(Text.redactPii(col("text"))).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** Bigram LM quality scores (perplexity-style filter): every doc
    * scored under the corpus-trained add-one-smoothed bigram model.
    */
  def q68BigramScores(spark: SparkSession, dir: String): DataFrame =
    Text.bigramLogProbScores(
      Tables.documents(spark, dir).filter(col("doc_id") < 600), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Gopher-style repetition filters: per-doc distinct-token fraction,
    * top-bigram occupancy, and duplicate-trigram occupancy, plus the
    * keep/drop verdict — thresholds applied in exact integer
    * arithmetic (cross-multiplication), fractions a single IEEE
    * division each, so the whole filter policy hash-checks.
    */
  def q73RepetitionFilters(spark: SparkSession, dir: String): DataFrame =
    Text.repetitionStats(Tables.documents(spark, dir), "doc_id", "text")
      .select(
        col("doc_id"), col("n_tokens"),
        (col("n_distinct").cast(DoubleType) / col("n_tokens")).as("distinct_frac"),
        when(col("n_tokens") >= 2,
          (col("top_bigram_cnt") * 2).cast(DoubleType) / col("n_tokens"))
          .otherwise(lit(0.0)).as("top_bigram_frac"),
        when(col("n_tokens") >= 3,
          col("dup_trigram_occ").cast(DoubleType) / (col("n_tokens") - 2))
          .otherwise(lit(0.0)).as("dup_trigram_frac"),
        (col("n_distinct") * 10 > col("n_tokens") * 3 &&
          col("top_bigram_cnt") * 20 <= col("n_tokens") * 2 &&
          // guard like the fraction above: a doc too short to HAVE
          // trigrams can't fail the trigram clause
          (col("n_tokens") < 3 ||
            col("dup_trigram_occ") * 10 <= (col("n_tokens") - 2) * 3)).as("keep"))
      .orderBy(col("doc_id"))

  /** Tokenizer vocab build: top-50 terms by corpus frequency with
    * deterministic contiguous ids ((count DESC, term ASC) rank) — two
    * engines mint identical ids, which the hash check proves.
    */
  def q84VocabBuild(spark: SparkSession, dir: String): DataFrame =
    Text.buildVocab(Tables.documents(spark, dir), "text", maxSize = 50)
      .orderBy(col("token_id"))

  /** Linear quality-classifier inference (fastText-shape): fixed
    * weights over four exact text features; sigmoid score rounded 4
    * (the one transcendental), keep decision on the exact logit
    * (`z ≥ 0` — bit-reproducible, so the POLICY hash-checks unrounded).
    */
  def q86QualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val z = Text.qualityLogit(col("text"), Seq(-2.4, 2.0, -3.0, 1.5, 2.5))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 4).as("score"),
        (z >= 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Corpus tokenization under the built vocab (q84's op at maxSize=20
    * so OOV is real): tokens broadcast-join the vocab, OOV → −1, and
    * each doc's id sequence md5s in POSITION order — the
    * train-the-vocab-then-encode-the-corpus two-stage pipeline, both
    * stages deterministic.
    */
  def q87TokenizeCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val vocab = Text.buildVocab(docs, "text", maxSize = 20)
      .select(col("term"), col("token_id"))
    docs.select(col("doc_id"),
      posexplode(Text.tokens(col("text"))).as(Seq("pos", "term")))
      .join(broadcast(vocab), Seq("term"), "left_outer")
      .withColumn("tid", coalesce(col("token_id"), lit(-1L)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("token_id").isNull, 1L).otherwise(0L)).as("n_oov"),
        md5(concat_ws(",",
          transform(array_sort(collect_list(struct(col("pos"), col("tid")))),
            e => e.getField("tid").cast(StringType)))).as("ids_md5"))
      .orderBy(col("doc_id"))
  }

  /** Sparse TF-IDF cosine near-dup pairs via the inverted-index
    * self-join — lexical-feature similarity beside shingle Jaccard
    * (q12) and dense-embedding cosine (q22); IDF crushes the
    * ubiquitous terms this tiny-vocab corpus is full of, so only
    * genuinely similar term profiles cross the threshold.
    */
  def q92TfidfCosine(spark: SparkSession, dir: String): DataFrame =
    Text.tfidfCosinePairs(
      Tables.documents(spark, dir).filter(col("doc_id") < 400),
      "doc_id", "text", threshold = 0.82)
      .orderBy(col("id_a"), col("id_b"))

  /** The `dfCap` scale path of q92, over the FULL corpus: this corpus
    * is 30 hot terms (df ≈ 77% of docs — Σdf² ≈ 450M posting-list
    * pairs at sf0.1, the quadratic blowup a real corpus's stop-words
    * produce) plus ONE rare discriminative term (df = 5%). Capping the
    * index at df ≤ n_docs/2 drops every hot term BEFORE the self-join
    * — Σdf² falls to (0.05·n)², ~7000× less join work — while norms
    * stay full-vocabulary, so surviving scores are exact lower bounds
    * of the true cosine and every pair sharing the rare term still
    * crosses the threshold. The cap is corpus-relative (`count()/2`,
    * one scalar driver hop at definition time, q96's max-seq class)
    * because an absolute cap cannot track corpus growth across SFs.
    */
  def q92bTfidfCosineCapped(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // cap stays Long: an Int cap overflows negative above ~4.3B docs,
    // silently emptying the index at exactly the scale dfCap exists for
    val cap = docs.count() / 2
    Text.tfidfCosinePairs(docs, "doc_id", "text",
      threshold = 0.05, dfCap = Some(cap))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** STREAMING corpus curation: the q100 capstone's gate →
    * decontaminate → dedup front half as a real 4-micro-batch
    * incremental stream (docs sliced by doc_id mod 4, so duplicate
    * content crosses batch boundaries and the dedup state is
    * genuinely exercised). Decontamination is exact (benchmark
    * shingle hashes as a plan literal, self-flagging by design — a
    * benchmark doc arriving in the corpus IS contamination); dedup is
    * fingerprint-keyed `dropDuplicatesWithinWatermark`. The output
    * aggregate is content-derived (token count, quality logit), so it
    * is independent of WHICH copy of a duplicate survives — the
    * property that makes an arrival-order-dependent stream
    * batch-oracle-checkable (hash collisions aside, the hashed
    * shingle overlap ≡ the oracle's string form — q48's disclosed
    * equivalence).
    */
  def q108StreamCurate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = tempDir("graft-q108")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        (lit(1700000000L) + col("doc_id")).cast(TimestampType).as("ts"))
    val in = writeSliceFilesByExpr(docs, pmod(col("doc_id"), lit(4)), tmp)
    val w = Seq(-2.4, 2.0, -3.0, 1.5, 2.5)
    val benchHashes = Tables.documents(spark, dir)
      .filter(col("doc_id") % 50 === 0)
      .select(explode(graft.ext.VectorKernels.shingleHashes(
        Text.tokens(col("text")), 5)).as("h"))
      .distinct().orderBy(col("h")).as[Long].collect().toSeq
    graft.stream.Jobs.runCurateStream(spark, in, w, benchHashes,
      shingleSize = 5, lateness = "40 days", stateShufflePartitions = Some(8))
      .agg(count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col("text")).cast(LongType)).as("total_tokens"),
        round(sum(Text.qualityLogit(col("text"), w)), 4).as("sum_z"))
  }

  /** CCNet-style cross-corpus perplexity filter (Wenzek et al. 2019):
    * a bigram LM trains on the English slice (the "reference domain")
    * and EVERY doc is scored under it; docs then land in CCNet's
    * head/middle/tail tertiles (head = closest to the reference).
    * The tertile assignment here is an exact ntile over
    * (rounded score, doc_id) so the oracle reproduces it
    * deterministically; at 100 TB the cutoffs come from a KLL sketch
    * instead ([[graft.ext.TrainPrep.budgetFillGlobal]]'s bucketing)
    * — same downstream semantics, no global sort.
    */
  def q116CrossEntropy(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ref = docs.filter(col("lang") === "en")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cross_entropy"), col("doc_id"))
    Text.crossEntropyScores(docs, "doc_id", "text", ref, "text")
      .withColumn("bucket",
        element_at(array(lit("head"), lit("middle"), lit("tail")),
          ntile(3).over(w)))
      .orderBy(col("doc_id"))
  }

  /** q116's tertile assignment WITHOUT the single-partition global
    * ntile window — the 100 TB scale twin (the q102b/q106b
    * discipline). Exact global rank comes from
    * [[graft.ext.TrainPrep.quantileNormalize]] with a constant group
    * (KLL-bucketed two-phase prefix sum: sketch cuts → broadcast range
    * join → per-bucket counts → bounded prefix offsets → per-BUCKET
    * windows, each bounded by the bucket width — zero global sort),
    * and ntile(3)'s tile-size arithmetic (first `N mod 3` tiles get
    * `N div 3 + 1` rows) replays exactly from (rank, N). Shares q116's
    * oracle verbatim; PlanSpec pins that no single-partition window
    * survives in the physical plan.
    */
  def q116cCrossEntropyTertilesScale(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ref = docs.filter(col("lang") === "en")
    // quantileNormalize consumes its input three times (the KLL-cut
    // collect plus the bucket and offset branches of one plan), and
    // here that input embeds the full CCNet scoring joins —
    // materialize the scores once (q100b's discipline; the cluster
    // equivalent is a reliable checkpoint dir)
    val scored = Text.crossEntropyScores(docs, "doc_id", "text", ref, "text")
      .localCheckpoint(true)
    graft.ext.TrainPrep.quantileNormalize(
        scored.withColumn("__g", lit(1)), "__g", "doc_id",
        col("cross_entropy"), numBuckets = 32)
      // ntile(3) closed form: q = N div 3 tiles of base size, the first
      // r0 = N mod 3 tiles one larger; ceil-division in exact longs
      .withColumn("__t", expr(
        """CASE WHEN q_rank <= (group_n % 3) * (group_n div 3 + 1)
          |  THEN (q_rank + (group_n div 3 + 1) - 1) div (group_n div 3 + 1)
          |  ELSE (group_n % 3) +
          |    (q_rank - (group_n % 3) * (group_n div 3 + 1) + (group_n div 3) - 1)
          |      div (group_n div 3)
          |END""".stripMargin))
      .withColumn("bucket",
        element_at(array(lit("head"), lit("middle"), lit("tail")),
          col("__t").cast("int")))
      .select(col("doc_id"), col("n_bigrams"), col("cross_entropy"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** The 100 TB form of q116's scorer: both LM joins carry xxhash64
    * keys instead of token/bigram strings. Shares q116's score oracle
    * (minus the tertile column) — hashed ≡ exact, the
    * q102b/q106b discipline.
    */
  def q116bCrossEntropyHashed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ref = docs.filter(col("lang") === "en")
    Text.crossEntropyScoresHashed(docs, "doc_id", "text", ref, "text")
      .orderBy(col("doc_id"))
  }

  /** C4-style segment cleaning (Raffel et al. 2019 §2.2): split each
    * doc into segments, keep segments with ≥ 5 tokens, ≥ 1 stopword,
    * and no blocklisted token, reassemble, and drop docs with nothing
    * left. The corpus is synthetic single-line text, so the token
    * "line" stands in for C4's '\n' delimiter (disclosed; the operator
    * takes the delimiter pattern as a parameter) and "slow" stands in
    * for the bad-word list. One map pass — split/filter/reassemble are
    * array HOFs in the projection, no explode, no shuffle.
    */
  def q117CleanSegments(spark: SparkSession, dir: String): DataFrame =
    Text.cleanSegments(Tables.documents(spark, dir), "doc_id", "text",
      delimPattern = "\\bline\\b", minTokens = 5,
      requireStopword = true, blocklist = Seq("slow"))
      .filter(col("n_kept") >= 1)
      .orderBy(col("doc_id"))

  /** Distributed BPE merge training (Sennrich et al. 2015): 5 merge
    * rounds over the corpus at word-symbol grain — raw adjacent-pair
    * counts, lexicographic tie-break, greedy left-to-right apply.
    * The oracle replays all 5 rounds as unrolled SQL stages (pair
    * lead-window → argmax → gaps-and-islands greedy marks →
    * positional substitution), so the full iterate-count-merge loop
    * is hash-checked, not just the first round. Per round: one
    * partial-agg'd pair-count shuffle + one map-only HOF apply pass;
    * driver traffic = 1 argmax row per round.
    */
  def q119BpeMerges(spark: SparkSession, dir: String): DataFrame =
    Text.bpeMerges(Tables.documents(spark, dir), "doc_id", "text", numMerges = 5)
      .orderBy(col("step"))

  /** The tokenizer's ENCODE half: train 5 BPE merges (q119's loop),
    * then apply the learned table to the whole corpus as ONE map-only
    * projection (5 nested greedy folds — zero shuffles, zero driver
    * hops in the apply). The merge-table collect is the bounded
    * learned artifact (5 rows), exactly how a trained tokenizer
    * deploys. Output is per-doc symbol count + an md5 over the
    * segmentation; the oracle replays the same 5 rounds and reads the
    * final symbol STATE instead of the merge table.
    */
  def q120BpeApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = Text.bpeMerges(docs, "doc_id", "text", numMerges = 5)
      .orderBy(col("step"))
      .select(col("left_sym"), col("right_sym"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    Text.bpeApply(docs, "doc_id", "text", merges)
      .select(col("doc_id"),
        size(col("syms")).cast("long").as("n_syms"),
        md5(concat_ws("|", col("syms"))).as("seg_md5"))
      .orderBy(col("doc_id"))
  }

  /** Gopher document-quality rules (Rae et al. 2021, Appendix A1.1)
    * with thresholds tuned so each rule actually splits the synthetic
    * corpus (the paper's values assume web pages): word count in
    * [40, 70], mean word length in [4.0, 4.6], symbol ratio ≤ 0.1,
    * alpha-word fraction ≥ 0.8, ≥ 2 distinct stopwords. Per-doc
    * per-rule booleans plus the conjunction — one map pass, fully
    * hash-checked.
    */
  def q122GopherRules(spark: SparkSession, dir: String): DataFrame = {
    val r = Text.gopherRules(col("text"),
      minWords = 40, maxWords = 70, minMeanLen = 4.0, maxMeanLen = 4.6,
      maxSymbolRatio = 0.1, minAlphaFrac = 0.8, minStopwords = 2)
    Tables.documents(spark, dir)
      .select(col("doc_id"), r.as("r"))
      .select(col("doc_id"), col("r.words_in_range"),
        col("r.mean_word_len_in_range"), col("r.symbol_ratio_ok"),
        col("r.alpha_word_frac_ok"), col("r.enough_stopwords"),
        col("r.pass"))
      .orderBy(col("doc_id"))
  }

  /** Unicode normalization at ingest (`ext/TextNorm`): the corpus is
    * ASCII-synthetic, so the query deterministically injects mixed
    * composed/decomposed accent forms (NFC-sensitive content) before
    * normalizing — the oracle builds the identical suffix with
    * `chr()` and checks NFC via DuckDB's `nfc_normalize` plus the
    * aggressive fold (lower → strip marks → collapse whitespace) via
    * `strip_accents(lower(s))`. `raw_len` vs `nfc_len` exposes the
    * composed/decomposed difference the normalizer must erase; the
    * folded text is compared verbatim, so the two engines must agree
    * byte-for-byte on every document.
    */
  def q125UnicodeNormalize(spark: SparkSession, dir: String): DataFrame = {
    val variant = when(col("doc_id") % 4 === 0, lit("café niño SPARK"))
      .when(col("doc_id") % 4 === 1, lit("café niño Façade"))
      .when(col("doc_id") % 4 === 2, lit("Ünïcode ølsen ß"))
      .otherwise(lit("  plain   ASCII  "))
    val nfc = TextNorm.normalize(col("s"), "NFC")
    Tables.documents(spark, dir)
      .select(col("doc_id"), concat(col("text"), lit(" "), variant).as("s"))
      .select(col("doc_id"),
        length(col("s")).as("raw_len"),
        length(nfc).as("nfc_len"),
        md5(nfc).as("nfc_md5"),
        TextNorm.foldText(col("s")).as("folded_text"))
      .orderBy(col("doc_id"))
  }

  private def classifierFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Classifier.hashedFeatures(
      Tables.documents(spark, dir), "doc_id", "text",
      when(size(filter(Text.tokens(col("text")), t => t === "vector"))
          > size(filter(Text.tokens(col("text")), t => t === "spark")), 1.0)
        .otherwise(0.0), numBuckets = 64)

  /** Quality-classifier TRAINING on the cluster (`ext/Classifier`):
    * fastText-shape hashed bag-of-words + Elliott-sigmoid delta rule,
    * 4 batch-GD iterations, label = "does 'vector' out-count 'spark'
    * in the doc" — a genuinely bag-of-words-learnable target on the
    * synthetic word-salad corpus (`lang`/`source` are random w.r.t.
    * the text; single-token presence is ~75% base rate — this one is
    * ~37% and linearly separable up to hash collisions). The
    * oracle replays every iteration as unrolled SQL (the q119 BPE
    * discipline) — exact integer dot products, algebraic sigmoid, and
    * floor-quantized gradient sums make the whole training run
    * bit-reproducible, so the full final weight table (65 rows,
    * scaled-integer AND double forms) hash-checks, not a summary.
    */
  def q126TrainClassifier(spark: SparkSession, dir: String): DataFrame = {
    val w = graft.ext.Classifier.trainElliott(
      classifierFeatures(spark, dir), numBuckets = 64, iters = 4)
    graft.ext.Classifier.weightsDF(spark, w).orderBy(col("bucket"))
  }

  /** Train-then-score composition: the q126 weights applied back over
    * the corpus — per-doc exact pre-activation z, Elliott probability,
    * and the keep verdict, all hash-checked per document against the
    * oracle's replay of training AND scoring.
    */
  def q126bClassifierScores(spark: SparkSession, dir: String): DataFrame = {
    // materialized once (r16): trainElliott persists its own copy and
    // unpersists on return, so the score pass was re-tokenizing and
    // re-hashing the corpus from scratch
    val feat = classifierFeatures(spark, dir).localCheckpoint(true)
    val w = graft.ext.Classifier.trainElliott(feat, numBuckets = 64, iters = 4)
    graft.ext.Classifier.score(feat, w).orderBy(col("doc_id"))
  }

  /** Tokenizer evaluation: fertility (symbols per whitespace word)
    * and compression (chars per symbol) of the learned BPE merge
    * table, per language — the standard report a tokenizer-training
    * run ships before committing to a vocab. Composes q119 (train 5
    * merges) + q120 (apply) and aggregates per lang; the oracle
    * replays the whole train+apply chain and must agree on every sum
    * and rounded ratio.
    */
  def q127TokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = Text.bpeMerges(docs, "doc_id", "text", numMerges = 5)
      .orderBy(col("step"))
      .select(col("left_sym"), col("right_sym"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val perDoc = Text.bpeApply(docs, "doc_id", "text", merges)
      .select(col("doc_id"),
        size(col("syms")).cast("long").as("n_syms"),
        aggregate(col("syms"), lit(0L),
          (acc, s) => acc + length(s).cast("long")).as("sym_chars"))
    perDoc
      .join(docs.select(col("doc_id"), col("lang"),
        Text.tokenCount(col("text")).cast("long").as("n_words")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
        sum(col("n_syms")).as("n_syms"), sum(col("sym_chars")).as("sym_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_syms"),
        col("sym_chars"),
        round(col("n_syms").cast("double") / col("n_words"), 6)
          .as("syms_per_word"),
        round(col("sym_chars").cast("double") / col("n_syms"), 6)
          .as("chars_per_sym"))
      .orderBy(col("lang"))
  }

  /** Corpus datasheet (Gebru et al. 2018, "Datasheets for Datasets"):
    * the per-language summary a dataset release ships — doc/token
    * counts, exact length percentiles, exact-duplicate pressure, and
    * vocabulary size. Three independent keyed aggregations (stats,
    * fingerprint dups, vocab) joined on the language key; every number
    * is exact and hash-checked. The exact `percentile` here is the
    * referee form — at 100 TB the same report runs on the mergeable
    * KLL sketch (q32c) with rank-error bounds instead of a per-group
    * sort.
    */
  def q130CorpusDatasheet(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), Text.tokens(col("text")).as("toks"),
        md5(col("text")).as("fp"))
      .withColumn("n", size(col("toks")).cast("long"))
    val stats = base.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
        round(expr("percentile(n, 0.5)"), 4).as("p50_tokens"),
        round(expr("percentile(n, 0.9)"), 4).as("p90_tokens"))
    val dups = base.groupBy(col("lang"), col("fp"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_distinct_texts"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_dup_docs"))
    val vocab = base.select(col("lang"), explode(col("toks")).as("tok"))
      .groupBy(col("lang")).agg(countDistinct(col("tok")).as("vocab_size"))
    stats.join(dups, Seq("lang")).join(vocab, Seq("lang"))
      .orderBy(col("lang"))
  }

  /** Classifier serving as a STREAM: train once in batch (q126's
    * exact path), freeze the weights, then score documents arriving
    * in 4 micro-batches with the map-only serving expression
    * ([[graft.ext.Classifier.scoreMapOnly]], one codegen'd fold — no
    * shuffle, no state). Frozen weights + exact long arithmetic make
    * the streamed scores bit-identical to batch scoring, so this row
    * shares q126b's full per-doc oracle — the strongest check a
    * stream can carry (the q108/q121 discipline).
    */
  def q131StreamClassifier(spark: SparkSession, dir: String): DataFrame = {
    val label = when(size(filter(Text.tokens(col("text")), t => t === "vector"))
        > size(filter(Text.tokens(col("text")), t => t === "spark")), 1.0)
      .otherwise(0.0)
    val w = graft.ext.Classifier.trainElliott(
      classifierFeatures(spark, dir), numBuckets = 64, iters = 4)
    val tmp = tempDir("graft-q131")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    Jobs.runClassifierServeStream(spark, in, schema, label, w)
      .orderBy(col("doc_id"))
  }

  /** Continuous RETRAINING of the quality classifier as a stream —
    * the q104b/q105b snapshot-maintenance discipline applied to model
    * training: each micro-batch appends to the versioned corpus and
    * re-trains the full 4-iteration run on the snapshot (training is
    * corpus-GLOBAL — one arriving doc shifts every gradient — so
    * recompute-on-snapshot IS the correct incremental form; replay
    * safety and crash-safe versioned publish come from
    * [[graft.stream.Jobs.runPlanRecomputeStream]]). Bit-reproducible
    * training ⇒ the final published weights are identical to the
    * batch path, so the stream shares q126's full weights oracle.
    */
  def q132RetrainStream(spark: SparkSession, dir: String): DataFrame = {
    val label = when(size(filter(Text.tokens(col("text")), t => t === "vector"))
        > size(filter(Text.tokens(col("text")), t => t === "spark")), 1.0)
      .otherwise(0.0)
    val tmp = tempDir("graft-q132")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work", corpus => {
      val feat = graft.ext.Classifier.hashedFeatures(
        corpus, "doc_id", "text", label, numBuckets = 64)
      val w = graft.ext.Classifier.trainElliott(feat, numBuckets = 64, iters = 4)
      graft.ext.Classifier.weightsDF(spark, w)
    }, filesPerTrigger = 2).orderBy(col("bucket"))
  }

  /** BM25 keyword retrieval ([[graft.ext.Text.bm25TopK]]): three
    * queries spanning the df spectrum (rare discriminative terms,
    * pure stop-words, a mixed phrase), top-10 docs each — the oracle
    * recomputes the full Okapi formula (ln is transcendental, so the
    * score rounds to 4 like q112's ln-based weights; ranks are taken
    * on the rounded score).
    */
  def q136Bm25Search(spark: SparkSession, dir: String): DataFrame =
    Text.bm25TopK(Tables.documents(spark, dir), "doc_id", "text",
      Seq(("disc", Seq("vector", "spark")), ("stop", Seq("the", "a")),
        ("mixed", Seq("merge", "window", "customer"))), k = 10)
      .orderBy(col("query_id"), col("rank"))

  /** C4-style blocklist screen, expression form: the blocklist is a
    * foldable literal, so the whole screen is one codegen'd map pass
    * over the pruned (doc_id, text) scan. Policy here: ≥ 4 total hits
    * on {slow, merge} drops the doc (C4's own any-hit rule would drop
    * nearly everything in this 31-word synthetic vocabulary; the
    * threshold keeps both verdicts populated so the hash check pins
    * real decisions).
    */
  def q142BlocklistScreen(spark: SparkSession, dir: String): DataFrame =
    Text.blocklistScreen(Tables.documents(spark, dir), "doc_id", "text",
      terms = Seq("slow", "merge"), maxHits = 4)
      .orderBy(col("doc_id"))

  /** q142's scale form: the blocklist arrives as a TABLE (the 100k+
    * term regime where folding into codegen stops making sense) —
    * exploded tokens broadcast-join the term table, zero-hit docs
    * re-attach via left join. Shares q142's oracle verbatim: the two
    * forms must be indistinguishable by hash.
    */
  def q142bBlocklistJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = Seq("slow", "merge").toDF("term")
    Text.blocklistScreenJoin(Tables.documents(spark, dir), "doc_id", "text",
      terms, "term", maxHits = 4)
      .orderBy(col("doc_id"))
  }

  /** Phrase blocklist ([[graft.ext.Text.blocklistScreenPhrases]]):
    * mixed unigram + bigram phrases matched via per-length in-plan
    * window sweeps — overlapping occurrences counted, distinct
    * phrases tracked, same ≥-4-hits drop policy as q142. The oracle
    * rebuilds bigrams with a lead() window over ordinality-indexed
    * tokens.
    */
  def q149PhraseBlocklist(spark: SparkSession, dir: String): DataFrame =
    Text.blocklistScreenPhrases(Tables.documents(spark, dir), "doc_id", "text",
      phrases = Seq("slow merge", "hash join", "scan"), maxHits = 4)
      .orderBy(col("doc_id"))

  /** HTML → text extraction ([[graft.ext.Text.htmlToText]]): every doc
    * wrapped in a deterministic page shell — title/style head, nav,
    * an HTML comment, a script whose BODY contains raw `<`/`>` (the
    * case that breaks naive strip-tags-first extractors), entity-laden
    * paragraphs (including `&amp;lt;`, which must decode to the
    * literal text `&lt;`, not `<`), and a footer — then extracted
    * back. The oracle replays synth + the full regex chain in SQL, so
    * the hash pins cross-engine regex semantics the same way q54's
    * redaction chain does.
    */
  def q145HtmlExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Text.htmlToText(synthHtmlCol).as("extracted"))
      .withColumn("n_chars", length(col("extracted")).cast("long"))
      .orderBy(col("doc_id"))

  /** Corpus drift report ([[graft.dq.Analyzers.categoryDrift]]): PSI
    * terms per token between two corpus versions (even- vs odd-id
    * halves — in production: yesterday's snapshot vs today's). The
    * report a curation team watches for silent upstream distribution
    * shifts; Σ psi_term is the headline PSI with the usual
    * 0.1 / 0.25 action thresholds.
    */
  def q146TokenDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def toks(side: Int) = docs
      .filter(pmod(col("doc_id"), lit(2)) === side)
      .select(explode(Text.tokens(lower(col("text")))).as("tok"))
    graft.dq.Analyzers.categoryDrift(toks(0), toks(1), "tok")
      .orderBy(col("category"))
  }

  /** STREAMING drift monitor: q146's PSI report maintained
    * incrementally over the growing corpus (snapshot-recompute
    * mechanics shared with q104b/q105b — drift is corpus-GLOBAL: one
    * arriving doc shifts both totals and the smoothing vocabulary, so
    * per-row state can't express it). Every term is deterministic in
    * corpus content, so the final published report hash-checks against
    * q146's batch oracle — the production shape: a drift dashboard
    * that re-derives per ingest batch.
    */
  def q146bDriftStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q146b")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    graft.stream.Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      corpus => {
        def toks(side: Int) = corpus
          .filter(pmod(col("doc_id"), lit(2)) === side)
          .select(explode(Text.tokens(lower(col("text")))).as("tok"))
        graft.dq.Analyzers.categoryDrift(toks(0), toks(1), "tok")
      }, filesPerTrigger = 2)
      .orderBy(col("category"))
  }

  /** Web-corpus funnel capstone: the C4 shape end to end over the NEW
    * operators — raw pages → [[graft.ext.Text.htmlToText]] extraction
    * → blocklist screen → quality gate (length + type-token ratio) →
    * exact content-address dedup — with the q124-style per-stage
    * attrition report (docs, id sum, token sum). One oracle replays
    * every stage in SQL, so the whole composition is hash-pinned, not
    * just the pieces.
    */
  def q147WebFunnel(spark: SparkSession, dir: String): DataFrame =
    webFunnelReport(spark, Tables.documents(spark, dir))

  /** The funnel's extraction stage, shared by q147/q147b/q152: plant
    * the two failure classes every web crawl contains, so every funnel
    * stage provably fires — doc_id%10=0 → identical boilerplate pages
    * (the dedup stage's prey), doc_id%10=5 → low-diversity spam (fails
    * the type-token gate) — then extract text from the synthetic HTML.
    */
  private def webFunnelPages(docs: DataFrame): DataFrame = {
    val content = when(pmod(col("doc_id"), lit(10)) === 0,
        lit("limited offer from our partner store click here to claim your reward today"))
      .when(pmod(col("doc_id"), lit(10)) === 5, lit(("buy " * 80).trim))
      .otherwise(col("text"))
    docs.select(col("doc_id"), Text.htmlToText(synthHtmlWith(content)).as("text"))
  }

  /** Funnel stage 1 (shared): the full per-doc blocklist screen, so
    * both the funnel (survivor ids) and the audit (per-doc keep flag)
    * provably run the SAME operator with the SAME parameters.
    */
  private def webFunnelBlocklistScreen(pages: DataFrame): DataFrame =
    Text.blocklistScreen(pages, "doc_id", "text",
      terms = Seq("slow", "merge"), maxHits = 4)

  /** Funnel stage 1 (shared): ids surviving the blocklist screen. */
  private def webFunnelBlocklistIds(pages: DataFrame): DataFrame =
    webFunnelBlocklistScreen(pages).filter(col("keep")).select(col("doc_id"))

  /** Funnel stage 2 (shared): the length + type-token quality gate. */
  private def webFunnelQualOk: Column = {
    def toks = Text.tokens(col("text"))
    size(toks) >= 20 &&
      size(array_distinct(toks)).cast("double") / size(toks) > 0.2
  }

  /** The q147/q147b funnel body over an arbitrary corpus slice. */
  private def webFunnelReport(spark: SparkSession, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s0 = webFunnelPages(docs)
    val s1 = s0.join(webFunnelBlocklistIds(s0), Seq("doc_id"), "left_semi")
    val s2 = s1.filter(webFunnelQualOk)
    val wfp = Window.partitionBy(Text.fingerprint(col("text"))).orderBy(col("doc_id"))
    val s3 = s2.withColumn("__rn", row_number().over(wfp))
      .filter(col("__rn") === 1).drop("__rn")
    withCached(s0, s1, s2, s3) {
      def stageRow(name: String, df: DataFrame): (String, Long, Long, Long) = {
        val r = df.agg(count(lit(1)), sum(col("doc_id")),
          sum(size(Text.tokens(col("text"))).cast("long"))).head
        (name, r.getLong(0), r.getLong(1), r.getLong(2))
      }
      import spark.implicits._
      Seq(stageRow("0_extract", s0), stageRow("1_blocklist", s1),
        stageRow("2_quality", s2), stageRow("3_exact_dedup", s3))
        .toDF("stage", "n_docs", "id_sum", "tok_sum").orderBy(col("stage"))
    }
  }

  /** STREAMING web funnel: q147's capstone maintained incrementally —
    * every micro-batch of crawled pages re-derives the full attrition
    * report over the grown corpus (snapshot recompute: dedup keeps
    * the min id per fingerprint CLASS, a corpus-global property).
    * Deterministic in corpus content, so the final published report
    * shares q147's oracle verbatim — the production shape: a crawl
    * monitor whose funnel dashboard updates per ingest batch.
    */
  def q147bFunnelStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q147b")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    graft.stream.Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      corpus => webFunnelReport(spark, corpus), filesPerTrigger = 2)
      .orderBy(col("stage"))
  }

  /** Per-doc funnel DROP ATTRIBUTION: q147's aggregate attrition
    * report says how many docs each stage dropped; this audit says WHY
    * each individual page dropped (the q122 per-rule-boolean shape
    * applied to the funnel) — the view a crawl operator actually opens
    * when a source's yield craters. Runs the SAME shared stage
    * operators as q147 ([[webFunnelBlocklistScreen]],
    * [[webFunnelQualOk]]) and expresses the dedup verdict as
    * min-survivor-id per fingerprint class — exactly the funnel's
    * row_number keep rule, but as ONE window aggregate with no
    * join-back, so attribution costs one fingerprint-keyed shuffle on
    * top of the id-keyed screen join. Verdict is the FIRST failing
    * stage (a spam page that is also a duplicate reads `2_quality`,
    * matching where the funnel actually discards it).
    */
  def q152FunnelAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pages = webFunnelPages(Tables.documents(spark, dir))
    val bl = webFunnelBlocklistScreen(pages)
      .select(col("doc_id"), col("keep").as("pass_blocklist"))
    val flagged = pages.join(bl, Seq("doc_id"))
      .withColumn("pass_quality", webFunnelQualOk)
    val survives = col("pass_blocklist") && col("pass_quality")
    val canonId = min(when(survives, col("doc_id")))
      .over(Window.partitionBy(Text.fingerprint(col("text"))))
    flagged
      .withColumn("verdict",
        when(!col("pass_blocklist"), lit("1_blocklist"))
          .when(!col("pass_quality"), lit("2_quality"))
          .when(col("doc_id") =!= canonId, lit("3_duplicate"))
          .otherwise(lit("kept")))
      .select(col("doc_id"), col("pass_blocklist"), col("pass_quality"),
        col("verdict"))
      .orderBy(col("doc_id"))
  }

  /** Pseudo-relevance-feedback retrieval
    * ([[graft.ext.Text.bm25PrfTopK]]) over q136's query set: BM25 →
    * 5 feedback docs → 3 count-based df-guarded expansion terms →
    * second BM25 pass. Expansion selection is integer-exact, so the
    * oracle replays BOTH passes and the expansion in SQL (the BM25
    * chain builder parameterized by query relation).
    */
  def q157PrfSearch(spark: SparkSession, dir: String): DataFrame =
    Text.bm25PrfTopK(Tables.documents(spark, dir), "doc_id", "text",
      Seq(("disc", Seq("vector", "spark")), ("stop", Seq("the", "a")),
        ("mixed", Seq("merge", "window", "customer"))),
      k = 10, fbDocs = 5, fbTerms = 3)
      .orderBy(col("query_id"), col("rank"))

  /** Per-doc lexical-diversity report
    * ([[graft.ext.Text.lexicalDiversity]]): type-token ratio, hapax
    * ratio, Shannon token entropy — the distribution-shaped quality
    * signals the per-rule gates (q86/q122) can't see. Entropy terms
    * use the q158 decimal discipline (round 6 dp, DECIMAL sum) so the
    * whole 500-row report hash-checks.
    */
  def q164LexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    Text.lexicalDiversity(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Per-doc n-gram novelty vs the English reference slice
    * ([[graft.ext.Text.ngramNovelty]]): what fraction of each doc's
    * distinct 3-grams the held corpus has never seen — the audit run
    * before adding a crawl slice to a training mix (decontamination's
    * complement: q48 asks "contains a benchmark gram?", this asks
    * "how much is NEW?").
    */
  def q165NgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Text.ngramNovelty(docs, "doc_id", "text",
      docs.filter(col("lang") === "en"), "text", n = 3)
      .orderBy(col("doc_id"))
  }

  /** Scale twin of q165: the gram join keyed on 8-byte xxhash64
    * instead of gram strings (the q102b shuffle-width discipline) —
    * shares q165's oracle verbatim, pinning hashed ≡ exact.
    */
  def q165bNoveltyHashed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Text.ngramNovelty(docs, "doc_id", "text",
      docs.filter(col("lang") === "en"), "text", n = 3, hashGrams = true)
      .orderBy(col("doc_id"))
  }

  /** Calibration audit of the q126 quality classifier: predicted
    * probabilities bucketed into deciles vs the empirical positive
    * rate per bucket (the reliability-diagram table). p derives from
    * the EXACT long pre-activation by one IEEE division + the
    * algebraic sigmoid, so even the bin assignment is deterministic;
    * mean_p uses the decimal-sum discipline. The oracle extends the
    * full 4-iteration training replay.
    */
  def q176Calibration(spark: SparkSession, dir: String): DataFrame = {
    // materialized once (r16): trainElliott persists its own copy and
    // unpersists on return, so the score pass was re-tokenizing and
    // re-hashing the corpus from scratch
    val feat = classifierFeatures(spark, dir).localCheckpoint(true)
    val w = graft.ext.Classifier.trainElliott(feat, numBuckets = 64, iters = 4)
    graft.ext.Classifier.score(feat, w)
      .withColumn("bin", floor(col("p") * 10).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_pos"),
        expr("sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) * 1000000 div count(1)")
          .as("emp_ppm"),
        round(sum(round(col("p"), 6).cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("mean_p"))
      .orderBy(col("bin"))
  }

  /** Zipf-law fit ([[graft.ext.Text.zipfFit]]): OLS of ln(freq) on
    * ln(rank) over the top-100 corpus tokens — the corpus-health
    * number (natural text ≈ −1; templated corpora bend the curve).
    * Decimal-summed rounded terms; only the closed-form division
    * floats, at 4 dp.
    */
  def q185ZipfFit(spark: SparkSession, dir: String): DataFrame =
    Text.zipfFit(Tables.documents(spark, dir), "text", topN = 100)

  /** STREAMING corpus-stats monitor: q185's Zipf fit re-derived per
    * ingest batch over the growing corpus (snapshot recompute — rank
    * order is corpus-global). The production shape of a corpus-health
    * dashboard; shares q185's oracle verbatim.
    */
  def q185bZipfStream(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q185b")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    graft.stream.Jobs.runPlanRecomputeStream(spark, in, schema, s"$tmp/work",
      docs => Text.zipfFit(docs, "text", topN = 100), filesPerTrigger = 2)
  }

  /** Classifier threshold-sweep YIELD CURVE — the table a curation
    * run consults before committing to a filter threshold: for each
    * probability decile, the docs and tokens in the bin and the
    * cumulative docs/tokens that survive a `p ≥ bin/10` cut (plus the
    * surviving token share in exact ppm). q176 answers "is the
    * classifier calibrated"; this answers "which threshold hits my
    * token budget" — the two tables that together pick the cut.
    * Determinism: p derives from the exact long pre-activation (q126
    * discipline), token counts are exact longs, and the cumulative
    * sums run over the post-aggregation O(10)-bin frame, so the
    * single-partition window is a disclosed tiny-frame hop, not a
    * global sort of the corpus.
    */
  def q189ThresholdYield(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialized once (r16): trainElliott persists its own copy and
    // unpersists on return, so the score pass was re-tokenizing and
    // re-hashing the corpus from scratch
    val feat = classifierFeatures(spark, dir).localCheckpoint(true)
    val w = graft.ext.Classifier.trainElliott(feat, numBuckets = 64, iters = 4)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(length(trim(col("text"))) > 0,
          Text.tokenCount(col("text")).cast("long")).otherwise(0L)
          .as("n_toks"))
    val binned = graft.ext.Classifier.score(feat, w)
      .join(toks, Seq("doc_id"))
      .withColumn("bin", floor(col("p") * 10).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"))
    val cum = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    binned
      .withColumn("docs_ge", sum(col("n_docs")).over(cum))
      .withColumn("toks_ge", sum(col("n_toks")).over(cum))
      .withColumn("__total", sum(col("n_toks")).over(all))
      .withColumn("tok_share_ppm", expr("toks_ge * 1000000 div __total"))
      .select(col("bin"), col("n_docs"), col("n_toks"),
        col("docs_ge"), col("toks_ge"), col("tok_share_ppm"))
      .orderBy(col("bin"))
  }

  /** HEAPS'-law vocabulary-growth fit ([[graft.ext.Text.heapsFit]]):
    * V(N) ≈ K·N^β over 16 doc-id checkpoints — the accumulation
    * curve beside q185's Zipf frequency curve (templated or
    * duplicate-heavy corpora flatten early). Per-checkpoint
    * cumulative docs/tokens/vocab plus the (β, ln K) OLS fit under
    * the q185 decimal discipline, all in one hash-checkable table.
    */
  def q192HeapsFit(spark: SparkSession, dir: String): DataFrame =
    Text.heapsFit(Tables.documents(spark, dir), "doc_id", "text",
      checkpoints = 16)
      .orderBy(col("checkpoint"))

  /** Tokenizer COMPARISON capstone: q119's BPE and q196's unigram-LM
    * trained on the same corpus and reduced to per-language fertility
    * on EQUAL terms (exact ppm ratios for both — q127 reports BPE in
    * rounded doubles, q197 unigram in ppm; a side-by-side needs one
    * unit), one row per language, plus the normalized-subword
    * vocabulary overlap (each BPE merge's pair with spaces stripped
    * vs the unigram model's multi-char pieces) — the table a
    * tokenizer bake-off actually reads. Both vocabularies are O(V)
    * driver literals (the established bounded collects); per-lang
    * metrics are one segmentation map pass + keyed agg each. The
    * oracle replays BOTH trainers end-to-end under a single WITH
    * (the two CTE chains share no names) — the deepest joint replay
    * in the suite.
    */
  def q199TokenizerCompare(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // BPE side — the q127 composition, metrics in exact ppm
    val mergeRows = Text.bpeMerges(docs, "doc_id", "text", numMerges = 5)
      .orderBy(col("step"))
      .select(col("left_sym"), col("right_sym"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val bpeLang = Text.bpeApply(docs, "doc_id", "text", mergeRows)
      .select(col("doc_id"),
        size(col("syms")).cast("long").as("n_syms"),
        aggregate(col("syms"), lit(0L),
          (acc, s) => acc + length(s).cast("long")).as("sym_chars"))
      .join(docs.select(col("doc_id"), col("lang"),
        Text.tokenCount(col("text")).cast("long").as("n_words")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(sum(col("n_words")).as("bpe_n_words"),
        sum(col("n_syms")).as("bpe_n_syms"),
        sum(col("sym_chars")).as("bpe_sym_chars"))
    // unigram side — the q197 composition
    val vocab = Text.unigramTrain(docs, "doc_id", "text",
      vocabSize = 60, maxPieceLen = 4, rounds = 2, maxWordLen = 20)
      .select(col("piece"), col("cost")).collect()
    val costs = vocab.map(r => r.getString(0) -> r.getLong(1)).toMap
    val wl = docs.select(col("lang"),
        explode(Text.tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")).between(1, 20))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("n"))
    val seg = wl.select(col("word")).distinct()
      .withColumn("n_pieces",
        size(Text.unigramPieces(col("word"), costs, maxPieceLen = 4))
          .cast("long"))
    val uniLang = wl.join(seg, Seq("word"))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("uni_n_words"),
        sum(col("n") * col("n_pieces")).as("uni_n_pieces"),
        sum(col("n") * length(col("word"))).as("uni_n_chars"))
    // normalized-subword overlap of the two learned vocabularies:
    // both sides are already-collected O(V) literals
    val bpeSubs = mergeRows.map { case (l, r) => (l + r).replace(" ", "") }.toSet
    val uniMulti = vocab.map(_.getString(0)).filter(_.length > 1).toSet
    val shared = (bpeSubs intersect uniMulti).size.toLong
    bpeLang.join(uniLang, Seq("lang"))
      .select(col("lang"), col("bpe_n_words"), col("bpe_n_syms"),
        col("bpe_sym_chars"),
        expr("bpe_n_syms * 1000000 div bpe_n_words").as("bpe_syms_ppw_ppm"),
        expr("bpe_sym_chars * 1000000 div bpe_n_syms")
          .as("bpe_chars_per_sym_ppm"),
        col("uni_n_words"), col("uni_n_pieces"), col("uni_n_chars"),
        expr("uni_n_pieces * 1000000 div uni_n_words")
          .as("uni_pieces_ppw_ppm"),
        expr("uni_n_chars * 1000000 div uni_n_pieces")
          .as("uni_chars_per_piece_ppm"),
        lit(shared).as("n_shared_subwords"))
      .orderBy(col("lang"))
  }

  /** STREAMING BM25 index maintenance + serve
    * ([[graft.stream.Jobs.runBm25IndexStream]]): the corpus arrives
    * in 4 micro-batches; each appends its own postings/doc-length
    * partitions (tokenized once, ever — O(batch) per trigger, the
    * genuinely incremental tier) and merges the 1-row stats monoid,
    * then q136's queries are served FROM the maintained index
    * ([[graft.ext.Text.bm25ServeFromIndex]], arithmetic-identical to
    * the from-text scorer by construction). Shares q136's oracle
    * verbatim: index-maintained retrieval ≡ from-text retrieval,
    * hash-checked — the streaming × retrieval intersection.
    */
  def q204StreamBm25Index(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft-q204")
    val (in, schema) = docSliceStreamInput(spark, dir, tmp)
    val (postings, dl, stats) =
      Jobs.runBm25IndexStream(spark, in, schema, s"$tmp/work")
    Text.bm25ServeFromIndex(postings, dl, stats,
      Seq(("disc", Seq("vector", "spark")), ("stop", Seq("the", "a")),
        ("mixed", Seq("merge", "window", "customer"))), k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** PHONETIC entity resolution ([[graft.ext.TextNorm.soundex]] +
    * the q160 block/verify discipline): a 150-person registry with
    * planted phonetically-equivalent misspellings (doubled final
    * letter, appended "ey" — both provably soundex-invariant), then
    * blocked on the surname's Soundex class and verified by
    * (levenshtein ≤ 2 AND equal initial). The block catches what
    * exact and edit-distance blocking both miss ("Tymczak" vs
    * "Tymczakk"); the verify rejects same-block different persons
    * ("Robert" vs "Robertson" shares R163 but fails lev ≤ 2). The
    * soundex chain is translate + RE2-safe regexes, so the oracle
    * replays the key itself, not just the pairs.
    */
  def q212PhoneticEr(spark: SparkSession, dir: String): DataFrame = {
    val surnames = Seq("Robert", "Robertson", "Ashcraft", "Tymczak",
      "Pfister", "Honeyman", "Washington", "Lee", "Gutierrez", "Jackson",
      "Schmidt", "Snyder", "Oconnor", "Macdonald", "Herzog", "Castillo",
      "Nguyen", "Okafor", "Svensson", "Almeida")
    val nameArr = array(surnames.map(lit): _*)
    val base = Tables.customer(spark, dir).filter(col("c_custkey") < 150)
      .select(col("c_custkey").as("pid"),
        element_at(nameArr, (col("c_custkey") % 20 + 1).cast("int")).as("surname"),
        expr("char(c_custkey % 26 + 65)").as("initial"))
    val twins = base.filter(col("pid") % 7 === 0)
      .select((col("pid") + 1000).as("pid"),
        when(col("pid") % 2 === 0,
          concat(col("surname"), substring(col("surname"), -1, 1)))
          .otherwise(concat(col("surname"), lit("ey"))).as("surname"),
        col("initial"))
    val keyed = base.unionByName(twins)
      .withColumn("sdx", graft.ext.TextNorm.soundex(col("surname")))
    val a = keyed.select(col("sdx"), col("pid").as("id_a"),
      col("surname").as("sn_a"), col("initial").as("in_a"))
    val b = keyed.select(col("sdx"), col("pid").as("id_b"),
      col("surname").as("sn_b"), col("initial").as("in_b"))
    a.join(b, Seq("sdx")).filter(col("id_a") < col("id_b"))
      .filter(levenshtein(col("sn_a"), col("sn_b")) <= 2 &&
        col("in_a") === col("in_b"))
      .select(col("id_a"), col("id_b"), col("sdx").as("block_sdx"),
        levenshtein(col("sn_a"), col("sn_b")).cast("long").as("surname_lev"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Chat-turn accounting + SFT loss-mask spans
    * ([[graft.ext.Chat.turnStats]]): conversations (nested turn
    * arrays) explode to per-turn rows with token counts and exact
    * half-open token spans on the conversation axis (one prefix-sum
    * window per conversation) — `in_loss` marks the assistant turns,
    * the mask an SFT trainer consumes. The oracle derives every span
    * from the chunking closed form (turn i covers [7i, min(7(i+1),
    * n))), so the window layout is pinned against the spec, not
    * against itself.
    */
  def q213ChatMask(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Chat.turnStats(synthConversations(spark, dir), "conv_id", "turns")
      .orderBy(col("conv_id"), col("turn_idx"))

  /** Chat-template rendering digest ([[graft.ext.Chat.renderTemplate]]):
    * the canonical `<|role|>content<|eot|>` serialization folded in
    * one HOF pass (no explode), reported as per-conversation turn
    * count, total tokens, and the rendered string's md5 — the
    * content-addressed form a training-data release manifest stores.
    */
  def q213bChatRender(spark: SparkSession, dir: String): DataFrame = {
    val conv = synthConversations(spark, dir)
    conv.select(col("conv_id"),
      size(col("turns")).cast("long").as("n_turns"),
      aggregate(col("turns"), lit(0L),
        (acc, t) => acc + size(Text.tokens(t.getField("content")))).as("total_toks"),
      md5(graft.ext.Chat.renderTemplate(col("turns"))).as("render_md5"))
      .orderBy(col("conv_id"))
  }

  /** Preference-pair assembly ([[graft.ext.Chat.preferencePairs]],
    * the DPO/RLHF data shape): docs group into (lang, length-bucket)
    * prompt groups; each group pairs its highest distinct-token-ratio
    * member (chosen) against its lowest (rejected) with the exact ppm
    * margin — deterministic ordered-struct argmax/argmin, zero-margin
    * and singleton groups dropped. One keyed aggregation; the oracle
    * replays score, both argselects, and the filters.
    */
  def q214PreferencePairs(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir).selectExpr(
      "lang",
      "size(split(trim(text), '\\\\s+')) div 40 AS len_bucket",
      "doc_id",
      "size(array_distinct(split(trim(text), '\\\\s+'))) * 1000000L" +
        " div size(split(trim(text), '\\\\s+')) AS ttr_ppm")
    graft.ext.Chat.preferencePairs(scored, Seq("lang", "len_bucket"),
      "doc_id", col("ttr_ppm"))
      .orderBy(col("lang"), col("len_bucket"))
  }

  /** T5-style span corruption ([[graft.ext.Text.spanCorrupt]], the
    * denoising-objective data prep): md5-coin-selected stride-5
    * blocks lose their first 3 tokens to `<extra_id_k>` sentinels;
    * input/target digests plus exact block/token counts per doc.
    * Stride alignment replaces the sequential greedy non-overlap
    * walk with a construction that is one explode + two windows + an
    * ordered fold — fully distributed AND fully replayable (the
    * oracle rebuilds both strings and every count).
    */
  def q216SpanCorrupt(spark: SparkSession, dir: String): DataFrame =
    Text.spanCorrupt(Tables.documents(spark, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_blocks"), col("n_corrupt_blocks"),
        col("n_corrupt_toks"),
        md5(col("input")).as("input_md5"),
        md5(col("target")).as("target_md5"))
      .orderBy(col("doc_id"))

  /** Fill-in-the-middle data prep ([[graft.ext.Text.fimTransform]],
    * Bavarian et al. 2022): md5-split prefix/middle/suffix
    * re-serialized in PSM sentinel order — the code-pretraining
    * transformation, as a pure map pass. Output keeps the exact
    * split offsets plus the rendered string's md5; the oracle
    * rebuilds the 12-bit hashes digit-by-digit, both offsets, and
    * the full PSM byte string.
    */
  def q217FimTransform(spark: SparkSession, dir: String): DataFrame =
    Text.fimTransform(Tables.documents(spark, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_toks"), col("fim_applied"),
        col("split_a"), col("split_b"), md5(col("psm")).as("psm_md5"))
      .orderBy(col("doc_id"))

  /** UNIGRAM-LM tokenizer training ([[graft.ext.Text.unigramTrain]],
    * Kudo 2018 hard-EM): the OTHER standard subword trainer beside
    * q119's BPE — seed every ≤4-char substring, then two rounds of
    * (quantized −ln costs → Viterbi-segment every distinct word →
    * usage re-estimation → prune to chars + top-60). The oracle is
    * the round's deepest replay: both EM rounds unrolled INCLUDING
    * the per-word Viterbi DP itself — 20 per-position min stages and
    * a 20-step backtrack walk per round, all MATERIALIZED CTEs (the
    * q153 fd lesson) — so the entire train loop, argmin tie-breaks
    * and all, is hash-checked end to end, not just the final table.
    */
  def q196UnigramVocab(spark: SparkSession, dir: String): DataFrame =
    Text.unigramTrain(Tables.documents(spark, dir), "doc_id", "text",
      vocabSize = 60, maxPieceLen = 4, rounds = 2, maxWordLen = 20)
      .orderBy(col("piece"))

  /** Per-language fertility of the LEARNED unigram model — q127's
    * metric (symbols per word, chars per symbol) under q196's
    * tokenizer instead of BPE, the table that compares the two
    * trainers on equal terms. Exact ppm ratios. The final costs are
    * an O(vocab) literal ([[graft.ext.Text.unigramPieces]] map
    * pass); each DISTINCT word segments once and its piece count
    * joins back to the per-(lang, word) instance counts — at 100 TB
    * the Viterbi never touches corpus tokens, only the vocabulary.
    * The oracle replays BOTH training rounds plus this third
    * inference segmentation, all unrolled.
    */
  def q197UnigramFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val costs = Text.unigramTrain(docs, "doc_id", "text",
      vocabSize = 60, maxPieceLen = 4, rounds = 2, maxWordLen = 20)
      .select(col("piece"), col("cost")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wl = docs.select(col("lang"),
        explode(Text.tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")).between(1, 20))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("n"))
    val seg = wl.select(col("word")).distinct()
      .withColumn("n_pieces",
        size(Text.unigramPieces(col("word"), costs, maxPieceLen = 4))
          .cast("long"))
    wl.join(seg, Seq("word"))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_pieces")).as("n_pieces"),
        sum(col("n") * length(col("word"))).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_pieces"), col("n_chars"),
        expr("n_pieces * 1000000 div n_words").as("pieces_per_word_ppm"),
        expr("n_chars * 1000000 div n_pieces").as("chars_per_piece_ppm"))
      .orderBy(col("lang"))
  }

  /** Retrieval evaluation ([[graft.ext.Text.retrievalEval]]): q136's
    * BM25 run scored against a deterministic relevance rule (a doc is
    * relevant iff it contains ≥ 2 distinct terms of the query) —
    * per-query recall@10, MRR, and nDCG@10, all decimal-exact, the
    * whole pipeline (retriever + qrels + metrics) replayed by one
    * oracle.
    */
  def q158RetrievalEval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val qs = Seq(("disc", Seq("vector", "spark")), ("stop", Seq("the", "a")),
      ("mixed", Seq("merge", "window", "customer")))
    val results = Text.bm25TopK(docs, "doc_id", "text", qs, k = 10)
    val qrels = qs.map { case (qid, ts) =>
      val termArr = typedLit(ts)
      docs.select(lit(qid).as("query_id"), col("doc_id"))
        .where(size(filter(array_distinct(Text.tokens(col("text"))),
          t => array_contains(termArr, t))) >= 2)
    }.reduce(_ unionByName _)
    Text.retrievalEval(results, qrels, k = 10)
      .orderBy(col("query_id"))
  }

  /** Shared prefix of the q116/q116b oracles: bigram LM trained on the
    * English slice, every doc scored (add-one smoothing over the
    * reference vocabulary; unseen events coalesce to count 0). Ends at
    * the `scored` CTE — each query appends its own projection.
    */
  private val crossEntropyScoreSql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents),
      |ref AS (
      |  SELECT t.doc_id, toks FROM t
      |  JOIN documents d ON d.doc_id = t.doc_id AND d.lang = 'en'),
      |runi AS (SELECT unnest(toks) AS tok FROM ref),
      |uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cu FROM runi GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vocab FROM runi),
      |rbg AS (
      |  SELECT unnest([toks[i] || ' ' || toks[i+1]
      |                 FOR i IN range(1, len(toks))]) AS bigram
      |  FROM ref WHERE len(toks) >= 2),
      |bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cb FROM rbg GROUP BY 1),
      |bg AS (
      |  SELECT doc_id,
      |         unnest([toks[i] || ' ' || toks[i+1]
      |                 FOR i IN range(1, len(toks))]) AS bigram
      |  FROM t WHERE len(toks) >= 2),
      |lp AS (
      |  SELECT g.doc_id,
      |         ln((coalesce(bc.cb, 0) + 1.0) /
      |            (coalesce(uc.cu, 0) + v.vocab)) AS lp
      |  FROM bg g
      |  LEFT JOIN bc USING (bigram)
      |  LEFT JOIN uc ON uc.tok = split_part(g.bigram, ' ', 1)
      |  CROSS JOIN v),
      |scored AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |         round(-avg(lp), 4) AS cross_entropy
      |  FROM lp GROUP BY doc_id)""".stripMargin

  /** The q119 oracle: 5 BPE rounds UNROLLED as SQL stages (generated
    * by a loop — each stage is the same template over the previous
    * round's symbol state). Stage k: adjacent pairs via a lead window
    * → argmax with lexicographic tie-break → greedy-left merge marks
    * via gaps-and-islands (within each run of overlapping
    * occurrences, the 1st/3rd/5th… merge; runs longer than 1 only
    * happen for self-pairs) → positional substitution + renumber.
    * The final SELECT unions the 5 argmax rows into the merge table.
    */
  private val bpeMergesSql: String = bpeMergesOracle("merges")

  /** q120's oracle: the same 5 replayed rounds, but the final SELECT
    * reads the post-merge symbol STATE (st5) instead of the merge
    * table — per-doc symbol counts + an md5 over the segmentation.
    */
  private val bpeApplySql: String = bpeMergesOracle("apply")

  /** The BPE replay CTE chain shared by [[bpeMergesOracle]] and the
    * q199 tokenizer-comparison oracle: token stream st0 → five
    * (count pairs → pick argmax → merge non-overlapping occurrences)
    * stages ending at st5, with each step's winning pair in b1..b5.
    * No name collides with the unigram chain, so the two concatenate
    * under one WITH.
    */
  private def bpeMergesCtes: String = {
    val stages = (1 to 5).map { k =>
      s"""p$k AS (
         |  SELECT doc_id, pos, sym AS x,
         |         lead(sym) OVER (PARTITION BY doc_id ORDER BY pos) AS y
         |  FROM st${k - 1}),
         |b$k AS (
         |  SELECT x, y, count(*) AS c FROM p$k WHERE y IS NOT NULL
         |  GROUP BY 1, 2 ORDER BY c DESC, x, y LIMIT 1),
         |m$k AS (
         |  SELECT p.doc_id, p.pos, p.x,
         |         CASE WHEN p.x = b.x AND p.y = b.y THEN 1 ELSE 0 END AS occ,
         |         b.x || ' ' || b.y AS mrg
         |  FROM p$k p CROSS JOIN b$k b),
         |i$k AS (
         |  SELECT *, CASE WHEN occ = 1 THEN pos - row_number()
         |    OVER (PARTITION BY doc_id, occ ORDER BY pos) END AS isl
         |  FROM m$k),
         |g$k AS (
         |  SELECT *, CASE WHEN occ = 1 AND row_number()
         |      OVER (PARTITION BY doc_id, isl ORDER BY pos) % 2 = 1
         |    THEN 1 ELSE 0 END AS sel
         |  FROM i$k),
         |st$k AS (
         |  SELECT doc_id,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
         |         CASE WHEN sel = 1 THEN mrg ELSE x END AS sym
         |  FROM (SELECT *, lag(sel, 1, 0)
         |          OVER (PARTITION BY doc_id ORDER BY pos) AS psel
         |        FROM g$k)
         |  WHERE psel = 0)""".stripMargin
    }.mkString(",\n")
    s"""t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
       |st0 AS (
       |  SELECT doc_id, unnest(toks) AS sym,
       |         unnest(range(1, len(toks) + 1)) AS pos
       |  FROM t),
       |$stages""".stripMargin
  }

  private def bpeMergesOracle(finalMode: String): String = {
    val finalRows = finalMode match {
      case "merges" =>
        (1 to 5).map { k =>
          s"SELECT $k AS step, x AS left_sym, y AS right_sym,\n" +
            s"       x || ' ' || y AS merged, CAST(c AS BIGINT) AS pair_count FROM b$k"
        }.mkString("\nUNION ALL\n") + "\nORDER BY step"
      case "apply" =>
        """SELECT doc_id, CAST(count(*) AS BIGINT) AS n_syms,
          |       md5(string_agg(sym, '|' ORDER BY pos)) AS seg_md5
          |FROM st5 GROUP BY doc_id ORDER BY doc_id""".stripMargin
      case "fertility" =>
        """SELECT lang,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(n_words) AS BIGINT) AS n_words,
          |       CAST(sum(n_syms) AS BIGINT) AS n_syms,
          |       CAST(sum(sym_chars) AS BIGINT) AS sym_chars,
          |       round(CAST(sum(n_syms) AS DOUBLE) / sum(n_words), 6)
          |         AS syms_per_word,
          |       round(CAST(sum(sym_chars) AS DOUBLE) / sum(n_syms), 6)
          |         AS chars_per_sym
          |FROM (SELECT s.doc_id, count(*) AS n_syms,
          |             sum(length(sym)) AS sym_chars
          |      FROM st5 s GROUP BY 1) a
          |JOIN (SELECT doc_id, len(toks) AS n_words FROM t) tw USING (doc_id)
          |JOIN documents d USING (doc_id)
          |GROUP BY lang ORDER BY lang""".stripMargin
    }
    s"""WITH $bpeMergesCtes
       |$finalRows""".stripMargin
  }

  /** q196 oracle: the full 2-round unigram hard-EM replayed in SQL,
    * INCLUDING the Viterbi DP itself — per-position min stages (dp_k
    * depends on dp_{k−4..k−1}) and the piece-walk backtrack are
    * unrolled by a Scala loop over a stage template, 20 stages each
    * per round (words cap at 20 chars), argmin tie-break spelled as
    * ORDER BY cost ASC, t DESC ≡ the engine's (cost, start) struct
    * min. Every CTE is MATERIALIZED: DuckDB inlines CTEs per
    * reference and the DP stages chain (the q153 fd-exhaustion
    * lesson).
    */
  private def unigramOracle(mode: String): String = {
    val V = 60; val L = 4; val W = 20
    def priorUnion(r: Int, k: Int): String = {
      val base =
        if (k <= L)
          Seq("SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost FROM w0")
        else Nil
      val dps = (math.max(1, k - L) until k)
        .map(j => s"SELECT word, $j AS pos, cost FROM dp${r}_$j")
      (base ++ dps).mkString(" UNION ALL ")
    }
    def roundCtes(r: Int, withReestimate: Boolean = true): Seq[String] = {
      val prev = s"v${r - 1}"
      val costs =
        s"""c$r AS MATERIALIZED (
           |  SELECT piece,
           |         CAST(round(ln(CAST((SELECT sum(weight) FROM $prev)
           |           AS DOUBLE) / weight) * 1000000) AS BIGINT) AS cost
           |  FROM $prev)""".stripMargin
      val cand =
        s"""cand$r AS MATERIALIZED (
           |  SELECT p.word, p.i, p.t, c.cost
           |  FROM posns p JOIN c$r c USING (piece))""".stripMargin
      val dps = (1 to W).map { k =>
        s"""dp${r}_$k AS MATERIALIZED (
           |  SELECT word, cost, t FROM (
           |    SELECT c.word, p.cost + c.cost AS cost, c.t,
           |           row_number() OVER (PARTITION BY c.word
           |             ORDER BY p.cost + c.cost ASC, c.t DESC) AS rn
           |    FROM cand$r c
           |    JOIN (${priorUnion(r, k)}) p
           |      ON p.word = c.word AND p.pos = $k - c.t
           |    WHERE c.i + c.t - 1 = $k) WHERE rn = 1)""".stripMargin
      }
      val dpall =
        s"""dpall$r AS MATERIALIZED (
           |  ${(1 to W).map(k => s"SELECT word, $k AS pos, cost, t FROM dp${r}_$k")
                .mkString(" UNION ALL ")})""".stripMargin
      val bt0 =
        s"""bt${r}_0 AS MATERIALIZED (
           |  SELECT word, n_w, length(word) AS pos FROM w0)""".stripMargin
      val bts = (1 to W).map { i =>
        s"""bt${r}_$i AS MATERIALIZED (
           |  SELECT b.word, b.n_w, b.pos - d.t AS pos,
           |         substring(b.word, b.pos - d.t + 1, d.t) AS piece
           |  FROM bt${r}_${i - 1} b JOIN dpall$r d
           |    ON d.word = b.word AND d.pos = b.pos
           |  WHERE b.pos > 0)""".stripMargin
      }
      val usage =
        s"""usage$r AS MATERIALIZED (
           |  SELECT piece, CAST(sum(n_w) AS BIGINT) AS weight
           |  FROM (${(1 to W).map(i => s"SELECT piece, n_w FROM bt${r}_$i")
                .mkString(" UNION ALL ")})
           |  GROUP BY 1)""".stripMargin
      val v =
        s"""v$r AS MATERIALIZED (
           |  SELECT ch.piece,
           |         greatest(COALESCE(u.weight, CAST(0 AS BIGINT)),
           |                  CAST(1 AS BIGINT)) AS weight
           |  FROM chars ch LEFT JOIN usage$r u USING (piece)
           |  UNION ALL
           |  SELECT piece, weight FROM (
           |    SELECT u.piece, u.weight,
           |           row_number() OVER (ORDER BY u.weight DESC, u.piece)
           |             AS rn
           |    FROM usage$r u LEFT JOIN chars ch ON ch.piece = u.piece
           |    WHERE ch.piece IS NULL AND u.weight > 0) WHERE rn <= $V)"""
          .stripMargin
      Seq(costs, cand) ++ dps ++ Seq(dpall, bt0) ++ bts ++
        (if (withReestimate) Seq(usage, v) else Nil)
    }
    val header =
      s"""WITH w0 AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS n_w
         |  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)),
         |          '\\s+')) AS word FROM documents)
         |  WHERE length(word) BETWEEN 1 AND $W
         |  GROUP BY 1),
         |posns AS MATERIALIZED (
         |  SELECT w0.word, gi.i, gt.t,
         |         substring(w0.word, gi.i, gt.t) AS piece
         |  FROM w0, generate_series(1, $W) AS gi(i),
         |       generate_series(1, $L) AS gt(t)
         |  WHERE gi.i + gt.t - 1 <= length(w0.word)),
         |seed AS MATERIALIZED (
         |  SELECT piece, CAST(sum(n_w) AS BIGINT) AS weight
         |  FROM posns p JOIN w0 USING (word) GROUP BY 1),
         |chars AS MATERIALIZED (
         |  SELECT piece, weight FROM seed WHERE length(piece) = 1),
         |v0 AS MATERIALIZED (
         |  SELECT piece, weight FROM chars
         |  UNION ALL
         |  SELECT piece, weight FROM (
         |    SELECT piece, weight,
         |           row_number() OVER (ORDER BY weight DESC, piece) AS rn
         |    FROM seed WHERE length(piece) > 1 AND weight >= 2)
         |  WHERE rn <= $V)""".stripMargin
    mode match {
      case "vocab" =>
        val rounds = (1 to 2).flatMap(r => roundCtes(r)).mkString(",\n")
        s"""$header,
           |$rounds
           |SELECT v.piece, v.weight,
           |       CAST(round(ln(CAST((SELECT sum(weight) FROM v2) AS DOUBLE)
           |         / v.weight) * 1000000) AS BIGINT) AS cost,
           |       (length(v.piece) = 1) AS is_char
           |FROM v2 v ORDER BY v.piece""".stripMargin
      case "fertility" =>
        // round 3 = one more Viterbi pass under the FINAL costs (no
        // re-estimation) — the inference segmentation fertility reads
        val rounds = ((1 to 2).flatMap(r => roundCtes(r)) ++
          roundCtes(3, withReestimate = false)).mkString(",\n")
        s"""$header,
           |$rounds,
           |wl AS MATERIALIZED (
           |  SELECT lang, word, CAST(count(*) AS BIGINT) AS n
           |  FROM (SELECT lang,
           |          unnest(regexp_split_to_array(trim(lower(text)),
           |            '\\s+')) AS word
           |        FROM documents)
           |  WHERE length(word) BETWEEN 1 AND $W GROUP BY 1, 2),
           |np AS MATERIALIZED (
           |  SELECT word, CAST(count(*) AS BIGINT) AS n_pieces
           |  FROM (${(1 to W).map(i => s"SELECT word, piece FROM bt3_$i")
                .mkString(" UNION ALL ")})
           |  GROUP BY 1)
           |SELECT wl.lang,
           |       CAST(sum(wl.n) AS BIGINT) AS n_words,
           |       CAST(sum(wl.n * np.n_pieces) AS BIGINT) AS n_pieces,
           |       CAST(sum(wl.n * length(wl.word)) AS BIGINT) AS n_chars,
           |       CAST(sum(wl.n * np.n_pieces) * 1000000 // sum(wl.n)
           |         AS BIGINT) AS pieces_per_word_ppm,
           |       CAST(sum(wl.n * length(wl.word)) * 1000000
           |         // sum(wl.n * np.n_pieces) AS BIGINT)
           |         AS chars_per_piece_ppm
           |FROM wl JOIN np USING (word)
           |GROUP BY wl.lang ORDER BY wl.lang""".stripMargin
      case "compare" =>
        // q199: BOTH trainers' replay chains under one WITH (names
        // are disjoint by construction), each reduced to per-lang ppm
        // fertility, joined on lang, plus the normalized-subword
        // vocabulary overlap (BPE merged pairs with spaces stripped
        // vs multi-char unigram pieces)
        val rounds = ((1 to 2).flatMap(r => roundCtes(r)) ++
          roundCtes(3, withReestimate = false)).mkString(",\n")
        s"""WITH $bpeMergesCtes,
           |${header.stripPrefix("WITH ")},
           |$rounds,
           |wl AS MATERIALIZED (
           |  SELECT lang, word, CAST(count(*) AS BIGINT) AS n
           |  FROM (SELECT lang,
           |          unnest(regexp_split_to_array(trim(lower(text)),
           |            '\\s+')) AS word
           |        FROM documents)
           |  WHERE length(word) BETWEEN 1 AND $W GROUP BY 1, 2),
           |np AS MATERIALIZED (
           |  SELECT word, CAST(count(*) AS BIGINT) AS n_pieces
           |  FROM (${(1 to W).map(i => s"SELECT word, piece FROM bt3_$i")
                .mkString(" UNION ALL ")})
           |  GROUP BY 1),
           |bl AS (
           |  SELECT d.lang,
           |         CAST(sum(tw.n_words) AS BIGINT) AS bpe_n_words,
           |         CAST(sum(a.n_syms) AS BIGINT) AS bpe_n_syms,
           |         CAST(sum(a.sym_chars) AS BIGINT) AS bpe_sym_chars
           |  FROM (SELECT s.doc_id, count(*) AS n_syms,
           |               sum(length(sym)) AS sym_chars
           |        FROM st5 s GROUP BY 1) a
           |  JOIN (SELECT doc_id, len(toks) AS n_words FROM t) tw
           |    USING (doc_id)
           |  JOIN documents d USING (doc_id)
           |  GROUP BY d.lang),
           |ul AS (
           |  SELECT wl.lang,
           |         CAST(sum(wl.n) AS BIGINT) AS uni_n_words,
           |         CAST(sum(wl.n * np.n_pieces) AS BIGINT) AS uni_n_pieces,
           |         CAST(sum(wl.n * length(wl.word)) AS BIGINT) AS uni_n_chars
           |  FROM wl JOIN np USING (word) GROUP BY wl.lang),
           |bsub AS (
           |  SELECT DISTINCT replace(x || y, ' ', '') AS sub
           |  FROM (${(1 to 5).map(k => s"SELECT x, y FROM b$k")
                .mkString(" UNION ALL ")})),
           |usub AS (
           |  SELECT DISTINCT piece AS sub FROM v2 WHERE length(piece) > 1),
           |ov AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_shared_subwords
           |  FROM bsub JOIN usub USING (sub))
           |SELECT bl.lang, bpe_n_words, bpe_n_syms, bpe_sym_chars,
           |       CAST(bpe_n_syms * 1000000 // bpe_n_words AS BIGINT)
           |         AS bpe_syms_ppw_ppm,
           |       CAST(bpe_sym_chars * 1000000 // bpe_n_syms AS BIGINT)
           |         AS bpe_chars_per_sym_ppm,
           |       uni_n_words, uni_n_pieces, uni_n_chars,
           |       CAST(uni_n_pieces * 1000000 // uni_n_words AS BIGINT)
           |         AS uni_pieces_ppw_ppm,
           |       CAST(uni_n_chars * 1000000 // uni_n_pieces AS BIGINT)
           |         AS uni_chars_per_piece_ppm,
           |       n_shared_subwords
           |FROM bl JOIN ul ON ul.lang = bl.lang CROSS JOIN ov
           |ORDER BY bl.lang""".stripMargin
    }
  }

  /** Oracle for q145: the synth page shell + the exact
    * [[graft.ext.Text.htmlToText]] regex chain, replayed in SQL
    * (DuckDB needs the explicit 'g' flag where Spark's
    * `regexp_replace` is always global). Built programmatically so
    * the nesting stays readable.
    */
  private def htmlSynthSql: String = htmlSynthSqlWith("text")

  private def htmlSynthSqlWith(content: String): String =
    s"""'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
      |'</title><style>p { color: red; }</style></head><body>' ||
      |'<nav>home about contact</nav><!-- rev ' || CAST(doc_id AS VARCHAR) ||
      |' --><p>' || $content || '</p>' ||
      |'<script>if (1 < 2 && 3 > 0) { x = "y"; }</script>' ||
      |'<p>Tom &amp; Jerry say &quot;hi&quot;, 1 &lt; 2, &#39;q&#39;, ' ||
      |'A&nbsp;B, raw &amp;lt; stays</p>' ||
      |'<footer>(c) example corp</footer></body></html>'""".stripMargin

  /** The [[graft.ext.Text.htmlToText]] regex chain around `inner`, in
    * DuckDB SQL (explicit 'g' flags where Spark's `regexp_replace` is
    * always global).
    */
  private def htmlChainSql(inner: String): String = {
    var e = inner
    for (t <- Seq("script", "style", "head", "nav", "footer", "aside"))
      e = s"regexp_replace($e, '(?is)<$t\\b[^>]*>.*?</$t>', ' ', 'g')"
    e = s"regexp_replace($e, '(?s)<!--.*?-->', ' ', 'g')"
    e = s"regexp_replace($e, '(?s)<[^>]+>', ' ', 'g')"
    for ((pat, rep) <- Seq(
        "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "''", "&nbsp;" -> " ", "&amp;" -> "&"))
      e = s"regexp_replace($e, '$pat', '$rep', 'g')"
    s"trim(regexp_replace($e, '\\s+', ' ', 'g'))"
  }

  private def htmlExtractOracle: String = {
    val e = htmlChainSql("html")
    s"""WITH pages AS (
       |  SELECT doc_id, $htmlSynthSql AS html FROM documents)
       |SELECT doc_id, $e AS extracted,
       |       CAST(len($e) AS BIGINT) AS n_chars
       |FROM pages ORDER BY doc_id""".stripMargin
  }

  /** The planted-failure-class content CASE shared by the q147-family
    * oracles (must mirror [[webFunnelPages]] exactly).
    */
  private def webFunnelContentSql: String =
    """CASE WHEN doc_id % 10 = 0
      |  THEN 'limited offer from our partner store click here to claim your reward today'
      |  WHEN doc_id % 10 = 5 THEN trim(repeat('buy ', 80))
      |  ELSE text END""".stripMargin

  /** Oracle for q147: the full funnel replayed stage by stage —
    * extract (shared chain), blocklist threshold, length + type-token
    * gate, fingerprint dedup — each stage reporting (docs, id sum,
    * token sum).
    */
  private def webFunnelOracle: String = {
    val toks = "regexp_split_to_array(trim(text), '\\s+')"
    val stage = "SELECT stage, CAST(n_docs AS BIGINT) AS n_docs, " +
      "CAST(id_sum AS BIGINT) AS id_sum, CAST(tok_sum AS BIGINT) AS tok_sum"
    def row(name: String, rel: String): String =
      s"""SELECT '$name' AS stage, count(*) AS n_docs, sum(doc_id) AS id_sum,
         |       sum(len($toks)) AS tok_sum FROM $rel""".stripMargin
    s"""WITH pages AS (
       |  SELECT doc_id, ${htmlChainSql(htmlSynthSqlWith(s"($webFunnelContentSql)"))} AS text
       |  FROM documents),
       |s1 AS (
       |  SELECT * FROM pages
       |  WHERE len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
       |        t -> t IN ('merge', 'slow'))) < 4),
       |s2 AS (
       |  SELECT * FROM s1
       |  WHERE len($toks) >= 20
       |    AND len(list_distinct($toks)) / CAST(len($toks) AS DOUBLE) > 0.2),
       |s3 AS (
       |  SELECT doc_id, text FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
       |      ORDER BY doc_id) AS rn FROM s2) WHERE rn = 1),
       |r AS (
       |  ${row("0_extract", "pages")}
       |  UNION ALL ${row("1_blocklist", "s1")}
       |  UNION ALL ${row("2_quality", "s2")}
       |  UNION ALL ${row("3_exact_dedup", "s3")})
       |$stage FROM r ORDER BY stage""".stripMargin
  }

  /** Oracle for q152: every funnel stage's per-doc predicate replayed
    * — blocklist hit count, length + type-token gate, min-survivor-id
    * per fingerprint class — then the first-failing-stage CASE. The
    * dedup rule here (window min over survivors) and q147's
    * (row_number = 1) are deliberately different formulations of the
    * same keep rule, so agreement is a genuine two-way check.
    */
  private def funnelAuditOracle: String = {
    val toks = "regexp_split_to_array(trim(text), '\\s+')"
    s"""WITH pages AS (
       |  SELECT doc_id, ${htmlChainSql(htmlSynthSqlWith(s"($webFunnelContentSql)"))} AS text
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, text,
       |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
       |        t -> t IN ('merge', 'slow'))) < 4 AS pass_blocklist,
       |    len($toks) >= 20
       |      AND len(list_distinct($toks)) / CAST(len($toks) AS DOUBLE) > 0.2
       |      AS pass_quality
       |  FROM pages),
       |g AS (
       |  SELECT *,
       |    min(CASE WHEN pass_blocklist AND pass_quality THEN doc_id END)
       |      OVER (PARTITION BY
       |              md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
       |      AS canon_id
       |  FROM f)
       |SELECT doc_id, pass_blocklist, pass_quality,
       |  CASE WHEN NOT pass_blocklist THEN '1_blocklist'
       |       WHEN NOT pass_quality THEN '2_quality'
       |       WHEN doc_id <> canon_id THEN '3_duplicate'
       |       ELSE 'kept' END AS verdict
       |FROM g ORDER BY doc_id""".stripMargin
  }

  /** q185/q185b shared oracle: the decimal-summed Zipf OLS. */
  private def zipfFitSql: String =
      """WITH t AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |           AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
        |tk AS (
        |  SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rank
        |  FROM c QUALIFY rank <= 100),
        |xy AS (
        |  SELECT round(ln(CAST(rank AS DOUBLE)), 6) AS x,
        |         round(ln(CAST(n AS DOUBLE)), 6) AS y
        |  FROM tk),
        |sm AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nn,
        |         CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(round(x * y, 6) AS DECIMAL(18,6)))
        |           AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(round(x * x, 6) AS DECIMAL(18,6)))
        |           AS DOUBLE) AS sxx
        |  FROM xy)
        |SELECT nn AS n_top,
        |       round((nn * sxy - sx * sy) / (nn * sxx - sx * sx), 4)
        |         AS slope,
        |       round((sy - ((nn * sxy - sx * sy)
        |                    / (nn * sxx - sx * sx)) * sx) / nn, 4)
        |         AS intercept
        |FROM sm""".stripMargin

  /** q212 oracle: NARA soundex as translate + per-digit RE2 collapse
    * (validated against the canonical R163/A261/T522/P236/H555 set),
    * then the registry, twins, block join, and verify replayed.
    */
  private val phoneticErSql: String = {
    val collapse = "0123456".foldLeft("no9")((acc, d) =>
      s"regexp_replace($acc, '$d{2,}', '$d', 'g')")
    s"""WITH names AS (
       |  SELECT ['Robert','Robertson','Ashcraft','Tymczak','Pfister',
       |          'Honeyman','Washington','Lee','Gutierrez','Jackson',
       |          'Schmidt','Snyder','Oconnor','Macdonald','Herzog',
       |          'Castillo','Nguyen','Okafor','Svensson','Almeida'] AS ns),
       |base AS (
       |  SELECT c_custkey AS pid,
       |         ns[CAST(c_custkey % 20 + 1 AS INT)] AS surname,
       |         chr(CAST(c_custkey % 26 + 65 AS INT)) AS initial
       |  FROM customer, names WHERE c_custkey < 150),
       |twins AS (
       |  SELECT pid + 1000 AS pid,
       |         CASE WHEN pid % 2 = 0
       |              THEN surname || substr(surname, length(surname), 1)
       |              ELSE surname || 'ey' END AS surname,
       |         initial
       |  FROM base WHERE pid % 7 = 0),
       |reg AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
       |sx0 AS (
       |  SELECT reg.*,
       |         regexp_replace(upper(surname), '[^A-Z]', '', 'g') AS up
       |  FROM reg),
       |sx1 AS (
       |  SELECT *, translate(up, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
       |                      '01230129022455012623019202') AS coded
       |  FROM sx0),
       |sx2 AS (SELECT *, regexp_replace(coded, '9', '', 'g') AS no9 FROM sx1),
       |sx3 AS (SELECT *, regexp_replace($collapse, '0', '', 'g') AS no0,
       |               substr(coded, 1, 1) AS fc
       |        FROM sx2),
       |keyed AS (
       |  SELECT pid, surname, initial,
       |         substr(up, 1, 1) ||
       |           rpad(substr(CASE WHEN fc IN ('0', '9') THEN no0
       |                            ELSE substr(no0, 2, 1000000) END,
       |                1, 3), 3, '0') AS sdx
       |  FROM sx3)
       |SELECT a.pid AS id_a, b.pid AS id_b, a.sdx AS block_sdx,
       |       CAST(levenshtein(a.surname, b.surname) AS BIGINT) AS surname_lev
       |FROM keyed a JOIN keyed b ON a.sdx = b.sdx AND a.pid < b.pid
       |WHERE levenshtein(a.surname, b.surname) <= 2
       |  AND a.initial = b.initial
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** q165/q165b shared oracle: per-doc distinct 3-grams left-joined
    * against the English reference slice's distinct 3-grams — the
    * hashed twin must produce the identical report.
    */
  private def noveltySql: String =
    """WITH dt AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents),
      |dgd AS (
      |  SELECT DISTINCT doc_id,
      |         unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                 FOR i IN range(1, len(toks) - 1)]) AS gram
      |  FROM dt WHERE len(toks) >= 3),
      |rg AS (
      |  SELECT DISTINCT
      |         unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                 FOR i IN range(1, len(toks) - 1)]) AS gram
      |  FROM dt JOIN documents USING (doc_id)
      |  WHERE len(toks) >= 3 AND lang = 'en'),
      |pd AS (
      |  SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |         CAST(sum(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END)
      |           AS BIGINT) AS n_novel
      |  FROM dgd d LEFT JOIN rg r USING (gram) GROUP BY 1)
      |SELECT doc_id,
      |       coalesce(n_grams, 0) AS n_grams,
      |       coalesce(n_novel, 0) AS n_novel,
      |       CASE WHEN coalesce(n_grams, 0) > 0
      |            THEN round(n_novel / CAST(n_grams AS DOUBLE), 4) END
      |         AS novelty
      |FROM documents LEFT JOIN pd USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Shared by q146 (batch drift report) and q146b (the streaming
    * monitor whose final published report must be bit-identical).
    */
  private def tokenDriftOracle: String =
    """WITH o AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS category
      |  FROM documents WHERE doc_id % 2 = 0),
      |n AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS category
      |  FROM documents WHERE doc_id % 2 = 1),
      |oc AS (SELECT category, count(*) AS n_old FROM o GROUP BY 1),
      |nc AS (SELECT category, count(*) AS n_new FROM n GROUP BY 1),
      |j AS (
      |  SELECT coalesce(oc.category, nc.category) AS category,
      |         coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
      |  FROM oc FULL OUTER JOIN nc ON oc.category = nc.category),
      |t AS (SELECT sum(n_old) AS tot_old, sum(n_new) AS tot_new,
      |             count(*) AS n_categories FROM j)
      |SELECT j.category,
      |       CAST(j.n_old AS BIGINT) AS n_old,
      |       CAST(j.n_new AS BIGINT) AS n_new,
      |       round(
      |         ((j.n_old + 1) / CAST(t.tot_old + t.n_categories AS DOUBLE)
      |          - (j.n_new + 1) / CAST(t.tot_new + t.n_categories AS DOUBLE))
      |         * ln(((j.n_old + 1) / CAST(t.tot_old + t.n_categories AS DOUBLE))
      |              / ((j.n_new + 1) / CAST(t.tot_new + t.n_categories AS DOUBLE))),
      |         6) AS psi_term
      |FROM j, t ORDER BY category""".stripMargin

  /** Shared by q142 (expression form) and q142b (broadcast-join form):
    * whichever plan produced the screen, the verdicts must hash equal.
    */
  private def blocklistSql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
      |                     t -> t IN ('merge', 'slow')) AS hits
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(len(hits) AS BIGINT) AS n_hits,
      |       CAST(len(list_distinct(hits)) AS BIGINT) AS n_terms,
      |       len(hits) < 4 AS keep
      |FROM h ORDER BY doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q14_text_stats", q14TextStats, Some(
      """WITH t AS (
        |  SELECT doc_id, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(toks) AS INT) AS n_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS INT)
        |         AS n_regex_tokens,
        |       round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        |             / len(toks), 4) AS avg_token_len,
        |       round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        |             / greatest(length(text), 1), 4) AS punct_ratio,
        |       round(CAST(len(list_filter(toks, x -> list_contains(
        |               ['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE)
        |             / greatest(len(toks), 1), 4) AS stopword_ratio,
        |       round((least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
        |              + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        |                              / greatest(length(text), 1)) * 5.0, 1.0))
        |              + least((CAST(len(list_filter(toks, x -> list_contains(
        |                        ['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE)
        |                       / greatest(len(toks), 1)) * 5.0, 1.0)) / 3.0, 4) AS quality
        |FROM t ORDER BY doc_id""".stripMargin)),
    QueryDef("q15_lang_id", q15LangId, Some(
      """WITH scored AS (
        |  SELECT lang,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['der','die','das','und','nicht'], x))) AS s_de,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['the','and','of','is','a'], x))) AS s_en,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['el','la','los','que','de'], x))) AS s_es,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['le','la','les','et','est'], x))) AS s_fr,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        x -> list_contains(['的','是','了','在','我'], x))) AS s_zh
        |  FROM documents),
        |pred AS (
        |  SELECT lang,
        |    CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) AND s_de > 0 THEN 'de'
        |         WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) AND s_en > 0 THEN 'en'
        |         WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) AND s_es > 0 THEN 'es'
        |         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) AND s_fr > 0 THEN 'fr'
        |         WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) AND s_zh > 0 THEN 'zh'
        |         ELSE 'unknown' END AS predicted_lang
        |  FROM scored)
        |SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("q16_fingerprint", q16Fingerprint, Some(
      """SELECT doc_id,
        |       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("q53_tfidf_terms", q53TfidfTopTerms, Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE doc_id < 600),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |       FROM toks GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM toks),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         round(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tfidf,
        |         CAST(row_number() OVER (
        |           PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rank
        |  FROM scored)
        |SELECT doc_id, term, tfidf, rank FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),
    QueryDef("q54_pii_redact", q54PiiRedact, Some(
      """WITH injected AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 5 = 0
        |              THEN ' contact user' || doc_id || '@example.com now'
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 7 = 0
        |              THEN ' call 555-867-' ||
        |                   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 11 = 0 THEN ' node at 192.168.1.77 up'
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789 on file'
        |              ELSE '' END AS text
        |  FROM documents WHERE doc_id < 600),
        |red AS (
        |  SELECT doc_id, text,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
        |      '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS redacted
        |  FROM injected)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(text) - len(redacted) AS BIGINT) AS chars_removed,
        |  md5(redacted) AS redacted_md5
        |FROM red ORDER BY doc_id""".stripMargin)),
    QueryDef("q68_bigram_scores", q68BigramScores, Some(
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE doc_id < 600),
        |bg AS (
        |  SELECT doc_id,
        |         unnest([toks[i] || ' ' || toks[i+1]
        |                 FOR i IN range(1, len(toks))]) AS bigram
        |  FROM t),
        |uni AS (SELECT unnest(toks) AS tok FROM t),
        |uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cu FROM uni GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vocab FROM uni),
        |bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY 1),
        |scored AS (
        |  SELECT g.doc_id, ln((bc.cb + 1.0) / (uc.cu + v.vocab)) AS lp
        |  FROM bg g
        |  JOIN bc USING (bigram)
        |  JOIN uc ON uc.tok = split_part(g.bigram, ' ', 1)
        |  CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(avg(lp), 4) AS avg_lp
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QueryDef("q73_repetition_filters", q73RepetitionFilters, Some(
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd FROM t),
        |g AS (
        |  SELECT doc_id, 2 AS k,
        |         unnest([toks[i] || ' ' || toks[i+1]
        |                 FOR i IN range(1, len(toks))]) AS gram
        |  FROM t WHERE len(toks) >= 2
        |  UNION ALL
        |  SELECT doc_id, 3,
        |         unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                 FOR i IN range(1, len(toks) - 1)])
        |  FROM t WHERE len(toks) >= 3),
        |c AS (SELECT doc_id, k, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT doc_id,
        |         max(CASE WHEN k = 2 THEN c END) AS top_bi,
        |         sum(CASE WHEN k = 3 AND c >= 2 THEN c ELSE 0 END) AS dup_tri
        |  FROM c GROUP BY 1)
        |SELECT b.doc_id AS doc_id, CAST(n AS INT) AS n_tokens,
        |       CAST(nd AS DOUBLE) / n AS distinct_frac,
        |       CASE WHEN n >= 2 THEN CAST(2 * coalesce(top_bi, 0) AS DOUBLE) / n
        |            ELSE 0.0 END AS top_bigram_frac,
        |       CASE WHEN n >= 3 THEN CAST(coalesce(dup_tri, 0) AS DOUBLE) / (n - 2)
        |            ELSE 0.0 END AS dup_trigram_frac,
        |       (nd * 10 > n * 3 AND coalesce(top_bi, 0) * 20 <= n * 2
        |        AND (n < 3 OR coalesce(dup_tri, 0) * 10 <= (n - 2) * 3)) AS keep
        |FROM b LEFT JOIN m ON b.doc_id = m.doc_id
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("q84_vocab_build", q84VocabBuild, Some(
      """WITH c AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |    FROM documents)
        |  GROUP BY 1),
        |r AS (
        |  SELECT term, n,
        |         CAST(row_number() OVER (ORDER BY n DESC, term) - 1 AS BIGINT)
        |           AS token_id
        |  FROM c)
        |SELECT term, n, token_id FROM r WHERE token_id < 50
        |ORDER BY token_id""".stripMargin)),
    QueryDef("q86_quality_classifier", q86QualityClassifier, Some(
      """WITH t AS (
        |  SELECT doc_id, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |         least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS f_len,
        |         CAST(length(text)
        |              - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
        |              AS DOUBLE) / greatest(length(text), 1) AS f_punct,
        |         CAST(len(list_filter(toks, x -> list_contains(
        |             ['the','a','an','and','or','of','to','in','is','it'], x)))
        |              AS DOUBLE) / greatest(len(toks), 1) AS f_stop,
        |         CAST(len(list_distinct(toks)) AS DOUBLE)
        |           / greatest(len(toks), 1) AS f_distinct
        |  FROM t),
        |z AS (
        |  SELECT doc_id,
        |         -2.4 + 2.0 * f_len + -3.0 * f_punct
        |              + 1.5 * f_stop + 2.5 * f_distinct AS z
        |  FROM f)
        |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS score,
        |       z >= 0 AS keep
        |FROM z ORDER BY doc_id""".stripMargin)),
    QueryDef("q87_tokenize_corpus", q87TokenizeCorpus, Some(
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(toks) AS term FROM t) GROUP BY 1),
        |v AS (
        |  SELECT term, token_id FROM (
        |    SELECT term,
        |           CAST(row_number() OVER (ORDER BY n DESC, term) - 1 AS BIGINT)
        |             AS token_id
        |    FROM c) WHERE token_id < 20),
        |tk AS (
        |  SELECT doc_id, unnest(toks) AS term,
        |         generate_subscripts(toks, 1) AS pos
        |  FROM t),
        |j AS (
        |  SELECT tk.doc_id AS doc_id, tk.pos AS pos,
        |         coalesce(v.token_id, -1) AS tid,
        |         v.token_id IS NULL AS oov
        |  FROM tk LEFT JOIN v ON tk.term = v.term)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)) AS ids_md5
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QueryDef("q92_tfidf_cosine", q92TfidfCosine, Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE doc_id < 400),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM toks),
        |w AS (SELECT doc_id, term,
        |             tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0) AS w
        |      FROM tf JOIN df USING (term) CROSS JOIN n),
        |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS l2 FROM w GROUP BY 1),
        |u AS (SELECT doc_id, term, w / l2 AS nw FROM w JOIN nrm USING (doc_id))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       round(sum(a.nw * b.nw), 6) AS cos_sim
        |FROM u a JOIN u b ON a.term = b.term AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING round(sum(a.nw * b.nw), 6) >= 0.82
        |ORDER BY id_a, id_b""".stripMargin)),
    QueryDef("q92b_tfidf_capped", q92bTfidfCosineCapped, Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM toks),
        |w AS (SELECT doc_id, term, df,
        |             tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0) AS w
        |      FROM tf JOIN df USING (term) CROSS JOIN n),
        |-- norms over the FULL vocabulary; only the INDEX is df-capped,
        |-- so each surviving score is a lower bound of the true cosine
        |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS l2 FROM w GROUP BY 1),
        |u AS (SELECT doc_id, term, w / l2 AS nw FROM w JOIN nrm USING (doc_id)
        |      WHERE df <= (SELECT count(*) // 2 FROM documents))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       round(sum(a.nw * b.nw), 6) AS cos_sim
        |FROM u a JOIN u b ON a.term = b.term AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING round(sum(a.nw * b.nw), 6) >= 0.05
        |ORDER BY id_a, id_b""".stripMargin)),
    // gate (exact logit SQL) -> contamination WITHOUT self-exclusion
    // (a benchmark doc in the corpus must drop) -> one survivor per
    // fingerprint -> content-derived aggregate (winner-independent,
    // so the stream's arrival-order dedup hashes identically)
    QueryDef("q108_stream_curate", q108StreamCurate, Some(
      """WITH t AS (
        |  SELECT doc_id, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |z AS (
        |  SELECT doc_id, text, toks,
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
        |gated AS (SELECT * FROM z WHERE z >= 0),
        |bench AS (
        |  SELECT DISTINCT unnest(list_distinct(
        |           [list_aggregate(toks[i:i+4], 'string_agg', ' ')
        |            FOR i IN range(1, greatest(len(toks) - 4, 1) + 1)])) AS s
        |  FROM t WHERE doc_id % 50 = 0),
        |gsh AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(
        |           [list_aggregate(toks[i:i+4], 'string_agg', ' ')
        |            FOR i IN range(1, greatest(len(toks) - 4, 1) + 1)])) AS s
        |  FROM gated),
        |contam AS (SELECT DISTINCT doc_id FROM gsh JOIN bench USING (s)),
        |clean AS (SELECT g.* FROM gated g
        |          WHERE NOT EXISTS (SELECT 1 FROM contam c
        |                            WHERE c.doc_id = g.doc_id)),
        |ded AS (
        |  SELECT any_value(len(toks)) AS n_tokens, any_value(z) AS z
        |  FROM clean
        |  GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       round(sum(z), 4) AS sum_z
        |FROM ded""".stripMargin), streaming = true),
    QueryDef("q116_cross_entropy", q116CrossEntropy, Some(
      (crossEntropyScoreSql +
        """,
          |ranked AS (
          |  SELECT doc_id, n_bigrams, cross_entropy,
          |         ntile(3) OVER (ORDER BY cross_entropy, doc_id) AS t
          |  FROM scored)
          |SELECT doc_id, n_bigrams, cross_entropy,
          |       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
          |              ELSE 'tail' END AS bucket
          |FROM ranked ORDER BY doc_id""".stripMargin))),
    // q116's oracle verbatim: the KLL-bucketed two-phase rank must
    // reproduce the exact global ntile
    QueryDef("q116c_tertiles_scale", q116cCrossEntropyTertilesScale, Some(
      (crossEntropyScoreSql +
        """,
          |ranked AS (
          |  SELECT doc_id, n_bigrams, cross_entropy,
          |         ntile(3) OVER (ORDER BY cross_entropy, doc_id) AS t
          |  FROM scored)
          |SELECT doc_id, n_bigrams, cross_entropy,
          |       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
          |              ELSE 'tail' END AS bucket
          |FROM ranked ORDER BY doc_id""".stripMargin))),
    QueryDef("q116b_cross_entropy_hashed", q116bCrossEntropyHashed, Some(
      (crossEntropyScoreSql +
        """
          |SELECT doc_id, n_bigrams, cross_entropy
          |FROM scored ORDER BY doc_id""".stripMargin))),
    QueryDef("q117_clean_segments", q117CleanSegments, Some(
      """WITH s AS (
        |  SELECT doc_id,
        |         [trim(x) FOR x IN regexp_split_to_array(text, '\bline\b')
        |          IF length(trim(x)) > 0] AS segs
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, segs,
        |         [x FOR x IN segs IF
        |            len(regexp_split_to_array(lower(x), '\s+')) >= 5
        |            AND list_has_any(
        |              regexp_split_to_array(lower(x), '\s+'),
        |              ['the','a','an','and','or','of','to','in','is','it'])
        |            AND NOT list_has_any(
        |              regexp_split_to_array(lower(x), '\s+'), ['slow'])] AS kept
        |  FROM s)
        |SELECT doc_id, CAST(len(segs) AS INT) AS n_segments,
        |       CAST(len(kept) AS INT) AS n_kept,
        |       array_to_string(kept, ' ') AS clean_text
        |FROM k WHERE len(kept) >= 1 ORDER BY doc_id""".stripMargin)),
    QueryDef("q119_bpe_merges", q119BpeMerges, Some(bpeMergesSql)),
    QueryDef("q120_bpe_apply", q120BpeApply, Some(bpeApplySql)),
    QueryDef("q122_gopher_rules", q122GopherRules, Some(
      """WITH t AS (
        |  SELECT doc_id, text,
        |         regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |         len(toks) AS n,
        |         list_sum([length(x) FOR x IN toks]) * 1.0 /
        |           greatest(len(toks), 1) AS meanlen,
        |         len(regexp_extract_all(text, '#|\.\.\.')) * 1.0 AS symbols,
        |         len([x FOR x IN toks IF regexp_matches(x, '[A-Za-z]')]) * 1.0 /
        |           greatest(len(toks), 1) AS alphafrac,
        |         len(list_intersect(
        |           list_distinct([lower(x) FOR x IN toks]),
        |           ['the','a','an','and','or','of','to','in','is','it']))
        |           AS nstops
        |  FROM t)
        |SELECT doc_id,
        |       n >= 40 AND n <= 70 AS words_in_range,
        |       meanlen >= 4.0 AND meanlen <= 4.6 AS mean_word_len_in_range,
        |       symbols / greatest(n, 1) <= 0.1 AS symbol_ratio_ok,
        |       alphafrac >= 0.8 AS alpha_word_frac_ok,
        |       nstops >= 2 AS enough_stopwords,
        |       (n >= 40 AND n <= 70) AND (meanlen >= 4.0 AND meanlen <= 4.6)
        |         AND (symbols / greatest(n, 1) <= 0.1) AND (alphafrac >= 0.8)
        |         AND (nstops >= 2) AS pass
        |FROM m ORDER BY doc_id""".stripMargin)),
    QueryDef("q125_unicode_normalize", q125UnicodeNormalize, Some(
      """WITH d AS (
        |  SELECT doc_id, text || ' ' || CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN 'cafe' || chr(769) || ' nin' || chr(771) || 'o SPARK'
        |    WHEN 1 THEN 'café niño Façade'
        |    WHEN 2 THEN 'Ünïcode ølsen ß'
        |    ELSE '  plain   ASCII  ' END AS s
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(length(s) AS INT) AS raw_len,
        |       CAST(length(nfc_normalize(s)) AS INT) AS nfc_len,
        |       md5(nfc_normalize(s)) AS nfc_md5,
        |       trim(regexp_replace(strip_accents(lower(s)), '\s+', ' ', 'g'))
        |         AS folded_text
        |FROM d ORDER BY doc_id""".stripMargin)),
    QueryDef("q126_train_classifier", q126TrainClassifier, Some(classifierOracle("weights"))),
    QueryDef("q126b_classifier_scores", q126bClassifierScores, Some(classifierOracle("scores"))),
    QueryDef("q127_tokenizer_fertility", q127TokenizerFertility,
      Some(bpeMergesOracle("fertility"))),
    QueryDef("q130_corpus_datasheet", q130CorpusDatasheet, Some(
      """WITH t AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS toks,
        |         md5(text) AS fp
        |  FROM documents),
        |b AS (SELECT doc_id, lang, len(toks) AS n, fp FROM t),
        |m AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n) AS BIGINT) AS n_tokens,
        |         round(quantile_cont(n, 0.5), 4) AS p50_tokens,
        |         round(quantile_cont(n, 0.9), 4) AS p90_tokens
        |  FROM b GROUP BY 1),
        |fpc AS (SELECT lang, fp, count(*) AS c FROM b GROUP BY 1, 2),
        |d AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_distinct_texts,
        |         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
        |           AS n_dup_docs
        |  FROM fpc GROUP BY 1),
        |v AS (
        |  SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size
        |  FROM (SELECT lang, unnest(toks) AS tok FROM t) GROUP BY 1)
        |SELECT m.lang, n_docs, n_tokens, p50_tokens, p90_tokens,
        |       n_distinct_texts, n_dup_docs, vocab_size
        |FROM m JOIN d USING (lang) JOIN v USING (lang)
        |ORDER BY lang""".stripMargin)),
    QueryDef("q131_stream_classifier", q131StreamClassifier,
      Some(classifierOracle("scores")), streaming = true),
    QueryDef("q132_retrain_stream", q132RetrainStream,
      Some(classifierOracle("weights")), streaming = true),
    QueryDef("q136_bm25_search", q136Bm25Search, Some((bm25OracleCtes +
      """
        |SELECT query_id, rank, doc_id, score FROM rk
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin))),
    // q142/q142b share one oracle: expression form and broadcast-join
    // form must be hash-indistinguishable.
    QueryDef("q142_blocklist_screen", q142BlocklistScreen, Some(blocklistSql)),
    QueryDef("q142b_blocklist_join", q142bBlocklistJoin, Some(blocklistSql)),
    QueryDef("q149_phrase_blocklist", q149PhraseBlocklist, Some(
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(toks) AS tok,
        |             generate_subscripts(toks, 1) AS i FROM d),
        |b AS (SELECT doc_id, tok,
        |             lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
        |      FROM t),
        |hits AS (
        |  SELECT doc_id, tok AS hit FROM t WHERE tok IN ('scan')
        |  UNION ALL
        |  SELECT doc_id, tok || ' ' || nxt AS hit FROM b
        |  WHERE nxt IS NOT NULL
        |    AND (tok || ' ' || nxt) IN ('hash join', 'slow merge')),
        |agg AS (SELECT doc_id, count(*) AS n_hits,
        |               count(DISTINCT hit) AS n_terms FROM hits GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(coalesce(agg.n_hits, 0) AS BIGINT) AS n_hits,
        |       CAST(coalesce(agg.n_terms, 0) AS BIGINT) AS n_terms,
        |       coalesce(agg.n_hits, 0) < 4 AS keep
        |FROM d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin)),
    QueryDef("q145_html_extract", q145HtmlExtract, Some(htmlExtractOracle)),
    QueryDef("q146_token_drift", q146TokenDrift, Some(tokenDriftOracle)),
    // the streaming monitor's final published report is bit-identical
    // to the batch path — same oracle
    QueryDef("q146b_drift_stream", q146bDriftStream, Some(tokenDriftOracle), streaming = true),
    QueryDef("q147_web_funnel", q147WebFunnel, Some(webFunnelOracle)),
    // the streamed funnel's final published report is the full-corpus
    // report — same oracle
    QueryDef("q147b_funnel_stream", q147bFunnelStream, Some(webFunnelOracle), streaming = true),
    QueryDef("q152_funnel_audit", q152FunnelAudit, Some(funnelAuditOracle)),
    // both BM25 passes + the integer expansion replayed: feedback
    // docs from pass-1 ranks, new-term counts with an anti-join
    // against the original terms, the df≤N/2 guard, (cnt desc, term)
    // top-3, then the second chain over q ∪ expansion
    QueryDef("q157_prf_search", q157PrfSearch, Some((bm25OracleCtes +
      s""",
         |fb AS (SELECT query_id, doc_id FROM rk WHERE rank <= 5),
         |cand AS (
         |  SELECT f.query_id, tk.term, CAST(count(*) AS BIGINT) AS cnt
         |  FROM fb f
         |  JOIN (SELECT doc_id, unnest(t) AS term FROM tok) tk
         |    USING (doc_id)
         |  LEFT JOIN q qq ON qq.query_id = f.query_id AND qq.term = tk.term
         |  WHERE qq.term IS NULL
         |  GROUP BY 1, 2),
         |cdf AS (
         |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df2
         |  FROM (SELECT doc_id, unnest(t) AS term FROM tok)
         |  WHERE term IN (SELECT DISTINCT term FROM cand) GROUP BY 1),
         |exp AS (
         |  SELECT query_id, term FROM (
         |    SELECT c.query_id, c.term,
         |           row_number() OVER (PARTITION BY c.query_id
         |                              ORDER BY c.cnt DESC, c.term) AS r
         |    FROM cand c JOIN cdf ON cdf.term = c.term CROSS JOIN st
         |    WHERE 2 * cdf.df2 <= st.n)
         |  WHERE r <= 3),
         |q2 AS (SELECT query_id, term FROM q
         |       UNION SELECT query_id, term FROM exp),
         |${bm25PassSql("q2", "p2")}
         |SELECT query_id, rank, doc_id, score FROM p2rk
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin))),
    // entropy terms round to 6 dp and sum as DECIMAL (the q158
    // order-free discipline); only ln(n) − Σ/n is floating, at 4 dp
    QueryDef("q164_lexical_diversity", q164LexicalDiversity, Some(
      """WITH t AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY 1, 2),
        |a AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |         CAST(count(*) AS BIGINT) AS n_types,
        |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_hapax,
        |         sum(CAST(round(c * ln(c), 6) AS DECIMAL(18,6))) AS clnc
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens, n_types, n_hapax,
        |       round(n_types / CAST(n_tokens AS DOUBLE), 4) AS ttr,
        |       round(n_hapax / CAST(n_types AS DOUBLE), 4) AS hapax_ratio,
        |       round(ln(CAST(n_tokens AS DOUBLE))
        |             - CAST(clnc AS DOUBLE) / n_tokens, 4) AS token_entropy
        |FROM a ORDER BY doc_id""".stripMargin)),
    QueryDef("q165_ngram_novelty", q165NgramNovelty, Some(noveltySql)),
    QueryDef("q165b_novelty_hashed", q165bNoveltyHashed, Some(noveltySql)),
    QueryDef("q176_calibration", q176Calibration, Some(classifierOracle("calibration"))),
    QueryDef("q185_zipf_fit", q185ZipfFit, Some(zipfFitSql)),
    QueryDef("q185b_zipf_stream", q185bZipfStream, Some(zipfFitSql), streaming = true),
    QueryDef("q189_threshold_yield", q189ThresholdYield, Some(classifierOracle("yield"))),
    QueryDef("q192_heaps_fit", q192HeapsFit, Some(
      """WITH ids AS (
        |  SELECT min(doc_id) AS lo, max(doc_id) - min(doc_id) + 1 AS span
        |  FROM documents),
        |b AS (
        |  SELECT d.doc_id, d.text,
        |         CAST(((d.doc_id - i.lo) * 16) // i.span AS INT) AS bk
        |  FROM documents d CROSS JOIN ids i),
        |tok AS (
        |  SELECT bk,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |           AS tok
        |  FROM b),
        |db AS (SELECT bk, CAST(count(*) AS BIGINT) AS n_docs
        |       FROM b GROUP BY 1),
        |tb AS (SELECT bk, CAST(count(*) AS BIGINT) AS n_toks
        |       FROM tok GROUP BY 1),
        |vf AS (SELECT tok, min(bk) AS fb FROM tok GROUP BY 1),
        |vb AS (SELECT fb AS bk, CAST(count(*) AS BIGINT) AS n_new
        |       FROM vf GROUP BY 1),
        |cum AS (
        |  SELECT db.bk AS checkpoint,
        |         sum(db.n_docs) OVER (ORDER BY db.bk) AS docs_cum,
        |         sum(COALESCE(tb.n_toks, 0)) OVER (ORDER BY db.bk)
        |           AS tokens_cum,
        |         sum(COALESCE(vb.n_new, 0)) OVER (ORDER BY db.bk)
        |           AS vocab_cum
        |  FROM db LEFT JOIN tb ON tb.bk = db.bk
        |          LEFT JOIN vb ON vb.bk = db.bk),
        |xy AS (
        |  SELECT round(ln(CAST(tokens_cum AS DOUBLE)), 6) AS x,
        |         round(ln(CAST(vocab_cum AS DOUBLE)), 6) AS y
        |  FROM cum),
        |sm AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nn,
        |         CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(round(x * y, 6) AS DECIMAL(18,6)))
        |           AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(round(x * x, 6) AS DECIMAL(18,6)))
        |           AS DOUBLE) AS sxx
        |  FROM xy),
        |fit AS (
        |  SELECT round((nn * sxy - sx * sy) / (nn * sxx - sx * sx), 4)
        |           AS beta,
        |         round((sy - ((nn * sxy - sx * sy)
        |                      / (nn * sxx - sx * sx)) * sx) / nn, 4)
        |           AS ln_k
        |  FROM sm)
        |SELECT c.checkpoint, CAST(c.docs_cum AS BIGINT) AS docs_cum,
        |       CAST(c.tokens_cum AS BIGINT) AS tokens_cum,
        |       CAST(c.vocab_cum AS BIGINT) AS vocab_cum,
        |       f.beta, f.ln_k
        |FROM cum c CROSS JOIN fit f
        |ORDER BY c.checkpoint""".stripMargin)),
    QueryDef("q199_tokenizer_compare", q199TokenizerCompare, Some(unigramOracle("compare"))),
    // q204 serves the SAME retrieval from the stream-maintained
    // inverted index — index-served ≡ from-text, one oracle
    QueryDef("q204_stream_bm25_index", q204StreamBm25Index, Some((bm25OracleCtes +
      """
        |SELECT query_id, rank, doc_id, score FROM rk
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)), streaming = true),
    // q212: the soundex chain itself (translate + RE2-safe collapse),
    // the planted twins, and the block/verify joins all replayed
    QueryDef("q212_phonetic_er", q212PhoneticEr, Some(phoneticErSql)),
    // q213: spans derived from the chunking CLOSED FORM (turn i covers
    // [7i, min(7(i+1), n))) — the Spark window is pinned to the spec
    QueryDef("q213_chat_mask", q213ChatMask, Some(
      """WITH d AS (
        |  SELECT doc_id AS conv_id,
        |         len(regexp_split_to_array(trim(text), '\s+')) AS n
        |  FROM documents),
        |t AS (
        |  SELECT conv_id, n,
        |         unnest(generate_series(0, (n + 6) // 7 - 1)) AS turn_idx
        |  FROM d)
        |SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
        |       CASE WHEN turn_idx % 2 = 0 THEN 'user'
        |            ELSE 'assistant' END AS role,
        |       CAST(least((turn_idx + 1) * 7, n) - turn_idx * 7 AS BIGINT)
        |         AS n_toks,
        |       CAST(turn_idx * 7 AS BIGINT) AS tok_start,
        |       CAST(least((turn_idx + 1) * 7, n) AS BIGINT) AS tok_end,
        |       (turn_idx % 2 = 1) AS in_loss
        |FROM t ORDER BY conv_id, turn_idx""".stripMargin)),
    // q213b: the rendered template re-serialized with an ordered
    // string_agg, digested
    QueryDef("q213b_chat_render", q213bChatRender, Some(
      """WITH d AS (
        |  SELECT doc_id AS conv_id,
        |         regexp_split_to_array(trim(text), '\s+') AS toks,
        |         len(regexp_split_to_array(trim(text), '\s+')) AS n
        |  FROM documents),
        |t AS (
        |  SELECT conv_id, n, toks,
        |         unnest(generate_series(0, (n + 6) // 7 - 1)) AS i
        |  FROM d),
        |c AS (
        |  SELECT conv_id, n, i,
        |         CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |         array_to_string(toks[i * 7 + 1 : least((i + 1) * 7, n)], ' ')
        |           AS content
        |  FROM t)
        |SELECT conv_id,
        |       CAST(count(*) AS BIGINT) AS n_turns,
        |       CAST(max(n) AS BIGINT) AS total_toks,
        |       md5(string_agg('<|' || role || '|>' || content || '<|eot|>',
        |                      '' ORDER BY i)) AS render_md5
        |FROM c GROUP BY conv_id ORDER BY conv_id""".stripMargin)),
    // q214: score, ordered argmax/argmin with id ties, margin and
    // singleton filters — the whole pair assembly replayed
    QueryDef("q214_preference_pairs", q214PreferencePairs, Some(
      """WITH s AS (
        |  SELECT lang,
        |         len(regexp_split_to_array(trim(text), '\s+')) // 40
        |           AS len_bucket,
        |         doc_id,
        |         len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |           * 1000000
        |           // len(regexp_split_to_array(trim(text), '\s+')) AS ttr_ppm
        |  FROM documents),
        |r AS (
        |  SELECT s.*,
        |         row_number() OVER (PARTITION BY lang, len_bucket
        |                            ORDER BY ttr_ppm DESC, doc_id) AS rb,
        |         row_number() OVER (PARTITION BY lang, len_bucket
        |                            ORDER BY ttr_ppm ASC, doc_id) AS rw,
        |         count(*) OVER (PARTITION BY lang, len_bucket) AS nc
        |  FROM s)
        |SELECT b.lang, CAST(b.len_bucket AS BIGINT) AS len_bucket,
        |       b.doc_id AS chosen_id, CAST(b.ttr_ppm AS BIGINT) AS chosen_score,
        |       w.doc_id AS rejected_id, CAST(w.ttr_ppm AS BIGINT) AS rejected_score,
        |       CAST(b.ttr_ppm - w.ttr_ppm AS BIGINT) AS margin,
        |       CAST(b.nc AS BIGINT) AS n_candidates
        |FROM r b JOIN r w
        |  ON b.lang = w.lang AND b.len_bucket = w.len_bucket
        | AND b.rb = 1 AND w.rw = 1
        |WHERE b.nc >= 2 AND b.ttr_ppm > w.ttr_ppm
        |ORDER BY b.lang, b.len_bucket""".stripMargin)),
    // q216: both corrupted strings and every count rebuilt — the
    // md5 coin, sentinel ordinals, and ordered folds all replayed
    QueryDef("q216_span_corrupt", q216SpanCorrupt, Some(
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |         len(regexp_split_to_array(trim(text), '\s+')) AS n
        |  FROM documents),
        |bl AS (
        |  SELECT doc_id, t, n,
        |         unnest(generate_series(0, (n + 4) // 5 - 1)) AS b
        |  FROM d),
        |c AS (
        |  SELECT doc_id, t, b,
        |         least(n - b * 5, 5) AS block_len,
        |         substr(md5(CAST(doc_id AS VARCHAR) || '#'
        |                    || CAST(b AS VARCHAR)), 1, 2) < '28' AS corrupt
        |  FROM bl),
        |kk AS (
        |  SELECT *, sum(CASE WHEN corrupt THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY doc_id ORDER BY b) - 1 AS k
        |  FROM c),
        |p AS (
        |  SELECT doc_id, b, corrupt, block_len, k,
        |         CASE WHEN corrupt
        |              THEN array_to_string(t[b*5+1 : b*5+3], ' ')
        |              ELSE '' END AS removed,
        |         CASE WHEN corrupt
        |              THEN array_to_string(t[b*5+4 : b*5+5], ' ')
        |              ELSE array_to_string(t[b*5+1 : b*5+5], ' ')
        |              END AS rest
        |  FROM kk),
        |q AS (
        |  SELECT doc_id, b, corrupt, block_len,
        |         CASE WHEN corrupt
        |              THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
        |                   || CASE WHEN length(rest) > 0
        |                           THEN ' ' || rest ELSE '' END
        |              ELSE rest END AS in_piece,
        |         CASE WHEN corrupt
        |              THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || removed
        |              END AS tgt_piece
        |  FROM p)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_blocks,
        |       CAST(sum(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_corrupt_blocks,
        |       CAST(sum(CASE WHEN corrupt THEN least(block_len, 3)
        |                ELSE 0 END) AS BIGINT) AS n_corrupt_toks,
        |       md5(string_agg(in_piece, ' ' ORDER BY b)) AS input_md5,
        |       md5(coalesce(string_agg(tgt_piece, ' ' ORDER BY b), ''))
        |         AS target_md5
        |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // q217: the 12-bit hashes rebuilt digit-by-digit, both offsets,
    // and the full PSM byte string
    QueryDef("q217_fim_transform", q217FimTransform, Some(
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |           AS n
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, t, n,
        |         ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '#a'), 1, 1)) - 1) * 256
        |            + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '#a'), 2, 1)) - 1) * 16
        |            + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '#a'), 3, 1)) - 1)) AS ha,
        |         ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '#b'), 1, 1)) - 1) * 256
        |            + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '#b'), 2, 1)) - 1) * 16
        |            + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '#b'), 3, 1)) - 1)) AS hb
        |  FROM d),
        |s AS (
        |  SELECT *, CASE WHEN n >= 3 THEN 1 + ha % (n - 2) END AS a FROM h),
        |s2 AS (
        |  SELECT *, CASE WHEN n >= 3 THEN a + 1 + hb % (n - a - 1) END AS b
        |  FROM s)
        |SELECT doc_id, n AS n_toks, n >= 3 AS fim_applied,
        |       CAST(a AS BIGINT) AS split_a, CAST(b AS BIGINT) AS split_b,
        |       md5(CASE WHEN n >= 3
        |            THEN '<PRE> ' || array_to_string(t[1 : CAST(a AS INT)], ' ')
        |                 || ' <SUF> '
        |                 || array_to_string(t[CAST(b + 1 AS INT) : CAST(n AS INT)], ' ')
        |                 || ' <MID> '
        |                 || array_to_string(t[CAST(a + 1 AS INT) : CAST(b AS INT)], ' ')
        |            ELSE array_to_string(t, ' ') END) AS psm_md5
        |FROM s2 ORDER BY doc_id""".stripMargin)),
    QueryDef("q196_unigram_vocab", q196UnigramVocab, Some(unigramOracle("vocab"))),
    QueryDef("q197_unigram_fertility", q197UnigramFertility, Some(unigramOracle("fertility"))),
    // retriever + qrel rule + metrics replayed: relevance = doc holds
    // ≥2 distinct query terms; DCG terms rounded then DECIMAL-summed
    // (order-free) exactly as the engine computes them
    QueryDef("q158_retrieval_eval", q158RetrievalEval, Some((bm25OracleCtes +
      """,
        |dtk AS (
        |  SELECT doc_id,
        |         list_distinct(regexp_split_to_array(trim(text), '\s+')) AS dt
        |  FROM documents),
        |qr0 AS (
        |  SELECT q.query_id, dtk.doc_id, count(*) AS hits
        |  FROM q JOIN dtk ON list_contains(dtk.dt, q.term) GROUP BY 1, 2),
        |qr AS (SELECT query_id, doc_id FROM qr0 WHERE hits >= 2),
        |nr AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
        |       FROM qr GROUP BY 1),
        |top AS (
        |  SELECT r.query_id, r.rank, (qr.doc_id IS NOT NULL) AS rel
        |  FROM rk r LEFT JOIN qr
        |    ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id
        |  WHERE r.rank <= 10),
        |pq AS (
        |  SELECT query_id,
        |         CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT)
        |           AS rel_in_topk,
        |         min(CASE WHEN rel THEN rank END) AS frr,
        |         sum(CASE WHEN rel THEN
        |               CAST(round(1.0 / (ln(rank + 1.0) / ln(2.0)), 6)
        |                    AS DECIMAL(18,6)) END) AS dcg
        |  FROM top GROUP BY 1),
        |id0 AS (SELECT query_id, unnest(range(1, least(n_rel, 10) + 1)) AS r
        |        FROM nr WHERE n_rel >= 1),
        |idl AS (SELECT query_id,
        |               sum(CAST(round(1.0 / (ln(r + 1.0) / ln(2.0)), 6)
        |                        AS DECIMAL(18,6))) AS idcg
        |        FROM id0 GROUP BY 1)
        |SELECT nr.query_id, nr.n_rel,
        |       coalesce(pq.rel_in_topk, 0) AS rel_in_topk,
        |       round(coalesce(pq.rel_in_topk, 0)
        |             / CAST(nr.n_rel AS DOUBLE), 6) AS recall_at_k,
        |       round(coalesce(1.0 / pq.frr, 0.0), 6) AS mrr,
        |       round(coalesce(CAST(pq.dcg AS DOUBLE)
        |             / CAST(idl.idcg AS DOUBLE), 0.0), 6) AS ndcg
        |FROM nr LEFT JOIN pq USING (query_id) LEFT JOIN idl USING (query_id)
        |ORDER BY nr.query_id""".stripMargin)))
  )
}
