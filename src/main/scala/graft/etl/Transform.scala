package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Silver-layer transforms: typed projection, schema enforcement with a
  * DLQ side-channel, and latest-record deduplication.
  *
  * Re-expresses the reference's transform job
  * (ref: glue/data_transform_s3.py) Spark-first. The reference validates
  * schemas with a driver-side `collect()` loop
  * (ref: glue/data_transform_s3.py:72-108) — an O(rows) driver-memory
  * anti-pattern. Here the split is a single distributed pass: two
  * complementary filters over one scan, so Catalyst can push the
  * validity predicate down and nothing ever leaves the executors.
  */
object Transform {

  /** O-08: select + rename + cast projection
    * (ref: glue/data_transform_s3.py:113-126).
    * spec entries are (srcCol, dstCol, dataType).
    */
  def castProjection(df: DataFrame, spec: Seq[(String, String, DataType)]): DataFrame =
    df.select(spec.map { case (src, dst, dt) => col(src).cast(dt).as(dst) }: _*)

  private def validityPredicate(required: Seq[String]): Column =
    required.map(col(_).isNotNull).reduce(_ && _)

  /** Names of required fields that are null on this row, comma-joined
    * (ref: glue/data_transform_s3.py:91 `", ".join(missing_fields)`).
    * `concat_ws` drops the nulls produced by non-matching `when`s.
    */
  private def missingFields(required: Seq[String]): Column =
    concat_ws(", ", required.map(c => when(col(c).isNull, lit(c))): _*)

  /** O-07: distributed schema-enforcement split. Valid rows pass through
    * unchanged; invalid rows become DLQ records
    * `{raw_data, error_reason, timestamp, validation_type}`
    * (ref: glue/data_transform_s3.py:89-94). Zero collects: each side
    * is a filter that evaluates and writes on the executors. Nothing is
    * cached here, so each side that runs an action scans `df` itself;
    * a caller that consumes both sides, or one side more than once,
    * materializes what it reuses (as `Medallion.run` does with the
    * deduped valid side).
    */
  def schemaSplit(
      df: DataFrame,
      required: Seq[String],
      validationType: String = "schema_enforcement"): (DataFrame, DataFrame) = {
    val ok = validityPredicate(required)
    val valid = df.filter(ok)
    val invalid = df.filter(!ok).select(
      to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("raw_data"),
      concat(lit("Missing required fields: "), missingFields(required)).as("error_reason"),
      current_timestamp().as("timestamp"),
      lit(validationType).as("validation_type"))
    (valid, invalid)
  }

  /** Same validity logic as [[schemaSplit]] but annotating rows in place
    * (deterministic — no `current_timestamp`), for oracle-checked
    * queries and for row-level DQ routing.
    */
  def withValidity(df: DataFrame, required: Seq[String]): DataFrame = {
    val ok = validityPredicate(required)
    df.withColumn("is_valid", ok)
      .withColumn(
        "error_reason",
        when(ok, lit("")).otherwise(
          concat(lit("Missing required fields: "), missingFields(required))))
  }

  /** O-28: keep-latest dedup via a ranking window
    * (ref: glue/data_transform_s3.py:133-136). Callers must pass a
    * deterministic total order in `orderCols` (e.g. ts desc then a
    * unique id) — `row_number` over ties is otherwise nondeterministic
    * (SURVEY.md §7.4.2). The window shuffles once on `partitionCols`;
    * at scale, skewed keys should be salted upstream or handled by AQE.
    */
  def dedupLatest(df: DataFrame, partitionCols: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Keep-latest dedup as a two-phase AGGREGATION instead of a ranking
    * window: `max_by(payload, orderKey)` per key. Same result as
    * [[dedupLatest]] given the same total order, but partial-aggregates
    * map-side before the shuffle — at 100 TB this moves one full sort +
    * exchange of every row down to an exchange of one row per key, and
    * skewed keys combine locally instead of serializing through a
    * single window partition. Prefer this form when the payload is
    * narrow; prefer the window when rank > 1 is also needed.
    */
  def dedupLatestAgg(df: DataFrame, partitionCols: Seq[String], maxKeyCols: Seq[Column]): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    // lexicographic max over plain value columns (no SortOrder here —
    // "latest" = the row whose (ts, tiebreak...) struct is greatest)
    val orderKey = struct(maxKeyCols: _*)
    df.groupBy(partitionCols.map(col): _*)
      .agg(max_by(payload, orderKey).as("__latest"))
      .select(col("__latest.*"))
  }

  /** CDC changelog apply: materialize the current snapshot from a base
    * table plus a stream of keyed change records (op ∈ {I, U, D},
    * monotone `seqCol` per key). Semantics: the change with the highest
    * sequence per key wins — I/U replace the row, D removes it; keys
    * untouched by the changelog keep their base row. The base rides
    * along as a rank-0 sentinel (any change outranks it — no NULL/−∞
    * sequence games), so the whole merge is ONE keep-latest
    * aggregation — the same map-side-combining `max_by` shape as
    * [[dedupLatestAgg]], one keyed shuffle, no join. This is the
    * table-maintenance kernel behind MERGE INTO / upsert-delete
    * ingestion at any scale.
    *
    * `base` and `changes` must share the payload schema (key columns +
    * value columns); `changes` additionally carries `seqCol` and
    * `opCol`. Ties on seq break by op string descending (U > I > D) —
    * deterministic, and documented rather than clever: feed unique
    * sequence numbers if you care which of two same-seq writes wins.
    */
  def applyChangelog(
      base: DataFrame,
      changes: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      opCol: String): DataFrame = {
    val payload = base.columns.toIndexedSeq
    // the merge mints __rank/__op working columns and overlays seqCol/
    // opCol onto the base — a payload column with any of those names
    // would be silently clobbered, so refuse it loudly
    require(!payload.exists(Set("__rank", "__op", seqCol, opCol)),
      s"base payload columns must not include __rank, __op, $seqCol, $opCol")
    val seqType = changes.schema(seqCol).dataType
    val all = base
      .withColumn("__rank", lit(0))
      .withColumn(seqCol, lit(null).cast(seqType))
      .withColumn(opCol, lit("B"))
      .unionByName(changes
        .select((payload :+ seqCol :+ opCol).map(col): _*)
        .withColumn("__rank", lit(1)))
    all.groupBy(keyCols.map(col): _*)
      .agg(max_by(
        struct(payload.map(col) :+ col(opCol).as("__op"): _*),
        struct(col("__rank"), col(seqCol), col(opCol))).as("__latest"))
      .select(col("__latest.*"))
      .filter(col("__op") =!= "D")
      .drop("__op")
  }

  /** O-09: metadata columns (ref: glue/data_transform_s3.py:127-128)
    * with an injectable "now" for deterministic tests (SURVEY.md §7.4.1).
    */
  def withMetadata(df: DataFrame, now: Option[java.time.Instant] = None): DataFrame =
    now match {
      case Some(ts) =>
        df.withColumn("update_date", to_date(lit(ts.toString)))
          .withColumn("last_updated_ts", to_timestamp(lit(ts.toString)))
      case None =>
        df.withColumn("update_date", current_date())
          .withColumn("last_updated_ts", current_timestamp())
    }

  /** Materialized-view maintenance for ALGEBRAIC aggregates: merge
    * partial aggregate states (per-key counts/sums) from a base view
    * and one or more delta batches into the state a full recompute
    * would produce — the incremental-refresh property that lets a
    * 100 TB rollup absorb an hourly delta with delta-sized work
    * instead of a full rescan. Sound exactly because counts and sums
    * are commutative monoids (avg/stddev derive from them at read
    * time); non-algebraic measures (distinct, median) need sketches
    * (q32/q66's HLL/KLL lifecycles) instead.
    *
    * One union + one keyed aggregation; with the base state already
    * keyed, the shuffle is delta-dominated under AQE.
    */
  def mergeAggStates(
      states: Seq[DataFrame], keyCols: Seq[String],
      measureCols: Seq[String]): DataFrame = {
    require(states.nonEmpty, "need at least one state")
    require(measureCols.nonEmpty, "need at least one measure")
    val aggs = measureCols.map(c => sum(col(c)).as(c))
    states.reduce(_.unionByName(_))
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}
