package graft.gold

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gold-layer star schema: fact/dim builders, partition-level upsert,
  * dim merges and the star-join query surface
  * (ref: glue/data_aggregate_gold.py).
  *
  * Scale posture: dims are broadcast (≤ thousands of rows), the fact
  * side never collects. The reference's `collect()`-of-dates + `isin`
  * upsert (ref: glue/data_aggregate_gold.py:79-83) is replaced by a
  * left-anti join (O-42) that stays distributed at any key cardinality;
  * its union+distinct dim merge (ref :122,174) becomes
  * `dropDuplicates(keys)` so the shuffle dedups on the key only (§4.3.4).
  */
object Star {

  /** O-16..O-24: dim_date derivations
    * (ref: glue/data_aggregate_gold.py:144-164). `dayofweek` keeps
    * Spark/Glue's 1=Sunday convention; is_weekend = day_of_week ∈ {1,7}.
    */
  def dimDate(df: DataFrame, dateCol: String): DataFrame = {
    val d = col("date")
    df.select(col(dateCol).cast("date").as("date")).distinct()
      .withColumn("year", year(d))
      .withColumn("month", month(d))
      .withColumn("day", dayofmonth(d))
      .withColumn("quarter", quarter(d))
      .withColumn("day_of_week", dayofweek(d))
      .withColumn("week_of_year", weekofyear(d))
      .withColumn("month_name", date_format(d, "MMMM"))
      .withColumn("day_name", date_format(d, "EEEE"))
      .withColumn("is_weekend",
        when(dayofweek(d).isin(1, 7), lit(true)).otherwise(lit(false)))
  }

  /** O-42/O-45: partition-level upsert — delete existing rows whose key
    * appears in the incoming batch, then union the batch. Left-anti
    * join against the DISTINCT incoming keys instead of the reference's
    * collect+isin; scales past driver memory. No broadcast hint: for
    * partition-valued keys AQE broadcasts the tiny key set by itself,
    * while a forced hint would OOM the driver if a caller upserts on a
    * high-cardinality key.
    */
  def upsert(existing: DataFrame, incoming: DataFrame, keyCols: Seq[String]): DataFrame = {
    val keys = incoming.select(keyCols.map(col): _*).distinct()
    existing.join(keys, keyCols, "left_anti").unionByName(incoming)
  }

  /** O-43/O-46: dim dedupe-merge. Keyed `dropDuplicates` keeps the
    * first-seen row per key deterministically given `orderCols`; the
    * reference's `union().distinct()` is the keyless special case.
    */
  def mergeDim(existing: DataFrame, incoming: DataFrame, keyCols: Seq[String]): DataFrame =
    existing.unionByName(incoming).dropDuplicates(keyCols)

  /** O-44: star-schema join surface — fact ⋈ broadcast dims. The dims
    * are small by construction (dim_coins ≤150 rows in the reference);
    * broadcasting avoids shuffling the 100 TB fact side entirely.
    */
  def starJoin(fact: DataFrame, dims: Seq[(DataFrame, Seq[String])]): DataFrame =
    dims.foldLeft(fact) { case (acc, (dim, keys)) => acc.join(broadcast(dim), keys) }

  /** Slowly-changing dimension, Type 2: compress a change stream into
    * versioned rows. Per key (ordered by `effectiveCol` + tie-breaks),
    * a new version opens whenever the tracked attribute differs from
    * the previous record (`lag`); `valid_from` is that record's
    * effective date, `valid_to` the next version's (the open-ended
    * `highDate` sentinel while current — the standard warehouse
    * convention, which also keeps the output null-free), plus a
    * 1-based version number and `is_current`.
    *
    * Shape: everything is windows over the SAME key partition —
    * Catalyst plans one Exchange+Sort and stacks the lag, the
    * change-filter, the version `row_number` and the `lead` on top of
    * it. No join, no second shuffle; at 100 TB the cost is one
    * key-partitioned sort, the minimum any versioning pass needs.
    */
  def scd2(
      df: DataFrame,
      keyCol: String,
      attrCol: String,
      effectiveCol: String,
      tieBreaks: Seq[String] = Nil,
      highDate: String = "9999-12-31"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = (col(effectiveCol) +: tieBreaks.map(col)).map(_.asc)
    val w = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    val changes = df
      .withColumn("prev_attr", lag(col(attrCol), 1).over(w))
      .withColumn("prev_eff", lag(col(effectiveCol), 1).over(w))
      // keep the first record per key (detected on the never-null
      // effective column, so a null FIRST attribute is still a version)
      // or any null-safe attribute change
      .filter(col("prev_eff").isNull || !(col(attrCol) <=> col("prev_attr")))
    val wv = Window.partitionBy(col(keyCol))
      .orderBy(col(effectiveCol).asc +: tieBreaks.map(col(_).asc): _*)
    val sentinel = to_date(lit(highDate))
    changes
      .withColumn("valid_from", col(effectiveCol))
      .withColumn("valid_to",
        coalesce(lead(col("valid_from"), 1).over(wv), sentinel))
      .withColumn("version", row_number().over(wv))
      .withColumn("is_current", col("valid_to") === sentinel)
      .select(col(keyCol), col(attrCol), col("valid_from"), col("valid_to"),
        col("version"), col("is_current"))
  }
}
