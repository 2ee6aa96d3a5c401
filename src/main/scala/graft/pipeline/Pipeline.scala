package graft.pipeline

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Engine-level orchestration (O-67..O-71): the reference's Step
  * Function DAG (ref: Step Function/crypto-etl-pipeline.asl.json:5-76)
  * as in-process stage composition — `Either` per stage, short-circuit
  * to the failure handler, no control-plane round-trips between stages.
  */
final case class StageFailure(stage: String, reason: String)

object Pipeline {

  /** A stage: pure DataFrame function that may gate the pipeline. */
  type Stage = DataFrame => Either[StageFailure, DataFrame]

  /** O-67: sequential DAG with per-stage catch. Exceptions become
    * failures (the ASL `Catch` → NotifyFailure path, ref :87-96).
    */
  def run(input: DataFrame, stages: Seq[(String, Stage)]): Either[StageFailure, DataFrame] =
    stages.foldLeft(Right(input): Either[StageFailure, DataFrame]) {
      case (Right(df), (name, stage)) =>
        Try(stage(df)).toEither.left.map(e => StageFailure(name, e.toString)).flatten
      case (left, _) => left
    }

  /** O-68: empty-input early exit (ref: glue/data_transform_s3.py:63-66)
    * — `isEmpty` (limit-1 scan) instead of the reference's full count.
    */
  def nonEmpty(name: String): Stage = df =>
    if (df.isEmpty) Left(StageFailure(name, "empty input")) else Right(df)

  /** Lift a total transform into a stage. */
  def stage(f: DataFrame => DataFrame): Stage = df => Right(f(df))

  /** O-69: table-not-exists fallback
    * (ref: glue/data_aggregate_gold.py:73-91 try/except → start fresh).
    * Probes the path on its file system rather than letting the read
    * throw, so a first write logs no missing-path stack trace.
    */
  def readOrEmpty(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val p = new Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Success/failure notification record, the SNS-topic analogue of the
    * ASL NotifySuccess/NotifyFailure terminal states
    * (ref: Step Function/crypto-etl-pipeline.asl.json:77-96).
    */
  final case class RunNotification(
      pipeline: String, status: String, stage: String, reason: String)

  /** Run the DAG, then append one notification record to a JSON sink —
    * the notify-topic analogue; downstream consumers tail the path the
    * way the reference's subscribers consume the SNS topic. Returns the
    * run result unchanged so callers still branch on it.
    */
  def runNotified(
      spark: SparkSession,
      pipelineName: String,
      input: DataFrame,
      stages: Seq[(String, Stage)],
      notifyPath: String): Either[StageFailure, DataFrame] = {
    val result = run(input, stages)
    import spark.implicits._
    val note = result match {
      case Right(_) => RunNotification(pipelineName, "SUCCEEDED", "", "")
      case Left(f) => RunNotification(pipelineName, "FAILED", f.stage, f.reason)
    }
    Seq(note).toDS().coalesce(1).write.mode("append").json(notifyPath)
    result
  }
}
