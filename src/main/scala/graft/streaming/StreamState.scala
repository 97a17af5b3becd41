package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** The replay-safe micro-batch protocol every storage-backed streaming
  * admission ([[DocsStream]], [[EmbedStream]], [[BudgetStream]]) runs,
  * and the only code that knows its `dir/batch_id=N` layout:
  *   - Each micro-batch's decisions and state land under
  *     `dir/batch_id=N` ([[writeBatch]]), overwrite-by-batchId, so
  *     the at-least-once replay Structured Streaming guarantees after a
  *     failure rewrites its own previous attempt instead of appending
  *     beside it.
  *   - A batch's standing view ([[standing]]) EXCLUDES its own batchId,
  *     so a replayed batch never decides against its own previous
  *     attempt and decides exactly as the first attempt did.
  *   - Admission is inherently sequential ACROSS batches (what batch N
  *     admits depends on what came before), so the state lives in
  *     storage, not executor memory; [[admissionStream]] is that loop,
  *     written once, with the per-stream decision rule as its `step`.
  *   - State is bounded by lifecycle operations on committed history:
  *     [[promote]] moves batches into a persisted index table,
  *     [[compact]] folds them into one base partition. Both take
  *     `uptoBatchId` strictly below the newest landed batch, because a
  *     restarted stream replays only its last uncommitted batch, which
  *     must still find its own partition to exclude. */
object StreamState {

  /** The folded-history partition [[compact]] writes. Real batch ids
    * are ≥ 0, so a standing view's `batch_id =!= currentBatch` filter
    * can never exclude the base — folded keys stay visible to every
    * future batch. */
  val BaseBatchId: Long = -1L

  private val Prefix = "batch_id="

  /** The directory batch `batchId` of `dir` lands in. */
  def batchDir(dir: String, batchId: Long): String = s"$dir/$Prefix$batchId"

  /** Overwrite batch `batchId` of `dir` with `df`, as one file (the
    * per-batch frames are batch-sized). */
  def writeBatch(df: DataFrame, dir: String, batchId: Long): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(batchDir(dir, batchId))

  /** The state directory as a DataFrame (batch_id partition column
    * included), or None when no batch has landed yet. A missing dir is
    * checked first: handing it to `spark.read` logs a stack trace
    * before the AnalysisException; an existing but empty dir still
    * lands in the catch. */
  def readDir(spark: SparkSession, dir: String): Option[DataFrame] = {
    val base = new Path(dir)
    if (!base.getFileSystem(spark.sessionState.newHadoopConf()).exists(base)) None
    else
      try Some(spark.read.option("basePath", dir).parquet(dir))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  /** The standing view of `dir` for batch `excludeBatchId`: every
    * landed batch except that one, projected to `schema`'s columns;
    * an empty frame of `schema` when no batch has landed yet. */
  def standing(spark: SparkSession, dir: String, excludeBatchId: Long,
      schema: StructType): DataFrame =
    readDir(spark, dir)
      .map(_.filter(col("batch_id") =!= excludeBatchId)
        .select(schema.fieldNames.toSeq.map(col): _*))
      .getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))

  /** Start an admission stream over `input`. Per micro-batch, `step`
    * maps (batch, batchId) to the batch's decisions and to the function
    * from those decisions, once materialized, to the batch's state
    * rows; the decisions are checkpointed once, then written to
    * `decisionsDir` and the state rows to `stateDir`, both under the
    * batch's own id. */
  def admissionStream(input: DataFrame, checkpointDir: String,
      stateDir: String, decisionsDir: String)(
      step: (DataFrame, Long) => (DataFrame, DataFrame => DataFrame))
      : StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (decided, stateOf) = step(batch, batchId)
        val decisions = decided.localCheckpoint(true)
        writeBatch(decisions, decisionsDir, batchId)
        writeBatch(stateOf(decisions), stateDir, batchId)
      }
      .outputMode(OutputMode.Append())
      .start()

  /** Pass the batches of `dir` with batch_id ≤ `uptoBatchId` to
    * `append` (which moves them into a persisted table), then delete
    * their partitions: the promotion shared by the three index-backed
    * admissions. `append` must be idempotent (anti-join against its
    * own table), so a promotion that crashed between the append and
    * the delete can simply be run again. */
  def promote(spark: SparkSession, dir: String, uptoBatchId: Long)(
      append: DataFrame => Unit): Unit =
    readDir(spark, dir).foreach { df =>
      append(df.filter(col("batch_id") <= uptoBatchId))
      dropUpto(spark, dir, uptoBatchId)
    }

  /** Delete every `batch_id=N` partition with N ≤ `uptoBatchId`.
    * Idempotent: re-running after a crash deletes nothing or finishes
    * the interrupted delete. */
  private def dropUpto(spark: SparkSession, dir: String, uptoBatchId: Long): Unit = {
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(base))
      fs.listStatus(base)
        .filter { st =>
          val nm = st.getPath.getName
          nm.startsWith(Prefix) && nm.stripPrefix(Prefix).toLong <= uptoBatchId
        }
        .foreach(st => fs.delete(st.getPath, true))
  }

  /** Fold every state partition with batch_id ≤ `uptoBatchId` (plus
    * any existing base) into the single base partition
    * `batch_id=-1` — after months of batches the standing read is
    * file-count-bound, not data-bound. Folded batches are committed
    * history; the base partition is never excluded (BaseBatchId is
    * below every real id). Content-identical by construction: the fold
    * is a straight read of the victim partitions written to a sibling
    * staging dir, swapped in only after the write completes. */
  def compact(spark: SparkSession, dir: String, uptoBatchId: Long): Unit =
    readDir(spark, dir).foreach { df =>
      val dataCols = df.columns.filterNot(_ == "batch_id").map(col(_))
      val victims = df.filter(col("batch_id") <= uptoBatchId)
      val staging = new Path(dir + ".__compact")
      val fs = staging.getFileSystem(spark.sessionState.newHadoopConf())
      // no coalesce(1): the scan already bins the many small batch
      // files into ~maxPartitionBytes tasks, so the folded base comes
      // out at ≈ data-size/128MB files — right at any scale
      victims.select(dataCols: _*)
        .write.mode("overwrite").parquet(staging.toString)
      dropUpto(spark, dir, uptoBatchId)
      fs.rename(staging, new Path(batchDir(dir, BaseBatchId)))
      ()
    }
}
