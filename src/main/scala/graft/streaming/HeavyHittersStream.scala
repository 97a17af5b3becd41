package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Bounded-memory heavy-hitter tracking over a stream: a Misra–Gries
  * summary of at most k counters maintained across batches (the
  * mergeable-summaries formulation — Agarwal et al., PODS'12), the
  * streaming analog of tx05's sketch with a DETERMINISTIC, order-robust
  * guarantee instead of a merge-order-sensitive one.
  *
  * Semantics per batch:
  *   1. the batch is counted EXACTLY (map-combined groupBy — the only
  *      corpus-sized work), and compressed to a summary via ONE
  *      TakeOrdered(k+1) job: t = the (k+1)-th largest count (0 when
  *      the batch has <= k distinct keys), survivors are the top k
  *      with count - t > 0, and t joins the summary's error budget;
  *   2. the prior state summary (<= k rows, driver data — the ss03
  *      codebook / e09 drift-reference precedent, bounded by
  *      construction) merges with the batch summary: per-key estimates
  *      add, then the same (k+1)-th-largest subtraction re-bounds the
  *      result to k rows.
  *
  * Guarantees (the MG invariants, spec-pinned): for every surviving
  * key, est <= true <= est + err; err * (k+1) <= n_seen, so any key
  * with true frequency > n_seen/(k+1) is GUARANTEED to survive, under
  * ANY batch order — this is what makes the summary trustworthy for
  * admission/alerting where tx05's CMS-style sketch is only
  * probabilistic.
  *
  * State/replay shape ([[StreamState]]'s layout): each batch writes
  * its full summary (key, est) plus the shared scalars (err, n_seen)
  * under `stateDir/batch_id=N`, overwrite-by-batchId; a batch reads the
  * LATEST summary with batch_id < its own, so at-least-once replay is
  * idempotent and never compounds its own prior attempt.
  *
  * The batch twin e10 (EventQueries) runs [[compress]] over the whole
  * events table as one batch against a DuckDB rank/subtract oracle, so
  * the summary arithmetic itself is value-checked.
  */
object HeavyHittersStream {

  /** An MG summary: at most k (key, est) counters, one shared
    * undercount bound `err` (the sum of every threshold subtracted so
    * far), and `nSeen`, the exact number of items the summary has
    * absorbed. Invariant: est <= true <= est + err for tracked keys;
    * err * (k+1) <= nSeen. */
  final case class Summary(counters: Seq[(Long, Long)], err: Long,
      nSeen: Long)

  private[graft] val empty = Summary(Seq.empty, 0L, 0L)

  /** Compress exact (key, cnt) local rows to <= k counters: subtract
    * the (k+1)-th largest count from everything, keep the positive
    * top k. Deterministic under the (cnt desc, key asc) total order. */
  private[graft] def compress(counts: Seq[(Long, Long)], k: Int,
      priorErr: Long, nSeen: Long): Summary = {
    val ranked = counts.sortBy { case (key, c) => (-c, key) }
    val t = if (ranked.length > k) ranked(k)._2 else 0L
    Summary(ranked.take(k).map { case (key, c) => (key, c - t) }
      .filter(_._2 > 0), priorErr + t, nSeen)
  }

  /** Exact-count a batch (distributed, map-combined), then compress
    * via one TakeOrdered(k+1) collect — never a global window, never
    * more than k+1 rows on the driver. */
  private[graft] def summarizeBatch(batch: DataFrame, keyCol: String,
      k: Int): Summary = {
    val counts = batch.groupBy(col(keyCol).cast("long").as("key"))
      .agg(count(lit(1)).as("cnt"))
    val n = batch.count()
    // one extra row past k tells us the subtraction threshold; ties
    // resolve on the key so any partitioning yields the same top set
    val top = counts.orderBy(col("cnt").desc, col("key")).limit(k + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    compress(top, k, 0L, n)
  }

  /** MG merge (Agarwal et al.): per-key estimates add, error budgets
    * add, then one more (k+1)-th-largest subtraction re-bounds to k
    * counters. Pure local arithmetic on <= 2k rows. */
  private[graft] def merge(a: Summary, b: Summary, k: Int): Summary = {
    val summed = (a.counters ++ b.counters)
      .groupBy(_._1).map { case (key, vs) => (key, vs.map(_._2).sum) }
      .toSeq
    compress(summed, k, a.err + b.err, a.nSeen + b.nSeen)
  }

  private val stateSchema = StructType(Seq(
    StructField("key", LongType), StructField("est", LongType),
    StructField("err", LongType), StructField("n_seen", LongType)))

  private[graft] def writeState(spark: SparkSession, s: Summary,
      dir: String): Unit = {
    val rows = if (s.counters.isEmpty)
      // keep err/n_seen durable even when nothing survives
      Seq(Row(null, null, s.err, s.nSeen))
    else s.counters.map { case (key, est) =>
      Row(key: java.lang.Long, est: java.lang.Long, s.err, s.nSeen)
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), stateSchema)
      .write.mode("overwrite").parquet(dir)
  }

  /** The latest summary strictly BEFORE `batchId` (replay safety:
    * a replayed batch never reads its own prior attempt). */
  private[graft] def readState(spark: SparkSession, stateDir: String,
      batchId: Long): Summary =
    StreamState.readDir(spark, stateDir) match {
      case None => empty
      case Some(df) =>
        // partition discovery types batch_id as INT — cast before
        // comparing/reading so the directory naming can't bite
        val prior = df.withColumn("batch_id", col("batch_id").cast("long"))
          .filter(col("batch_id") < batchId)
        val last = prior.agg(max(col("batch_id"))).collect()(0)
        if (last.isNullAt(0)) empty
        else {
          val rows = prior.filter(col("batch_id") === last.getLong(0))
            .collect() // <= k rows by construction
          Summary(
            rows.filter(!_.isNullAt(0))
              .map(r => (r.getLong(0), r.getLong(1))).toSeq,
            rows.head.getLong(2), rows.head.getLong(3))
        }
    }

  /** Start the tracker. `events` is a streaming frame holding
    * `keyCol`; per-batch summaries land under `outDir/batch_id=N`
    * (key, est, err, n_seen — the current heavy-hitter view after the
    * batch), state under `stateDir/batch_id=N`, both
    * overwrite-by-batchId. */
  def heavyHitters(
      spark: SparkSession,
      events: DataFrame,
      keyCol: String,
      k: Int,
      stateDir: String,
      outDir: String,
      checkpointDir: String): StreamingQuery = {
    require(k >= 1 && k <= 1024,
      s"Misra-Gries capacity k=$k outside [1, 1024]: the summary is " +
        "driver-resident by design; a larger k wants the exact groupBy " +
        "(tx05b) instead")
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val merged = merge(
          readState(spark, stateDir, batchId),
          summarizeBatch(batch, keyCol, k), k)
        writeState(spark, merged, StreamState.batchDir(stateDir, batchId))
        writeState(spark, merged, StreamState.batchDir(outDir, batchId))
        ()
      }
      .start()
  }
}
