package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ext.TextOps

/** Continuous token-budget enforcement: the EXECUTION half of dp12's
  * planning half. dp12 decides how many tokens each source may
  * contribute to a mixture; this stream enforces that plan as
  * documents arrive, admitting each source's docs in id order until
  * its budget is exhausted and REMEMBERING consumption across batches.
  *
  * Semantics (PREFIX admission): within a source, docs are ordered by
  * doc_id and a doc is admitted iff tokens SEEN so far (admitted OR
  * rejected, across all prior batches) plus the cumulative tokens
  * through THIS doc still fit the budget. Counting seen — not
  * admitted — tokens is what makes the cut durable: once a source
  * overflows, the overflowing doc's mass stays in the cumsum forever,
  * so the budget never "reopens" at a batch boundary, and over
  * id-ordered batches the admitted set is exactly dp14's over the
  * concatenated table. The cut is a clean id watermark per source,
  * which is what a resumable batch-boundary enforcement wants
  * (skip-and-continue knapsack filling would admit out of id order
  * and make replay reasoning ugly). A source with NO budget row
  * admits nothing — an unplanned source is a governance error, not
  * free capacity.
  *
  * Scale + replay shape:
  *   - Storage and replay are [[StreamState]]'s protocol; a replayed
  *     batch never double-counts its own prior attempt.
  *   - Per-batch state is ONE row per source (tokens seen + tokens
  *     admitted in that batch) — the standing consumption view is a
  *     sum over those tiny rows, broadcastable at any history length.
  *   - The only window is the per-(source, batch) cumsum — partitioned
  *     by source and bounded by the batch, never corpus-sized.
  *
  * The batch twin dp14 (PipelineQueries) runs [[decide]] with zero
  * consumption over the whole documents table against a DuckDB cumsum
  * oracle, so the admission arithmetic itself is value-checked.
  */
object BudgetStream {

  private val stateSchema = StructType(Seq(
    StructField("source", StringType), StructField("tokens_seen", LongType)))

  /** Tokens SEEN per source across every batch EXCEPT `excludeBatchId`
    * (replay safety); empty when no batch landed. Seen — not admitted —
    * is what makes the prefix cut durable: a rejected doc's tokens
    * stay in the cumsum forever, so once a source overflows it can
    * never "reopen" in a later batch, and the stream's admitted set
    * over id-ordered batches equals dp14's over the concatenation. */
  private[graft] def consumedState(spark: SparkSession, stateDir: String,
      excludeBatchId: Long): DataFrame =
    StreamState.standing(spark, stateDir, excludeBatchId, stateSchema)
      .groupBy(col("source")).agg(sum(col("tokens_seen")).as("consumed"))

  /** One admission round. `budgets`: (source, budget_tokens);
    * `consumed`: (source, consumed) from prior batches; `batch`:
    * (doc_id, source, text). Returns one row per batch doc:
    * (doc_id, source, n_tok, admitted 1/0). */
  private[graft] def decide(budgets: DataFrame, consumed: DataFrame,
      batch: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    batch
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .join(budgets.select(col("source"), col("budget_tokens")), Seq("source"), "left")
      .join(consumed, Seq("source"), "left")
      .select(col("doc_id"), col("source"), col("n_tok"),
        when(coalesce(col("consumed"), lit(0L)) + col("cum") <=
          coalesce(col("budget_tokens"), lit(0L)), lit(1L))
          .otherwise(lit(0L)).as("admitted"))
  }

  /** Start the enforcement stream. `docs` is a streaming
    * (doc_id, source, text) frame; `budgets` a static
    * (source, budget_tokens) plan (dp12's output shape). Per batch,
    * decisions land in `decisionsDir` and per-source consumption in
    * `stateDir` ([[StreamState.admissionStream]]). */
  def budgetAdmission(
      spark: SparkSession,
      docs: DataFrame,
      budgets: DataFrame,
      stateDir: String,
      decisionsDir: String,
      checkpointDir: String): StreamingQuery =
    StreamState.admissionStream(docs, checkpointDir, stateDir, decisionsDir) {
      (batch, batchId) =>
        val b = batch.select(col("doc_id"), col("source"), col("text"))
          .localCheckpoint(true)
        (decide(budgets,
            consumedState(spark, stateDir, excludeBatchId = batchId), b),
          // state carries tokens SEEN (admitted or not — the durable
          // prefix cut) alongside admitted (the reporting number)
          _.groupBy(col("source"))
            .agg(sum(col("n_tok")).as("tokens_seen"),
              sum(when(col("admitted") === 1, col("n_tok"))
                .otherwise(lit(0L))).as("tokens_admitted")))
    }
}
