package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

import graft.ext.EmbedIndex

/** Streaming EMBEDDING near-dup admission — dd12 run continuously,
  * completing the per-index symmetry: every persisted index
  * ([[graft.ext.DedupIndex]], [[graft.ext.SubstrIndex]],
  * [[graft.ext.EmbedIndex]]) now has a streaming admission that probes
  * it per micro-batch plus a nightly promotion that folds accepted
  * state back into it. Each micro-batch of (vec_id, embedding) rows is
  * normalized, hyperplane-LSH-signed, and probed against the standing
  * side (initial corpus or persisted index, plus every batch accepted
  * so far); cosine-verified matches reject, survivors append to the
  * state so later batches dedupe against them.
  *
  * Storage, replay and lifecycle are [[StreamState]]'s protocol, and
  * the status semantics are [[DocsStream.rollDecisions]]'s verbatim —
  * both intra-batch flavors included, because the roll is
  * generic over the pair source and [[graft.ext.TextOps.sequentialAdmit]]
  * peels any (a_id, b_id) graph. The intra-batch pair source is
  * LITERALLY dd12's relation on the batch
  * ([[EmbedIndex.pairsWithin]]); the history rule is dd12's
  * bucket-cap probe flavor ([[EmbedIndex.probeVecs]] /
  * [[EmbedIndex.probe]]), so a rejected vector is exactly a dd12 pair
  * endpoint. EmbedStreamSpec pins in-query vs table-backed decision
  * parity on planted geometry, including across a promotion. */
object EmbedStream {

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("v", ArrayType(DoubleType))))

  /** Accepted vectors from every batch EXCEPT `excludeBatchId` (replay
    * safety); empty frame when no batch has landed yet. */
  private[graft] def acceptedState(spark: SparkSession, stateDir: String,
      excludeBatchId: Long): DataFrame =
    StreamState.standing(spark, stateDir, excludeBatchId, vecSchema)

  /** One admission round over a NORMALIZED (vec_id, v) batch, given
    * the history probe's `histPairs` (batch_id, hist_id, cos_e6) — the
    * seam the table-backed path shares with the in-query one. Returns
    * (vec_id, status, dup_of, n_matches) for every batch vector. */
  private[graft] def decideWith(histPairs: DataFrame, batch: DataFrame,
      intraSequential: Boolean): DataFrame =
    DocsStream.rollDecisions(
        batch.select(col("vec_id").as("doc_id")),
        histPairs.select(col("batch_id"), col("hist_id")),
        cleanIds => EmbedIndex.pairsWithin(
          batch.join(cleanIds.select(col("doc_id").as("vec_id")), "vec_id")),
        intraSequential)
      .select(col("doc_id").as("vec_id"), col("status"), col("dup_of"),
        col("n_matches"))

  /** Start the admission stream against an in-query standing corpus:
    * `initialVecs` is a NORMALIZED (vec_id, v) frame
    * ([[EmbedIndex.normalized]]) re-signed per batch — the spec-twin
    * shape; deployments pass a table (the overload below). `vecs` is a
    * streaming (vec_id, embedding) frame. */
  def admission(
      spark: SparkSession,
      vecs: DataFrame,
      initialVecs: DataFrame,
      stateDir: String,
      decisionsDir: String,
      checkpointDir: String,
      intraSequential: Boolean = false): StreamingQuery =
    admissionWith(spark, vecs,
      (b, state) => EmbedIndex.probeVecs(initialVecs.union(state), b),
      stateDir, decisionsDir, checkpointDir, intraSequential)

  /** [[admission]] bound to a persisted [[graft.ext.EmbedIndex]]
    * TABLE — identical decisions (same [[decideWith]] seam,
    * spec-pinned), but the standing side reads the bucketed index scan
    * PARTITION-PRUNED to the batch's own pb values — no corpus re-sign
    * per batch, IO ∝ partitions touched for trickle batches — with
    * sig rows derived from the days-sized un-promoted state joined
    * unpruned beside it, so the flooded-bucket cap counts across the
    * whole standing side. */
  def admission(
      spark: SparkSession,
      vecs: DataFrame,
      indexTable: String,
      stateDir: String,
      decisionsDir: String,
      checkpointDir: String,
      intraSequential: Boolean): StreamingQuery =
    admissionWith(spark, vecs,
      (b, state) => EmbedIndex.probe(spark, indexTable, b,
        extraRows = Some(EmbedIndex.sigRows(state))),
      stateDir, decisionsDir, checkpointDir, intraSequential)

  /** Shared admission loop: `histPairsFor` maps the (normalized batch,
    * un-promoted state) pair to the history probe result. */
  private def admissionWith(
      spark: SparkSession,
      vecs: DataFrame,
      histPairsFor: (DataFrame, DataFrame) => DataFrame,
      stateDir: String,
      decisionsDir: String,
      checkpointDir: String,
      intraSequential: Boolean): StreamingQuery =
    StreamState.admissionStream(vecs, checkpointDir, stateDir, decisionsDir) {
      (batch, batchId) =>
        val b = EmbedIndex.normalized(batch).localCheckpoint(true)
        // read twice (probe standing side + sign for the state-side
        // rows) but DAYS-sized, not corpus-sized: promotion drains it
        val state = acceptedState(spark, stateDir, excludeBatchId = batchId)
          .localCheckpoint(true)
        (decideWith(histPairsFor(b, state), b, intraSequential),
          DocsStream.admitted(b, "vec_id"))
    }

  /** Promote accepted state vectors into the persisted
    * [[graft.ext.EmbedIndex]] — [[DocsStream.promoteSubstrState]]'s
    * contract verbatim: state batches with batch_id ≤ `uptoBatchId`
    * (pass it strictly below the newest landed batch) append into the
    * table anti-joined on vec_id against it, so a crashed promotion
    * retried re-appends nothing; then the promoted state partitions
    * delete, leaving the standing side (index ∪ remaining state)
    * unchanged for the next batch. One sink only — the vectors live IN
    * the index, so there is no corpus-table half to keep consistent. */
  def promoteEmbedState(spark: SparkSession, stateDir: String,
      indexTable: String, uptoBatchId: Long): Unit =
    StreamState.promote(spark, stateDir, uptoBatchId) { promoted =>
      val vecs = promoted.select(col("vec_id"), col("v")).localCheckpoint(true)
      EmbedIndex.append(
        vecs.join(spark.table(indexTable).select(col("vec_id")).distinct(),
          Seq("vec_id"), "left_anti"),
        indexTable)
    }
}
