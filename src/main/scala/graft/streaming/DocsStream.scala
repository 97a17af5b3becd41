package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ext.{DedupIndex, SubstrIndex, TextOps}
import graft.ext.DedupIndex.{Hashes, MaxBucket, RowsPerBand, ThreshDen, ThreshNum}

/** Streaming near-dup ADMISSION over a document stream: each
  * micro-batch is MinHash-signed and LSH-probed against the standing
  * corpus — the initial corpus plus every batch accepted SO FAR — and
  * against itself; matched docs are rejected, survivors append to the
  * standing state so later batches dedupe against them. This is dd17's
  * incremental probe run continuously (the batch twin carries the
  * DuckDB oracle; the streaming twin is gated by state-accrual and
  * replay specs — the §2.9 twin convention).
  *
  * Scale/failure design:
  *   - Storage, replay and lifecycle follow [[StreamState]]'s
  *     protocol: both admissions here (near-dup and suffix-dedup) are
  *     `step`s of its one admission loop. At 100 TB the accepted state
  *     promotes into a bucketed table whose (band, bucket) index the
  *     probe join reads directly; the probe's per-batch cost is signing
  *     ∝ batch size, and history-history pairs never form
  *     (TextOps.lshProbePairs).
  *   - Within a batch, TWO selectable admission flavors.
  *     DEFAULT (conservative): a doc matching ANY smaller-id
  *     history-clean doc of the same batch is rejected
  *     (`near_dup_batch`) — including one whose match was itself
  *     rejected (A rejects B; C matching only B is still rejected).
  *     That matches dd10's batch semantics, where a near-dup connected
  *     component keeps exactly its min-id member.
  *     SEQUENTIAL (`intraSequential = true`): the id-ordered
  *     insert-then-probe index semantics — B (dup of A) is rejected
  *     and never inserted, so C probes clean and is ADMITTED. Runs
  *     dd18's bounded-round MIS peeling ([[TextOps.sequentialAdmit]])
  *     on the verified intra-batch pair graph; the per-batch iteration
  *     one LSH pass cannot express.
  */
object DocsStream {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Accepted docs from every batch EXCEPT `excludeBatchId` (replay
    * safety); empty frame when no batch has landed yet. */
  private[graft] def acceptedState(spark: SparkSession, stateDir: String,
      excludeBatchId: Long): DataFrame =
    StreamState.standing(spark, stateDir, excludeBatchId, docSchema)

  /** One admission round, given the history probe's `histPairs`
    * (batch_id, hist_id, inter, uni): history matches reject, then the
    * history-clean residue is probed against itself — conservative
    * smaller-id-match rejection by default, greedy insert-then-probe
    * when `intraSequential`. Returns (doc_id, status, dup_of,
    * n_matches) for every batch doc. Both [[nearDupAdmission]]
    * overloads run it, so the intra-batch semantics (both flavors)
    * cannot diverge between the in-query and table-backed paths. */
  private[graft] def decideWith(histPairs: DataFrame, batch: DataFrame,
      intraSequential: Boolean): DataFrame = {
    val batchRows = TextOps.wordShingleRows(batch, "doc_id", "text", 3)
    rollDecisions(batch.select(col("doc_id")), histPairs,
      cleanIds => TextOps.lshNearDupPairs(batchRows.join(cleanIds, "doc_id"),
        "doc_id", Hashes, RowsPerBand, MaxBucket, ThreshNum, ThreshDen),
      intraSequential)
  }

  /** The admission status roll, generic over the near-dup FLAVOR —
    * text LSH here, embedding LSH in [[EmbedStream]]: history matches
    * first (dup_of = min standing match), then intra-batch pairs among
    * the history-clean residue — conservative smaller-id rejection by
    * default, greedy insert-then-probe when `intraSequential`.
    * `intraPairsFor` maps the clean-id frame (one `doc_id` column) to
    * that residue's verified (a_id, b_id) near-dup pairs. */
  private[graft] def rollDecisions(batchIds: DataFrame,
      histPairs: DataFrame, intraPairsFor: DataFrame => DataFrame,
      intraSequential: Boolean): DataFrame = {
    val histRoll = histPairs
      .groupBy(col("batch_id"))
      .agg(min(col("hist_id")).as("hist_dup_of"),
        count(lit(1)).as("hist_matches"))
    val withHist = batchIds.select(col("doc_id"))
      .join(histRoll, col("doc_id") === col("batch_id"), "left")
      .select(col("doc_id"), col("hist_dup_of"),
        coalesce(col("hist_matches"), lit(0L)).as("hist_matches"))
    val cleanIds = withHist.filter(col("hist_dup_of").isNull).select("doc_id")
    val intraRoll =
      if (!intraSequential)
        intraPairsFor(cleanIds)
          .groupBy(col("b_id").as("doc_id"))
          .agg(min(col("a_id")).as("batch_dup_of"),
            count(lit(1)).as("batch_matches"))
      else {
        // greedy insert-then-probe: reject exactly the docs an
        // id-ordered online index would have refused — dup_of is the
        // ADMITTED doc that blocked them (or the conservative-fallback
        // min neighbor past the round bound), not merely the smallest
        // matching id
        // materialized ONCE: cnt and sequentialAdmit both consume this
        // frame, and without the checkpoint each would re-evaluate the
        // whole sign -> bucket-join -> verify chain
        val cleanPairs = intraPairsFor(cleanIds)
          .select(col("a_id"), col("b_id"))
          .localCheckpoint(true)
        val cnt = cleanPairs.groupBy(col("b_id").as("doc_id"))
          .agg(count(lit(1)).as("batch_matches"))
        TextOps.sequentialAdmit(cleanPairs, rounds = 8)
          .filter(col("admitted") === 0)
          .select(col("doc_id"), col("dup_of").as("batch_dup_of"))
          .join(cnt, Seq("doc_id"), "left")
          .select(col("doc_id"), col("batch_dup_of"),
            coalesce(col("batch_matches"), lit(0L)).as("batch_matches"))
      }
    withHist.join(intraRoll, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("hist_dup_of").isNotNull, lit("near_dup_history"))
          .when(col("batch_dup_of").isNotNull, lit("near_dup_batch"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("hist_dup_of"), col("batch_dup_of"))
          .cast("long").as("dup_of"),
        (col("hist_matches") +
          coalesce(col("batch_matches"), lit(0L))).as("n_matches"))
  }

  /** Start the admission stream. `docs` is a streaming (doc_id, text)
    * frame; per batch, (doc_id, status, dup_of, n_matches) decisions
    * land in `decisionsDir` and the admitted docs in `stateDir`
    * ([[StreamState.admissionStream]]). */
  def nearDupAdmission(
      spark: SparkSession,
      docs: DataFrame,
      initialCorpus: DataFrame,
      stateDir: String,
      decisionsDir: String,
      checkpointDir: String,
      intraSequential: Boolean = false): StreamingQuery =
    nearDupAdmissionWith(spark, docs, stateDir, decisionsDir, checkpointDir,
        intraSequential) { (b, state) =>
      TextOps.lshProbePairs(
        TextOps.wordShingleRows(
          initialCorpus.select(col("doc_id"), col("text")).union(state),
          "doc_id", "text", 3),
        TextOps.wordShingleRows(b, "doc_id", "text", 3),
        "doc_id", Hashes, RowsPerBand, MaxBucket, ThreshNum, ThreshDen)
    }

  /** [[nearDupAdmission]] bound to a persisted [[graft.ext.DedupIndex]]
    * TABLE plus a (doc_id, text) corpus table — the deployment path
    * the in-query overload's scaladoc promises, as an executed path:
    * the standing side's band/bucket rows come from the BUCKETED index
    * scan — no corpus re-sign per batch, and PARTITION-PRUNED to the
    * batch's own pb values, so a trickle batch's scan IO is ∝ the
    * partitions it touches, not the index — unioned with rows derived
    * from the not-yet-promoted streaming state (days-sized, bounded by
    * [[promoteNearDupState]]'s cadence), so the flooded-bucket cap
    * counts across the whole standing side exactly as the in-query
    * fold would; verification text is fetched CANDIDATE-NARROWED from
    * `corpusTable` ∪ state. Decisions are identical to the in-query
    * overload by construction (same [[decideWith]] seam, and
    * DedupIndexSpec pins table-vs-in-query pair parity) and
    * spec-pinned on the planted geometry. `corpusTable` must hold the
    * text of every doc the index references. */
  def nearDupAdmission(
      spark: SparkSession,
      docs: DataFrame,
      indexTable: String,
      corpusTable: String,
      stateDir: String,
      decisionsDir: String,
      checkpointDir: String,
      intraSequential: Boolean): StreamingQuery =
    nearDupAdmissionWith(spark, docs, stateDir, decisionsDir, checkpointDir,
        intraSequential) { (b, standingState) =>
      // read thrice (bucket rows, verify text, and not at all when
      // empty) but DAYS-sized, not corpus-sized: promotion drains it
      val state = standingState.localCheckpoint(true)
      // the INDEX side of the standing union partition-prunes to the
      // batch's own pb values; the days-sized state side joins in full
      DedupIndex.probe(
        spark, indexTable, b,
        spark.table(corpusTable).select(col("doc_id"), col("text"))
          .union(state),
        extraBuckets = Some(DedupIndex.bucketRows(state)))
    }

  /** The near-dup admission step both overloads share: `histPairsFor`
    * maps (batch, standing state) to the history probe's
    * (batch_id, hist_id, inter, uni) pairs. */
  private def nearDupAdmissionWith(
      spark: SparkSession,
      docs: DataFrame,
      stateDir: String,
      decisionsDir: String,
      checkpointDir: String,
      intraSequential: Boolean)(
      histPairsFor: (DataFrame, DataFrame) => DataFrame): StreamingQuery =
    StreamState.admissionStream(docs, checkpointDir, stateDir, decisionsDir) {
      (batch, batchId) =>
        val b = batch.select(col("doc_id"), col("text")).localCheckpoint(true)
        val state = acceptedState(spark, stateDir, excludeBatchId = batchId)
        (decideWith(histPairsFor(b, state), b, intraSequential),
          admitted(b, "doc_id"))
    }

  /** The batch rows whose decision is `new` — the state an admission
    * appends for later batches to dedupe against. */
  private[streaming] def admitted(b: DataFrame, idCol: String)(
      decisions: DataFrame): DataFrame =
    b.join(decisions.filter(col("status") === "new").select(idCol), idCol)

  /** Promote the near-dup admission's accepted-doc state into its
    * persisted tables — [[promoteSubstrState]]'s twin for the
    * [[nearDupAdmission]] deployment path: state docs with
    * batch_id ≤ `uptoBatchId` append their band/bucket rows into the
    * [[graft.ext.DedupIndex]] table and their text into the corpus
    * table, then the promoted state partitions are deleted, leaving
    * the standing side (index ∪ corpus ∪ remaining state) unchanged
    * for the next batch. Same replay contract as
    * [[StreamState.compact]]: pass `uptoBatchId` strictly below the
    * newest landed batch. Idempotent per sink — each append
    * anti-joins on doc_id against its own table first, so a crashed
    * promotion retried re-appends nothing that already landed. */
  def promoteNearDupState(spark: SparkSession, stateDir: String,
      indexTable: String, corpusTable: String, uptoBatchId: Long): Unit =
    StreamState.promote(spark, stateDir, uptoBatchId) { promoted =>
      val docs = promoted.select(col("doc_id"), col("text")).localCheckpoint(true)
      DedupIndex.append(
        docs.join(spark.table(indexTable).select(col("doc_id")).distinct(),
          Seq("doc_id"), "left_anti"),
        indexTable)
      docs.join(spark.table(corpusTable).select(col("doc_id")),
          Seq("doc_id"), "left_anti")
        .write.mode("append").format("parquet").saveAsTable(corpusTable)
    }

  // ---------------------------------------------------------------
  // ExactSubstr (suffix-dedup) admission — dd25 run continuously
  // ---------------------------------------------------------------

  private val keySchema = StructType(Seq(
    StructField("h1", LongType), StructField("h2", LongType)))

  /** Accepted window keys from every batch EXCEPT `excludeBatchId`
    * (replay safety, [[acceptedState]]'s convention); empty when no
    * batch has landed yet. */
  private[graft] def keyState(spark: SparkSession, stateDir: String,
      excludeBatchId: Long): DataFrame =
    StreamState.standing(spark, stateDir, excludeBatchId, keySchema)

  /** One suffix-dedup admission round: dd25's standing-corpus probe
    * PLUS intra-batch first-carrier accounting (tx17's keep-first
    * rule applied within the batch). Per batch doc:
    * `n_known_hist` = window occurrences whose key is in the standing
    * set (exactly dd25's n_known); `n_known_batch` = occurrences NOT
    * in the standing set whose batch-wide first carrier (min doc_id
    * over the batch's occurrences of that key) is a SMALLER batch doc
    * — so a doc repeating its own window isn't self-blocked, ties go
    * to the first carrier, and two identical docs in one batch admit
    * exactly one (dd25 alone would admit both: its batch-batch
    * overlap is deliberately un-counted, pinned in ExtSpec — an
    * admission gate must not inherit that). keep mirrors dd25's cut
    * on the COMBINED fraction. Deterministic under any partitioning
    * (min + counts).
    *
    * CONSERVATIVE intra-batch flavor (the [[nearDupAdmission]]
    * default's analogue, documented divergence): a window counts as
    * batch-known for any doc whose batch-wide first carrier has a
    * smaller id, EVEN when that carrier is itself rejected as
    * hist-heavy — so a doc consisting only of a rejected doc's fresh
    * tail is rejected too, and that content enters no state THIS
    * batch (a later-batch resubmission of the tail alone keeps; the
    * planted DocsStreamSpec geometry pins exactly this, doc 13 then
    * doc 21). The insert-then-probe alternative (count a window only
    * when its first carrier is KEPT) would need a sequentialAdmit-
    * style fixpoint — windows decide keeps and keeps decide windows —
    * and is deliberately not offered here.
    *
    * `standingKeys` is any (h1, h2) frame and need NOT be set-valued:
    * the known-key set is distinct-folded after the batch-key join
    * (on the batch ∩ standing-sized result, not the standing side),
    * so a standing frame carrying duplicate keys — a SubstrIndex
    * table also appended out-of-band, a caller-built union — cannot
    * multiply occurrence rows and inflate n_known_hist. Scale shape:
    * ONE pass over the standing side (semi-join down to the batch's
    * own key set, batch the shuffle-hash build side); every other
    * frame, including the distinct fold, is batch-sized. */
  private[graft] def substrDecide(standingKeys: DataFrame,
      batch: DataFrame): DataFrame = {
    val k = SubstrIndex.K
    val bk = SubstrIndex.windowKeys(batch) // per occurrence
    val knownKeys = standingKeys
      .join(bk.select(col("h1"), col("h2")).distinct().hint("shuffle_hash"),
        Seq("h1", "h2"))
      .distinct() // duplicate-proof: a non-set standing frame must not
      .withColumn("_hist", lit(1L)) // inflate per-occurrence counts
    val fc = bk.groupBy(col("h1"), col("h2"))
      .agg(min(col("doc_id")).as("_fc"))
    val perDoc = bk
      .join(fc, Seq("h1", "h2"))
      .join(knownKeys, Seq("h1", "h2"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(when(col("_hist").isNotNull, 1L).otherwise(0L))
          .as("n_known_hist"),
        sum(when(col("_hist").isNull && col("_fc") < col("doc_id"), 1L)
          .otherwise(0L)).as("n_known_batch"))
    batch
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        when(col("n_tok") >= k, col("n_tok") - (k - 1))
          .otherwise(0L).cast("long").as("n_win"),
        coalesce(col("n_known_hist"), lit(0L)).as("n_known_hist"),
        coalesce(col("n_known_batch"), lit(0L)).as("n_known_batch"))
      .withColumn("known_pct_e6",
        when(col("n_win") === 0, lit(0L))
          .otherwise(round((col("n_known_hist") + col("n_known_batch"))
            * 1e6 / col("n_win")).cast("long")))
      .withColumn("keep", (col("known_pct_e6") < 200000).cast("long"))
  }

  /** The standing key set narrowed to the keys the current batch can
    * possibly touch: standing ∩ batch-keys, as a SET. Both of a
    * micro-batch's standing-side consumers are invariant under this
    * narrowing — the probe ([[substrDecide]]) joins INNER on the
    * batch's keys, and the state append anti-joins a kept-doc key set
    * that is BY CONSTRUCTION a subset of the batch's keys (for any
    * batch key k, k ∈ standing ⟺ k ∈ narrowed) — so the per-batch
    * checkpoint this feeds is batch-sized instead of index-sized.
    * One pass over the standing side (the semi-join probe, batch keys
    * the build side); the distinct fold runs on the narrowed
    * batch-sized result, which also makes the frame duplicate-proof
    * for non-set standing inputs. */
  private[graft] def narrowStanding(standing: DataFrame,
      batchKeys: DataFrame): DataFrame =
    standing.join(batchKeys.hint("shuffle_hash"), Seq("h1", "h2"),
      "left_semi").distinct()

  /** Promote the admission stream's accepted-key state into the
    * persisted [[graft.ext.SubstrIndex]] table it probes — the
    * nightly lifecycle op for the deployment path (table-backed
    * `initialKeys`): state partitions with batch_id ≤ `uptoBatchId`
    * append into the bucketed index (anti-join keeps it a SET) and
    * are then deleted, so the standing union the NEXT batch sees —
    * table ∪ remaining state — is unchanged, while per-batch state
    * stays days-sized instead of growing forever.
    *
    * Same replay contract as [[StreamState.compact]]: a restarted
    * stream replays only its last uncommitted batch, so pass
    * `uptoBatchId` strictly below the newest landed batch — a
    * replayed batch must still find its own keys in the STATE dir
    * (where its batch_id is excluded), not in the table (where it
    * would wrongly count itself as known history).
    *
    * Crash-safe without coordination: if the append lands but the
    * delete doesn't, the promoted keys exist on BOTH sides of the
    * standing union — harmless, because [[substrDecide]]'s known-key
    * fold and [[narrowStanding]] are duplicate-proof, and re-running
    * the promotion appends nothing (the anti-join sees them standing)
    * and completes the delete. */
  def promoteSubstrState(spark: SparkSession, stateDir: String,
      table: String, uptoBatchId: Long): Unit =
    StreamState.promote(spark, stateDir, uptoBatchId) { promoted =>
      SubstrIndex.appendKeys(promoted.select(col("h1"), col("h2")), table)
    }

  /** Start the suffix-dedup admission stream — [[StreamState]]'s
    * protocol with dd25's probe as the decision rule: each micro-batch's
    * 8-token windows probe the standing key set (initial keys + every
    * batch accepted so far), kept docs' genuinely NEW keys append
    * (anti-join keeps the standing union a SET — a duplicate key would
    * double later batches' known counts). `initialKeys` is any
    * (h1, h2) key frame and is RE-EVALUATED per batch: pass
    * `spark.table(indexTable)` for a persisted [[graft.ext.SubstrIndex]]
    * (the deployment path — each batch re-reads the bucketed key scan:
    * IO ∝ index size, but no corpus re-sign, no distinct fold, no
    * shuffle of the standing side, and the per-batch CHECKPOINT is
    * batch-sized, not index-sized: [[narrowStanding]] semi-joins the
    * standing union down to the batch's own keys inside the one
    * standing pass before anything materializes) or
    * [[graft.ext.SubstrIndex.keySet]] of a corpus frame (the dd25 twin
    * shape the spec binds against — re-folds the corpus per batch,
    * test-scale only). */
  def substrAdmission(
      spark: SparkSession,
      docs: DataFrame,
      initialKeys: DataFrame,
      stateDir: String,
      decisionsDir: String,
      checkpointDir: String): StreamingQuery =
    substrAdmissionWith(spark, docs,
      _ => initialKeys.select(col("h1"), col("h2")),
      stateDir, decisionsDir, checkpointDir)

  /** [[substrAdmission]] bound directly to a persisted
    * [[SubstrIndex]] TABLE — identical decisions
    * (spec-pinned), but the per-batch standing scan is PARTITION-
    * PRUNED to the batch's own pb partitions (the probe's bounded
    * driver-list mechanics, per micro-batch): the trickle/interactive
    * admission path stops paying the full key scan a generic
    * initialKeys frame costs, and degrades to exactly that one-pass
    * scan for bulk batches. */
  def substrAdmission(
      spark: SparkSession,
      docs: DataFrame,
      indexTable: String,
      stateDir: String,
      decisionsDir: String,
      checkpointDir: String): StreamingQuery =
    substrAdmissionWith(spark, docs,
      bKeys => SubstrIndex.layout.prunedScan(spark, indexTable, bKeys),
      stateDir, decisionsDir, checkpointDir)

  /** Shared admission loop: `initialFor` maps the batch's distinct
    * key set to the initial standing frame (a constant frame, or a
    * partition-pruned index scan that USES those keys). */
  private def substrAdmissionWith(
      spark: SparkSession,
      docs: DataFrame,
      initialFor: DataFrame => DataFrame,
      stateDir: String,
      decisionsDir: String,
      checkpointDir: String): StreamingQuery =
    StreamState.admissionStream(docs, checkpointDir, stateDir, decisionsDir) {
      (batch, batchId) =>
        val b = batch.select(col("doc_id"), col("text")).localCheckpoint(true)
        // checkpointed: consumed by initialFor (pb collection on the
        // pruned path) AND as the narrowing's build side
        val bKeys = SubstrIndex.keySet(b).localCheckpoint(true)
        // read twice (probe + append anti-join) but BATCH-sized: the
        // full standing union is never materialized — narrowStanding
        // semi-joins it down to the batch's own key set in the one
        // standing-side pass, and only that intersection checkpoints
        // (an unnarrowed localCheckpoint here would eagerly copy the
        // whole index per micro-batch at deployment scale)
        val standing = narrowStanding(
            initialFor(bKeys)
              .union(keyState(spark, stateDir, excludeBatchId = batchId)),
            bKeys)
          .localCheckpoint(true)
        (substrDecide(standing, b),
          decisions => SubstrIndex.keySet(
              b.join(decisions.filter(col("keep") === 1).select("doc_id"),
                "doc_id"))
            .join(standing, Seq("h1", "h2"), "left_anti"))
    }
}
