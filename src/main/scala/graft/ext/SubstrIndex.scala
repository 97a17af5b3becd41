package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted standing index for the ExactSubstr family — the storage
  * artifact dd25's scaladoc promises ("at 100 TB that is a standing
  * bucketed table maintained by appending each accepted batch's
  * keys"): the corpus's DISTINCT 8-token-window keys (the two
  * independent xxhash64 lanes, [[TextOps.windowKey1]]/[[TextOps.windowKey2]])
  * as a managed table BUCKETED AND SORTED on (h1, h2), so the daily
  * probe's equi-join reads the index side pre-partitioned (bucketed
  * scan — no Exchange above it; only the BATCH's windows shuffle) and
  * appending an accepted batch preserves the bucketing.
  *
  * This is the [[DedupIndex]] pattern (build/append/probe, parity with
  * the in-query flavor spec-gated) applied to suffix dedup — the most
  * expensive thing a curation run does. dd25 derives the history's key
  * set in-query per run (the full corpus TEXT re-signed and
  * distinct-folded EVERY day); with the index the history fold is paid
  * once at build, and each day pays batch window-signing plus ONE pass
  * over the bucketed 16-byte-key scan — IO ∝ index size but no corpus
  * re-sign, no distinct fold, and no shuffle of the standing side
  * (500k, SCALING.md "The ExactSubstr standing index": 32.5 s
  * in-query vs 3.2-3.6 s probe,
  * near-flat between 0.1 % and 1 % batches because the key-scan floor
  * dominates at those sizes; the batch term takes over as batches
  * grow). Acceptance appends only the batch's genuinely new keys (an
  * anti-join against the standing set, so the table stays a SET and
  * probe counts stay exact).
  *
  * The table additionally partitions on `pb = pmod(h1, nParts)`, so a
  * trickle batch's probe reads only the partitions its own keys hash to
  * ([[BucketedIndex]] holds the layout and its pruning envelope).
  *
  * The index stores keys only — 16 bytes a window, no text, no
  * positions: the probe's contract is dd25's (known-window counting +
  * keep gate), not dd20's span surgery, which needs positions and
  * stays a batch job over the flagged docs.
  */
object SubstrIndex {

  /** dd15/dd20/dd25's window width. */
  val K = 8

  /** (doc_id, h1, h2) per window OCCURRENCE — multiplicity kept (span
    * accounting, dd15's convention: a window repeated inside a doc
    * counts each occurrence against it). */
  def windowKeys(docs: DataFrame): DataFrame =
    TextOps.wordShinglePosRows(docs, "doc_id", "text", K)
      .select(col("doc_id"), TextOps.windowKey1(col("_el")).as("h1"),
        TextOps.windowKey2(col("_el")).as("h2"))

  /** The corpus's distinct window-key SET — what build persists and
    * what the streaming admission ([[graft.streaming.DocsStream]])
    * holds as its standing state. */
  def keySet(docs: DataFrame): DataFrame =
    windowKeys(docs).select(col("h1"), col("h2")).distinct()

  /** The index's layout: the (h1, h2) key alone, partitioned on h1
    * (already an xxhash64 lane). */
  private[graft] val layout = BucketedIndex(Seq("h1", "h2"), Nil, col("h1"))

  /** Create/overwrite the index from a corpus of (doc_id, text): the
    * corpus's distinct window keys, partitioned on pb and
    * bucketed+sorted on the key. The one cost ∝ corpus; everything
    * after is ∝ batch (plus the pruned share of the key scan). */
  def build(docs: DataFrame, table: String, nBuckets: Int = 8,
      nParts: Int = 64): Unit =
    layout.build(keySet(docs), table, nBuckets, nParts)

  /** Append an ACCEPTED batch's window keys — only the genuinely new
    * ones (anti-join against the standing set, the index side of which
    * reads bucket-partitioned AND pb-pruned to the batch's own
    * partitions: a fresh key's partition is by construction one the
    * batch touches), so the table stays a set: a key already present
    * would otherwise double every later probe count for windows it
    * carries. The table's own partition/bucket spec, so both storage
    * properties survive ingestion. */
  def append(docs: DataFrame, table: String): Unit =
    appendKeys(keySet(docs), table)

  /** [[append]] for an already-derived key frame (the streaming
    * admission's accepted state, a replayed batch's keys): same
    * anti-join-against-standing set discipline, so re-appending keys
    * the table already holds — a crashed promotion retried, an
    * out-of-band duplicate feed — is a no-op, not a corruption. */
  def appendKeys(keys: DataFrame, table: String): Unit = {
    val ks = keys.select(col("h1"), col("h2")).distinct()
      .localCheckpoint(true) // read twice: pbs + anti-join
    val standing = layout.prunedScan(keys.sparkSession, table, ks)
    layout.append(ks.join(standing, Seq("h1", "h2"), "left_anti"), table)
  }

  /** dd25's exact output (doc_id, n_tok, n_win, n_known, known_pct_e6,
    * keep) for `batch` probed against the PERSISTED index instead of
    * an in-query history fold: the batch signs only itself (window
    * cost ∝ batch, checkpointed so pb collection doesn't re-sign),
    * the index side reads bucket-partitioned AND pruned to the
    * batch's pb partitions, the join co-partitions on the two-long
    * key with that scan exchange-free, and the batch's keys are the
    * hinted shuffle-hash BUILD side (the small side at any real
    * batch:corpus ratio). n_win is closed-form from the token count;
    * keep mirrors dd25's < 20 % cut on the known fraction.
    * SubstrIndexSpec pins value-parity with in-query dd25. */
  def probe(spark: SparkSession, table: String, batch: DataFrame): DataFrame = {
    val occ = windowKeys(batch).localCheckpoint(true)
    probeOcc(layout.prunedScan(spark, table, occ), occ, batch)
  }

  /** [[probe]] against any standing key frame (a persisted index scan,
    * or the streaming admission's accrued state) — the single pass
    * over the standing side, with everything after it batch-sized.
    * The standing frame need NOT be set-valued: the known-key set is
    * distinct-folded after the batch-key join (on the
    * batch ∩ standing-sized result, not the standing side), so a
    * frame carrying duplicate keys — an index also appended
    * out-of-band, a caller-built union — cannot inflate n_known. */
  def probeKeys(standingKeys: DataFrame, batch: DataFrame): DataFrame =
    probeOcc(standingKeys, windowKeys(batch), batch)

  private def probeOcc(standingKeys: DataFrame, occ: DataFrame,
      batch: DataFrame): DataFrame = {
    val knownSet = standingKeys
      .join(occ.select(col("h1"), col("h2")).distinct().hint("shuffle_hash"),
        Seq("h1", "h2"))
      .distinct() // duplicate-proof: a non-set standing frame must not
                  // multiply the occurrence rows counted below
    val known = occ
      .join(knownSet.hint("shuffle_hash"), Seq("h1", "h2"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_known"))
    batch
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      .join(known, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        when(col("n_tok") >= K, col("n_tok") - (K - 1))
          .otherwise(0L).cast("long").as("n_win"),
        coalesce(col("n_known"), lit(0L)).as("n_known"))
      .withColumn("known_pct_e6",
        when(col("n_win") === 0, lit(0L))
          .otherwise(round(col("n_known") * 1e6 / col("n_win"))
            .cast("long")))
      .withColumn("keep", (col("known_pct_e6") < 200000).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Fold the per-append file sets back to exactly one file per
    * (pb, bucket) ([[BucketedIndex.compact]]); SubstrIndexSpec pins
    * compact == from-scratch build, probe parity, and the file-count
    * bound. */
  def compact(spark: SparkSession, table: String): Unit =
    layout.compact(spark, table)
}
