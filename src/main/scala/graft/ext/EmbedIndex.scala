package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted embedding near-dup index — the [[DedupIndex]] /
  * [[SubstrIndex]] lifecycle (build/append/probe/compact, partition-
  * pruned probes, streaming admission + promotion via
  * [[graft.streaming.EmbedStream]]) applied to dd12's hyperplane-LSH
  * family: one row per (vector × table) holding the NORMALIZED vector
  * and a combined bucket key `tsig = t·2^bits + sig`, bucketed AND
  * sorted on tsig so the daily probe's bucket join reads the index
  * side pre-partitioned, and additionally partitioned on
  * `pb = xxhash64(tsig) mod nParts` so a trickle batch's probe
  * partition-prunes the scan (the [[BucketedIndex]] layout).
  *
  * Unlike [[DedupIndex]] the verification payload (the 64-dim
  * normalized vector, ~512 bytes) lives IN the index row — no side
  * corpus table, so candidate scoring never re-reads the corpus: the
  * probe is one pruned index pass + batch-sized joins. Same LSH
  * constants as dd12 (NdTables × NdBits at NdPlaneBase, bucket cap
  * NdMaxBucket, cosine ≥ NdThreshold): a pair this probe reports
  * against a standing corpus is exactly the pair dd12 would report
  * between the same two vectors; EmbedIndexSpec pins the parity.
  */
object EmbedIndex {

  import SimilarityQueries.{NdBits, NdTables, NdMaxBucket, ndSig}

  /** dd12's verification threshold, re-exported for the streaming
    * admission (the catalog constant is package-private). */
  val Threshold: Double = SimilarityQueries.NdThreshold

  /** Normalize raw (vec_id, embedding) rows to the (vec_id, v) frame
    * every probe/build consumes — cosine thereafter is a plain dot. */
  def normalized(vecs: DataFrame): DataFrame = {
    graft.functions.VectorOps.register(vecs.sparkSession)
    vecs.select(col("vec_id").cast("long").as("vec_id"),
      graft.functions.VectorOps.normalize(
        col("embedding").cast("array<double>")).as("v"))
  }

  /** The (vec_id, v, tsig) rows the index stores — THE signature
    * derivation, shared by build/append, the in-query probe twin, and
    * the streaming admission's state side. */
  def sigRows(vecs: DataFrame): DataFrame = {
    val flat = vecs.select(col("vec_id") +: col("v") +:
      (0 until NdTables).map(t => ndSig(col("v"), t).as(s"_s$t")): _*)
    (0 until NdTables).map(t => flat.select(col("vec_id"), col("v"),
        ((lit(t.toLong) * lit(1L << NdBits)) + col(s"_s$t")).as("tsig")))
      .reduce(_ union _)
  }

  /** The index's layout: (vec_id, v) payload keyed on tsig,
    * partitioned on xxhash64(tsig). */
  private val layout = BucketedIndex(Seq("tsig"), Seq("vec_id", "v"),
    xxhash64(col("tsig")))

  /** Create/overwrite the index from a (vec_id, v) corpus (normalized
    * — pass raw rows through [[normalized]] first). */
  def build(vecs: DataFrame, table: String, nBuckets: Int = 8,
      nParts: Int = 64): Unit =
    layout.build(sigRows(vecs), table, nBuckets, nParts)

  /** Append an accepted batch's rows under the table's own layout.
    * Idempotence lives one level up:
    * [[graft.streaming.EmbedStream.promoteEmbedState]] anti-joins on
    * vec_id against the table before calling this. */
  def append(vecs: DataFrame, table: String): Unit =
    layout.append(sigRows(vecs), table)

  /** Fold the per-append file sets back to one file per (pb, bucket)
    * group ([[BucketedIndex.compact]]). */
  def compact(spark: SparkSession, table: String): Unit =
    layout.compact(spark, table)

  /** Near-dup pairs of `batch` (vec_id, v) against the persisted
    * index — partition-pruned to the batch's own pb values, with
    * `extraRows` (the streaming admission's days-sized un-promoted
    * state, as [[sigRows]]) joined UNPRUNED beside it so the flood cap
    * counts across the whole standing side. Output:
    * (batch_id, hist_id, cos_e6), cosine ≥ [[Threshold]]. */
  def probe(spark: SparkSession, table: String, batch: DataFrame,
      extraRows: Option[DataFrame] = None): DataFrame = {
    val bsig = sigRows(batch)
      .localCheckpoint(true) // read twice: pb collection + bucket join
    val standing = extraRows.foldLeft(layout.prunedScan(spark, table, bsig)) {
      (idx, extra) =>
        idx.union(extra.select(col("vec_id"), col("v"), col("tsig")))
    }
    probeRows(standing, bsig, batch)
  }

  /** [[probe]] against any standing (vec_id, v, tsig) frame — the
    * in-query twin EmbedIndexSpec binds the persisted path against. */
  def probeVecs(standingVecs: DataFrame, batch: DataFrame): DataFrame =
    probeRows(sigRows(standingVecs), sigRows(batch), batch)

  private def probeRows(standingRows: DataFrame, batchSigs: DataFrame,
      batch: DataFrame): DataFrame = {
    graft.functions.VectorOps.register(batch.sparkSession)
    // flooded standing buckets collapse to their min-id representative
    // (dd12's bounded-work rule, counted across index ∪ extra)
    val stats = standingRows.groupBy(col("tsig"))
      .agg(count(lit(1)).as("_n"), min(col("vec_id")).as("_rep"))
    val kept = standingRows.join(stats, Seq("tsig"))
      .filter(col("_n") <= NdMaxBucket || col("vec_id") === col("_rep"))
      .select(col("tsig"), col("vec_id").as("hist_id"))
    val cand = batchSigs.select(col("tsig"), col("vec_id").as("batch_id"))
      .join(kept, Seq("tsig"))
      .select(col("batch_id"), col("hist_id"))
      .distinct()
      .localCheckpoint(true) // read twice: hist-vector narrowing + score
    // candidate-narrowed vector fetch (the r16 verify-set lesson): only
    // docs in candidate pairs ever carry their vectors into a join
    val histV = standingRows.select(col("vec_id"), col("v"))
      .join(cand.select(col("hist_id").as("vec_id")), Seq("vec_id"),
        "left_semi")
      .dropDuplicates("vec_id") // NdTables rows per standing vector
      .select(col("vec_id").as("hist_id"), col("v").as("_vh"))
    val batchV = batch
      .select(col("vec_id").as("batch_id"), col("v").as("_vb"))
    val cos = graft.functions.VectorOps.dot(col("_vb"), col("_vh"))
    cand.join(batchV, "batch_id").join(histV, "hist_id")
      .select(col("batch_id"), col("hist_id"), cos.as("cos"))
      .filter(col("cos") >= Threshold)
      .select(col("batch_id"), col("hist_id"),
        round(col("cos") * 1e6).cast("long").as("cos_e6"))
  }

  /** dd12's exact intra-corpus rule over a (vec_id, v) frame —
    * candidates from shared buckets (cap + rep-chain), exact-cosine
    * verified: the streaming admission's intra-batch pair source, so
    * "near-dup within one micro-batch" is LITERALLY the dd12 relation
    * on that batch. Output: (a_id, b_id), a < b. */
  def pairsWithin(vecs: DataFrame): DataFrame =
    SimilarityQueries.scoreCandidates(
        SimilarityQueries.ndCandidates(vecs), vecs)
      .filter(col("cos") >= Threshold)
      .select(col("a_id"), col("b_id"))
}
