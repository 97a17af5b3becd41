package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted banded-LSH dedup index: the storage artifact dd17's probe
  * and [[graft.streaming.DocsStream]] describe in prose — the standing
  * corpus's (doc_id, band, bucket) rows in the [[BucketedIndex]] layout
  * keyed on (band, bucket), so that the daily probe's equi-join reads
  * the index side pre-partitioned and pb-pruned, and appending an
  * accepted batch preserves the bucketing.
  *
  * The index stores buckets only, not shingles: verification re-derives
  * shingle sets for exactly the CANDIDATE history docs (a semi-join
  * narrows the corpus read to the handful of ids the probe surfaced) —
  * at 100 TB the candidates are KBs while the corpus is the 100 TB, so
  * the index stays minhash-narrow and the text fetch is bounded by the
  * batch's match count.
  *
  * Same LSH constants as dd03/dd17 (36 hashes × 6 rows/band, bucket
  * cap 100, Jaccard threshold 8/10): a pair this probe reports is
  * exactly a dd17 pair — DedupIndexSpec proves the persisted-index path
  * emits the identical pair set. The streaming near-dup admission
  * ([[graft.streaming.DocsStream]]) reads the same five, so a doc it
  * rejects is exactly a dd17 pair too.
  */
object DedupIndex {

  val Hashes = 36
  val RowsPerBand = 6
  val MaxBucket = 100
  val ThreshNum = 8
  val ThreshDen = 10

  /** The (doc_id, band, bucket) rows the index stores, derived from
    * (doc_id, text) docs — THE band/bucket derivation, shared by
    * build/append and by the streaming admission's state side so the
    * two can never disagree with the stored rows. */
  def bucketRows(docs: DataFrame): DataFrame =
    TextOps.bandBucketRows(
      TextOps.wordShingleRows(docs, "doc_id", "text", 3),
      "doc_id", Hashes, RowsPerBand)

  /** The index's layout: (doc_id) payload keyed on (band, bucket),
    * partitioned on xxhash64 of the bucket key. */
  private val layout = BucketedIndex(Seq("band", "bucket"),
    Seq("doc_id"), xxhash64(col("band"), col("bucket")))

  /** Create/overwrite the index table from a corpus of (doc_id, text). */
  def build(docs: DataFrame, table: String, nBuckets: Int = 8,
      nParts: Int = 64): Unit =
    layout.build(bucketRows(docs), table, nBuckets, nParts)

  /** Append an accepted batch's buckets under the table's own layout —
    * the DocsStream admission loop's state-append as a table
    * operation. */
  def append(docs: DataFrame, table: String): Unit =
    layout.append(bucketRows(docs), table)

  /** Fold the per-append file sets back to one file per (pb, bucket)
    * group ([[BucketedIndex.compact]]); DedupIndexSpec pins rebuild
    * equivalence, probe parity, the layout, and the file-count bound. */
  def compact(spark: SparkSession, table: String): Unit =
    layout.compact(spark, table)

  /** Near-dup pairs of `batch` against the persisted index: banded
    * candidates (flooded index buckets collapse to their min-id
    * representative, dd17's bounded-work rule), then exact-Jaccard
    * verification against shingle sets re-derived from `corpus` for
    * candidate hist ids ONLY. The index side reads bucketed AND
    * partition-pruned to the batch's own pb values.
    * `extraBuckets`: standing rows joined UNPRUNED and in full — the
    * streaming admission's days-sized un-promoted state — so the
    * flood cap counts across index ∪ extra exactly as the in-query
    * fold would. Output: batch_id, hist_id, inter, uni. */
  def probe(
      spark: SparkSession,
      table: String,
      batch: DataFrame,
      corpus: DataFrame,
      maxBucketSize: Int = MaxBucket,
      threshNum: Int = ThreshNum,
      threshDen: Int = ThreshDen,
      extraBuckets: Option[DataFrame] = None): DataFrame = {
    val batchRows = TextOps.wordShingleRows(batch, "doc_id", "text", 3)
    val bb = TextOps.bandBucketRows(batchRows, "doc_id", Hashes, RowsPerBand)
      .select(col("band"), col("bucket"), col("doc_id").as("batch_id"))
      .localCheckpoint(true) // read twice: pb collection + the probe join
    val standing = extraBuckets.foldLeft(layout.prunedScan(spark, table, bb)) {
      (idx, extra) =>
        idx.union(extra.select(col("doc_id"), col("band"), col("bucket")))
    }
    probeRows(standing, batchRows, bb, corpus,
      maxBucketSize, threshNum, threshDen)
  }

  /** [[probe]] against any standing (doc_id, band, bucket) frame —
    * the persisted index scan, optionally unioned with bucket rows
    * derived from a not-yet-promoted streaming state
    * ([[bucketRows]]), so the flooded-bucket cap counts across the
    * WHOLE standing side exactly as the in-query fold would.
    * `corpus` must carry the text of every standing doc_id the frame
    * references (verification reads it candidate-narrowed). */
  def probeBuckets(
      standingBuckets: DataFrame,
      batch: DataFrame,
      corpus: DataFrame,
      maxBucketSize: Int = MaxBucket,
      threshNum: Int = ThreshNum,
      threshDen: Int = ThreshDen): DataFrame = {
    val batchRows = TextOps.wordShingleRows(batch, "doc_id", "text", 3)
    val bb = TextOps.bandBucketRows(batchRows, "doc_id", Hashes, RowsPerBand)
      .select(col("band"), col("bucket"), col("doc_id").as("batch_id"))
    probeRows(standingBuckets, batchRows, bb, corpus,
      maxBucketSize, threshNum, threshDen)
  }

  private def probeRows(
      standingBuckets: DataFrame,
      batchRows: DataFrame,
      bb: DataFrame,
      corpus: DataFrame,
      maxBucketSize: Int,
      threshNum: Int,
      threshDen: Int): DataFrame = {
    val idx = standingBuckets
    val kept = TextOps.capFloodedBuckets(idx, "doc_id", maxBucketSize)
      .select(col("band"), col("bucket"), col("doc_id").as("hist_id"))
    val cand = bb.join(kept, Seq("band", "bucket"))
      .select(col("batch_id"), col("hist_id"))
      .distinct()
    // verify sets aggregate PER SIDE (a doc_id on both sides — a
    // re-submission — must compare batch-content vs history-content,
    // not a merged set): candidate hist docs only (semi-join-narrowed
    // corpus read) on one side, the batch itself on the other
    val histDocs = corpus.join(
      cand.select(col("hist_id").as("doc_id")).distinct(), Seq("doc_id"),
      "left_semi")
    val histSets = TextOps.wordShingleRows(histDocs, "doc_id", "text", 3)
      .groupBy(col("doc_id")).agg(collect_set(col("_el")).as("_sb"))
      .select(col("doc_id").as("hist_id"), col("_sb"))
    val batchSets = batchRows
      .groupBy(col("doc_id")).agg(collect_set(col("_el")).as("_sa"))
      .select(col("doc_id").as("batch_id"), col("_sa"))
    cand.join(batchSets, "batch_id").join(histSets, "hist_id")
      .withColumn("inter",
        size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .withColumn("uni",
        size(array_union(col("_sa"), col("_sb"))).cast("long"))
      .filter(col("inter") * threshDen >= col("uni") * threshNum)
      .select(col("batch_id"), col("hist_id"), col("inter"), col("uni"))
  }
}
