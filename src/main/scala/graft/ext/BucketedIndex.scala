package graft.ext

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The on-disk layout of the persisted indexes ([[DedupIndex]],
  * [[SubstrIndex]], [[EmbedIndex]]) and its whole lifecycle
  * (build/append/pruned scan/compact): a managed parquet table of
  * `payloadCols ++ keyCols ++ pb`, BUCKETED AND SORTED on `keyCols` —
  * so a probe's equi-join on the key reads the index side
  * pre-partitioned (Spark's bucketed-scan path: no Exchange above the
  * index scan) and the bucket-size stats aggregate runs shuffle-free —
  * and PARTITIONED on `pb = pmod(pbHash, nParts)`.
  *
  * `pbHash` is a function of the key columns from a DIFFERENT hash
  * family than the murmur3 Spark's bucketed writer uses on the key, so
  * the partition and the file-bucket dimensions stay independent (a
  * shared family would collapse each pb partition into a single file
  * bucket). Every row of one key group shares its pb, so a pruned scan
  * keeps whole groups and per-key counts on it (the flood caps) stay
  * exact for every key the batch can reach.
  *
  * PARTITION PRUNING: [[prunedScan]] attaches the batch's distinct pb
  * values — a driver list BOUNDED by nParts, the ss11/e09
  * bounded-collect precedent — as a literal partition filter, so probe
  * IO is ∝ partitions the batch actually touches. Honest envelope: the
  * keys are hashes, so a batch with n distinct keys touches
  * ≈ nParts·(1 − (1 − 1/nParts)^n) partitions — pruning bites while
  * n ≲ nParts (the interactive "is THIS document already known?" path,
  * trickle ingestion, per-tenant micro-batches) and degrades to the
  * full one-pass bucketed scan for bulk batches (n ≫ nParts), which
  * remains the design floor. n is 6 keys per batch doc for
  * [[DedupIndex]] (one per band), [[SimilarityQueries.NdTables]] per
  * vector for [[EmbedIndex]] and a few hundred per doc for
  * [[SubstrIndex]].
  *
  * nBuckets and nParts are BUILD-time choices recorded in the catalog
  * (the bucket spec and the [[BucketedIndex.PbProp]] table property)
  * and read back by append, scan and compact, so none of them can
  * disagree with the files; a table without either is refused. Size
  * nParts to the expected probe profile (≈ 10–100× the typical probe's
  * distinct-key count), bounded by the file-count budget: every write
  * makes exactly one file per (pb, bucket).
  */
final case class BucketedIndex(keyCols: Seq[String], payloadCols: Seq[String],
    pbHash: Column) {

  import BucketedIndex.{PbProp, layoutOf}

  // the stored columns, without pb, in file order
  private val columns: Seq[String] = payloadCols ++ keyCols

  private def pbCol(nParts: Int) =
    pmod(pbHash, lit(nParts.toLong)).cast("int").as("pb")

  /** Spark's native bucket id for the key — murmur3 of the bucket
    * columns mod the bucket count, the writer's own function — so
    * pre-shuffling on (pb, bucket id) yields ONE file per
    * (partition, bucket) group per write instead of one per
    * (task, partition, bucket). */
  private def bucketIdCol(nBuckets: Int) =
    pmod(hash(keyCols.map(col): _*), lit(nBuckets))

  private def write(rows: DataFrame, table: String, nBuckets: Int,
      nParts: Int, mode: String): Unit =
    rows.select(columns.map(col) :+ pbCol(nParts): _*)
      .repartition(col("pb"), bucketIdCol(nBuckets))
      .write.mode(mode).format("parquet")
      .partitionBy("pb")
      .bucketBy(nBuckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
      .saveAsTable(table)

  /** Create/overwrite `table` from `rows` (carrying the stored
    * columns) and record nParts in its properties. */
  def build(rows: DataFrame, table: String, nBuckets: Int,
      nParts: Int): Unit = {
    write(rows, table, nBuckets, nParts, "overwrite")
    rows.sparkSession.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      s"('$PbProp' = '$nParts')")
  }

  /** Append `rows` under the table's own bucket spec and pb modulus, so
    * ingestion cannot break the bucketed-join property every probe
    * relies on. */
  def append(rows: DataFrame, table: String): Unit = {
    val (nBuckets, nParts) = layoutOf(rows.sparkSession, table)
    write(rows, table, nBuckets, nParts, "append")
  }

  /** The standing scan (the stored columns) narrowed to the pb
    * partitions `batch` (any frame carrying the key columns) can
    * possibly hit. */
  def prunedScan(spark: SparkSession, table: String,
      batch: DataFrame): DataFrame = {
    val nParts = layoutOf(spark, table)._2
    val idx = spark.table(table)
    val pbs = batch.select(pbCol(nParts)).distinct()
      .collect().map(_.getInt(0)).toSeq
    val pruned =
      if (pbs.isEmpty) idx.where(lit(false))
      else if (pbs.size == nParts) idx // bulk batch covers every
      else idx.where(col("pb").isin(pbs: _*)) // partition: skip the
    pruned.select(columns.map(col): _*)       // pointless IN filter
  }

  /** Rewrite the table under its own partition/bucket spec, folding
    * the one-file-set-per-append accumulation back to exactly one file
    * per (pb, bucket) — file COUNT, not data size, is what years of
    * daily acceptance appends degrade. Content-identical by
    * construction: a straight read-rewrite through a staging table
    * swapped in at the catalog. */
  def compact(spark: SparkSession, table: String): Unit = {
    val (nBuckets, nParts) = layoutOf(spark, table)
    val tmp = table + "__compact"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    build(spark.table(table).select(columns.map(col): _*),
      tmp, nBuckets, nParts)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    // the rename moves the data dir but the catalog's PARTITION
    // entries still point at the staging path — re-list them
    spark.sql(s"MSCK REPAIR TABLE $table")
  }
}

object BucketedIndex {

  /** Table property recording the pb partition modulus. */
  val PbProp = "graft.pb.mod"

  /** The table's pb modulus, from its properties. */
  private[graft] def pbMod(spark: SparkSession, table: String): Option[Int] =
    spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table)).properties
      .get(PbProp).map(_.toInt)

  /** (nBuckets, nParts) of a table [[BucketedIndex.build]] wrote. */
  private def layoutOf(spark: SparkSession, table: String): (Int, Int) = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table))
    meta.bucketSpec.map(_.numBuckets)
      .zip(meta.properties.get(PbProp).map(_.toInt))
      .getOrElse(throw new IllegalArgumentException(
        s"table $table is not a bucketed index: it needs a bucket spec " +
          s"and the '$PbProp' property that BucketedIndex.build records"))
  }
}
