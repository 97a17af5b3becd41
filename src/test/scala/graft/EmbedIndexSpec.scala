package graft

import org.apache.spark.sql.functions._
import graft.ext.EmbedIndex
import graft.sources.Tables

/** The persisted embedding near-dup index vs its in-query probe twin:
  * storage faithfulness (parity through parquet + pruning), the
  * append/compact lifecycle, and the pb partition-pruning plan gate. */
class EmbedIndexSpec extends SparkSpec {

  private def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    val loc = new java.io.File(s"spark-warehouse/$name")
    if (loc.exists) rm(loc) // pb= partition dirs need the recursion
  }

  private def vectors = EmbedIndex.normalized(
    Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")))

  private def triples(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("persisted probe equals the in-query twin; index side shuffle-free; build+append == rebuild") {
    dropTable("embed_idx_test")
    dropTable("embed_idx_inc")
    val vs = vectors
    val isBatch = pmod(col("vec_id"), lit(5)) === 4
    val hist = vs.filter(!isBatch).localCheckpoint(true)
    // the fixture split plus one planted exact copy of hist vector 0,
    // so the expected pair set is non-empty by construction
    val batch = vs.filter(isBatch)
      .union(vs.filter(col("vec_id") === 0)
        .select(lit(9999L).as("vec_id"), col("v")))
      .localCheckpoint(true)
    EmbedIndex.build(hist, "embed_idx_test")

    val got = triples(EmbedIndex.probe(spark, "embed_idx_test", batch))
    val want = triples(EmbedIndex.probeVecs(hist, batch))
    assert(got == want && got.contains((9999L, 0L, 1000000L)),
      s"index probe diverged: extra=${got -- want}, missing=${want -- got}")

    // bucketed storage property: grouping by the bucket key is
    // shuffle-free (bucketBy(tsig) pre-partitioned the data)
    val agg = spark.table("embed_idx_test").groupBy(col("tsig")).count()
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "bucketed index still shuffles on its own key")

    // build + append equals a from-scratch build over the union
    val (h1, h2) = (hist.filter(col("vec_id") % 2 === 0),
      hist.filter(col("vec_id") % 2 =!= 0))
    EmbedIndex.build(h1, "embed_idx_inc")
    EmbedIndex.append(h2, "embed_idx_inc")
    assert(triples(EmbedIndex.probe(spark, "embed_idx_inc", batch)) == want,
      "incremental build diverged from the from-scratch build")
  }

  test("probe partition-prunes the index scan to the batch's pb partitions; compact preserves everything") {
    import spark.implicits._
    dropTable("embed_idx_prune")
    dropTable("embed_idx_prune__compact")
    val vs = vectors
    val hist = vs.filter(col("vec_id") >= 3).localCheckpoint(true)
    EmbedIndex.build(hist.filter(col("vec_id") % 2 === 1), "embed_idx_prune")
    EmbedIndex.append(hist.filter(col("vec_id") % 2 === 0), "embed_idx_prune")
    val nPbDirs = new java.io.File("spark-warehouse/embed_idx_prune")
      .listFiles.count(_.getName.startsWith("pb="))
    assert(nPbDirs > 16, s"corpus sigs landed in only $nPbDirs pb partitions")
    // batch: one exact copy of hist vector 7 under a fresh id — all 8
    // table signatures identical, so the pair (999, 7, 1000000) is
    // guaranteed; the probe touches ≤ 8 tsig buckets → ≤ 8 partitions
    val batch = EmbedIndex.normalized(
      vs.filter(col("vec_id") === 7)
        .select(lit(999L).as("vec_id"), col("v").as("embedding")))
    val probed = EmbedIndex.probe(spark, "embed_idx_prune", batch)
    val got = triples(probed)
    val want = triples(EmbedIndex.probeVecs(hist, batch))
    assert(got == want && got.contains((999L, 7L, 1000000L)),
      s"pruned probe diverged: got=$got want=$want")
    probed.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scansIn(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scansIn(a.executedPlan)
      case q: QueryStageExec => scansIn(q.plan)
      case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == "embed_idx_prune") => Seq(f)
      case other => other.children.flatMap(scansIn)
    }
    val scans = scansIn(probed.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no index scan found in the probe plan")
    assert(scans.head.partitionFilters.exists(_.references.exists(_.name == "pb")),
      s"no pb partition filter on the index scan: ${scans.head.partitionFilters}")
    val selected = scans.head.selectedPartitions.partitionCount
    assert(selected <= 8 && selected < nPbDirs,
      s"probe read $selected of $nPbDirs partitions — pruning not effective")

    // compact: content, probe, pb layout and the file-count bound
    def files(t: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles.map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"spark-warehouse/$t"))
    }
    def rows(t: String) = spark.table(t)
      .select(col("vec_id"), col("tsig")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val (before, rowsBefore) = (files("embed_idx_prune"), rows("embed_idx_prune"))
    EmbedIndex.compact(spark, "embed_idx_prune")
    val after = files("embed_idx_prune")
    assert(after <= 64 * 8 && after < before,
      s"compact left $after files (before: $before, bound: ${64 * 8})")
    assert(rows("embed_idx_prune") == rowsBefore, "compact changed the rows")
    assert(graft.ext.BucketedIndex.pbMod(spark, "embed_idx_prune").contains(64),
      "compact lost the pb modulus property")
    assert(triples(EmbedIndex.probe(spark, "embed_idx_prune", batch)) == want,
      "compact changed probe pairs")
  }
}
