package graft

import org.apache.spark.sql.functions._
import graft.ext.SubstrIndex
import graft.sources.Tables

/** The persisted ExactSubstr window-key index vs dd25's in-query
  * history fold — the DedupIndexSpec convention applied to suffix
  * dedup. */
class SubstrIndexSpec extends SparkSpec {

  private def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    val loc = new java.io.File(s"spark-warehouse/$name")
    if (loc.exists) rm(loc) // pb= partition dirs need the recursion
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSeq

  test("index-backed probe equals in-query dd25 value-for-value; index side stays shuffle-free") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    dropTable("substr_idx_test")
    val d = Tables.table(spark, sfDir, "documents").select("doc_id", "text")
    val isBatch = pmod(col("doc_id"), lit(5)) === 4
    SubstrIndex.build(d.filter(!isBatch), "substr_idx_test")

    val got = rows(SubstrIndex.probe(spark, "substr_idx_test",
      d.filter(isBatch)))
    val want = rows(run("dd25_incremental_substring"))
    assert(want.nonEmpty && got == want,
      s"index probe diverged from dd25: got=${got.take(5)}... " +
        s"want=${want.take(5)}...")
    // some batch doc must actually know windows, or the parity is vacuous
    assert(want.exists(_._4 > 0), s"no known windows in the fixture batch")

    // the storage property: grouping the index by its own key is
    // shuffle-free (bucketBy(h1, h2) pre-partitioned the data)
    val agg = spark.table("substr_idx_test")
      .groupBy(col("h1"), col("h2")).count()
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed index still shuffles on its own key:\n$plan")
  }

  test("build + append equals a from-scratch build over the union; the table stays a SET") {
    dropTable("substr_idx_inc")
    dropTable("substr_idx_all")
    val d = Tables.table(spark, sfDir, "documents").select("doc_id", "text")
    val isBatch = pmod(col("doc_id"), lit(5)) === 4
    val hist = d.filter(!isBatch)
    // the two halves SHARE keys (planted dups + common short windows):
    // append must add only the genuinely new ones
    val (hA, hB) = (hist.filter(col("doc_id") % 2 === 0),
      hist.filter(col("doc_id") % 2 =!= 0))
    SubstrIndex.build(hA, "substr_idx_inc")
    SubstrIndex.append(hB, "substr_idx_inc")
    SubstrIndex.build(hist, "substr_idx_all")

    def keys(t: String) = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (inc, all) = (keys("substr_idx_inc"), keys("substr_idx_all"))
    assert(inc.toSet == all.toSet,
      s"incremental index content diverged: +${(inc.toSet -- all.toSet).size} " +
        s"-${(all.toSet -- inc.toSet).size}")
    // set property: no key appears twice after the append (a dup key
    // would double every later probe count for windows it carries)
    assert(inc.size == inc.toSet.size, "append introduced duplicate keys")

    val batch = d.filter(isBatch)
    assert(rows(SubstrIndex.probe(spark, "substr_idx_inc", batch)) ==
      rows(SubstrIndex.probe(spark, "substr_idx_all", batch)))
  }

  test("probe partition-prunes the key scan to the batch's pb partitions; values match the full scan") {
    import spark.implicits._
    dropTable("substr_idx_prune")
    // corpus keys spread across (nearly) all 64 pb partitions; the
    // 1-doc probe touches at most its own 5 window keys' partitions
    val corpus = (0L until 200L).map(i =>
      (i, (1 to 20).map(j => s"c${i}w$j").mkString(" "))).toDF("doc_id", "text")
    SubstrIndex.build(corpus, "substr_idx_prune")
    val nPbDirs = new java.io.File("spark-warehouse/substr_idx_prune")
      .listFiles.count(_.getName.startsWith("pb="))
    assert(nPbDirs > 32, s"corpus keys landed in only $nPbDirs pb partitions")
    val batch = Seq((999L, (1 to 12).map(j => s"c5w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val probed = SubstrIndex.probe(spark, "substr_idx_prune", batch)
    val got = rows(probed)
    // value parity with the unpruned standing frame
    val want = rows(SubstrIndex.probeKeys(
      spark.table("substr_idx_prune").select("h1", "h2"), batch))
    assert(got == want && got.head._4 == 5L,
      s"pruned probe diverged: got=$got want=$want") // 5 known windows
    // IO receipt: the index scan carries a partition filter on pb and
    // reads ≤ 5 of the pb partitions (one per distinct batch key)
    probed.collect()
    // descend through AQE wrappers — QueryStageExec nodes are leaves
    // to collect(), hiding the scans they contain
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scansIn(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scansIn(a.executedPlan)
      case q: QueryStageExec => scansIn(q.plan)
      case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == "substr_idx_prune") => Seq(f)
      case other => other.children.flatMap(scansIn)
    }
    val scans = scansIn(probed.queryExecution.executedPlan)
    assert(scans.nonEmpty,
      s"no index scan found:\n${probed.queryExecution.executedPlan.toString.take(2000)}")
    assert(scans.head.partitionFilters.exists(_.references.exists(_.name == "pb")),
      s"no pb partition filter on the index scan: ${scans.head.partitionFilters}")
    val selected = scans.head.selectedPartitions.partitionCount
    assert(selected <= 5 && selected < nPbDirs,
      s"probe read $selected of $nPbDirs partitions — pruning not effective")
  }

  test("compact folds per-append file sets to one file per (pb, bucket); content, probe, and layout survive") {
    import spark.implicits._
    dropTable("substr_idx_cpt")
    dropTable("substr_idx_cpt__compact")
    val mk = (lo: Long, hi: Long) => (lo until hi).map(i =>
      (i, (1 to 20).map(j => s"d${i}w$j").mkString(" "))).toDF("doc_id", "text")
    SubstrIndex.build(mk(0L, 60L), "substr_idx_cpt", nBuckets = 4, nParts = 8)
    SubstrIndex.append(mk(60L, 120L), "substr_idx_cpt")
    SubstrIndex.append(mk(120L, 180L), "substr_idx_cpt")
    def files(t: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles.map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"spark-warehouse/$t"))
    }
    def keys(t: String) = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = mk(60L, 70L)
    val (before, keysBefore, probeBefore) =
      (files("substr_idx_cpt"), keys("substr_idx_cpt"),
        rows(SubstrIndex.probe(spark, "substr_idx_cpt", batch)))
    assert(before > 32, s"3 writes produced only $before files — fixture too small")
    SubstrIndex.compact(spark, "substr_idx_cpt")
    val after = files("substr_idx_cpt")
    assert(after <= 8 * 4 && after < before,
      s"compact left $after files (before: $before, bound: 32)")
    assert(keys("substr_idx_cpt").sorted == keysBefore.sorted,
      "compact changed the key set")
    assert(keysBefore.size == keysBefore.distinct.size, "pre-compact table not a set")
    assert(rows(SubstrIndex.probe(spark, "substr_idx_cpt", batch)) == probeBefore,
      "compact changed probe results")
    // layout survives the rewrite: pb modulus property + bucketed agg
    // still exchange-free + pruning still engages
    assert(graft.ext.BucketedIndex.pbMod(spark, "substr_idx_cpt").contains(8))
    val agg = spark.table("substr_idx_cpt").groupBy(col("h1"), col("h2")).count()
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"), "compact lost the bucket spec")
  }

  test("re-appending an already-indexed batch is a no-op (idempotent acceptance)") {
    dropTable("substr_idx_idem")
    val d = Tables.table(spark, sfDir, "documents").select("doc_id", "text")
    val isBatch = pmod(col("doc_id"), lit(5)) === 4
    SubstrIndex.build(d.filter(!isBatch), "substr_idx_idem")
    val batch = d.filter(isBatch)
    SubstrIndex.append(batch, "substr_idx_idem")
    val n1 = spark.table("substr_idx_idem").count()
    SubstrIndex.append(batch, "substr_idx_idem") // accidental re-run
    val n2 = spark.table("substr_idx_idem").count()
    assert(n1 == n2, s"re-append grew the index: $n1 -> $n2")
    // and the post-acceptance probe sees the batch as fully known
    val probed = rows(SubstrIndex.probe(spark, "substr_idx_idem", batch))
    assert(probed.nonEmpty && probed.forall(r => r._3 == 0 || r._4 == r._3),
      s"accepted batch not fully known to its own index: ${probed.take(5)}")
  }
}
