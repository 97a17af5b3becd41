package graft

import org.apache.spark.sql.functions._
import graft.ext.{BucketedIndex, DedupIndex, EmbedIndex, SubstrIndex, TextOps}
import graft.sources.Tables

/** The persisted bucketed LSH index vs dd17's in-query probe. */
class DedupIndexSpec extends SparkSpec {

  private def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    val loc = new java.io.File(s"spark-warehouse/$name")
    if (loc.exists) rm(loc) // pb= partition dirs need the recursion
  }

  test("persisted-index probe emits exactly dd17's pair set; index side stays shuffle-free") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    dropTable("dedup_idx_test")
    val d = Tables.table(spark, sfDir, "documents").select("doc_id", "text")
    val isBatch = pmod(col("doc_id"), lit(5)) === 4
    val hist = d.filter(!isBatch)
    val batch = d.filter(isBatch)
    DedupIndex.build(hist, "dedup_idx_test")

    val got = DedupIndex.probe(spark, "dedup_idx_test", batch, hist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = TextOps.lshProbePairs(
        TextOps.wordShingleRows(hist, "doc_id", "text", 3),
        TextOps.wordShingleRows(batch, "doc_id", "text", 3),
        "doc_id", DedupIndex.Hashes, DedupIndex.RowsPerBand, 100, 8, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(want.nonEmpty && got == want,
      s"index probe diverged: extra=${got -- want}, missing=${want -- got}")

    // the storage property itself: grouping the index by its bucket key
    // is shuffle-free (bucketBy(band, bucket) pre-partitioned the data)
    val agg = spark.table("dedup_idx_test").groupBy(col("band"), col("bucket")).count()
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed index still shuffles on its own key:\n$plan")
  }

  test("a doc_id on BOTH sides keeps per-side verify sets (re-submission must not corrupt Jaccard)") {
    // doc 1 exists in HISTORY with content A and in the BATCH with
    // unrelated content B' that near-dups history doc 2's content B.
    // A union+groupBy set agg would merge A and B' into one set for
    // id 1, diluting Jaccard(1_batch, 2_hist) to ~0.5 and silently
    // DROPPING the true near-dup pair. Per-side sets keep it.
    import spark.implicits._
    val a = (0 until 40).map(i => s"u$i").mkString(" ")
    val b = (0 until 40).map(i => s"w$i").mkString(" ")
    val bPrime = ((0 until 39).map(i => s"w$i") :+ "zz").mkString(" ")
    val hist = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val batch = Seq((1L, bPrime)).toDF("doc_id", "text")
    val histRows = TextOps.wordShingleRows(hist, "doc_id", "text", 3)
    val batchRows = TextOps.wordShingleRows(batch, "doc_id", "text", 3)
    val got = TextOps.lshProbePairs(histRows, batchRows, "doc_id",
        DedupIndex.Hashes, DedupIndex.RowsPerBand, 100, 8, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // exact expected overlap: B' changes only B's last word → 1 of the
    // 38 3-shingles differs; inter=37, uni=39, J≈0.95 ≥ 0.8
    assert(got == Set((1L, 2L, 37L, 39L)),
      s"per-side verify sets broken: $got")

    // the persisted-index path applies the same rule
    dropTable("dedup_idx_resub")
    DedupIndex.build(hist, "dedup_idx_resub")
    val gotIdx = DedupIndex.probe(spark, "dedup_idx_resub", batch, hist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(gotIdx == Set((1L, 2L, 37L, 39L)),
      s"index probe per-side verify sets broken: $gotIdx")
  }

  test("compact folds per-append file sets to one file per bucket; content, probe, and layout survive") {
    dropTable("dedup_idx_cpt")
    dropTable("dedup_idx_cpt__compact")
    val d = Tables.table(spark, sfDir, "documents").select("doc_id", "text")
    val isBatch = pmod(col("doc_id"), lit(5)) === 4
    val hist = d.filter(!isBatch)
    val batch = d.filter(isBatch)
    DedupIndex.build(hist.filter(col("doc_id") % 3 === 0), "dedup_idx_cpt")
    DedupIndex.append(hist.filter(col("doc_id") % 3 === 1), "dedup_idx_cpt")
    DedupIndex.append(hist.filter(col("doc_id") % 3 === 2), "dedup_idx_cpt")
    def files(t: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles.map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"spark-warehouse/$t"))
    }
    def rows(t: String) = spark.table(t).collect()
      .map(_.mkString("|")).toSeq.sorted
    def pairs() = DedupIndex.probe(spark, "dedup_idx_cpt", batch, hist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val (before, rowsBefore, pairsBefore) =
      (files("dedup_idx_cpt"), rows("dedup_idx_cpt"), pairs())
    assert(before > 8, s"3 writes produced only $before files — fixture too small")
    DedupIndex.compact(spark, "dedup_idx_cpt")
    val after = files("dedup_idx_cpt")
    // one file per touched (pb, bucket) group: bound = 64 pb × 8 buckets
    assert(after <= 64 * 8 && after < before,
      s"compact left $after files (before: $before, bound: ${64 * 8})")
    assert(BucketedIndex.pbMod(spark, "dedup_idx_cpt").contains(64),
      "compact lost the pb modulus property")
    assert(rows("dedup_idx_cpt") == rowsBefore, "compact changed the bucket rows")
    assert(pairsBefore.nonEmpty && pairs() == pairsBefore,
      "compact changed probe pairs")
    val agg = spark.table("dedup_idx_cpt")
      .groupBy(col("band"), col("bucket")).count()
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"), "compact lost the bucket spec")
  }

  test("build + append equals a from-scratch build over the union") {
    dropTable("dedup_idx_inc")
    dropTable("dedup_idx_all")
    val d = Tables.table(spark, sfDir, "documents").select("doc_id", "text")
    val isBatch = pmod(col("doc_id"), lit(5)) === 4
    val hist = d.filter(!isBatch)
    val (h1, h2) = (hist.filter(col("doc_id") % 2 === 0),
      hist.filter(col("doc_id") % 2 =!= 0))
    DedupIndex.build(h1, "dedup_idx_inc")
    DedupIndex.append(h2, "dedup_idx_inc")
    DedupIndex.build(hist, "dedup_idx_all")
    val batch = d.filter(isBatch)
    def pairs(t: String) = DedupIndex.probe(spark, t, batch, hist)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs("dedup_idx_inc") == pairs("dedup_idx_all"))
  }

  test("probe partition-prunes the index scan to the batch's pb partitions; pairs match the full scan") {
    import spark.implicits._
    dropTable("dedup_idx_prune")
    // 200 all-distinct docs spread buckets across (nearly) all 64 pb
    // partitions; the 2-doc probe touches ≤ 12 (6 bands per doc)
    val corpus = (0L until 200L).map(i =>
      (i, (1 to 20).map(j => s"c${i}w$j").mkString(" "))).toDF("doc_id", "text")
    DedupIndex.build(corpus, "dedup_idx_prune")
    val nPbDirs = new java.io.File("spark-warehouse/dedup_idx_prune")
      .listFiles.count(_.getName.startsWith("pb="))
    assert(nPbDirs > 32, s"corpus buckets landed in only $nPbDirs pb partitions")
    // 999 = exact copy of doc 7 (every band matches — a guaranteed
    // candidate with J = 1); 998 = fresh (no standing bucket hit)
    val batch = Seq(
      (999L, (1 to 20).map(j => s"c7w$j").mkString(" ")),
      (998L, (1 to 20).map(j => s"zw$j").mkString(" "))).toDF("doc_id", "text")
    val probed = DedupIndex.probe(spark, "dedup_idx_prune", batch, corpus)
    val got = probed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // value parity with the unpruned standing frame
    val want = DedupIndex.probeBuckets(
        spark.table("dedup_idx_prune")
          .select(col("doc_id"), col("band"), col("bucket")),
        batch, corpus)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want && got.contains((999L, 7L, 18L, 18L)),
      s"pruned probe diverged: got=$got want=$want")
    // IO receipt: the index scan carries a pb partition filter and
    // reads ≤ 12 partitions (one per distinct batch band/bucket)
    probed.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scansIn(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scansIn(a.executedPlan)
      case q: QueryStageExec => scansIn(q.plan)
      case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == "dedup_idx_prune") => Seq(f)
      case other => other.children.flatMap(scansIn)
    }
    val scans = scansIn(probed.queryExecution.executedPlan)
    assert(scans.nonEmpty,
      s"no index scan found:\n${probed.queryExecution.executedPlan.toString.take(2000)}")
    assert(scans.head.partitionFilters.exists(_.references.exists(_.name == "pb")),
      s"no pb partition filter on the index scan: ${scans.head.partitionFilters}")
    val selected = scans.head.selectedPartitions.partitionCount
    assert(selected <= 12 && selected < nPbDirs,
      s"probe read $selected of $nPbDirs partitions — pruning not effective")
  }

  test("probe, append and compact refuse a table that build did not write, naming it") {
    import spark.implicits._
    dropTable("plain_idx")
    val docs = Seq((7L, (1 to 12).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    // the index's own rows, written without its layout
    DedupIndex.bucketRows(docs).write.format("parquet").saveAsTable("plain_idx")
    val stored = spark.table("plain_idx").count()
    val vecs = EmbedIndex.normalized(Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).limit(2))
    val calls: Seq[(String, () => Any)] = Seq(
      "DedupIndex.probe" -> (() => DedupIndex.probe(spark, "plain_idx", docs, docs)),
      "DedupIndex.append" -> (() => DedupIndex.append(docs, "plain_idx")),
      "DedupIndex.compact" -> (() => DedupIndex.compact(spark, "plain_idx")),
      "SubstrIndex.probe" -> (() => SubstrIndex.probe(spark, "plain_idx", docs)),
      "SubstrIndex.append" -> (() => SubstrIndex.append(docs, "plain_idx")),
      "SubstrIndex.compact" -> (() => SubstrIndex.compact(spark, "plain_idx")),
      "EmbedIndex.probe" -> (() => EmbedIndex.probe(spark, "plain_idx", vecs)),
      "EmbedIndex.append" -> (() => EmbedIndex.append(vecs, "plain_idx")),
      "EmbedIndex.compact" -> (() => EmbedIndex.compact(spark, "plain_idx")))
    calls.foreach { case (name, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("table plain_idx is not a bucketed index"),
        s"$name raised: ${e.getMessage}")
    }
    assert(spark.table("plain_idx").count() == stored, "a refused call changed the table")
  }
}
