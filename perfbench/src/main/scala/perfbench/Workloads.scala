package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.{CatalogQuery, SparkEntry}
import graft.datagen.{RetailData, StarSchema}
import graft.ext.DedupIndex

/** One operation of a pass. `run` is the timed body; the thunk it
  * returns computes the operation's digest after the pass, outside
  * every timed span. `repeats`: the digest must be identical in every
  * pass (it must always be identical across runs of one seed). */
final case class Op(name: String, repeats: Boolean, run: Int => (() => String))

trait Workload {
  def name: String
  /** Layers (metric prefixes) this workload calls. */
  def layers: Set[String]
  /** Layer whose `build_s` the catalog builders report into. */
  def buildLayer: String
  def record: Map[String, Any]
  /** The input set-up, run once before the cold pass. */
  def setUp(): Unit
  def ops: Seq[Op]
  /** Stored bytes per row held, read after the last measured pass. */
  def bytesPerRow(): Double
  /** Named checks run after the last pass: None when the check holds. */
  def finalChecks(): Seq[(String, Option[String])]
  /** What the final checks saw, for the run's log. */
  def checkNotes: Map[String, Any] = Map.empty
  /** Directory the DuckDB oracle reads `<table>.parquet` from. */
  def oracleTableDir: String
  /** Ops whose DuckDB oracle runs once per seed. */
  def oracleOps: Seq[String]
}

object Plans extends AdaptiveSparkPlanHelper {
  /** File scans of an executed plan, subqueries and reused stages included. */
  def scans(df: DataFrame): Seq[FileSourceScanExec] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }.distinct

  def filesRead(s: FileSourceScanExec): Long =
    s.metrics.getOrElse("numFiles", sys.error(s"no numFiles metric on ${s.nodeName}")).value
}

/** Steps shared by both workloads: catalog queries as build / plan /
  * action, the action being Bench's forced row digest. */
final class Steps(spark: SparkSession, t: Tracer) {

  def query(name: String): CatalogQuery =
    SparkEntry.catalog.find(_.name == name)
      .getOrElse(sys.error(s"no catalog query named $name"))

  /** count plus bit_xor(xxhash64(row)): forces every output column. */
  def digestFrame(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), bit_xor(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*))))

  def digestString(r: Row): String =
    s"${r.getLong(0)}:${if (r.isNullAt(1)) "null" else r.getLong(1).toString}"

  /** In the cold pass the action writes the result as parquet under
    * `outDir` (the DuckDB oracle reads it; the digest is taken from the
    * files after the pass); every later pass runs Bench's digest. */
  def catalogOp(q: CatalogQuery, dir: String, outDir: String): Op = Op(q.name, repeats = true, p => {
    val df = t.span("phase", "build")(q.build(spark, dir))
    if (p == 0) {
      val out = s"$outDir/${q.name}"
      t.span("phase", "action")(df.write.mode("overwrite").parquet(out))
      () => digestString(digestFrame(spark.read.parquet(out)).collect().head)
    } else {
      val d = digestFrame(df)
      t.span("phase", "plan")(d.queryExecution.executedPlan)
      val r = t.span("phase", "action")(d.collect().head)
      if (t.traced) planCounters(df, d)
      () => digestString(r)
    }
  })

  /** Planner phases from the QueryPlanningTracker of the built frame
    * (analysis during build) and of the digest frame the action ran
    * (its own analysis, optimization and planning), plus files read. */
  private def planCounters(built: DataFrame, ran: DataFrame): Unit = {
    val b = built.queryExecution.tracker.phases
    val r = ran.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { ph =>
      val ms = (if (ph == "analysis") b.get(ph).map(_.durationMs) else None).toSeq ++
        r.get(ph).map(_.durationMs)
      if (r.contains(ph)) t.add(s"plan.${ph}_s", ms.sum / 1e3)
    }
    t.add("files_read", Plans.scans(ran).map(Plans.filesRead).sum.toDouble)
  }

  /** Parquet files and bytes under a directory tree. */
  def filesUnder(dir: Path): (Int, Long) =
    if (!Files.exists(dir)) (0, 0L)
    else {
      val fs = Files.walk(dir).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toList
      (fs.size, fs.map(Files.size).sum)
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).iterator().asScala.toList.reverse.foreach(p => Files.delete(p))

  def tableDir(table: String): Path =
    Paths.get(spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .location)
}

/** The reference's own workload: TPC-DS-shaped catalog queries over a
  * seeded star-schema snapshot, read through RetailData's views. */
final class SqlAnalytics(spark: SparkSession, t: Tracer, steps: Steps,
    seed: Long, outDir: String, factRows: Long) extends Workload {

  val name = "sql_analytics"
  val layers = Set("datagen", "workloads", "plans", "sources", "spark", "jvm")
  val buildLayer = "workloads"

  /** tpcds_q14a: the planner-heavy query (hundreds of ms in Catalyst);
    * tpcds_q72: the compute-bound join explosion; the rest cover
    * star joins, rollups and window ranking over the same snapshot. */
  val queries: Seq[String] = Seq("tpcds_q14a", "tpcds_q72", "impala_q19",
    "rq1_category_rollup_rank", "tpcds_q3")

  private val dir = sys.env.getOrElse("SPARK_GRAFT_RETAIL_DIR",
    sys.error("SPARK_GRAFT_RETAIL_DIR must name the run's snapshot directory"))

  def record: Map[String, Any] = Map("fact_rows" -> factRows,
    "snapshot_dir" -> "retail", "queries" -> queries)

  def setUp(): Unit = {
    t.span("phase", "datagen") {
      StarSchema.tables(spark, factRows, seed).foreach { case (n, df) =>
        df.write.mode("overwrite").parquet(s"$dir/$n")
      }
    }
    // RetailData.ensure treats the marker as "snapshot present"
    Files.write(Paths.get(dir, "_SNAPSHOT_DONE"), java.util.Arrays.asList(RetailData.version.toString))
  }

  lazy val ops: Seq[Op] = queries.map(n => steps.catalogOp(steps.query(n), dir, outDir))

  def bytesPerRow(): Double = steps.filesUnder(Paths.get(dir))._2.toDouble / factRows

  def finalChecks(): Seq[(String, Option[String])] = Nil

  def oracleTableDir: String = dir

  def oracleOps: Seq[String] = queries
}

/** The document pipeline: corpus operators over a seeded corpus, then
  * one DedupIndex cycle (probe, append, compact) per pass against a
  * standing index built in set-up. */
final class DocPipeline(spark: SparkSession, t: Tracer, steps: Steps,
    seed: Long, runDir: String, outDir: String, geometry: DocCorpus.Geometry,
    batchDocs: Int, nBuckets: Int, nParts: Int) extends Workload {

  val name = "doc_pipeline"
  val layers = Set("ext", "plans", "sources", "spark", "jvm")
  val buildLayer = "ext"

  val corpusOps: Seq[String] =
    Seq("dd10_dedup_clusters_lsh", "dd15_substring_dedup", "dp13_balanced_shards")

  private val docsDir = s"$runDir/docs"
  private val docsFile = s"$docsDir/documents.parquet"
  private val index = "bench_dedup_idx"
  private val corpusTable = "bench_corpus"
  private lazy val corpus = DocCorpus.corpus(seed, geometry)
  private var appended = 0L
  // batch docs the last probe did not match: what append adds
  private var pending: Option[Seq[DocCorpus.Doc]] = None

  def record: Map[String, Any] = Map(
    "corpus_docs" -> geometry.docs, "base_docs" -> geometry.baseDocs,
    "exact_dup_groups" -> geometry.exactGroups, "near_dups" -> geometry.nearDups,
    "chains" -> geometry.chains, "chain_hops" -> geometry.chainHops,
    "batch_docs" -> batchDocs, "index_buckets" -> nBuckets,
    "index_parts" -> nParts, "corpus_ops" -> corpusOps)

  private def frame(docs: Seq[DocCorpus.Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.lang, d.source, d.text.length)).toDF(
      "doc_id", "text", "lang", "source", "n_chars")
  }

  def setUp(): Unit = {
    t.span("phase", "corpus") {
      // one parquet file, as the fixtures are: DuckDB reads it by name
      val tmp = s"$docsDir/documents.tmp"
      frame(DocCorpus.corpus(seed, geometry)).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet file written under $tmp"))
      Files.move(part, Paths.get(docsFile), StandardCopyOption.REPLACE_EXISTING)
      steps.deleteTree(Paths.get(tmp))
      spark.read.parquet(docsFile).select("doc_id", "text")
        .write.mode("overwrite").format("parquet").saveAsTable(corpusTable)
    }
    t.span("phase", "idx_build") {
      DedupIndex.build(spark.table(corpusTable), index, nBuckets, nParts)
    }
    appended = 0L
  }

  lazy val ops: Seq[Op] =
    corpusOps.map(n => steps.catalogOp(steps.query(n), docsDir, outDir)) ++ Seq(
      Op("idx_probe", repeats = false, p => {
        pending = None
        val batch = DocCorpus.batch(seed, p, corpus, batchDocs)
        val before = if (t.traced) steps.filesUnder(steps.tableDir(index))._1 else 0
        val (pairs, rows) = t.span("phase", "probe") {
          val df = DedupIndex.probe(spark, index, frame(batch).select("doc_id", "text"),
            spark.table(corpusTable).select("doc_id", "text"))
          (df, df.collect())
        }
        if (t.traced) {
          val idxScans = Plans.scans(pairs).filter(_.tableIdentifier.exists(_.table == index))
          t.add("idx_files_read", idxScans.map(Plans.filesRead).sum.toDouble)
          t.add("idx_files_scanned", before.toDouble * idxScans.size)
        }
        val matched = rows.map(_.getLong(0)).toSet
        pending = Some(batch.filterNot(d => matched(d.id)))
        () => rows.map(r => (r.getLong(0), r.getLong(1))).sorted.mkString(",").hashCode.toHexString +
          s"/${rows.length}"
      }),
      Op("idx_append", repeats = false, _ => {
        val docs = pending.getOrElse(sys.error("no probe result to append"))
        pending = None
        t.span("phase", "append") {
          val df = frame(docs).select("doc_id", "text")
          DedupIndex.append(df, index)
          df.write.mode("append").format("parquet").saveAsTable(corpusTable)
        }
        appended += docs.size
        () => s"${docs.size}:${docs.map(_.id).sum}"
      }),
      Op("idx_compact", repeats = false, _ => {
        t.span("phase", "compact")(DedupIndex.compact(spark, index))
        if (t.traced) {
          val (files, bytes) = steps.filesUnder(steps.tableDir(index))
          t.add("idx_files", files.toDouble)
          t.add("idx_b", bytes.toDouble)
        }
        () => steps.digestString(steps.digestFrame(
          spark.table(index).select("doc_id", "band", "bucket", "pb")).collect().head)
      }))

  def bytesPerRow(): Double = {
    val stored = steps.filesUnder(steps.tableDir(corpusTable))._2 +
      steps.filesUnder(steps.tableDir(index))._2
    stored.toDouble / (geometry.docs + appended)
  }

  /** The compacted index must equal a fresh build over the standing
    * corpus plus every appended document. */
  def finalChecks(): Seq[(String, Option[String])] = {
    val check = index + "_rebuilt"
    DedupIndex.build(spark.table(corpusTable), check, nBuckets, nParts)
    // a few thousand rows: compared as sorted lists on the driver
    def rows(t: String) = spark.table(t).select("doc_id", "band", "bucket", "pb").collect()
      .map(r => (r.getLong(0), (1 to 3).map(i => String.valueOf(r.get(i))).mkString("/")))
      .sorted.toList
    val (a, b) = (rows(index), rows(check))
    val extra = a.diff(b).size
    val missing = b.diff(a).size
    val held = spark.table(corpusTable).count()
    Seq("dd10_planted_clusters" -> clusterCheck(), "idx_rebuild_equal" -> (
      if (extra == 0 && missing == 0 && held == geometry.docs + appended) None
      else Some(s"compacted index differs from a rebuild: $extra extra rows, " +
        s"$missing missing rows; corpus holds $held docs, expected ${geometry.docs + appended}")))
  }

  def oracleTableDir: String = docsDir

  /** dd10's oracle is a recursive-CTE reachability that DuckDB did not
    * finish within 200 s on the planted 20-hop chains (it re-derives
    * the LSH pairs at every recursion step), so dd10 is checked by
    * [[clusterCheck]] instead. */
  def oracleOps: Seq[String] = corpusOps.filterNot(_ == "dd10_dedup_clusters_lsh")

  /** dd10's cold-pass output against an exact reference: the corpus
    * pairs whose 3-word-shingle Jaccard is >= 0.8 (dd10's verification
    * rule, computed here without LSH) and their connected components.
    *  - every cluster is labelled by and keeps its minimum doc_id;
    *  - every cluster lies inside one reference component (LSH may
    *    miss a pair, never add one);
    *  - identical documents always share a cluster: their MinHash
    *    signatures are equal, so LSH cannot miss them;
    *  - of the other reference pairs, at most [[LshMissShare]] may end
    *    in different clusters. LSH (6 bands of 6 rows) misses a pair at
    *    Jaccard 0.89 with probability about 0.017, so about 3 of the
    *    ~175 planted near-duplicate and chain pairs are expected;
    *  - at least one planted chain is a single cluster of all its
    *    documents, which is what holds dd10's round count fixed. */
  private def clusterCheck(): Option[String] = {
    val rows = spark.read.parquet(s"$outDir/dd10_dedup_clusters_lsh")
      .select("doc_id", "cluster", "keep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cluster = rows.map(r => r._1 -> r._2).toMap
    val members = rows.groupBy(_._2).map { case (c, rs) => c -> rs.map(_._1) }
    val edges = DocCorpus.jaccardPairs(corpus, 3, 8, 10)
    val text = corpus.map(d => d.id -> d.text).toMap
    val (copies, near) = edges.partition { case (a, b) => text(a) == text(b) }
    val component = DocCorpus.components(corpus.map(_.id), edges)
    def together(e: (Long, Long)) =
      cluster.contains(e._1) && cluster.get(e._1) == cluster.get(e._2)
    val missed = near.filterNot(together)
    val chains = corpus.filter(_.chain >= 0).groupBy(_.chain).values
    val wholeChains = chains.count(ch =>
      ch.map(d => cluster.get(d.id)).distinct == Seq(Some(ch.head.id)))
    notes = Map("dd10_reference_pairs" -> edges.size, "dd10_identical_pairs" -> copies.size,
      "dd10_lsh_misses" -> missed.size, "dd10_whole_chains" -> wholeChains)
    val problems = Seq(
      rows.collectFirst { case (d, c, k) if k != (if (d == c) 1L else 0L) =>
        s"doc $d in cluster $c has keep=$k" },
      members.collectFirst { case (c, ms) if ms.min != c || ms.length < 2 =>
        s"cluster $c has members ${ms.sorted.take(5).mkString(",")}" },
      members.collectFirst { case (c, ms) if ms.map(component).distinct.size > 1 =>
        s"cluster $c joins documents with no Jaccard >= 0.8 path between them" },
      copies.find(e => !together(e)).map { case (a, b) =>
        s"identical docs $a and $b are not one cluster" },
      if (missed.size <= LshMissShare * near.size) None
      else Some(s"${missed.size} of ${near.size} Jaccard >= 0.8 pairs are not clustered " +
        s"(at most ${(LshMissShare * near.size).toInt} LSH misses allowed)"),
      if (wholeChains > 0) None
      else Some("no planted chain is one whole cluster: dd10's round count is not fixed"))
    problems.flatten.headOption
  }

  private val LshMissShare = 0.1
  private var notes = Map.empty[String, Any]
  override def checkNotes: Map[String, Any] = notes
}
