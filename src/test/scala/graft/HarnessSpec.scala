package graft

import org.apache.spark.sql.functions._
import graft.core._
import graft.sources.Tables

/** End-to-end harness behavior: experiments, variations, phase timing,
  * HashResults checksum stability, JSON results round-trip, timeout. */
class HarnessSpec extends SparkSpec {

  private def li = Tables.table(spark, sfDir, "lineitem")

  test("experiment runs iterations x variations and writes JSON results") {
    val bench = new Benchmark(spark, s"/tmp/graft-test-results-${System.nanoTime()}")
    val q1 = new Query("agg", li.groupBy("l_returnflag").count(),
      executionMode = ExecutionMode.CountResults)
    // deterministic subset: LIMIT without ORDER BY has no guaranteed rows
    val q2 = new Query("hash",
      li.filter(col("l_orderkey") <= 100).select("l_orderkey", "l_returnflag"),
      executionMode = ExecutionMode.HashResults)
    val flip = Variation("codegen", Seq("true", "false"))(v =>
      spark.conf.set("spark.sql.codegen.wholeStage", v))
    val exp = bench.runExperiment(Seq(q1, q2), iterations = 2,
      variations = Seq(flip))
    try exp.waitForFinish(300)
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")

    assert(exp.failures == 0)
    assert(exp.currentRuns.size == 4) // 2 iterations x 2 variation options
    // every run has phase + execution times and a scalar result
    exp.currentRuns.flatMap(_.results).foreach { r =>
      assert(r.executionTime.isDefined && r.planningTime.isDefined)
      assert(r.result.isDefined)
    }
    // checksum is identical across iterations and variations
    val checksums = exp.currentRuns.flatMap(_.results).filter(_.name == "hash")
      .map(_.result.get).distinct
    assert(checksums.size == 1)
    // results JSON is readable and analyzable
    val read = spark.read.json(exp.resultPath)
    assert(read.count() == 4)
    val summary = exp.summarize().collect()
    assert(summary.length == 2)
    // analyze() round-trips from disk
    val resultsLoc = exp.resultPath.stripSuffix(s"/timestamp=${exp.timestamp}")
    val analyzed = Benchmark.analyze(spark, resultsLoc)
    assert(analyzed.count() == 2)
    // dashboard score: one row for this timestamp, geomean of per-query
    // medians (warmup iteration dropped), bounded by min/max medians
    val score = Benchmark.dashboardScore(spark, resultsLoc)
      .filter(col("timestamp") === exp.timestamp).collect()
    assert(score.length == 1)
    assert(score.head.getAs[Long]("queries") == 2)
    val s = score.head.getAs[Double]("scoreMs")
    val meds = analyzed.collect().map(_.getAs[Double]("avgTimeMs"))
    assert(s > 0 && s <= meds.max * 4,
      s"score $s out of plausible range vs $meds")
  }

  test("failures are captured, not thrown") {
    val bench = new Benchmark(spark)
    val bad = new Query("bad", li.select(col("no_such_column")))
    val exp = bench.runExperiment(Seq(bad), iterations = 1)
    exp.waitForFinish(120)
    assert(exp.failures == 1)
    val r = exp.currentRuns.head.results.head
    assert(r.failure.isDefined)
    assert(r.failure.get.className.nonEmpty)
  }

  test("join types are scraped from the physical plan") {
    val o = Tables.table(spark, sfDir, "orders")
    val q = new Query("join", li.join(o, col("l_orderkey") === col("o_orderkey")).select(lit(1)))
    val r = q.doBenchmark()
    assert(r.failure.isEmpty)
    assert(r.joinTypes.exists(_.contains("Join")))
  }

  test("HashResults checksum changes when data changes") {
    val q1 = new Query("h1", li.filter(col("l_orderkey") <= 100).select("l_orderkey"),
      executionMode = ExecutionMode.HashResults)
    val q2 = new Query("h2", li.filter(col("l_orderkey") <= 200).select("l_orderkey"),
      executionMode = ExecutionMode.HashResults)
    val (r1, r2) = (q1.doBenchmark(), q2.doBenchmark())
    assert(r1.result.get != r2.result.get)
  }

  test("WriteParquet, Collect and Foreach execution modes drive results") {
    val out = java.nio.file.Files.createTempDirectory("graft-mode").toString
    val wq = new Query("w", li.select("l_orderkey").limit(10),
      executionMode = ExecutionMode.WriteParquet(out))
    assert(wq.doBenchmark().failure.isEmpty)
    assert(spark.read.parquet(s"$out/w.parquet").count() == 10)

    val cq = new Query("c", li.select("l_orderkey").limit(7),
      executionMode = ExecutionMode.CollectResults)
    val cr = cq.doBenchmark()
    assert(cr.failure.isEmpty && cr.result.contains(7L))

    val fq = new Query("f", li.select("l_orderkey"),
      executionMode = ExecutionMode.ForeachResults)
    val fr = fq.doBenchmark()
    assert(fr.failure.isEmpty && fr.result.contains(0L))
  }

  test("SQL-text queries run through the same lifecycle") {
    Tables.registerAll(spark, sfDir)
    val q = Query.sql(spark, "sql_q",
      "SELECT l_returnflag, count(*) FROM lineitem GROUP BY l_returnflag")
    val r = q.doBenchmark()
    assert(r.failure.isEmpty && r.result.get == 3L)
  }

  test("bench per-query floors: a >3x reading is flagged, the mechanism is live") {
    // floors are pinned from real boards, so the flag fires on real
    // names: take any pinned query and synthesize an episode reading
    val (q, f) = BenchFloors.floors.head
    assert(BenchFloors.floors.size > 50,
      s"floors map suspiciously small (${BenchFloors.floors.size}) - re-run scripts/gen_floors.py")
    val hits = BenchFloors.flagged(Seq(
      q -> (f * BenchFloors.FlagRatio + 0.01), // episode: flags
      q -> (f * 2.9),                          // below ratio: quiet
      "not_a_pinned_query" -> 999.0))          // unpinned: quiet
    assert(hits == Seq((q, f * BenchFloors.FlagRatio + 0.01, f)),
      s"flag mechanism wrong: $hits")
    // every pinned floor respects the >= 0.5s jitter cutoff
    assert(BenchFloors.floors.values.forall(_ >= 0.5))
  }

  test("GraftSession conf: plan-shaping defaults, env overrides, partitions = master cores") {
    val plan = Seq(
      ("spark.sql.optimizer.runtime.bloomFilter.enabled", "SPARK_GRAFT_RUNTIME_BLOOM", "false", "true"),
      ("spark.sql.join.preferSortMergeJoin", "SPARK_GRAFT_PREFER_SMJ", "true", "false"),
      ("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "SPARK_GRAFT_SHJ_LOCAL_MAP", "128m", "64m"))
    def cores(c: Map[String, String]): String =
      "local\\[(\\d+)\\]".r.findFirstMatchIn(c("spark.master")).get.group(1)
    val base = GraftSession.conf(Map.empty).toMap
    plan.foreach { case (key, _, default, _) => assert(base(key) == default, key) }
    assert(base("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(base("spark.sql.shuffle.partitions") == cores(base))
    // each env var moves its own entry and no other
    plan.foreach { case (key, envVar, _, value) =>
      val c = GraftSession.conf(Map(envVar -> value)).toMap
      assert(c == base.updated(key, value), s"$envVar")
    }
    val seven = GraftSession.conf(Map("SPARK_GRAFT_CPUS" -> "7")).toMap
    assert(cores(seven) == "7" && seven("spark.sql.shuffle.partitions") == "7")
    // Bench's "conf" JSON reports the labels in this order
    assert(GraftSession.planConfs.map(_.label) == Seq("preferSMJ", "runtimeBloom", "shjLocalMap"))
  }

  /** "path: needle" for every `.scala` source under `root` other than
    * `owner` (a path under that root, which must exist; "" exempts no
    * file and only checks that `root` is a directory) that contains
    * one of `needles`. */
  private def scanMain(owner: String, needles: Seq[String],
      root: String = "src/main/scala"): List[String] = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(root)
    assert(if (owner.isEmpty) Files.isDirectory(dir) else Files.isRegularFile(dir.resolve(owner)),
      s"scan root ${dir.toAbsolutePath} does not hold ${Paths.get(owner).getFileName}")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.flatMap { (p: Path) =>
      if (!p.toString.endsWith(".scala") || owner.nonEmpty && p.endsWith(owner)) Nil
      else {
        val src = Files.readString(p)
        needles.filter(src.contains).map(n => s"$p: $n")
      }
    }.toList finally walk.close()
  }

  test("GraftSession.scala holds the only SparkSession.builder( in src/main") {
    val offenders = scanMain("graft/GraftSession.scala", Seq("SparkSession.builder("))
    assert(offenders.isEmpty,
      s"build sessions through graft.GraftSession, not in: ${offenders.mkString(", ")}")
  }

  test("BucketedIndex.scala holds the only index-layout writes and catalog swaps in src/main") {
    val needles = Seq("partitionBy(\"pb\")", "TBLPROPERTIES", "RENAME TO", "MSCK REPAIR")
    val offenders = scanMain("graft/ext/BucketedIndex.scala", needles)
    assert(offenders.isEmpty,
      s"write index tables through graft.ext.BucketedIndex, not in: ${offenders.mkString(", ")}")
  }

  test("StreamState.scala holds the only batch_id= layout paths in src/main") {
    val offenders = scanMain("graft/streaming/StreamState.scala",
      Seq("/batch_id=$", "\"batch_id=\""))
    assert(offenders.isEmpty,
      s"write and name micro-batch partitions through graft.streaming.StreamState, not in: ${offenders.mkString(", ")}")
  }

  test("GraftExtensions.scala holds the only codegen cache settings in src/main") {
    val offenders = scanMain("graft/plans/GraftExtensions.scala",
      Seq("codegen.cache.maxEntries", "CODEGEN_CACHE_MAX_ENTRIES", "CodeGenerator", "withExistingConf",
        "useIdInClassName", "USE_ID_IN_CLASS_NAME"))
    assert(offenders.isEmpty,
      s"set Spark's codegen cache through graft.plans.GraftExtensions, not in: ${offenders.mkString(", ")}")
  }

  test("re-running a catalog round in one session compiles at most 5% of its classes again") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    // the session loads GraftExtensions, which sizes the codegen cache
    // and keeps stage ids out of generated class names
    assert(spark.conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
    // About 245 compiles at sf0.001, inside the cache. Each query's
    // re-run repeats its plans; tpcds_q14a, q4, q23a, q64 and dd10 do
    // not always (AQE re-plans or renumbers stages), so they are left out.
    val names = Seq("tpcds_q72", "impala_q19", "rq1_category_rollup_rank",
      "tpcds_q3", "tpcds_q24a", "tpcds_q47", "tpcds_q51", "tpcds_q75")
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def round(): Seq[(String, Long)] = names.map { n =>
      val c0 = compiles
      val df = run(n)
      df.agg(count(lit(1)), bit_xor(xxhash64(struct(df.columns.map(col): _*)))).collect()
      n -> (compiles - c0)
    }
    // The cache is JVM-wide and earlier suites may hold these classes:
    // empty it so the first round compiles every class it needs.
    val cacheOf = CodeGenerator.getClass.getDeclaredMethod("cache")
    cacheOf.setAccessible(true)
    val cache = cacheOf.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val first = round()
    val firstN = first.map(_._2).sum
    assert(firstN > 200, s"first round compiled only $firstN classes: $first")
    val again = round()
    info(s"first round compiled $firstN classes, the re-run ${again.map(_._2).sum}")
    assert(again.map(_._2).sum <= firstN * 0.05,
      s"the re-run compiled classes again: $again (first round: $first)")
  }

  test("no file under operators/ drops to the RDD API") {
    val offenders = scanMain("", Seq("groupByKey", ".rdd"),
      root = "src/main/scala/graft/operators")
    assert(offenders.isEmpty,
      s"operators plan through Catalyst, not the RDD API: ${offenders.mkString(", ")}")
  }
}
