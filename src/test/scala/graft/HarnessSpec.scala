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

  test("GraftSession.scala holds the only SparkSession.builder( in src/main") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isRegularFile(root.resolve("graft/GraftSession.scala")),
      s"scan root ${root.toAbsolutePath} does not hold GraftSession.scala")
    val walk = Files.walk(root)
    val offenders = try walk.iterator.asScala.filter { (p: Path) =>
      p.toString.endsWith(".scala") &&
        p.getFileName.toString != "GraftSession.scala" &&
        Files.readString(p).contains("SparkSession.builder(")
    }.toList finally walk.close()
    assert(offenders.isEmpty,
      s"build sessions through graft.GraftSession, not in: ${offenders.mkString(", ")}")
  }
}
