package graft

import graft.core.{Benchmark, Variation}
import graft.workloads.MicroBenchmarks

/** CLI experiment runner (reference `P/RunBenchmark.scala` flag
  * surface, scopt-free). Long flags:
  *
  *   runMain graft.RunBenchmark --benchmark micro-join --iterations 2 \
  *     --filter inner --results /tmp/graft-results --timeout-ms 600000 \
  *     --vary-codegen --vary-smj --vary-broadcast
  *
  * plus the reference's short-flag dialect as aliases
  * (`P/RunBenchmark.scala:49-74`): `-b` benchmark, `-f` filter, `-i`
  * iterations, `-c` compare-to-baseline timestamp, `-s` source dir,
  * `-p` shuffle parallelism — so `RunBenchmark -b retail -f rq1 -i 2`
  * works as it does against the reference.
  *
  * Benchmarks: micro-join | micro-agg | micro-scalar | micro-matches |
  * micro-tiers | micro-all | retail | bigdata | tpcds | tpcds-all |
  * tpcds-interactive | tpcds-reporting | tpcds-deep | impala-kit |
  * catalog (the fixture query catalog, needs --sf-dir).
  */
object RunBenchmark {

  private val flagArgs = Set("--vary-codegen", "--vary-smj", "--vary-broadcast")

  private val shortAliases = Map(
    "-b" -> "--benchmark", "-f" -> "--filter", "-i" -> "--iterations",
    "-c" -> "--compare", "-s" -> "--sf-dir", "-p" -> "--parallel",
    "-C" -> "--cardinality", "-t" -> "--tries")

  /** key-value flags plus boolean flags; a boolean flag must not
    * consume the next token (a sliding(2,2) pairing would desync every
    * argument after it). */
  private def parseArgs(args: Array[String]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var i = 0
    while (i < args.length) {
      val a = shortAliases.getOrElse(args(i), args(i))
      if (flagArgs.contains(a)) { out += a.stripPrefix("--") -> "true"; i += 1 }
      else if (a.startsWith("--")) {
        // a value must follow and must not itself be a flag — fail
        // loudly rather than silently swallowing the next option
        require(i + 1 < args.length && !args(i + 1).startsWith("--"),
          s"option $a requires a value")
        out += a.stripPrefix("--") -> args(i + 1); i += 2
      } else i += 1
    }
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    // -p / --parallel: the reference's post-shuffle partition knob
    opts.get("parallel").foreach(p =>
      spark.conf.set("spark.sql.shuffle.partitions", p))

    val benchName = opts.getOrElse("benchmark", "micro-agg")
    val sfDir = opts.getOrElse("sf-dir", "/root/testdata/sf0.01")
    val resultsLoc = opts.getOrElse("results", "/tmp/graft-results")
    // benchmarks with their own table registry must run their own
    // experiment (auto-provisioning reads Benchmark.allTables)
    val registryBench: Option[Benchmark] = benchName match {
      case "retail" => Some(new workloads.RetailBenchmark(spark,
        opts.getOrElse("fact-rows", "1000000").toLong, resultsLoc))
      case "bigdata" => Some(new workloads.BigDataBenchmark(spark,
        opts.getOrElse("scale", "100000").toLong))
      case "tpcds" | "tpcds-all" | "tpcds-interactive" | "tpcds-reporting" |
           "tpcds-deep" | "impala-kit" =>
        val names = benchName match {
          case "tpcds" => workloads.TpcdsCatalog.runnable
          case "tpcds-all" => workloads.TpcdsCatalog.defs.map(_._1)
          case "tpcds-interactive" => workloads.TpcdsCatalog.interactive
          case "tpcds-reporting" => workloads.TpcdsCatalog.reporting
          case "tpcds-deep" => workloads.TpcdsCatalog.deepAnalytic
          case "impala-kit" => workloads.TpcdsCatalog.impalaKit
        }
        // --fact-rows N regenerates the schema at scale N in-flight
        // (0 = the fixed DuckDB-checked parquet snapshot)
        Some(new workloads.TpcdsBenchmark(spark, names, resultsLoc,
          opts.getOrElse("fact-rows", "0").toLong))
      case _ => None
    }
    val queries = (benchName match {
      case "micro-join" => MicroBenchmarks.joinMatrix(spark)
      case "micro-agg" => MicroBenchmarks.aggSweep(spark)
      case "micro-scalar" => MicroBenchmarks.scalarAggs(spark)
      case "micro-matches" => MicroBenchmarks.numMatches(spark)
      case "micro-tiers" => MicroBenchmarks.apiTiers(spark)
      case "micro-all" => MicroBenchmarks.all(spark)
      case "retail" =>
        registryBench.get.asInstanceOf[workloads.RetailBenchmark].queries
      case "bigdata" =>
        registryBench.get.asInstanceOf[workloads.BigDataBenchmark].queries
      case "tpcds" | "tpcds-all" | "tpcds-interactive" | "tpcds-reporting" |
           "tpcds-deep" | "impala-kit" =>
        registryBench.get.asInstanceOf[workloads.TpcdsBenchmark].queries
      case "catalog" => SparkEntry.catalog.map(c =>
        new core.Query(c.name, c.build(spark, sfDir), c.description))
      case "pipeline" =>
        // the LLM-data-pipeline suite (SURVEY par.2.14): dedup,
        // similarity, text analysis, packing/splitting, multimodal
        workloads.QueryCatalog.pipeline.map(c =>
          new core.Query(c.name, c.build(spark, sfDir), c.description))
      case "binary-join" =>
        // the reference's RunBinaryJoin drives its modified-Spark
        // hypercube multi-way-join executor with broadcast disabled
        // (`P/RunBinaryJoin.scala:82-94`); the Spark-native
        // re-expression runs the same multi-way graph-join workload
        // under AQE (the runtime strategy chooser) with broadcast off,
        // so every join really is a distributed binary shuffle join.
        // -C/-t (hypercube sample cardinality / sketch tries) are
        // accepted for CLI compatibility; AQE's runtime statistics
        // replace the sampling they configured.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        workloads.GraphQueries.all.map(c =>
          new core.Query(c.name, c.build(spark, sfDir), c.description)) ++
          MicroBenchmarks.joinMatrix(spark)
      case other => sys.error(s"unknown benchmark: $other")
    }).filter(q => opts.get("filter").forall(f => q.name.contains(f)))

    require(queries.nonEmpty, "no queries match the filter")

    val bench = registryBench.getOrElse(new Benchmark(spark, resultsLoc))
    // configuration sweep dimensions (the reference's unsafe/tungsten/
    // codegen Variation set, P/Benchmark.scala:70-92, re-expressed on
    // the knobs that still exist in Spark 4)
    val variations = Seq(
      opts.get("vary-codegen").map(_ =>
        Variation("codegen", Seq("true", "false"))(v =>
          spark.conf.set("spark.sql.codegen.wholeStage", v))),
      opts.get("vary-smj").map(_ =>
        Variation("preferSortMergeJoin", Seq("true", "false"))(v =>
          spark.conf.set("spark.sql.join.preferSortMergeJoin", v))),
      opts.get("vary-broadcast").map(_ =>
        Variation("autoBroadcastThreshold", Seq("10485760", "-1"))(v =>
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)))).flatten

    val exp = bench.runExperiment(
      queries,
      iterations = opts.getOrElse("iterations", "3").toInt,
      variations = variations,
      tags = Map("benchmark" -> benchName),
      timeoutMs = opts.getOrElse("timeout-ms", "1800000").toLong)
    exp.waitForFinish(opts.getOrElse("wait-s", "10800").toInt)

    println(s"results written to ${exp.resultPath}; ${exp.failures} failures")
    exp.summarize().show(200, truncate = false)
    // -c / --compare: percent change vs a baseline experiment timestamp
    opts.get("compare").foreach { baselineTs =>
      Benchmark.compareToBaseline(spark, resultsLoc,
        baselineTs.toLong, exp.timestamp).show(200, truncate = false)
    }
    spark.stop()
  }
}
