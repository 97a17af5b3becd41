package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One benchmark run in one JVM: the input set-up, one cold pass,
  * `--measured` measured passes, then the correctness checks. Writes one JSON
  * record to `--out`; `perfbench/run.py` turns it into the result line.
  *
  * Usage: perfbench.Main --workload NAME --seed N --measured N
  *   --trace 0|1 --run-dir DIR --out FILE
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val measured = arg("measured").toInt
    val traced = arg("trace") == "1"
    val runDir = arg("run-dir")
    val cores = Runtime.getRuntime.availableProcessors()
    val outDir = s"$runDir/outputs"
    Files.createDirectories(Paths.get(outDir))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // graft.Bench's plan-shaping configs, at Bench's defaults
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      .config("spark.sql.join.preferSortMergeJoin", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val t = new Tracer(spark, traced)
    if (traced) spark.sparkContext.addSparkListener(new EngineProbe(t))
    val steps = new Steps(spark, t)
    val w: Workload = workload match {
      case "sql_analytics" =>
        new SqlAnalytics(spark, t, steps, seed, outDir, factRows = Sizes.FactRows)
      case "doc_pipeline" =>
        new DocPipeline(spark, t, steps, seed, runDir, outDir, Sizes.Corpus,
          Sizes.BatchDocs, Sizes.IndexBuckets, Sizes.IndexParts)
      case other => sys.error(s"unknown workload $other")
    }

    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0
    val digests = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
    val passNames = "cold" +: (1 to measured).map(i => s"measured $i")
    val liveHeapMb = mutable.ArrayBuffer.empty[Double]
    var bytesPerRow = 0.0

    t.span("workload", w.name) {
      t.span("setup", "setup")(w.setUp())
      passNames.zipWithIndex.foreach { case (pn, p) =>
        val thunks = t.span("pass", pn) {
          w.ops.map { op =>
            attempted += 1
            try Some(op -> t.span("op", op.name)(op.run(p)))
            catch { case NonFatal(e) =>
              failures += Map("pass" -> pn, "op" -> op.name, "error" -> e.toString)
              None
            }
          }
        }
        // digests are computed after the pass span: never timed
        thunks.flatten.foreach { case (op, th) =>
          val d = try th() catch { case NonFatal(e) => s"error: $e" }
          val seen = digests.getOrElseUpdate(op.name, mutable.ArrayBuffer.empty)
          if (op.repeats && seen.nonEmpty && seen.head != d)
            failures += Map("pass" -> pn, "op" -> op.name,
              "error" -> s"digest $d differs from the first pass's ${seen.head}")
          seen += d
        }
        // after every timed span and digest: each pass starts from a
        // collected heap
        liveHeapMb += Jvm.liveHeapMb(spark)
      }
      bytesPerRow = w.bytesPerRow()
    }

    val checksStart = System.nanoTime()
    w.finalChecks().foreach { case (name, problem) =>
      attempted += 1
      problem.foreach(msg => failures += Map("pass" -> "final", "op" -> name, "error" -> msg))
    }

    // the cold pass wrote every catalog op's result under outDir
    val oracle = SparkEntry.oracleSql
    val oracleOps = w.oracleOps
    Files.write(Paths.get(outDir, "oracle_sql.json"),
      Json.render(oracleOps.map(n => n -> oracle(n)).toMap).getBytes(StandardCharsets.UTF_8))

    val spans = t.spans
    val report = new Report(spans, w, sessionS, measured)
    val conf = Seq("spark.sql.join.preferSortMergeJoin",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
      "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
      .map(k => k -> scala.util.Try(spark.conf.get(k)).getOrElse("<unset>")).toMap
    val record = Map(
      "workload" -> w.name, "seed" -> seed, "inputs" -> w.record,
      "cores" -> cores, "master" -> spark.sparkContext.master,
      "warmup_passes" -> 0, "measured_passes" -> measured,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toList,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version, "conf" -> conf, "traced" -> traced)
    val (perLayer, missing) = if (traced) report.perLayer() else (Map.empty[String, Double], Nil)
    missing.foreach(m => failures += Map("pass" -> "trace", "op" -> m,
      "error" -> s"per-layer metric $m has no measurement on a workload that calls its layer"))
    val out = Map(
      "record" -> record,
      "metrics" -> report.endToEnd(liveHeapMb.toList, bytesPerRow),
      "per_layer" -> perLayer,
      "attempted" -> attempted,
      "failures" -> failures.toList,
      "digests" -> digests.map { case (k, v) => k -> v.toList },
      "session_s" -> sessionS,
      "setup_inputs_s" -> report.setup,
      "passes" -> report.passes,
      "op_medians_s" -> report.opMedians,
      "check_notes" -> w.checkNotes,
      "checks_s" -> (System.nanoTime() - checksStart) / 1e9,
      "live_heap_mb" -> liveHeapMb.toList,
      "oracle" -> Map("out_dir" -> outDir, "table_dir" -> w.oracleTableDir,
        "ops" -> oracleOps))
    if (traced)
      Files.write(Paths.get(runDir, "trace.json"), report.spansJson.getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(arg("out")), Json.render(out).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Input sizes: fixed, so that every commit measures the same work. */
object Sizes {
  val FactRows = 20000L
  val Corpus = DocCorpus.Geometry(baseDocs = 300, exactGroups = 15,
    nearDups = 15, chains = 8, chainHops = 20)
  val BatchDocs = 2
  // DedupIndex's pruning rule: each doc has 6 bands, so a probe prunes
  // while 6 x batch <= nParts; one file per (pb, bucket), so few buckets
  val IndexParts = 16
  val IndexBuckets = 2
}
