package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: print the JOIN/AGGREGATE operator lines of every executed
  * plan a query triggers — including the EAGER localCheckpoint jobs the
  * final explain cannot show (the LSH chain runs mostly inside them).
  *
  *   runMain graft.tools.JoinAudit [-d sfDir] <query>...
  *
  * Session shape mirrors Bench (env-gated configs), so the strategies
  * printed are the ones the bench times. Reads SPARK_GRAFT_PREFER_SMJ /
  * SPARK_GRAFT_RUNTIME_BLOOM / SPARK_GRAFT_SHJ_LOCAL_MAP like Bench.
  */
object JoinAudit {
  def main(args: Array[String]): Unit = {
    val dIdx = args.indexOf("-d")
    val dir = if (dIdx >= 0) args(dIdx + 1) else "/root/testdata/sf0.1"
    val names = args.zipWithIndex.collect {
      case (a, i) if a != "-d" && (dIdx < 0 || i != dIdx + 1) => a
    }.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled",
        sys.env.getOrElse("SPARK_GRAFT_RUNTIME_BLOOM", "false"))
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "true"))
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_LOCAL_MAP", "128m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        // executedPlan AFTER execution carries AQE's final sub-plans
        val txt = qe.executedPlan.toString
        val lines = txt.linesIterator
          .map(_.trim.replaceAll("#\\d+L?", "#"))
          .filter(l => l.contains("Join") || l.contains("SortAggregate")
            || l.contains("ObjectHashAggregate"))
          .map(_.take(240)).toSeq
        def n(p: String) = p.r.findAllIn(txt).size
        val counts = s"scans=${n("Scan parquet")} " +
          s"reusedExch=${n("ReusedExchange")} reusedSub=${n("ReusedSubquery")} " +
          s"exch=${n("Exchange (hash|range|single|round)")}"
        if (lines.nonEmpty || n("Scan parquet") > 0)
          seen.add(s"-- action=$funcName (${durationNs / 1000000} ms) $counts\n" +
            lines.mkString("\n"))
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    names.foreach { name =>
      seen.clear()
      println(s"==== $name ====")
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      import org.apache.spark.sql.functions._
      df.agg(count(lit(1)),
        bit_xor(xxhash64(struct(df.columns.map(col): _*)))).collect()
      println(f"TOTAL ${(System.nanoTime() - t0) / 1e9}%.2f s")
      // the listener fires on the async bus: drain it so every
      // executed plan of this query is in `seen` before printing
      org.apache.spark.sql.graftshim.GraftShim.drainListenerBus(spark, 10000)
      seen.forEach(s => println(s))
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
