package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: write `.explain("formatted")` for named catalog queries to
  * files — the plans/rNN before/after receipts the optimization rounds
  * commit.
  *
  *   runMain graft.tools.ExplainDump -o plans/r17 -suffix _before [-d dir] <name>...
  *
  * Runs on `GraftSession`, so the dumped plan is the one the bench
  * actually runs. The formatted explain is captured BEFORE
  * execution (AdaptiveSparkPlan isFinalPlan=false) — it shows join
  * strategies, exchanges, PushedFilters and ReadSchema, which is what
  * the receipts assert about.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    def flag(name: String, default: String): String = {
      val i = args.indexOf(name)
      if (i >= 0 && i + 1 < args.length) args(i + 1) else default
    }
    val outDir = flag("-o", "plans/r17")
    val suffix = flag("-suffix", "_before")
    val dir = flag("-d", "/root/testdata/sf0.1")
    val flagIdxs = Seq("-o", "-suffix", "-d").flatMap { f =>
      val i = args.indexOf(f); if (i >= 0) Seq(i, i + 1) else Nil
    }.toSet
    val names = args.zipWithIndex.collect {
      case (a, i) if !flagIdxs.contains(i) => a
    }.toSeq
    require(names.nonEmpty, "usage: ExplainDump [-o dir] [-suffix s] [-d sfDir] <query>...")
    val spark = graft.GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/$name$suffix.txt"), txt)
      println(s"WROTE $outDir/$name$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
