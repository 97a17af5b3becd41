package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run one query to `outDir/<name>` parquet. A thrown query must
    * leave an explicit `<name>._error` record, not a silent hole: in r8
    * eleven queries vanished from the driver's correctness JSON because
    * the only trace of the throw was stderr, costing a full diagnosis
    * cycle to tell "broken" from "never existed". Returns success.
    */
  private[graft] def runOne(spark: SparkSession, sfDir: String,
      outDir: String, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      Files.deleteIfExists(Paths.get(s"$outDir/$name._error")) // stale
      true
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      try Files.writeString(Paths.get(s"$outDir/$name._error"),
        s"${e.getClass.getName}: ${e.getMessage}\n")
      catch { case _: Throwable => () }
      false
    }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [nameSubstring...] — the optional filters are
    // a dev convenience for re-verifying a few queries; the driver always
    // passes exactly two args (full run)
    val Array(sfDir, outDir, filters @ _*) = args
    // the Bench session: verify must exercise the exact plans the bench times
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (name, _) =>
      filters.isEmpty || filters.exists(name.contains)
    }
    selected.foreach { case (name, fn) => runOne(spark, sfDir, outDir, name, fn) }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Effective plan-shaping configs (r18, ADVICE): verify's invariant is
    // "exercises the exact plans the bench times" — if verify and bench
    // ever run under different env vars that silently breaks. Record the
    // values this verification actually ran with in a sidecar file (NOT
    // inside oracle_sql.json, whose keys the driver treats as query
    // names).
    // The codegen cache size is JVM-wide, not a session conf: report the
    // size GraftExtensions gave it.
    val conf = ((GraftSession.planConfs.map(_.key) :+ "spark.sql.shuffle.partitions" :+
      plans.GraftExtensions.stageIdInClassNameKey)
      .map(k => k -> spark.conf.get(k, "<unset>")) :+
      (plans.GraftExtensions.codegenCacheKey -> plans.GraftExtensions.codegenCacheEntries.toString))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_config.json"), conf)
    spark.stop()
  }
}
