package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.{EmbedIndex, SubstrIndex}
import graft.streaming.{BudgetStream, DocsStream, EmbedStream}

/** End-to-end replay of every admission stream: batch 0 runs, then the
  * same input runs again against a FRESH checkpoint dir and the same
  * state/decisions dirs — the failure-recovery shape in which Structured
  * Streaming re-fires a batch under its old id. The standing view must
  * exclude the batch's own first attempt, so the replay decides exactly
  * as the first run did and overwrites, never duplicates, its state. */
class StreamReplaySpec extends SparkSpec {

  private def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
  private def basis(i: Int): Seq[Double] =
    Seq.tabulate(64)(j => if (j == i) 1.0 else 0.0)

  /** `start(stateDir, decisionsDir, checkpointDir)` starts the stream
    * with its batch 0 queued; `stateKey` names the state columns that
    * identify one admitted row. */
  private case class Admission(name: String, stateKey: Seq[String],
      start: (String, String, String) => StreamingQuery)

  private def admissions: Seq[Admission] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one token changed out of 50: J = 0.88 against the original
    val aText = words("w", 50)
    val bText = aText.replace("w25 ", "B25 ")
    val fText = words("f", 50)
    Seq(
      Admission("near-dup in-query", Seq("doc_id"), { (st, dec, ck) =>
        val ms = MemoryStream[(Long, String)]
        // 10 ~ corpus (reject), 11 fresh (admit), 12 = 11 (batch reject)
        ms.addData((10L, bText), (11L, fText), (12L, fText))
        DocsStream.nearDupAdmission(spark, ms.toDF().toDF("doc_id", "text"),
          Seq((0L, aText)).toDF("doc_id", "text"), st, dec, ck)
      }),
      Admission("substr", Seq("h1", "h2"), { (st, dec, ck) =>
        val ms = MemoryStream[(Long, String)]
        ms.addData((10L, aText), (11L, fText), (12L, fText))
        DocsStream.substrAdmission(spark, ms.toDF().toDF("doc_id", "text"),
          SubstrIndex.keySet(Seq((0L, aText)).toDF("doc_id", "text")),
          st, dec, ck)
      }),
      Admission("embed", Seq("vec_id"), { (st, dec, ck) =>
        val ms = MemoryStream[(Long, Seq[Double])]
        ms.addData((10L, basis(0)), (11L, basis(1)), (12L, basis(1)))
        EmbedStream.admission(spark, ms.toDF().toDF("vec_id", "embedding"),
          EmbedIndex.normalized(Seq((0L, basis(0))).toDF("vec_id", "embedding")),
          st, dec, ck)
      }),
      Admission("budget", Seq("source"), { (st, dec, ck) =>
        val ms = MemoryStream[(Long, String, String)]
        // A: 4 + 4 of 10 admitted, then 3 more overflow; B: 3 of 5
        ms.addData((1L, "A", words("w", 4)), (2L, "A", words("w", 4)),
          (3L, "B", words("w", 3)), (4L, "A", words("w", 3)))
        BudgetStream.budgetAdmission(spark,
          ms.toDF().toDF("doc_id", "source", "text"),
          Seq(("A", 10L), ("B", 5L)).toDF("source", "budget_tokens"),
          st, dec, ck)
      }))
  }

  test("admission replay: batch 0 re-run on a fresh checkpoint rewrites identical decisions and state") {
    admissions.foreach { a =>
      val base = java.nio.file.Files.createTempDirectory("admission-replay").toString
      val (st, dec) = (s"$base/state", s"$base/decisions")
      def runOnce(ck: String): Unit = {
        val q = a.start(st, dec, s"$base/$ck")
        try q.processAllAvailable() finally q.stop()
      }
      def rows(dir: String) = spark.read.parquet(dir).collect()
        .map(_.mkString("|")).sorted.toSeq
      runOnce("ck")
      val (dec1, st1) = (rows(dec), rows(st))
      // a replay that read its own first attempt as standing state
      // would now reject what batch 0 admitted
      assert(dec1.nonEmpty && st1.nonEmpty, s"${a.name}: batch 0 admitted nothing")
      runOnce("ck2")
      assert(rows(dec) == dec1, s"${a.name}: replayed decisions differ")
      assert(rows(st) == st1, s"${a.name}: replayed state differs")
      Seq(st, dec).foreach { d =>
        assert(new java.io.File(d).list.filter(_.startsWith("batch_id")).toSeq ==
          Seq("batch_id=0"), s"${a.name}: replay did not overwrite batch 0 of $d")
      }
      val keys = spark.read.parquet(st).select(a.stateKey.map(col): _*)
        .collect().toSeq
      assert(keys.distinct.size == keys.size,
        s"${a.name}: an admitted row appears twice in state")
    }
  }
}
