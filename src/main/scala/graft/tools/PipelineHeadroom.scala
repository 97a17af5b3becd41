package graft.tools

import org.apache.spark.sql.functions._

import graft.ext.DedupIndex.{Hashes, MaxBucket, RowsPerBand, ThreshDen, ThreshNum}

/** Dev tool: measure the pipeline operators at corpus scales far above
  * the bench fixture (sf0.1 = 5k docs) to show the shuffle structure —
  * not constants — is what carries to cluster scale.
  *
  * Usage: runMain graft.tools.PipelineHeadroom <nDocs> [query...]
  *
  * Generates an nDocs-row `documents` table under
  * /tmp/graft-headroom-<nDocs>/ with every value a pure hash of
  * (doc_id, position) — same no-RNG-state property as the datagen
  * package — plus
  * ~2% planted exact duplicates so dedup operators have real work,
  * then times each named catalog query (default: the document-table
  * ops that matter at scale) against that directory.
  */
object PipelineHeadroom {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(500000L)
    val names =
      if (args.length > 1) args.tail.toSeq
      else Seq("dd09_chunk_dedup", "dp01_concat_chunks", "dp02_train_split",
        "dp03_curriculum_buckets", "dp04_epoch_mixture", "tx09_pii_redact",
        "tx10_tfidf_terms", "tx02_quality_score", "tx07_stratified_sample",
        // ANN / clustering family over the generated embeddings table;
        // dd08 is INCLUDED EXPECTING REFUSAL — its pair source is the
        // capped all-pairs baseline and the guard firing at 100× is the
        // documented behavior (dd10 is the uncapped scale path)
        "ss01_ann_bruteforce", "ss02_ann_lsh", "ss03_ann_ivf",
        "ss04_ann_filtered", "ss05_ann_quantized", "dd08_dedup_clusters",
        "dd10_dedup_clusters_lsh", "dd11_incremental_dedup")
    val dir = s"/tmp/graft-headroom-$n"
    val spark = graft.GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")

    if (!new java.io.File(s"$dir/documents.parquet").exists()) {
      val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
        "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
        "window", "order", "data", "column", "join", "small", "customer",
        "query", "big", "group", "stream", "the", "a")
      val vocabArr = array(vocab.map(lit): _*)
      // ~30-130 tokens per doc, every token a pure hash of (doc_id, i);
      // ~2% of docs copy the previous doc's text EXACTLY (planted dups)
      def textFor(id: org.apache.spark.sql.Column) = concat_ws(" ",
        transform(
          sequence(lit(0), (pmod(hash(id, lit("len")), lit(100)) + 30).cast("int")),
          i => element_at(vocabArr, (pmod(hash(id, i), lit(vocab.size)) + 1).cast("int"))))
      val docs = spark.range(n).toDF("doc_id")
        // skip planting when doc_id-1 is itself flagged: its materialized
        // text is textFor(doc_id-2), so copying textFor(doc_id-1) would
        // duplicate no actual row and slightly overstate the dup rate
        .withColumn("eff_id",
          when(pmod(hash(col("doc_id"), lit("dup")), lit(50)) === 0 && col("doc_id") > 0 &&
              pmod(hash(col("doc_id") - 1, lit("dup")), lit(50)) =!= 0,
            col("doc_id") - 1).otherwise(col("doc_id")))
        .withColumn("text", textFor(col("eff_id")))
        .withColumn("lang", element_at(array(Seq("en", "es", "de", "fr", "zh").map(lit): _*),
          (pmod(hash(col("doc_id"), lit("lang")), lit(5)) + 1).cast("int")))
        .withColumn("source", concat(lit("src"),
          pmod(hash(col("doc_id"), lit("src")), lit(10)).cast("string")))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      println(s"GENERATED $n docs at $dir")
    }
    if (!new java.io.File(s"$dir/embeddings.parquet").exists()) {
      // 64-dim float vectors, one per doc (vec_id = doc_id), every
      // component a pure hash in [-1, 1] — same fixture shape as the
      // driver's embeddings table, 100× the bench row count
      val emb = spark.range(n).toDF("vec_id")
        .withColumn("embedding", transform(sequence(lit(0), lit(63)),
          i => ((pmod(hash(col("vec_id"), i), lit(2001)) - 1000) / 1000.0)
            .cast("float")))
        .withColumn("label",
          pmod(hash(col("vec_id"), lit("label")), lit(10)).cast("int"))
      emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      println(s"GENERATED $n embeddings at $dir")
    }

    // Untimed warm-up (Bench.scala's convention): without it the FIRST
    // named query absorbs the session's JIT/codegen/parquet-footer
    // bring-up — measured worth ~50 s on dd15 at 500k (r16 receipts:
    // 88.6 s in slot 1, 39.4 s one slot later, same code)
    spark.range(1000000).selectExpr("count(*)", "sum(id)").collect()
    spark.read.parquet(s"$dir/documents.parquet").count()
    spark.read.parquet(s"$dir/embeddings.parquet").count()

    names.foreach { name =>
      val t0 = System.nanoTime()
      try {
        // Special path, not a catalog entry: dd16's star-contraction CC
        // fed the UNCAPPED linear edge source (dd10's LSH-verified
        // Jaccard pairs) instead of dd06's guarded all-pairs cosine
        // source — the catalog wiring refuses 100× input by design, so
        // this is the contraction engine's only at-scale evidence on
        // REAL (non-synthetic) edges. Reports rounds alongside time.
        if (name == "dd16_star_cc_lsh_edges") {
          val docsDf = graft.sources.Tables.table(spark, dir, "documents")
          val rows0 = graft.ext.TextOps.wordShingleRows(
            docsDf, "doc_id", "text", 3)
          val pairs = graft.ext.TextOps.lshNearDupPairs(rows0, "doc_id",
              numHashes = Hashes, rowsPerBand = RowsPerBand, maxBucketSize = MaxBucket,
              threshNum = ThreshNum, threshDen = ThreshDen)
            .select(col("a_id"), col("b_id"))
          val (labels, rounds) =
            graft.ext.DedupQueries.connectedComponents(pairs, "dd16-headroom")
          val nLabels = labels.count()
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"HEADROOM $name%-24s n=$n rows=$nLabels%-9d ${dt}%.2f s rounds=$rounds")
        } else {
        // FORCE full evaluation: a bare count() lets Catalyst
        // join-eliminate aggregated-unique LEFT joins and prune every
        // projection — dd15 "measured" 0.8 s under count() vs 68.1 s
        // with its columns actually consumed (receipt in SCALING.md,
        // round 14). Hashing the whole row into an aggregate
        // references every output column, so nothing prunes, at the
        // cost of one xxhash64 per row.
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val forced = df.agg(count(lit(1)).as("rows"),
          // bit_xor, not sum: summing 2^63-range hashes overflows
          // under ANSI mode
          bit_xor(xxhash64(struct(df.columns.map(col): _*))).as("sink"))
          .collect()(0)
        val rows = forced.getLong(0)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"HEADROOM $name%-24s n=$n rows=$rows%-9d ${dt}%.2f s")
        }
      } catch {
        // corpus-size guards (dd04, dd06/dd08) refusing 100× input is
        // correct documented behavior — report the FULL guard message
        // (which cap fired, which scale-path sibling to use) so a
        // genuine require() failure (e.g. CC non-convergence) is
        // visibly different from a size refusal, and don't crash the
        // rest of the sweep either way
        case e: IllegalArgumentException =>
          val msg = Option(e.getMessage).getOrElse("")
            .stripPrefix("requirement failed: ")
          println(s"REFUSED  $name $msg")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
