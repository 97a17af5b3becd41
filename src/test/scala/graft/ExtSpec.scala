package graft

import org.apache.spark.sql.functions._
import graft.ext.{TextOps, SimilarityQueries}
import graft.sources.Tables

/** Correctness of the rows-only (no-SQL-oracle) pipeline operators:
  * each is validated against a brute-force ground truth or a structural
  * invariant at sf0.001. */
class ExtSpec extends SparkSpec {

  /** Independent cosine ground truth (interpreted higher-order
    * aggregates) — deliberately NOT VectorOps, so the custom codegen
    * expression is cross-checked against a separate implementation. */
  private def refCosine(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Planted documents fixtures must satisfy the full fixture contract
    * (Tables.adapt validates every expected column, not just the ones a
    * test cares about): pad the test-irrelevant columns with
    * deterministic defaults before writing. */
  private def plantDocs(df: org.apache.spark.sql.DataFrame, dir: String): Unit =
    Seq("lang" -> lit("en"), "source" -> lit("test"),
      "n_chars" -> length(col("text")).cast("long"))
      .foldLeft(df) { case (d, (c, v)) =>
        if (d.columns.contains(c)) d else d.withColumn(c, v)
      }
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private lazy val docShingles = Tables.table(spark, sfDir, "documents")
    .select(col("doc_id"), TextOps.wordShingles(col("text"), 3).as("sh"))
    .cache()

  test("dd03 minhash-lsh: perfect precision (every pair truly has Jaccard >= 0.8)") {
    val got = run("dd03_minhash_lsh")
    val bad = got.filter(col("inter") * 10 < col("uni") * 8).count()
    assert(bad == 0)
    // re-verify inter/uni against an independent recomputation
    val recheck = got.select("a_id", "b_id")
      .join(docShingles.select(col("doc_id").as("a_id"), col("sh").as("sa")), "a_id")
      .join(docShingles.select(col("doc_id").as("b_id"), col("sh").as("sb")), "b_id")
      .filter(size(array_intersect(col("sa"), col("sb"))) * 10 <
        size(array_union(col("sa"), col("sb"))) * 8)
      .count()
    assert(recheck == 0)
  }

  test("dd03 minhash-lsh: high recall vs brute-force Jaccard join") {
    val truth = docShingles.as("a")
      .join(docShingles.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(size(array_intersect(col("a.sh"), col("b.sh"))) * 10 >=
        size(array_union(col("a.sh"), col("b.sh"))) * 8)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
    val nTruth = truth.count()
    val found = run("dd03_minhash_lsh").select("a_id", "b_id")
    val hit = truth.join(found, Seq("a_id", "b_id"), "left_semi").count()
    assert(nTruth > 0, "fixture should contain near-dup pairs")
    assert(hit.toDouble / nTruth >= 0.8, s"recall $hit/$nTruth below 0.8")
  }

  test("dd04 simhash: pairs have hamming <= 8 and exact dups have hamming 0") {
    val got = run("dd04_simhash")
    assert(got.filter(col("hamming") > 8).count() == 0)
    assert(got.filter(col("a_id") >= col("b_id")).count() == 0)
  }

  test("dd04 simhash: corpus-size guard refuses quadratic blowup, points at dd07") {
    spark.conf.set("graft.ext.simhash64MaxDocs", "10")
    try {
      val e = intercept[IllegalArgumentException](run("dd04_simhash"))
      assert(e.getMessage.contains("dd07_simhash_wide"),
        s"guard message should point at the scale path: ${e.getMessage}")
    } finally spark.conf.unset("graft.ext.simhash64MaxDocs")
    // with the cap back at its default the query runs
    assert(run("dd04_simhash").count() > 0)
  }

  test("wordShingleRows: doc-length skew guard refuses a giant document in-flight") {
    // one pathological document would serialize the whole lead-window
    // shingle pass into a single task; the guard must fail the job with
    // a message naming the chunking remedy, without an extra corpus pass
    spark.conf.set("graft.ext.maxDocTokens", "5")
    try {
      val e = intercept[Exception] {
        TextOps.wordShingleRows(
          Tables.table(spark, sfDir, "documents"), "doc_id", "text", 3).count()
      }
      def msgs(t: Throwable): String =
        if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
      val m = msgs(e)
      assert(m.contains("maxDocTokens") && m.contains("dd09"),
        s"guard message should name the conf and the chunking remedy: $m")
    } finally spark.conf.unset("graft.ext.maxDocTokens")
    // with the default ceiling the pass runs
    assert(TextOps.wordShingleRows(
      Tables.table(spark, sfDir, "documents"), "doc_id", "text", 3).count() > 0)
  }

  test("dd07 wide simhash: pigeonhole bucketing is LOSSLESS vs brute force") {
    val tok = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
    val got = run("dd07_simhash_wide")
      .select("a_id", "b_id", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over the SAME signatures: all pairs, exact Hamming
    val sig = TextOps.simhashSignatures(tok, "doc_id", segments = 4)
    val truth = sig.as("x").join(sig.as("y"),
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        (0 until 4).map(k => expr(s"bit_count(x._sig$k ^ y._sig$k)"))
          .reduce(_ + _).cast("long").as("hamming"))
      .filter(col("hamming") <= 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == truth,
      s"bucketing lost/invented pairs: got ${got.size}, truth ${truth.size}")
    assert(truth.nonEmpty, "fixture has no wide-simhash near-dups")
  }

  test("dd10 clusters equal an independent union-find over the same verified pair set") {
    // the propagation loop's output must match a second, structurally
    // different implementation (driver-side union-find with
    // min-root-wins) run over the IDENTICAL LSH-verified pair set
    val rows = TextOps.wordShingleRows(
      Tables.table(spark, sfDir, "documents"), "doc_id", "text", 3)
    val pairs = TextOps.lshNearDupPairs(rows, "doc_id",
        numHashes = 36, rowsPerBand = 6, maxBucketSize = 100,
        threshNum = 8, threshDen = 10)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture has no LSH-verified near-dup pairs")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    // attach the larger root under the smaller: every root stays the
    // component's min id, matching dd10's keep-min semantics
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    val expected = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
      .map(v => (v, find(v))).toMap
    val got = run("dd10_dedup_clusters_lsh")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
    assert(got.map { case (v, (c, _)) => (v, c) }.toMap == expected)
    // keep flag marks exactly the canonical (min) member of each cluster
    got.foreach { case (v, (c, keep)) =>
      assert((keep == 1L) == (v == c), s"doc $v cluster $c keep $keep")
    }
  }

  test("dd10 end-to-end: planted duplicate groups collapse to one cluster each") {
    // identical texts have identical shingle sets -> identical minhash
    // signatures -> same LSH buckets with probability 1, so planted
    // exact-duplicate groups are GUARANTEED to cluster; filler docs use
    // disjoint vocabularies (Jaccard 0) and must stay singletons
    // (absent: dd10 lists only clustered docs)
    val dir = java.nio.file.Files.createTempDirectory("dd10-planted").toString
    val groups = Map(
      10L -> "alpha beta gamma delta epsilon zeta eta theta",
      20L -> "one two three four five six seven eight",
      30L -> "red green blue cyan magenta yellow black white")
    val members = Seq(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L)
    val fillers = (100L until 140L).map(i =>
      (i, (0 until 8).map(j => s"f${i}w$j").mkString(" ")))
    import spark.implicits._
    plantDocs((members.map { case (id, g) => (id, groups(g)) } ++ fillers)
      .toDF("doc_id", "text"), dir)
    val got = SparkEntry.queries("dd10_dedup_clusters_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(t => (t._1, t._2)).toSet ==
      members.map { case (id, g) => (id, g) }.toSet,
      s"clusters diverged: ${got.toSeq.sortBy(_._1)}")
    assert(got.filter(_._3 == 1L).map(_._1).toSet == Set(10L, 20L, 30L))
  }

  test("dd10 end-to-end: a 120-hop near-dup chain is one cluster labelled by its min id") {
    // Hop k is the 19-word window at word k of one chain-private word
    // sequence: neighbours share 16 of 18 3-shingles (Jaccard 0.89,
    // above dd10's 0.8), hops two apart 15 of 19 (0.79, below), so no
    // verified edge skips a hop and the component's diameter is 120 —
    // past any diameter-bound propagation guard. Ids rise along the
    // chain, so the min label has to travel all 120 hops.
    import spark.implicits._
    val words = (0 until 139).map(i => s"link${i}w")
    val chain = (0 until 121).map(k => (1000L + k, words.slice(k, k + 19).mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("dd10-chain").toString
    plantDocs(chain.toDF("doc_id", "text"), dir)
    // LSH misses a Jaccard-0.89 pair with probability about 0.017, but
    // it is deterministic for fixed texts, and these words have every
    // hop verified. That is checked first, so the cluster assertions
    // below test the CC kernel alone.
    val pairs = TextOps.lshNearDupPairs(
        TextOps.wordShingleRows(Tables.table(spark, dir, "documents"),
          "doc_id", "text", 3), "doc_id",
        numHashes = 36, rowsPerBand = 6, maxBucketSize = 100,
        threshNum = 8, threshDen = 10)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (1000L until 1120L).map(a => (a, a + 1)).toSet,
      s"LSH-verified pairs are not exactly the 120 chain hops: ${pairs.size}")
    val got = SparkEntry.queries("dd10_dedup_clusters_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSet == chain.map(_._1).toSet)
    assert(got.forall(_._2 == 1000L),
      s"chain split: ${got.groupBy(_._2).map { case (c, m) => c -> m.length }}")
    assert(got.filter(_._3 == 1L).map(_._1).toSeq == Seq(1000L))
  }

  test("CC kernel equals a driver-side union-find on random pairs with duplicates, reversals and int ids") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261018L)
    // a sparse random graph (small components, some self-pairs) plus a
    // 150-vertex path laid over shuffled ids, so the min sits mid-path
    val random = Seq.fill(300)((rnd.nextInt(400), rnd.nextInt(400)))
    val order = rnd.shuffle((1000 until 1150).toVector)
    val path = order.zip(order.tail)
    val distinct = random ++ path :+ ((999, 999))
    // every pair once more reversed, a sample duplicated as-is
    val pairs = distinct ++ distinct.map(_.swap) ++ rnd.shuffle(distinct).take(80)
    val (labels, _) = graft.ext.DedupQueries.connectedComponents(
      rnd.shuffle(pairs).toDF("a_id", "b_id"), "spec-uf")
    assert(labels.schema.map(_.dataType) ==
      Seq(org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.IntegerType), labels.schema.toString)
    val parent = scala.collection.mutable.Map[Int, Int]()
    def find(x: Int): Int = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    distinct.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    val expected = parent.keys.toSeq.map(v => v -> find(v)).toMap
    val got = labels.collect().map(r => r.getInt(0) -> r.getInt(1))
    assert(got.length == expected.size, "a vertex is missing or duplicated")
    assert(got.toMap == expected)
  }

  test("dd19 best-rep dedup: the keeper is the quality argmax, not the min id; ties fall back to min id") {
    // group 10/11 exploits cyclic repetition: "x y z" repeated 3x and
    // 2x have the IDENTICAL 3-shingle set {xyz, yzx, zxy} (guaranteed
    // same minhash signatures -> same buckets, Jaccard 1 verified) but
    // different diversity — doc 11 (3/6 = 500000) BEATS the min-id
    // doc 10 (3/9 = 333333), so the keep bit moves off the id that
    // dd10 would keep. Group 20/21 is byte-identical (equal scores):
    // the tiebreak keeps the min id. Disjoint-vocab fillers stay out.
    val dir = java.nio.file.Files.createTempDirectory("dd19-planted").toString
    import spark.implicits._
    val rows = Seq(
      (10L, "x y z x y z x y z"),
      (11L, "x y z x y z"),
      (20L, "one two three four five six seven eight"),
      (21L, "one two three four five six seven eight")) ++
      (100L until 130L).map(i =>
        (i, (0 until 8).map(j => s"f${i}w$j").mkString(" ")))
    plantDocs(rows.toDF("doc_id", "text"), dir)
    val got = SparkEntry.queries("dd19_best_rep_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      10L -> ((10L, 333333L, 0L)),
      11L -> ((10L, 500000L, 1L)),
      20L -> ((20L, 1000000L, 1L)),
      21L -> ((20L, 1000000L, 0L))), s"got $got")
  }

  test("dd19 mega-cluster: one cluster far bigger than the rest still keeps its argmax, not its min id") {
    // The scale scenario dd19 exists for: a boilerplate-padded dup
    // group that dwarfs every other cluster (30 members vs 2). All 30
    // share the identical cyclic 3-shingle set (Jaccard 1, same LSH
    // buckets) but repetition count m varies, so score = 3e6/(3m)
    // differs per member: doc 72 has m=2 (the best score, 500000) and
    // must take the keep bit off min-id doc 50 (m=3). A ranking window
    // would also get this right — the point of the planted shape is
    // that it exercises the one-big-partition case the map-combining
    // aggregate is designed for, with the small 90/91 cluster proving
    // the argmax stays per-cluster.
    val dir = java.nio.file.Files.createTempDirectory("dd19-mega").toString
    import spark.implicits._
    val mega = (50L until 80L).map { id =>
      val m = if (id == 72L) 2 else 3 + (id - 50L).toInt // unique best
      (id, Seq.fill(m)("x y z").mkString(" "))
    }
    val small = Seq(
      (90L, "one two three four five six seven eight"),
      (91L, "one two three four five six seven eight"))
    val fillers = (100L until 120L).map(i =>
      (i, (0 until 8).map(j => s"f${i}w$j").mkString(" ")))
    plantDocs((mega ++ small ++ fillers).toDF("doc_id", "text"), dir)
    val got = SparkEntry.queries("dd19_best_rep_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val megaKeepers = got.filter { case (id, (cl, _, k)) =>
      cl == 50L && k == 1L }.keySet
    assert(megaKeepers == Set(72L),
      s"mega-cluster keeper should be the argmax doc 72: $got")
    assert(got(72L)._2 == 500000L, s"best score drifted: ${got(72L)}")
    assert(got(90L) == ((90L, 1000000L, 1L)) &&
      got(91L) == ((90L, 1000000L, 0L)),
      s"small cluster tiebreak broke: ${got(90L)} ${got(91L)}")
    assert(got.count(_._2._3 == 1L) == 2, s"one keeper per cluster: $got")
  }

  test("packed-long radix guard: an over-raised maxDocTokens cap is refused loudly (dd20, tx17)") {
    // The 2^20 packing radix in dd20's cut-set group-first and tx17's
    // first-carrier attribution is only correct while positions fit in
    // 20 bits; the wordShinglePosRows guard enforces that ONLY when the
    // user-raisable cap itself stays <= 2^20. Past it, the builders
    // must refuse — silent bit-bleed into doc_id is the failure mode.
    spark.conf.set("graft.ext.maxDocTokens", "2000000")
    try {
      Seq("dd20_span_removal", "tx17_novelty_score").foreach { q =>
        val e = intercept[IllegalArgumentException] {
          SparkEntry.queries(q)(spark, sfDir)
        }
        assert(e.getMessage.contains("1048576"), s"$q: ${e.getMessage}")
      }
      // exactly at the radix the cap is still accepted
      spark.conf.set("graft.ext.maxDocTokens", "1048576")
      SparkEntry.queries("dd20_span_removal")(spark, sfDir)
      SparkEntry.queries("tx17_novelty_score")(spark, sfDir)
    } finally spark.conf.unset("graft.ext.maxDocTokens")
  }

  test("dd23 estimator calibration: the 1/8-sampled duplicated-window fraction tracks exact dd15 on a planted known-fraction corpus") {
    // 100 pairs, each sharing a 100-token half with a unique 100-token
    // tail: every doc's exact window-dup fraction is 93/193 (the
    // windows fully inside the shared half; boundary-spanning windows
    // mix in unique tokens). dd15 must report exactly that; dd23's
    // digest-sampled estimate must land within 0.05 of it (stderr at
    // ~3.7k sampled distinct digests is ~0.008 — the tolerance is 6x).
    // Two 5-token runts pin the no-sampled-windows contract (est -1).
    val dir = java.nio.file.Files.createTempDirectory("dd23-calib").toString
    import spark.implicits._
    val rows = (0L until 200L).map { id =>
      val pair = id / 2
      val shared = (0 until 100).map(j => s"p${pair}s$j").mkString(" ")
      val uniq = (0 until 100).map(j => s"d${id}u$j").mkString(" ")
      (id, shared + " " + uniq)
    } ++ Seq((900L, "tiny doc under the window"),
      (901L, "another runt below eight"))
    plantDocs(rows.toDF("doc_id", "text"), dir)
    val exact = SparkEntry.queries("dd15_substring_dedup")(spark, dir)
      .agg(sum("n_dup_win"), sum("n_win")).head()
    val pExact = exact.getLong(0).toDouble / exact.getLong(1)
    assert(math.abs(pExact - 93.0 / 193.0) < 1e-9,
      s"the plant is not what the test thinks: $pExact")
    val estDf = SparkEntry.queries("dd23_substring_dup_estimate")(spark, dir)
    val est = estDf.agg(sum("n_dup_samp"), sum("n_samp")).head()
    val pEst = est.getLong(0).toDouble / est.getLong(1)
    assert(math.abs(pEst - pExact) < 0.05, s"est $pEst vs exact $pExact")
    val runts = estDf.filter(col("doc_id") >= 900L)
      .select("n_samp", "est_dup_win_pct_e6")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(runts == Set((0L, -1L)), s"runt contract broke: $runts")
  }

  test("dd24 per-source triage: the duplicated source lights up, the clean one reads zero; totals conserve vs dd23") {
    // source "dup" is 20 identical pairs (every window cross-doc
    // duplicated -> est exactly 1e6); source "clean" is 40 unique docs
    // (no shared window -> est exactly 0). The per-source sums must
    // also reproduce dd23's doc-level totals — the report is an
    // attribution of the estimator, never a re-estimate.
    val dir = java.nio.file.Files.createTempDirectory("dd24-planted").toString
    import spark.implicits._
    val rows = (0L until 40L).map { id =>
      val pair = id / 2
      (id, (0 until 40).map(j => s"p${pair}w$j").mkString(" "), "dup")
    } ++ (100L until 140L).map(i =>
      (i, (0 until 40).map(j => s"u${i}w$j").mkString(" "), "clean"))
    plantDocs(rows.toDF("doc_id", "text", "source"), dir)
    val got = SparkEntry.queries("dd24_dup_source_estimate")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == Set("dup", "clean"), s"sources: $got")
    assert(got("dup")._1 == 40L && got("clean")._1 == 40L, s"n_docs: $got")
    assert(got("dup")._2 > 0 && got("dup")._4 == 1000000L,
      s"fully-duplicated source must read 1e6: $got")
    assert(got("clean")._2 > 0 && got("clean")._4 == 0L,
      s"clean source must read 0: $got")
    val tot = SparkEntry.queries("dd23_substring_dup_estimate")(spark, dir)
      .agg(sum("n_samp"), sum("n_dup_samp")).head()
    assert(got.values.map(_._2).sum == tot.getLong(0) &&
      got.values.map(_._3).sum == tot.getLong(1),
      s"attribution lost mass: $got vs ${tot}")
  }

  test("dd25 incremental substring: history runs are known at every alignment, batch-batch overlap is not, runts keep") {
    // batch doc 4 opens with a 10-token run S that history doc 0 ends
    // with: a shared run of length L >= k matches at L-k+1 = 3
    // alignments, so n_known = 3 of its 13 windows (230769 e6 — above
    // the 20% cut, keep 0). Batch docs 9 and 14 are byte-identical to
    // EACH OTHER only: batch-batch windows are not "already known"
    // (the standing index holds history alone), so both read 0 and
    // keep. The 3-token runt has no windows: pct 0, keep 1.
    val dir = java.nio.file.Files.createTempDirectory("dd25-planted").toString
    import spark.implicits._
    val s10 = (0 until 10).map(j => s"s$j").mkString(" ")
    val rows = Seq(
      (0L, (0 until 10).map(j => s"h$j").mkString(" ") + " " + s10),
      (4L, s10 + " " + (0 until 10).map(j => s"b4u$j").mkString(" ")),
      (9L, (0 until 20).map(j => s"bb$j").mkString(" ")),
      (14L, (0 until 20).map(j => s"bb$j").mkString(" ")),
      (19L, "tiny batch doc"),
      (1L, (0 until 12).map(j => s"f1w$j").mkString(" ")),
      (2L, (0 until 12).map(j => s"f2w$j").mkString(" ")))
    plantDocs(rows.toDF("doc_id", "text"), dir)
    val got = SparkEntry.queries("dd25_incremental_substring")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got == Map(
      4L -> ((20L, 13L, 3L, 230769L, 0L)),
      9L -> ((20L, 13L, 0L, 0L, 1L)),
      14L -> ((20L, 13L, 0L, 0L, 1L)),
      19L -> ((3L, 0L, 0L, 0L, 1L))), s"got $got")
  }

  test("LSH mega-buckets rep-chain instead of dropping: cluster beyond the cap still collapses") {
    // 30 identical docs with bucket cap 5: every band bucket holds all
    // 30 (> cap), so the old drop-the-bucket behavior emitted ZERO
    // candidates and silently lost the cluster; rep-chaining emits the
    // 29 (min, member) pairs — linear, not the 435 all-pairs — and
    // exact verification confirms them (identical sets, Jaccard 1)
    val dir = java.nio.file.Files.createTempDirectory("lsh-megabucket").toString
    val cluster = (0L until 30L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val fillers = (100L until 120L).map(i =>
      (i, (0 until 10).map(j => s"f${i}w$j").mkString(" ")))
    import spark.implicits._
    (cluster ++ fillers).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextOps.wordShingleRows(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 3)
    val pairs = TextOps.lshNearDupPairs(rows, "doc_id",
        numHashes = 36, rowsPerBand = 6, maxBucketSize = 5,
        threshNum = 8, threshDen = 10)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == (1L until 30L).map(m => (0L, m)).toSet,
      s"expected the 29 rep-chain pairs, got ${pairs.length}: " +
        pairs.sorted.take(40).mkString(", "))
  }

  test("dd12 LSH near-dup: planted high-cosine pairs recovered with exact cosines") {
    // 50 planted near-identical pairs (shared base, one component
    // nudged 0.02 per member -> cos ≈ 0.9999; P[plane bit agrees]
    // ≈ 0.996, so each 8-bit table matches w.p. ~0.97 and missing all
    // 8 tables is ~1e-12) among 300 random fillers. The fixture corpus
    // has no cos ≥ 0.95 pairs, so recall is proven on this planted one.
    import spark.implicits._
    val dim = 64
    val rnd = new scala.util.Random(42)
    def randVec(): Array[Float] =
      Array.fill(dim)((rnd.nextDouble() - 0.5).toFloat)
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Int)]()
    for (c <- 0 until 50) {
      val base = randVec()
      for (m <- 0 to 1) {
        val v = base.clone(); v(m) = v(m) + 0.02f
        rows += (((2 * c + m).toLong, v, c))
      }
    }
    for (i <- 100 until 400) rows += ((i.toLong, randVec(), -1))
    val dir = java.nio.file.Files.createTempDirectory("dd12-planted").toString
    rows.toSeq.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("dd12_embedding_neardup_lsh")(spark, dir)
      .collect()
    val vecs = rows.map { case (id, v, _) =>
      val d = v.map(_.toDouble)
      val n = math.sqrt(d.map(x => x * x).sum)
      id -> d.map(_ / n)
    }.toMap
    def cos(a: Long, b: Long): Double =
      vecs(a).zip(vecs(b)).map { case (x, y) => x * y }.sum
    // precision: every emitted pair independently recomputes to the
    // same cosine (±1 in the e6 fixed-point for fold-order drift) and
    // sits above the threshold
    got.foreach { r =>
      val c = cos(r.getLong(0), r.getLong(1))
      assert(c >= 0.4 - 1e-9 &&
        math.abs(r.getLong(2) - math.round(c * 1e6)) <= 1,
        s"pair ${r.getLong(0)},${r.getLong(1)}: got ${r.getLong(2)} vs $c")
    }
    // recall on the planted near-identical pairs
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 50).map(c => (2L * c, 2L * c + 1))
      .filter { case (a, b) => cos(a, b) >= 0.95 }
    assert(planted.nonEmpty)
    val hit = planted.count(gotPairs)
    assert(hit.toDouble / planted.size >= 0.9,
      s"dd12 recall $hit/${planted.size} below 0.9")
  }

  test("dd12 mega-bucket rep-chains: identical-vector cluster beyond the cap") {
    // 100 identical vectors: every (table, sig) bucket holds all 100
    // (> cap 64), so all-pairs would be 4950 — rep-chaining must emit
    // exactly the 99 (min, member) pairs, every cosine exactly 1.
    // The 5 basis-vector fillers are mutually orthogonal (cos 0) and
    // at cos 0.125 to the cluster, so any bucket coincidence with them
    // is filtered by the exact-cosine verify.
    import spark.implicits._
    val dim = 64
    val one = Array.fill(dim)(0.125f)
    val rows = (0 until 100).map(i => (i.toLong, one, 0)) ++
      (0 until 5).map(i => ((100 + i).toLong,
        Array.tabulate(dim)(j => if (j == i) 1.0f else 0.0f), 1))
    val dir = java.nio.file.Files.createTempDirectory("dd12-megabucket").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("dd12_embedding_neardup_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 99, s"expected 99 rep-chain pairs, got ${got.length}")
    assert(got.forall(t => t._1 == 0L && t._3 == 1000000L),
      s"bad pair rows: ${got.filterNot(t => t._1 == 0L && t._3 == 1000000L).take(5).toSeq}")
    assert(got.map(_._2).toSet == (1L to 99L).toSet)
  }

  test("dd13 semdedup: structural invariants (one keep per cluster, bucket-local, min-rule)") {
    val got = run("dd13_semdedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.nonEmpty, "fixture corpus should contain semantic dup groups")
    val byCluster = got.groupBy(_._3)
    byCluster.foreach { case (cl, rows) =>
      // only clustered vectors are emitted, so every cluster has >= 2
      assert(rows.length >= 2, s"cluster $cl emitted as a singleton")
      // SemDeDup groups are found WITHIN a quantizer cell — never across
      assert(rows.map(_._2).distinct.length == 1,
        s"cluster $cl spans buckets ${rows.map(_._2).distinct.toSeq}")
      // exactly one exemplar, and it's the (cent_e6, vec_id)-minimal
      // member (farthest from the centroid = most atypical survives)
      val keeps = rows.filter(_._5 == 1L)
      assert(keeps.length == 1, s"cluster $cl has ${keeps.length} keeps")
      assert(keeps.head._1 == rows.map(r => (r._4, r._1)).min._2,
        s"cluster $cl kept ${keeps.head._1}, not the min-(cent,id) member")
      // cluster label is the min member id (min-label propagation)
      assert(cl == rows.map(_._1).min)
    }
  }

  test("dd13 semdedup: planted duplicate groups collapse to one keeper each") {
    // 10 groups of 3 near-identical vectors (cos ≈ 1 within a group)
    // among 150 random fillers: each group must land in ONE cluster
    // with exactly one keep=1 row, whatever else LSH-free centroid
    // assignment puts in the same cell.
    import spark.implicits._
    val dim = 64
    val rnd = new scala.util.Random(11)
    def randVec(): Array[Float] =
      Array.fill(dim)((rnd.nextDouble() - 0.5).toFloat)
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Int)]()
    for (c <- 0 until 10) {
      val base = randVec()
      for (m <- 0 until 3) {
        val v = base.clone(); v(m) = v(m) + 0.02f
        rows += (((3 * c + m).toLong, v, c))
      }
    }
    for (i <- 100 until 250) rows += ((i.toLong, randVec(), -1))
    val dir = java.nio.file.Files.createTempDirectory("dd13-planted").toString
    rows.toSeq.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("dd13_semdedup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
    val cluster = got.map(t => t._1 -> t._2).toMap
    for (c <- 0 until 10) {
      val ids = (0 until 3).map(m => (3 * c + m).toLong)
      val cls = ids.flatMap(cluster.get).distinct
      assert(cls.length == 1 && ids.forall(cluster.contains),
        s"planted group $c not in one cluster: ${ids.map(cluster.get)}")
      val keeps = got.filter(t => t._2 == cls.head && t._3 == 1L)
      assert(keeps.length == 1,
        s"planted group $c cluster ${cls.head}: ${keeps.length} keeps")
    }
  }

  test("dd14 bloom prefilter: no false negatives, low false-positive rate") {
    val got = run("dd14_bloom_prefilter").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // a true dup shares the content hash, hence every probe position:
    // bloom MUST flag it (the classic bloom-filter contract)
    val falseNeg = got.filter(t => t._3 == 1L && t._2 == 0L)
    assert(falseNeg.isEmpty, s"bloom false negatives: ${falseNeg.take(5).toSeq}")
    // false_pos is exactly (bloom_hit && !is_dup) row-wise
    got.foreach { t =>
      assert(t._4 == (if (t._2 == 1L && t._3 == 0L) 1L else 0L),
        s"false_pos marker inconsistent on row $t")
    }
    // fill factor here is ~4·|hist| / 65536 ≈ 2%, so fpp ≈ fill^4 ≈ 0 —
    // a loose 5% ceiling still catches a broken position derivation
    // (e.g. all probes landing in a constant bit)
    val fp = got.count(_._4 == 1L)
    assert(fp.toDouble / got.length < 0.05,
      s"false-positive rate ${fp.toDouble / got.length} over 5%")
  }

  test("tx16 lm bigram score: reference slice self-covers; score bounds hold") {
    val got = run("tx16_lm_bigram_score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.nonEmpty)
    // every bigram of a reference doc is in the model by construction
    got.filter(_._1 < 50).foreach { t =>
      assert(t._3 == t._2 && t._5 == 1L,
        s"reference doc ${t._1} not fully known: $t")
    }
    got.foreach { t =>
      // each known occurrence contributes >= 1; unknown contribute 0
      assert(t._3 <= t._2 && t._4 >= t._3,
        s"score bounds violated on $t")
      // flag is exactly the 80% coverage cross-multiplication
      assert(t._5 == (if (t._3 * 10 >= t._2 * 8) 1L else 0L),
        s"lm_keep inconsistent on $t")
    }
  }

  test("mm04 media neardup: identical payloads pair at l1=0; verified pairs obey the threshold") {
    import spark.implicits._
    // 3 identical payloads + 20 fillers with distinct char distributions
    val rnd = new scala.util.Random(23)
    val fillers = (10 until 30).map { i =>
      val ch = ('a' + (i % 26)).toChar
      (i.toLong, (s"$ch" * (20 + rnd.nextInt(60))) + " " + ("Z" * (i % 7)))
    }
    val rows = Seq(0L, 1L, 2L).map(id => (id, "the same media payload bytes")) ++ fillers
    val dir = java.nio.file.Files.createTempDirectory("mm04-planted").toString
    plantDocs(rows.toDF("doc_id", "text"), dir)
    val got = SparkEntry.queries("mm04_media_neardup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairs = got.map(t => (t._1, t._2)).toSet
    // identical payloads share the exact histogram: all three pairs, l1=0
    for (p <- Seq((0L, 1L), (0L, 2L), (1L, 2L))) {
      assert(pairs(p), s"identical-payload pair $p missing from $pairs")
    }
    got.filter(t => t._1 <= 2 && t._2 <= 2).foreach(t =>
      assert(t._3 == 0L, s"identical payloads scored l1=${t._3}"))
  }

  test("dp08 temperature sample: small sources keep everything, giant sources flatten to ~8/sqrt(n)") {
    import spark.implicits._
    val rows = (0 until 6400).map(i => (i.toLong, s"doc text number $i", "src_big")) ++
      (6400 until 6450).map(i => (i.toLong, s"doc text number $i", "src_small"))
    val dir = java.nio.file.Files.createTempDirectory("dp08-skew").toString
    plantDocs(rows.toDF("doc_id", "text", "source"), dir)
    val got = SparkEntry.queries("dp08_temperature_sample")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (nS, thrS, keptS) = got("src_small")
    assert(nS == 50 && thrS == 65536L && keptS == 50,
      s"small source must keep everything: $got")
    val (nB, thrB, keptB) = got("src_big")
    assert(nB == 6400 && thrB == 524288L / 80L,
      s"big-source threshold wrong: $got")
    // expected keep rate thr/65536 = 10%; the md5 fraction is uniform
    // enough that 6400 draws land well inside [7%, 13%]
    assert(keptB > nB * 7 / 100 && keptB < nB * 13 / 100,
      s"big source kept $keptB of $nB — outside the flattening band")
  }

  test("ss06 kNN graph: planted clusters dominate each member's neighbor list") {
    // 10 clusters of 4 near-identical vectors (one component nudged
    // per member) among 200 random fillers: each member's 3
    // clustermates have cos ≈ 1 and must occupy its top-3 neighbor
    // slots whenever the member appears in the graph at all.
    import spark.implicits._
    val dim = 64
    val rnd = new scala.util.Random(7)
    def randVec(): Array[Float] =
      Array.fill(dim)((rnd.nextDouble() - 0.5).toFloat)
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Int)]()
    for (c <- 0 until 10; m <- 0 until 4) {
      val base = new scala.util.Random(1000 + c)
      val v = Array.fill(dim)((base.nextDouble() - 0.5).toFloat)
      v(m) = v(m) + 0.02f
      rows += (((4 * c + m).toLong, v, c))
    }
    for (i <- 100 until 300) rows += ((i.toLong, randVec(), -1))
    val dir = java.nio.file.Files.createTempDirectory("ss06-planted").toString
    rows.toSeq.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("ss06_knn_graph")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val bySrc = got.groupBy(_._1)
    // structural sanity: ranks are 1..k dense, neighbors distinct
    bySrc.foreach { case (src, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq,
        s"ranks not dense for $src: ${rs.toSeq.sortBy(_._2)}")
      assert(rs.map(_._3).distinct.length == rs.length,
        s"duplicate neighbors for $src")
    }
    // every cluster member that appears lists its 3 clustermates first
    // (cos ≈ 0.9996+ beats any random filler's, whp ~0.5 max)
    var covered = 0
    for (c <- 0 until 10; m <- 0 until 4) {
      val id = (4 * c + m).toLong
      val mates = (0 until 4).map(j => (4 * c + j).toLong).filter(_ != id).toSet
      bySrc.get(id).foreach { rs =>
        covered += 1
        val top3 = rs.sortBy(_._2).take(3).map(_._3).toSet
        assert(top3 == mates,
          s"member $id top-3 $top3 != clustermates $mates")
      }
    }
    assert(covered >= 36, s"only $covered/40 cluster members in the graph")
  }

  test("tx14 boilerplate removal: planted repeated chunk stripped from every doc") {
    // 6 docs share one identical 20-token header chunk (doc freq 6 >=
    // 3) followed by 20 unique tokens; 4 docs are fully unique. The
    // header must vanish from ALL docs (not keep-first), unique chunks
    // survive, and clean_text reassembles in chunk order.
    import spark.implicits._
    val header = (0 until 20).map(i => s"nav$i").mkString(" ")
    val withBp = (0L until 6L).map { d =>
      val body = (0 until 20).map(i => s"d${d}w$i").mkString(" ")
      (d, s"$header $body")
    }
    val clean = (10L until 14L).map { d =>
      (d, (0 until 40).map(i => s"u${d}w$i").mkString(" "))
    }
    val dir = java.nio.file.Files.createTempDirectory("tx14-planted").toString
    plantDocs((withBp ++ clean).toDF("doc_id", "text"), dir)
    val got = SparkEntry.queries("tx14_boilerplate_removal")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    for (d <- 0L until 6L) {
      val (n, rem, txt) = got(d)
      assert(n == 2 && rem == 1, s"doc $d: n_chunks=$n n_removed=$rem")
      assert(txt == (0 until 20).map(i => s"d${d}w$i").mkString(" "),
        s"doc $d clean_text wrong: $txt")
    }
    for (d <- 10L until 14L) {
      val (n, rem, txt) = got(d)
      assert(n == 2 && rem == 0 &&
        txt == (0 until 40).map(i => s"u${d}w$i").mkString(" "),
        s"doc $d should be untouched: $n $rem $txt")
    }
  }

  test("dp07 source cap: skewed source capped at 10, stable across re-runs") {
    // one mega-source with 500 docs and two small ones (3 docs each):
    // the mega-source must yield EXACTLY 10 winners — the md5-smallest
    // priorities, rank-ordered — and the small sources keep all docs.
    import spark.implicits._
    val rows = (0L until 500L).map(i => (i, s"doc $i text", "mega")) ++
      (500L until 503L).map(i => (i, s"doc $i text", "tiny_a")) ++
      (503L until 506L).map(i => (i, s"doc $i text", "tiny_b"))
    val dir = java.nio.file.Files.createTempDirectory("dp07-planted").toString
    plantDocs(rows.toDF("doc_id", "text", "source"), dir)
    def run() = SparkEntry.queries("dp07_source_cap")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val got = run()
    val bySrc = got.groupBy(_._1)
    assert(bySrc("mega").length == 10 && bySrc("tiny_a").length == 3 &&
      bySrc("tiny_b").length == 3, s"cap sizes wrong: ${bySrc.view.mapValues(_.length).toMap}")
    // winners really are the 10 smallest md5 priorities of the source
    def prio(id: Long): Long =
      java.lang.Long.parseLong(org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"cap:$id").substring(0, 8), 16)
    val expect = (0L until 500L).sortBy(i => (prio(i), i)).take(10)
    assert(bySrc("mega").sortBy(_._2).map(_._3).toSeq == expect,
      s"mega winners diverge: ${bySrc("mega").sortBy(_._2).toSeq}")
    assert(got.forall(t => t._4 == prio(t._3)), "emitted priority mismatch")
    assert(run().toSeq == got.toSeq, "dp07 not deterministic across runs")
  }

  test("ss07 hybrid search: results are BM25 candidates with embeddings, in cosine order") {
    val bm = SparkEntry.queries("tx12_bm25_search")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val got = SparkEntry.queries("ss07_hybrid_search")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty && got.length <= 10)
    // rerank order: cosine desc, doc_id asc tiebreak
    assert(got.sliding(2).forall { case Array(a, b) =>
      a._3 > b._3 || (a._3 == b._3 && a._1 < b._1) }, s"order broken: ${got.toSeq}")
    // the lexical stage really gates: every hybrid result carries a
    // positive BM25 score, and the top-10 lexical docs that have
    // embeddings are all present when fewer than 10 candidates rerank
    assert(got.forall(_._2 > 0), "non-lexical doc leaked into hybrid results")
    assert(bm.nonEmpty)
  }

  test("ss05 quantized ANN: high recall vs exact top-5, codes within int8 range") {
    // int8 of a normalized 64-dim vector loses ~1e-2 per dot; top-5
    // overlap measured 0.98 at sf0.001/sf0.01 — 0.85 floor leaves room
    // for fixture drift without letting a broken quantizer pass
    val exact = run("ss01_ann_bruteforce").select("q_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = run("ss05_ann_quantized").select("q_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.85, s"quantized recall $recall below 0.85")
  }

  test("dd11 incremental dedup: history/batch statuses on a planted corpus") {
    // batch = doc_id % 5 == 4. Plant: 4 copies history doc 1 (dup_history),
    // 9 and 14 are copies of each other within the batch (keep-first: 9
    // new, 14 dup_batch of 9), 19 unique (new), 24 copies history docs
    // 2 and 7 (dup_of = the MIN history id, 2). History rows never appear.
    val dir = java.nio.file.Files.createTempDirectory("dd11-planted").toString
    val t = (i: Long) => s"text body number $i with some words"
    val rows = Seq(
      0L -> t(0), 1L -> t(1), 2L -> t(2), 3L -> t(3), 4L -> t(1),
      6L -> t(6), 7L -> t(2), 8L -> t(8), 9L -> t(99), 11L -> t(11),
      13L -> t(13), 14L -> t(99), 16L -> t(16), 19L -> t(19), 24L -> t(2))
    import spark.implicits._
    plantDocs(rows.toDF("doc_id", "text"), dir)
    val got = SparkEntry.queries("dd11_incremental_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(got.toSeq.sortBy(_._1) == Seq(
      (4L, "dup_history", 1L),
      (9L, "new", -1L),
      (14L, "dup_batch", 9L),
      (19L, "new", -1L),
      (24L, "dup_history", 2L)), s"got ${got.toSeq.sortBy(_._1)}")
  }

  test("dd17 incremental minhash probe: planted near-dups against history; batch-batch pairs are NOT probed") {
    // batch = doc_id % 5 == 4. Plant: 4 copies history doc 1 exactly
    // (J=1 — collides in every band, guaranteed candidate); 9 is a
    // 40-token near-dup of history doc 6 with ONE trailing token
    // changed (3-shingle Jaccard 35/41 ~ 0.85 >= 0.8); 14 and 19 copy
    // each other but no history doc — the probe must report both "new"
    // (within-batch near-dup is the batch's own dd03/dd10 run, NOT the
    // incremental probe's contract); 24 is unique.
    val dir = java.nio.file.Files.createTempDirectory("dd17-planted").toString
    val long6 = (0 until 40).map(i => s"tok${i}word").mkString(" ")
    val long9 = (0 until 39).map(i => s"tok${i}word").mkString(" ") + " changed"
    val rows = Seq(
      0L -> "alpha beta gamma delta epsilon zeta",
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "completely different history content here now",
      3L -> "another unrelated history document body text",
      4L -> "the quick brown fox jumps over the lazy dog today",
      6L -> long6,
      9L -> long9,
      14L -> "batch only duplicate pair content shared text body",
      19L -> "batch only duplicate pair content shared text body",
      24L -> "a unique batch document matching nothing at all")
    import spark.implicits._
    plantDocs(rows.toDF("doc_id", "text"), dir)
    val got = SparkEntry.queries("dd17_incremental_minhash")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3)))
    assert(got.toSeq.sortBy(_._1) == Seq(
      (4L, "near_dup_history", 1L, 1L),
      (9L, "near_dup_history", 6L, 1L),
      (14L, "new", -1L, 0L),
      (19L, "new", -1L, 0L),
      (24L, "new", -1L, 0L)), s"got ${got.toSeq.sortBy(_._1)}")
  }

  test("tx20 quality gate: per-language cohort thresholds, ties at the threshold kept") {
    // en: 10 docs, 10 tokens each, k distinct tokens -> score k*100000.
    // Scores [8,7,7,6,5,4,3,2,1,1]: cumulative-from-top hits 30% of 10
    // at score 7 (cum=3), so thr=700000 and docs {8,7,7} pass — BOTH
    // ties at the threshold. es: 3 docs [9,5,2]: cum(9)*10=10 >= 3*3,
    // so thr=900000 and only the top doc passes. Thresholds are
    // per-language (the es doc with score 5 would pass the en
    // threshold but not its own).
    val dir = java.nio.file.Files.createTempDirectory("tx20-planted").toString
    def t(k: Int) = ((1 to k).map(i => s"t$i") ++ Seq.fill(10 - k)("t1")).mkString(" ")
    val ks = Seq(8, 7, 7, 6, 5, 4, 3, 2, 1, 1)
    val en = ks.zipWithIndex.map { case (k, i) => (i.toLong, t(k), "en") }
    val es = Seq((100L, t(9), "es"), (101L, t(5), "es"), (102L, t(2), "es"))
    import spark.implicits._
    plantDocs((en ++ es).toDF("doc_id", "text", "lang"), dir)
    val got = SparkEntry.queries("tx20_quality_gate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq.sortBy(_._1) == Seq(
      (0L, "en", 800000L, 700000L),
      (1L, "en", 700000L, 700000L),
      (2L, "en", 700000L, 700000L),
      (100L, "es", 900000L, 900000L)), s"got ${got.toSeq.sortBy(_._1)}")
  }

  test("tx21 source overlap: planted shared shingles give the exact Jaccard matrix") {
    // A = {w1w2w3, w2w3w4, x1x2x3} (3), B = {w1w2w3, w2w3w4} (2) via an
    // identical doc, C = {z1z2z3} disjoint. Only (A, B) overlaps:
    // inter 2, union 3 -> jaccard_e6 = round(2e6/3) = 666667.
    val dir = java.nio.file.Files.createTempDirectory("tx21-planted").toString
    import spark.implicits._
    plantDocs(Seq(
      (0L, "w1 w2 w3 w4", "A"), (1L, "x1 x2 x3", "A"),
      (2L, "w1 w2 w3 w4", "B"), (3L, "z1 z2 z3", "C"))
      .toDF("doc_id", "text", "source"), dir)
    val got = SparkEntry.queries("tx21_source_overlap")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(("A", "B", 3L, 2L, 2L, 666667L)), s"got ${got.toSeq}")
  }

  test("tx21 on the fixture: bounds hold and intersections match a driver union-find-free recount") {
    val got = run("tx21_source_overlap").cache()
    assert(got.count() > 0)
    assert(got.filter(col("n_inter") > least(col("n_a"), col("n_b"))).count() == 0)
    assert(got.filter(col("jaccard_e6") < 0 || col("jaccard_e6") > 1000000).count() == 0)
    // independent recount of one pair via the array formulation
    val first = got.orderBy(col("jaccard_e6").desc).head()
    val (sa, sb) = (first.getString(0), first.getString(1))
    val d = Tables.table(spark, sfDir, "documents")
    def shingleSet(src: String) = d.filter(col("source") === src)
      .select(explode(TextOps.wordShingles(col("text"), 3)).as("el"))
      .distinct().collect().map(_.getString(0)).toSet
    val (setA, setB) = (shingleSet(sa), shingleSet(sb))
    assert(first.getLong(2) == setA.size && first.getLong(3) == setB.size)
    assert(first.getLong(4) == (setA & setB).size)
  }

  test("dp12 water-filling: saturated sources cap at availability, deficit redistributes, budget never overdrawn") {
    // S1 = 10 tokens, S2 = 90, S3 = 10000; budget = 60% of 10100 = 6060.
    // sqrt-temperature shares give S1/S2 allocations far above their
    // availability -> both saturate round 1; S3 absorbs the deficit:
    // planned = (6060 - 100) * t3 div t3 = 5960, spending the budget
    // exactly (10 + 90 + 5960).
    val dir = java.nio.file.Files.createTempDirectory("dp12-planted").toString
    import spark.implicits._
    def doc(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    plantDocs((Seq((0L, doc(10), "S1"), (1L, doc(90), "S2")) ++
      (0 until 10).map(i => (10L + i, doc(1000), "S3")))
      .toDF("doc_id", "text", "source"), dir)
    val got = SparkEntry.queries("dp12_token_budget_plan")(spark, dir)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(4), r.getLong(5)))).toMap
    // exact integer mirror of the 3-round plan
    def rate(n: Long) = math.min(524288L, math.floor(524288.0 / math.sqrt(n)).toLong)
    val avail = Map("S1" -> 10L, "S2" -> 90L, "S3" -> 10000L)
    val target = avail.map { case (s, n) => s -> n * rate(n) }
    val budget = (avail.values.sum * 6) / 10
    val a1 = target.map { case (s, t) => s -> budget * t / target.values.sum }
    val sat1 = avail.keySet.filter(s => a1(s) >= avail(s))
    assert(sat1 == Set("S1", "S2"))
    val t3 = target.filterNot(kv => sat1(kv._1)).values.sum
    val planned3 = math.min(avail("S3"),
      (budget - sat1.toSeq.map(avail).sum) * target("S3") / t3)
    assert(got == Map(
      "S1" -> ((10L, 10L, 1L)),
      "S2" -> ((90L, 90L, 1L)),
      "S3" -> ((10000L, planned3, 0L))), s"got $got")
    assert(got.values.map(_._2).sum <= budget)
    assert(got.values.map(_._2).sum == budget) // this fixture spends exactly
  }

  test("dp13 balanced shards: p90 histogram threshold bounds the ranked tail; snake reflects; light docs hash by id") {
    // 10 heavy docs with strictly decreasing token counts among 100
    // total: the derived threshold is the smallest value whose
    // >=-cohort is <= N/10 = 10 docs, i.e. thr = 121, so EXACTLY the
    // planted tail ranks. Ranks 0-7 walk shards 0..7, ranks 8-9
    // REFLECT back onto 7,6 — the counterbalancing half-pass; the 90
    // light docs take doc_id % 8 and never enter the ranked path.
    val dir = java.nio.file.Files.createTempDirectory("dp13-planted").toString
    import spark.implicits._
    def words(k: Int) = (0 until k).map(i => s"w$i").mkString(" ")
    val heavy = (0 until 10).map(i => (i.toLong, words(130 - i), "S"))
    val light = (10 until 100).map(i => (i.toLong, words(50), "S"))
    plantDocs((heavy ++ light).toDF("doc_id", "text", "source"), dir)
    val got = SparkEntry.queries("dp13_balanced_shards")(spark, dir)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val want = (0 until 8).map(i => i.toLong -> ((130L - i, 1L, i.toLong))).toMap ++
      Map(8L -> ((122L, 1L, 7L)), 9L -> ((121L, 1L, 6L))) ++
      (10 until 100).map(i => i.toLong -> ((50L, 0L, i % 8L))).toMap
    assert(got == want, s"got $got")
    // heavy + light partition the id space exactly — no doc assigned
    // twice (Map collapse would shrink the count) or dropped at the
    // threshold boundary
    assert(got.keySet == (0 until 100).map(_.toLong).toSet)
  }

  test("dp13 balanced shards: a uniform corpus (where a literal cut would flood the window) ranks nothing") {
    // every doc has 120 tokens — the old literal `n_tok >= 100` would
    // have pushed ALL 40 docs through the global-rank window. The
    // histogram derivation finds no value whose >=-cohort is <= N/10
    // (the only cohort is 100% of the corpus), thr is NULL, and every
    // doc takes the hashed path: ranked set 0 <= (1-q)*N.
    val dir = java.nio.file.Files.createTempDirectory("dp13-uniform").toString
    import spark.implicits._
    def words(k: Int) = (0 until k).map(i => s"w$i").mkString(" ")
    val rows = (0 until 40).map(i => (i.toLong, words(120), "S"))
    plantDocs(rows.toDF("doc_id", "text", "source"), dir)
    val got = SparkEntry.queries("dp13_balanced_shards")(spark, dir)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val want = (0 until 40).map(i => i.toLong -> ((120L, 0L, i % 8L))).toMap
    assert(got == want, s"got $got")
  }

  test("dp13 balanced shards: ties AT the derived threshold all rank, and the boundary loses no doc") {
    // two docs tie at 200 tokens among 30 total (cap = 3): thr = 200
    // (cohort 2 <= 3; the 50-token cohort is the whole corpus). Both
    // threshold-valued docs are heavy — ranked 0,1 onto shards 0,1 —
    // and the 28 light docs hash; the union covers every id exactly
    // once (the classic off-by-one at `>= thr` vs `< thr`).
    val dir = java.nio.file.Files.createTempDirectory("dp13-tie").toString
    import spark.implicits._
    def words(k: Int) = (0 until k).map(i => s"w$i").mkString(" ")
    val rows = Seq((0L, words(200), "S"), (1L, words(200), "S")) ++
      (2 until 30).map(i => (i.toLong, words(50), "S"))
    plantDocs(rows.toDF("doc_id", "text", "source"), dir)
    val got = SparkEntry.queries("dp13_balanced_shards")(spark, dir)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val want = Map(0L -> ((200L, 1L, 0L)), 1L -> ((200L, 1L, 1L))) ++
      (2 until 30).map(i => i.toLong -> ((50L, 0L, i % 8L))).toMap
    assert(got == want, s"got $got")
  }

  test("mm06 segment dedup: a planted shared 160-byte prefix yields exactly one shared 3-frame segment") {
    // stride-4 sampling of 16-byte frames hashes offsets 0, 64, 128 —
    // all inside the 160-byte shared prefix, so A and B share exactly
    // one 3-frame shingle; C shares nothing.
    val dir = java.nio.file.Files.createTempDirectory("mm06-planted").toString
    import spark.implicits._
    val prefix = ("abcdefghijklmnop" * 10) // 160 bytes
    plantDocs(Seq(
      (0L, prefix + "X" * 16, "S"),
      (1L, prefix + "Y" * 16, "S"),
      (2L, "z" * 176, "S")).toDF("doc_id", "text", "source"), dir)
    val got = SparkEntry.queries("mm06_segment_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 1L, 1L)), s"got $got")
  }

  test("mm07 static detection: frozen clip flagged, varied clip kept, half-static boundary kept, tiny payload trivially kept") {
    // stride-4 sampling of 16-byte frames hashes block indices
    // 0,4,8,... — doc 0 repeats ONE block (all 5 sampled frames
    // identical: run 5, dropped), doc 1 has all-distinct blocks
    // (max_run 1, kept), doc 2 is sub-frame (no samples, trivially
    // kept), doc 3 freezes exactly half its sampled frames (3 of 6:
    // static*2 == n_sampled, the <= boundary keeps it)
    val dir = java.nio.file.Files.createTempDirectory("mm07-planted").toString
    import spark.implicits._
    val block = "abcdefghijklmnop"
    val frozen = block * 20
    val varied = (0 until 20).map(i => f"v$i%014d.").mkString
    val half = block * 12 + (12 until 24).map(i => f"h$i%014d.").mkString
    plantDocs(Seq(
      (0L, frozen, "S"), (1L, varied, "S"),
      (2L, "tiny", "S"), (3L, half, "S")).toDF("doc_id", "text", "source"), dir)
    val got = SparkEntry.queries("mm07_static_detection")(spark, dir)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      0L -> ((5L, 5L, 5L, 0L)),
      1L -> ((5L, 1L, 0L, 1L)),
      2L -> ((0L, 0L, 0L, 1L)),
      3L -> ((6L, 3L, 3L, 1L))), s"got $got")
  }

  test("dd06 embedding near-dup matches brute-force count and threshold") {
    val got = run("dd06_embedding_neardup")
    assert(got.filter(col("cos_e6") < 400000).count() == 0)
    // ground truth computed independently via raw SQL expression
    val e = Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val truthN = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", refCosine(col("a.v"), col("b.v")))
      .filter(col("cos") >= 0.4).count()
    assert(got.count() == truthN)
  }

  test("dd08 components match a driver-side union-find over the dd06 pair set") {
    val pairs = run("dd06_embedding_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(v => v -> find(v)).toMap
    val got = run("dd08_dedup_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("ss01 brute-force ANN returns exactly 5 ranked neighbors per query") {
    val got = run("ss01_ann_bruteforce").cache()
    val counts = got.groupBy("q_id").count().collect()
    assert(counts.length == 10 && counts.forall(_.getLong(1) == 5L))
    // ranks are 1..5 and cosine non-increasing within query
    val badOrder = got.as("x").join(got.as("y"),
        col("x.q_id") === col("y.q_id") && col("x.rank") + 1 === col("y.rank") &&
          col("x.cos_e6") < col("y.cos_e6")).count()
    assert(badOrder == 0)
  }

  test("ss02 LSH ANN: real recall floor vs exact top-5, and scores are exact cosines") {
    val exact = run("ss01_ann_bruteforce").select("q_id", "neighbor_id")
    val approx = run("ss02_ann_lsh").cache()
    assert(approx.count() > 0)
    // LSH on near-random vectors loses recall by design, but the
    // 12-plane Hamming-≤1 multi-probe must recover a real fraction of
    // the exact neighbors — this FAILS if bucketing/probing collapses
    val nExact = exact.count()
    val overlap = exact.join(approx.select("q_id", "neighbor_id"),
      Seq("q_id", "neighbor_id"), "left_semi").count()
    assert(nExact == 50)
    assert(overlap.toDouble / nExact >= 0.3,
      s"LSH recall collapsed: $overlap/$nExact < 0.3")
    // every reported (q,neighbor,cos) must agree with the exact scorer:
    // re-rank inside the bucket is exact, so scores join 1:1 to ss01's
    // where the pair overlaps
    val mismatched = approx
      .join(run("ss01_ann_bruteforce").select(col("q_id"),
          col("neighbor_id"), col("cos_e6").as("exact_cos")),
        Seq("q_id", "neighbor_id"))
      .filter(col("cos_e6") =!= col("exact_cos")).count()
    assert(mismatched == 0)
  }

  test("ss03b fixed-centroid IVF: real recall floor vs exact top-5, scores exact") {
    val exact = run("ss01_ann_bruteforce").select("q_id", "neighbor_id")
    val approx = run("ss03b_ann_ivf_fixed").cache()
    val counts = approx.groupBy("q_id").count().collect()
    assert(counts.length == 10 && counts.forall(_.getLong(1) <= 5L))
    // probing 4 of 16 deterministic buckets must recover a real
    // fraction of the exact neighbors (measured 0.72 on the fixture)
    val nExact = exact.count()
    val overlap = exact.join(approx.select("q_id", "neighbor_id"),
      Seq("q_id", "neighbor_id"), "left_semi").count()
    assert(overlap.toDouble / nExact >= 0.4,
      s"IVF recall collapsed: $overlap/$nExact < 0.4")
    // re-rank inside probed buckets is exact → scores match ss01's
    val mismatched = approx
      .join(run("ss01_ann_bruteforce").select(col("q_id"),
          col("neighbor_id"), col("cos_e6").as("exact_cos")),
        Seq("q_id", "neighbor_id"))
      .filter(col("cos_e6") =!= col("exact_cos")).count()
    assert(mismatched == 0)
  }

  test("ss08 IVF+int8 composed: recall tracks ss03b, scores track ss05 within quantization error") {
    val exact = run("ss01_ann_bruteforce").select("q_id", "neighbor_id")
    val approx = run("ss08_ann_ivf_quantized").cache()
    val counts = approx.groupBy("q_id").count().collect()
    assert(counts.length == 10 && counts.forall(_.getLong(1) <= 5L))
    // same 4-of-16 probing as ss03b, so the same recall floor applies;
    // int8 rounding can only flip near-ties (ss05 measured 0.98 alone)
    val nExact = exact.count()
    val overlap = exact.join(approx.select("q_id", "neighbor_id"),
      Seq("q_id", "neighbor_id"), "left_semi").count()
    assert(overlap.toDouble / nExact >= 0.4,
      s"composed recall collapsed: $overlap/$nExact < 0.4")
    // scores are ss05's dequantized dot: for pairs both paths emit,
    // they must agree exactly (identical arithmetic)
    val mismatched = approx
      .join(run("ss05_ann_quantized").select(col("q_id"),
          col("neighbor_id"), col("cos_e6").as("q_cos")),
        Seq("q_id", "neighbor_id"))
      .filter(col("cos_e6") =!= col("q_cos")).count()
    assert(mismatched == 0,
      "ss08 scores diverge from ss05's quantized dot on shared pairs")
  }

  test("LSH auto-tuner: recall-viable and no costlier than the hand-tuned config") {
    val rows = TextOps.wordShingleRows(
      Tables.table(spark, sfDir, "documents"), "doc_id", "text", 3)
    val cfg = TextOps.tuneLsh(rows, "doc_id", threshNum = 8, threshDen = 10)
    // stage 1 guarantee: theoretical recall at the threshold
    assert(cfg.recallAt(0.8) >= 0.8, s"tuner returned sub-recall config $cfg")
    // stage 2 guarantee: measured candidate cost is no worse than
    // dd03's hand-tuned (36, 6) on the same corpus
    def cost(c: TextOps.LshConfig): Long =
      TextOps.lshCandidatesFromRows(rows, "doc_id", c.numHashes,
        c.rowsPerBand, Int.MaxValue).count()
    assert(cost(cfg) <= cost(TextOps.LshConfig(36, 6)),
      s"tuned $cfg costs more than the hand-tuned config")
  }

  test("LSH auto-tuner feedback: a flooding corpus forces stricter bands") {
    import spark.implicits._
    // every doc shares a 20-token preamble (high background Jaccard);
    // only a 3-token tail distinguishes them — loose bands collide on
    // ~all pairs, and only the candidate-rate probe can see that
    val common = (1 to 20).map(i => s"common$i").mkString(" ")
    val docs = (0 until 300)
      .map(i => (i.toLong, s"$common tail${i}a tail${i}b tail${i}c"))
      .toDF("doc_id", "text")
    val rows = TextOps.wordShingleRows(docs, "doc_id", "text", 3)
    val tuned = TextOps.tuneLsh(rows, "doc_id", threshNum = 8, threshDen = 10,
      sampleDocs = 300)
    def cost(c: TextOps.LshConfig): Long =
      TextOps.lshCandidatesFromRows(rows, "doc_id", c.numHashes,
        c.rowsPerBand, Int.MaxValue).count()
    val loosest = TextOps.LshConfig(24, 2)
    assert(tuned.rowsPerBand > 2, s"tuner kept flooding bands: $tuned")
    assert(cost(tuned) < cost(loosest),
      s"feedback failed: $tuned not cheaper than $loosest")
    assert(tuned.recallAt(0.8) >= 0.8)
  }

  test("tx05 Misra-Gries sketch: coverage and error bounds vs exact counts") {
    val k = 20
    val toks = Tables.table(spark, sfDir, "documents")
      .select(explode(TextOps.tokens(org.apache.spark.sql.functions.col("text"))).as("tok"))
    val exact = toks.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val bound = n / (k + 1) // MG guarantee: true − est ≤ n/(k+1)
    val sketch = run("tx05_heavy_hitters").collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(sketch.nonEmpty && sketch.size <= k)
    // every guaranteed-frequent token must be present
    val mustHave = exact.filter(_._2 > bound).keySet
    assert(mustHave.subsetOf(sketch.keySet),
      s"missing guaranteed heavy hitters: ${mustHave -- sketch.keySet}")
    // estimates never exceed truth and undershoot by at most the bound
    sketch.foreach { case (tok, est) =>
      val truth = exact.getOrElse(tok, 0L)
      assert(est <= truth, s"$tok overestimated: $est > $truth")
      assert(truth - est <= bound, s"$tok undershoots beyond bound: $est vs $truth")
    }
  }

  test("tx01 langid predictions are valid labels and deterministic") {
    val a = run("tx01_langid").collect().map(r => (r.getLong(0), r.getString(1)))
    val valid = Set("en", "es", "de", "fr", "zh", "und")
    assert(a.forall(p => valid.contains(p._2)))
    val b = run("tx01_langid").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.sameElements(b))
  }

  test("tx04 fingerprints are total and collision groups cover all docs") {
    val total = run("tx04_fingerprint").agg(sum("n_docs")).collect()(0).getLong(0)
    val nDocs = Tables.table(spark, sfDir, "documents").count()
    assert(total == nDocs)
  }

  test("tx06 repetition metrics: internally consistent and flag matches thresholds") {
    val rows = run("tx06_ngram_repetition").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (total, dist, top) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(dist <= total && top <= total && top >= 1)
      val dup = r.getDouble(4); val topF = r.getDouble(5)
      assert(dup >= 0.0 && dup < 1.0 && topF > 0.0 && topF <= 1.0)
      assert(r.getLong(6) == (if (dup > 0.06 || topF > 0.08) 1L else 0L))
    }
  }

  test("tx07 stratified sample: tier-0 keeps all, lower tiers subsample, deterministic") {
    val docs = Tables.table(spark, sfDir, "documents")
      .withColumn("tier", substring(col("source"), 4, 10).cast("int") % 3)
    val totals = docs.groupBy("tier").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val kept = run("tx07_stratified_sample").groupBy("tier").count().collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    assert(kept(0) == totals(0)) // 'zzzz' threshold keeps every tier-0 doc
    // md5 buckets are uniform: ~50% and ~12.5% with wide tolerance at spec sf
    assert(kept(1) > 0 && kept(1) < totals(1))
    assert(kept.getOrElse(2, 0L) < totals(2) / 2)
    val a = run("tx07_stratified_sample").collect().map(_.getLong(0))
    val b = run("tx07_stratified_sample").collect().map(_.getLong(0))
    assert(a.sameElements(b))
  }

  test("tx08 decontamination: every flagged doc truly shares a shingle with the eval set") {
    val flagged = run("tx08_decontamination").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent ground truth via the distinct-shingle path (wordShingles,
    // not wordShingleRows) — different machinery, same semantics
    val sh = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), explode(TextOps.wordShingles(col("text"), 4)).as("sh"))
    val ev = sh.filter(col("doc_id") < 20).select("sh").distinct()
    val truth = sh.filter(col("doc_id") >= 20).join(ev, "sh")
      .groupBy("doc_id").agg(countDistinct("sh").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged == truth)
  }

  test("dd09 chunk dedup: counts are consistent and kept-total equals distinct chunk texts") {
    val got = run("dd09_chunk_dedup")
    assert(got.filter(col("n_kept") + col("n_dupes") =!= col("n_chunks")).count() == 0)
    // per-doc chunk count = ceil(n_tokens / 20), recomputed independently
    val expChunks = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        ceil(size(TextOps.tokens(col("text"))) / 20.0).cast("long").as("exp"))
    val mismatched = got.join(expChunks, "doc_id")
      .filter(col("n_chunks") =!= col("exp")).count()
    assert(mismatched == 0)
    // corpus-wide: kept chunks = number of DISTINCT chunk texts (keep-first
    // retains exactly one occurrence per distinct content)
    val totKept = got.agg(sum("n_kept")).head.getLong(0)
    val distinctTexts = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("arr"))
      .select(explode(expr(
        "transform(sequence(0, cast(ceil(size(arr) / 20.0) as int) - 1)," +
          " i -> concat_ws(' ', slice(arr, i * 20 + 1, 20)))")).as("t"))
      .distinct().count()
    assert(totKept == distinctTexts)
  }

  test("dp01 concat-chunks packing: offsets are contiguous within each bucket") {
    val got = run("dp01_concat_chunks")
    // within a bucket ordered by doc_id, each doc starts where the
    // previous ended — the defining invariant of concat-then-chunk
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("doc_id")
    val bad = got.withColumn("prev_end", lag(col("off") + col("n_tok"), 1, 0L).over(w))
      .filter(col("off") =!= col("prev_end")).count()
    assert(bad == 0)
    // chunk spans follow from offsets, and every doc lands in >= 1 chunk
    assert(got.filter(col("n_seqs") < 1).count() == 0)
    assert(got.filter(col("last_chunk") - col("first_chunk") + 1 =!= col("n_seqs")).count() == 0)
  }

  test("dp02 train split: splits partition the corpus and are deterministic") {
    val got = run("dp02_train_split").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = Tables.table(spark, sfDir, "documents").count()
    assert(got.values.sum == total)
    assert(got.keySet == Set("train", "val", "test"))
    // hash membership is a pure function of doc_id: re-running yields
    // the identical partition sizes
    val again = run("dp02_train_split").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == got)
    // the split is roughly 90/5/5 (binomial tolerance at sf0.001: n=500)
    assert(got("train") > total * 7 / 10, s"train too small: $got")
  }

  test("dp03 curriculum buckets: buckets partition the corpus and respect boundaries") {
    val got = run("dp03_curriculum_buckets")
    val total = Tables.table(spark, sfDir, "documents").count()
    assert(got.agg(sum("n_docs")).head.getLong(0) == total)
    // every bucket's min/max stays inside its declared boundary
    val bounds = Map("xs" -> (0L, 31L), "s" -> (32L, 63L), "m" -> (64L, 95L), "l" -> (96L, Long.MaxValue))
    got.collect().foreach { r =>
      val (lo, hi) = bounds(r.getAs[String]("bucket"))
      assert(r.getAs[Long]("min_tok") >= lo && r.getAs[Long]("max_tok") <= hi,
        s"bucket ${r.getAs[String]("bucket")} out of bounds: $r")
    }
  }

  test("dp04 epoch mixture: repeat counts match tier weights and are deterministic") {
    val got = run("dp04_epoch_mixture")
    val perDoc = got.groupBy("doc_id", "tier").agg(count(lit(1)).as("n"))
    // tier 0 -> 2 or 3 epochs; tier 1 -> exactly 1; tier 2 -> 1 (0-rep docs absent)
    assert(perDoc.filter(col("tier") === 0 && (col("n") < 2 || col("n") > 3)).count() == 0)
    assert(perDoc.filter(col("tier") === 1 && col("n") =!= 1).count() == 0)
    assert(perDoc.filter(col("tier") === 2 && col("n") =!= 1).count() == 0)
    // expected-rate sanity: tier-0 docs average ~2.5 epochs, tier-2 keeps ~25%
    val t0 = perDoc.filter(col("tier") === 0)
    val avg0 = t0.agg(avg("n")).head.getDouble(0)
    assert(avg0 > 2.1 && avg0 < 2.9, s"tier-0 average $avg0 not ~2.5")
    // determinism: an identical second run materializes the identical rows
    assert(run("dp04_epoch_mixture").exceptAll(got).count() == 0)
  }

  test("dp05 greedy pack: bins never overflow and bin ids advance monotonically") {
    val got = run("dp05_greedy_pack")
    // per-(bucket, bin) fill respects capacity unless the bin holds a
    // single over-capacity doc
    val fills = got.groupBy("bucket", "bin")
      .agg(sum("n_tok").as("fill"), count(lit(1)).as("nd"))
    assert(fills.filter(col("fill") > 256 && col("nd") > 1).count() == 0)
    // bins are dense and non-decreasing in doc order within a bucket
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("doc_id")
    val bad = got.withColumn("prev", lag("bin", 1, 0L).over(w))
      .filter(col("bin") < col("prev") || col("bin") > col("prev") + 1).count()
    assert(bad == 0)
    // a greedy packer never leaves a bin that the NEXT doc would have fit in
    val firstOfBin = got.withColumn("prev", lag("bin", 1, -1L).over(w))
      .filter(col("bin") =!= col("prev") && col("bin") > 0)
      .select(col("bucket"), col("bin"), col("n_tok").as("head_tok"))
    val mustNotFit = fills.select(col("bucket"), (col("bin") + 1).as("bin"), col("fill"))
      .join(firstOfBin, Seq("bucket", "bin"))
      .filter(col("fill") + col("head_tok") <= 256).count()
    assert(mustNotFit == 0)
  }

  test("tx11 bpe pairs: counts match an independent per-doc recomputation") {
    val got = run("tx11_bpe_pairs").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got.length == 20)
    // descending count with pair tiebreak
    assert(got.sliding(2).forall { case Array((p1, n1), (p2, n2)) =>
      n1 > n2 || (n1 == n2 && p1 < p2) })
    // independent recount of the top pair via string scanning
    val (top, n) = got.head
    val recount = Tables.table(spark, sfDir, "documents")
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .select((length(col("tok")) - length(regexp_replace(col("tok"), java.util.regex.Pattern.quote(top), ""))).as("d"))
      .agg(sum(col("d"))).head.getLong(0)
    // regexp_replace removes non-overlapping occurrences; pair counting
    // counts overlapping ones, so recount*2 <= ... use a safe bound:
    // every non-overlapping occurrence is a counted pair
    assert(n >= recount / 2, s"top pair $top: counted $n, non-overlapping scan ${recount / 2}")
  }

  test("tx12 bm25: results are term-bearing docs in strict score order") {
    val got = run("tx12_bm25_search").collect()
    assert(got.length == 10)
    val scores = got.map(_.getLong(1))
    assert(scores.sliding(2).forall { case Array(a, b) => a >= b })
    // every returned doc really contains at least one query term
    val ids = got.map(_.getLong(0)).toSeq
    val bearing = Tables.table(spark, sfDir, "documents")
      .filter(col("doc_id").isin(ids: _*))
      .filter(array_intersect(TextOps.tokens(col("text")),
        array(lit("spark"), lit("merge"), lit("window"))) =!= array().cast("array<string>"))
      .count()
    assert(bearing == 10)
  }

  test("tx09 pii redact: every synthesized contact is found and redaction shrinks text") {
    val got = run("tx09_pii_redact")
    assert(got.filter(col("n_email") < 1 || col("n_ip") < 1 || col("n_phone") < 1).count() == 0)
    // redacted length is strictly less than the synthesized body length
    // (every [EMAIL]/[IP]/[PHONE] tag is shorter than what it replaced)
    val withLen = got.join(
      Tables.table(spark, sfDir, "documents").select(col("doc_id"), length(col("text")).as("tl")),
      "doc_id")
    assert(withLen.filter(col("redacted_len") >= col("tl") + 60).count() == 0)
  }

  test("ss04 filtered ANN: every neighbor satisfies the metadata predicate") {
    val langs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id").as("neighbor_id"), col("lang"))
    val got = run("ss04_ann_filtered")
    assert(got.count() == 50) // 10 queries x exact top-5
    val nonEn = got.join(langs, "neighbor_id").filter(col("lang") =!= "en").count()
    assert(nonEn == 0)
    // the filtered top-1 can never beat the unfiltered top-1
    val unf = run("ss01_ann_bruteforce").filter(col("rank") === 1)
      .select(col("q_id"), col("cos_e6").as("best"))
    val bad = got.filter(col("rank") === 1).join(unf, "q_id")
      .filter(col("cos_e6") > col("best")).count()
    assert(bad == 0)
  }

  test("tx10 tf-idf: scores recompute exactly and ranks are dense per doc") {
    val got = run("tx10_tfidf_terms")
    // ranks are 1..k dense per doc
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("rank")
    assert(got.withColumn("rn", row_number().over(w))
      .filter(col("rn") =!= col("rank")).count() == 0)
    // independent recomputation of every output score
    val d = Tables.table(spark, sfDir, "documents")
    val n = d.count()
    val tf = d.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val exp = tf.join(df, "term")
      .withColumn("exp_score", col("tf") * expr(s"(${n}L * 1000) div df"))
      .select("doc_id", "term", "exp_score")
    assert(got.join(exp, Seq("doc_id", "term"))
      .filter(col("score") =!= col("exp_score")).count() == 0)
  }

  test("mm03 frame sample: stride-4 count arithmetic and hash totality") {
    val got = run("mm03_frame_sample")
    // frames 0, 4, 8, ... below n_frames -> ceil(n_frames / 4) sampled
    assert(got.filter(col("n_frames") > 0 &&
      col("n_sampled") =!= expr("(n_frames + 3) div 4")).count() == 0)
    assert(got.filter(col("n_frames") > 0 && col("first_md5").isNull).count() == 0)
    assert(got.filter(col("n_distinct") > col("n_sampled")).count() == 0)
  }

  test("mm06 flooded-segment cap: a viral clip in 50 medias yields O(K) rep-chained pairs, not K²") {
    import spark.implicits._
    // planted corpus: segment "viral" in 50 docs (flood: 50 > 20),
    // segment "rare" in docs 1,2,3 (small: all-pairs), and docs 1,2
    // additionally share "rare2" (per-pair counting across segments)
    val segs = ((1L to 50L).map(d => (d, "viral")) ++
      Seq((1L, "rare"), (2L, "rare"), (3L, "rare"),
        (1L, "rare2"), (2L, "rare2"))).toDF("doc_id", "seg")
    val got = graft.ext.MultimodalQueries.sharedSegmentPairs(segs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // flooded: 49 star pairs (1, d); uncapped would be 50*49/2 = 1225
    val star = (2L to 50L).map(d => (1L, d)).toSet
    val expect =
      star.map { case (a, b) =>
        // (1,2): viral star pair + rare + rare2 = 3; (1,3): star + rare = 2
        val extra = if (b == 2L) 2L else if (b == 3L) 1L else 0L
        (a, b, 1L + extra)
      } + ((2L, 3L, 1L)) // rare's all-pairs branch
    assert(got == expect,
      s"extra=${got -- expect}, missing=${expect -- got}")
    assert(got.size == 50, s"fanout not bounded: ${got.size} pairs")
  }

  test("sequentialAdmit: greedy id-ordered MIS on planted graphs — chains alternate, stars keep min, round bound falls back conservatively") {
    import spark.implicits._
    import graft.ext.TextOps
    def admit(ps: Seq[(Long, Long)], rounds: Int) =
      TextOps.sequentialAdmit(ps.toDF("a_id", "b_id"), rounds)
        .collect().map(r => (r.getLong(0),
          (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    // path 1-2-3-4: greedy admits odd positions; dup_of = the ADMITTED
    // blocker, exercised across two rounds (1,2 decide in r1; 3,4 in r2)
    assert(admit(Seq((1L, 2L), (2L, 3L), (3L, 4L)), 4) == Map(
      1L -> ((1L, -1L)), 2L -> ((0L, 1L)),
      3L -> ((1L, -1L)), 4L -> ((0L, 3L))))
    // star around 1: identical to CC keep-min on this shape
    assert(admit(Seq((1L, 2L), (1L, 3L), (1L, 4L)), 4) == Map(
      1L -> ((1L, -1L)), 2L -> ((0L, 1L)),
      3L -> ((0L, 1L)), 4L -> ((0L, 1L))))
    // triangle 1-2-3 (all pairs): only 1 admitted; 3's blocker is the
    // ADMITTED 1, not merely its smallest neighbor
    assert(admit(Seq((1L, 2L), (1L, 3L), (2L, 3L)), 4) == Map(
      1L -> ((1L, -1L)), 2L -> ((0L, 1L)), 3L -> ((0L, 1L))))
    // round bound: a 6-path needs 3 rounds; at rounds=1 positions 3-6
    // fall back to conservative rejection (dup_of = min neighbor) —
    // bounded work never admits past the bound
    val path6 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    assert(admit(path6, 3) == Map(
      1L -> ((1L, -1L)), 2L -> ((0L, 1L)), 3L -> ((1L, -1L)),
      4L -> ((0L, 3L)), 5L -> ((1L, -1L)), 6L -> ((0L, 5L))))
    val bounded = admit(path6, 1)
    assert(bounded(1L) == ((1L, -1L)) && bounded(2L) == ((0L, 1L)))
    assert(bounded(3L) == ((0L, 2L)) && bounded(4L) == ((0L, 3L)) &&
      bounded(5L) == ((0L, 4L)) && bounded(6L) == ((0L, 5L)),
      s"fallback wrong: $bounded")
    // empty pair graph (no near-dups in the batch): empty result, no
    // crash — the early-exit path where the loop never runs
    assert(admit(Seq.empty, 4).isEmpty)
  }

  test("ss11 MMR: redundant high-relevance candidates lose to orthogonal low-relevance ones; ties break by id") {
    // q = e1. c1 (4,3)/5 is top rel (.8); c2 (3,4)/5 is RELEVANT (.6)
    // but nearly duplicates c1 (sim .96); c3/c4 are orthogonal
    // zero-rel; c5 (5,12)/13 is mid-rel but redundant with c1
    // (sim 56/65). Greedy at lambda=1/2: c1, then the zero-rel
    // orthogonals BEAT the redundant c2/c5 (mmr 0 vs -360000), c3
    // before c4 on the id tiebreak; c2 (-360000) precedes c5, whose
    // final blocker is the by-then-selected c2 (sim 63/65 -> mmr
    // 384615 - 969231). Hand-computed integers, exact in both engines.
    val dir = java.nio.file.Files.createTempDirectory("ss11-planted").toString
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0), (1L, Seq(4f, 3f, 0f, 0f), 0),
      (2L, Seq(3f, 4f, 0f, 0f), 0), (3L, Seq(0f, 0f, 1f, 0f), 0),
      (4L, Seq(0f, 0f, 0f, 1f), 0), (5L, Seq(5f, 12f, 0f, 0f), 0))
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("ss11_mmr_rerank")(spark, dir)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      1L -> ((1L, 800000L, 800000L)),
      2L -> ((3L, 0L, 0L)),
      3L -> ((4L, 0L, 0L)),
      4L -> ((2L, 600000L, -360000L)),
      5L -> ((5L, 384615L, -584616L))), s"got $got")
  }

  test("tx25 BPE apply: chained merges, same-symbol runs, normalization, and the exact token sequence — hand-checked") {
    // doc 0 "The thin!": body the#thin; (t,h) merges BOTH words in one
    //   pass (non-overlapping matches are all taken), (th,e) chains on
    //   the first, (i,n) on the second -> [the, #, th, in]: 3 tokens
    // doc 1 "eeee": same-symbol rule (e,e) — pass 1 consumes the
    //   shared delimiter so only alternate pairs merge ([ee, e, e]),
    //   round 2 finishes -> [ee, ee]
    // doc 2 "eee": greedy-left leaves the odd tail -> [ee, e]
    // doc 3 "AND": lowercased, (a,n) then (an,d) nest -> [and]
    // doc 4 "..." normalizes to empty -> 0 symbols, 0 tokens
    // doc 5 "order": (e,r) fires before (o,r); (r,e) finds nothing
    //   left -> [or, d, er]
    // doc 6 "there": (th,e) consumes the e that (e,r) would have
    //   wanted — priority order decides -> [the, re]
    val dir = java.nio.file.Files.createTempDirectory("tx25-planted").toString
    import spark.implicits._
    val rows = Seq((0L, "The thin!"), (1L, "eeee"), (2L, "eee"),
      (3L, "AND"), (4L, "..."), (5L, "order"), (6L, "there"))
    plantDocs(rows.toDF("doc_id", "text"), dir)
    val got = SparkEntry.queries("tx25_bpe_tokenize")(spark, dir)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = Map(
      0L -> ((7L, 3L, md5hex("|the|#|th|in|"))),
      1L -> ((4L, 2L, md5hex("|ee|ee|"))),
      2L -> ((3L, 2L, md5hex("|ee|e|"))),
      3L -> ((3L, 1L, md5hex("|and|"))),
      4L -> ((0L, 0L, md5hex("|"))),
      5L -> ((5L, 3L, md5hex("|or|d|er|"))),
      6L -> ((5L, 2L, md5hex("|the|re|"))))
    assert(got == want, s"got $got")
  }

  test("tx26 BPE train: frequency-weighted overlapping pair counts, greedy argmax, and early exit when the vocab is exhausted") {
    // wf: aa:3, ab:2, aaa:1, b:1. Round 1: (a,a) = 3 (one per "aa")
    //   + 2 (TWO overlapping per "aaa") = 5 beats (a,b) = 2.
    // Round 2: "aaa" encoded by ONE greedy-left pass is [aa, a], so
    //   the surviving pairs are (aa,a):1 and (a,b):2 -> (a,b).
    // Round 3: (aa,a):1 is all that remains.
    // Round 4: nothing left — the trainer stops at 3 merges even
    //   though 4 rounds were requested.
    val dir = java.nio.file.Files.createTempDirectory("tx26-planted").toString
    import spark.implicits._
    val rows = Seq((0L, "aa aa aa"), (1L, "ab ab"), (2L, "aaa"), (3L, "b"))
    plantDocs(rows.toDF("doc_id", "text"), dir)
    val got = SparkEntry.queries("tx26_bpe_train")(spark, dir)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, "a", "a", 5L),
      (2L, "a", "b", 2L),
      (3L, "aa", "a", 1L)), s"got $got")
  }

  test("ss12 embedding split drift: identical cohorts read 1e6, orthogonal cohorts read 0, test-split vectors are ignored") {
    // ids are classified with the REAL split rule (md5 prefix), so the
    // spec plants vectors knowing each id's cohort: label 0's train
    // and val vectors all point along e1 (cos_e6 = 1e6 exactly after
    // quantization), label 1's val cohort is orthogonal to its train
    // cohort (cos_e6 = 0); a test-split vector planted at a wild
    // direction must not perturb either.
    def splitOf(id: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 2)
      if (h < "0d") "val" else if (h < "1a") "test" else "train"
    }
    val ids = (0L until 4000L)
    val trainIds = ids.filter(splitOf(_) == "train").take(6)
    val valIds = ids.filter(splitOf(_) == "val").take(4)
    val testId = ids.find(splitOf(_) == "test").get
    val e1 = Seq(1f, 0f, 0f, 0f)
    val e2 = Seq(0f, 1f, 0f, 0f)
    val wild = Seq(0.3f, -0.9f, 0.2f, 0.1f)
    val rows =
      trainIds.take(3).map(id => (id, e1, 0)) ++
        valIds.take(2).map(id => (id, e1, 0)) ++
        trainIds.drop(3).map(id => (id, e1, 1)) ++
        valIds.drop(2).map(id => (id, e2, 1)) ++
        Seq((testId, wild, 0))
    val dir = java.nio.file.Files.createTempDirectory("ss12-planted").toString
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("ss12_embedding_split_drift")(spark, dir)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      0L -> ((3L, 2L, 1000000L)),
      1L -> ((3L, 2L, 0L))), s"got $got")
  }

  test("dp15 BPE pack: chunk spans follow the MERGED token counts, crossing the 256 boundary where whitespace counts would not") {
    // bucket 0 holds doc 0 (600 one-char words -> no merges possible
    // across word markers, n_tok 600 spanning chunks 0-2) then doc 8
    // ("the thin" -> BPE merges to [the, th, in], n_tok 3 where the
    // whitespace proxy says 2) starting at off 600 inside chunk 2;
    // doc 1 sits alone in bucket 1 at off 0
    val dir = java.nio.file.Files.createTempDirectory("dp15-planted").toString
    import spark.implicits._
    val rows = Seq(
      (0L, Seq.fill(600)("e").mkString(" ")),
      (8L, "the thin"),
      (1L, "order"))
    plantDocs(rows.toDF("doc_id", "text"), dir)
    val got = SparkEntry.queries("dp15_bpe_pack")(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == Map(
      0L -> ((0L, 600L, 0L, 0L, 2L, 3L)),
      8L -> ((0L, 3L, 600L, 2L, 2L, 1L)),
      1L -> ((1L, 3L, 0L, 0L, 0L, 1L))), s"got $got")
  }

  test("tx26 -> tx25 integration: the learned table applied through the encoder shrinks the corpus token count by exactly each merge's count") {
    // the real workflow — train, then tokenize with what you trained.
    // Totals demonstrate the classic BPE count-vs-reduction subtlety:
    // merge (a,a) TRAINS with weighted count 5 ("aaa" contributes its
    // TWO overlapping pairs) but applying it reduces the corpus by
    // only 4 tokens (greedy-left turns [a,a,a] into [aa,a] — one
    // reduction); the non-overlapping merges reduce by exactly their
    // counts: 14 chars -> 10 (a,a) -> 8 (a,b) -> 7 (aa,a).
    val dir = java.nio.file.Files.createTempDirectory("tx2526-integ").toString
    import spark.implicits._
    graft.functions.TextNorm.register(spark)
    plantDocs(Seq((0L, "aa aa aa"), (1L, "ab ab"), (2L, "aaa"),
      (3L, "b")).toDF("doc_id", "text"), dir)
    val wf = Tables.table(spark, dir, "documents")
      .select(TextOps.bpeBody(col("text")).as("_b"))
      .select(explode(split(col("_b"), "#")).as("tok"))
      .filter(col("tok") =!= "").groupBy(col("tok"))
      .agg(count(lit(1)).as("freq")).localCheckpoint()
    val learned = TextOps.bpeTrain(wf, 4).map(m => (m._2, m._3))
    def totalTokens(merges: Seq[(String, String)]): Long = {
      val body = TextOps.bpeBody(col("text"))
      val enc = TextOps.bpeEncodeWith(body, merges, TextOps.BpeRounds)
      Tables.table(spark, dir, "documents")
        .select(body.as("_body"), enc.as("_enc"))
        .select((length(col("_enc"))
          - length(replace(col("_enc"), lit("|"), lit(""))) - 1
          - (length(col("_body"))
             - length(replace(col("_body"), lit("#"), lit("")))))
          .cast("long").as("n_tok"))
        .agg(sum(col("n_tok"))).head().getLong(0)
    }
    val totals = (0 to learned.length).map(k => totalTokens(learned.take(k)))
    assert(totals == Seq(14L, 10L, 8L, 7L), s"got $totals")
  }

  test("tx26 vocab cap: an over-sized word table is refused loudly before any training round") {
    // the per-round-bounded claim holds only while the word table is
    // vocab-sized; an adversarial (non-natural-language) corpus must
    // refuse, naming the remedy, instead of scanning unbounded
    import spark.implicits._
    val wf = (0 until 20).map(i => (s"w$i", 1L)).toDF("tok", "freq")
    spark.conf.set("graft.ext.bpeMaxWords", "10")
    try {
      val ex = intercept[IllegalArgumentException] {
        TextOps.bpeTrain(wf, 1)
      }
      assert(ex.getMessage.contains("bpeMaxWords"), ex.getMessage)
    } finally spark.conf.unset("graft.ext.bpeMaxWords")
  }

  test("ss11 MMR: the driver-side greedy refuses a page past the 64-candidate bound") {
    // the greedy is O(|page|^2) on the DRIVER by design; a caller
    // feeding it an unbounded candidate set must fail loudly, not
    // silently become a corpus scan
    val page = (0 until 65).map(i => (i.toLong, 1000L - i))
    val ex = intercept[IllegalArgumentException] {
      graft.ext.SimilarityQueries.mmrGreedy(page, Map.empty, 5)
    }
    assert(ex.getMessage.contains("64"))
  }

  test("e08 funnel: strict order enforced — click before first view never converts, purchase needs a prior qualifying click") {
    // u1 completes the funnel in order; u2's only click PRECEDES their
    // first view (stage 1 only); u3's purchase precedes their click
    // (stages 1-2); u4 never views (counted nowhere)
    val dir = java.nio.file.Files.createTempDirectory("e08-planted").toString
    import spark.implicits._
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val rows = Seq(
      (1L, t(1), 1L, "view", 1.0, "{}"), (2L, t(2), 1L, "click", 1.0, "{}"),
      (3L, t(3), 1L, "purchase", 1.0, "{}"),
      (4L, t(1), 2L, "click", 1.0, "{}"), (5L, t(2), 2L, "view", 1.0, "{}"),
      (6L, t(1), 3L, "view", 1.0, "{}"), (7L, t(2), 3L, "purchase", 1.0, "{}"),
      (8L, t(3), 3L, "click", 1.0, "{}"),
      (9L, t(1), 4L, "click", 1.0, "{}"), (10L, t(2), 4L, "purchase", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("e08_funnel_conversion")(spark, dir)
      .collect().map(r => (r.getLong(0),
        (r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      1L -> (("view", 3L, 1000000L)),
      2L -> (("click_after_view", 2L, 666666L)),
      3L -> (("purchase_after_click", 1L, 500000L))), s"got $got")
    // an EMPTY funnel must not read as 100% conversion: with no view
    // events, stages 2-3 report NULL conversion, not 1e6
    val dir2 = java.nio.file.Files.createTempDirectory("e08-empty").toString
    Seq((1L, t(1), 1L, "click", 1.0, "{}"), (2L, t(2), 1L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val empty = SparkEntry.queries("e08_funnel_conversion")(spark, dir2)
      .collect().map(r => (r.getLong(0), (r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(empty == Map(1L -> ((0L, 1000000L)), 2L -> ((0L, -1L)),
      3L -> ((0L, -1L))), s"got $empty")
  }

  test("e11 attribution window: a qualifying click must land within 24h — e08-converting users drop out; delay math exact") {
    // u1: view, click +30min (in window), purchase +30h after click
    // (OUT) -> stages 1-2. u2: view, click +2 days (OUT of window,
    // though e08 would convert it) -> stage 1 only. u3: full funnel
    // inside the window (click +1h, purchase +1h more) -> all stages.
    val dir = java.nio.file.Files.createTempDirectory("e11-planted").toString
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      (1L, t("2026-01-01 10:00:00"), 1L, "view", 1.0, "{}"),
      (2L, t("2026-01-01 10:30:00"), 1L, "click", 1.0, "{}"),
      (3L, t("2026-01-02 16:30:00"), 1L, "purchase", 1.0, "{}"),
      (4L, t("2026-01-01 10:00:00"), 2L, "view", 1.0, "{}"),
      (5L, t("2026-01-03 10:00:00"), 2L, "click", 1.0, "{}"),
      (6L, t("2026-01-01 10:00:00"), 3L, "view", 1.0, "{}"),
      (7L, t("2026-01-01 11:00:00"), 3L, "click", 1.0, "{}"),
      (8L, t("2026-01-01 12:00:00"), 3L, "purchase", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("e11_attribution_window")(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))).toMap
    // stage 2 delays: u1 30min, u3 1h -> avg 45min = 2.7e9 us;
    // stage 3: u3 only, 1h = 3.6e9 us
    assert(got == Map(
      1L -> ((3L, -1L, 1000000L)),
      2L -> ((2L, 2700000000L, 666666L)),
      3L -> ((1L, 3600000000L, 500000L))), s"got $got")
    // cross-check the divergence: e08 (no window) converts u2's click
    val e08 = SparkEntry.queries("e08_funnel_conversion")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(e08(2L) == 3L, s"e08 should convert all 3 clicks: $e08")
  }

  test("dd21 dedup impact: per-source totals conserve against dd10's cluster output") {
    val impact = run("dd21_dedup_impact").collect()
    val dd10 = run("dd10_dedup_clusters_lsh")
    val nClustered = dd10.count()
    val nRemoved = dd10.filter(col("keep") === 0).count()
    assert(impact.map(_.getLong(2)).sum == nClustered,
      "clustered docs don't conserve across sources")
    assert(impact.map(_.getLong(3)).sum == nRemoved,
      "removed docs don't conserve across sources")
    impact.foreach { r =>
      val (nd, nc, nr) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (tt, tr, pct) = (r.getLong(4), r.getLong(5), r.getLong(6))
      assert(nr <= nc && nc <= nd, s"nesting broken in $r")
      assert(tr <= tt && pct >= 0 && pct <= 1000000, s"token bounds in $r")
    }
    // the fixture plants real dups: something is removed somewhere
    assert(impact.map(_.getLong(3)).sum > 0)
  }

  test("e12 retention: cohorts keyed by first-seen day, day-0 is 1e6, absent offsets are absent rows, far re-activity excluded") {
    val dir = java.nio.file.Files.createTempDirectory("e12-planted").toString
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s + " 10:00:00")
    // uA: first 01-01, active days 0,1,3 (and one FAR return at day 9,
    // outside the 0-3 window); uB: first 01-01, day 0 only; uC: first
    // 01-02, active days 0,1
    val rows = Seq(
      (1L, t("2026-01-01"), 1L), (2L, t("2026-01-02"), 1L),
      (3L, t("2026-01-04"), 1L), (4L, t("2026-01-10"), 1L),
      (5L, t("2026-01-01"), 2L),
      (6L, t("2026-01-02"), 3L), (7L, t("2026-01-03"), 3L))
      .map { case (id, ts, u) => (id, ts, u, "view", 1.0, "{}") }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("e12_retention_cohorts")(spark, dir)
      .collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      ("2026-01-01", 0L) -> ((2L, 2L, 1000000L)),
      ("2026-01-01", 1L) -> ((1L, 2L, 500000L)),
      ("2026-01-01", 3L) -> ((1L, 2L, 500000L)),
      ("2026-01-02", 0L) -> ((1L, 1L, 1000000L)),
      ("2026-01-02", 1L) -> ((1L, 1L, 1000000L))), s"got $got")
  }

  test("dp17 reconciliation: admission recomputed independently; utilization and nesting bounds hold") {
    val got = run("dp17_plan_reconciliation").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (planned, nDocs, nAdm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (admTok, util) = (r.getLong(4), r.getLong(6))
      assert(nAdm <= nDocs, s"admitted docs exceed docs in $r")
      assert(admTok <= planned, s"admission overdrew the plan in $r")
      assert(util >= 0 && util <= 1000000L, s"utilization out of range in $r")
    }
    // independent recomputation of admitted tokens from the published
    // plan via a raw cumsum (not BudgetStream.decide)
    import org.apache.spark.sql.expressions.Window
    val plan = run("dp12_token_budget_plan")
      .select(col("source"), col("planned_tokens"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expect = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .join(plan, "source")
      .filter(col("cum") <= col("planned_tokens"))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("adm"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { r =>
      assert(r.getLong(4) == expect.getOrElse(r.getString(0), 0L),
        s"admitted_tokens drifted from the raw cumsum for ${r.getString(0)}")
    }
  }

  test("ss14 IVF balance: counts conserve, exactly one row per centroid, load factor is 16x the share") {
    val got = run("ss14_ivf_balance").collect()
    assert(got.length == 16)
    val total = Tables.table(spark, sfDir, "embeddings").count()
    assert(got.map(_.getLong(1)).sum == total, "bucket counts don't conserve")
    // floor division: shares sum to <= 1e6 and within 16 floors of it
    val shares = got.map(_.getLong(2)).sum
    assert(shares <= 1000000L && shares > 1000000L - 16)
    got.foreach { r =>
      val (n, share, load) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(load == n * 16 * 1000000L / total, s"load_e6 wrong in $r")
      assert(share == n * 1000000L / total, s"share_e6 wrong in $r")
    }
  }

  test("dd22 threshold sweep: monotone non-increasing, anchored at dd03's verified pair count") {
    val got = run("dd22_threshold_sweep").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(800000L, 850000L, 900000L, 950000L, 1000000L))
    val sorted = got.toSeq.sortBy(_._1).map(_._2)
    assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b },
      s"counts not monotone: $sorted")
    // the 0.8 cut IS dd03's verification predicate
    assert(got(800000L) == run("dd03_minhash_lsh").count(),
      "0.8 cut disagrees with dd03's pair set")
    assert(got(800000L) > 0)
  }

  test("tx24 psiContributions: identical cohorts score zero, planted shift matches hand math, one-sided bucket stays finite, foreign cohorts excluded") {
    import spark.implicits._
    import graft.ext.TextOps
    def psi(rows: Seq[(String, Long)]) =
      TextOps.psiContributions(rows.toDF("cohort", "bucket"),
        "cohort", "bucket", "A", "B")
        .collect().map(r => (r.getLong(0),
          (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // identical distributions: pa == pb in every bucket -> contrib 0.0
    val same = Seq.fill(10)(("A", 0L)) ++ Seq.fill(10)(("B", 0L)) ++
      Seq.fill(5)(("A", 1L)) ++ Seq.fill(5)(("B", 1L))
    assert(psi(same).values.forall(_._3 == 0.0), s"got ${psi(same)}")
    // planted shift + a one-sided bucket + a cohort C that must be
    // ignored; expectation computed with the same smoothing/rounding
    val shifted = Seq.fill(30)(("A", 0L)) ++ Seq.fill(10)(("B", 0L)) ++
      Seq.fill(10)(("A", 1L)) ++ Seq.fill(30)(("B", 1L)) ++
      Seq.fill(3)(("A", 2L)) ++ Seq.fill(99)(("C", 0L))
    def contrib(na: Long, nb: Long, ta: Long, tb: Long, k: Long) = {
      val pa = (na + 1).toDouble / (ta + k); val pb = (nb + 1).toDouble / (tb + k)
      BigDecimal((pa - pb) * math.log(pa / pb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = psi(shifted)
    assert(got == Map(
      0L -> ((30L, 10L, contrib(30, 10, 43, 40, 3))),
      1L -> ((10L, 30L, contrib(10, 30, 43, 40, 3))),
      2L -> ((3L, 0L, contrib(3, 0, 43, 40, 3)))), s"got $got")
    // the drifted pair carries real PSI mass; the headline sum reads
    // "shifted" on the standard scale
    assert(got.values.map(_._3).sum > 0.25, s"got ${got.values.map(_._3).sum}")
  }

  test("tx23 nearDupSourceMatrix: pairs fold into least/greatest source cells, diagonal = intra-source") {
    import spark.implicits._
    import graft.ext.TextOps
    // planted pair graph with known source attribution: 1~2 crosses
    // A-B, 1~3 is intra-A, 4~5 intra-B, 2~6 crosses B-C arriving in
    // the OPPOSITE order (source of a_id sorts after source of b_id) —
    // least/greatest must normalize it into the same (B, C) cell
    val pairs = Seq((1L, 2L), (1L, 3L), (4L, 5L), (6L, 7L))
      .toDF("a_id", "b_id")
    val sources = Seq((1L, "A"), (2L, "B"), (3L, "A"), (4L, "B"),
      (5L, "B"), (6L, "C"), (7L, "B")).toDF("doc_id", "source")
    val got = TextOps.nearDupSourceMatrix(pairs, sources)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got == Map(("A", "B") -> 1L, ("A", "A") -> 1L,
      ("B", "B") -> 1L, ("B", "C") -> 1L), s"got $got")
  }

  test("tx22 estimator calibration: signature-space Jaccard tracks the exact matrix on planted overlaps") {
    import spark.implicits._
    import graft.ext.TextOps
    // three planted sources with controlled shingle-set overlap:
    //   A = tokens a0..a399; B = a0..a199 ++ b200..b399 (~half shared
    //   with A); C = c0..c399 (disjoint from both)
    def txt(p: Array[String]) = p.mkString(" ")
    val aTok = (0 until 400).map(i => s"a$i").toArray
    val bTok = (aTok.take(200) ++ (200 until 400).map(i => s"b$i")).toArray
    val cTok = (0 until 400).map(i => s"c$i").toArray
    val d = Seq((1L, txt(aTok), "srcA"), (2L, txt(bTok), "srcB"),
      (3L, txt(cTok), "srcC")).toDF("doc_id", "text", "source")
    // exact Jaccard per source pair from the distinct shingle sets
    val sets = TextOps.wordShingleRows(d, "doc_id", "text", 3)
      .join(d.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("_el")).distinct()
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getString(1)).toSet).toMap
    def exactJ(x: String, y: String) =
      (sets(x) & sets(y)).size.toDouble / (sets(x) | sets(y)).size
    // estimate from 64-hash signatures
    val sig = TextOps.signatureRows(
      TextOps.wordShingleRows(d, "doc_id", "text", 3)
        .join(d.select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), col("_el")),
      "source", 64)
    val est = TextOps.signatureOverlapMatrix(sig, "source", 64)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        r.getLong(3) / 1e6)).toMap
    assert(est.keySet == Set(("srcA", "srcB"), ("srcA", "srcC"), ("srcB", "srcC")))
    // MinHash stderr at k=64 is √(J(1−J)/64) ≤ 0.0625; 0.15 is > 2σ
    // (deterministic hash family — the measured values are stable)
    for (((x, y), e) <- est) {
      val j = exactJ(x, y)
      assert(math.abs(e - j) <= 0.15,
        s"($x,$y): est $e vs exact $j")
    }
    // the planted structure is visible in the estimates themselves
    assert(est(("srcA", "srcB")) > 0.25, s"shared half undetected: $est")
    assert(est(("srcA", "srcC")) < 0.1 && est(("srcB", "srcC")) < 0.1,
      s"phantom overlap: $est")
  }

  test("documents fixture is printable-ASCII-only (oracle byte/char + tokenizer parity)") {
    // Two oracle assumptions pinned at once. (1) mm03/mm01 equate Spark
    // BYTE semantics (length/substr over the binary payload) with DuckDB
    // CHARACTER semantics over the VARCHAR text — only true while every
    // document is pure ASCII (1 byte = 1 char). (2) Every md5-token
    // oracle (dd03/dd04/dd05/dd07/dd10/tx05b...) equates Java-regex \s
    // (Spark split) with RE2 \s (DuckDB regexp_split_to_array) — Java's
    // matches vertical tab \x0B, RE2's does not, so control characters
    // outside \t\n\f\r would tokenize differently while still being
    // "ASCII". Pin the corpus to printable ASCII + the four shared
    // whitespace controls so either datagen drift fails HERE, not as a
    // silent driver-gate hash divergence. Empty docs are excluded too
    // (DuckDB split('','') is [''], a phantom histogram count — mm01's
    // oracle guards it, but the fixture shouldn't rely on that).
    val docs = Tables.table(spark, sfDir, "documents")
    val bad = docs.filter(col("text").rlike("[^\\x20-\\x7E\\t\\n\\f\\r]")).count()
    assert(bad == 0,
      s"$bad documents contain non-printable-ASCII chars (or \\x0B); " +
        "the byte/char and tokenizer oracle equivalences no longer hold")
    assert(docs.filter(length(col("text")) === 0).count() == 0,
      "fixture contains empty documents")
  }

  test("mm01 media features: histogram mass equals payload byte count") {
    val bad = run("mm01_media_features")
      .filter(col("feature_mass") =!= col("n_bytes")).count()
    assert(bad == 0)
  }

  test("MediaCodec decodes real PNG payloads to luminance histograms " +
      "through the mm01 pipeline; text bytes keep the oracle path") {
    import graft.ext.MultimodalQueries.{MediaCodec, MediaRow}
    // 2×2 PNG with known pixels: black (luma 0 → bucket 0),
    // white (255 → 7), pure red (76 → 2), pure green (149 → 4)
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x000000); img.setRGB(1, 0, 0xffffff)
    img.setRGB(0, 1, 0xff0000); img.setRGB(1, 1, 0x00ff00)
    val buf = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", buf))
    val png = buf.toByteArray
    val expected = Seq(1L, 0L, 1L, 0L, 1L, 0L, 0L, 1L)
    assert(MediaCodec.decodeFeatures(png).toSeq == expected)
    // the same payload through the distributed mm01 extraction stage
    import spark.implicits._
    val ds = Seq(
      MediaRow(1L, png, 2, 2),
      MediaRow(2L, "plain text payload".getBytes("UTF-8"), 0, 0)).toDS()
    val rows = graft.ext.MultimodalQueries.extractFeatures(ds)
      .collect().sortBy(_.doc_id)
    assert(rows(0).features.toSeq == expected)
    assert(rows(0).n_bytes == png.length.toLong)
    // non-image payloads still take the byte-histogram oracle path
    assert(rows(1).features.toSeq ==
      MediaCodec.byteHistogram("plain text payload".getBytes("UTF-8")).toSeq)
    assert(rows(1).features.sum == rows(1).n_bytes)
    // a truncated image (magic intact, body gone) must fall back, not throw
    val corrupt = png.take(12)
    assert(MediaCodec.decodeFeatures(corrupt).toSeq ==
      MediaCodec.byteHistogram(corrupt).toSeq)
  }

  test("ArrayDivide propagates null elements (nullable path) and divides exactly") {
    import spark.implicits._
    graft.functions.VectorOps.register(spark)
    // nullable-element array: null slots must stay null (getDouble
    // would silently read them as 0.0), non-null slots divide exactly
    val r = Seq(Tuple1(Seq[java.lang.Double](3.0, null, 9.0))).toDF("v")
      .selectExpr("array_div(CAST(v AS array<double>), 3.0D) AS d")
      .collect()(0).getSeq[java.lang.Double](0)
    assert(r == Seq(1.0, null, 3.0), s"got $r")
    // non-nullable path: normalize(v) has unit norm
    val n = Seq(Tuple1(Seq(3.0, 4.0))).toDF("v")
      .select(graft.functions.VectorOps.normalize(col("v")).as("n"))
      .collect()(0).getSeq[Double](0)
    assert(n == Seq(0.6, 0.8), s"got $n")
  }

  test("typed AvgAggregator equals built-in avg") {
    import spark.implicits._
    val ds = Seq(1.0, 2.0, 4.0, 9.0).toDS()
    val got = ds.select(graft.functions.Aggregators.AvgAggregator.toColumn).collect()(0)
    assert(got == 4.0)
  }

  test("GeometricMean aggregator computes exp(mean(log))") {
    import spark.implicits._
    val ds = Seq(1.0, 8.0).toDS()
    val got = ds.select(graft.functions.Aggregators.GeometricMean.toColumn).collect()(0)
    assert(math.abs(got - math.sqrt(8.0)) < 1e-12)
  }

  test("dd15 substring dedup: shared 8-token run detected at ANY alignment; exact dup fully covered") {
    // doc 0 carries a shared 8-token run at offset 0; doc 1 carries the
    // SAME run at offset 4 (different alignment — the case a strided/
    // winnowed scheme can miss and stride-1 windows cannot); docs 2,3
    // are exact duplicates (every window dup, dup_pct = 100%); doc 4 is
    // clean; doc 5 is shorter than the window (no windows possible).
    import spark.implicits._
    val sharedRun = (0 until 8).map(i => s"shared$i").mkString(" ")
    val d0 = sharedRun + " " + (0 until 8).map(i => s"a$i").mkString(" ")
    val d1 = (0 until 4).map(i => s"b$i").mkString(" ") + " " + sharedRun +
      " " + (0 until 4).map(i => s"c$i").mkString(" ")
    val dupText = (0 until 12).map(i => s"e$i").mkString(" ")
    val d4 = (0 until 16).map(i => s"z$i").mkString(" ")
    val d5 = (0 until 5).map(i => s"s$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("dd15-planted").toString
    plantDocs(Seq((0L, d0), (1L, d1), (2L, dupText), (3L, dupText),
      (4L, d4), (5L, d5)).toDF("doc_id", "text"), dir)
    val got = SparkEntry.queries("dd15_substring_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6))))
      .toMap
    // (n_tok, n_win, n_dup_win, dup_tok, keep)
    assert(got(0L) == ((16L, 9L, 1L, 8L, 0L)), s"doc0: ${got(0L)}")
    assert(got(1L) == ((16L, 9L, 1L, 8L, 0L)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((12L, 5L, 5L, 12L, 0L)), s"doc2: ${got(2L)}")
    assert(got(3L) == ((12L, 5L, 5L, 12L, 0L)), s"doc3: ${got(3L)}")
    assert(got(4L) == ((16L, 9L, 0L, 0L, 1L)), s"doc4: ${got(4L)}")
    assert(got(5L) == ((5L, 0L, 0L, 0L, 1L)), s"doc5: ${got(5L)}")
  }

  test("dd16 star contraction: labels match a driver-side union-find; O(log n) rounds on a 200-node path") {
    import spark.implicits._
    // 1) on the fixture graph, dd16's (vec_id, component) rows equal an
    // independent driver-side union-find over the dd06 pair set
    val pairs = run("dd06_embedding_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(v => v -> find(v)).toMap
    val got = run("dd16_cc_star").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expected.nonEmpty && got == expected,
      "star contraction and the union-find disagree on labels")
    // 2) the shape that motivates the algorithm: a path graph of
    // diameter 199 — min-label would need ~199 rounds (far past its
    // round guard); star contraction must finish in O(log n)
    val path = (0L until 199L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (labels, rounds) = graft.ext.DedupQueries
      .connectedComponents(path, "spec-path")
    assert(rounds <= 12, s"star contraction took $rounds rounds on a path")
    val bad = labels.filter(col("lbl") =!= 0L).count()
    assert(bad == 0, s"$bad path nodes not labeled with the component min")
    assert(labels.count() == 200)
  }

  test("tx17 novelty: first carrier owns shared windows; exact dup contributes zero") {
    // same planted corpus shape as the dd15 spec: the run's single
    // window belongs to doc 0 (first carrier), doc 1 re-uses it; docs
    // 2/3 are exact dups so doc 3 contributes NOTHING new; doc 5 is
    // shorter than the window -> fully novel by convention
    import spark.implicits._
    val sharedRun = (0 until 8).map(i => s"shared$i").mkString(" ")
    val d0 = sharedRun + " " + (0 until 8).map(i => s"a$i").mkString(" ")
    val d1 = (0 until 4).map(i => s"b$i").mkString(" ") + " " + sharedRun +
      " " + (0 until 4).map(i => s"c$i").mkString(" ")
    val dupText = (0 until 12).map(i => s"e$i").mkString(" ")
    val d4 = (0 until 16).map(i => s"z$i").mkString(" ")
    val d5 = (0 until 5).map(i => s"s$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("tx17-planted").toString
    plantDocs(Seq((0L, d0), (1L, d1), (2L, dupText), (3L, dupText),
      (4L, d4), (5L, d5)).toDF("doc_id", "text"), dir)
    val got = SparkEntry.queries("tx17_novelty_score")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // (n_win, n_novel, novelty_pct_e6)
    assert(got(0L) == ((9L, 9L, 1000000L)), s"doc0: ${got(0L)}")
    assert(got(1L) == ((9L, 8L, 888889L)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((5L, 5L, 1000000L)), s"doc2: ${got(2L)}")
    assert(got(3L) == ((5L, 0L, 0L)), s"doc3: ${got(3L)}")
    assert(got(4L) == ((9L, 9L, 1000000L)), s"doc4: ${got(4L)}")
    assert(got(5L) == ((0L, 0L, 1000000L)), s"doc5: ${got(5L)}")
  }

  test("tx18 CMS: estimates never undercount; every sketch row conserves total mass") {
    import spark.implicits._
    val got = run("tx18_cms_counts").cache()
    // CMS's one hard guarantee: est(x) >= true(x), for every x
    assert(got.filter(col("over") < 0).count() == 0,
      "CMS undercounted — impossible for a correct table")
    // ground truth totals: Σ true_cnt over distinct bigrams = N
    val n = got.agg(sum("true_cnt")).collect()(0).getLong(0)
    // mass conservation per sketch row: rebuild the table exactly as
    // the operator does and check each of the 4 rows sums to N
    val el = graft.ext.TextOps.wordShingleRows(
      sources.Tables.table(spark, sfDir, "documents"), "doc_id", "text", 2)
      .select(col("_el"))
    assert(el.count() == n)
    got.unpersist()
  }

  test("dp10 funnel: stages strictly nested, totals conserved, every stage attrits on the fixture") {
    val got = run("dp10_curation_funnel").cache()
    // funnel monotonicity per source: total >= dedup >= quality >= kept
    assert(got.filter(col("n_after_dedup") > col("n_total") ||
      col("n_after_quality") > col("n_after_dedup") ||
      col("n_kept") > col("n_after_quality")).count() == 0)
    // totals conserved vs the corpus slice the funnel covers
    val corpus = sources.Tables.table(spark, sfDir, "documents")
      .filter(col("doc_id") >= 20).count()
    val sums = got.agg(sum("n_total"), sum("n_after_dedup"),
      sum("n_kept")).collect()(0)
    assert(sums.getLong(0) == corpus)
    // the funnel must actually attrit on the fixture (the sf0.001
    // slice may carry no exact dups, so gate the OVERALL attrition,
    // not a specific stage), and something must survive
    assert(sums.getLong(2) < sums.getLong(0), "no stage removed anything")
    assert(sums.getLong(2) > 0, "funnel removed everything")
    got.unpersist()
  }

  test("dp11 length-aware packing: capacity respected, bins dense and greedy, no doc split, bin count within bounds") {
    val got = run("dp11_length_aware_packing").cache()
    val corpus = sources.Tables.table(spark, sfDir, "documents")
    // every doc exactly once — whole-doc packing never splits or drops
    assert(got.count() == corpus.count())
    assert(got.select("doc_id").distinct().count() == got.count())
    // capacity: no placement crosses the 512 boundary
    assert(got.filter(col("off_in_seq") + col("eff_tok") > 512).count() == 0)
    // truncation flag is exactly the oversize predicate
    assert(got.filter((col("n_tok") > 512) =!= (col("truncated") === 1L))
      .count() == 0)
    // bins are dense: first placement at 0, placements contiguous
    // (sum of lengths == top of bin)
    val bins = got.groupBy("bucket", "seq")
      .agg(min("off_in_seq").as("lo"), sum("eff_tok").as("filled"),
        max(col("off_in_seq") + col("eff_tok")).as("top"))
    assert(bins.filter(col("lo") =!= 0L || col("filled") =!= col("top"))
      .count() == 0)
    // greedy shelf: a new bin opens ONLY when its first doc (the one
    // placed at offset 0) would not have fit in the previous bin
    val firstDoc = got.filter(col("off_in_seq") === 0L)
      .select(col("bucket"), col("seq"), col("eff_tok").as("first_eff"))
    val wasteful = firstDoc.filter(col("seq") > 0)
      .withColumn("prev_seq", col("seq") - 1)
      .join(bins.select(col("bucket"), col("seq").as("prev_seq"),
        col("filled").as("prev_filled")), Seq("bucket", "prev_seq"))
      .filter(col("prev_filled") + col("first_eff") <= 512)
    assert(wasteful.count() == 0, "a bin opened while the doc still fit")
    // bin-count bounds that genuinely hold for next-fit-decreasing
    // (beating arrival-order next-fit is NOT an invariant: cap 512,
    // arrival [300,200,300,200] packs 2 bins, decreasing packs 3 — so
    // a cross-order comparison would only be a fixture accident).
    // Lower bound: bins >= ceil(sum(eff)/512) per bucket. Upper bound:
    // the greedy-shelf property asserted above (a bin opens only when
    // its first doc did not fit) implies adjacent bins jointly exceed
    // the capacity, so bins <= 2*ceil(sum(eff)/512) + 1 per bucket.
    val bounds = bins.groupBy("bucket")
      .agg(count(lit(1)).as("n_bins"), sum("filled").as("tot"))
      .withColumn("opt_lb", ceil(col("tot") / 512.0).cast("long"))
    assert(bounds.filter(col("n_bins") < col("opt_lb")).count() == 0,
      "a bucket packed below the volume lower bound (impossible fill)")
    assert(bounds.filter(col("n_bins") > col("opt_lb") * 2 + 1).count() == 0,
      "a bucket exceeded the next-fit 2*OPT+1 guarantee")
    got.unpersist()
  }

  test("tx19 scored decontamination: doc set matches tx08, flag equals its predicate") {
    val got = run("tx19_scored_decontamination").cache()
    // tx19 refines tx08 (same shingle geometry, same eval slice): the
    // overlapping-doc SETS must be identical
    val tx08Docs = run("tx08_decontamination").select("doc_id")
    assert(got.select("doc_id").except(tx08Docs).count() == 0)
    assert(tx08Docs.except(got.select("doc_id")).count() == 0)
    // the flag is exactly its documented predicate
    assert(got.filter(
      ((col("n_rare_overlap") >= 1) ||
        (col("n_overlap_occ") * 5 >= col("n_occ"))) =!=
        (col("contaminated") === 1L)).count() == 0)
    // occurrence accounting: overlaps can never exceed the doc total
    assert(got.filter(col("n_overlap_occ") > col("n_occ")).count() == 0)
    assert(got.filter(col("n_rare_overlap") > col("n_overlap")).count() == 0)
    got.unpersist()
  }

  test("mm05 alignment: scores are valid cosines, keep tracks the threshold, every paired row scored") {
    val got = run("mm05_alignment_filter").cache()
    // cosine bound: |align| <= 1 (in e6 fixed point)
    assert(got.filter(abs(col("align_e6")) > 1000000L).count() == 0)
    // keep is exactly the threshold predicate
    assert(got.filter((col("align_e6") >= 0) =!=
      (col("keep") === 1L)).count() == 0)
    // one row per (doc, embedding) pair that exists
    val nDocs = sources.Tables.table(spark, sfDir, "documents").count()
    val nVecs = sources.Tables.table(spark, sfDir, "embeddings").count()
    assert(got.count() == math.min(nDocs, nVecs))
    got.unpersist()
  }

  test("ss09 PQ+refine: refined top-5 nearly exact; raw ADC stage ranks well at shallow depth") {
    val exact = run("ss01_ann_bruteforce").select("q_id", "neighbor_id")
    val pq = run("ss09_ann_pq").cache()
    val counts = pq.groupBy("q_id").count().collect()
    assert(counts.length == 10 && counts.forall(_.getLong(1) == 5L))
    val nExact = exact.count()
    val overlap = exact.join(pq.select("q_id", "neighbor_id"),
      Seq("q_id", "neighbor_id"), "left_semi").count()
    // the exact rerank recovers whatever the 50-deep ADC shortlist
    // captures (measured 1.0 at sf0.01; sf0.001's corpus is smaller
    // than the shortlist, so anything under ~1.0 is a real defect)
    assert(overlap.toDouble / nExact >= 0.9,
      s"PQ+refine recall collapsed: $overlap/$nExact < 0.9")
    // and the UNREFINED ADC ordering itself must carry signal at a
    // depth far below the shortlist: top-10 by raw ADC score should
    // already contain a decent share of the true top-5 (0.64 measured
    // at sf0.01) — this is what makes a 25-50 deep shortlist viable
    import org.apache.spark.sql.expressions.Window
    val adc10 = SimilarityQueries.pqAdcScored(spark, sfDir)
      .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("adc").desc, col("vec_id"))))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
    val adcHit = exact.join(adc10, Seq("q_id", "neighbor_id"), "left_semi")
      .count()
    assert(adcHit.toDouble / nExact >= 0.4,
      s"raw ADC@10 recall collapsed: $adcHit/$nExact < 0.4")
    pq.unpersist()
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("dd20 span removal: first occurrence keeps, later copies cut; exact dup empties; overlapping dup windows union") {
    // dd15's planted geometry plus an overlap case: docs 0/1 share an
    // 8-token run (doc 0 first -> keeps; doc 1 loses exactly those 8),
    // docs 2/3 are exact 12-token dups (doc 2 keeps all, doc 3 empties
    // to md5('')), doc 4 is clean, doc 5 sub-window, and docs 6/7
    // share a 9-token run = two OVERLAPPING dup windows whose cut
    // positions must union to 9 tokens in doc 7, not 16.
    import spark.implicits._
    val sharedRun = (0 until 8).map(i => s"shared$i").mkString(" ")
    val d0 = sharedRun + " " + (0 until 8).map(i => s"a$i").mkString(" ")
    val d1tail = (0 until 4).map(i => s"c$i").mkString(" ")
    val d1head = (0 until 4).map(i => s"b$i").mkString(" ")
    val d1 = d1head + " " + sharedRun + " " + d1tail
    val dupText = (0 until 12).map(i => s"e$i").mkString(" ")
    val d4 = (0 until 16).map(i => s"z$i").mkString(" ")
    val d5 = (0 until 5).map(i => s"s$i").mkString(" ")
    val nine = (0 until 9).map(i => s"n$i").mkString(" ")
    val d6 = nine + " " + (0 until 4).map(i => s"p$i").mkString(" ")
    val d7 = (0 until 4).map(i => s"q$i").mkString(" ") + " " + nine
    val dir = java.nio.file.Files.createTempDirectory("dd20-planted").toString
    plantDocs(Seq((0L, d0), (1L, d1), (2L, dupText), (3L, dupText),
      (4L, d4), (5L, d5), (6L, d6), (7L, d7)).toDF("doc_id", "text"), dir)
    val got = SparkEntry.queries("dd20_span_removal")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(0L) == ((16L, 0L, 16L, md5hex(d0))), s"doc0: ${got(0L)}")
    assert(got(1L) == ((16L, 8L, 8L, md5hex(d1head + " " + d1tail))),
      s"doc1: ${got(1L)}")
    assert(got(2L) == ((12L, 0L, 12L, md5hex(dupText))), s"doc2: ${got(2L)}")
    assert(got(3L) == ((12L, 12L, 0L, md5hex(""))), s"doc3: ${got(3L)}")
    assert(got(4L) == ((16L, 0L, 16L, md5hex(d4))), s"doc4: ${got(4L)}")
    assert(got(5L) == ((5L, 0L, 5L, md5hex(d5))), s"doc5: ${got(5L)}")
    assert(got(6L) == ((13L, 0L, 13L, md5hex(d6))), s"doc6: ${got(6L)}")
    assert(got(7L) == ((13L, 9L, 4L,
      md5hex((0 until 4).map(i => s"q$i").mkString(" ")))), s"doc7: ${got(7L)}")
  }

  test("mm08 offset near-dup: scattered same-offset matches flag a pair mm06's contiguous shingle misses; frozen and flooded frames can't vote; |off| breaks vote ties") {
    // payloads are 16-char blocks; stride-4 sampling hashes block
    // indices 0,4,8,... so sampled frame j lives at chars [64j, 64j+16)
    def blocks(bs: Seq[String]): String = {
      require(bs.forall(_.length == 16)); bs.mkString
    }
    def fill(doc: Int, i: Int) = f"fill-$doc%03d-$i%06d".take(16).padTo(16, '.')
    def planted(tag: String, i: Int) = f"$tag$i%d".padTo(16, '_')
    // sampled sequences (block index 4j carries sampled frame j;
    // unsampled blocks are unique filler)
    def media(doc: Int, sampled: Seq[String]): String = {
      val nBlocks = (sampled.length - 1) * 4 + 1
      blocks((0 until nBlocks).map(b =>
        if (b % 4 == 0) sampled(b / 4) else fill(doc, b)))
    }
    val P = (0 until 5).map(planted("P", _))
    // A = [P0 P1 P2 P3 P4]; B = [X P0 P1 Y P3]: matches P0,P1,P3 all at
    // off=+1 but NOT contiguous in B (gap at Y) -> mm06-invisible
    val a = media(0, P)
    val b = media(1, Seq(planted("X", 0), P(0), P(1), planted("Y", 0), P(3)))
    // frozen: same block at every sampled slot + P0 once -> solo filter
    // leaves only P0 -> 1 vote with A, below the 3-vote floor
    val fz = media(2, Seq("RRRRRRRRRRRRRRRR", "RRRRRRRRRRRRRRRR", P(4),
      "RRRRRRRRRRRRRRRR", "RRRRRRRRRRRRRRRR"))
    // tie-break pair: M-frames at off=-1, N-frames at off=+2; equal
    // votes (3 vs 3) -> smaller |off| wins -> off=-1
    val M = (0 until 3).map(planted("M", _))
    val N = (0 until 3).map(planted("N", _))
    val d = media(3, Seq(planted("F", 0)) ++ M ++ N)
    val e = media(4, M ++ Seq(planted("G", 0), planted("G", 1),
      planted("G", 2)) ++ N)
    // flood: 40 media all opening with frame Q -> doc-frequency 40 > 32
    // kills Q; their second sampled frame is unique filler
    val flood = (0 until 40).map(i =>
      (100L + i, media(100 + i, Seq(planted("Q", 0), planted("W", 100 + i)))))
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mm08-planted").toString
    plantDocs((Seq((0L, a), (1L, b), (2L, fz), (3L, d), (4L, e)) ++ flood)
      .toDF("doc_id", "text"), dir)
    val got = SparkEntry.queries("mm08_video_offset_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map((0L, 1L) -> ((1L, 3L)), (3L, 4L) -> ((-1L, 3L))),
      s"got $got")
  }

  test("dp16 repack invalidation: prefix chunks provably byte-identical, first dirty chunk exact, no-retraction bucket fully reusable") {
    import spark.implicits._
    // bucket 3: retracted doc FIRST (id 3, 100 tok) -> first_dirty 0;
    // bucket 5: retracted doc LAST (id 37, off 600) -> first_dirty 2
    // with chunks 0,1 reusable; bucket 2: no retraction -> all 3
    // reusable; bucket 4: only doc retracted -> v2 empty
    def doc(id: Long, n: Int) =
      (id, (0 until n).map(i => s"d${id}w$i").mkString(" "))
    val corpus = Seq(doc(3, 100), doc(11, 300), doc(19, 50),
      doc(2, 600), doc(20, 30), doc(5, 500), doc(13, 100), doc(37, 64))
    val dir = java.nio.file.Files.createTempDirectory("dp16-planted").toString
    plantDocs(corpus.toDF("doc_id", "text"), dir)
    val got = SparkEntry.queries("dp16_repack_invalidation")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) -1L else r.getLong(7), r.getLong(8)))).toMap
    // (n_docs_v1, n_docs_v2, tokens_v1, tokens_v2, chunks_v1,
    //  chunks_v2, first_dirty (-1 = NULL), n_reusable)
    assert(got(3L) == ((3L, 2L, 450L, 350L, 2L, 2L, 0L, 0L)), s"${got(3L)}")
    assert(got(5L) == ((3L, 2L, 664L, 600L, 3L, 3L, 2L, 2L)), s"${got(5L)}")
    assert(got(2L) == ((1L, 1L, 600L, 600L, 3L, 3L, -1L, 3L)), s"${got(2L)}")
    assert(got(4L) == ((1L, 0L, 30L, 0L, 1L, 0L, 0L, 0L)), s"${got(4L)}")
    // the prefix PROPERTY itself: rebuild both token streams for
    // bucket 5 and check chunks below first_dirty are byte-identical
    // while the first dirty chunk is not
    def stream(docs: Seq[(Long, String)]) = docs.sortBy(_._1)
      .flatMap(_._2.split(" ")).grouped(256).toSeq
    val b5 = corpus.filter(d => d._1 % 8 == 5)
    val v1 = stream(b5)
    val v2 = stream(b5.filterNot(_._1 % 17 == 3))
    assert(v1.take(2) == v2.take(2), "reusable prefix not byte-identical")
    assert(v1(2) != v2(2), "chunk at first_dirty unexpectedly identical")
  }

  test("tx27 fertility: per-lang aggregates equal a recomputation from tx25's per-doc counts") {
    // shared-expression gate: tx27 must be exactly tx25's n_sym/n_tok
    // re-aggregated by lang — recompute the report from tx25's own
    // output joined back to the lang column and demand row equality
    val perDoc = run("tx25_bpe_tokenize")
    val langs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_words"))
    val expect = perDoc.join(langs, "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
        sum(col("n_tok")).as("n_tokens"),
        round(sum(col("n_tok")) * lit(1e6) / sum(col("n_words")))
          .cast("long").as("fertility_e6"),
        round(sum(col("n_sym")) * lit(1e6) / sum(col("n_tok")))
          .cast("long").as("chars_per_tok_e6"))
    val got = run("tx27_tokenizer_fertility")
    assert(got.except(expect).count() == 0 &&
      expect.except(got).count() == 0,
      "tx27 drifted from tx25's per-doc arithmetic")
    // and the report is non-degenerate: multiple langs, all fertility
    // >= 1 token per word (BPE never merges across the word marker)
    val rows = got.collect()
    assert(rows.length >= 2)
    assert(rows.forall(_.getAs[Long]("fertility_e6") >= 1000000L),
      "fertility below 1 token/word — merges crossed a word boundary")
  }

  test("requirePackableDocIds fires on an out-of-range doc_id and passes the bound") {
    // the r16 guard must actually throw — a guard without a firing
    // test is indistinguishable from a no-op filter (the Md5Seg32
    // silent-fallback lesson applied to assert_true)
    import spark.implicits._
    val lim = 8796093022208L // 2^43
    val ok = graft.ext.TextOps.requirePackableDocIds(
      Seq((lim - 1, 1L), (0L, 2L)).toDF("doc_id", "v"), "doc_id", "spec")
    assert(ok.collect().length == 2)
    val bad = graft.ext.TextOps.requirePackableDocIds(
      Seq((lim, 1L)).toDF("doc_id", "v"), "doc_id", "spec")
    val e = intercept[Exception](bad.collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("packed-long")),
      s"guard threw the wrong error: ${msgs(e)}")
    val neg = graft.ext.TextOps.requirePackableDocIds(
      Seq((-1L, 1L)).toDF("doc_id", "v"), "doc_id", "spec")
    intercept[Exception](neg.collect())
  }
}
