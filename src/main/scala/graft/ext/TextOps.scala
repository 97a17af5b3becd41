package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared text/set primitives for the data-pipeline operators
  * (dedup, fingerprinting, similarity). Everything is built from
  * codegen'd `org.apache.spark.sql.functions` — no UDFs in the hot
  * path, so whole-stage codegen spans hold. Hashes that reach an
  * oracled output derive from md5 segments + mod-p rehashes
  * (engine-portable); xxhash64 appears only in non-oracled sampling.
  */
object TextOps {

  /** Whitespace tokens; trimmed first so no empty tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct n-word shingles; whole trimmed text if < n tokens.
    * Uses transform(sequence(...)) so the shingle loop runs inside
    * codegen rather than a UDF. */
  def wordShingles(text: Column, n: Int): Column = {
    val t = tokens(text)
    array_distinct(
      when(size(t) < n, array(concat_ws(" ", t)))
        .otherwise(transform(
          sequence(lit(0), size(t) - n),
          i => concat_ws(" ", slice(t, i + 1, lit(n))))))
  }

  /** (id, shingle) ROWS — the scale formulation of `wordShingles`:
    * one split per document (posexplode) and a window lead pass build
    * the n-token windows entirely in codegen, where the
    * array-returning `transform(...slice...)` lambda evaluates
    * interpreted and re-derives the token array per element (~60×
    * slower measured). Documents shorter than n tokens contribute
    * their whole trimmed text. Rows may repeat (duplicate shingles);
    * downstream consumers are duplicate-insensitive (min-hash) or
    * dedup via collect_set — cheaper than a global distinct shuffle.
    */
  def wordShingleRows(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    if (n == 1)
      return fanOut(df).select(col(idCol),
        explode(tokens(col(textCol))).as("_el"))
    // the positioned sibling carries the sliding window builder AND
    // the per-document guard (see wordShinglePosRows)
    val shingled = wordShinglePosRows(df, idCol, textCol, n)
      .select(col(idCol), col("_el"))
    // docs with < n tokens: fall back to the whole trimmed text
    // (computed narrowly from the source — no join back)
    val short = df
      .filter(size(tokens(col(textCol))) < n)
      .select(col(idCol), trim(col(textCol)).as("_el"))
    shingled.union(short)
  }

  /** (id, _pos, _el) POSITIONED n-token window rows, stride 1 —
    * `wordShingleRows`' positioned sibling for operators that need the
    * window's 0-based start token (dd15's duplicated-span accounting).
    * Documents shorter than n tokens contribute NO rows (they cannot
    * contain an n-token window); callers wanting the whole-text
    * fallback use `wordShingleRows`.
    *
    * Generator shape — the third measured design (SCALING.md, "Round
    * 15: the ExactSubstr family re-engineered", lever 2: 36.7M windows
    * at the 500k headroom corpus, value-identical outputs): a typed
    * mapPartitions sliding builder over the materialized token array,
    * 7.96 s vs 11.9 s for the transform/slice lambda (higher-order
    * lambdas evaluate interpreted) vs 18.9 s for the rounds-1-14
    * posexplode + per-doc lead-window pass — which also cost a full
    * shuffle+sort of the token stream and put a Window between the scan
    * and every downstream consumer. mapPartitions is the documented last
    * resort, earned here: each row is one whole document, the window
    * build is a per-row imperative loop no codegen'd expression
    * expresses without either a shuffle (lead) or interpreted lambdas
    * (transform), and the 2.4x on the ExactSubstr family's dominant
    * cost is receipt-backed. No per-doc window also means no per-doc
    * serialization point — the skew guard below remains for the
    * packed-radix bound (pos < 2^20) and single-row memory, not task
    * shape. */
  def wordShinglePosRows(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 2, s"positioned shingle size must be >= 2, got $n")
    require(df.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"wordShinglePosRows: id column $idCol must be LongType " +
        s"(got ${df.schema(idCol).dataType}); the typed sliding " +
        "builder encodes ids as longs")
    val spark = df.sparkSession
    import spark.implicits._
    val maxTokens = spark.conf
      .getOption("graft.ext.maxDocTokens").map(_.toLong).getOrElse(1000000L)
    // fanOut-spread: the sliding builder is a ~n_tokens-per-row
    // expansion that runs on the scan partitioning — one core for a
    // small single-file leaf — and nothing downstream re-shuffles it.
    val guarded = fanOut(df)
      .select(col(idCol), tokens(col(textCol)).as("_t"))
      .filter(assert_true(size(col("_t")) <= maxTokens,
        concat(lit("wordShingleRows: document "), col(idCol).cast("string"),
          lit(" has "), size(col("_t")).cast("string"),
          lit(s" tokens > graft.ext.maxDocTokens=$maxTokens; one row's " +
            "window fan-out would own a task and its positions would " +
            "overflow the packed-long radix. Chunk oversized documents " +
            "first (dd09-style fixed-size token windows), or " +
            "raise spark.conf graft.ext.maxDocTokens."))).isNull)
      .filter(size(col("_t")) >= n)
    guarded.as[(Long, Seq[String])]
      .mapPartitions { it =>
        it.flatMap { case (id, t) =>
          (0 to t.length - n).iterator.map { i =>
            val sb = new StringBuilder(t(i))
            var j = i + 1
            while (j < i + n) { sb.append(' ').append(t(j)); j += 1 }
            (id, i, sb.toString)
          }
        }
      }
      .toDF(idCol, "_pos", "_el")
  }

  /** 128-bit ENGINE-INTERNAL window key: two independent xxhash64
    * lanes over the window text, carried as TWO FLAT LONG columns
    * (h1, h2). Replaces the md5 hex-string key in the ExactSubstr
    * family's internal aggregations and joins (dd15/dd20/tx17/dd23):
    * the 500k headroom corpus (36.7M windows; SCALING.md, "Round 15:
    * the ExactSubstr family re-engineered", lever 3) measured the dup
    * aggregation at 42 s on string keys vs 23 s on the flat long pair,
    * and the digest join-back at 122 s (string SMJ) vs 52 s (flat SMJ)
    * vs 36 s (flat shuffle-hash) — flat, not
    * a two-long struct, because struct grouping keys hash and compare
    * interpreted (struct spelling measured no better than strings).
    *
    * LANE INDEPENDENCE (the r15 defect): Spark's multi-arg xxhash64
    * folds children left-to-right using the running hash as the next
    * child's seed, so the old spelling `xxhash64(el, lit(1))` computed
    * h2 = XXH64(1L, seed = h1) — a fixed bijection of h1, making every
    * h1 collision an automatic h2 collision (the pair carried 64 bits,
    * not 128). The constant must hash FIRST: `xxhash64(lit(1), el)`
    * folds to XXH64(el_bytes, seed = XXH64(1L, seed = 42)) — the same
    * string hashed under a different constant seed, i.e. a genuinely
    * distinct member of the xxhash64 family at identical cost.
    * HashOpsSpec pins the construction (h2 is NOT the seed-chained
    * recomputation of h1). With two independent 64-bit lanes the
    * collision class matches md5 itself (2^-128-scale), so the "exact
    * detection" contract is unchanged; md5 stays wherever a digest
    * value reaches an oracle-visible output or an oracle-reproduced
    * sampling coin (dd23's first-hex-char coin, tx04's fingerprints,
    * minhash seg32 lanes). */
  def windowKey1(el: Column): Column = xxhash64(el)
  def windowKey2(el: Column): Column = xxhash64(lit(1), el)

  /** Guard for the packed-long `doc_id * 2^20 + pos/count` encoding
    * (dd20's cut-set group-first, tx17's first-carrier attribution).
    * The packing is correct only while every position/count fits in
    * 20 bits, which the `wordShinglePosRows` guard enforces ONLY when
    * the user-raisable `graft.ext.maxDocTokens` cap itself stays at or
    * under 2^20 — the guard's error message invites raising the conf,
    * and a cap past 1,048,576 would let pos bits bleed into doc_id:
    * silently wrong attribution, no error. Refuse that configuration
    * loudly at the packing site instead. */
  def requirePackablePositions(spark: org.apache.spark.sql.SparkSession): Unit = {
    val mt = spark.conf.getOption("graft.ext.maxDocTokens")
      .map(_.toLong).getOrElse(1000000L)
    require(mt <= 1048576L,
      s"graft.ext.maxDocTokens=$mt exceeds 1048576 (2^20): this operator " +
        "packs (doc_id, position/count) into one long with radix 2^20, so " +
        "positions past 2^20 would bleed into doc_id and silently corrupt " +
        "first-carrier attribution. Chunk oversized documents first " +
        "(dd09-style fixed-size token windows) instead of raising the cap " +
        "past 2^20.")
  }

  /** Per-row twin of [[requirePackablePositions]] for the doc_id side
    * of the packed-long encodings: dd19 packs (1e6−score)·2^43 +
    * doc_id (doc_id minors under the score majors), dd20/tx17 pack
    * doc_id·2^20 + pos/count (doc_id majors) — all three are correct
    * only while 0 <= doc_id < 2^43, and unlike positions (bounded by
    * the maxDocTokens conf) doc ids have no conf to check, so the
    * bound is enforced on the data itself: one codegen'd comparison
    * per row (assert_true filter, the wordShingleRows idiom), refusing
    * loudly instead of silently corrupting the keeper choice /
    * first-carrier attribution when the packing wraps. */
  def requirePackableDocIds(df: DataFrame, idCol: String,
      ctx: String): DataFrame = {
    val lim = 8796093022208L // 2^43
    df.filter(assert_true(col(idCol) >= 0 && col(idCol) < lim,
      concat(lit(s"$ctx: doc_id "), col(idCol).cast("string"),
        lit(" is outside [0, 2^43): the packed-long encoding would " +
          "overflow and silently corrupt the result. Re-key documents " +
          "below 2^43 first."))).isNull)
  }

  /** Fan a small corpus leaf out to the session's parallelism before a
    * 100-1000x per-row expansion (shingle windows + per-element
    * digests).
    *
    * Why: a corpus that is physically one small parquet file scans as
    * ONE partition (one row group — byte-range splits can't help), so
    * every map-side expansion+digest downstream of the scan serializes
    * on a single core no matter how many the session has — measured on
    * dd05 at sf0.1: the 1.5M-gram digest stage ran 2.1s on 1 of 32
    * cores. The shuffle this adds moves only the raw doc rows — three
    * orders of magnitude smaller than the expansion it parallelizes.
    * Guarded so it is a NO-OP at production scale: when the leaf
    * already provides >= half the session's parallelism (any
    * multi-split 100 TB table), the frame passes through untouched —
    * the guard reads the planned partition count, it never runs a job. */
  def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= p) df else df.repartition(p)
  }

  /** (id, "tok") token rows — the whitespace-token explode that feeds
    * the SimHash family (dd04/dd07/tx13/mm05). Input is [[fanOut]]-
    * spread: the explode plus the (id, tok) map-side partial count in
    * simhashSignatures otherwise serialize on a small single-file
    * leaf's one scan partition (same shape as dd05's charNgramRows
    * fix, SCALING.md r10/r11). No-op at production parallelism. */
  def tokenRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    fanOut(df).select(col(idCol), explode(tokens(col(textCol))).as("tok"))

  /** (id, char n-gram) rows — explode positions, substring in codegen;
    * short texts yield themselves. May contain duplicates (see
    * wordShingleRows). Input is [[fanOut]]-spread: the explode+digest
    * consumers (dd05's minhash pass) are exactly the expansion shape
    * that serializes on a small leaf. */
  def charNgramRows(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    fanOut(df).select(col(idCol),
      explode(sequence(lit(1), greatest(length(col(textCol)) - (n - 1), lit(1))))
        .as("_i"), col(textCol))
      .select(col(idCol), col(textCol).substr(col("_i"), lit(n)).as("_el"))

  /** (id, chunk_pos, chunk_text) rows: non-overlapping `n`-token
    * chunks (dd09's paragraph stand-in over newline-free synthetic
    * text). The chunk loop is transform(sequence(...)) over the token
    * array — row generation, no UDF. The explicit empty-array guard
    * matters: Spark's sequence(0, -1) steps DOWN, yielding two bogus
    * chunks, not zero. */
  def tokenChunkRows(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("arr"))
      .select(col(idCol), posexplode(expr(
        "CASE WHEN size(arr) > 0 THEN " +
          s"transform(sequence(0, cast(ceil(size(arr) / $n.0) as int) - 1)," +
          s" i -> concat_ws(' ', slice(arr, i * $n + 1, $n))) " +
          "ELSE CAST(array() AS array<string>) END")))
      .select(col(idCol), col("pos").cast("long").as("chunk_pos"),
        col("col").as("chunk_text"))

  /** MinHash-LSH candidate pairs from pre-exploded (id, _el) element
    * rows (wordShingleRows/charNgramRows, so sets are never
    * materialized as arrays for the signature pass).
    *
    * Pipeline (all distributed, one shuffle per stage):
    *   1. element rows (id, _el)
    *   2. one hash-aggregate computes all `numHashes` minhash values
    *      per id in a single pass (min over (a_i·h + b_i) mod p
    *      rehashes of one md5-segment hash per element)
    *   3. band bucket = the band's minhash tuple as a string;
    *      explode to (id, band, bucket)
    *   4. self-equi-join on (band, bucket) with id< ordering → pairs
    *
    * Buckets up to `maxBucketSize` emit all-pairs candidates.
    * OVERSIZED buckets (boilerplate mega-clusters, degenerate
    * content) are NOT dropped: they emit REP-CHAIN candidates —
    * (min id in bucket, member) for every member — O(bucket) pairs
    * instead of O(bucket²), so a 10%-of-corpus near-dup cluster
    * still collapses to one component through its representative
    * while the quadratic regime stays impossible at any skew.
    * Candidates must still be verified with an exact measure
    * (`jaccardJoin`), so chaining affects recall/cost, never
    * precision; a mixed oversized bucket only links members the
    * verifier confirms against the representative (other bands give
    * the rest their chances).
    */
  def lshCandidatesFromRows(
      rows: DataFrame,
      idCol: String,
      numHashes: Int,
      rowsPerBand: Int,
      maxBucketSize: Int): DataFrame =
    candidatesFromSignatures(
      signatures(rows, idCol, numHashes),
      idCol, numHashes, rowsPerBand, maxBucketSize)

  /** Per-id minhash signature row (`numHashes` `_mh<i>` columns).
    *
    * One strong hash per element — a 31-bit md5 segment — then
    * `numHashes` cheap universal-hash rehashes `(a·h + b) mod 2³¹−1`:
    * ~30× fewer digests than hashing each element per seed, and the
    * rehashes are plain codegen'd multiply-mod. Everything stays below
    * 2⁶² so the ARITHMETIC IS ENGINE-PORTABLE (no wrapping, no ANSI
    * overflow, no HUGEINT): DuckDB reproduces the signatures, band
    * buckets and candidate pairs exactly, which is what gives
    * dd03/dd05/dd10 full value oracles (`lshPairsOracleSql`). */
  private val MersenneP = 2147483647L // 2^31 - 1

  private def mixConst(i: Int, salt: Long): Long = {
    var z = i.toLong * 0x9e3779b97f4a7c15L + salt
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  /** Universal-hash multiplier for rehash i, in [1, p-1]. */
  private[ext] def uhA(i: Int): Long =
    (mixConst(i, 0x51ab5f1cL) & Long.MaxValue) % (MersenneP - 1) + 1
  /** Universal-hash offset for rehash i, in [0, p-1]. */
  private[ext] def uhB(i: Int): Long =
    (mixConst(i, 0x7e21L) & Long.MaxValue) % MersenneP

  private def signatures(rows: DataFrame, idCol: String,
      numHashes: Int): DataFrame = {
    // md5_seg32(el, 0) & MaxInt == conv(substring(md5(el),1,8),16,10)
    // & MaxInt, digest-bytes-direct (see simhashSignatures note) — the
    // element digest is THE dominant per-row cost of the minhash pass
    graft.functions.HashOps.register(rows.sparkSession)
    val exploded = rows.select(col(idCol),
      (graft.functions.HashOps.md5Seg32(col("_el"), 0)
        .bitwiseAND(lit(Int.MaxValue.toLong))).as("_h"))
    val mhAggs = (0 until numHashes).map { i =>
      min((col("_h") * lit(uhA(i)) + lit(uhB(i))) % lit(MersenneP)).as(s"_mh$i")
    }
    exploded.groupBy(col(idCol)).agg(mhAggs.head, mhAggs.tail: _*)
  }

  /** (id, band, bucket) rows from a signature frame. Bucket key = the
    * band's minhash tuple rendered as a string — no re-hash at all, so
    * the key is reproducible in any engine (the tuple IS the LSH
    * identity; hashing it again only saved key bytes). */
  private def bandBuckets(mh: DataFrame, idCol: String,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    val nBands = numHashes / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val bandCols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"_mh$i"))
      struct(lit(b).as("band"), concat_ws(",", bandCols: _*).as("bucket"))
    }
    mh.select(col(idCol), explode(array(bandStructs: _*)).as("_bb"))
      .select(col(idCol), col("_bb.band").as("band"), col("_bb.bucket").as("bucket"))
  }

  /** (id, band, bucket) rows for an external index builder
    * ([[DedupIndex]]): the signature + banding pass, same constants
    * family as the in-query LSH paths, exposed so the index table a
    * probe joins into can be PERSISTED instead of derived per run. */
  def bandBucketRows(rows: DataFrame, idCol: String,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0)
    bandBuckets(signatures(rows, idCol, numHashes), idCol,
      numHashes, rowsPerBand)
  }

  /** (id, _mh0.._mh{k-1}) MinHash signature rows from (id, _el)
    * element rows — [[signatures]] exposed for signature-level
    * ESTIMATORS (tx22's source-overlap matrix): one map-side-combinable
    * min-aggregation pass over the elements, k longs per id out. The
    * min is duplicate-insensitive, so callers need not pre-distinct
    * their element rows. */
  def signatureRows(rows: DataFrame, idCol: String,
      numHashes: Int): DataFrame =
    signatures(rows, idCol, numHashes)

  /** Component-match MinHash estimate of the pairwise Jaccard matrix
    * over the GROUPS of `sigs` (a [[signatureRows]] frame): for each
    * id pair (a < b), `n_match` = matching signature components of k,
    * `est_jaccard_e6` = round(n_match/k · 1e6) — the unbiased MinHash
    * estimator, stderr ≈ √(J(1−J)/k). The pair join runs on the
    * SIGNATURE frame (one row of k longs per id), so the matrix stage
    * costs |ids|²·k however large the underlying corpus is — the
    * petabyte path tx21's exact form calibrates. */
  def signatureOverlapMatrix(sigs: DataFrame, idCol: String,
      numHashes: Int): DataFrame = {
    val nMatch = (0 until numHashes).map { i =>
      when(col(s"a._mh$i") === col(s"b._mh$i"), 1L).otherwise(0L)
    }.reduce(_ + _)
    sigs.as("a").join(sigs.as("b"),
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        nMatch.as("n_match"))
      .withColumn("est_jaccard_e6",
        round(col("n_match") * lit(1e6) / lit(numHashes)).cast("long"))
  }

  /** DuckDB value oracle for a source-level signature-overlap entry
    * (tx22): the same minhash CTE chain as [[lshPairsOracleSql]] keyed
    * by `source` instead of doc_id, then the pairwise component-match
    * count. `shingleSql` yields (doc_id, el); sources come from the
    * documents table. */
  def sourceOverlapEstimateOracleSql(shingleSql: String,
      numHashes: Int): String = {
    val mhs = (0 until numHashes).map(i =>
      s"min((h * ${uhA(i)} + ${uhB(i)}) % $MersenneP) AS _mh$i").mkString(", ")
    val matches = (0 until numHashes).map(i =>
      s"CASE WHEN a._mh$i = b._mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH sh AS ($shingleSql),
       |ds AS (SELECT d.source, s.el
       |  FROM sh s JOIN documents d USING (doc_id)),
       |h AS (SELECT source,
       |  ('0x' || substr(md5(el), 1, 8))::BIGINT & 2147483647 AS h FROM ds),
       |mh AS (SELECT source, $mhs FROM h GROUP BY source),
       |pm AS (SELECT a.source AS src_a, b.source AS src_b,
       |    CAST($matches AS BIGINT) AS n_match
       |  FROM mh a JOIN mh b ON a.source < b.source)
       |SELECT src_a, src_b, n_match,
       |  CAST(round(n_match * 1e6 / $numHashes) AS BIGINT) AS est_jaccard_e6
       |FROM pm
       |ORDER BY src_a, src_b""".stripMargin
  }

  /** Banded-LSH candidate pairs from a signature frame. */
  private def candidatesFromSignatures(
      mh0: DataFrame,
      idCol: String,
      numHashes: Int,
      rowsPerBand: Int,
      maxBucketSize: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0)
    val nBands = numHashes / rowsPerBand
    // Materialize the signature frame ONCE (localCheckpoint — blocks
    // freed when the RDD is GC'd, the CC loop's lifecycle). The plan
    // below references it through stats AND the join-back AND all
    // three pair branches; unmaterialized, each reference re-runs the
    // full element-md5 + numHashes-way min aggregation — a measured 6×
    // re-derivation (21 parquet scans in dd03's final plan, 5-6
    // shingle passes where one suffices; ReusedExchange recovered only
    // a third). The frame is narrow (id + numHashes longs), so the
    // one-time block write is far below one recompute.
    val mh = mh0.localCheckpoint(true)
    val buckets = bandBuckets(mh, idCol, numHashes, rowsPerBand)

    // one aggregation yields both the size gate and the representative;
    // the join back is co-partitioned on the same (band, bucket) key
    val stats = buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("_n"), min(col(idCol)).as("_rep"))
    // (id, band, bucket, size, rep) is read by all three pair branches
    // (small ×2 sides, chained) — materialize rather than re-join 3×
    val tagged = buckets.join(stats, Seq("band", "bucket"))
      .localCheckpoint(true)

    val small = tagged.filter(col("_n") <= maxBucketSize)
    val allPairs = small.as("x")
      .join(small.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"))
    // oversized: star around the bucket minimum — rep < member always,
    // so the (a_id < b_id) pair orientation is preserved
    val chained = tagged.filter(col("_n") > maxBucketSize &&
        col(idCol) =!= col("_rep"))
      .select(col("_rep").as("a_id"), col(idCol).as("b_id"))
    allPairs.union(chained).distinct()
  }

  /** SimHash near-dup machinery: `segments`×32-bit signatures,
    * pigeonhole chunk bucketing, exact Hamming verification.
    *
    * Signatures are built from 32-BIT SEGMENTS of one md5 digest per
    * token (segment k = hex digits [8k+1, 8k+8]), not 64-bit words,
    * for engine portability: every intermediate stays an unsigned
    * value < 2³², so the IDENTICAL integer arithmetic runs in DuckDB
    * (whose BIGINT refuses `1 << 63`) and dd04/dd07 get full value
    * oracles. md5 over ASCII tokens digests identically in both
    * engines; one digest yields up to 128 signature bits.
    *
    * Collision math (dd04 vs dd07): Hamming ≤ r needs r+1 chunks (r
    * differing bits touch at most r of them), and chunk VALUE SPACE
    * bounds false candidates — 9 chunks of a 64-bit signature are 7-8
    * bits wide (2⁷ values → ~9·n²/2⁷ candidate pairs), while 9 chunks
    * of a 128-bit signature are 14-15 bits (2¹⁴ values → ~128× fewer
    * collisions for the same plan shape). Everything stays codegen.
    */
  /** Per-id SimHash signatures as 32-bit columns `_sig0.._sigN`;
    * all `32·segments` bit counters in ONE aggregation pass.
    *
    * Tokens are pre-aggregated to (id, tok) → cnt first, so each
    * DISTINCT token per document is md5-digested exactly once and the
    * bit counters sum ±cnt instead of ±1 per occurrence — identical
    * signatures (the sums commute), but the digest count drops by the
    * corpus duplication factor. The count agg combines map-side, so
    * the extra aggregation costs one narrow (id, tok, cnt) shuffle and
    * buys `segments` fewer md5 evaluations per repeated occurrence —
    * the md5 is the dominant per-row cost at 4 segments (dd07). */
  def simhashSignatures(
      tok: DataFrame, // (idCol, "tok") token rows
      idCol: String,
      segments: Int): DataFrame = {
    require(segments >= 1 && segments <= 4, "one md5 digest = 128 bits max")
    val counted = tok.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("_cnt"))
    // md5_seg32 = conv(substring(md5(tok), 8k+1, 8), 16, 10) computed
    // from the digest bytes (no hex string, no conv parse, cached
    // MessageDigest) — same value, so the generated DuckDB oracle is
    // untouched; A/B vs the conv spelling recorded in SCALING.md r11
    graft.functions.HashOps.register(tok.sparkSession)
    val hashed = counted.select(col(idCol) +: col("_cnt") +:
      (0 until segments).map(k =>
        graft.functions.HashOps.md5Seg32(col("tok"), k).as(s"_h$k")): _*)
    val bitSums = for (k <- 0 until segments; b <- 0 until 32) yield
      sum(when(expr(s"((_h$k >> $b) & 1) = 1"), col("_cnt"))
        .otherwise(-col("_cnt"))).as(s"_k${k}b$b")
    hashed.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol) +: (0 until segments).map { k =>
        (0 until 32).map(b => when(col(s"_k${k}b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as(s"_sig$k")
      }: _*)
  }

  /** Chunk geometry shared by the Spark plan and the DuckDB oracle:
    * `radius+1` chunks partition [0, 32·segments) with the remainder
    * widening the leading chunks; each chunk extraction is emitted as
    * a SQL fragment valid in BOTH dialects (only `>> & | *` over
    * values < 2³², never a 64-bit assembly). */
  private def chunkStarts(nBits: Int, nChunks: Int): Seq[Int] = {
    val base = nBits / nChunks
    (0 until nChunks).scanLeft(0) { (s, c) =>
      s + base + (if (c < nBits % nChunks) 1 else 0)
    }
  }

  private def chunkFrag(starts: Seq[Int], c: Int): String = {
    val start = starts(c); val end = starts(c + 1); val width = end - start
    val loSeg = start / 32; val hiSeg = (end - 1) / 32
    val off = start % 32
    if (loSeg == hiSeg)
      s"((_sig$loSeg >> $off) & ${(1L << width) - 1})"
    else {
      // spans two segments: low bits from loSeg, high bits from hiSeg
      val loBits = 32 - off
      s"(((_sig$loSeg >> $off) & ${(1L << loBits) - 1}) | " +
        s"((_sig$hiSeg & ${(1L << (width - loBits)) - 1}) << $loBits))"
    }
  }

  /** (a_id, b_id, hamming) pairs at Hamming ≤ radius over the full
    * `32·segments`-bit signature. Bucketing is LOSSLESS (the pigeonhole
    * guarantee, asserted against brute force in ExtSpec). */
  def simhashPairs(
      tok: DataFrame, // (idCol, "tok") token rows
      idCol: String,
      segments: Int,
      radius: Int): DataFrame = {
    require(segments >= 1 && radius >= 0)
    val nChunks = radius + 1
    // materialize the signature frame once (id + `segments` longs):
    // both self-join sides re-derive it otherwise — token explode,
    // (id, tok) pre-agg shuffle and md5 digests, twice per query
    // sub-phase attribution (the dd08/ss03 OpMetrics pattern): the sig
    // checkpoint forces the token+digest+bit-counter pipeline; the rest
    // is the chunk self-join — two different cost stories
    val sig = graft.core.OpMetrics.timed(s"simhash${segments}_sig") {
      simhashSignatures(tok, idCol, segments).localCheckpoint(true)
    }
    val starts = chunkStarts(32 * segments, nChunks)
    val chunks = sig.select(col(idCol) +: (0 until segments).map(k => col(s"_sig$k")) :+
      explode(array((0 until nChunks).map(c =>
        struct(lit(c).as("c"), expr(chunkFrag(starts, c)).as("v"))): _*)).as("ch"): _*)
      .select(col(idCol) +: (0 until segments).map(k => col(s"_sig$k")) :+
        col("ch.c").as("c") :+ col("ch.v").as("v"): _*)
    val ham = (0 until segments).map(k =>
      expr(s"bit_count(x._sig$k ^ y._sig$k)")).reduce(_ + _).cast("long")
    chunks.as("x").join(chunks.as("y"),
        col("x.c") === col("y.c") && col("x.v") === col("y.v") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"),
        ham.as("hamming"))
      .filter(col("hamming") <= radius)
      .distinct()
  }

  /** DuckDB oracle for `simhashPairs` over whitespace tokens of
    * `documents.text` — generated from the SAME chunk geometry as the
    * Spark plan, so the two can never drift. `xor` spelled as a
    * function (DuckDB has no infix `^` for BIGINT xor). */
  def simhashOracleSql(segments: Int, radius: Int): String = {
    val nChunks = radius + 1
    val starts = chunkStarts(32 * segments, nChunks)
    val hcols = (0 until segments).map(k =>
      s"('0x' || substr(md5(tok), ${8 * k + 1}, 8))::BIGINT AS _h$k").mkString(", ")
    val bitsums = (for (k <- 0 until segments; b <- 0 until 32) yield
      s"sum(CASE WHEN ((_h$k >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS _k${k}b$b")
      .mkString(", ")
    val sigs = (0 until segments).map { k =>
      (0 until 32).map(b => s"CASE WHEN _k${k}b$b > 0 THEN ${1L << b} ELSE 0 END")
        .mkString("(", " + ", s")::BIGINT AS _sig$k")
    }.mkString(", ")
    val sigCols = (0 until segments).map(k => s"_sig$k").mkString(", ")
    val chunkSel = (0 until nChunks).map(c =>
      s"SELECT doc_id, $sigCols, $c AS c, ${chunkFrag(starts, c)} AS v FROM sig")
      .mkString(" UNION ALL ")
    val ham = (0 until segments).map(k => s"bit_count(xor(x._sig$k, y._sig$k))")
      .mkString(" + ")
    s"""WITH tok AS (SELECT doc_id,
       |  unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents),
       |h AS (SELECT doc_id, $hcols FROM tok),
       |bs AS (SELECT doc_id, $bitsums FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigs FROM bs),
       |chunks AS ($chunkSel)
       |SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
       |  CAST($ham AS BIGINT) AS hamming
       |FROM chunks x JOIN chunks y
       |  ON x.c = y.c AND x.v = y.v AND x.doc_id < y.doc_id
       |WHERE $ham <= $radius
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** DuckDB `sh` CTE body matching `wordShingleRows(n)` over
    * `documents.text` (short docs yield their whole trimmed text). */
  def wordShingleSql(n: Int): String =
    s"""SELECT doc_id, unnest(CASE
       |    WHEN len(regexp_split_to_array(trim(text), '\\s+')) < $n
       |      THEN [trim(text)]
       |    ELSE list_transform(
       |      range(1, len(regexp_split_to_array(trim(text), '\\s+')) - ${n - 2}),
       |      i -> array_to_string(regexp_split_to_array(trim(text), '\\s+')[i:i+${n - 1}], ' '))
       |    END) AS el
       |  FROM documents""".stripMargin

  /** DuckDB `sh` CTE body matching `charNgramRows(n)` over
    * `documents.text` (short texts yield themselves; raw text, no trim,
    * exactly like the Spark side). */
  def charNgramSql(n: Int): String =
    s"""SELECT doc_id, unnest(CASE
       |    WHEN len(text) < $n THEN [text]
       |    ELSE list_transform(range(1, len(text) - ${n - 2}),
       |      i -> substr(text, i, $n))
       |    END) AS el
       |  FROM documents""".stripMargin

  /** The CTE chain reproducing `lshNearDupPairs` in DuckDB — same md5
    * segment, same (a·h+b) mod p rehash constants, same string bucket
    * keys, same bucket cap, same integer-arithmetic Jaccard filter —
    * ending in a `pairs(a_id, b_id, inter, uni)` CTE. Generated from
    * the identical parameters as the Spark plan so they cannot drift. */
  private def lshCtes(shingleSql: String, numHashes: Int, rowsPerBand: Int,
      maxBucketSize: Int, threshNum: Int, threshDen: Int): String = {
    require(numHashes % rowsPerBand == 0)
    val nBands = numHashes / rowsPerBand
    val mhs = (0 until numHashes).map(i =>
      s"min((h * ${uhA(i)} + ${uhB(i)}) % $MersenneP) AS _mh$i").mkString(", ")
    val bands = (0 until nBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => s"_mh$i").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws(',', $cols) AS bucket FROM mh"
    }.mkString(" UNION ALL ")
    s"""sh AS ($shingleSql),
       |h AS (SELECT doc_id,
       |  ('0x' || substr(md5(el), 1, 8))::BIGINT & 2147483647 AS h FROM sh),
       |mh AS (SELECT doc_id, $mhs FROM h GROUP BY doc_id),
       |bk AS ($bands),
       |ct AS (SELECT band, bucket, count(*) AS n, min(doc_id) AS rep
       |       FROM bk GROUP BY band, bucket),
       |szd AS (SELECT bk.*, ct.n, ct.rep FROM bk JOIN ct USING (band, bucket)),
       |cand AS (SELECT DISTINCT a_id, b_id FROM (
       |         SELECT x.doc_id AS a_id, y.doc_id AS b_id
       |         FROM szd x JOIN szd y
       |           ON x.band = y.band AND x.bucket = y.bucket
       |             AND x.doc_id < y.doc_id
       |         WHERE x.n <= $maxBucketSize
       |         UNION ALL
       |         SELECT rep, doc_id FROM szd
       |         WHERE n > $maxBucketSize AND doc_id <> rep)),
       |dsh AS (SELECT DISTINCT doc_id, el FROM sh),
       |sz AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
       |iv AS (SELECT c.a_id, c.b_id, count(*) AS inter
       |       FROM cand c
       |       JOIN dsh x ON x.doc_id = c.a_id
       |       JOIN dsh y ON y.doc_id = c.b_id AND y.el = x.el
       |       GROUP BY c.a_id, c.b_id),
       |pairs AS (SELECT iv.a_id, iv.b_id,
       |    CAST(inter AS BIGINT) AS inter,
       |    CAST(sa.n + sb.n - inter AS BIGINT) AS uni
       |  FROM iv
       |  JOIN sz sa ON sa.doc_id = iv.a_id
       |  JOIN sz sb ON sb.doc_id = iv.b_id
       |  WHERE inter * $threshDen >= (sa.n + sb.n - inter) * $threshNum)""".stripMargin
  }

  /** Full DuckDB value oracle for an `lshNearDupPairs` catalog entry. */
  def lshPairsOracleSql(shingleSql: String, numHashes: Int, rowsPerBand: Int,
      maxBucketSize: Int, threshNum: Int, threshDen: Int): String =
    s"""WITH ${lshCtes(shingleSql, numHashes, rowsPerBand, maxBucketSize, threshNum, threshDen)}
       |SELECT a_id, b_id, inter, uni FROM pairs
       |ORDER BY a_id, b_id""".stripMargin

  /** DuckDB value oracle for dd10: connected components (recursive-CTE
    * reachability, as in dd08's oracle) over the same verified pair
    * set, keep-min canonical. */
  def lshClustersOracleSql(shingleSql: String, numHashes: Int, rowsPerBand: Int,
      maxBucketSize: Int, threshNum: Int, threshDen: Int): String =
    s"""WITH RECURSIVE ${lshCtes(shingleSql, numHashes, rowsPerBand, maxBucketSize, threshNum, threshDen)},
       |ed AS (SELECT a_id AS s, b_id AS d FROM pairs
       |       UNION ALL SELECT b_id, a_id FROM pairs),
       |verts AS (SELECT DISTINCT s AS v FROM ed),
       |reach(v, x) AS (
       |  SELECT v, v FROM verts
       |  UNION
       |  SELECT r.v, ed.d FROM reach r JOIN ed ON ed.s = r.x)
       |SELECT v AS doc_id, CAST(min(x) AS BIGINT) AS cluster,
       |  CAST(CASE WHEN v = min(x) THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin

  /** DuckDB oracle for dd19: [[lshClustersOracleSql]]'s cluster chain
    * joined to the integer quality score (tx20's diversity-e6
    * convention), keeper = per-cluster argmax(score_e6) with min-id
    * tiebreak via row_number. */
  def lshBestRepOracleSql(shingleSql: String, numHashes: Int,
      rowsPerBand: Int, maxBucketSize: Int, threshNum: Int,
      threshDen: Int): String =
    s"""WITH RECURSIVE ${lshCtes(shingleSql, numHashes, rowsPerBand, maxBucketSize, threshNum, threshDen)},
       |ed AS (SELECT a_id AS s, b_id AS d FROM pairs
       |       UNION ALL SELECT b_id, a_id FROM pairs),
       |verts AS (SELECT DISTINCT s AS v FROM ed),
       |reach(v, x) AS (
       |  SELECT v, v FROM verts
       |  UNION
       |  SELECT r.v, ed.d FROM reach r JOIN ed ON ed.s = r.x),
       |cl AS (SELECT v AS doc_id, CAST(min(x) AS BIGINT) AS cluster
       |  FROM reach GROUP BY v),
       |q AS (SELECT doc_id,
       |    CAST(round(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) * 1e6
       |      / len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS score_e6
       |  FROM documents),
       |j AS (SELECT cl.doc_id, cl.cluster, q.score_e6,
       |    row_number() OVER (PARTITION BY cl.cluster
       |      ORDER BY q.score_e6 DESC, cl.doc_id) AS rn
       |  FROM cl JOIN q USING (doc_id))
       |SELECT doc_id, cluster, score_e6,
       |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM j ORDER BY doc_id""".stripMargin

  /** A banded-LSH parameterization. */
  case class LshConfig(numHashes: Int, rowsPerBand: Int) {
    def bands: Int = numHashes / rowsPerBand
    /** P[some band collides] for a pair at Jaccard j: 1 − (1 − j^r)^b. */
    def recallAt(j: Double): Double =
      1.0 - math.pow(1.0 - math.pow(j, rowsPerBand), bands)
  }

  /** Auto-tune (numHashes, rowsPerBand) for a target Jaccard threshold.
    *
    * Two-stage: (1) the S-curve formula keeps only configs whose
    * THEORETICAL recall at the threshold clears `minRecall` — that part
    * is corpus-independent; (2) the surviving configs are probed on a
    * deterministic sample of the actual corpus and the one generating
    * the fewest candidate pairs wins (ties to fewer hashes). Stage 2 is
    * the candidate-rate feedback that fixed-formula tuning lacks: a
    * corpus with high background similarity (shared vocabulary) floods
    * loose bands with false candidates that exact verification then
    * pays for, so the cheapest config shifts with the data.
    *
    * Cost: |viable| probe runs over `sampleDocs` documents — O(sample)
    * each, independent of corpus size, so tuning at 100 TB costs the
    * same as tuning locally.
    */
  def tuneLsh(
      rows: DataFrame,
      idCol: String,
      threshNum: Int,
      threshDen: Int,
      minRecall: Double = 0.8,
      hashGrid: Seq[Int] = Seq(24, 36, 48),
      sampleDocs: Int = 500,
      maxBucketSize: Int = 100): LshConfig = {
    val j = threshNum.toDouble / threshDen
    val viable = for {
      h <- hashGrid
      r <- (2 to h).filter(h % _ == 0)
      cfg = LshConfig(h, r)
      if cfg.recallAt(j) >= minRecall
    } yield cfg
    require(viable.nonEmpty,
      s"no (hashes, rowsPerBand) config reaches recall $minRecall at j=$j")
    // deterministic pseudo-random doc sample: lowest salted hash of id
    val sampleIds = rows.select(col(idCol)).distinct()
      .orderBy(xxhash64(col(idCol), lit(7)), col(idCol))
      .limit(sampleDocs)
    val sample = rows.join(broadcast(sampleIds), Seq(idCol)).persist()
    try {
      sample.count()
      viable.minBy { cfg =>
        // probe UNCAPPED: the production bucket cap would silently drop
        // a flooding config's giant buckets, making it look cheap while
        // actually destroying its recall — the probe must see the true
        // candidate rate
        (lshCandidatesFromRows(sample, idCol, cfg.numHashes, cfg.rowsPerBand,
          maxBucketSize = Int.MaxValue).count(), cfg.numHashes.toLong)
      }
    } finally { sample.unpersist(false); () }
  }

  /** LSH near-dup end-to-end: banded candidates + exact Jaccard
    * verification (|∩|·den ≥ |∪|·num, integer-exact).
    *
    * Two single-purpose aggregations, NOT one combined pass: folding
    * collect_set into the signature groupBy forces the whole agg into
    * ObjectHashAggregate (collect_set has no codegen path), which
    * de-codegens the 36 minhash min-updates per element row — measured
    * ~2× slower end-to-end than paying a second, purely-object
    * collect_set pass while the minhash agg stays whole-stage-codegen.
    * The set agg's exchange is still reused across both verify-join
    * sides (AQE ReuseExchange). */
  def lshNearDupPairs(
      rows: DataFrame,
      idCol: String,
      numHashes: Int,
      rowsPerBand: Int,
      maxBucketSize: Int,
      threshNum: Int,
      threshDen: Int): DataFrame = {
    // Verify sets are built for CANDIDATE ids only (the DedupIndex.probe
    // narrowing applied in-query): jaccardJoin's pair joins are inner,
    // so sets for docs in no candidate pair never meet the join —
    // folding them was pure waste, and the waste grows with corpus
    // size while candidates stay duplication-bounded (at the 500k
    // headroom corpus the un-narrowed set build was 17.7 s for 500k
    // docs when ~4% appear in a pair; receipts in SCALING.md r16).
    // The semi-join runs map-side against the small distinct-id frame;
    // cand is checkpointed because the narrowing and the verify join
    // both read it.
    val cand = lshCandidatesFromRows(rows, idCol, numHashes, rowsPerBand,
      maxBucketSize).localCheckpoint(true)
    val candIds = cand.select(col("a_id").as(idCol))
      .union(cand.select(col("b_id").as(idCol))).distinct()
    val sets = rows.join(candIds, Seq(idCol), "left_semi")
      .groupBy(col(idCol)).agg(collect_set(col("_el")).as("_set"))
    jaccardJoin(cand, sets, idCol, "_set", threshNum, threshDen)
  }

  /** Bounded-round greedy SEQUENTIAL admission over a verified
    * near-dup pair graph — the id-ordered insert-then-probe semantics
    * an online dedup index gives: a doc is ADMITTED iff no ADMITTED
    * smaller-id doc matches it (the lexicographically-first maximal
    * independent set). This is the flavor dd10's CC keep-min is NOT:
    * in a chain A~B~C (A<B<C, A≁C), CC keeps only A, while the
    * sequential index admits A, rejects B (dup of A), then admits C —
    * B was never inserted, so C probes clean.
    *
    * Round r admits every undecided doc with NO undecided smaller
    * neighbor (its smaller neighbors are all rejected), then rejects
    * undecided docs gaining an admitted smaller neighbor (dup_of = min
    * such). Each round decides at least the smallest undecided doc, and
    * one round resolves two levels of an id-ordered chain, so `rounds`
    * = R decides alternating chains to depth 2R; real near-dup graphs
    * are pair/star-shaped and settle in 1-2 rounds. Docs still
    * undecided after R rounds fall back CONSERVATIVELY to rejection
    * (dup_of = min smaller neighbor) — bounded work, never a false
    * admit. The same unrolling is what makes the semantics exactly
    * DuckDB-expressible ([[sequentialAdmitOracleSql]]).
    *
    * `pairs`: verified (a_id < b_id) near-dup pairs. Output: one row
    * per doc IN THE PAIR GRAPH — (doc_id, admitted 1/0, dup_of null
    * when admitted). Docs with no near-dup pair are trivially admitted
    * and not listed (join-side table, not a corpus copy). */
  def sequentialAdmit(pairs0: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val pairs = pairs0.select(col("a_id"), col("b_id")).localCheckpoint(true)
    // the undecided count rides the checkpoint job as an observed
    // metric (the r17/r18 CC-loop move) — early exit when the set
    // drains, with no separate isEmpty job
    val obs0 = org.apache.spark.sql.Observation()
    var undecided = pairs.select(col("a_id").as("v"))
      .union(pairs.select(col("b_id").as("v"))).distinct()
      .observe(obs0, count(lit(1)).as("n"))
      .localCheckpoint(true)
    var nUnd = obs0.getAsJava.get("n").asInstanceOf[java.lang.Long].longValue()
    val decided = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    // Early-exit when the undecided set drains before the bound: the
    // remaining rounds operate on an empty frame and contribute nothing
    // (as does the fallback), so results are identical — this just
    // skips their checkpoint jobs. Real near-dup graphs (pairs/stars)
    // settle in 1-2 rounds, so dd18's bound of 4 and DocsStream's 8
    // usually cost 1-2 iterations.
    while (round < rounds && nUnd > 0) {
      round += 1
      // ONE materialized STATUS frame per round (r18): admit / rej /
      // next-undecided were three separate checkpoints plus an isEmpty
      // probe — 4 driver jobs of set algebra per round, pure per-job
      // latency on frames this small (and 4 block-manager copies per
      // round at scale). The same three sets fall out of one DAG over
      // the round's edge set, checkpointed once; the three frames
      // below are cheap filters of the checkpointed result, so the
      // round SEMANTICS (and the unrolled-round DuckDB oracle) are
      // untouched.
      // e = pairs with BOTH endpoints undecided (blocked tests the
      // smaller end undecided; rej additionally needs the larger end
      // undecided — the old shape enforced that with a semi join)
      val e = pairs
        .join(undecided.select(col("v").as("a_id")), "a_id")
        .join(undecided.select(col("v").as("b_id")), Seq("b_id"), "left_semi")
      // blocked = undecided docs with an UNDECIDED smaller neighbor
      val blocked = e.select(col("b_id").as("v")).distinct()
      val admitIds = undecided.join(blocked, Seq("v"), "left_anti")
      // rejected = undecided docs whose smaller neighbor just admitted
      // (disjoint from admit: an admit has no undecided smaller nbr,
      // so rejMin can only land on blocked rows)
      val rejMin = e
        .join(admitIds.select(col("v").as("a_id")), "a_id")
        .groupBy(col("b_id")).agg(min(col("a_id")).as("dup_of"))
        .select(col("b_id").as("v"), col("dup_of"))
      val obs = org.apache.spark.sql.Observation()
      val st = undecided
        .join(blocked.withColumn("_blk", lit(1)), Seq("v"), "left")
        .join(rejMin, Seq("v"), "left")
        .select(col("v"),
          when(col("_blk").isNull, lit(1L)) // admitted
            .when(col("dup_of").isNotNull, lit(0L)) // rejected
            .otherwise(lit(-1L)).as("_st"), // still undecided
          col("dup_of"))
        .observe(obs, sum(when(col("_st") === -1L, 1L).otherwise(0L)).as("n"))
        .localCheckpoint(true)
      decided += st.filter(col("_st") === 1L)
        .select(col("v"), lit(1L).as("admitted"),
          lit(null).cast("long").as("dup_of"))
      decided += st.filter(col("_st") === 0L)
        .select(col("v"), lit(0L).as("admitted"), col("dup_of").cast("long"))
      undecided = st.filter(col("_st") === -1L).select(col("v"))
      nUnd = obs.getAsJava.get("n") match {
        case null => 0L // empty relation: nothing left undecided
        case n: java.lang.Long => n.longValue()
      }
    }
    // conservative fallback for anything beyond the round bound
    val fallback = pairs
      .join(undecided.select(col("v").as("b_id")), "b_id")
      .groupBy(col("b_id").as("v")).agg(min(col("a_id")).as("dup_of"))
      .select(col("v"), lit(0L).as("admitted"), col("dup_of").cast("long"))
    // fold fallback into the reduce: with an empty pair graph the loop
    // never runs and `decided` is empty, but fallback (also empty) still
    // carries the schema
    (decided :+ fallback).reduce(_ unionByName _)
      .select(col("v").as("doc_id"), col("admitted"), col("dup_of"))
  }

  /** DuckDB value oracle for a [[sequentialAdmit]]-over-LSH catalog
    * entry (dd18): the same engine-portable pair chain as dd10's
    * oracle, then the R rounds UNROLLED as plain CTEs — exactly the
    * bounded-round semantics the Spark loop runs, including the
    * conservative fallback. */
  def sequentialAdmitOracleSql(shingleSql: String, numHashes: Int,
      rowsPerBand: Int, maxBucketSize: Int, threshNum: Int,
      threshDen: Int, rounds: Int): String = {
    require(rounds >= 1)
    // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs at every
    // reference, and each round references the previous round's frame
    // three times — unmaterialized, round R would inline the whole
    // minhash chain O(3^R) times (observed as a too-many-open-files
    // parquet-scan explosion at R=4). Materializing p2/u/a bounds the
    // chain to one evaluation.
    val roundCtes = (1 to rounds).map { r =>
      s"""a$r AS MATERIALIZED (SELECT v FROM u${r - 1} u WHERE NOT EXISTS (
         |  SELECT 1 FROM p2 p
         |  JOIN u${r - 1} s ON s.v = p.a_id WHERE p.b_id = u.v)),
         |rj$r AS MATERIALIZED (SELECT u.v, min(p.a_id) AS dup_of
         |  FROM u${r - 1} u
         |  JOIN p2 p ON p.b_id = u.v
         |  JOIN a$r a ON a.v = p.a_id
         |  GROUP BY u.v),
         |u$r AS MATERIALIZED (SELECT v FROM u${r - 1}
         |  WHERE v NOT IN (SELECT v FROM a$r)
         |    AND v NOT IN (SELECT v FROM rj$r))""".stripMargin
    }.mkString(",\n")
    val admits = (1 to rounds)
      .map(r => s"SELECT v, 1 AS admitted, NULL AS dup_of FROM a$r")
      .mkString(" UNION ALL ")
    val rejects = (1 to rounds)
      .map(r => s"SELECT v, 0 AS admitted, dup_of FROM rj$r")
      .mkString(" UNION ALL ")
    s"""WITH ${lshCtes(shingleSql, numHashes, rowsPerBand, maxBucketSize, threshNum, threshDen)},
       |p2 AS MATERIALIZED (SELECT a_id, b_id FROM pairs),
       |u0 AS MATERIALIZED (SELECT DISTINCT v FROM (
       |  SELECT a_id AS v FROM p2 UNION ALL SELECT b_id FROM p2)),
       |$roundCtes,
       |fb AS (SELECT u.v, min(p.a_id) AS dup_of
       |  FROM u$rounds u JOIN p2 p ON p.b_id = u.v GROUP BY u.v),
       |res AS ($admits UNION ALL $rejects
       |  UNION ALL SELECT v, 0 AS admitted, dup_of FROM fb)
       |SELECT CAST(v AS BIGINT) AS doc_id,
       |  CAST(admitted AS BIGINT) AS admitted,
       |  CAST(dup_of AS BIGINT) AS dup_of
       |FROM res ORDER BY doc_id""".stripMargin
  }

  /** Per-bucket PSI (population stability index) contributions between
    * two cohorts: for each bucket, (pA − pB)·ln(pA/pB) with Laplace
    * smoothing p = (count+1)/(N+nBuckets), so empty-on-one-side
    * buckets never divide by zero and the arithmetic is a pure
    * deterministic function of the counts (identical IEEE ops in
    * DuckDB). Σ contributions is the headline PSI; the < 0.1 / 0.1–0.25
    * / > 0.25 stable/drifting/shifted reading is the standard one.
    *
    * `rows`: (cohort, bucket) one row per observation. Scale shape:
    * one map-side-combined (bucket × 2-cohort) count aggregate plus a
    * broadcast 1-row totals cross-join — flat in corpus size.
    * Output: (bucket, n_a, n_b, psi_contrib rounded 6dp). */
  def psiContributions(rows: DataFrame, cohortCol: String,
      bucketCol: String, cohortA: String, cohortB: String): DataFrame = {
    val c = rows
      .filter(col(cohortCol).isin(cohortA, cohortB))
      .groupBy(col(bucketCol).cast("long").as("bucket"))
      .agg(sum(when(col(cohortCol) === cohortA, 1L).otherwise(0L)).as("n_a"),
        sum(when(col(cohortCol) === cohortB, 1L).otherwise(0L)).as("n_b"))
    val tot = c.agg(sum(col("n_a")).as("_ta"), sum(col("n_b")).as("_tb"),
      count(lit(1)).as("_nb"))
    c.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_a"), col("n_b"),
        psiCellExpr(col("n_a"), col("_ta"), col("n_b"), col("_tb"),
          col("_nb")).as("psi_contrib"))
  }

  /** One Laplace-smoothed PSI cell — THE one copy of the drift
    * arithmetic. tx24 (psiContributions), e09's batch twin, and the
    * streaming monitor (EventsStream.driftContributions) are required
    * to stay BIT-identical (StreamingSpec pins streaming == batch), so
    * they all build the expression here: pa = (nA+1)/(totA+k),
    * pb = (nB+1)/(totB+k), round((pa-pb)*ln(pa/pb), 6). `k` is the
    * smoothing cell count (buckets / reference types). */
  def psiCellExpr(nA: Column, totA: Column, nB: Column, totB: Column,
      k: Column): Column = {
    val pa = (nA + 1).cast("double") / (totA + k)
    val pb = (nB + 1).cast("double") / (totB + k)
    round((pa - pb) * log(pa / pb), 6)
  }

  /** Fixed BPE merge table for [[bpeEncode]] (tx25): (left, right)
    * pairs in PRIORITY ORDER — earlier merges run first and their
    * outputs feed later rules, so ("a","n") must precede ("an","d").
    * tx11 is the training pass that would PRODUCE a table like this
    * (each training round ranks pair counts and appends the winner);
    * this one is fixed at common English bigrams so the fixture
    * corpus exercises every rule, including a same-symbol rule
    * ("e","e") whose matches self-overlap in runs. */
  val BpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("o", "r"), ("e", "e"))

  /** Merge rounds for [[bpeEncode]]. One round applies the whole
    * table in order; a single exact-substring pass over a run of
    * identical symbols merges alternate pairs (the consumed trailing
    * delimiter hides the next match), so runs up to ~2^rounds resolve
    * fully and anything longer is conservatively left partially
    * unmerged — dd18's bounded-round convention. */
  val BpeRounds = 3

  /** Normalized merge body: lowercase, strip everything outside
    * [a-z0-9] and whitespace, trim, collapse whitespace runs to one
    * `#` word marker. The alphabet guarantee ([a-z0-9#] only) is what
    * makes `|` a safe symbol delimiter in [[bpeEncode]]. Implemented
    * as the one-pass codegen expression
    * [[graft.functions.BpeNormalize]] (callers must
    * `TextNorm.register` the session): the equivalent strip regex
    * fails at every position of clean text and cost 24x more at the
    * 500k headroom corpus (SCALING.md round 14). [[bpeBodyRegex]]
    * keeps the regex spelling for the cross-implementation parity
    * spec; [[bpeBodySql]] mirrors it for DuckDB. */
  def bpeBody(text: Column): Column =
    graft.functions.TextNorm.bpeNormalize(text)

  /** The regex spelling of [[bpeBody]] — the executable specification
    * [[graft.functions.BpeNormalize]] is parity-tested against, and
    * the form [[bpeBodySql]] mirrors. Collapse-then-trim('#') rather
    * than trim-then-collapse: plain trim strips only SPACES, so a
    * trailing tab/newline would survive it and leave a trailing
    * marker; trimming the collapsed markers drops every boundary
    * whitespace run whatever its characters. Not on any hot path. */
  def bpeBodyRegex(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]+", ""), "\\s+", "#"), "#")

  /** BPE merge application, tokenizer training's step 2 (tx11 counts
    * the candidates; this applies the learned table). The symbol
    * sequence is encoded `|s1|s2|...|` (the `#` markers are their own
    * symbols, absent from every rule, so merges cannot cross word
    * boundaries) and one merge pass of rule (a,b) is ONE exact
    * substring replace `|a|b|` -> `|ab|`. Left-to-right
    * non-overlapping replacement is specified identically by Spark's
    * StringReplace and DuckDB's replace(), so the oracle reproduces
    * the merge chain byte-for-byte — no UDF, pure codegen'd string
    * expressions, a per-row map at any corpus size. [[BpeRounds]]
    * rounds of the full [[BpeMerges]] table in priority order. */
  def bpeEncode(body: Column): Column =
    bpeEncodeWith(body, BpeMerges, BpeRounds)

  /** [[bpeEncode]] with an arbitrary merge table — the train→apply
    * workflow: feed [[bpeTrain]]'s learned (left, right) list here.
    * Same encoding and pass semantics as the fixed-table form. */
  def bpeEncodeWith(body: Column, merges: Seq[(String, String)],
      rounds: Int): Column = {
    val enc0 = concat(lit("|"), regexp_replace(body, "(.)", "$1|"))
    (1 to rounds).foldLeft(enc0)((c, _) =>
      merges.foldLeft(c) { case (cc, (a, b)) =>
        org.apache.spark.sql.functions.replace(
          cc, lit(s"|$a|$b|"), lit(s"|$a$b|"))
      })
  }

  /** DuckDB twin of [[bpeBody]] — same chain as [[bpeBodyRegex]]
    * (RE2 'g' flag for Spark's global-by-default). The whitespace
    * class is spelled out as `[ \t\n\x0b\f\r]` rather than `\s`
    * because RE2's `\s` EXCLUDES vertical tab while Java's includes
    * it — with bare `\s` a document containing \v would normalize to
    * "foo#bar" in Spark but "foobar" in the oracle (review finding,
    * round 14; the explicit class is exactly Java's \s set). */
  def bpeBodySql: String =
    "trim(regexp_replace(regexp_replace(lower(text), " +
      "'[^a-z0-9 \\t\\n\\x0b\\f\\r]+', '', 'g'), " +
      "'[ \\t\\n\\x0b\\f\\r]+', '#', 'g'), '#')"

  /** DuckDB twin of [[bpeEncode]]: the identical replace chain,
    * GENERATED from [[BpeMerges]]/[[BpeRounds]] so table and oracle
    * cannot drift (the mm06 MaxSegSpread lesson). */
  def bpeEncodeSql(bodyExpr: String): String = {
    val enc0 = s"'|' || regexp_replace($bodyExpr, '(.)', '\\1|', 'g')"
    (1 to BpeRounds).foldLeft(enc0)((c, _) =>
      BpeMerges.foldLeft(c) { case (cc, (a, b)) =>
        s"replace($cc, '|$a|$b|', '|$a$b|')"
      })
  }

  /** Bounded-round BPE TRAINING (tx26) over the aggregated
    * word-frequency table — the production trainer's shape: the corpus
    * is scanned ONCE (tokenize + map-combined groupBy into `wordFreq`:
    * (tok, freq), bounded by |vocab| not |corpus|), and every training
    * round runs on that small table only. Per round: encode each word
    * with the merges learned so far (one [[bpeEncode]]-style replace
    * pass per merge, in learned order), count adjacent symbol pairs
    * weighted by word frequency (overlapping occurrences count, the
    * standard BPE convention), and take the argmax with a
    * deterministic (count DESC, pair ASC) tiebreak — a bounded 1-row
    * job per round. Stops early when no pair remains. Returns
    * (round, left, right, weighted_count) in learned order; feed the
    * (left, right) list to [[bpeEncode]]'s table shape to APPLY it
    * (tx25). tx11 is exactly one round of this, unweighted. */
  def bpeTrain(wordFreq: DataFrame, rounds: Int): Seq[(Int, String, String, Long)] = {
    // The "every round is bounded" claim rests on the word table being
    // vocab-sized — true of natural language (Heaps' law) but not of an
    // adversarial corpus (random strings: |words| ≈ |corpus tokens|).
    // Make the bound explicit with the wordShingleRows loud-refusal
    // pattern, and make its count PAY FOR ITSELF: the table is
    // persisted here, so the guard count is also the materialization
    // action, and every training round re-reads the cached vocab rows
    // instead of re-running the caller's upstream pipeline (rounds
    // scan wordFreq once per round — uncached, an un-checkpointed
    // caller would re-tokenize the corpus `rounds` times; r15 ADVICE).
    // Cache-on-checkpointed (tx26's caller) is a cheap no-op layer.
    val cap = wordFreq.sparkSession.conf
      .getOption("graft.ext.bpeMaxWords").map(_.toLong).getOrElse(1048576L)
    val wf = wordFreq.persist()
    try bpeTrainRounds(wf, rounds, cap)
    finally wf.unpersist()
  }

  private def bpeTrainRounds(wordFreq: DataFrame, rounds: Int,
      cap: Long): Seq[(Int, String, String, Long)] = {
    val nWords = wordFreq.count()
    require(nWords <= cap,
      s"bpeTrain: the word-frequency table has $nWords distinct words > " +
        s"graft.ext.bpeMaxWords=$cap — this corpus does not look like " +
        "natural language and every training round would scan an " +
        "unbounded table. Pre-cut the word table (min-frequency or " +
        "top-V) or raise spark.conf graft.ext.bpeMaxWords.")
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      val enc = learned.foldLeft(
        concat(lit("|"), regexp_replace(col("tok"), "(.)", "$1|"))) {
        case (c, (_, a, b, _)) =>
          org.apache.spark.sql.functions.replace(
            c, lit(s"|$a|$b|"), lit(s"|$a$b|"))
      }
      val top = wordFreq.select(enc.as("_e"), col("freq"))
        .select(expr("filter(split(_e, '\\\\|'), x -> x != '')").as("_syms"),
          col("freq"))
        .filter(size(col("_syms")) >= 2)
        .select(explode(expr("transform(sequence(0, size(_syms) - 2)," +
          " i -> concat(_syms[i], '|', _syms[i+1]))")).as("pair"), col("freq"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val Array(a, b) = top(0).getString(0).split("\\|", 2)
        learned += ((r, a, b, top(0).getLong(1)))
      }
    }
    learned.toList
  }

  /** DuckDB twin of [[bpeTrain]]: rounds unrolled as CTEs (the
    * dd18/dp12 convention); each round's argmax is a LIMIT-1 CTE whose
    * pair feeds the next round's replace via scalar subqueries.
    * Assumes the corpus sustains all `rounds` rounds (true of the
    * fixtures; the Spark side's early exit is spec-covered on a
    * planted exhausted vocab). `wfSql` must yield (tok, freq). */
  def bpeTrainOracleSql(wfSql: String, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"e${r - 1}"
      s"""p$r AS (SELECT pair, sum(freq) AS n FROM (
         |    SELECT unnest(list_transform(
         |        range(2, len(str_split(enc, '|')) - 1),
         |        i -> str_split(enc, '|')[i] || '|' || str_split(enc, '|')[i+1]))
         |      AS pair, freq
         |    FROM $prev WHERE len(str_split(enc, '|')) >= 4) GROUP BY pair),
         |m$r AS (SELECT pair, n FROM p$r ORDER BY n DESC, pair LIMIT 1),
         |e$r AS (SELECT replace(enc,
         |    '|' || (SELECT pair FROM m$r) || '|',
         |    '|' || replace((SELECT pair FROM m$r), '|', '') || '|') AS enc,
         |    freq
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    val out = (1 to rounds)
      .map(r => s"SELECT $r AS round, pair, n FROM m$r")
      .mkString(" UNION ALL ")
    s"""WITH wf AS ($wfSql),
       |e0 AS (SELECT '|' || regexp_replace(tok, '(.)', '\\1|', 'g') AS enc,
       |    freq FROM wf),
       |$roundCtes
       |SELECT CAST(round AS BIGINT) AS round,
       |  split_part(pair, '|', 1) AS left_sym,
       |  split_part(pair, '|', 2) AS right_sym,
       |  CAST(n AS BIGINT) AS n
       |FROM ($out) ORDER BY round""".stripMargin
  }

  /** Attribute verified near-dup pairs to source pairs: two hashed
    * joins on doc_id, then a count per (least, greatest) source cell —
    * off-diagonal cells are cross-source leakage, the diagonal is
    * intra-source duplication. Output ≤ |sources|² rows regardless of
    * corpus size; the pair relation is whatever bounded chain produced
    * it (tx23 feeds dd03's). `docSources`: (doc_id, source). */
  def nearDupSourceMatrix(pairs: DataFrame, docSources: DataFrame): DataFrame =
    pairs
      .join(docSources.select(col("doc_id").as("a_id"), col("source").as("sa")), "a_id")
      .join(docSources.select(col("doc_id").as("b_id"), col("source").as("sb")), "b_id")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))

  /** DuckDB value oracle for [[nearDupSourceMatrix]] over
    * [[lshNearDupPairs]] (tx23): the same engine-portable pair chain
    * as dd03's oracle, attributed to sources. */
  def lshSourceMatrixOracleSql(shingleSql: String, numHashes: Int,
      rowsPerBand: Int, maxBucketSize: Int, threshNum: Int,
      threshDen: Int): String =
    s"""WITH ${lshCtes(shingleSql, numHashes, rowsPerBand, maxBucketSize, threshNum, threshDen)},
       |m AS (SELECT least(da.source, db.source) AS source_a,
       |             greatest(da.source, db.source) AS source_b
       |  FROM pairs p
       |  JOIN documents da ON da.doc_id = p.a_id
       |  JOIN documents db ON db.doc_id = p.b_id)
       |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM m GROUP BY 1, 2
       |ORDER BY source_a, source_b""".stripMargin

  /** Incremental LSH probe: near-dup candidates of a NEW batch against
    * a STANDING corpus, without re-pairing the corpus with itself.
    *
    * The incremental sibling of [[lshCandidatesFromRows]] (dd17): the
    * history side folds once into a banded (band, bucket) index — at
    * 100 TB that index is a persisted bucketed table the daily batch
    * joins into, maintained by appending each accepted batch's buckets;
    * here it is derived in-query from the history rows. The batch signs
    * ONLY itself (signature cost ∝ batch, not corpus), the probe join
    * co-partitions both sides on (band, bucket), and history-history
    * pairs are never generated.
    *
    * Flooded history buckets (> maxBucketSize members) keep only their
    * REPRESENTATIVE (min id): a batch doc landing in one still gets a
    * bounded comparison against the rep instead of n_bucket joins —
    * same bounded-work/degraded-recall trade as the batch path's
    * star-chaining, adapted to the asymmetric probe (there is no
    * batch-to-batch chain to ride here).
    *
    * Output: (batch_id, hist_id) DISTINCT candidate pairs. */
  def lshProbeCandidates(
      histRows: DataFrame,
      batchRows: DataFrame,
      idCol: String,
      numHashes: Int,
      rowsPerBand: Int,
      maxBucketSize: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0)
    val hb = bandBuckets(signatures(histRows, idCol, numHashes),
      idCol, numHashes, rowsPerBand)
    val kept = capFloodedBuckets(hb, idCol, maxBucketSize)
      .select(col("band"), col("bucket"), col(idCol).as("hist_id"))
    val bb = bandBuckets(signatures(batchRows, idCol, numHashes),
      idCol, numHashes, rowsPerBand)
      .select(col("band"), col("bucket"), col(idCol).as("batch_id"))
    bb.join(kept, Seq("band", "bucket"))
      .select(col("batch_id"), col("hist_id")).distinct()
  }

  /** The probe side's flooded-bucket rule, in ONE place so the in-query
    * path and the persisted-index path ([[DedupIndex.probe]]) can never
    * diverge: buckets with > maxBucketSize members keep only their
    * min-id REPRESENTATIVE — bounded comparisons per probing doc,
    * degraded recall on the flooded bucket. Input/output: (idCol, band,
    * bucket) rows. */
  private[ext] def capFloodedBuckets(buckets: DataFrame, idCol: String,
      maxBucketSize: Int): DataFrame = {
    val stats = buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("_n"), min(col(idCol)).as("_rep"))
    buckets.join(stats, Seq("band", "bucket"))
      .filter(col("_n") <= maxBucketSize || col(idCol) === col("_rep"))
      .select(col("band"), col("bucket"), col(idCol))
  }

  /** End-to-end incremental near-dup probe: [[lshProbeCandidates]] +
    * exact-Jaccard verification of each (batch, history) candidate.
    * Verify sets aggregate PER SIDE, so a doc_id appearing on both
    * sides is legal and compares batch-content vs history-content.
    * Output: batch_id, hist_id, inter, uni. */
  def lshProbePairs(
      histRows: DataFrame,
      batchRows: DataFrame,
      idCol: String,
      numHashes: Int,
      rowsPerBand: Int,
      maxBucketSize: Int,
      threshNum: Int,
      threshDen: Int): DataFrame = {
    val cand = lshProbeCandidates(histRows, batchRows, idCol,
      numHashes, rowsPerBand, maxBucketSize).localCheckpoint(true)
    // each side's verify sets aggregate SEPARATELY: a doc_id present on
    // BOTH sides (a re-submission, a batch that overlaps history) keeps
    // two distinct sets and verifies batch-content against
    // history-content — a single union+groupBy would merge the two
    // sets into one and corrupt that id's Jaccard (inter == uni == 1.0
    // always). And each side folds sets for its CANDIDATE ids only
    // (the lshNearDupPairs narrowing): the pair joins are inner, so a
    // history doc no batch doc buckets with never meets the join —
    // at any real batch:history ratio that is nearly the whole history
    // side skipped. cand is checkpointed (read by both narrowings and
    // the verify join).
    val batchSets = batchRows
      .join(cand.select(col("batch_id").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .groupBy(col(idCol))
      .agg(collect_set(col("_el")).as("_sa"))
      .select(col(idCol).as("batch_id"), col("_sa"))
    val histSets = histRows
      .join(cand.select(col("hist_id").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .groupBy(col(idCol))
      .agg(collect_set(col("_el")).as("_sb"))
      .select(col(idCol).as("hist_id"), col("_sb"))
    cand.join(batchSets, "batch_id").join(histSets, "hist_id")
      .withColumn("inter",
        size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .withColumn("uni",
        size(array_union(col("_sa"), col("_sb"))).cast("long"))
      .filter(col("inter") * threshDen >= col("uni") * threshNum)
      .select(col("batch_id"), col("hist_id"), col("inter"), col("uni"))
  }

  /** DuckDB value oracle for an incremental-probe catalog entry
    * (dd17): same CTE chain constants as [[lshPairsOracleSql]], with
    * the band join restricted to batch → capped-history and a per-batch
    * -doc status rollup. `batchPred` / `histPred` are SQL predicates
    * over `doc_id` selecting each side. */
  def lshProbeOracleSql(shingleSql: String, batchPred: String,
      histPred: String, numHashes: Int, rowsPerBand: Int,
      maxBucketSize: Int, threshNum: Int, threshDen: Int): String = {
    require(numHashes % rowsPerBand == 0)
    val nBands = numHashes / rowsPerBand
    val mhs = (0 until numHashes).map(i =>
      s"min((h * ${uhA(i)} + ${uhB(i)}) % $MersenneP) AS _mh$i").mkString(", ")
    val bands = (0 until nBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => s"_mh$i").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws(',', $cols) AS bucket FROM mh"
    }.mkString(" UNION ALL ")
    s"""WITH sh AS ($shingleSql),
       |h AS (SELECT doc_id,
       |  ('0x' || substr(md5(el), 1, 8))::BIGINT & 2147483647 AS h FROM sh),
       |mh AS (SELECT doc_id, $mhs FROM h GROUP BY doc_id),
       |bk AS ($bands),
       |hb AS (SELECT * FROM bk WHERE $histPred),
       |bb AS (SELECT * FROM bk WHERE $batchPred),
       |ct AS (SELECT band, bucket, count(*) AS n, min(doc_id) AS rep
       |       FROM hb GROUP BY band, bucket),
       |keep AS (SELECT hb.doc_id, hb.band, hb.bucket
       |         FROM hb JOIN ct USING (band, bucket)
       |         WHERE ct.n <= $maxBucketSize OR hb.doc_id = ct.rep),
       |cand AS (SELECT DISTINCT b.doc_id AS batch_id, k.doc_id AS hist_id
       |         FROM bb b JOIN keep k USING (band, bucket)),
       |dsh AS (SELECT DISTINCT doc_id, el FROM sh),
       |sz AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
       |iv AS (SELECT c.batch_id, c.hist_id, count(*) AS inter
       |       FROM cand c
       |       JOIN dsh x ON x.doc_id = c.batch_id
       |       JOIN dsh y ON y.doc_id = c.hist_id AND y.el = x.el
       |       GROUP BY c.batch_id, c.hist_id),
       |ver AS (SELECT iv.batch_id, iv.hist_id
       |  FROM iv
       |  JOIN sz sa ON sa.doc_id = iv.batch_id
       |  JOIN sz sb ON sb.doc_id = iv.hist_id
       |  WHERE inter * $threshDen >= (sa.n + sb.n - inter) * $threshNum),
       |roll AS (SELECT batch_id, CAST(min(hist_id) AS BIGINT) AS dup_of,
       |         CAST(count(*) AS BIGINT) AS n_matches
       |         FROM ver GROUP BY batch_id)
       |SELECT d.doc_id,
       |  CASE WHEN roll.dup_of IS NOT NULL THEN 'near_dup_history'
       |       ELSE 'new' END AS status,
       |  roll.dup_of,
       |  CAST(COALESCE(roll.n_matches, 0) AS BIGINT) AS n_matches
       |FROM (SELECT doc_id FROM documents WHERE $batchPred) d
       |LEFT JOIN roll ON roll.batch_id = d.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** Attach both sides' sets to candidate pairs and keep pairs with
    * Jaccard ≥ threshNum/threshDen — the comparison is pure integer
    * arithmetic (|∩|·den ≥ |∪|·num), no float boundary issues.
    * Output: a_id, b_id, inter, uni. */
  def jaccardJoin(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      setCol: String,
      threshNum: Int,
      threshDen: Int): DataFrame = {
    val a = docs.select(col(idCol).as("a_id"), col(setCol).as("_sa"))
    val b = docs.select(col(idCol).as("b_id"), col(setCol).as("_sb"))
    pairs.join(a, "a_id").join(b, "b_id")
      .withColumn("inter", size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .withColumn("uni", size(array_union(col("_sa"), col("_sb"))).cast("long"))
      .filter(col("inter") * threshDen >= col("uni") * threshNum)
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"))
  }

}
