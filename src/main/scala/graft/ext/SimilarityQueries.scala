package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CatalogQuery
import graft.functions.Aggregators.TopKByScore
import graft.functions.VectorOps.normalizedSqlCtes
import graft.sources.Tables

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * ss01 is the exact brute-force baseline: broadcast the (small) query
  * set against the corpus — O(|Q|·n) with no shuffle of the corpus,
  * the right plan when |Q| ≪ n even at 100 TB.
  *
  * ss02 is the scale path: random-hyperplane LSH. Signatures are a
  * deterministic function of the vector (hyperplanes derived from a
  * hash-mixed constant, not an RNG), so results are reproducible across
  * runs and cluster layouts. Probing widens to Hamming-≤1 signature
  * neighbors to recover recall lost to bucket boundaries.
  *
  * All three variants finish with a bounded per-query top-k AGGREGATION
  * (`TopKByScore`, map-side partials, ≤ k rows per group per map task)
  * — never a `row_number().over(Window.partitionBy(q))` global sort,
  * which would funnel the whole scored pair stream onto |queries|
  * reducers.
  */
object SimilarityQueries {

  private[ext] val Dim = 64
  private[ext] val K = 5
  // ss02 multi-table LSH: L independent tables of b hyperplane bits.
  // For a pair at angle θ, P[bits agree] = 1 − θ/π per plane; recall
  // for top neighbors ≈ 1 − (1 − p^b)^L, while random-pair candidate
  // rate ≈ L·2^-b. b=6, L=8 ⇒ ~12% of the corpus scored per query for
  // ~0.65+ recall at cos ≈ 0.4 — the classic index-size-for-recall
  // trade (the index is L× the corpus, built in one narrow pass).
  private[ext] val TableBits = 6
  private[ext] val NTables = 8

  /** 16-bit integer numerator of hyperplane component (j, i): the
    * component is `bits/65536 − 1/2`, a dyadic rational that both a
    * Scala double literal and a DuckDB SQL expression reproduce
    * EXACTLY — which is what lets the ss02 oracle re-derive the same
    * sign bits (`ss02OracleSql`). */
  private[ext] def planeBits(j: Int, i: Int): Int = {
    var h = (j.toLong * 1315423911L) ^ (i.toLong * 2654435761L)
    h ^= (h >>> 13); h *= 0x5bd1e9955bd1e995L; h ^= (h >>> 31)
    (h & 0xffffL).toInt
  }

  /** Deterministic pseudo-random hyperplane component in [-0.5, 0.5). */
  private[ext] def planeVal(j: Int, i: Int): Double =
    planeBits(j, i).toDouble / 65536.0 - 0.5

  /** One array LITERAL per plane (typedLit), not array(64 × lit): the
    * single-Literal form keeps the expression tree 64× smaller, and at
    * fixture scale the analyzer/optimizer/codegen pass over these trees
    * — not execution — dominates wall time (measured: dd12's 64 planes
    * as CreateArray trees cost ~3.5 s of pure planning on 500 rows). */
  private[ext] def planeCol(j: Int): Column =
    typedLit((0 until Dim).map(i => planeVal(j, i)).toArray)

  /** Table-t LSH signature: bit j = sign(v · plane_{t·b+j}). */
  private[ext] def tableSig(v: Column, t: Int): Column =
    (0 until TableBits).map { j =>
      val dot = graft.functions.VectorOps.dot(v, planeCol(t * TableBits + j))
      when(dot >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** (table, sig) index rows.
    *
    * Deliberately a union of NTables flat projections, NOT
    * `explode(array(struct(...)))`: Generate re-evaluates its input
    * array expression per OUTPUT row, so the 48 plane dots ran 8×+ per
    * vector — measured 77 s for one 500k-vector pass vs 3.8 s stacked
    * (cheap generator inputs hide the blowup; 48 codegen'd dots do
    * not). Each union branch column-prunes to its own table's 6 dots,
    * so total signature work is unchanged and every branch is one flat
    * whole-stage-codegen span. The branches re-scan the narrow
    * (vec_id, embedding) columns; a standing index amortizes even that
    * via the persistent AnnIndex build. */
  private[ext] def sigRows(df: DataFrame): DataFrame = {
    val flat = df.select(col("vec_id") +: col("v") +:
      (0 until NTables).map(t => tableSig(col("v"), t).as(s"_s$t")): _*)
    (0 until NTables).map(t => flat.select(col("vec_id"), col("v"),
        lit(t).as("t"), col(s"_s$t").as("sig")))
      .reduce(_ union _)
  }

  /** DuckDB value oracle for ss02, generated from the same plane
    * constants, table geometry and top-k tiebreak as the Spark plan.
    * Each plane component is emitted as `bits/65536 − 0.5` (exact in
    * both engines); the per-table signature is the same
    * sum-of-sign-bits; candidates join on (t, sig); dedup + rank
    * mirror `distinct()` + `TopKByScore`'s (cos DESC, id ASC). */
  private[ext] def ss02OracleSql: String = {
    def planeLit(j: Int): String =
      (0 until Dim).map(i => s"${planeBits(j, i)}.0/65536.0 - 0.5")
        .mkString("[", ", ", "]")
    def sigSql(t: Int): String =
      (0 until TableBits).map { j =>
        s"CASE WHEN list_dot_product(nv, ${planeLit(t * TableBits + j)}) >= 0 " +
          s"THEN ${1L << j} ELSE 0 END"
      }.mkString("(", " + ", ")")
    val sigUnion = (0 until NTables).map(t =>
      s"SELECT vec_id, nv, $t AS t, ${sigSql(t)} AS sig FROM n")
      .mkString(" UNION ALL ")
    s"""WITH ${normalizedSqlCtes()},
       |sigs AS ($sigUnion),
       |q AS (SELECT vec_id AS q_id, nv AS qv, t, sig FROM sigs WHERE vec_id < 10),
       |scored AS (
       |  SELECT DISTINCT q.q_id, s.vec_id AS neighbor_id,
       |    list_dot_product(q.qv, s.nv) AS cos
       |  FROM q JOIN sigs s ON s.t = q.t AND s.sig = q.sig AND s.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT q_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rk
       |  FROM scored)
       |SELECT q_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
       |  CAST(round(cos * 1e6) AS BIGINT) AS cos_e6
       |FROM ranked WHERE rk <= $K
       |ORDER BY q_id, rank""".stripMargin
  }

  // ss03b fixed-centroid IVF: same plan shape as ss03 but the coarse
  // quantizer is a DETERMINISTIC function of (bucket, dim) — dyadic-
  // rational centroids derived from a hash mix, not a KMeans fit — so
  // the whole query is value-oracle-able in DuckDB (ss02's precedent).
  // Assignment uses the Euclidean-nearest form for unit vectors,
  // argmax(v·c − ‖c‖²/2), with ‖c‖² computed IN-ENGINE from the same
  // exact literals on both sides (identical left-to-right IEEE dots).
  private[ext] val IvfCentroids = 16
  private[ext] val IvfProbes = 4

  /** 16-bit numerator of centroid component (c, i); the component is
    * `bits/65536 − 1/2` — exact in both engines. Distinct mix constants
    * from `planeBits` so IVF buckets don't correlate with ss02 tables. */
  private[ext] def centroidBits(c: Int, i: Int): Int = {
    var h = (c.toLong * 2246822519L) ^ (i.toLong * 3266489917L)
    h ^= (h >>> 15); h *= 0x2545f4914f6cdd1dL; h ^= (h >>> 29)
    (h & 0xffffL).toInt
  }

  private[ext] def centroidVal(c: Int, i: Int): Double =
    centroidBits(c, i).toDouble / 65536.0 - 0.5

  private[ext] def centroidCol(c: Int): Column =
    typedLit((0 until Dim).map(i => centroidVal(c, i)).toArray)

  /** Per-vector array of all `IvfCentroids` assignment scores
    * v·c − ‖c‖²/2, materialized as one projected column so downstream
    * explodes read it as a bound reference (no Generate re-evaluation
    * of the 16×64 dot products — the ss02 lesson). */
  private[ext] def ivfScoreCol: Column = {
    import graft.functions.VectorOps
    array((0 until IvfCentroids).map { c =>
      VectorOps.dot(col("v"), centroidCol(c)) -
        VectorOps.dot(centroidCol(c), centroidCol(c)) / 2.0
    }: _*)
  }

  /** Corpus-side bucket assignment as the codegen'd `IvfAssign`
    * expression over `col("v")` — the same argmax and per-centroid
    * IEEE arithmetic as `array_position(ivfScoreCol, array_max(…))-1`,
    * but the centroid matrix rides as ONE reference object instead of
    * 16 inline 64-double literals. The literal spelling inflated every
    * operator that re-derives the bucket (the join-key IsNotNull
    * filter pushes below the projection) into generated methods too
    * large to JIT: measured ~2 ms/row interpreted — 98 s/50k-vector
    * pass for ss03b, 678 s at 500k for ss08 — vs microseconds here.
    * The probe side (10 query rows) keeps the literal `ivfScoreCol`,
    * whose per-bucket scores the probe ranking genuinely needs. */
  private[ext] def ivfAssignCol(s: SparkSession): Column = {
    val planes = Array.tabulate(IvfCentroids, Dim)((c, i) => centroidVal(c, i))
    val halfNorms = planes.map { p =>
      // same left-to-right dot the oracle's constant-folded literal uses
      var acc = 0.0; var i = 0
      while (i < p.length) { acc += p(i) * p(i); i += 1 }
      acc / 2.0
    }
    s.sessionState.functionRegistry.createOrReplaceTempFunction("ivf_assign",
      exprs => graft.functions.IvfAssign(exprs(0), planes, halfNorms),
      "scala_udf")
    call_function("ivf_assign", col("v"))
  }

  /** IVF candidate scoring at probe width `nprobe`: corpus bucketed by
    * the codegen'd IvfAssign, the 10 broadcast queries rank their
    * buckets by the literal score array and probe the best `nprobe`,
    * candidates exact-dotted. ss03b is nprobe = IvfProbes; ss13 sweeps
    * nprobe for the recall-vs-candidates tuning curve. */
  private def ivfScored(s: SparkSession, dir: String,
      nprobe: Int): DataFrame =
    ivfScoredRanked(s, dir, nprobe).drop("rank")

  /** [[ivfScored]] plus each candidate's probe RANK — the probe order
    * (1 = best) of the candidate's (unique) bucket in its query's
    * ranked probe list. Width p's candidate set is exactly
    * `rank <= p`, so one pass at the widest probe carries every
    * narrower width as a prefix (ss13 reads the whole tuning curve
    * from a single corpus scan instead of one per width). */
  private def ivfScoredRanked(s: SparkSession, dir: String,
      maxProbe: Int): DataFrame = {
    graft.functions.VectorOps.register(s)
    val e = embeddings(s, dir)
    val assigned = e.select(col("vec_id"), col("v"),
      ivfAssignCol(s).as("bucket"))
    // probe selection: 10 queries × 16 buckets → bounded top-nprobe
    // agg, same (score DESC, id ASC) order as TopKByScore everywhere;
    // items come back best-first, so posexplode's pos IS the order
    val probeTopk = udaf(new TopKByScore(maxProbe))
    val probes = broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("v"), ivfScoreCol.as("cd"))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        posexplode(col("cd")).as(Seq("bucket", "s")))
      .groupBy(col("q_id"), col("qv"))
      .agg(probeTopk(col("s"), col("bucket").cast("long")).as("pb"))
      .select(col("q_id"), col("qv"),
        posexplode(col("pb.items.id")).as(Seq("pr", "bucket"))))
    probes.join(assigned, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.VectorOps.dot(col("qv"), col("v")).as("cos"),
        (col("pr") + 1).cast("long").as("rank"))
  }

  /** Centroid `c` as a DuckDB list literal of the same dyadic
    * rationals the Spark side builds. */
  private def centLit(c: Int): String =
    (0 until Dim).map(i => s"${centroidBits(c, i)}.0/65536.0 - 0.5")
      .mkString("[", ", ", "]")

  /** The IVF oracles' per-centroid assignment scores for `nv`
    * (dot − |c|²/2), one list entry per centroid. */
  private lazy val cdList: String = (0 until IvfCentroids).map { c =>
    s"list_dot_product(nv, ${centLit(c)}) - " +
      s"list_dot_product(${centLit(c)}, ${centLit(c)})/2"
  }.mkString("[", ", ", "]")

  /** The corpus-assignment CTE prefix of ss03b's oracle (e/n/cd/a) —
    * shared by ss14's balance report. */
  private def ivfAssignSqlCtes: String = {
    s"""${normalizedSqlCtes()},
       |cd AS (SELECT vec_id, nv, $cdList AS cd FROM n),
       |a AS (SELECT vec_id,
       |    list_position(cd, list_max(cd)) - 1 AS bucket FROM cd)"""
      .stripMargin
  }

  /** DuckDB value oracle for ss13: ss03b's CTE chain with one
    * probes/scored/top branch per probe width, each branch's hits
    * joined to the exact top-5 — the whole tuning curve in one
    * statement, integer-exact recall. */
  private[ext] def ivfSweepOracleSql(widths: Seq[Int]): String = {
    val probeUnion = (0 until IvfCentroids).map(c =>
      s"SELECT vec_id AS q_id, nv AS qv, $c AS bucket, cd[${c + 1}] AS s " +
        "FROM cd WHERE vec_id < 10")
      .mkString(" UNION ALL ")
    val perWidth = widths.map { p =>
      s"""probes_$p AS (
         |  SELECT q_id, qv, bucket FROM (
         |    SELECT q_id, qv, bucket,
         |      row_number() OVER (PARTITION BY q_id ORDER BY s DESC, bucket) AS pr
         |    FROM pq) WHERE pr <= $p),
         |scored_$p AS (
         |  SELECT pr.q_id, a.vec_id AS neighbor_id,
         |    list_dot_product(pr.qv, a.nv) AS cos
         |  FROM probes_$p pr
         |  JOIN a ON a.bucket = pr.bucket AND a.vec_id <> pr.q_id),
         |top_$p AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT q_id, neighbor_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rk
         |    FROM scored_$p) WHERE rk <= $K)""".stripMargin
    }.mkString(",\n")
    val rows = widths.map { p =>
      s"""SELECT CAST($p AS BIGINT) AS nprobe,
         |  CAST((SELECT count(*) FROM ex e JOIN top_$p t
         |     ON e.q_id = t.q_id AND e.neighbor_id = t.neighbor_id)
         |    AS BIGINT) AS n_hit,
         |  CAST((SELECT count(*) FROM ex e JOIN top_$p t
         |     ON e.q_id = t.q_id AND e.neighbor_id = t.neighbor_id) * 1000000
         |    // ($K * (SELECT count(DISTINCT q_id) FROM ex))
         |    AS BIGINT) AS recall_e6,
         |  CAST((SELECT count(*) FROM scored_$p) AS BIGINT) AS n_scored"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${normalizedSqlCtes()},
       |cd AS (SELECT vec_id, nv, $cdList AS cd FROM n),
       |a AS (SELECT vec_id, nv,
       |    list_position(cd, list_max(cd)) - 1 AS bucket FROM cd),
       |pq AS ($probeUnion),
       |ex AS (SELECT q_id, neighbor_id FROM ($ss01OracleSql) t),
       |$perWidth
       |$rows
       |ORDER BY nprobe""".stripMargin
  }

  /** DuckDB value oracle for ss03b — centroids emitted as the same
    * dyadic rationals, assignment via list_position(cd, list_max(cd)),
    * probe ranking (score DESC, bucket ASC) mirroring TopKByScore. */
  private[ext] def ss03bOracleSql: String = {
    val probeUnion = (0 until IvfCentroids).map(c =>
      s"SELECT vec_id AS q_id, nv AS qv, $c AS bucket, cd[${c + 1}] AS s " +
        "FROM cd WHERE vec_id < 10")
      .mkString(" UNION ALL ")
    s"""WITH ${normalizedSqlCtes()},
       |cd AS (SELECT vec_id, nv, $cdList AS cd FROM n),
       |a AS (SELECT vec_id, nv,
       |    list_position(cd, list_max(cd)) - 1 AS bucket FROM cd),
       |pq AS ($probeUnion),
       |probes AS (
       |  SELECT q_id, qv, bucket FROM (
       |    SELECT q_id, qv, bucket,
       |      row_number() OVER (PARTITION BY q_id ORDER BY s DESC, bucket) AS pr
       |    FROM pq) WHERE pr <= $IvfProbes),
       |scored AS (
       |  SELECT p.q_id, a.vec_id AS neighbor_id,
       |    list_dot_product(p.qv, a.nv) AS cos
       |  FROM probes p JOIN a ON a.bucket = p.bucket AND a.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT q_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rk
       |  FROM scored)
       |SELECT q_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
       |  CAST(round(cos * 1e6) AS BIGINT) AS cos_e6
       |FROM ranked WHERE rk <= $K
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---- ss09: product quantization (fixed deterministic codebooks) ----

  private[ext] val PqM = 32 // subspaces
  private[ext] val PqSub = Dim / PqM // components per subspace
  private[ext] val PqK = 16 // codes per subspace (4-bit codes)
  private[ext] val PqShortlist = 50 // ADC shortlist depth before refine

  /** 16-bit dyadic numerators of PQ sub-centroid (j, c): component i is
    * `pqCentBits(j)(c)(i) / 65536` — bit-identical in both engines.
    * Derivation (all plan-time Scala, nothing data-dependent): mix-hash
    * uniform components in [−1/2, 1/2), scaled by sqrt(12/Dim) so the
    * codeword rms norm matches the expected subvector norm
    * sqrt(PqSub/Dim) of a unit Dim-vector (uniform[-1/2,1/2)^d has rms
    * norm sqrt(d/12)), then re-quantized to 16-bit dyadics so the SQL
    * literal is exact. The un-normalized spread matters: codewords at
    * varied radii quantize subvector NORM as well as direction.
    * Subspaces are 2-dim on purpose — 16 codewords in a 2-dim cell
    * give ~22° angular granularity (vs 16 points lost in an 8-dim
    * ball, which measured recall 0.14); 32 nibbles = 16 B/vector is
    * still 32× compression. Distinct mix constants from
    * `centroidBits`/`planeBits` so PQ cells don't correlate with the
    * IVF partition or the ss02 tables. */
  private[ext] lazy val pqCentBits: Array[Array[Array[Int]]] =
    Array.tabulate(PqM, PqK) { (j, c) =>
      val scale = math.sqrt(12.0 / Dim)
      Array.tabulate(PqSub) { i =>
        var h = ((j * PqK + c).toLong * 2654435761L) ^
          (i.toLong * 2246822519L) ^ 0x9e3779b97f4a7c15L
        h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 29)
        val u = (h & 0xffffL).toDouble / 65536.0 - 0.5
        math.round(u * scale * 65536.0).toInt
      }
    }

  private[ext] def pqCentVal(j: Int, c: Int, i: Int): Double =
    pqCentBits(j)(c)(i).toDouble / 65536.0

  /** Corpus-side PQ encoding: ALL M codes from one codegen'd
    * `PqEncode` call (per-subspace argmin-distance, i.e. argmax
    * v_j·c − ‖c‖²/2, first-max tiebreak) — the full codebook rides as
    * one reference object, never as literals. One expression instead
    * of M IvfAssign projections: the M-projection spelling (plus the
    * M-term element_at score chain) failed Janino compilation and
    * dropped the whole ADC stage to interpreted eval (4.3 s vs ~0.4 s
    * at sf0.1). */
  private[ext] def pqEncodeCol(s: SparkSession): Column = {
    val planes = Array.tabulate(PqM, PqK, PqSub)((j, c, i) => pqCentVal(j, c, i))
    val halfNorms = Array.tabulate(PqM, PqK) { (j, c) =>
      val p = planes(j)(c)
      var acc = 0.0; var i = 0
      while (i < p.length) { acc += p(i) * p(i); i += 1 }
      acc / 2.0
    }
    s.sessionState.functionRegistry.createOrReplaceTempFunction("pq_encode",
      exprs => graft.functions.PqEncode(exprs(0), planes, halfNorms),
      "scala_udf")
    call_function("pq_encode", col("v"))
  }

  /** DuckDB value oracle for ss09 — the same dyadic codebooks as SQL
    * literals; encoding via first-max `list_position(cd, list_max(cd))`
    * per subspace (IvfAssign's tiebreak); the ADC score spelled as an
    * explicit left-associated 32-term sum of per-subspace CASE lookups,
    * matching the Spark side's j-ascending `reduce(_ + _)` exactly (no
    * SQL `sum()` whose fold order is unspecified); the 50-deep ADC
    * shortlist and the exact-cosine rerank both mirror TopKByScore's
    * (score DESC, id ASC) order. */
  private[ext] def ss09OracleSql: String = {
    def pqCentLit(j: Int, c: Int): String =
      (0 until PqSub).map(i => s"${pqCentBits(j)(c)(i)}.0/65536.0")
        .mkString("[", ", ", "]")
    def subExpr(j: Int) = s"nv[${j * PqSub + 1}:${(j + 1) * PqSub}]"
    val subsCols = (0 until PqM).map(j => s"${subExpr(j)} AS sub$j")
      .mkString(", ")
    val cdCols = (0 until PqM).map { j =>
      (0 until PqK).map(c =>
        s"list_dot_product(sub$j, ${pqCentLit(j, c)}) - " +
          s"list_dot_product(${pqCentLit(j, c)}, ${pqCentLit(j, c)})/2")
        .mkString(s"[", ", ", s"] AS cd$j")
    }.mkString(", ")
    val codeCols = (0 until PqM).map(j =>
      s"list_position(cd$j, list_max(cd$j)) - 1 AS code$j").mkString(", ")
    val terms = (0 until PqM).map { j =>
      (0 until PqK).map(c =>
        s"WHEN $c THEN list_dot_product(q.sub$j, ${pqCentLit(j, c)})")
        .mkString(s"CASE e.code$j ", " ", " END")
    }
    val score = terms.map(t => s"($t)").mkString(" + ")
    s"""WITH raw AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id,
       |    CASE WHEN list_dot_product(v, v) = 0 THEN v
       |         ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
       |    END AS nv
       |  FROM raw),
       |subs AS (SELECT vec_id, $subsCols FROM n),
       |cds AS (SELECT *, $cdCols FROM subs),
       |enc AS (SELECT *, $codeCols FROM cds),
       |scored AS (
       |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |    $score AS adc
       |  FROM enc e JOIN subs q ON e.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10),
       |ranked AS (
       |  SELECT q_id, neighbor_id, adc,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY adc DESC, neighbor_id) AS rk
       |  FROM scored),
       |short AS (SELECT q_id, neighbor_id FROM ranked
       |          WHERE rk <= $PqShortlist),
       |rr AS (
       |  SELECT s.q_id, s.neighbor_id,
       |    list_dot_product(qn.nv, xn.nv) AS cos
       |  FROM short s
       |  JOIN n qn ON qn.vec_id = s.q_id
       |  JOIN n xn ON xn.vec_id = s.neighbor_id),
       |rr2 AS (
       |  SELECT q_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, neighbor_id) AS rk
       |  FROM rr)
       |SELECT q_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
       |  CAST(round(cos * 1e6) AS BIGINT) AS cos_e6
       |FROM rr2 WHERE rk <= $K
       |ORDER BY q_id, rank""".stripMargin
  }

  /** 16-row (bucket, cent) frame of the fixed dyadic centroids —
    * broadcast-joined where a per-row centroid vector is needed (dd13's
    * keep rule scores each member against its own cluster centroid).
    * Each row carries its centroid as data, so the 16×64 doubles ride
    * the plan ONCE as a small relation instead of inline literals in
    * every operator (the ss03b lesson). */
  private[ext] def centroidFrame(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until IvfCentroids)
      .map(c => (c.toLong, (0 until Dim).map(i => centroidVal(c, i)).toArray))
      .toDF("bucket", "cent")
  }

  /** DuckDB value oracle for dd13 (SemDeDup) — ss03b's assignment CTEs
    * (identical dyadic centroid literals and first-max argmax), dd08's
    * recursive-reachability components restricted to same-bucket pairs,
    * and the keep rule as a (cent_e6, vec_id) row_number mirroring the
    * Spark side's min-of-struct aggregation. */
  private[ext] def dd13OracleSql: String = {
    val centUnion = (0 until IvfCentroids).map(c =>
      s"SELECT $c AS bucket, ${centLit(c)} AS c").mkString(" UNION ALL ")
    s"""WITH RECURSIVE ${normalizedSqlCtes()},
       |cd AS (SELECT vec_id, nv, $cdList AS cd FROM n),
       |a AS (SELECT vec_id, nv,
       |    list_position(cd, list_max(cd)) - 1 AS bucket FROM cd),
       |p AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id
       |      FROM a x JOIN a y
       |        ON x.bucket = y.bucket AND x.vec_id < y.vec_id
       |      WHERE list_dot_product(x.nv, y.nv) >= $NdThreshold),
       |ed AS (SELECT a_id AS s, b_id AS d FROM p
       |       UNION ALL SELECT b_id, a_id FROM p),
       |verts AS (SELECT DISTINCT s AS v FROM ed),
       |reach(v, x) AS (
       |  SELECT v, v FROM verts
       |  UNION
       |  SELECT r.v, ed.d FROM reach r JOIN ed ON ed.s = r.x),
       |comp AS (SELECT v AS vec_id, min(x) AS cluster FROM reach GROUP BY v),
       |cent AS ($centUnion),
       |sim AS (SELECT a.vec_id, a.bucket,
       |          CAST(round(list_dot_product(a.nv, ct.c) * 1e6) AS BIGINT)
       |            AS cent_e6
       |        FROM a JOIN cent ct USING (bucket)),
       |j AS (SELECT sim.vec_id, sim.bucket, comp.cluster, sim.cent_e6
       |      FROM comp JOIN sim USING (vec_id)),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY cluster
       |         ORDER BY cent_e6, vec_id) AS rn FROM j)
       |SELECT vec_id, CAST(bucket AS BIGINT) AS bucket,
       |  CAST(cluster AS BIGINT) AS cluster, cent_e6,
       |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM rk ORDER BY vec_id""".stripMargin
  }

  /** DuckDB value oracle for ss08 — ss03b's IVF CTEs (same dyadic
    * centroid literals, argmax assignment, probe ranking) composed with
    * ss05's int8 quantization; scoring is the dequantized int8 dot over
    * probed buckets only. */
  private[ext] def ss08OracleSql: String = {
    val probeUnion = (0 until IvfCentroids).map(c =>
      s"SELECT vec_id AS q_id, $c AS bucket, cd[${c + 1}] AS s " +
        "FROM cd WHERE vec_id < 10")
      .mkString(" UNION ALL ")
    s"""WITH ${normalizedSqlCtes()},
       |cd AS (SELECT vec_id, nv, $cdList AS cd FROM n),
       |sc AS (
       |  SELECT vec_id, nv, cd,
       |    list_max(list_transform(nv, x -> abs(x))) / 127.0 AS scale
       |  FROM cd),
       |q AS (
       |  SELECT vec_id, cd, scale,
       |    CASE WHEN scale = 0 THEN list_transform(nv, x -> 0.0)
       |         ELSE list_transform(nv, x ->
       |           greatest(least(floor(x / scale + 0.5), 127.0), -127.0))
       |    END AS qv
       |  FROM sc),
       |aq AS (SELECT vec_id, qv, scale,
       |    list_position(cd, list_max(cd)) - 1 AS bucket FROM q),
       |pq AS ($probeUnion),
       |probes AS (
       |  SELECT q_id, bucket FROM (
       |    SELECT q_id, bucket,
       |      row_number() OVER (PARTITION BY q_id ORDER BY s DESC, bucket) AS pr
       |    FROM pq) WHERE pr <= $IvfProbes),
       |scored AS (
       |  SELECT p.q_id, c.vec_id AS neighbor_id,
       |    list_dot_product(qq.qv, c.qv) * qq.scale * c.scale AS cos
       |  FROM probes p
       |  JOIN aq qq ON qq.vec_id = p.q_id
       |  JOIN aq c ON c.bucket = p.bucket AND c.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT q_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rk
       |  FROM scored)
       |SELECT q_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
       |  CAST(round(cos * 1e6) AS BIGINT) AS cos_e6
       |FROM ranked WHERE rk <= $K
       |ORDER BY q_id, rank""".stripMargin
  }

  // dd12 near-dup LSH geometry. Unlike the ANN tables above (few bits,
  // many candidates — fine when only |Q| query vectors probe), ALL-PAIRS
  // near-dup generation must keep the candidate volume ~linear: random
  // pairs collide in some table at rate ≈ L/2^b of all n²/2 pairs, so
  // the bits-per-table b is the knob that must grow with log2(n). The
  // catalog entry uses b=8, L=8 for the ~500-vector fixture (random-pair
  // rate ≈ 3%); at 1B vectors the same plan shape with b ≈ 28 keeps
  // expected bucket size ~4 while near-identical vectors (cos ≥ 0.95,
  // P[bit agrees] ≈ 0.9) still collide with useful probability in at
  // least one of the L tables. Degenerate buckets (many identical
  // embeddings) are bounded by the cap + rep-chain guard regardless of
  // geometry — O(bucket) candidates through the bucket minimum, the
  // exact-cosine verify gating every pair (TextOps.lshCandidatesFromRows'
  // semantics, re-used here for vectors).
  private[ext] val NdBits = 8
  private[ext] val NdTables = 8
  private[ext] val NdPlaneBase = 1000 // decouple from ss02's planes 0..47
  private[ext] val NdMaxBucket = 64
  private[ext] val NdThreshold = 0.4

  /** Table-t near-dup signature: b sign bits of dots against planes
    * `NdPlaneBase + t·b + j` — same dyadic-rational plane family as
    * ss02, so the DuckDB oracle re-derives identical signatures. */
  private[ext] def ndSig(v: Column, t: Int): Column =
    (0 until NdBits).map { j =>
      val dot = graft.functions.VectorOps.dot(
        v, planeCol(NdPlaneBase + t * NdBits + j))
      when(dot >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** (vec_id, t, sig) index rows for dd12/ss06 — the stacked-union
    * shape (ss02's Generate-re-evaluation lesson), carrying only the id
    * so the candidate machinery never shuffles the 64-double vectors.
    *
    * SHAPE A/B (round 9, measured — keep the union): an alternative
    * single-scan shape (repartition the 9-long (id, sigs) row, then
    * posexplode above the barrier) was built and measured at both
    * scales: 2× FASTER at sf0.1 (6k vectors: ss06 4.5→2.3 s — plan and
    * session overhead dominate there) but 2.5× SLOWER at 500k vectors
    * (ss06 113→283 s in a same-session A/B) — the extra full-corpus
    * exchange costs more than the 8 narrow re-scans it saves, and the
    * union branches each column-prune to their own 8 plane dots with
    * map-side partial aggregation directly above the scan. The
    * fixture-scale win was exactly the overhead artifact SCALING.md
    * warns against optimizing for; 500k decides. */
  private[ext] def ndSigRows(e: DataFrame): DataFrame = {
    val flat = e.select(col("vec_id") +:
      (0 until NdTables).map(t => ndSig(col("v"), t).as(s"_s$t")): _*)
    (0 until NdTables).map(t => flat.select(col("vec_id"),
        lit(t).as("t"), col(s"_s$t").as("sig")))
      .reduce(_ union _)
  }

  /** LSH candidate pairs (a_id < b_id, distinct) from shared (table,
    * signature) buckets — all-pairs in small buckets, rep-chain through
    * the bucket minimum in oversized ones. Shared by dd12 (near-dup
    * pairs) and ss06 (kNN graph). */
  private[ext] def ndCandidates(e: DataFrame): DataFrame = {
    // Materialize the 8-table signature index ONCE (localCheckpoint —
    // GC-freed blocks, no unpersist lifecycle needed in a catalog
    // builder). Unmaterialized, the stats aggregation and the three
    // pair branches each re-derive the whole union — measured 123
    // parquet scans of embeddings in ss06's final plan (75 in dd12's)
    // where the data needs ONE signature pass. This is orthogonal to
    // the round-9 SHAPE A/B above (union vs repartition+posexplode):
    // the union remains the per-branch scan shape for the single
    // materialization pass; the checkpoint removes the re-derivation
    // multiplier without adding the full-corpus exchange that made
    // shape B 2.5× slower at 500k.
    val sigs = ndSigRows(e).localCheckpoint(true)
    // one aggregation yields the size gate and the representative; the
    // join back is co-partitioned on the same (t, sig) key
    val stats = sigs.groupBy(col("t"), col("sig"))
      .agg(count(lit(1)).as("_n"), min(col("vec_id")).as("_rep"))
    // read by both pair branches (small ×2 sides, chained) — see above
    val tagged = sigs.join(stats, Seq("t", "sig")).localCheckpoint(true)
    val small = tagged.filter(col("_n") <= NdMaxBucket)
    val allPairs = small.as("x").join(small.as("y"),
        col("x.t") === col("y.t") && col("x.sig") === col("y.sig") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
    // oversized: star around the bucket minimum — rep < member always,
    // so the (a_id < b_id) orientation is preserved
    val chained = tagged.filter(col("_n") > NdMaxBucket &&
        col("vec_id") =!= col("_rep"))
      .select(col("_rep").as("a_id"), col("vec_id").as("b_id"))
    allPairs.union(chained).distinct()
  }

  /** Exact-cosine scores for candidate (a_id, b_id) pairs: two
    * id-keyed joins pull the normalized vectors, one codegen dot. */
  private[ext] def scoreCandidates(cand: DataFrame, e: DataFrame): DataFrame = {
    val cos = graft.functions.VectorOps.dot(col("_va"), col("_vb"))
    cand
      .join(e.select(col("vec_id").as("a_id"), col("v").as("_va")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("v").as("_vb")), "b_id")
      .select(col("a_id"), col("b_id"), cos.as("cos"))
  }

  /** dd12: LSH-bucketed embedding near-dup pairs — dd06's scale path.
    * Candidates from shared (table, signature) buckets, then
    * exact-cosine verification on candidates only; output shape
    * matches dd06's (a_id, b_id, cos_e6). */
  private[ext] def neardupLshPairs(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select(col("vec_id"), col("v"))
    scoreCandidates(ndCandidates(e), e)
      .filter(col("cos") >= NdThreshold)
      .select(col("a_id"), col("b_id"),
        round(col("cos") * 1e6).cast("long").as("cos_e6"))
  }

  /** ss06: approximate kNN graph over the WHOLE corpus — the
    * SemDeDup / semantic-clustering primitive. dd12's linear candidate
    * generation, symmetrized (each undirected candidate pair feeds both
    * endpoints' neighbor lists), exact-cosine scored, then per-source
    * top-k through the bounded `TopKByScore` aggregation — map-side
    * partials keep ≤ k rows per node per task, so no window ever sorts
    * the full edge stream. Nodes whose buckets contained no other
    * vector simply have no row — at corpus scale LSH isolation, not
    * output completeness, is the right contract for a kNN graph. */
  private[ext] val KnnK = 5
  private[ext] def knnGraph(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select(col("vec_id"), col("v"))
    val cand = ndCandidates(e)
    val edges = cand.union(
      cand.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    topNeighbors(
      scoreCandidates(edges, e)
        .select(col("a_id").as("q_id"), col("b_id").as("vec_id"),
          col("cos")),
      KnnK)
      .select(col("q_id").as("src_id"), col("rank"),
        col("neighbor_id"), col("cos_e6"))
      .orderBy(col("src_id"), col("rank"))
  }

  /** Shared DuckDB CTE chain (`e`/`n`/`sigs`/`ct`/`szd`/`cand`) that
    * re-derives `ndCandidates` from the same plane constants, bucket
    * cap and rep-chain union as the Spark plan — dd12 and ss06 append
    * their own scoring tail. */
  /** The e/n/sigs CTE prefix (normalize + 8-table signature union)
    * shared by [[ndCandSqlCtes]] and the incremental probe oracle
    * ([[embedProbeOracleSql]]). */
  private def ndSigCtePrefix: String = {
    def planeLit(j: Int): String =
      (0 until Dim).map(i => s"${planeBits(j, i)}.0/65536.0 - 0.5")
        .mkString("[", ", ", "]")
    def sigSql(t: Int): String =
      (0 until NdBits).map { j =>
        s"CASE WHEN list_dot_product(nv, ${planeLit(NdPlaneBase + t * NdBits + j)}) >= 0 " +
          s"THEN ${1L << j} ELSE 0 END"
      }.mkString("(", " + ", ")")
    val sigUnion = (0 until NdTables).map(t =>
      s"SELECT vec_id, $t AS t, ${sigSql(t)} AS sig FROM n")
      .mkString(" UNION ALL ")
    s"""WITH ${normalizedSqlCtes()},
       |sigs AS ($sigUnion)""".stripMargin
  }

  private[ext] def ndCandSqlCtes: String = {
    s"""$ndSigCtePrefix,
       |ct AS (SELECT t, sig, count(*) AS bn, min(vec_id) AS rep
       |       FROM sigs GROUP BY t, sig),
       |szd AS (SELECT sigs.*, ct.bn, ct.rep FROM sigs JOIN ct USING (t, sig)),
       |cand AS (SELECT DISTINCT a_id, b_id FROM (
       |         SELECT x.vec_id AS a_id, y.vec_id AS b_id
       |         FROM szd x JOIN szd y
       |           ON x.t = y.t AND x.sig = y.sig AND x.vec_id < y.vec_id
       |         WHERE x.bn <= $NdMaxBucket
       |         UNION ALL
       |         SELECT rep, vec_id FROM szd
       |         WHERE bn > $NdMaxBucket AND vec_id <> rep))""".stripMargin
  }

  /** DuckDB value oracle for dd12. */
  private[ext] def dd12OracleSql: String =
    s"""$ndCandSqlCtes,
       |v AS (SELECT c.a_id, c.b_id, list_dot_product(a.nv, b.nv) AS cos
       |      FROM cand c
       |      JOIN n a ON a.vec_id = c.a_id
       |      JOIN n b ON b.vec_id = c.b_id)
       |SELECT a_id, b_id, CAST(round(cos * 1e6) AS BIGINT) AS cos_e6
       |FROM v WHERE cos >= $NdThreshold
       |ORDER BY a_id, b_id""".stripMargin

  /** DuckDB value oracle for dd26 — the PROBE flavor of the dd12
    * family: bucket stats and the flood cap over HISTORY signatures
    * only (batch vectors must not change which standing buckets
    * collapse), candidates = batch × kept on (t, sig), exact cosine
    * ≥ threshold, rolled to dd17's per-doc status shape. Mirrors
    * [[graft.ext.EmbedIndex]].probeVecs + the dd26 roll exactly. */
  private[ext] def embedProbeOracleSql(batchPred: String,
      histPred: String): String =
    s"""$ndSigCtePrefix,
       |hs AS (SELECT * FROM sigs WHERE $histPred),
       |bs AS (SELECT * FROM sigs WHERE $batchPred),
       |ct AS (SELECT t, sig, count(*) AS bn, min(vec_id) AS rep
       |       FROM hs GROUP BY t, sig),
       |kept AS (SELECT hs.t, hs.sig, hs.vec_id AS hist_id
       |         FROM hs JOIN ct USING (t, sig)
       |         WHERE ct.bn <= $NdMaxBucket OR hs.vec_id = ct.rep),
       |cand AS (SELECT DISTINCT bs.vec_id AS batch_id, kept.hist_id
       |         FROM bs JOIN kept ON bs.t = kept.t AND bs.sig = kept.sig),
       |p AS (SELECT c.batch_id, c.hist_id
       |      FROM cand c
       |      JOIN n a ON a.vec_id = c.batch_id
       |      JOIN n b ON b.vec_id = c.hist_id
       |      WHERE list_dot_product(a.nv, b.nv) >= $NdThreshold),
       |roll AS (SELECT batch_id, min(hist_id) AS dup_of,
       |           count(*) AS n_matches
       |         FROM p GROUP BY batch_id)
       |SELECT e.vec_id,
       |  CASE WHEN roll.dup_of IS NOT NULL THEN 'near_dup_history'
       |       ELSE 'new' END AS status,
       |  CAST(roll.dup_of AS BIGINT) AS dup_of,
       |  CAST(coalesce(roll.n_matches, 0) AS BIGINT) AS n_matches
       |FROM e LEFT JOIN roll ON e.vec_id = roll.batch_id
       |WHERE $batchPred
       |ORDER BY vec_id""".stripMargin

  /** DuckDB value oracle for ss06 — the same candidate CTEs,
    * symmetrized, with a (cos DESC, neighbor ASC) row_number mirroring
    * TopKByScore's `beats` ordering. */
  private[ext] def ss06OracleSql: String =
    s"""$ndCandSqlCtes,
       |ed AS (SELECT a_id, b_id FROM cand
       |       UNION ALL SELECT b_id, a_id FROM cand),
       |v AS (SELECT c.a_id AS src_id, c.b_id AS neighbor_id,
       |        list_dot_product(a.nv, b.nv) AS cos
       |      FROM ed c
       |      JOIN n a ON a.vec_id = c.a_id
       |      JOIN n b ON b.vec_id = c.b_id),
       |ranked AS (
       |  SELECT src_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY src_id
       |      ORDER BY cos DESC, neighbor_id) AS rk
       |  FROM v)
       |SELECT src_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
       |  CAST(round(cos * 1e6) AS BIGINT) AS cos_e6
       |FROM ranked WHERE rk <= $KnnK
       |ORDER BY src_id, rank""".stripMargin

  /** Pre-normalized vectors: pair scoring becomes one codegen'd dot. */
  private[ext] def embeddings(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorOps.register(s)
    Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        graft.functions.VectorOps.normalize(col("embedding").cast("array<double>")).as("v"))
  }

  /** (q_id, vec_id, cos) scored pairs → exact top-K per query via the
    * bounded aggregator, in the catalog's output shape. */
  private[ext] def topNeighbors(scored: DataFrame, k: Int = K): DataFrame = {
    val topk = udaf(new TopKByScore(k))
    scored.groupBy(col("q_id"))
      .agg(topk(col("cos"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top.items")))
      .select(col("q_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("neighbor_id"),
        round(col("col.score") * 1e6).cast("long").as("cos_e6"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** ss01's exact top-5 — also ss10's ground truth. */
  private def exactTop5(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val q = broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv")))
    topNeighbors(
      q.join(e, col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          graft.functions.VectorOps.dot(col("qv"), col("v")).as("cos")))
  }

  // exact oracle (see dd06 note on IEEE-identical cosines); the
  // row_number tiebreak (cos DESC, id ASC) mirrors TopKByScore's
  // `beats` ordering exactly
  private[ext] val ss01OracleSql: String =
    s"""WITH ${normalizedSqlCtes()},
      |scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
      |    list_dot_product(q.nv, c.nv) AS cos
      |  FROM n q JOIN n c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 10),
      |ranked AS (
      |  SELECT q_id, neighbor_id, cos,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rk
      |  FROM scored)
      |SELECT q_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
      |  CAST(round(cos * 1e6) AS BIGINT) AS cos_e6
      |FROM ranked WHERE rk <= 5
      |ORDER BY q_id, rank""".stripMargin

  /** ss02's LSH top-5 — also ss10's candidate under evaluation. */
  private def lshTop5(s: SparkSession, dir: String): DataFrame = {
    val eT = sigRows(embeddings(s, dir))
    // query probes: 10 queries × NTables rows — broadcastable
    val qT = broadcast(eT.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("t"), col("sig")))
    // score, THEN distinct on the narrow (q_id, vec_id, cos) triple:
    // dedups cross-table hits without shuffling the vectors
    topNeighbors(
      qT.join(eT, Seq("t", "sig"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          graft.functions.VectorOps.dot(col("qv"), col("v")).as("cos"))
        .distinct())
  }

  val all: Seq[CatalogQuery] = Seq(

    CatalogQuery(
      "ss01_ann_bruteforce",
      "Exact top-5 cosine neighbors for 10 query vectors — broadcast queries, bounded top-k agg, no corpus shuffle",
      (s, dir) => exactTop5(s, dir),
      Some(ss01OracleSql)),

    CatalogQuery(
      "ss02_ann_lsh",
      "LSH-bucketed ANN: 8 independent 6-bit hyperplane tables, exact re-rank inside matched buckets",
      (s, dir) => lshTop5(s, dir),
      // Value oracle: the hyperplanes are dyadic rationals rendered
      // exactly in SQL, the sign test is an IEEE-exact comparison on
      // the same left-to-right dot (dd06/ss01 precedent), so DuckDB
      // re-derives the identical buckets, candidates and ranking.
      Some(ss02OracleSql)),

    CatalogQuery(
      "ss03_ann_ivf",
      "IVF ANN: KMeans coarse quantizer (fit on a sample) buckets the corpus; queries probe 4 nearest centroids, exact re-rank inside",
      (s, dir) => {
        import org.apache.spark.ml.clustering.KMeans
        import org.apache.spark.ml.functions.array_to_vector
        val e = embeddings(s, dir).withColumn("fv", array_to_vector(col("v")))
        // The quantizer only needs stable buckets, not converged
        // centroids (re-rank inside the bucket is exact), so: few
        // iterations, random init, and — critically — fit on a bounded
        // SAMPLE of the corpus. A full-corpus fit is 5+ whole passes
        // over 100 TB to place 16 centroids.
        // The fit phase is timed separately (OpMetrics "ss03_fit"):
        // three driver rounds showed in-suite ss03 episodes (r6 6.1s,
        // r9 14.3s) that never reproduce isolated, and the single
        // number couldn't attribute them to the ML fit vs the probe.
        val km = graft.core.OpMetrics.timed("ss03_fit") {
          val n = e.count()
          val fitSample =
            (if (n > 5000) e.sample(withReplacement = false, 5000.0 / n, seed = 7)
             else e).cache()
          // cache() the bounded sample so the fit's init+3 iteration passes
          // hit memory instead of re-reading parquet + re-running
          // array_to_vector each pass (KMeans skips its internal persist
          // when the input is already cached) — fewer jobs touching the
          // scan also makes the in-suite timing less sensitive to session
          // GC state (the r6 bench wobble)
          try new KMeans().setK(16).setMaxIter(3).setSeed(42)
            .setInitMode("random")
            .setFeaturesCol("fv").fit(fitSample)
          finally fitSample.unpersist(blocking = false)
        }
        val assigned = km.transform(e)
          .select(col("vec_id"), col("v"), col("prediction").as("bucket"))
        // centroid list is tiny (k rows): broadcast it, probe by dot
        val centroids = s.createDataFrame(
          km.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) })
          .toDF("bucket", "centroid")
        val q = assigned.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        // probe ranking must use the quantizer's own metric: KMeans
        // assigns by Euclidean distance, and for unit queries the
        // Euclidean-nearest centroid is argmax(q·c − ‖c‖²/2) — raw dot
        // would favor long-norm centroids and probe the wrong buckets.
        // k=16 centroids per query: the bounded aggregator keeps the
        // probe selection shuffle at ≤ 4 rows per query too.
        val probeTopk = udaf(new TopKByScore(4))
        val probes = q.crossJoin(broadcast(centroids))
          .withColumn("cd",
            graft.functions.VectorOps.dot(col("qv"), col("centroid")) -
              graft.functions.VectorOps.dot(col("centroid"), col("centroid")) / 2.0)
          .groupBy(col("q_id"), col("qv"))
          .agg(probeTopk(col("cd"), col("bucket")).as("pb"))
          .select(col("q_id"), col("qv"), explode(col("pb.items.id")).as("bucket"))
        topNeighbors(
          probes.join(assigned, Seq("bucket"))
            .filter(col("vec_id") =!= col("q_id"))
            .select(col("q_id"), col("vec_id"),
              graft.functions.VectorOps.dot(col("qv"), col("v")).as("cos")))
      },
      None),

    CatalogQuery(
      "ss03b_ann_ivf_fixed",
      "IVF ANN with a fixed deterministic coarse quantizer: 16 hash-derived dyadic-rational centroids, queries probe 4 nearest by Euclidean form, exact re-rank inside - ss03's value-oracled twin",
      (s, dir) => topNeighbors(ivfScored(s, dir, IvfProbes)),
      // Full value oracle: every centroid component is a dyadic rational
      // rendered exactly in SQL; centroid norms are computed in-engine
      // from the same literals; assignment, probe ranking and final
      // ranking all mirror the Spark plan's arithmetic and tiebreaks.
      Some(ss03bOracleSql)),

    CatalogQuery(
      "ss04_ann_filtered",
      "Filtered vector search: exact top-5 cosine neighbors restricted to docs with lang='en' (metadata predicate from the documents table)",
      (s, dir) => {
        // The production \"filtered ANN\" shape: the metadata predicate
        // prunes the corpus BEFORE any scoring, so selectivity directly
        // cuts the scored-pair stream. The filter arrives via a 1:1
        // co-keyed join (vec_id = doc_id) — at 100 TB both sides
        // shuffle once on the shared key (or are co-bucketed by it),
        // and only surviving vectors meet the broadcast query set.
        val lang = Tables.table(s, dir, "documents")
          .filter(col("lang") === "en")
          .select(col("doc_id").as("vec_id"))
        val e = embeddings(s, dir)
        val filtered = e.join(lang, "vec_id")
        val q = broadcast(e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v").as("qv")))
        topNeighbors(
          q.join(filtered, col("vec_id") =!= col("q_id"))
            .select(col("q_id"), col("vec_id"),
              graft.functions.VectorOps.dot(col("qv"), col("v")).as("cos")))
      },
      // exact: same IEEE-identical cosine argument as ss01; queries are
      // NOT themselves filtered (a non-en query still searches en docs)
      Some(s"""WITH ${normalizedSqlCtes()},
             |f AS (
             |  SELECT n.vec_id, n.nv FROM n
             |  JOIN documents d ON d.doc_id = n.vec_id AND d.lang = 'en'),
             |scored AS (
             |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
             |    list_dot_product(q.nv, c.nv) AS cos
             |  FROM n q JOIN f c ON c.vec_id <> q.vec_id
             |  WHERE q.vec_id < 10),
             |ranked AS (
             |  SELECT q_id, neighbor_id, cos,
             |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rk
             |  FROM scored)
             |SELECT q_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
             |  CAST(round(cos * 1e6) AS BIGINT) AS cos_e6
             |FROM ranked WHERE rk <= 5
             |ORDER BY q_id, rank""".stripMargin)),

    CatalogQuery(
      "ss05_ann_quantized",
      "Int8-quantized ANN: symmetric per-vector scalar quantization of the normalized embedding (scale = max|x|/127), top-5 by dequantized dot",
      (s, dir) => {
        // The storage/bandwidth scale play: int8 codes cut the vector
        // bytes 4-8x, and at 100 TB the scan, shuffle and cache all pay
        // in vector bytes. Quantization is a pure per-row projection
        // (one pass, no shuffle); scoring dequantizes on the fly as
        // int-dot x scale_a x scale_b. floor(x/s + 0.5) is used instead
        // of round(): identical half-up behavior in BOTH engines, so the
        // codes — and therefore every score — are value-oracled exactly.
        // The int dot of 64 lanes of +-127 is < 2^21, exact in DOUBLE.
        val e = embeddings(s, dir)
        val sc = e.select(col("vec_id"), col("v"),
          (aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0)
            .as("scale"))
        val q = sc.select(col("vec_id"), col("scale"),
          transform(col("v"), x =>
            when(col("scale") === 0.0, lit(0.0))
              .otherwise(greatest(least(
                floor(x / col("scale") + 0.5).cast("double"), lit(127.0)),
                lit(-127.0)))).as("qv"))
        val probes = broadcast(q.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("qv").as("qa"),
            col("scale").as("sa")))
        topNeighbors(
          probes.join(q, col("vec_id") =!= col("q_id"))
            .select(col("q_id"), col("vec_id"),
              (graft.functions.VectorOps.dot(col("qa"), col("qv")) *
                col("sa") * col("scale")).as("cos")))
      },
      // same normalize/dot/rank mirror as ss01, over the quantized codes
      Some(s"""WITH ${normalizedSqlCtes()},
             |sc AS (
             |  SELECT vec_id, nv,
             |    list_max(list_transform(nv, x -> abs(x))) / 127.0 AS scale
             |  FROM n),
             |q AS (
             |  SELECT vec_id, scale,
             |    CASE WHEN scale = 0 THEN list_transform(nv, x -> 0.0)
             |         ELSE list_transform(nv, x ->
             |           greatest(least(floor(x / scale + 0.5), 127.0), -127.0))
             |    END AS qv
             |  FROM sc),
             |scored AS (
             |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
             |    list_dot_product(a.qv, b.qv) * a.scale * b.scale AS cos
             |  FROM q a JOIN q b ON b.vec_id <> a.vec_id
             |  WHERE a.vec_id < 10),
             |ranked AS (
             |  SELECT q_id, neighbor_id, cos,
             |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rk
             |  FROM scored)
             |SELECT q_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
             |  CAST(round(cos * 1e6) AS BIGINT) AS cos_e6
             |FROM ranked WHERE rk <= 5
             |ORDER BY q_id, rank""".stripMargin)),

    CatalogQuery(
      "ss08_ann_ivf_quantized",
      "Composed scale path: fixed-centroid IVF probing over int8-quantized codes — bucket pruning cuts candidates, int8 cuts bytes 4-8x; dequantized re-rank on the probed subset only",
      (s, dir) => {
        // ss03b × ss05 composed, because at 100 TB BOTH levers apply at
        // once: IVF probing scores only ~IvfProbes/IvfCentroids of the
        // corpus per query, and the scored vectors travel as int8 codes
        // (the scan/shuffle/cache all pay in vector bytes). One
        // projection computes assignment scores AND codes; the probe
        // set stays broadcast; final top-5 is the bounded aggregation.
        // Quantization uses the codegen'd array_absmax/array_quantize
        // expressions, NOT aggregate/transform lambdas: higher-order
        // functions have no codegen path, and one of them in this
        // projection dropped the whole corpus-side stage (16 assignment
        // dots + inlined normalize included) to interpreted eval —
        // measured 678 s for one 500k pass vs seconds codegen'd. Values
        // are bit-identical (same IEEE ops in the same order), so the
        // oracle is unchanged.
        graft.functions.VectorOps.register(s)
        val e = embeddings(s, dir)
        val sc = e.select(col("vec_id"), col("v"),
          (graft.functions.VectorOps.absMax(col("v")) / 127.0).as("scale"))
        // corpus side: codes + codegen'd IvfAssign bucket, one
        // projection, no 16-literal score array anywhere (see
        // ivfAssignCol — the literal argmax ran interpreted at
        // ~2 ms/row, 678 s for a 500k pass)
        val assigned = sc.select(col("vec_id"),
          graft.functions.VectorOps.quantize(col("v"), col("scale")).as("qv"),
          col("scale"), ivfAssignCol(s).as("bucket"))
        val probeTopk = udaf(new TopKByScore(IvfProbes))
        val probes = broadcast(sc.filter(col("vec_id") < 10)
          .select(col("vec_id"), col("scale"),
            graft.functions.VectorOps.quantize(col("v"), col("scale")).as("qv"),
            ivfScoreCol.as("cd"))
          .select(col("vec_id").as("q_id"), col("qv").as("qa"),
            col("scale").as("sa"), posexplode(col("cd")).as(Seq("bucket", "s")))
          .groupBy(col("q_id"), col("qa"), col("sa"))
          .agg(probeTopk(col("s"), col("bucket").cast("long")).as("pb"))
          .select(col("q_id"), col("qa"), col("sa"),
            explode(col("pb.items.id")).as("bucket")))
        topNeighbors(
          probes.join(assigned, Seq("bucket"))
            .filter(col("vec_id") =!= col("q_id"))
            .select(col("q_id"), col("vec_id"),
              (graft.functions.VectorOps.dot(col("qa"), col("qv")) *
                col("sa") * col("scale")).as("cos")))
      },
      // full value oracle: IVF assignment/probing from ss03b's exact
      // dyadic literals + ss05's half-up int8 codes; every score is the
      // same int dot × two scales in both engines (int dot < 2^21,
      // exact in DOUBLE)
      Some(ss08OracleSql)),

    CatalogQuery(
      "ss06_knn_graph",
      "Approximate kNN graph over the whole corpus (SemDeDup primitive): LSH candidates symmetrized, exact-cosine scored, bounded top-5 per node - no window over the edge stream",
      (s, dir) => knnGraph(s, dir),
      Some(ss06OracleSql)),

    CatalogQuery(
      "ss07_hybrid_search",
      "Hybrid retrieval: BM25 top-50 lexical candidates reranked by embedding cosine to the query vector, top-10 - the RAG-curation retrieval shape",
      (s, dir) => {
        // Two-stage retrieval over one corpus: tx12's lexical scorer
        // prunes 50 candidates (TakeOrderedAndProject, no full sort),
        // then ONLY those 50 join their embeddings (id-keyed, AQE
        // broadcasts the 50-row side) and rerank by exact cosine to a
        // broadcast 1-row query vector. The expensive stage — vector
        // math — runs on 50 rows regardless of corpus size; docs
        // without an embedding drop in both engines identically. Both
        // stage scores are e6-integers, so the output is fully
        // value-oracled.
        val cand = TextQueries.bm25Scores(s, dir)
          .orderBy(col("score_e6").desc, col("doc_id")).limit(50)
          .select(col("doc_id"), col("score_e6").as("bm25_e6"))
        val e = embeddings(s, dir).select(col("vec_id"), col("v"))
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("v").as("_qv")))
        broadcast(cand).join(e, col("doc_id") === col("vec_id"))
          .crossJoin(qv)
          .select(col("doc_id"), col("bm25_e6"),
            round(graft.functions.VectorOps.dot(col("v"), col("_qv")) * 1e6)
              .cast("long").as("cos_e6"))
          .orderBy(col("cos_e6").desc, col("doc_id")).limit(10)
      },
      Some(s"""${graft.ext.TextQueries.bm25SqlCtes},
             |cand AS (
             |  SELECT doc_id, CAST(round(score * 1e6) AS BIGINT) AS bm25_e6
             |  FROM scored WHERE score > 0
             |  ORDER BY bm25_e6 DESC, doc_id LIMIT 50),
             |${normalizedSqlCtes("n2")},
             |qv AS (SELECT nv FROM n2 WHERE vec_id = 0),
             |rr AS (
             |  SELECT c.doc_id, c.bm25_e6,
             |    list_dot_product(n2.nv, qv.nv) AS cos
             |  FROM cand c JOIN n2 ON n2.vec_id = c.doc_id, qv)
             |SELECT doc_id, bm25_e6,
             |  CAST(round(cos * 1e6) AS BIGINT) AS cos_e6
             |FROM rr ORDER BY cos_e6 DESC, doc_id LIMIT 10""".stripMargin)),

    CatalogQuery(
      "ss09_ann_pq",
      "Product-quantization ANN with refine (FAISS PQ+refine shape): 32 subspaces x 16 fixed dyadic codewords encode each vector as 32 4-bit codes; ADC lookup-table scan shortlists 50, exact cosine reranks to top-5",
      (s, dir) => {
        // The PQ memory lever, orthogonal to ss03b's bucket pruning
        // and ss05's int8: a 64-double vector (512 B) becomes 32
        // 4-bit codes (16 B — 32×), and the O(n) scan touches ONLY
        // codes — 32 table lookups + 31 adds per item, no vector
        // math (ADC: each query precomputes q_sub·codeword for all
        // 32×16 codewords once; 512 length-2 dots on 10 rows, free).
        // The standard refine stage then re-scores the 50-deep ADC
        // shortlist with exact cosine on full vectors: per query the
        // expensive math runs on 50 rows regardless of corpus size,
        // and measured shortlist recall of the true top-5 is 1.0 at
        // 50-deep (0.88 at 25, 0.64 at 10 — sf0.01). At 100 TB the
        // scan is bandwidth-bound on 16-byte codes and the refine is
        // an id-keyed join touching 50·|Q| vectors; compose with IVF
        // probing (ss08's shape) for sublinear candidates. Codebooks
        // here are fixed dyadic rationals (plan-time,
        // data-independent) so the whole operator value-oracles; a
        // production deployment would train them (k-means per
        // subspace, ss03's engine-specific path) with an IDENTICAL
        // plan shape.
        graft.functions.VectorOps.register(s)
        val e = embeddings(s, dir)
        val shortTopk = udaf(new TopKByScore(PqShortlist))
        val shortlist = pqAdcScored(s, dir)
          .groupBy(col("q_id"))
          .agg(shortTopk(col("adc"), col("vec_id")).as("top"))
          .select(col("q_id"), explode(col("top.items.id")).as("vec_id"))
        // refine: only the shortlist ids rejoin their full vectors
        // (id-keyed; the 50·|Q|-row side broadcasts)
        val qv = broadcast(e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v").as("qv")))
        topNeighbors(
          broadcast(shortlist).join(e, Seq("vec_id")).join(qv, Seq("q_id"))
            .select(col("q_id"), col("vec_id"),
              graft.functions.VectorOps.dot(col("qv"), col("v")).as("cos")))
      },
      Some(ss09OracleSql)),

    CatalogQuery(
      "ss10_recall_eval",
      "Index-quality evaluation as a query: recall@5 of the LSH ANN (ss02) against exact top-5 (ss01) per query vector — the monitoring report an ANN deployment recomputes after every index rebuild",
      (s, dir) => {
        // Evaluation-as-query: both sides reuse the exact builders the
        // catalog serves (same tiebreak, same IEEE-identical cosines),
        // so the recall number is the PRODUCTION index's number, not a
        // reimplementation's. Cost = the two ANN queries + a semi-join
        // on (q_id, neighbor_id) over 5·|Q| rows — the eval relation is
        // tiny at any corpus size; recall_e6 = hits · 1e6/5 exact.
        // both sides checkpointed (r18): exact is read twice (hit
        // semi-join + the q_id spine) and each lazy reference re-ran
        // the FULL ANN chain — JoinAudit counted 38 parquet scans in
        // the final job. Both frames are 5·|Q| id pairs (tiny at any
        // corpus size), the dd03 small-frame checkpoint rule.
        val exact = exactTop5(s, dir).select(col("q_id"), col("neighbor_id"))
          .localCheckpoint(true)
        val lsh = lshTop5(s, dir).select(col("q_id"), col("neighbor_id"))
          .localCheckpoint(true)
        val hits = exact.join(lsh, Seq("q_id", "neighbor_id"), "left_semi")
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
        exact.select(col("q_id")).distinct()
          .join(hits, Seq("q_id"), "left")
          .select(col("q_id"), lit(5L).as("n_exact"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            (coalesce(col("n_hit"), lit(0L)) * lit(200000L)).as("recall_e6"))
          .orderBy(col("q_id"))
      },
      // both full chains as CTE-wrapped subqueries (DuckDB allows WITH
      // inside a parenthesized subquery), joined exactly as above
      Some(s"""WITH ex AS (
             |  SELECT q_id, neighbor_id FROM ($ss01OracleSql) t),
             |ls AS (
             |  SELECT q_id, neighbor_id FROM (${ss02OracleSql}) t),
             |hit AS (
             |  SELECT e.q_id, count(*) AS n_hit
             |  FROM ex e JOIN ls l
             |    ON e.q_id = l.q_id AND e.neighbor_id = l.neighbor_id
             |  GROUP BY e.q_id)
             |SELECT q.q_id, CAST(5 AS BIGINT) AS n_exact,
             |  CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
             |  CAST(coalesce(n_hit, 0) * 200000 AS BIGINT) AS recall_e6
             |FROM (SELECT DISTINCT q_id FROM ex) q
             |LEFT JOIN hit USING (q_id)
             |ORDER BY q.q_id""".stripMargin)),

    CatalogQuery(
      "ss11_mmr_rerank",
      "MMR-diversified top-5 re-rank (Carbonell & Goldstein 1998, lambda=1/2): top-12 exact candidates for query vec 0, then greedy selection by rel_e6 - max-sim-to-selected with vec_id tiebreaks — the diversity-aware sampling step after retrieval",
      (s, dir) => {
        // Retrieval narrows the corpus to a BOUNDED candidate page
        // (top-12 by exact cosine — a TakeOrdered, no corpus shuffle
        // beyond the scored pass), and MMR re-ranks that page,
        // trading relevance against redundancy to the already-picked
        // set. At lambda=1/2 the argmax of lambda*rel - (1-lambda)*sim
        // orders identically to the all-integer rel_e6 - maxsim_e6,
        // so both engines run exact integer argmax. The page and its
        // 12x12 sim matrix are codebook-class bounded driver data
        // (the ss03 precedent): production MMR runs on the retrieved
        // page, never the corpus — the greedy loop is O(k^2) on 144
        // integers. Round 1 has no selected set; its mmr is rel.
        import s.implicits._
        val e = embeddings(s, dir)
        val q = broadcast(e.filter(col("vec_id") === 0).select(col("v").as("qv")))
        val cand = q.join(e.filter(col("vec_id") =!= 0))
          .select(col("vec_id"),
            round(graft.functions.VectorOps.dot(col("qv"), col("v")) * 1e6)
              .cast("long").as("rel_e6"))
          .orderBy(col("rel_e6").desc, col("vec_id")).limit(12)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val ids = cand.map(_._1)
        val ce = e.filter(col("vec_id").isin(ids: _*)).select(col("vec_id"), col("v"))
        val sim = ce.as("a").join(ce.as("b"), col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
            round(graft.functions.VectorOps.dot(col("a.v"), col("b.v")) * 1e6)
              .cast("long").as("sim_e6"))
          .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
        mmrGreedy(cand, sim, 5).zipWithIndex
          .map { case ((id, r, m), i) => (i + 1L, id, r, m) }.toSeq
          .toDF("rank", "vec_id", "rel_e6", "mmr_e6")
          .orderBy(col("rank"))
      },
      Some {
        // the greedy rounds UNROLLED (dp12's convention): sel{r} is
        // the union of the first r picks; round r+1 argmaxes the
        // integer MMR score over the rest with the same tiebreak
        val rounds = (2 to 5).map { r =>
          val sel = (1 until r).map(i => s"SELECT vec_id FROM s$i")
            .mkString(" UNION ALL ")
          s"""sel${r - 1} AS ($sel),
             |r$r AS (SELECT c.vec_id, c.rel_e6, c.rel_e6 - max(s.sim_e6) AS mmr_e6
             |  FROM cand c JOIN sim s ON s.a_id = c.vec_id
             |  JOIN sel${r - 1} x ON s.b_id = x.vec_id
             |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
             |  GROUP BY c.vec_id, c.rel_e6),
             |s$r AS (SELECT vec_id, rel_e6, mmr_e6 FROM r$r
             |  ORDER BY mmr_e6 DESC, vec_id LIMIT 1)""".stripMargin
        }.mkString(",\n")
        val out = (1 to 5)
          .map(r => s"SELECT $r AS rank, vec_id, rel_e6, mmr_e6 FROM s$r")
          .mkString(" UNION ALL ")
        s"""WITH ${normalizedSqlCtes()},
           |q AS (SELECT nv FROM n WHERE vec_id = 0),
           |rel0 AS (SELECT c.vec_id,
           |    CAST(round(list_dot_product(q.nv, c.nv) * 1e6) AS BIGINT) AS rel_e6
           |  FROM n c, q WHERE c.vec_id <> 0),
           |cand AS (SELECT vec_id, rel_e6 FROM rel0
           |  ORDER BY rel_e6 DESC, vec_id LIMIT 12),
           |sim AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |    CAST(round(list_dot_product(na.nv, nb.nv) * 1e6) AS BIGINT) AS sim_e6
           |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
           |  JOIN n na ON na.vec_id = a.vec_id
           |  JOIN n nb ON nb.vec_id = b.vec_id),
           |s1 AS (SELECT vec_id, rel_e6, rel_e6 AS mmr_e6 FROM cand
           |  ORDER BY rel_e6 DESC, vec_id LIMIT 1),
           |$rounds
           |SELECT CAST(rank AS BIGINT) AS rank, vec_id,
           |  rel_e6, mmr_e6
           |FROM ($out) ORDER BY rank""".stripMargin
      }),

    CatalogQuery(
      "ss12_embedding_split_drift",
      "Embedding-space drift between dp02's train/val splits: per-label centroid cosine on integer-quantized components — the representation-shift check complementing tx24's count drift (cos_e6 near 1e6 = cohorts occupy the same region)",
      (s, dir) => {
        // tx24 catches COUNT drift between the splits; this catches
        // drift in the embedding SPACE the counts can't see (val
        // drawn from a different region trains a model that evals on
        // the wrong manifold). Determinism rule: float sums depend on
        // reduction order, so every component is quantized to an
        // integer (round(v*1e3)) BEFORE aggregation — integer sums
        // are order-independent, both engines aggregate exactly, and
        // the one double expression (the cosine) runs on identical
        // integers. Cosine is scale-invariant, so raw per-dim SUMS
        // stand in for centroids (no division). Scale shape: one
        // posexplode + map-combined (label x split x 64-dim) sum —
        // output bounded by labels x 2 x 64 whatever the corpus; the
        // cosine join runs on that small relation. A label missing
        // either cohort drops out (no centroid to compare).
        val sp = embeddings(s, dir)
          .select(col("label").cast("long").as("label"),
            graft.ext.PipelineQueries.splitColFor(col("vec_id")).as("split"),
            col("v"))
          .filter(col("split").isin("train", "val"))
        val q = sp.select(col("label"), col("split"),
            posexplode(col("v")).as(Seq("dim", "vv")))
          .select(col("label"), col("split"), col("dim"),
            round(col("vv") * 1e3).cast("long").as("qv"))
        val sums = q.groupBy(col("label"), col("split"), col("dim"))
          .agg(sum(col("qv")).as("s"))
        val cnt = sp.groupBy(col("label"), col("split"))
          .agg(count(lit(1)).as("n"))
        val a = sums.filter(col("split") === "train")
          .select(col("label"), col("dim"), col("s").as("sa"))
        val b = sums.filter(col("split") === "val")
          .select(col("label"), col("dim"), col("s").as("sb"))
        val d = a.join(b, Seq("label", "dim"))
          .groupBy(col("label"))
          .agg(sum(col("sa") * col("sb")).as("sab"),
            sum(col("sa") * col("sa")).as("saa"),
            sum(col("sb") * col("sb")).as("sbb"))
        val na = cnt.filter(col("split") === "train")
          .select(col("label"), col("n").as("n_train"))
        val nb = cnt.filter(col("split") === "val")
          .select(col("label"), col("n").as("n_val"))
        d.join(na, "label").join(nb, "label")
          .select(col("label"), col("n_train"), col("n_val"),
            when(col("saa") === 0 || col("sbb") === 0, lit(null))
              .otherwise(round(col("sab").cast("double")
                / (sqrt(col("saa").cast("double"))
                   * sqrt(col("sbb").cast("double"))) * 1e6))
              .cast("long").as("cos_e6"))
          .orderBy(col("label"))
      },
      Some(s"""WITH e AS (
             |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v0
             |  FROM embeddings),
             |nv AS (
             |  SELECT vec_id, label,
             |    CASE WHEN list_dot_product(v0, v0) = 0 THEN v0
             |         ELSE list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0)))
             |    END AS v
             |  FROM e),
             |sp AS (SELECT CAST(label AS BIGINT) AS label,
             |    ${graft.ext.PipelineQueries.splitSqlFor("vec_id")} AS split, v
             |  FROM nv),
             |f AS (SELECT * FROM sp WHERE split IN ('train', 'val')),
             |q AS (SELECT label, split,
             |    unnest(range(1, len(v) + 1)) AS dim,
             |    CAST(round(unnest(v) * 1000) AS BIGINT) AS qv
             |  FROM f),
             |sums AS (SELECT label, split, dim, sum(qv) AS s
             |  FROM q GROUP BY 1, 2, 3),
             |cnt AS (SELECT label, split, count(*) AS n FROM f GROUP BY 1, 2),
             |d AS (SELECT a.label,
             |    sum(a.s * b.s) AS sab, sum(a.s * a.s) AS saa,
             |    sum(b.s * b.s) AS sbb
             |  FROM sums a JOIN sums b
             |    ON a.label = b.label AND a.dim = b.dim
             |    AND a.split = 'train' AND b.split = 'val'
             |  GROUP BY a.label)
             |SELECT d.label, CAST(na.n AS BIGINT) AS n_train,
             |  CAST(nb.n AS BIGINT) AS n_val,
             |  CAST(CASE WHEN saa = 0 OR sbb = 0 THEN NULL
             |    ELSE round(CAST(sab AS DOUBLE)
             |      / (sqrt(CAST(saa AS DOUBLE)) * sqrt(CAST(sbb AS DOUBLE)))
             |      * 1e6) END AS BIGINT) AS cos_e6
             |FROM d
             |JOIN cnt na ON na.label = d.label AND na.split = 'train'
             |JOIN cnt nb ON nb.label = d.label AND nb.split = 'val'
             |ORDER BY d.label""".stripMargin)),

    CatalogQuery(
      "ss13_ivf_probe_sweep",
      "IVF tuning curve: recall@5 AND candidates scanned at nprobe in {1,2,4} over ss03b's fixed-codebook index — the operating-point report an ANN deployment reads before picking its latency/recall trade; every cell integer-exact",
      (s, dir) => {
        // ss10 scores ONE configuration; a deployment tunes by the
        // CURVE — recall against scan cost as the probe width widens
        // (nprobe = IvfProbes is the catalog's serving point). The
        // widths reuse the production chain AT THE WIDEST probe in
        // ONE corpus pass: each candidate carries its bucket's probe
        // RANK, so width p's candidate set is exactly rank <= p —
        // scan counts fold into one conditional aggregate, the three
        // top-5 selections run over the checkpointed candidate frame
        // (never the corpus again), and their hits resolve in one
        // union + semi-join job. Output is |widths| rows at any
        // corpus size; every remaining job is bounded (the tx
        // ratio-totals precedent).
        import s.implicits._
        val exact = exactTop5(s, dir)
          .select(col("q_id"), col("neighbor_id")).localCheckpoint()
        val nQ = exact.select(col("q_id")).distinct().count()
        val widths = Seq(1, 2, 4)
        val cand = ivfScoredRanked(s, dir, widths.max).localCheckpoint()
        val scanAggs = widths.map(p =>
          coalesce(sum((col("rank") <= p).cast("long")), lit(0L))
            .as(s"s$p"))
        val scans = cand.agg(scanAggs.head, scanAggs.tail: _*).head()
        val tops = widths.map { p =>
          topNeighbors(cand.filter(col("rank") <= p))
            .select(lit(p.toLong).as("nprobe"), col("q_id"),
              col("neighbor_id"))
        }.reduce(_ unionByName _)
        val hitMap = tops.join(exact, Seq("q_id", "neighbor_id"),
            "left_semi")
          .groupBy(col("nprobe")).agg(count(lit(1)).as("h"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        widths.zipWithIndex.map { case (p, i) =>
          val nHit = hitMap.getOrElse(p.toLong, 0L)
          (p.toLong, nHit, nHit * 1000000L / (K * nQ), scans.getLong(i))
        }.toDF("nprobe", "n_hit", "recall_e6", "n_scored")
          .orderBy(col("nprobe"))
      },
      Some(ivfSweepOracleSql(Seq(1, 2, 4)))),

    CatalogQuery(
      "ss14_ivf_balance",
      "IVF list-balance report: per-bucket vector counts, corpus share, and e6 load factor (1e6 = perfectly balanced) over ss03b's fixed-codebook assignment — the 'why is my ANN p99 slow' diagnosis, since probe latency follows the FATTEST visited list, not the average",
      (s, dir) => {
        // The practical IVF failure mode is list imbalance: a bucket
        // holding 10x its share makes every probe that visits it pay
        // 10x, and recall tuning (ss13) can't see it. One codegen'd
        // assignment scan + one 16-group map-combined count; empty
        // buckets are REPORTED (left join against the centroid range)
        // because an empty list is the other half of the same skew.
        graft.functions.VectorOps.register(s)
        val counts = embeddings(s, dir)
          .select(ivfAssignCol(s).cast("long").as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("n_vecs"))
        val tot = counts.agg(sum(col("n_vecs")).as("total"))
        s.range(IvfCentroids).toDF("bucket")
          .join(counts, Seq("bucket"), "left")
          .na.fill(0L, Seq("n_vecs"))
          .crossJoin(broadcast(tot))
          .select(col("bucket"), col("n_vecs"),
            expr("n_vecs * 1000000 div nullif(total, 0)").as("share_e6"),
            expr(s"n_vecs * $IvfCentroids * 1000000 div nullif(total, 0)")
              .as("load_e6"))
          .orderBy(col("bucket"))
      },
      Some(s"""WITH $ivfAssignSqlCtes,
             |b AS (SELECT unnest(range(0, $IvfCentroids)) AS bucket),
             |cnt AS (SELECT bucket, count(*) AS n FROM a GROUP BY bucket),
             |tot AS (SELECT count(*) AS total FROM a)
             |SELECT CAST(b.bucket AS BIGINT) AS bucket,
             |  CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_vecs,
             |  CAST(coalesce(cnt.n, 0) * 1000000 // nullif(tot.total, 0)
             |    AS BIGINT) AS share_e6,
             |  CAST(coalesce(cnt.n, 0) * $IvfCentroids * 1000000
             |    // nullif(tot.total, 0) AS BIGINT) AS load_e6
             |FROM b CROSS JOIN tot
             |LEFT JOIN cnt ON cnt.bucket = b.bucket
             |ORDER BY bucket""".stripMargin)),
  )

  /** Greedy MMR selection over an already-retrieved candidate page:
    * picks `k` ids maximizing `rel_e6 - max(sim_e6 to the picked set)`
    * with vec_id tiebreaks (round 1 has no picked set; its score is
    * rel). Driver-side O(|page|^2) on integers BY DESIGN — production
    * MMR re-ranks the retrieved page, never the corpus — so it loudly
    * refuses any page too large for a driver loop (wordShingleRows'
    * refusal pattern) instead of silently becoming a corpus scan.
    * `sim` must hold both orientations of every distinct pair.
    * Returns (vec_id, rel_e6, mmr_e6) in pick order. */
  private[graft] def mmrGreedy(cand: Seq[(Long, Long)],
      sim: Map[(Long, Long), Long], k: Int): Seq[(Long, Long, Long)] = {
    require(cand.length <= 64, s"MMR candidate page has ${cand.length} " +
      "rows; the driver-side greedy is bounded to 64 — re-rank a " +
      "retrieved page (TakeOrdered top-k), not a corpus")
    val relMap = cand.toMap
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val remaining = scala.collection.mutable.LinkedHashSet(cand.map(_._1): _*)
    for (_ <- 1 to math.min(k, cand.length)) {
      val (id, mmr) = remaining.iterator.map { c =>
        val m =
          if (picked.isEmpty) relMap(c)
          else relMap(c) - picked.iterator.map(p => sim((c, p._1))).max
        (c, m)
      }.toSeq.minBy { case (c, m) => (-m, c) }
      picked += ((id, relMap(id), mmr))
      remaining -= id
    }
    picked.toSeq
  }

  /** ss09's O(n) ADC stage: (q_id, vec_id, adc) for every
    * (query, corpus item) pair — corpus items carry only their 32
    * 4-bit codes; the score is 32 lookup-table reads summed in a
    * fixed j-ascending add chain (left-to-right, matching the
    * oracle's literal `+` chain bit for bit). Exposed separately so
    * the spec can measure ADC-stage ranking quality at depths below
    * the refine shortlist. */
  private[graft] def pqAdcScored(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorOps.register(s)
    val e = embeddings(s, dir)
    // corpus side: all 32 codes from ONE codegen'd PqEncode call
    val codes = e.select(col("vec_id"), pqEncodeCol(s).as("codes"))
    // query side: the M×K ADC lookup table from ONE codegen'd
    // PqAdcTable call (entry adc[j][c] = q_sub_j · codeword_jc, same
    // left-to-right dot as the oracle's list_dot_product). The
    // localCheckpoint materializes the 10 tables behind an exchange
    // barrier so the projection can never collapse into the scan
    // stage's generated method.
    val planes = Array.tabulate(PqM, PqK, PqSub)((j, c, i) => pqCentVal(j, c, i))
    s.sessionState.functionRegistry.createOrReplaceTempFunction("pq_adc_table",
      exprs => graft.functions.PqAdcTable(exprs(0), planes), "scala_udf")
    val probes = broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        call_function("pq_adc_table", col("v")).as("adc"))
      .localCheckpoint(true))
    s.sessionState.functionRegistry.createOrReplaceTempFunction("pq_adc_sum",
      exprs => graft.functions.PqAdcSum(exprs(0), exprs(1)), "scala_udf")
    codes.crossJoin(probes)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        call_function("pq_adc_sum", col("codes"), col("adc")).as("adc"))
  }
}
