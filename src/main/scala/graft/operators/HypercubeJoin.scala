package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HyperCube / Shares one-round multi-way equi-join (Afrati & Ullman
  * 2010; the reference fork's distinctive executor —
  * `spark.sql.hypercube.*` confs + the GLPK `shares.lp` load LP on a
  * modified Spark 2.1, reference `P/Benchmark.scala:85-92`,
  * `shares.lp:1-19` — re-expressed Spark-first).
  *
  * Model: a natural equi-join of relations R_j over attribute set A,
  * with a SHARE p_a per attribute, Π p_a = P. Reducers are the cells
  * of the p_1 × … × p_m hypercube. A tuple of R_j fixes the
  * coordinates of the attributes it contains (hash of the value) and
  * is REPLICATED across the dimensions it lacks; every join result
  * lives in exactly ONE cell — the coordinates are functions of the
  * attribute values — so no dedup is ever needed.
  *
  * Spark realization: one planned operator. Each relation is cubed
  * ([[cubed]]) and tagged with its linearized cell id; the fragments
  * are homogenized into one union and wrapped in
  * [[graft.plans.HypercubeJoinNode]], whose physical operator declares
  * the cell as its required distribution. EnsureRequirements inserts
  * the ONE replicated-input shuffle (readable in EXPLAIN as the single
  * `Exchange hashpartitioning(_hc_cell …)`), and each cell's fragments
  * are hash-folded locally — no intermediate result ever shuffles. The
  * coordinates also do the hypercube's other job, SKEW BOUNDING: a
  * heavy value of attr `a` no longer meets its counterparts in one
  * reducer, because the other attributes' coordinates split that key's
  * work across Π_{b≠a} p_b cells. That is what the binary-join plan
  * cannot do without explicit salting, and why the reference runs
  * cyclic (triangle/square) queries through this executor.
  *
  * Costs are the textbook ones: R_j is replicated Π_{a∉S_j} p_a
  * times. [[shares]] picks the integer share vector minimizing total
  * replicated input (the same objective the fractional LP's load bound
  * optimizes at fixed P) by EXACT enumeration of the factorizations of
  * P — P is the reducer count (dozens-to-thousands), so enumeration is
  * trivial and deterministic, where the reference shells out to GLPK.
  *
  * Semantics: natural inner join on shared attribute names — null
  * attr values never match, exactly as in the binary-join plan.
  * Non-attr payload columns are carried and must be uniquely named
  * across relations.
  */
object HypercubeJoin {

  /** One relation: `df` with its JOIN attributes (other columns are
    * carried as payload). */
  case class Rel(df: DataFrame, attrs: Seq[String])

  private def coordCol(a: String): String = s"_hc_$a"

  /** Integer shares minimizing total replicated input
    * Σ_j size_j · Π_{a∉S_j} p_a subject to Π_a p_a = P exactly
    * (all parallelism used — the relaxed problem degenerates to
    * p≡1 otherwise). Exact enumeration over factorizations of P;
    * deterministic tie-break (lexicographic). `relSizes` pairs each
    * relation's attrs with its (estimated) row count. */
  def shares(relSizes: Seq[(Seq[String], Double)], totalP: Int): Map[String, Int] = {
    require(totalP >= 1, s"totalP must be >= 1, got $totalP")
    require(relSizes.nonEmpty, "no relations")
    val attrs = relSizes.flatMap(_._1).distinct.sorted
    def cost(p: Map[String, Int]): Double = relSizes.map { case (s, w) =>
      w * attrs.filterNot(s.contains).map(p(_).toLong).product
    }.sum
    // enumerate all share vectors with product exactly totalP
    def enum(rest: List[String], remaining: Int): Seq[Map[String, Int]] = rest match {
      case Nil => if (remaining == 1) Seq(Map.empty) else Seq.empty
      case a :: tail =>
        (1 to remaining).filter(remaining % _ == 0).flatMap { pa =>
          enum(tail, remaining / pa).map(_ + (a -> pa))
        }
    }
    val candidates = enum(attrs.toList, totalP)
    require(candidates.nonEmpty, s"no factorization of $totalP over $attrs")
    candidates.minBy(p => (cost(p), attrs.map(p(_)).mkString(",")))
  }

  /** The executor hashes attr values into cell coordinates
    * (`xxhash64`), and xxhash64(1: INT) != xxhash64(1L: BIGINT) — a
    * shared attribute carried with DIFFERENT types would silently land
    * matching tuples in different cells (and the fold's boxed equality
    * would reject them even co-located). Fail loudly instead; callers
    * cast to a common type up front. */
  private def requireConsistentAttrTypes(rels: Seq[Rel]): Unit = {
    val byAttr = rels.flatMap(r => r.attrs.map(a => a -> r.df.schema(a).dataType))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct)
    val bad = byAttr.filter(_._2.size > 1)
    require(bad.isEmpty,
      s"hypercube attribute type mismatch across relations: " +
        bad.map { case (a, ts) => s"$a -> ${ts.mkString("/")}" }.mkString(", "))
  }

  /** The per-cell fold compares attribute values by OBJECT equality
    * (`HashMap` keys over extracted values) — types whose
    * runtime representation breaks value-equality would DROP co-located
    * matches silently (`Array[Byte]` compares by reference), the worst
    * failure mode there is. Fail loudly for all of them: struct/array/
    * map and BinaryType attrs are rejected up front. Payload columns
    * are unaffected (they are carried, never compared). */
  private def requireAtomicAttrTypes(rels: Seq[Rel]): Unit = {
    import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StructType}
    for (r <- rels; a <- r.attrs) {
      val t = r.df.schema(a).dataType
      val bad = t match {
        case _: StructType | _: ArrayType | _: MapType | BinaryType => true
        case _ => false
      }
      require(!bad,
        s"hypercube attribute $a must be an atomic, non-binary type, got $t")
    }
  }

  /** The cube-coordinate assignment for one relation: attributes the
    * relation HAS hash to a fixed coordinate; attributes it LACKS
    * explode over their full share range (the replication).
    * Coordinates are internal plumbing (xxhash64 — they never reach an
    * output surface). Exposed for the skew-spread spec. */
  private[graft] def cubed(r: Rel, attrs: Seq[String],
      shares: Map[String, Int]): DataFrame =
    attrs.foldLeft(r.df) { (d, a) =>
      if (r.attrs.contains(a))
        d.withColumn(coordCol(a),
          pmod(xxhash64(col(a)), lit(shares(a).toLong)).cast("int"))
      else
        d.withColumn(coordCol(a),
          explode(sequence(lit(0), lit(shares(a) - 1))))
    }

  /** Relative size estimates from Catalyst's optimized-plan statistics
    * — parquet footer totals, DSv2 `SupportsReportStatistics` (which
    * [[graft.sources.GenSource]] reports), CBO column stats — so the
    * Shares solver runs with ZERO jobs. The solver only compares
    * RELATIVE weights, so any consistent unit works: exact row counts
    * when every relation has one, else sizeInBytes when every relation
    * has a real (non-default-sentinel) estimate — normalized by each
    * relation's approximate row width (`schema.defaultSize`) so two
    * relations of equal cardinality but different column widths weigh
    * equally (raw bytes would hand the wide relation an oversized
    * share). defaultSize is an approximation (fixed per-type widths,
    * no encoding), so byte-derived weights stay an estimate — but an
    * unbiased-by-width one. None when Catalyst has no usable estimate
    * for some relation (mixing units across relations would bias the
    * solver, so it's all-or-nothing). */
  private[graft] def statsEstimates(rels: Seq[Rel]): Option[Seq[Double]] = {
    val stats = rels.map(_.df.queryExecution.optimizedPlan.stats)
    val rows = stats.map(_.rowCount)
    if (rows.forall(_.isDefined)) Some(rows.map(_.get.toDouble))
    else {
      val unknown = BigInt(
        rels.head.df.sparkSession.sessionState.conf.defaultSizeInBytes)
      val sizes = stats.map(_.sizeInBytes)
      if (sizes.forall(s => s > 0 && s < unknown))
        Some(rels.zip(sizes).map { case (r, s) =>
          s.toDouble / math.max(1, r.df.schema.defaultSize) })
      else None
    }
  }

  /** A share vector for [[join]] from statistics when Catalyst has
    * estimates (no job runs — the 100 TB path), `count()` jobs only as
    * the last-resort fallback. Exposed so callers can inspect or cache
    * the solve; pass better estimates to [[shares]] directly if you
    * have them. */
  def autoShares(rels: Seq[Rel], totalP: Int): Map[String, Int] = {
    val est = statsEstimates(rels)
      .getOrElse(rels.map(_.df.count().toDouble))
    shares(rels.map(_.attrs).zip(est), totalP)
  }

  /** The one-round multi-way join. Registers
    * [[graft.plans.HypercubeStrategy]] on sessions built without
    * `graft.plans.GraftExtensions` (idempotent). Output columns: each
    * attribute once, in first-appearance order, then every relation's
    * payload columns in relation order. */
  def join(rels: Seq[Rel], shares: Map[String, Int]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    require(rels.nonEmpty, "no relations")
    val attrs = rels.flatMap(_.attrs).distinct
    require(attrs.forall(shares.contains),
      s"missing shares for ${attrs.filterNot(shares.contains)}")
    requireConsistentAttrTypes(rels)
    requireAtomicAttrTypes(rels)
    shares.foreach { case (a, p) =>
      require(p >= 1, s"share for $a must be >= 1, got $p") }
    val spark = rels.head.df.sparkSession
    graft.plans.HypercubeStrategy.ensureRegistered(spark)
    val cell: Column = attrs.map(a => col(coordCol(a)))
      .zip(attrs.map(shares)).foldLeft(lit(0)) { case (acc, (c, p)) => acc * p + c }
    val relCols = rels.map(_.df.schema.fieldNames.toSeq)
    val attrType = attrs.map { a =>
      val ri = relCols.indexWhere(_.contains(a))
      a -> rels(ri).df.schema(a).dataType
    }.toMap
    val payloadCols = relCols.zipWithIndex.flatMap { case (cs, i) =>
      cs.filterNot(attrs.contains).map(c => (i, c))
    }
    val unified = rels.zipWithIndex.map { case (r, i) =>
      val nonNull = r.attrs.map(col(_).isNotNull).reduce(_ && _)
      val base = cubed(r.copy(df = r.df.filter(nonNull)), attrs, shares)
        .withColumn("_hc_cell", cell.cast("int"))
      val attrCols = attrs.map { a =>
        if (r.attrs.contains(a)) col(a).cast(attrType(a)).as(s"_hca_$a")
        else lit(null).cast(attrType(a)).as(s"_hca_$a")
      }
      val payCols = payloadCols.map { case (ri, c) =>
        val t = rels(ri).df.schema(c).dataType
        if (ri == i) col(c).cast(t).as(s"_hcp_${ri}_$c")
        else lit(null).cast(t).as(s"_hcp_${ri}_$c")
      }
      base.select((Seq(col("_hc_cell"), lit(i).as("_hc_rel")) ++
        attrCols ++ payCols): _*)
    }.reduce(_ unionByName _)
    val attrIdx = attrs.zipWithIndex.toMap
    val keyPos = {
      val seen = scala.collection.mutable.Set.empty[Int]
      rels.map { r =>
        val pos = r.attrs.map(attrIdx)
        val key = pos.filter(seen.contains)
        pos.foreach(seen.add)
        key
      }
    }
    val analyzed = unified.queryExecution.analyzed
    val outAttrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
      attrs.map(a => AttributeReference(a, attrType(a), nullable = true)()) ++
        payloadCols.map { case (ri, c) =>
          AttributeReference(c, rels(ri).df.schema(c).dataType, nullable = true)()
        }
    val nCells = attrs.map(shares(_)).product
    org.apache.spark.sql.graftshim.GraftShim.ofRows(spark,
      graft.plans.HypercubeJoinNode(outAttrs, rels.size, nCells, keyPos,
        analyzed.output, analyzed))
  }
}
