package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Catalyst optimizer rule that rewrites a pure range join — an inner
  * join whose only cross-side predicate is `point BETWEEN lo AND hi` —
  * into the bin-bucketed plan of [[graft.operators.RangeJoin]], so the
  * rewrite also reaches plain SQL text (`FROM pts JOIN ivs ON p
  * BETWEEN lo AND hi`), not just callers of the operator API.
  *
  * Without an equality to hash on, Spark plans such a join as
  * BroadcastNestedLoopJoin — O(|L|·|R|) and a driver OOM candidate
  * when neither side is small. The rewrite projects a floor-division
  * bin id onto the point side, explodes each interval into the bins it
  * overlaps (`Generate(Explode(Sequence(bin(lo), bin(hi))))`), joins on
  * bin equality, and keeps the ORIGINAL condition conjoined — each
  * (point, interval) pair meets in exactly one bin (the point's), so
  * the rewrite is exactly-once by construction and needs no dedup.
  *
  * Scope guards (each keeps the rewrite semantics-preserving):
  *   - fires only when `spark.graft.rangeJoin.binWidth` is a positive
  *     long — the caller owns the width/replication trade-off, exactly
  *     like a range-join hint;
  *   - inner joins with a deterministic condition only;
  *   - requires a conjunct pair `p >= lo` / `p <= hi` with `p` from one
  *     side and `lo`, `hi` from the other; remaining conjuncts ride
  *     along in the new join condition;
  *   - skips joins that already have a cross-side equality conjunct
  *     (Spark hashes on that; the range is a cheap post-filter there) —
  *     which also makes the rule idempotent, since the rewritten join
  *     gains a bin equality;
  *   - integral and timestamp types only (exact cast to BIGINT).
  */
object RangeJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private val ConfKey = "spark.graft.rangeJoin.binWidth"

  // NOT TimestampNTZType: Spark refuses CAST(ts_ntz AS BIGINT)
  // (DATATYPE_MISMATCH), so a rewrite would turn a slow-but-working
  // BNLJ query into an analysis error
  private val binnable: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, TimestampType)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // toLongOption: this runs on EVERY plan once registered — a
    // malformed width must disable the rule, not fail unrelated queries
    val w = conf.getConfString(ConfKey, "0").toLongOption.getOrElse(0L)
    if (w <= 0) plan
    else plan.transformUp {
      case j @ Join(_, _, Inner, Some(cond), _) if cond.deterministic =>
        rewrite(j, w).getOrElse(j)
    }
  }

  /** `(e - pmod(e, w)) div w` on the BIGINT cast — floor division,
    * exact over the full long range (the quotient is exact after the
    * non-negative pmod is removed, so truncating div == floor div). */
  private def bin(e: Expression, w: Long): Expression = {
    // post-analysis construction: time-zone-aware nodes must carry the
    // session zone themselves (ResolveTimeZone has already run)
    val c = if (e.dataType == LongType) e
      else Cast(e, LongType, Some(conf.sessionLocalTimeZone))
    val width = Literal(w, LongType)
    IntegralDivide(Subtract(c, Pmod(c, width)), width)
  }

  private def rewrite(j: Join, w: Long): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(j.condition.get)
    def sideOf(e: Expression): Option[Boolean] = // Some(true) = left
      if (e.references.isEmpty) None
      else if (e.references.subsetOf(j.left.outputSet)) Some(true)
      else if (e.references.subsetOf(j.right.outputSet)) Some(false)
      else None
    // an existing cross-side equality means Spark already has a hash
    // key; also the idempotence guard (see scaladoc)
    val hasEquiKey = conjuncts.exists {
      case EqualTo(a, b) => (sideOf(a), sideOf(b)) match {
        case (Some(x), Some(y)) => x != y
        case _ => false
      }
      case _ => false
    }
    if (hasEquiKey) return None

    // normalize comparisons to (big, small) meaning big >= small
    val geq = conjuncts.collect {
      case c @ GreaterThanOrEqual(a, b) => (a, b, c)
      case c @ LessThanOrEqual(a, b) => (b, a, c)
    }
    // find p >= lo and hi >= p with p one side, lo/hi the other
    val candidates = for {
      (p1, lo, _) <- geq
      (hi, p2, _) <- geq
      if p1.semanticEquals(p2)
      pSide <- sideOf(p1)
      loSide <- sideOf(lo)
      hiSide <- sideOf(hi)
      if loSide == hiSide && loSide != pSide
      if (Seq(p1, lo, hi).forall(e => binnable.contains(e.dataType)))
    } yield (p1, lo, hi, pSide)
    val (p, lo, hi, pointOnLeft) = candidates.headOption.getOrElse(return None)

    val (pointPlan, intervalPlan) = if (pointOnLeft) (j.left, j.right) else (j.right, j.left)
    val pBinAlias = Alias(bin(p, w), "_rj_bin_p")()
    val pointBinned = Project(pointPlan.output :+ pBinAlias, pointPlan)
    val seq = Sequence(bin(lo, w), bin(hi, w), None,
      Some(conf.sessionLocalTimeZone))
    val iBinAttr = AttributeReference("_rj_bin_i", LongType,
      nullable = seq.dataType.asInstanceOf[ArrayType].containsNull)()
    val intervalBinned = Generate(Explode(seq), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(iBinAttr),
      child = intervalPlan)
    val binEq = EqualTo(pBinAlias.toAttribute, iBinAttr)
    val newCond = (binEq +: conjuncts).reduce(And)
    val (newLeft, newRight) =
      if (pointOnLeft) (pointBinned, intervalBinned)
      else (intervalBinned, pointBinned)
    Some(Project(j.output,
      Join(newLeft, newRight, Inner, Some(newCond), j.hint)))
  }
}
