package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** The one-round hypercube join as a FIRST-CLASS plan node: logical
  * node + strategy + physical operator, registered through
  * `SparkSessionExtensions` ([[GraftExtensions]]) or runtime
  * `experimental.extraStrategies` (`HypercubeJoin.join` calls
  * [[HypercubeStrategy.ensureRegistered]]). The whole query stays
  * inside Catalyst: EnsureRequirements plans the ONE replicated-input
  * shuffle from `requiredChildDistribution` — the operator's defining
  * property is readable in the plan as its single Exchange — inputs
  * stay InternalRows end to end, and AQE still owns partition
  * coalescing above the exchange.
  *
  * Contract (enforced by the builder, `HypercubeJoin.join`):
  * the child is a UNION of per-relation fragments homogenized to
  *   (_hc_cell INT, _hc_rel INT, attr_0 .. attr_{K-1}, pay_0 .. pay_{P-1})
  * where a fragment row carries non-null values exactly in ITS
  * relation's attr slots (own-attr nulls pre-filtered; null attrs
  * never join) and its own payload slots. `keyPos(j)` lists the
  * output positions relation j shares with relations 0..j-1 — the
  * probe key of the per-cell hash fold. Because every previously-bound
  * attr of relation j is in its key, merging the remaining non-null
  * slots can never conflict.
  *
  * `childCols` repeats the child's output in the constructor so the
  * node's derived `references` covers every homogenized column —
  * column pruning must not strip the layout the fold indexes into.
  */
case class HypercubeJoinNode(
    output: Seq[Attribute],
    nRels: Int,
    nCells: Int,
    keyPos: Seq[Seq[Int]],
    childCols: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): HypercubeJoinNode =
    copy(child = newChild)
}

object HypercubeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: HypercubeJoinNode =>
      HypercubeJoinExec(n.output, n.nRels, n.nCells,
        n.keyPos.map(_.toArray).toArray, planLater(n.child)) :: Nil
    case _ => Nil
  }

  /** Idempotent, THREAD-SAFE runtime registration for sessions built
    * without `spark.sql.extensions=graft.plans.GraftExtensions`. The
    * live planner's strategy list already includes extension-injected
    * strategies, so an extensions-built session is a no-op here; the
    * append itself runs under a lock because an unsynchronized
    * contains-then-append from inside concurrently executing queries
    * can double-register (and a strategy firing twice plans the node
    * twice). Sessions that own their builder should prefer the
    * extensions config; this exists so `HypercubeJoin.join` can run on
    * ANY session. */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit =
    synchronized {
      val present =
        spark.sessionState.planner.strategies.contains(HypercubeStrategy) ||
          spark.experimental.extraStrategies.contains(HypercubeStrategy)
      if (!present)
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ HypercubeStrategy
    }
}

case class HypercubeJoinExec(
    output: Seq[Attribute],
    nRels: Int,
    nCells: Int,
    keyPos: Array[Array[Int]],
    child: SparkPlan) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)

  /** The single shuffle: co-locate every fragment of a cell. Pinning
    * requiredNumPartitions = nCells stops AQE from advisory-coalescing
    * the replicated shuffle by BYTES — the fold is compute-bound per
    * row, and letting a small-byte shuffle collapse to one partition
    * serialized every fold on one core (measured: 10.5 s vs 3.4 s on
    * the K=8000 hub-skew stress before this pin). Cells map to
    * partitions by HASH, not identity: some partitions carry a few
    * cells (their folds run sequentially) and ~1/e stay empty — the
    * pin's job is preventing the byte-based collapse, and the expected
    * max cells/partition stays O(log n / log log n) of even. Pick the
    * cube P at-or-above the cluster's parallelism. */
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(child.output.head),
      requiredNumPartitions = Some(nCells)))

  override protected def withNewChildInternal(newChild: SparkPlan): HypercubeJoinExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val types = child.output.drop(2).map(_.dataType).toArray
    require(types.length == output.length,
      s"homogenized child layout mismatch: ${types.length} columns for ${output.length} outputs")
    val kp = keyPos
    val nr = nRels
    child.execute().mapPartitions({ iter =>
      // SparkPlan contract: emit UnsafeRows (downstream casts)
      val toUnsafe = UnsafeProjection.create(types)
      // bucket this partition's rows per (cell, rel); extract values
      // from a COPY — exec iterators reuse the underlying row buffer,
      // and extracted UTF8Strings point into it
      val cells = mutable.LinkedHashMap.empty[Int, Array[mutable.ArrayBuffer[Array[Any]]]]
      iter.foreach { raw =>
        val row = raw.copy()
        val cell = row.getInt(0)
        val rel = row.getInt(1)
        val vals = new Array[Any](types.length)
        var i = 0
        while (i < types.length) {
          vals(i) = if (row.isNullAt(i + 2)) null else row.get(i + 2, types(i))
          i += 1
        }
        cells.getOrElseUpdate(cell,
          Array.fill(nr)(mutable.ArrayBuffer.empty[Array[Any]]))(rel) += vals
      }
      cells.valuesIterator.flatMap { frags =>
        // seed with relation 0's fragments, then hash-fold the rest:
        // index fragment j by its keyPos values, probe with the
        // accumulated binding, merge non-null slots (conflict-free by
        // the keyPos contract)
        var acc: Iterator[Array[Any]] = frags(0).iterator
        var j = 1
        while (j < nr) {
          val jj = j
          val idx = mutable.HashMap.empty[List[Any], mutable.ArrayBuffer[Array[Any]]]
          frags(jj).foreach { r =>
            idx.getOrElseUpdate(kp(jj).map(r(_)).toList,
              mutable.ArrayBuffer.empty) += r
          }
          val prev = acc
          acc = prev.flatMap { b =>
            idx.get(kp(jj).map(b(_)).toList) match {
              case None => Iterator.empty
              case Some(rs) => rs.iterator.map { r =>
                val b2 = b.clone()
                var i = 0
                while (i < r.length) {
                  if (r(i) != null) b2(i) = r(i)
                  i += 1
                }
                b2
              }
            }
          }
          j += 1
        }
        acc.map(arr => toUnsafe(new GenericInternalRow(arr)): InternalRow)
      }
    }, preservesPartitioning = true)
  }
}
