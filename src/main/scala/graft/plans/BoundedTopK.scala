package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, Expression, RowNumber, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ProjectExec, SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}

/** Map-side bounded top-k per group — replaces the `Sort (local) +
  * WindowGroupLimit(Partial)` pair Spark plans below the exchange of a
  * `row_number() ≤ k` window filter.
  *
  * Spark's partial WindowGroupLimit already caps what the shuffle
  * carries at k rows per group per task, but it demands its input
  * LOCALLY SORTED by (partition, order) first — an O(n log n) sort of
  * every scored row, with every row copied into the sort buffer. This
  * operator keeps a bounded binary heap per group instead: each input
  * row costs one hash probe plus (only when the heap is full and the
  * row beats the current worst) one generated-ordering comparison —
  * no global sort, rejected rows are never copied. The emitted rows
  * per group are exactly the k first rows of the sorted run the
  * partial limit would have produced (the orderings are identical),
  * so the Final WindowGroupLimit / Window / Filter above — which
  * re-sorts and re-ranks after the exchange — computes byte-identical
  * results. Where the old plan was only as deterministic as its total
  * order (ties beyond the order columns resolved arbitrarily by the
  * unstable sort), this one is too: rows equal under
  * (partition, order) are interchangeable in both.
  *
  * Memory is bounded by groups·(k+1) retained rows per task. The
  * group count per task is capped by `spark.graft.topk.maxGroupsPerTask`
  * (default 1 M): beyond the cap, rows of NEW groups pass through
  * unpruned — semantically safe (the Final window re-filters; the
  * partial prune is advisory), so a high-cardinality group column can
  * never OOM where the old sort would have spilled.
  */
case class BoundedTopKExec(
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    limit: Int,
    child: SparkPlan) extends SparkPlan with UnaryExecNode {

  override def nodeName: String = "GraftBoundedTopK"
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numGroups" -> SQLMetrics.createMetric(sparkContext, "number of groups"),
    "numPassThroughRows" -> SQLMetrics.createMetric(sparkContext,
      "rows passed through after the group cap"))

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numGroups = longMetric("numGroups")
    val numPassThrough = longMetric("numPassThroughRows")
    val childOutput = child.output
    val part = partitionSpec
    val order = orderSpec
    val k = limit
    val maxGroups = conf.getConfString(
      "spark.graft.topk.maxGroupsPerTask", "1048576").toInt

    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(part, childOutput)
      // generated ordering: row A "less than" B  ⇔  A sorts before B
      // under orderSpec (incl. null ordering) — the same total order
      // the removed SortExec used
      val ord = GenerateOrdering.generate(order, childOutput)

      // shared pass-through/drain skeleton; `absorbOne` returns null
      // when the row was retained (or dropped), or the row itself when
      // the group cap forces a pass-through
      abstract class TopKIterator extends Iterator[InternalRow] {
        protected def absorbOne(row: InternalRow): InternalRow
        protected def drained(): java.util.Iterator[InternalRow]
        private var pending: InternalRow = null
        private var drain: java.util.Iterator[InternalRow] = null
        override def hasNext: Boolean = {
          if (pending != null) return true
          while (pending == null && iter.hasNext) pending = absorbOne(iter.next())
          if (pending != null) return true
          if (drain == null) drain = drained()
          drain.hasNext
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          numOutputRows += 1
          if (pending != null) { val r = pending; pending = null; r }
          else drain.next()
        }
      }

      if (k == 1) {
        // row_number() = 1 (dedup-to-best): one retained row per group,
        // no heap — a hash max-by
        val best = new java.util.HashMap[UnsafeRow, InternalRow]()
        new TopKIterator {
          override protected def absorbOne(row: InternalRow): InternalRow = {
            val key = keyProj(row)
            val cur = best.get(key)
            if (cur == null) {
              if (best.size() >= maxGroups) {
                numPassThrough += 1
                return row // emit unpruned; Final window re-filters
              }
              best.put(key.copy(), row.copy())
              numGroups += 1
            } else if (ord.compare(row, cur) < 0) {
              best.put(key, row.copy())
            }
            null
          }
          override protected def drained() = best.values().iterator()
        }
      } else {
        // heap head = the WORST retained row (max under ord), so one
        // compare decides accept/reject once a group has k rows
        val worstFirst: java.util.Comparator[InternalRow] = ord.reversed()
        val heaps =
          new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
        new TopKIterator {
          override protected def absorbOne(row: InternalRow): InternalRow = {
            val key = keyProj(row)
            var heap = heaps.get(key)
            if (heap == null) {
              if (heaps.size() >= maxGroups) {
                numPassThrough += 1
                return row
              }
              heap = new java.util.PriorityQueue[InternalRow](k, worstFirst)
              heap.offer(row.copy())
              heaps.put(key.copy(), heap)
              numGroups += 1
            } else if (heap.size() < k) {
              heap.offer(row.copy())
            } else if (ord.compare(row, heap.peek()) < 0) {
              heap.poll()
              heap.offer(row.copy())
            } // else: not in this task's top-k — drop
            null
          }
          override protected def drained() = {
            val all = new java.util.ArrayList[InternalRow]()
            heaps.values().forEach(h => all.addAll(h))
            all.iterator()
          }
        }
      }
    }, preservesPartitioning = true)
  }
}

/** AQE query-stage preparation rule (runs after EnsureRequirements):
  * rewrites a `WindowGroupLimitExec(Partial)` whose rank function is
  * `row_number()` — the only rank-like function whose partial output
  * is exactly k rows per group — over a local `SortExec` into
  * [[BoundedTopKExec]] on the sort's child.
  *
  * The heap only beats Spark's run-length sort when groups ≪ rows (a
  * huge scored stream collapsing onto few group keys); when group
  * count ≈ row count (per-row dedup windows) the hash+heap churn
  * LOSES to the prefix sort (measured 0.68–0.74× on q39/q41/q183).
  * So the rewrite fires only when every partition key provably comes
  * from the BUILD side of a broadcast join below — a relation small
  * enough to broadcast bounds the group count, and the stream side
  * supplies the many rows. `spark.graft.topk.enabled=false` disables
  * the rewrite outright.
  */
case class BoundedTopKRule(session: SparkSession) extends Rule[SparkPlan] {

  /** True iff `keys` all resolve (through projections/filters) to
    * attributes produced by the build side of a broadcast join in
    * `plan`'s subtree — the structural signature of "few groups, huge
    * stream". An empty key set is one global group: always few.
    */
  private def keysFromBroadcastBuild(plan: SparkPlan, keys: AttributeSet): Boolean = {
    if (keys.isEmpty) return true
    plan match {
      case p: ProjectExec =>
        // follow the keys through aliases to their source attributes;
        // an alias of a constant contributes nothing (a constant key
        // cannot raise the group count)
        val aliasRefs = p.projectList.collect {
          case a: Alias => a.exprId -> a.child.references
        }.toMap
        val remapped = keys.toSeq.flatMap(k => aliasRefs.get(k.exprId) match {
          case Some(refs) => refs.toSeq
          case None => Seq(k)
        })
        keysFromBroadcastBuild(p.child, AttributeSet(remapped))
      case j: BroadcastHashJoinExec =>
        val (build, stream) = j.buildSide match {
          case BuildLeft => (j.left, j.right)
          case BuildRight => (j.right, j.left)
        }
        keys.subsetOf(build.outputSet) ||
          (keys.subsetOf(stream.outputSet) && keysFromBroadcastBuild(stream, keys))
      case j: BroadcastNestedLoopJoinExec =>
        val (build, stream) = j.buildSide match {
          case BuildLeft => (j.left, j.right)
          case BuildRight => (j.right, j.left)
        }
        keys.subsetOf(build.outputSet) ||
          (keys.subsetOf(stream.outputSet) && keysFromBroadcastBuild(stream, keys))
      case u: UnaryExecNode if keys.subsetOf(u.child.outputSet) =>
        keysFromBroadcastBuild(u.child, keys)
      case _ => false
    }
  }

  override def apply(plan: SparkPlan): SparkPlan = {
    if (!session.conf.get("spark.graft.topk.enabled", "true").toBoolean) plan
    else plan.transformUp {
      case WindowGroupLimitExec(part, order, _: RowNumber, limit, Partial,
          SortExec(_, false, child, _))
          if limit > 0 &&
            keysFromBroadcastBuild(child, AttributeSet(part.flatMap(_.references))) =>
        BoundedTopKExec(part, order, limit, child)
    }
  }
}
