package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.PlanBridge

/** Whole-operator top-k-per-key: the first `k` rows of each key group
  * under `order`, computed with bounded per-key heaps instead of the
  * `Window(row_number) + Filter(rank <= k)` plan, which sorts EVERY
  * group member. Planned as two physical nodes, mirroring Limit's
  * local/global split:
  *
  *   TopKPerKeyExec(final)   — requires ClusteredDistribution(keys)
  *     └ TopKPerKeyExec(partial) — any distribution
  *
  * so EnsureRequirements inserts one hash exchange between them and the
  * map side already reduces each partition to ≤ k rows per key it has
  * seen — the shuffle carries at most `partitions × keys × k` rows
  * instead of every candidate. Per-partition state is one k-row heap per
  * distinct key in that partition: for the candidate-pruning stages this
  * operator serves (ANN re-rank pools, per-query shortlists) that is
  * small by construction; a heap-spill would be the production add
  * beyond it.
  *
  * `order` must be a total order per key group (unique tiebreak column)
  * for deterministic results — the same requirement `row_number` has.
  * Results are emitted sorted by `order` within each key.
  *
  * This is the engine's (c)-tier Catalyst extension (custom LogicalPlan
  * + SparkStrategy + SparkPlan; see SURVEY.md §7.3) alongside the
  * expression tier (functions/) and the optimizer-rule tier
  * ([[RegexPrefixPushdown]]).
  */
case class TopKPerKeyNode(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: LogicalPlan) extends UnaryNode {
  require(k > 0, "k must be positive")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Plans [[TopKPerKeyNode]] as partial-then-final [[TopKPerKeyExec]]. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
    k: Int, partial: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(keys))

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val attrs = child.output
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, attrs)
      val ord = RowOrdering.create(sortOrder, attrs)
      // heap head = the WORST retained row (max under ord): a new row
      // displaces it iff the new row sorts strictly earlier
      val heaps = scala.collection.mutable.LinkedHashMap
        .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        val key = keyProj(row)
        heaps.get(key) match {
          case Some(q) =>
            if (q.size < limit) q.enqueue(row.copy())
            else if (ord.compare(row, q.head) < 0) { q.dequeue(); q.enqueue(row.copy()) }
          case None =>
            val q = new scala.collection.mutable.PriorityQueue[InternalRow]()(ord)
            q.enqueue(row.copy())
            heaps.put(key.copy(), q)
        }
      }
      heaps.valuesIterator.flatMap(q => q.toArray.sorted(ord).iterator)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKey {

  /** The first `k` rows per `keys` group under `order` — `(column,
    * descending?)` pairs, resolved by name against the frame's analyzed
    * output (Column objects carry lazily-resolved nodes in Spark 4 that
    * a custom logical operator cannot take through analysis). Planning
    * the result needs [[TopKStrategy]], which `graft.GraftExtensions`
    * injects into every session built by `graft.Session.local`; a session
    * without the extension cannot plan the node. */
  def topKPerKey(df: DataFrame, keys: Seq[String],
      order: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute = analyzed.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"no column '$n' in [${analyzed.output.map(_.name).mkString(", ")}]"))
    val sortOrders = order.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    PlanBridge.ofRows(spark,
      TopKPerKeyNode(keys.map(attr), sortOrders, k, analyzed))
  }
}
