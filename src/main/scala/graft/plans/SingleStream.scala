package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftFrames, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, UnaryNode, WithCTE}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning}
import org.apache.spark.sql.execution.{ProjectExec, SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf
import scala.jdk.CollectionConverters._

/** Marks the root of a plan whose rows one consumer drains, in order,
  * through `toLocalIterator`. Pass-through: same output, rows and order.
  *
  * A root `ORDER BY` planned the usual way is a global sort over a
  * range-partitioned exchange, and building the range partitioner runs a
  * sampling job that evaluates the sort's input a second time. That buys
  * nothing here: `RDD.toLocalIterator` runs the final stage one partition
  * per job, in sequence, so the final sort never runs in parallel anyway.
  * Under this marker [[SingleStreamStrategy]] meets the ordering on ONE
  * partition instead — a local sort over [[SingleStreamExec]], which asks
  * for all tuples in one partition. The map side stays parallel, the
  * sampling pass is gone, and an input that already sits in one ordered
  * partition (a window without PARTITION BY) gets no exchange and no sort.
  *
  * `toLocalIterator` fetches each partition whole, as one task result, so
  * that one partition is the whole sorted reply: the strategy plans it only
  * when the marked plan's size fits the advisory partition size, the size
  * AQE would coalesce the sorted output to anyway. Larger sorted results
  * keep the range partitioning and arrive in several partitions.
  *
  * The optimizer sees the marked plan's subtree exactly as it would see the
  * plain plan; only physical planning of the root sort changes. */
final case class SingleStream(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): SingleStream =
    copy(child = newChild)
}

object SingleStream {

  /** The frame the serve path drains for `df`: a root global `ORDER BY`
    * (under any `Project`s or a `WITH`) gets the [[SingleStream]] marker;
    * any other root, or a session whose planner lacks
    * [[SingleStreamStrategy]], keeps `df` as it is. */
  def frame(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    if (rootSort(plan) && planned(df)) GraftFrames.ofAnalyzed(df, SingleStream(plan)) else df
  }

  /** The one drain of the serve path: every reply's rows come from here,
    * one partition at a time (`toLocalIterator`). The driver holds one
    * partition at a time: a partition of Spark's own partitioning, or, for
    * a root sort planned on one partition, the whole reply, which Spark
    * sized at no more than the advisory partition size when it planned
    * that partition (see [[SingleStreamStrategy]]). */
  def drain(df: DataFrame): Iterator[Row] = frame(df).toLocalIterator().asScala

  private def rootSort(p: LogicalPlan): Boolean = p match {
    case Project(_, c) => rootSort(c)
    case WithCTE(c, _) => rootSort(c)
    case s: Sort => s.global
    case _ => false
  }

  private def planned(df: DataFrame): Boolean =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.planner.strategies.contains(SingleStreamStrategy)
}

/** Plans [[SingleStream]]. When the marked plan's size is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, `Project`s above the
  * root sort plan as usual and the global sort becomes a local one over
  * [[SingleStreamExec]]; a larger plan, or one whose root sort the
  * optimizer removed, plans as the marker's child alone. The size is
  * Spark's: the optimizer's estimate when the query is first planned and,
  * under AQE, which plans the marker again each time a stage finishes, the
  * sizes measured so far. A result estimated large but measured small below
  * the root exchange still drains from one partition, and one estimated
  * small but measured large before that exchange runs keeps the range
  * partitioning. Estimates can under-read (a generator's output is
  * estimated at its input's size), so the bound is only as good as the
  * size Spark has when it plans the root exchange. */
object SingleStreamStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s @ SingleStream(c) =>
      val fits = s.stats.sizeInBytes <= SQLConf.get.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      (if (fits) single(c) else planLater(c)) :: Nil
    case _ => Nil
  }

  private def single(p: LogicalPlan): SparkPlan = p match {
    case Project(list, c) => ProjectExec(list, single(c))
    case Sort(order, true, c, _) => SortExec(order, global = false, SingleStreamExec(planLater(c)))
    case c => planLater(c)
  }
}

/** Requires all tuples in one partition and passes the child's partitioning
  * and ordering through, so `EnsureRequirements` adds `Exchange
  * SinglePartition` only when the child has more than one partition, and
  * `RemoveRedundantSorts` drops the local sort above when the child already
  * delivers the order. */
final case class SingleStreamExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def requiredChildDistribution: Seq[Distribution] = AllTuples :: Nil
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(newChild: SparkPlan): SingleStreamExec =
    copy(child = newChild)
}
