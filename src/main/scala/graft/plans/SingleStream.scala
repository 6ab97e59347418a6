package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftFrames, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, PythonUDAF, SortOrder}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Expand, Filter, LeafNode, LogicalPlan, Project, Sort,
  UnaryNode, Union, WithCTE}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning, SinglePartition,
  UnspecifiedDistribution}
import org.apache.spark.sql.execution.{ProjectExec, ShuffledRowRDD, SortExec, SparkPlan, SparkStrategy,
  UnaryExecNode, UnsafeRowSerializer}
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.AggUtils
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLShuffleReadMetricsReporter,
  SQLShuffleWriteMetricsReporter}
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
  * partition instead: a local sort over [[SingleStreamExec]], which
  * gathers its input into one partition inside the result job. The map side
  * stays parallel, the sampling pass is gone, no exchange (and so no AQE
  * query stage and no job of its own) is planned for the gather, an input
  * already in one partition is not moved at all, and one already in one
  * ordered partition (a window without PARTITION BY) is not sorted again.
  * A root sort over a non-DISTINCT `GROUP BY` gathers the partial
  * aggregates and runs the final aggregate on the one partition, so the
  * hash exchange goes too: the whole reply is one job.
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
  * size Spark has when it plans the root exchange.
  *
  * When the sort's input is (under `Project`s) a non-DISTINCT aggregate
  * whose own input fits the advisory size too and plans no exchange (scans,
  * filters, projections, `GROUPING SETS` expansions and unions), the
  * aggregate plans as partial aggregate, gather, final aggregate: the one
  * final-aggregate task reads at most that much, and no hash exchange is
  * planned, so the reply is one job of two stages. Any other input (a
  * join, a generator, another aggregate, a larger or a DISTINCT one) keeps
  * the hash exchange below the gather: that is the stage whose measured
  * size lets AQE move an under-estimated result back to range
  * partitioning. */
object SingleStreamStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s @ SingleStream(c) => (if (fits(s)) single(c) else planLater(c)) :: Nil
    case _ => Nil
  }

  private def fits(p: LogicalPlan): Boolean =
    p.stats.sizeInBytes <= SQLConf.get.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  private def single(p: LogicalPlan): SparkPlan = p match {
    case Project(list, c) => ProjectExec(list, single(c))
    case Sort(order, true, c, _) =>
      SortExec(order, global = false, aggregated(c).getOrElse(SingleStreamExec(planLater(c))))
    case c => planLater(c)
  }

  /** `p`, a non-DISTINCT aggregate under any `Project`s, as final aggregate
    * over [[SingleStreamExec]] over partial aggregate; None for any other
    * plan, and when the aggregate's input does not fit or is not narrow. */
  private def aggregated(p: LogicalPlan): Option[SparkPlan] = p match {
    case Project(list, c) => aggregated(c).map(ProjectExec(list, _))
    case PhysicalAggregation(keys, aggs, results, c) if fits(c) && narrow(c) &&
        aggs.forall(a => !a.isDistinct && !a.aggregateFunction.isInstanceOf[PythonUDAF]) =>
      AggUtils.planAggregateWithoutDistinct(keys, aggs, results, planLater(c)) match {
        case Seq(last) if last.children.size == 1 =>
          Some(last.withNewChildren(SingleStreamExec(last.children.head) :: Nil))
        case _ => None
      }
    case _ => None
  }

  /** Plans no exchange, so AQE has nothing to measure below it. */
  private def narrow(p: LogicalPlan): Boolean = !p.exists {
    case _: LogicalQueryStage => true
    case _: Project | _: Filter | _: Expand | _: Union | _: LeafNode => false
    case _ => true
  }
}

/** Delivers its child's rows in ONE partition (`SinglePartition`). Once
  * no exchange below the child is left to run, the rows are gathered
  * inside the job that consumes them: a one-partition child passes through,
  * and a larger one is gathered by a single-partition shuffle this node
  * runs itself, the way `TakeOrderedAndProjectExec` gathers its top-k. No
  * exchange is planned for it, so under AQE the gather is a stage of the
  * result job rather than a query stage with a job of its own.
  *
  * While an exchange (or an AQE query stage) below has still to run, the
  * node asks for all tuples instead, so `EnsureRequirements` adds `Exchange
  * SinglePartition` when the child has more than one partition. AQE plans
  * the root again when that stage below finishes: from a measured size
  * still too large for one partition it swaps the single exchange for a
  * range exchange at equal cost, and from one that fits it plans this node
  * again, now gathering in the job, one exchange cheaper. (An in-job gather
  * planned before then would make the range exchange look a shuffle more
  * expensive, and AQE would keep the one partition.)
  *
  * The child's ordering passes through only when the child reports one
  * partition, so `RemoveRedundantSorts` drops the local sort above when that
  * partition already arrives in order. */
final case class SingleStreamExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] =
    if (child.outputPartitioning.numPartitions == 1) child.outputOrdering else Nil
  override def requiredChildDistribution: Seq[Distribution] =
    (if (staged) AllTuples else UnspecifiedDistribution) :: Nil

  private def staged: Boolean = child.exists {
    case _: Exchange | _: ReusedExchangeExec => true
    case s: QueryStageExec => !s.isMaterialized
    case _ => false
  }

  private lazy val writeMetrics = SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sparkContext)
  private lazy val readMetrics = SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sparkContext)
  override lazy val metrics: Map[String, SQLMetric] = readMetrics ++ writeMetrics

  override protected def doExecute(): RDD[InternalRow] = {
    val rows = child.execute()
    rows.getNumPartitions match {
      case 1 => rows
      // one empty partition, so an aggregate above without keys still
      // emits its one row
      case 0 => sparkContext.parallelize(Seq.empty[InternalRow], 1)
      case _ => new ShuffledRowRDD(ShuffleExchangeExec.prepareShuffleDependency(rows, child.output,
        SinglePartition, new UnsafeRowSerializer(child.output.size), writeMetrics), readMetrics)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SingleStreamExec =
    copy(child = newChild)
}
