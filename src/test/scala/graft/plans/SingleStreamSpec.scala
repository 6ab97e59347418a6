package graft.plans

import graft.SparkTestBase
import graft.arrowio.ArrowIO
import graft.formats.Encoders
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import scala.jdk.CollectionConverters._

class SingleStreamSpec extends SparkTestBase {

  /** 3,000 rows over 4 partitions; `v` is unique apart from one NULL, so
    * every ORDER BY below has exactly one correct row order. */
  private def view(): Unit =
    spark.range(0, 3000, 1, 4)
      .selectExpr("id AS k", "CASE WHEN id = 7 THEN NULL ELSE id * 7919 % 3001 END AS v")
      .createOrReplaceTempView("ss_t")

  /** AQE's current physical plan: the initial one before execution. */
  private def initialPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  private def exchanges(df: DataFrame): Seq[Exchange] =
    initialPlan(df).collect { case e: Exchange => e }

  private def isRange(e: Exchange): Boolean = e match {
    case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[RangePartitioning]
    case _ => false
  }

  private def masked(bytes: Array[Byte]): String =
    new String(bytes, "UTF-8").replaceAll("\"elapsed\"\\s*:\\s*[0-9.eE+-]+", "\"elapsed\": 0")

  test("drain: a root ORDER BY over several partitions streams collect()'s rows in order") {
    view()
    // with AQE off as well as on (the session conf, set per run below)
    for (aqe <- Seq("true", "false"); q <- Seq("SELECT k, v FROM ss_t ORDER BY v DESC NULLS FIRST",
        "SELECT k FROM ss_t ORDER BY v", // Project over Sort
        "SELECT k, v FROM ss_t ORDER BY v ASC NULLS LAST",
        "WITH c AS (SELECT k, v FROM ss_t WHERE k > 5) SELECT v, k FROM c ORDER BY v DESC")) try {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      val df = spark.sql(q)
      val drained = SingleStream.frame(df)
      assert(drained ne df, s"not rewritten: $q")
      assert(!exchanges(drained).exists(isRange), s"range exchange left in: $q")
      assert(initialPlan(drained).exists(_.isInstanceOf[SingleStreamExec]))
      val want = spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
      assert(SingleStream.drain(spark.sql(q)).toSeq == want.collect().toSeq)
      Seq("CSV", "JSONCompact").foreach { f =>
        assert(masked(Encoders.encode(spark.sql(q), f, 0L)) == masked(Encoders.encode(want, f, 0L)),
          s"$f differs: $q")
      }
      assert(ArrowIO.toArrowStream(spark.sql(q)).sameElements(ArrowIO.toArrowStream(want)),
        s"Arrow differs: $q")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("drain starts exactly one Spark job fewer than toLocalIterator") {
    view()
    val q = "SELECT k, v FROM ss_t ORDER BY v DESC NULLS FIRST"
    val sc = spark.sparkContext
    val group = "single-stream-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    def count(run: => Unit): Int = {
      org.apache.spark.GraftListenerBus.drain(sc)
      jobs.set(0)
      sc.setJobGroup(group, group)
      try run finally sc.clearJobGroup()
      org.apache.spark.GraftListenerBus.drain(sc)
      jobs.get()
    }
    sc.addSparkListener(listener)
    try {
      val plain = count(spark.sql(q).toLocalIterator().asScala.foreach(_ => ()))
      val drained = count(SingleStream.drain(spark.sql(q)).foreach(_ => ()))
      assert(drained == plain - 1, s"plain $plain jobs, drained $drained")
    } finally sc.removeSparkListener(listener)
  }

  test("a window already on one ordered partition keeps its one exchange") {
    graft.engine.Engine.registerTables(spark, sfDir)
    val q = "SELECT o_orderkey, count(*) OVER (ORDER BY o_orderkey ROWS BETWEEN 2 PRECEDING " +
      "AND 2 FOLLOWING) AS n FROM orders ORDER BY o_orderkey"
    val df = spark.sql(q)
    val drained = SingleStream.frame(df)
    assert(drained ne df)
    Seq(df, drained).foreach { d =>
      val ex = exchanges(d)
      assert(ex.size == 1 && ex.head.outputPartitioning == SinglePartition, initialPlan(d).toString)
    }
    assert(SingleStream.drain(spark.sql(q)).toSeq == df.collect().toSeq)
  }

  test("ORDER BY ... LIMIT still plans TakeOrderedAndProject; unsorted roots are left alone") {
    view()
    val top = spark.sql("SELECT k, v FROM ss_t ORDER BY v LIMIT 10")
    assert(SingleStream.frame(top) eq top)
    assert(initialPlan(top).toString.contains("TakeOrderedAndProject"))
    val plain = spark.sql("SELECT k, v FROM ss_t WHERE v > 10")
    assert(SingleStream.frame(plain) eq plain)
  }

  test("a root ORDER BY sized over the advisory partition size keeps its range partitioning") {
    view()
    val q = "SELECT k, v FROM ss_t ORDER BY v DESC NULLS FIRST"
    try {
      // ss_t is tens of kilobytes, estimated and measured; one kilobyte
      // makes it too big to drain as a single partition
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
      val drained = SingleStream.frame(spark.sql(q))
      assert(exchanges(drained).exists(isRange), initialPlan(drained).toString)
      assert(!initialPlan(drained).exists(_.isInstanceOf[SingleStreamExec]))
      assert(drained.toLocalIterator().asScala.toSeq == spark.sql(q).collect().toSeq)
    } finally spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
  }

  test("AQE drains a root ORDER BY estimated large but measured small from one partition") {
    view()
    // the join's estimate is the product of its sides' sizes, far over the
    // advisory size; the aggregate's shuffle stage below the root measures
    // a few kilobytes, and AQE plans the root again from that
    val q = "SELECT a.k % 50 AS g, count(*) AS c FROM ss_t a JOIN ss_t b ON a.k = b.k " +
      "GROUP BY a.k % 50 ORDER BY g"
    val drained = SingleStream.frame(spark.sql(q))
    val before = initialPlan(drained)
    assert(!before.exists(_.isInstanceOf[SingleStreamExec]), before.toString)
    assert(exchanges(drained).exists(isRange), before.toString)
    assert(drained.toLocalIterator().asScala.toSeq == spark.sql(q).collect().toSeq)
    // AQE's current plan is the final one now that it has run, wrapped in
    // the result stage
    val after = initialPlan(drained) match {
      case r: QueryStageExec => r.plan
      case p => p
    }
    assert(after.exists(_.isInstanceOf[SingleStreamExec]), after.toString)
  }

  test("AQE moves a root ORDER BY estimated small but measured large back to range partitioning") {
    // a generator's output is estimated at its input's size (ten rows); the
    // aggregate's shuffle stage measures 2,000 groups, over ten kilobytes
    val q = "SELECT x, count(*) AS c FROM (SELECT explode(sequence(1, 2000)) AS x " +
      "FROM range(0, 10, 1, 4)) GROUP BY x ORDER BY x"
    try {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "10k")
      val drained = SingleStream.frame(spark.sql(q))
      assert(initialPlan(drained).exists(_.isInstanceOf[SingleStreamExec]))
      assert(drained.toLocalIterator().asScala.toSeq == spark.sql(q).collect().toSeq)
      val after = initialPlan(drained) match {
        case r: QueryStageExec => r.plan
        case p => p
      }
      assert(!after.exists(_.isInstanceOf[SingleStreamExec]), after.toString)
      assert(after.toString.contains("rangepartitioning"), after.toString)
    } finally spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
  }

  test("a tenant session (newSession) drains a root ORDER BY on one partition") {
    val s = new graft.server.TenantManager(spark).sessionFor(Some(("single_stream", "pw")))
    assert(s ne spark)
    s.range(0, 2000, 1, 4).selectExpr("id", "id % 97 * 100000 + id AS w")
      .createOrReplaceTempView("ss_tenant")
    val q = "SELECT id FROM ss_tenant ORDER BY w DESC"
    val df = s.sql(q)
    val drained = SingleStream.frame(df)
    assert(drained ne df)
    assert(initialPlan(drained).exists(_.isInstanceOf[SingleStreamExec]))
    assert(!exchanges(drained).exists(isRange))
    assert(SingleStream.drain(s.sql(q)).toSeq == df.collect().toSeq)
  }
}
