package graft.plans

import graft.SparkTestBase
import graft.arrowio.ArrowIO
import graft.formats.Encoders
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
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

  /** The Spark jobs and the stages that ran (skipped ones left out) while
    * `run` ran, counted under a job group of its own. */
  private def jobsAndStages(run: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val group = "single-stream-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    def ours(p: java.util.Properties) =
      Option(p).exists(_.getProperty("spark.jobGroup.id") == group)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (ours(js.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (ours(ss.properties)) stages.incrementAndGet()
    }
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try run finally sc.clearJobGroup()
      org.apache.spark.GraftListenerBus.drain(sc)
      (jobs.get(), stages.get())
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` with AQE on, then off. */
  private def withAqeOnAndOff(body: String => Unit): Unit =
    for (aqe <- Seq("true", "false")) try {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      body(aqe)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    initialPlan(df).collect { case e: ShuffleExchangeExec => e }

  test("drain runs a sorted reply in one job, two fewer than toLocalIterator") {
    view()
    val q = "SELECT k, v FROM ss_t ORDER BY v DESC NULLS FIRST"
    // toLocalIterator: the range partitioner's sampling job, AQE's shuffle
    // stage, the result job; drain: the result job, which gathers the four
    // partitions itself
    val (plain, _) = jobsAndStages(spark.sql(q).toLocalIterator().asScala.foreach(_ => ()))
    val (drained, _) = jobsAndStages(SingleStream.drain(spark.sql(q)).foreach(_ => ()))
    assert(plain == 3 && drained == 1, s"plain $plain jobs, drained $drained")
  }

  test("a 4-partition GROUP BY k ORDER BY k drains in one job with no shuffle exchange") {
    view()
    val q = "SELECT k % 40 AS g, count(*) AS c, sum(v) AS s FROM ss_t GROUP BY k % 40 ORDER BY g DESC"
    withAqeOnAndOff { aqe =>
      val drained = SingleStream.frame(spark.sql(q))
      assert(shuffles(drained).isEmpty, s"aqe=$aqe: ${initialPlan(drained)}")
      assert(initialPlan(drained).exists(_.isInstanceOf[SingleStreamExec]))
      val want = spark.sql(q).collect().toSeq
      var got = Seq.empty[org.apache.spark.sql.Row]
      // the partial aggregates' map stage, then the gather and the final
      // aggregate in the result stage
      assert(jobsAndStages { got = SingleStream.drain(spark.sql(q)).toSeq } == ((1, 2)), s"aqe=$aqe")
      assert(got == want, s"aqe=$aqe")
      // an input the optimizer knows is empty has no partitions; the
      // gather still hands the final aggregate one, for its one row
      val empty = "SELECT count(*) AS c, max(v) AS m FROM ss_t WHERE 1 = 0 ORDER BY c"
      assert(SingleStream.drain(spark.sql(empty)).toSeq == spark.sql(empty).collect().toSeq, s"aqe=$aqe")
    }
  }

  test("an ORDER BY over a one-partition input plans no shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("single-stream").resolve("t").toString
    try {
      spark.range(0, 500).selectExpr("id AS k", "id * 7919 % 503 AS v").coalesce(1).write.parquet(dir)
      spark.read.parquet(dir).createOrReplaceTempView("ss_one")
      val q = "SELECT k, v FROM ss_one ORDER BY v DESC"
      withAqeOnAndOff { aqe =>
        val drained = SingleStream.frame(spark.sql(q))
        assert(shuffles(drained).isEmpty, s"aqe=$aqe: ${initialPlan(drained)}")
        val want = spark.sql(q).collect().toSeq
        var got = Seq.empty[org.apache.spark.sql.Row]
        // one job of one stage: the scan's one split passes the gather by
        assert(jobsAndStages { got = SingleStream.drain(spark.sql(q)).toSeq } == ((1, 1)), s"aqe=$aqe")
        assert(got == want, s"aqe=$aqe")
      }
    } finally {
      // the session is shared: no view over the deleted files may outlive the test
      spark.catalog.dropTempView("ss_one")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir).getParentFile)
    }
  }

  test("an aggregate whose input is over the advisory size keeps its hash exchange") {
    // 40 local rows of an 8-byte key and a binary value (estimated at 100
    // bytes), over a kilobyte; the aggregate's two longs are under one
    spark.createDataFrame((0 until 40).map(i => (i % 4L, i.toString.getBytes("UTF-8"))))
      .toDF("k", "b").createOrReplaceTempView("ss_wide")
    val q = "SELECT k, count(b) AS c FROM ss_wide GROUP BY k ORDER BY k"
    try {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
      withAqeOnAndOff { aqe =>
        val drained = SingleStream.frame(spark.sql(q))
        val agg = drained.queryExecution.optimizedPlan.collectFirst {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        }.get
        assert(agg.stats.sizeInBytes <= 1024 && agg.child.stats.sizeInBytes > 1024)
        val plan = initialPlan(drained)
        assert(plan.exists(_.isInstanceOf[SingleStreamExec]), s"aqe=$aqe: $plan")
        assert(shuffles(drained).exists(_.outputPartitioning.isInstanceOf[HashPartitioning]),
          s"aqe=$aqe: $plan")
        assert(SingleStream.drain(spark.sql(q)).toSeq == spark.sql(q).collect().toSeq, s"aqe=$aqe")
      }
    } finally spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
  }

  test("a DISTINCT aggregate gathers above its final aggregate, as before") {
    view()
    val q = "SELECT k % 40 AS g, count(DISTINCT v % 7) AS c FROM ss_t GROUP BY k % 40 ORDER BY g"
    withAqeOnAndOff { aqe =>
      val drained = SingleStream.frame(spark.sql(q))
      val plan = initialPlan(drained)
      val gather = plan.collectFirst { case g: SingleStreamExec => g }.get
      // every aggregate, final one included, runs below the gather
      assert(plan.collect { case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a }
        .forall(a => gather.exists(_ eq a)), s"aqe=$aqe: $plan")
      assert(shuffles(drained).exists(_.outputPartitioning.isInstanceOf[HashPartitioning]),
        s"aqe=$aqe: $plan")
      assert(SingleStream.drain(spark.sql(q)).toSeq == spark.sql(q).collect().toSeq, s"aqe=$aqe")
    }
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
