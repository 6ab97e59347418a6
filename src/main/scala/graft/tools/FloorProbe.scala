package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkEntry
import graft.engine.Engine
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Scheduling-floor decomposition for the adjudicated TPC-H weak set
  * (r11, VERDICT r10 #5): q64/q130/q131/q144 sit 7–17× over DuckDB at
  * sf≈1 with "scheduling floor" as the adjudication — this probe turns
  * that list entry into a measurement. For each entry it runs the exact
  * declared query under
  *
  *   - `base`:  the session's shipped tuning (32 shuffle partitions, AQE)
  *   - `floor`: shuffle.partitions=4 + AQE coalescing forced to 1
  *     partition minimum with a large advisory size — the fewest tasks
  *     the same plan can run in local[32]
  *
  * and records stage count × task count × wall seconds (Bench's own
  * warmup + min-of-N + block-drop protocol, [[Measure]], so rows are
  * comparable to the sf≈1 artifact). If the floor config is materially
  * faster, the shipped tuning is leaving single-node latency on the
  * table; if it is flat-to-slower, the gap to DuckDB is stage-graph
  * depth (shuffle count), not partition fan-out — which at 1000
  * executors is exactly the layout you want, and the decomposition is
  * on the record.
  *
  * Run: `sbt "runMain graft.tools.FloorProbe [sfDir] [entries] [iters]"`
  * (defaults: /tmp/graft_sf1 if present else sf0.1; the four weak TPC-H
  * entries; 3). One line per (entry, config). */
object FloorProbe {

  private class CountListener extends SparkListener {
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(sc.stageInfo.numTasks)
    }
    def reset(): Unit = { stages.set(0); tasks.set(0) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir =
      if (args.length > 0) args(0)
      else if (new java.io.File("/tmp/graft_sf1/lineitem.parquet").exists())
        "/tmp/graft_sf1"
      else "/root/testdata/sf0.1"
    val entries: Seq[String] =
      if (args.length > 1) args(1).split(",").map(_.trim).toSeq
      else Seq("q64_tpch_q9", "q130_tpch_q18_shape", "q131_tpch_q21_shape",
        "q144_tpch_q7_shape")
    val iters = if (args.length > 2) args(2).toInt else 3
    val spark = Engine.localSession()
    Engine.registerTables(spark, sfDir)
    val listener = new CountListener
    spark.sparkContext.addSparkListener(listener)
    Engine.tableNames.foreach(t => spark.table(t).count())

    val configs: Seq[(String, () => Unit)] = Seq(
      "base" -> (() => {
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionNum", "1")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      }),
      "floor" -> (() => {
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionNum", "1")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512m")
      }))

    entries.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown entry $name"))
      def run(): Double =
        Measure.timed(spark)(Measure.runNoop(fn(spark, sfDir))).orThrow
      configs.foreach { case (cfg, apply) =>
        apply()
        run() // warmup
        val runs = (1 to iters).map { _ =>
          // listener events are async: drain the bus before resetting and
          // reading so task counts attribute to the right run
          org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
          listener.reset()
          val t = run()
          org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
          (t, listener.stages.get, listener.tasks.get)
        }
        val ts = runs.map(_._1).sorted
        val best = runs.minBy(_._1)
        println(f"FLOOR entry=$name%-22s cfg=$cfg%-5s stages=${best._2}%3d " +
          f"tasks=${best._3}%4d min=${ts.head}%.2fs median=${ts(ts.length / 2)}%.2fs")
      }
      // restore shipped tuning before the next entry
      configs.head._2()
    }
    spark.stop()
  }
}
