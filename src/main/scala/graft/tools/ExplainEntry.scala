package graft.tools

import graft.SparkEntry
import graft.engine.Engine

/** Dump `.explain("formatted")` for registered entries to files — the
  * r16 optimization-round evidence trail (plans/r16/<name>_<tag>.txt).
  *
  * Run: `sbt "runMain graft.tools.ExplainEntry <sfDir> <outDir> <tag> <names>"`.
  *
  * Note: building an entry's DataFrame can itself run Spark jobs
  * (iterative operators checkpoint per round), so the dumped plan is the
  * FINAL lineage fragment (post-checkpoint) plus the terminal operators —
  * exactly the fragment a bench iteration re-executes per run.
  *
  * r17 (VERDICT r16 #8 — make loop-shaped evidence artifact-visible):
  * each dump now also EXECUTES the entry once through the same noop sink
  * Bench uses and appends (a) Spark job/stage/task counts split into the
  * BUILD phase (the fn() call — where iterative operators run their
  * rounds) and the EXECUTE phase (the terminal noop write), and (b) the
  * post-execution plan, where AQE has resolved ReusedExchange /
  * AQEShuffleRead and final join strategies. Claimed job-count or
  * exchange removals are then checkable against the files without
  * re-running Spark. */
object ExplainEntry {
  private class Counter extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      // GRAFT_EXPLAIN_JOBS=1: per-job trace on stderr — maps each Spark
      // job of a scripted/iterative entry to the call site that ran it
      if (sys.env.get("GRAFT_EXPLAIN_JOBS").contains("1")) {
        val names = j.stageInfos.map(_.name.takeWhile(_ != '\n').take(70))
          .mkString(" | ")
        System.err.println(
          s"[explain-job] #${j.jobId} stages=${j.stageInfos.size} $names")
      }
    }
    override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
    }
    def snapshot: (Int, Int, Int) = (jobs.get, stages.get, tasks.get)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = Engine.localSession()
    Engine.registerTables(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val counter = new Counter
      spark.sparkContext.addSparkListener(counter)
      val df = SparkEntry.queries(name)(spark, sfDir)
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext) // deliver the build-phase events
      val (bJobs, bStages, bTasks) = counter.snapshot
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // execute the df's OWN QueryExecution (not a write wrapper's) so
      // AQE finalizes the plan object we print below; materializes every
      // column of every row, like the bench's noop sink
      df.queryExecution.toRdd.foreach(_ => ())
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      val (tJobs, tStages, tTasks) = counter.snapshot
      spark.sparkContext.removeSparkListener(counter)
      val finalPlan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val out = txt +
        "\n\n== Job counts (noop-sink execution) ==\n" +
        s"build:   jobs=$bJobs stages=$bStages tasks=$bTasks\n" +
        s"execute: jobs=${tJobs - bJobs} stages=${tStages - bStages} " +
        s"tasks=${tTasks - bTasks}\n" +
        "\n== Final adaptive plan (post-execution: ReusedExchange / " +
        "AQEShuffleRead resolved) ==\n" + finalPlan
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), out)
      println(s"[explain] wrote $outDir/${name}_$tag.txt (${out.length} chars)")
    }
    spark.stop()
  }
}
