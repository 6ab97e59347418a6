package graft.tools

import graft.SparkEntry
import graft.engine.Engine

/** Dev-loop micro-bench: time registered queries without paying the full
  * Bench sweep. Warms each up once (codegen/JIT), then times `iters` runs
  * with Bench's protocol ([[Measure]]), so TimeQuery numbers predict
  * Bench numbers.
  *
  * Run: `sbt "runMain graft.tools.TimeQuery <sfDir> <name[,name…]> [iters]"`.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val iters = if (args.length > 2) args(2).toInt else 3
    val spark = Engine.localSession()
    Engine.registerTables(spark, sfDir)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def run(): Double =
        Measure.timed(spark)(Measure.runNoop(fn(spark, sfDir))).orThrow
      run() // warmup
      val times = Seq.fill(iters)(run())
      println(f"[time] $name: min ${times.min}%.3f s  median ${times.sorted.apply(times.length / 2)}%.3f s over $iters runs")
    }
    spark.stop()
  }
}
