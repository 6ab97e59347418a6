package graft

import graft.engine.Engine
import graft.tools.Measure

/** Benchmark main (driver contract): runs every registered query on
  * `SPARK_GRAFT_SF_DIR`, forcing full materialization through the `noop`
  * sink ([[Measure.runNoop]]), and prints two JSON lines ([[lines]]).
  */
object Bench {
  /** (steal, total) jiffies from /proc/stat's aggregate cpu line — field 8
    * is time stolen by the hypervisor. Sampled before and after the sweep so
    * the artifact records how noisy the measurement window actually was:
    * this VM shows minute-to-minute CPU steal that inflated a full r5 sweep
    * a uniform 1.38× with zero code changes. None on non-Linux. */
  private def cpuJiffies(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Throwable => None }

  /** The two stdout lines, detail first and compact summary last. Each
    * entry's value is its min-of-N seconds, or None when one of its timed
    * runs failed: a failed entry is `null` in `queries`, is left out of
    * `total`, and counts in `failed`. */
  def lines(results: Seq[(String, Option[Double])], sfDir: String,
      stealPct: Option[Double]): (String, String) = {
    val qs = results.map {
      case (k, Some(v)) => "\"" + k + f"\":$v%.4f"
      case (k, None) => "\"" + k + "\":null"
    }.mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    val failed = results.count(_._2.isEmpty)
    val steal = stealPct.fold("")(p => f""","steal_pct":$p%.2f""")
    (f"""{"metric":"total","value":$total%.4f,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir"$steal}""",
      f"""{"metric":"total","value":$total%.4f,"unit":"sec","n":${results.length},"failed":$failed,"sf":"$sfDir"$steal}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.localSession(cpus)
    Engine.registerTables(spark, sfDir)

    // Warmup pass: whole-stage codegen compilation, JIT, parquet footer
    // caches. First execution of each distinct query shape costs 2-4× its
    // steady-state time in compilation alone (measured); the steady state is
    // what a serving engine (the reference is a long-lived server) delivers.
    // SPARK_GRAFT_BENCH_ONLY=a,b,c — targeted patch-in runs for the sf≈1
    // artifact (same warmup + min-of-N + block-drop protocol as the full
    // sweep, so patched-in rows are comparable); driver runs unfiltered
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // SPARK_GRAFT_BENCH_TRACE=1: per-entry wall times on stderr (r13 —
    // the only way to find a stalled entry inside the otherwise-silent
    // warmup sweep)
    val trace = sys.env.get("SPARK_GRAFT_BENCH_TRACE").contains("1")
    Engine.tableNames.foreach(t => spark.table(t).count())
    ordered.foreach { case (name, fn) =>
      val w = Measure.timed(spark)(Measure.runNoop(fn(spark, sfDir)))
      if (trace) System.err.println(f"[bench-trace] warmup $name ${w.seconds}%.2fs")
    }

    // min of N timed runs per query: a single measurement is hostage to a
    // badly-timed GC pause (observed: one 1.6 s query reading 42 s in a
    // full sweep, reproducible at neither standalone nor the next sweep);
    // the min is the steady-state figure a serving engine delivers.
    val timedIters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    val jiffies0 = cpuJiffies()
    val results = ordered.map { case (name, fn) =>
      val runs = (1 to timedIters).map { _ =>
        val r = Measure.timed(spark)(Measure.runNoop(fn(spark, sfDir)))
        r.failure.foreach(e =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"))
        r
      }
      name -> (if (runs.exists(_.failure.nonEmpty)) None
        else Some(runs.map(_.seconds).min))
    }
    // steal% over the timed window: jiffy deltas machine-flag a noisy run
    // (cross-round comparisons on this box are only valid as ratios)
    val stealPct = (jiffies0, cpuJiffies()) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
        Some(100.0 * (s1 - s0) / (t1 - t0))
      case _ => None
    }
    // Detail line first, compact summary line LAST: the driver keeps a
    // 2000-char tail of stdout, which used to truncate the per-query dict
    // mid-stream (BENCH_r*.json `parsed: null` every round). With the
    // summary printed after the dict, the tail always ENDS with one short
    // machine-parseable JSON line (r6 verdict task #5).
    //
    // r17 (VERDICT r16 #1-wrong/#2): `parsed: null` persisted through r16
    // because BOTH lines went through println — inside sbt's `runMain`,
    // System.out is redirected through the sbt logger, which prefixes
    // every line with "[info] ", and the driver's parser is prefix-naive
    // (BENCH_r13..r16 tails all show `[info] {"metric":...}`). Writing
    // the bytes straight to file descriptor 1 bypasses the in-process
    // logger redirection: the same stdout pipe the driver captures, no
    // prefix. Timing methodology, fields, and line order are UNCHANGED —
    // this is purely the §1 measurement-bug fix the round brief allows
    // (documented in OPTIMIZATION_r17.md, old numbers kept).
    def rawStdoutLine(s: String): Unit = {
      System.out.flush() // keep logger-buffered lines ahead of the raw write
      val out = new java.io.FileOutputStream(java.io.FileDescriptor.out)
      out.write((s + "\n").getBytes("UTF-8"))
      out.flush() // deliberately NOT closed: closing would close fd 1
    }
    val (detail, summary) = lines(results, sfDir, stealPct)
    rawStdoutLine(detail)
    rawStdoutLine(summary)
    spark.stop()
  }
}
