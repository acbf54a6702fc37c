package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/**
 * Extra benchmark main (guide §1.4 isolation — the driver-contract
 * `graft.Bench` is frozen; this one exists for optimization-round evidence).
 *
 * For each named query: one warmup pass, then `reps` timed passes of the
 * SAME action the frozen bench uses (`.count()`), reporting per query
 *   - best wall seconds, and
 *   - min summed executor task-seconds (SparkListener executorRunTime) —
 * task-seconds are the window-robust number on this shared-tenant host
 * (hypervisor steal moves wall 5-10x between windows while summed task time
 * moves far less), so before/after comparisons quote BOTH, measured
 * back-to-back where possible. Best-of-N also separates "the operator is
 * slow" from "the bench window was slow" when a headline number looks off.
 *
 * Usage: runMain graft.tools.BenchExtra <sfDir> <reps> <query...>
 */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: BenchExtra <sfDir> <reps> <query...>\n" +
        s"queries: ${graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val known = graft.SparkEntry.queries.keySet
    val unknown = names.filterNot(known)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")}; valid: ${known.toSeq.sorted.mkString(", ")}")
    val spark = graft.GraftSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-benchextra")
    val taskMs = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        taskMs.addAndGet(e.taskMetrics.executorRunTime)
    })
    graft.testgen.WebCorpus.pagesMaterialized(spark, sfDir)
    for (name <- names) {
      spark.sparkContext.setJobDescription(s"benchextra: $name")
      val fn = graft.SparkEntry.queries(name)
      fn(spark, sfDir).count() // warm: codegen + JIT + page cache
      val samples = (1 to reps).map { _ =>
        // listener events drain asynchronously; settle before sampling
        Thread.sleep(200)
        val c0 = taskMs.get()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200)
        (wall, (taskMs.get() - c0) / 1000.0)
      }
      println(f"[bx] $name wallBest=${samples.map(_._1).min}%.3f " +
        f"taskSecMin=${samples.map(_._2).min}%.2f " +
        f"walls=${samples.map(s => f"${s._1}%.2f").mkString(",")} " +
        f"taskSecs=${samples.map(s => f"${s._2}%.1f").mkString(",")}")
    }
    spark.stop()
  }
}
