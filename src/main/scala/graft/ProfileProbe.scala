package graft

/** Per-query measurement harness.
  *
  * For each named query: time PLANNING (analysis→physical) separately from
  * EXECUTION (noop materialize, same as Bench), and attribute execution to
  * task time vs everything else (driver/scheduler/stage gaps) with
  * [[ScaleProbe.Acc]]. Prints one TSV row per query:
  *
  *   name  plan_s  exec_s(min of N)  jobs  stages  tasks  task_time_s
  *   gc_s  shuffle_read_mb  shuffle_write_mb  compiles
  *
  * `exec_s − task_time_s/cores` ≫ 0 means the bill is stage scheduling /
  * driver work / serial actions, not executor compute — a different fix
  * class (fewer jobs/stages) than slow tasks. `compiles` counts the
  * codegen classes Janino compiled during that execution; every pass is
  * warm, so a non-zero value is a codegen-cache miss (an eviction, or
  * a class whose name or code differs per run).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ProfileProbe <regex>"
  */
object ProfileProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    val pattern = args.headOption.getOrElse(".*").r
    val spark = GraftSession.builder("graft-profile", s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => pattern.findFirstIn(n).isDefined }
    // warmup: JIT + codegen + classloading
    ordered.foreach { case (_, fn) =>
      try Bench.materialize(fn(spark, sfDir)) catch { case _: Throwable => () }
    }
    spark.sharedState.cacheManager.clearCache()
    println("name\tplan_s\texec_s\tjobs\tstages\ttasks\ttask_s\tgc_s\tshuf_rd_mb\tshuf_wr_mb\tcompiles")
    ordered.foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(name)
      // planning: build + force executedPlan, repeated to steady state
      val planTimes = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.queryExecution.executedPlan // forces analysis/optimization/planning
        (System.nanoTime() - t0) / 1e9
      }
      val execs = (1 to passes).map { _ =>
        val agg = new ScaleProbe.Acc
        spark.sparkContext.addSparkListener(agg)
        val t0 = System.nanoTime()
        Bench.materialize(fn(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        // drain before detaching: task-end events still queued would be lost
        org.apache.spark.GraftSparkBridge.waitListenerBusEmpty(spark.sparkContext)
        spark.sparkContext.removeSparkListener(agg)
        val compiles = agg.compiles // before the next pass compiles more
        spark.sharedState.cacheManager.clearCache()
        (dt, agg, compiles)
      }
      val (execMin, agg, compiles) = execs.minBy(_._1)
      def f(v: Double) = (math.round(v * 1000) / 1000.0).toString
      println(Seq(name, f(planTimes.min), f(execMin),
        agg.jobs.get, agg.stages.get, agg.tasks.get,
        f(agg.runMs.get / 1e3), f(agg.gcMs.get / 1e3),
        f(agg.shufRead.get / 1e6), f(agg.shufWrite.get / 1e6), compiles).mkString("\t"))
    }
    spark.stop()
  }
}
