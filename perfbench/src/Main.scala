package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What one workload needs from the runner. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, tracer: Tracer,
    cores: Int) {
  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)
}

/** The timed phase's result. `e2e` holds the workload's readings of the
  * shared end-to-end metrics; `layer` its per-layer readings (only
  * consulted in a traced run); `input` the generated input's properties. */
final case class Outcome(e2e: Map[String, Double], layer: Map[String, Double],
    ops: Long, opsFailed: Long, checks: Seq[(String, Boolean)], input: Map[String, Any])

trait Workload {
  type State
  /** Generate the inputs from the seed under `dir` and build what the
    * timed phase reads. */
  def setup(ctx: Ctx, dir: File): State
  /** Untimed work of the timed phase's shape, after the last set-up and
    * outside `setup_s`, so JIT compilation, code generation and lazy
    * initialisation finish before timing. Returns the state the timed
    * phase starts from. */
  def warmup(ctx: Ctx, st: State): State
  /** Run the timed phase for `ctx.seconds` inside a `timed` span, then
    * check the outputs. */
  def run(ctx: Ctx, st: State): Outcome
}

object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupRounds = 3
  /** Fewest units (days, passes) a timed phase runs, so its medians
    * pass over one unit a burst of host load slowed. */
  val MinUnits = 3

  /** Metric names and units, in order, from BENCHMARK.json: every
    * end-to-end metric for an untraced run, every per-layer metric for a
    * traced one. A layer's self time is reported as `self_s.<layer>`. */
  final case class Spec(endToEnd: Seq[(String, String)], perLayer: Seq[(String, String)]) {
    def layers: Seq[String] =
      perLayer.map(_._1).filter(_.startsWith("self_s.")).map(_.stripPrefix("self_s."))
  }

  def loadSpec(path: String): Spec = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(path))
    def metrics(key: String) = {
      val it = root.get(key).elements()
      val out = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val m = it.next(); out += m.get("name").asText -> m.get("unit").asText }
      out.result()
    }
    Spec(metrics("end_to_end"), metrics("per_layer"))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work"))
    val spec = loadSpec(opts("spec"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val workload: Workload = workloadName match {
      case "ingest" => Ingest
      case "curate" => Curate
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    work.mkdirs()
    val spark = graft.GraftSession.builder("graftbench", s"local[$cores]")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.streaming.numRecentProgressUpdates", 100000)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(traced, spark.sparkContext)
    val ctx = Ctx(spark, seed, seconds, tracer, cores)

    val setupSecs = (0 until SetupRounds).map { i =>
      val dir = new File(work, s"setup-$i")
      val t0 = System.nanoTime()
      val st = ctx.span("bench", s"setup.$i")(workload.setup(ctx, dir))
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"graftbench: setup $i took $dt%.2f s")
      if (i > 0) deleteTree(new File(work, s"setup-${i - 1}"))
      (dt, st)
    }
    val w0 = System.nanoTime()
    val state = ctx.span("bench", "warmup")(
      workload.warmup(ctx, setupSecs.last._2.asInstanceOf[workload.State]))
    System.err.println(f"graftbench: warmup took ${(System.nanoTime() - w0) / 1e9}%.2f s")

    val steal0 = cpuTicks()
    val t0 = System.nanoTime()
    val out = ctx.span("bench", "run")(workload.run(ctx, state))
    val runS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"graftbench: run took $runS%.2f s")

    val failedChecks = out.checks.count(!_._2)
    out.checks.filterNot(_._2).foreach { case (c, _) => System.err.println(s"CHECK FAILED: $c") }
    val steal1 = cpuTicks()
    val e2e = Map("setup_s" -> Stats.median(setupSecs.map(_._1))) ++ out.e2e
    // a layer the workload does not reach reads 0
    val metrics =
      if (!traced) spec.endToEnd.map { case (k, u) => k -> (e2e(k), u) }
      else {
        val layer = layerMetrics(ctx, out, spec.layers) ++
          (out.e2e + ("peak_rss_mb" -> peakRssMb())).map { case (k, v) => s"trace.$k" -> v }
        spec.perLayer.map { case (k, u) => k -> (layer.getOrElse(k, 0.0), u) }
      }
    if (traced) {
      val dir = new File(opts.getOrElse("out", work.getPath))
      dir.mkdirs()
      tracer.writeJson(new File(dir, s"trace-$workloadName-$seed.json"))
    }
    spark.stop()

    val correct = failedChecks == 0 && out.opsFailed == 0
    // the hypervisor's share of the host's CPU time while the timed phase
    // ran: steal inflates every wall-clock metric of the run
    val stealShare = (steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2)
    println("GRAFTBENCH-INPUT " + Json.obj(out.input + ("workload" -> workloadName) +
      ("seed" -> seed) + ("cpu_steal_share" -> stealShare) +
      ("checks" -> out.checks.map(c => s"${c._1}=${c._2}"))))
    println("GRAFTBENCH-RESULT " + Json.obj(Map(
      "correct" -> correct,
      "attempted" -> (out.ops + out.checks.size),
      "failed" -> (out.opsFailed + failedChecks),
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)))
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  /** The per-layer metrics of the timed phase: the spans under the
    * workload's `timed` span, the checks after it left out. */
  private def layerMetrics(ctx: Ctx, out: Outcome, layers: Seq[String]): Map[String, Double] = {
    val tr = ctx.tracer
    val bySpan = tr.countsBySpan
    val spans = tr.all
    val timed = spans.find(s => s.layer == "bench" && s.name == "timed").get
    val c = tr.inclusiveCounts(timed.id, bySpan)
    val inTimed = {
      val byId = spans.map(s => s.id -> s).toMap
      def under(s: Span): Boolean =
        s.id == timed.id || (s.parent != 0 && byId.get(s.parent).exists(under))
      spans.filter(under)
    }
    val self = tr.selfMs
    val ops = math.max(1L, out.ops).toDouble
    val driverS = math.max(0.0, (timed.endNs - timed.startNs) / 1e9 - c.taskMs / 1e3 / ctx.cores)
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble, "spark.task_s" -> c.taskMs / 1e3,
      "spark.gc_s" -> c.gcMs / 1e3, "spark.shuffle_read_mb" -> c.shuffleRead / mb,
      "spark.shuffle_write_mb" -> c.shuffleWrite / mb, "spark.spill_mb" -> c.spill / mb,
      "spark.peak_task_mem_mb" -> c.peakTaskMem / mb, "spark.driver_s" -> driverS,
      "spark.jobs_per_op" -> c.jobs / ops, "spark.driver_ms_per_op" -> driverS * 1e3 / ops,
      "trace.spans" -> spans.size.toDouble) ++
      layers.map(l => s"self_s.$l" -> inTimed.filter(_.layer == l).map(s => self(s.id)).sum / 1e3) ++
      out.layer
  }

  /** CPU time of this JVM, all threads. */
  def cpuMs(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** (steal, total) ticks of the host's CPUs from /proc/stat. */
  private def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Bytes of every regular file under `f`. */
  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
