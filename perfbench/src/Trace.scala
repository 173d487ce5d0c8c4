package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import scala.collection.mutable

/** Order statistics over measured samples. */
object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); 0 for no samples. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
}

/** Task counters the `spark` layer reports, summed over the jobs a span
  * (or a whole run) caused. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakTaskMem = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    gcMs += o.gcMs; shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; peakTaskMem = math.max(peakTaskMem, o.peakTaskMem)
  }

  def toJson: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_ms":$taskMs,"gc_ms":$gcMs,""" +
      s""""shuffle_read_b":$shuffleRead,"shuffle_write_b":$shuffleWrite,"spill_b":$spill,""" +
      s""""peak_task_mem_b":$peakTaskMem}"""
}

/** Attributes every job, stage and task to the span that submitted it,
  * through the `graftbench.span` local property the tracer sets. Jobs
  * submitted outside any span count under span 0. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  val bySpan = mutable.Map.empty[Int, Counts]

  private def counts(span: Int) = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(0)
    counts(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counts(stageSpan.getOrElse(e.stageInfo.stageId, 0)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageSpan.getOrElse(e.stageId, 0))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled
      c.peakTaskMem = math.max(c.peakTaskMem, m.peakExecutionMemory)
    }
  }
}

final case class Span(id: Int, parent: Int, trace: Int, layer: String, name: String,
    startNs: Long) {
  @volatile var endNs: Long = 0L
}

/** Spans recorded around the benchmark's calls into each graft layer:
  * name, start, end, parent and trace id, kept in memory and written out
  * when the run ends. A disabled tracer runs the bodies bare, so the
  * untraced run pays nothing for it. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  private var traces = 0
  val listener: Option[SpanListener] =
    if (enabled) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      // a thread without an open span (the stream execution thread) takes
      // its parent from the span property it inherited at query start
      val parent = stack.get.headOption.map(s => (s.id, s.trace)).orElse(
        Option(sc.getLocalProperty(Tracer.SpanProp)).map(_.toInt).filter(_ > 0)
          .map(id => synchronized((id, spans(id - 1).trace))))
      val s = synchronized {
        val (pid, tid) = parent.getOrElse { traces += 1; (0, traces) }
        val s = Span(spans.size + 1, pid, tid, layer, name, System.nanoTime())
        spans += s
        s
      }
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      stack.set(s :: stack.get)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(stack.get.tail)
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
      }
    }

  /** Every recorded span, closed ones only, in start order. */
  def all: Seq[Span] = synchronized(spans.filter(_.endNs > 0).toList)

  /** Span wall time minus the part of it its child spans cover. */
  def selfMs: Map[Int, Double] = {
    val closed = all
    val kids = closed.groupBy(_.parent)
    closed.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          val from = math.max(a, reach)
          if (b > from) (sum + (b - from), b) else (sum, reach)
        }._1
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  /** Counts the listener attributed to each span, after the bus drained. */
  def countsBySpan: Map[Int, Counts] = listener match {
    case Some(l) =>
      org.apache.spark.GraftBenchBus.drain(sc)
      l.synchronized(l.bySpan.toMap)
    case None => Map.empty
  }

  /** Counts of `span` and every span below it. */
  def inclusiveCounts(span: Int, bySpan: Map[Int, Counts]): Counts = {
    val kids = all.groupBy(_.parent)
    val total = new Counts
    def walk(id: Int): Unit = {
      bySpan.get(id).foreach(total.add)
      kids.getOrElse(id, Nil).foreach(k => walk(k.id))
    }
    walk(span)
    total
  }

  def writeJson(file: java.io.File): Unit = {
    val bySpan = countsBySpan
    val self = selfMs
    val w = new java.io.PrintWriter(file, "UTF-8")
    try {
      w.println("[")
      w.println(all.map { s =>
        s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"layer":"${s.layer}",""" +
          s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
          s""""self_ms":${self(s.id)},"counts":${bySpan.getOrElse(s.id, new Counts).toJson}}"""
      }.mkString(",\n"))
      w.println("]")
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
}

/** Files, bytes and rows the executed file scans of a query opened,
  * read from the scans' SQL metrics once the query ran. */
object ScanStats extends AdaptiveSparkPlanHelper {
  final case class Scan(files: Long, bytes: Long, rows: Long)

  def of(df: DataFrame): Scan = {
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    Scan(scans.map(m(_, "numFiles")).sum, scans.map(m(_, "filesSize")).sum,
      scans.map(m(_, "numOutputRows")).sum)
  }
}
