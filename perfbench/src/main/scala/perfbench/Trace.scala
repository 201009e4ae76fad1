package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** One traced interval. Times are `System.nanoTime` values; `parent` is -1
  * for a root span; `trace` groups the spans of one pass, batch or phase. */
final case class Span(id: Int, parent: Int, trace: String, name: String,
                      start: Long, end: Long)

/**
 * In-memory span recorder. Spans are opened and closed around the calls
 * the benchmark makes into each layer; Spark jobs and stages are added as
 * child spans by [[JobListener]]. Nothing is written until [[write]].
 * When disabled, [[span]] only runs its body.
 */
final class Tracer(val enabled: Boolean) {
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private var stack: List[(Int, String)] = Nil

  def current: Int = stack.headOption.map(_._1).getOrElse(-1)
  def currentTrace: String = stack.headOption.map(_._2).getOrElse("-")

  def span[T](name: String, trace: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      val tr = if (trace != null) trace else currentTrace
      stack = (id, tr) :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        done.add(Span(id, parent, tr, name, t0, System.nanoTime()))
      }
    }

  /** Adds a span recorded elsewhere (the listener thread). */
  def add(parent: Int, trace: String, name: String, start: Long, end: Long): Unit =
    done.add(Span(ids.incrementAndGet(), parent, trace, name, start, end))

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.start)

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val all = spans
    val kids = all.groupBy(_.parent)
    val lines = all.map { s =>
      val covered = Tracer.covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)),
        s.start, s.end)
      s"""{"id":${s.id},"parent":${s.parent},"trace":${Json.str(s.trace)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_s":${Json.num((s.end - s.start - covered) / 1e9)}}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** Length of [lo, hi) covered by the union of the intervals. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}

/** Per-operation Spark accounting gathered by [[JobListener]]. */
final class OpAccount {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/**
 * The benchmark's own Spark listener: counts jobs, stages and tasks per
 * operation (keyed by the `perfbench.op` local property the benchmark sets
 * before each action) and, when tracing, adds job and stage spans under the
 * operation's span. Listener event times are wall-clock milliseconds; they
 * are mapped onto the tracer's nanoTime axis with an offset fixed at start.
 */
final class JobListener(tracer: Tracer) extends SparkListener {
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNano(ms: Long): Long = ms * 1000000L + nanoOffset

  val accounts = new java.util.concurrent.ConcurrentHashMap[String, OpAccount]()
  private val jobOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val opSpan = new java.util.concurrent.ConcurrentHashMap[String, (Int, String)]()

  /** Registers the span that the jobs of operation `op` hang under. */
  def bindOp(op: String, spanId: Int, trace: String): Unit = opSpan.put(op, (spanId, trace))

  private def account(op: String): OpAccount = accounts.computeIfAbsent(op, _ => new OpAccount)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
    op.foreach { o =>
      jobOp.put(e.jobId, o)
      account(o).synchronized { account(o).jobs += 1 }
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobStart.put(e.jobId, toNano(e.time))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val o = jobOp.get(e.jobId)
    if (o != null && tracer.enabled) {
      val (parent, trace) = Option(opSpan.get(o)).getOrElse((-1, o))
      tracer.add(parent, trace, "spark.job", jobStart.get(e.jobId), toNano(e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val job = stageJob.get(si.stageId)
    val o = if (job == null) null else jobOp.get(job)
    if (o != null) {
      val a = account(o)
      for (s <- si.submissionTime; c <- si.completionTime) {
        a.synchronized { a.stages += 1; a.stageIntervals += ((toNano(s), toNano(c))) }
        if (tracer.enabled) {
          val (parent, trace) = Option(opSpan.get(o)).getOrElse((-1, o))
          tracer.add(parent, trace, "spark.stage", toNano(s), toNano(c))
        }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.get(e.stageId)
    val o = if (job == null) null else jobOp.get(job)
    if (o != null && e.taskMetrics != null) {
      val a = account(o)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        a.taskRunMs += m.executorRunTime
        a.taskCpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
      }
    }
  }
}

/** Per-action operator metrics of the flagship plan: collect + build +
  * broadcast time and size of the forward (`gaz_key`) and reverse (`cands`)
  * broadcasts, and the parquet scan's file bytes and scan time. */
final case class PlanStats(fwdBuildS: Double, fwdMb: Double, revBuildS: Double,
                           revMb: Double, scanBytes: Double, scanS: Double)

object PlanMetrics {
  /** Reads the operators' SQLMetrics of an executed plan after its action. */
  def of(plan: SparkPlan): PlanStats = {
    var fb, fm, rb, rm, sb, ss = 0.0
    def m(p: SparkPlan, name: String): Double = p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)
    def visit(p: SparkPlan): Unit = {
      p match {
        case b: BroadcastExchangeExec =>
          val names = b.output.map(_.name).toSet
          val build = (m(b, "collectTime") + m(b, "buildTime") + m(b, "broadcastTime")) / 1e3
          val mb = m(b, "dataSize") / 1048576.0
          if (names.contains("gaz_key")) { fb += build; fm += mb }
          else if (names.contains("cands")) { rb += build; rm += mb }
        case f: FileSourceScanExec =>
          sb += m(f, "filesSize")
          ss += m(f, "scanTime") / 1e3
        case _ =>
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(plan)
    PlanStats(fb, fm, rb, rm, sb, ss)
  }
}

/** Catches the executed plan of every successful action. */
final class PlanCatcher extends org.apache.spark.sql.util.QueryExecutionListener {
  val plans = new ConcurrentLinkedQueue[SparkPlan]()
  override def onSuccess(funcName: String,
                         qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = plans.add(qe.executedPlan)
  override def onFailure(funcName: String,
                         qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()
  def drainAll(): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    var p = plans.poll()
    while (p != null) { out += p; p = plans.poll() }
    out.toSeq
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
