package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.perfbench.Listeners

/** One timed interval at a layer boundary. Times are milliseconds on
  * the epoch clock so Spark's own job events line up with the spans
  * the benchmark records.
  */
final case class Span(id: Long, round: String, name: String, parent: Long,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder. With tracing off every call runs the body
  * and records nothing, so the untraced run pays one branch per call.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private def nowMs = t0Ms + (System.nanoTime() - t0Nanos) / 1e6
  private var nextId = 1L
  private val stack = mutable.Stack.empty[Long]
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var current = "setup"

  /** The round that spans and Spark jobs from now on belong to. */
  def round: String = current
  def round_=(r: String): Unit = {
    current = r
    if (enabled) sc.setLocalProperty(ScopeListener.RoundKey, r)
  }

  val listener = new ScopeListener
  if (enabled) sc.addSparkListener(listener)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack.push(id)
      sc.setLocalProperty(ScopeListener.SpanKey, id.toString)
      val start = nowMs
      try body
      finally {
        recorded += Span(id, round, name, parent, start, nowMs)
        stack.pop()
        sc.setLocalProperty(ScopeListener.SpanKey,
          stack.headOption.map(_.toString).orNull)
      }
    }

  /** Waits until Spark has delivered every event of the work so far. */
  def drain(): Unit = if (enabled) Listeners.drain(sc)

  /** The benchmark's spans plus one `spark.job` span per Spark job,
    * parented to the benchmark span that was open when it started.
    */
  def spans: Seq[Span] = recorded.toSeq ++ listener.jobSpans

  /** Duration of `s` not covered by any of its child spans. */
  def selfMs(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id)
      .map(k => (k.startMs max s.startMs, k.endMs min s.endMs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    kids.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = curB max b
    }
    if (!curA.isNaN) covered += curB - curA
    s.ms - covered
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startMs).map { s =>
      f"""{"id":${s.id},"round":"${s.round}","name":"${s.name}","parent":${s.parent},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

/** Task-level counters summed per (round, span) from Spark's listener
  * bus. Jobs inherit the span that was open on the submitting thread
  * through Spark's local properties.
  */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output, outputRecords = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input; output += o.output
    outputRecords += o.outputRecords
  }
}

object ScopeListener {
  val SpanKey = "perfbench.span"
  val RoundKey = "perfbench.round"
}

final case class Scope(round: String, span: Long)

final class ScopeListener extends SparkListener {
  import ScopeListener._
  private val stageScope = new ConcurrentHashMap[Int, Scope]()
  private val jobScope = new ConcurrentHashMap[Int, (Scope, Long)]()
  private val jobDone = mutable.ArrayBuffer.empty[Span]
  val counters = new ConcurrentHashMap[(String, Long), Counters]()

  private def of(s: Scope) =
    counters.computeIfAbsent((s.round, s.span), _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val scope = Scope(
      p.flatMap(x => Option(x.getProperty(RoundKey))).getOrElse("none"),
      p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong)
        .getOrElse(0L))
    jobScope.put(e.jobId, (scope, e.time))
    e.stageIds.foreach(stageScope.put(_, scope))
    of(scope).synchronized(of(scope).jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobScope.remove(e.jobId)).foreach { case (s, start) =>
      jobDone.synchronized {
        jobDone += Span(-e.jobId - 1L, s.round, "spark.job", s.span,
          start.toDouble, e.time.toDouble)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageScope.get(e.stageInfo.stageId)).foreach { s =>
      val c = of(s)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageScope.get(e.stageId)).foreach { s =>
      val c = of(s)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuMs += m.executorCpuTime / 1000000L
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
          c.output += m.outputMetrics.bytesWritten
          c.outputRecords += m.outputMetrics.recordsWritten
        }
      }
    }

  def jobSpans: Seq[Span] = jobDone.synchronized(jobDone.toSeq)

  /** Sum of the counters of `round` over the given spans. */
  def sum(round: String, spans: Iterable[Long]): Counters = {
    val out = new Counters
    spans.foreach(id => Option(counters.get((round, id))).foreach(out.add))
    out
  }

  def spansOf(round: String): Set[Long] =
    counters.keySet().asScala.collect { case (r, id) if r == round => id }.toSet
}
