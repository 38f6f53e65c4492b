package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Executor-side totals attributed to one span. */
final class Acc {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, shuffleRead, shuffleWrite, spill, input, result = 0L
  def add(o: Acc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    runMs += o.runMs; gcMs += o.gcMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; input += o.input
    result += o.result
  }
}

final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Long, var end: Long = 0L)

/** One span per library call, kept in memory until the run ends. The
  * innermost open span's id is a SparkContext local property, so every job
  * (and its stages and tasks) the call submits is attributed to it by
  * [[SpanListener]]. When disabled the wrapper only runs the body. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var sc: SparkContext = _
  val listener = new SpanListener

  def attach(context: SparkContext): Unit = {
    sc = context
    if (enabled) {
      listener.stageSpan.clear() // stage ids restart with each context
      sc.addSparkListener(listener)
    }
  }

  def apply[T](name: String, op: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), op,
        System.nanoTime())
      spans += s
      stack = s.id :: stack
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.toString).orNull)
      }
    }

  def acc(id: Int): Acc = listener.bySpan.getOrDefault(id, new Acc)
}

object Tracer { val Key = "perfbench.span" }

class SpanListener extends SparkListener {
  val bySpan = new ConcurrentHashMap[Int, Acc]()
  val stageSpan = new ConcurrentHashMap[Int, Int]()

  private def accOf(span: Int): Acc = bySpan.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).foreach { span =>
        accOf(span).synchronized(accOf(span).jobs += 1)
        e.stageIds.foreach(stageSpan.put(_, span))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
      val a = accOf(span)
      a.synchronized(a.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageSpan.containsKey(e.stageId) && e.taskMetrics != null) {
      val a = accOf(stageSpan.get(e.stageId))
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.result += m.resultSize
      }
    }
}

/** Per-layer report: self time (span minus its child spans) and
  * attributed executor work, per span name and per op. */
object Layers {
  private val MB = 1024.0 * 1024.0

  /** Span duration minus the time its child spans cover, in ms. */
  private def selfMs(spans: Seq[Span]): Span => Double = {
    val childNs = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    s => (s.end - s.start - childNs.getOrElse(s.id, 0L)) / 1e6
  }

  def report(t: Tracer, cores: Int, extra: Map[String, Double])
      : Map[String, Double] = {
    val spans = t.spans.toSeq
    val selfMs = Layers.selfMs(spans)
    def named(n: String) = spans.filter(_.name == n)
    def meanSelf(n: String) = {
      val ss = named(n); if (ss.isEmpty) 0.0 else ss.map(selfMs).sum / ss.size
    }
    def meanJobs(n: String) = {
      val ss = named(n)
      if (ss.isEmpty) 0.0 else ss.map(s => t.acc(s.id).jobs).sum.toDouble / ss.size
    }
    // Executor totals per op: every job any span of the op submitted.
    val roots = spans.filter(s => s.parent < 0 && s.op >= 0)
    val perOp = roots.map { r =>
      val a = new Acc
      spans.filter(_.op == r.op).foreach(s => a.add(t.acc(s.id)))
      (r, a)
    }
    val n = math.max(1, perOp.size).toDouble
    def opMean(f: Acc => Double) = perOp.map(p => f(p._2)).sum / n
    val wallMs = roots.map(r => (r.end - r.start) / 1e6).sum
    val execSpans = named("exec")
    Map(
      "queries.define_ms" -> meanSelf("queries.define"),
      "queries.define_jobs" -> meanJobs("queries.define"),
      "engine.register_ms" -> meanSelf("engine.register"),
      "engine.remove_ms" -> meanSelf("engine.remove"),
      "plan.optimize_ms" -> meanSelf("plan.optimize"),
      "plan.physical_ms" -> meanSelf("plan.physical"),
      "exec.wall_ms" -> (if (execSpans.isEmpty) 0.0
        else execSpans.map(selfMs).sum / execSpans.size),
      "exec.jobs" -> opMean(_.jobs.toDouble),
      "exec.stages" -> opMean(_.stages.toDouble),
      "exec.tasks" -> opMean(_.tasks.toDouble),
      "exec.core_util" -> (if (wallMs <= 0) 0.0
        else perOp.map(_._2.runMs).sum / (wallMs * cores)),
      "exec.cpu_ms" -> opMean(_.cpuNs / 1e6),
      "exec.run_ms" -> opMean(_.runMs.toDouble),
      "exec.gc_ms" -> opMean(_.gcMs.toDouble),
      "exec.shuffle_read_mb" -> opMean(_.shuffleRead / MB),
      "exec.shuffle_write_mb" -> opMean(_.shuffleWrite / MB),
      "exec.spill_mb" -> opMean(_.spill / MB),
      "exec.input_mb" -> opMean(_.input / MB),
      "exec.result_mb" -> opMean(_.result / MB),
      "streaming.nd_batch_ms" -> meanSelf("streaming.nd_batch"),
      "streaming.nd_batch_jobs" -> meanJobs("streaming.nd_batch"),
      "sink.batch_ms" -> meanSelf("sink.batch"),
      "ivf.load_ms" -> meanSelf("ivf.load"),
      "ivf.probe_ms" -> meanSelf("ivf.probe"),
      "ivf.probe_jobs" -> meanJobs("ivf.probe"),
      "ivf.append_ms" -> meanSelf("ivf.append"),
      "ivf.delete_ms" -> meanSelf("ivf.delete"),
      "ivf.compact_ms" -> meanSelf("ivf.compact")
    ) ++ extra
  }

  /** Span counts and total self time per span name, for the text report. */
  def table(t: Tracer): Seq[(String, Int, Double, Long)] = {
    val spans = t.spans.toSeq
    val selfMs = Layers.selfMs(spans)
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.size, ss.map(selfMs).sum, ss.map(s => t.acc(s.id).jobs).sum)
    }.sortBy(-_._3)
  }
}
