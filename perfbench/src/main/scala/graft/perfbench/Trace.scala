package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Spark work attributed to one span: the jobs, stages and tasks that ran
  * while the span was the innermost open one on the submitting thread.
  */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var taskMsMax = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskCpuNs += o.taskCpuNs; taskMsMax = math.max(taskMsMax, o.taskMsMax)
    gcMs += o.gcMs; inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
  }
}

/** One timed call into a layer. `batch` is the micro-batch id, or -1. */
final case class Span(id: Int, name: String, parent: Int, batch: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder plus the `SparkListener` that attributes task metrics to
  * spans. A span sets the `perfbench.span` local property on the calling
  * thread, so every job it submits carries the span id; stages and tasks
  * inherit it from their job. Spans stay in memory until [[write]].
  * Register with [[attach]]; untraced runs never construct one.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val work = new ConcurrentHashMap[Int, Work]()

  def attach(): this.type = { sc.addSparkListener(this); this }
  def detach(): Unit = { drain(); sc.removeSparkListener(this) }
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListenerBus(sc)

  def span[T](name: String, batch: Long = -1L)(body: => T): T = {
    val (id, parent) = synchronized {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open.push(id)
      (id, parent)
    }
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(Prop, prev)
      synchronized {
        spans += Span(id, name, parent, batch, t0, t1)
        open.pop()
      }
    }
  }

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt)

  private def workOf(span: Int): Work = work.computeIfAbsent(span, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      workOf(s).jobs += 1
      e.stageInfos.foreach(si => stageSpan.putIfAbsent(si.stageId, s))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach { s =>
      stageSpan.put(e.stageInfo.stageId, s)
      workOf(s).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val w = workOf(s)
      w.tasks += 1
      Option(e.taskInfo).foreach(ti => w.taskMsMax = math.max(w.taskMsMax, ti.duration))
      Option(e.taskMetrics).foreach { m =>
        w.taskCpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.inputBytes += m.inputMetrics.bytesRead
        w.outputBytes += m.outputMetrics.bytesWritten
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Work of `span` and every span nested under it. */
  def workUnder(span: Span): Work = {
    val children = all.groupBy(_.parent)
    val total = new Work
    def walk(id: Int): Unit = {
      Option(work.get(id)).foreach(total += _)
      children.getOrElse(id, Nil).foreach(c => walk(c.id))
    }
    walk(span.id)
    total
  }

  /** Write every span as one JSON line: name, start, end, parent, batch
    * and the span's own (not nested) work.
    */
  def write(path: Path): Unit = {
    val lines = all.sortBy(_.id).map { s =>
      val w = Option(work.get(s.id)).getOrElse(new Work)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"batch":${s.batch},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${w.jobs},"stages":${w.stages},""" +
        s""""tasks":${w.tasks},"task_cpu_ns":${w.taskCpuNs},"gc_ms":${w.gcMs},""" +
        s""""shuffle_bytes":${w.shuffleReadBytes + w.shuffleWriteBytes},""" +
        s""""spill_bytes":${w.spillBytes},"output_bytes":${w.outputBytes}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Wall time spent inside the Kafka-shaped source's partition readers
  * (construction re-reads the fixture; `next`/`get` replay rows). The
  * readers run on executor threads of the same JVM, so one process-wide
  * counter is enough; the traced batch body reads it before and after.
  */
object SourceClock {
  val readNs = new AtomicLong()
  def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally readNs.addAndGet(System.nanoTime() - t0)
  }
}
