package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Spark work attributed to one job group: task counts, the task
  * metrics the per-layer table reports, and the wall time of its
  * completed stages, split into shuffle-map and result stages. */
final class SparkWork {
  var tasks = 0L
  var runMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var gcMs = 0L
  var peakExecMem = 0L
  var recordsWritten = 0L
  var shuffleStageMs = 0L
  var resultStageMs = 0L
  def add(o: SparkWork): Unit = {
    tasks += o.tasks; runMs += o.runMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; gcMs += o.gcMs
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    recordsWritten += o.recordsWritten
    shuffleStageMs += o.shuffleStageMs; resultStageMs += o.resultStageMs
  }
}

/** One traced call: name, start, end, the span that caused it and the run
  * it belongs to. Spark jobs started inside it carry its job group. */
final case class Span(id: Long, name: String, parent: Long, runId: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def group: String = Trace.groupOf(id)
}

/** The traced run's recorder. Spans are kept in memory and written out
  * once at the end; a benchmark-owned [[SparkListener]] attributes task
  * metrics to spans through the job group each span sets. When tracing
  * is off, [[span]] only runs its body. */
object Trace {
  private val JobGroup = "spark.jobGroup.id"
  @volatile var enabled = false
  val runId: String = java.util.UUID.randomUUID().toString
  private var sc: SparkContext = _
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val work = new java.util.concurrent.ConcurrentHashMap[String, SparkWork]()
  private val shuffleMapStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  def groupOf(spanId: Long): String = s"perfbench-span-$spanId"

  /** Start recording on `spark`'s context; a no-op unless enabled. */
  def init(context: SparkContext, on: Boolean): Unit = {
    enabled = on
    sc = context
    if (on) context.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroup)))
        g.foreach(grp => e.stageIds.foreach(s => stageGroup.put(s, grp)))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageGroup.get(e.stageId)).foreach { g =>
          if (e.taskType == "ShuffleMapTask") shuffleMapStages.add(e.stageId)
          val m = e.taskMetrics
          val w = work.computeIfAbsent(g, _ => new SparkWork)
          if (m != null) w.synchronized {
            w.tasks += 1
            w.runMs += m.executorRunTime
            w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            w.gcMs += m.jvmGCTime
            w.peakExecMem = math.max(w.peakExecMem, m.peakExecutionMemory)
            w.recordsWritten += m.outputMetrics.recordsWritten
          }
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        Option(stageGroup.get(s.stageId)).foreach { g =>
          val ms = (for (a <- s.submissionTime; b <- s.completionTime) yield b - a).getOrElse(0L)
          val w = work.computeIfAbsent(g, _ => new SparkWork)
          w.synchronized {
            if (shuffleMapStages.contains(s.stageId)) w.shuffleStageMs += ms else w.resultStageMs += ms
          }
        }
      }
    })
  }

  /** Run `body` as a span named `name`, child of the calling thread's
    * current span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      val saved = sc.getLocalProperty(JobGroup)
      sc.setLocalProperty(JobGroup, groupOf(id))
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        sc.setLocalProperty(JobGroup, saved)
        spans.synchronized { spans += Span(id, name, parents.headOption.getOrElse(0L), runId, t0, t1) }
      }
    }

  /** The job group of the calling thread's current span. */
  def currentGroup: String = groupOf(stack.get.headOption.getOrElse(0L))

  /** Record a span whose interval was timed elsewhere (e.g. inside a
    * fetcher running on an executor thread). */
  def record(name: String, t0: Long, t1: Long): Unit =
    if (enabled) spans.synchronized {
      spans += Span(ids.incrementAndGet(), name, 0L, runId, t0, t1)
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Spark work done under the job group `group` (a span's own group,
    * or a streaming query's run id). */
  def workOf(group: String): SparkWork = {
    val w = work.get(group)
    if (w == null) new SparkWork else w.synchronized { val c = new SparkWork; c.add(w); c }
  }
  def totalWork(groups: Iterable[String]): SparkWork = {
    val t = new SparkWork
    groups.foreach(g => t.add(workOf(g)))
    t
  }

  /** Spans as JSON lines, each with the Spark work of its own job group. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      val w = workOf(s.group)
      s"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"tasks":${w.tasks},""" +
        s""""executor_run_ms":${w.runMs},"shuffle_write_bytes":${w.shuffleWrite},""" +
        s""""shuffle_read_bytes":${w.shuffleRead},"spill_bytes":${w.spill},""" +
        s""""gc_ms":${w.gcMs},"peak_exec_mem_bytes":${w.peakExecMem}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
