package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span recorder. A span is (name, start, end, parent, request
  * id); spans nest through a per-thread stack, so a span opened inside
  * another one names it as parent. Disabled tracers run the body only. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      startNs: Long, endNs: Long)

final class Tracer(val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[A](name: String, req: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val start = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, req, name, start - t0, System.nanoTime() - t0))
        stack.set(stack.get().tail)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** One JSON object per line, times in microseconds since tracer start. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Main.json(Map("id" -> s.id, "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
        "start_us" -> s.startNs / 1000, "end_us" -> s.endNs / 1000))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Task-level totals of Spark jobs. */
final case class SparkTotals(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                             runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
                             shuffleWrite: Long = 0, shuffleRead: Long = 0,
                             spill: Long = 0, input: Long = 0) {
  def minus(o: SparkTotals): SparkTotals = SparkTotals(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead, spill - o.spill, input - o.input)

  /** Raw totals over a window of `wallS` seconds; `perfbench/metrics.py`
    * names them. */
  def raw(wallS: Double): Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "run_ms" -> runMs.toDouble, "cpu_ns" -> cpuNs.toDouble, "gc_ms" -> gcMs.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.toDouble, "shuffle_read_bytes" -> shuffleRead.toDouble,
    "spill_bytes" -> spill.toDouble, "input_bytes" -> input.toDouble, "wall_s" -> wallS)
}

/** Running totals of every Spark job, task and stage. Streaming
  * micro-batches run under their own job groups, so a workload window is
  * measured as the difference of two snapshots taken once the listener
  * bus has drained. */
final class TaskListener extends SparkListener {
  private var t = SparkTotals()

  def snapshot(): SparkTotals = { Thread.sleep(300); synchronized(t) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    t = t.copy(jobs = t.jobs + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    t = t.copy(stages = t.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(e.taskMetrics).foreach { m =>
      t = SparkTotals(t.jobs, t.stages, t.tasks + 1, t.runMs + m.executorRunTime,
        t.cpuNs + m.executorCpuTime, t.gcMs + m.jvmGCTime,
        t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        t.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        t.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        t.input + m.inputMetrics.bytesRead)
    }
  }
}

/** Micro-batch progress of every streaming query, from Spark's own
  * progress reports. */
final class ProgressListener extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Map[String, Double]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
    batches.add(Map(
      "getBatch" -> d.getOrElse("getBatch", 0.0),
      "queryPlanning" -> d.getOrElse("queryPlanning", 0.0),
      "addBatch" -> d.getOrElse("addBatch", 0.0),
      "walCommit" -> d.getOrElse("walCommit", 0.0),
      "triggerExecution" -> d.getOrElse("triggerExecution", 0.0),
      "inputRows" -> p.numInputRows.toDouble,
      "stateRows" -> p.stateOperators.map(_.numRowsTotal).sum.toDouble,
      "stateBytes" -> p.stateOperators.map(_.memoryUsedBytes).sum.toDouble))
  }
}
