package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Cumulative Spark work counters at one instant; spans store deltas. */
final case class Counters(
    jobs: Long = 0,
    tasks: Long = 0,
    shuffleBytes: Long = 0,
    recordsRead: Long = 0,
    cpuNs: Long = 0,
    gcMs: Long = 0,
    taskWaitMs: Long = 0
) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs,
    tasks - o.tasks,
    shuffleBytes - o.shuffleBytes,
    recordsRead - o.recordsRead,
    cpuNs - o.cpuNs,
    gcMs - o.gcMs,
    taskWaitMs - o.taskWaitMs
  )
  def shuffleMb: Double = shuffleBytes / 1e6
}

/** Counts jobs, tasks, shuffle bytes written, input records read,
  * executor CPU and task wait (stage submission to task launch). GC is
  * read from the JVM's collectors instead of task metrics: in local
  * mode every concurrent task would report the same pause. */
final class SparkCounters extends SparkListener {
  private val jobs, tasks, shuffleBytes, recordsRead, cpuNs, taskWaitMs = new AtomicLong
  private val submitted = new ConcurrentHashMap[(Int, Int), java.lang.Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach { t =>
      submitted.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), t)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    submitted.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    tasks.incrementAndGet()
    val t0 = submitted.get((e.stageId, e.stageAttemptId))
    if (t0 != null) taskWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - t0))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      cpuNs.addAndGet(m.executorCpuTime)
    }
  }

  def snapshot(gcMs: Long): Counters =
    Counters(jobs.get, tasks.get, shuffleBytes.get, recordsRead.get, cpuNs.get, gcMs, taskWaitMs.get)
}

/** One timed call into a layer. `run` groups the spans of one
  * workload iteration (a refresh or a corpus pass). */
final case class Span(
    id: Int,
    parent: Option[Int],
    run: Int,
    name: String,
    startNs: Long,
    endNs: Long,
    counters: Counters
) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out once, at the end of a traced
  * run. With tracing disabled no listener is registered and `span`
  * only times its body. With tracing enabled, iterations alternate
  * between traced and untraced (see [[beginRun]]) so one run yields
  * both the per-layer numbers and the tracing overhead. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val listener: Option[SparkCounters] =
    if (enabled) {
      val l = new SparkCounters
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var runId = 0
  private var nextId = 0
  private var on = false

  /** Start a workload iteration; its spans are recorded if `traced`. */
  def beginRun(traced: Boolean): Unit = {
    runId += 1
    on = enabled && traced
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def counters(): Counters = listener match {
    case Some(l) =>
      ListenerBusAccess.drain(spark.sparkContext)
      l.snapshot(gcMs)
    case None => Counters()
  }

  /** Run `body`, returning its value and wall seconds; record a span
    * when the current iteration is traced. */
  def span[T](name: String)(body: => T): (T, Double) =
    if (!on) {
      val t0 = System.nanoTime()
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    } else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption
      stack = id :: stack
      val c0 = counters()
      val t0 = System.nanoTime()
      try {
        val v = body
        val t1 = System.nanoTime()
        spans += Span(id, parent, runId, name, t0, t1, counters() - c0)
        (v, (t1 - t0) / 1e9)
      } finally stack = stack.tail
    }

  def named(name: String): Seq[Span] = spans.iterator.filter(_.name == name).toSeq

  def all: Seq[Span] = spans.toSeq

  /** JSON lines, one span each; times in ms from the first span. */
  def write(path: java.nio.file.Path): Unit = {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val lines = spans.map { s =>
      val c = s.counters
      Json.obj(
        Seq(
          "run" -> s.run.toString,
          "span" -> s.id.toString,
          "parent" -> s.parent.fold("null")(_.toString),
          "name" -> Json.str(s.name),
          "start_ms" -> Json.num((s.startNs - t0) / 1e6),
          "end_ms" -> Json.num((s.endNs - t0) / 1e6),
          "jobs" -> c.jobs.toString,
          "tasks" -> c.tasks.toString,
          "shuffle_mb" -> Json.num(c.shuffleMb),
          "records_read" -> c.recordsRead.toString,
          "cpu_s" -> Json.num(c.cpuNs / 1e9),
          "gc_s" -> Json.num(c.gcMs / 1e3),
          "task_wait_ms" -> c.taskWaitMs.toString
        )
      )
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
