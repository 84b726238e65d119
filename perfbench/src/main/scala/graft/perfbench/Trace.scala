package graft.perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One recorded span: a call from the benchmark into one layer. Times
  * are wall-clock epoch nanoseconds so they line up with Spark's
  * task timestamps (epoch milliseconds). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans nest through a stack on the one
  * client thread; nothing is written until the run ends. When tracing
  * is off every call is a plain passthrough. */
final class Tracer(val on: Boolean, val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def now(): Long = epochBase + System.nanoTime()

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = now()
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, t0, now())
      }
    }

  def all: Seq[Span] = spans.toSeq

  def named(name: String): Seq[Span] = spans.iterator.filter(_.name == name).toSeq

  /** Self time per span: its duration minus the union of its direct
    * children's intervals. */
  def selfNs: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.iterator.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          val from = math.max(a, reach)
          if (b > from) (sum + (b - from), b) else (sum, reach)
        }._1
      s.id -> math.max(0L, (s.endNs - s.startNs) - covered)
    }.toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val self = selfNs
    val lines = spans.sortBy(_.startNs).map { s =>
      Json.obj(Seq("run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id)))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** What one finished task cost, as Spark's listener reports it. */
final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, queuedMs: Long,
    runMs: Long, cpuNs: Long, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, ok: Boolean)

/** Spark listener that keeps every task and job start in memory. The
  * per-layer figures are cut from these records by time window, so
  * no call waits on the listener bus. */
final class TaskLog extends SparkListener {
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val jobs = ArrayBuffer.empty[Long]
  private val stageSubmit = scala.collection.mutable.Map.empty[(Int, Int), Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += e.time }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSubmit((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = e.taskMetrics
    val submitted = stageSubmit.getOrElse((e.stageId, e.stageAttemptId), info.launchTime)
    tasks += TaskRec(e.stageId, info.launchTime, info.finishTime,
      math.max(0L, info.launchTime - submitted),
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      info.successful)
  }

  /** Tasks that finished, and jobs that started, inside [fromMs, toMs]. */
  def window(fromMs: Long, toMs: Long): (Seq[TaskRec], Int) = synchronized {
    (tasks.filter(t => t.finishMs >= fromMs && t.finishMs <= toMs).toSeq,
      jobs.count(j => j >= fromMs && j <= toMs))
  }
}
