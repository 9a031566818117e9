package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval: a layer call, an operation, a probe phase.
  * Times are epoch microseconds; `op` is shared by every span of one
  * operation and `parent` is the enclosing span (0 at top level). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startUs: Long, endUs: Long)

/** Span recorder plus the one Spark listener of a traced run.
  *
  * Disabled, [[span]] only runs its body: the untraced runs that give
  * the end-to-end numbers pay for nothing but a branch. Enabled, every
  * span is kept in memory, the job group `<workload>/<op>/<phase>` is
  * set around each phase so every Spark job carries its operation, and
  * the listener aggregates each stage's tasks when the stage ends.
  * Everything is written out once, when the run ends. */
final class Tracer(sc: SparkContext, workload: String) {
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  // spans nest per thread; a span opened on another thread (the
  // streaming query's micro-batch thread) hangs under the innermost
  // span open on the client thread
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  @volatile private var clientTop = 0
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  @volatile private var opId = 0
  private var opName = ""
  private val clock0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private val clientThread = Thread.currentThread()
  val listener = new StageListener
  sc.addSparkListener(listener)

  /** Epoch microseconds on the monotonic clock. */
  def nowUs: Long = clock0Us + (System.nanoTime() - nano0) / 1000L

  /** Start a new operation; later spans carry its id. */
  def beginOp(name: String, id: Int): Unit = { opId = id; opName = name }

  def span[T](name: String, phase: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val outer = stack.get
      val parent = outer.headOption.getOrElse(
        if (Thread.currentThread() eq clientThread) 0 else clientTop)
      push(id :: outer)
      if (phase.nonEmpty)
        sc.setJobGroup(s"$workload/$opName/$phase", s"$workload/$opName/$phase")
      val op = opId
      val t0 = nowUs
      try body
      finally {
        val t1 = nowUs
        spans.synchronized { spans += Span(id, parent, op, name, t0, t1) }
        push(outer)
        if (phase.nonEmpty) sc.clearJobGroup()
      }
    }

  private def push(s: List[Int]): Unit = {
    stack.set(s)
    if (Thread.currentThread() eq clientThread) clientTop = s.headOption.getOrElse(0)
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toSeq)
}

/** Per-stage task aggregates, built as tasks end. Times are epoch
  * milliseconds as Spark reports them. */
final case class StageAgg(stageId: Int, attempt: Int, submitMs: Long,
    doneMs: Long, tasks: Int, failed: Int, busyMs: Long, waitMs: Long,
    maxTaskMs: Long, medianTaskMs: Long, inputB: Long, shuffleReadB: Long,
    shuffleWriteB: Long, spillB: Long, outputB: Long)

final case class JobRec(jobId: Int, startMs: Long, endMs: Long)

final class StageListener extends SparkListener {
  @volatile var active = false
  private val lock = new Object
  private val submitted = scala.collection.mutable.Map.empty[(Int, Int), Long]
  private val durations = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
  private val sums = scala.collection.mutable.Map.empty[(Int, Int), Array[Long]]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  val stages = ArrayBuffer.empty[StageAgg]
  val jobs = ArrayBuffer.empty[JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (active) lock.synchronized { jobStart(e.jobId) = e.time }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += JobRec(e.jobId, s, e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (active) lock.synchronized {
      val i = e.stageInfo
      submitted((i.stageId, i.attemptNumber())) =
        i.submissionTime.getOrElse(System.currentTimeMillis())
    }

  // sums: failed, busy, wait, input, shuffle read, shuffle write, spill, output
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val key = (e.stageId, e.stageAttemptId)
    submitted.get(key).foreach { sub =>
      val info = e.taskInfo
      val s = sums.getOrElseUpdate(key, new Array[Long](8))
      val dur = info.finishTime - info.launchTime
      durations.getOrElseUpdate(key, ArrayBuffer.empty[Long]) += dur
      if (!info.successful) s(0) += 1
      s(1) += dur
      s(2) += math.max(0L, info.launchTime - sub)
      val m = e.taskMetrics
      if (m != null) {
        s(3) += m.inputMetrics.bytesRead
        s(4) += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        s(5) += m.shuffleWriteMetrics.bytesWritten
        s(6) += m.memoryBytesSpilled + m.diskBytesSpilled
        s(7) += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      val i = e.stageInfo
      val key = (i.stageId, i.attemptNumber())
      submitted.remove(key).foreach { sub =>
        val d = durations.remove(key).getOrElse(ArrayBuffer.empty[Long]).sorted
        val s = sums.remove(key).getOrElse(new Array[Long](8))
        stages += StageAgg(i.stageId, i.attemptNumber(), sub,
          i.completionTime.getOrElse(System.currentTimeMillis()), d.size,
          s(0).toInt, s(1), s(2), if (d.isEmpty) 0L else d.last,
          if (d.isEmpty) 0L else d(d.size / 2), s(3), s(4), s(5), s(6), s(7))
      }
    }
}
