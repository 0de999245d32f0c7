package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One operation of the closed loop: a search request, a registry
  * operator or a store call. Times are `System.nanoTime`.
  */
final class Op(val id: Int, val kind: String, val cls: String, val pass: Int) {
  var t0 = 0L
  var t1 = 0L
  var ok = true
  var error = ""
  var rows = 0L
  /** Values the workload reports for the checks (read results, validation counts). */
  val result = mutable.LinkedHashMap.empty[String, String]
  /** Per-op layer measurements (traced run only). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
}

final case class Span(op: Int, id: Int, parent: Int, name: String, t0: Long, t1: Long)

final case class JobRec(op: Int, jobId: Int, t0: Long, t1: Long)

/** Counters the Spark listeners fill for one op (traced run only). */
final class Counters {
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExecMem = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var addBatchMs = 0L
  var walCommitMs = 0L
  var queryPlanningMs = 0L
  var stateCommitMs = 0L
  var batches = 0L
}

/** Records ops always, and spans, jobs and task metrics when `traced`.
  * Everything stays in memory until the run ends.
  */
final class Recorder(val traced: Boolean) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val counters = mutable.HashMap.empty[Int, Counters]
  /** The op that jobs without an op job group are charged to. */
  @volatile var current: Int = -1
  private var stack: List[Int] = Nil
  private var nextSpan = 0
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def msToNs(epochMs: Long): Long = epochMs * 1000000L - epochOffsetNs
  def nsToEpochMs(ns: Long): Double = (ns + epochOffsetNs) / 1e6

  def countersOf(op: Int): Counters = synchronized(counters.getOrElseUpdate(op, new Counters))
  def addJob(j: JobRec): Unit = synchronized(jobs += j)

  /** Time `body` as a child of the innermost open span of the current op. */
  def span[T](name: String)(body: => T): T =
    if (!traced || current < 0) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(current, id, parent, name, t0, t1)
      }
    }

  /** Run one op; an exception marks it failed instead of ending the run. */
  def op(kind: String, cls: String, pass: Int)(body: Op => Unit): Op = {
    val o = new Op(ops.size, kind, cls, pass)
    ops += o
    current = o.id
    o.t0 = System.nanoTime()
    try span("op")(body(o))
    catch {
      case t: Throwable =>
        o.ok = false
        o.error = s"${t.getClass.getSimpleName}: ${t.getMessage}".take(400)
    }
    o.t1 = System.nanoTime()
    o
  }
}

/** Charges jobs, stages and tasks to the op whose job group they carry,
  * or to the op running when they were processed (streaming queries set
  * their own job group).
  */
final class ExecListener(rec: Recorder) extends SparkListener {
  private val Group = "perfbench-op-(\\d+)".r
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val jobOpen = mutable.HashMap.empty[Int, (Int, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val op = group match {
      case Some(Group(n)) => n.toInt
      case _ => rec.current
    }
    jobOpen(e.jobId) = (op, e.time)
    e.stageIds.foreach(stageOp(_) = op)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (op, t0) =>
      rec.addJob(JobRec(op, e.jobId, rec.msToNs(t0), rec.msToNs(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val c = rec.countersOf(stageOp.getOrElse(e.stageInfo.stageId, rec.current))
    c.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val c = rec.countersOf(stageOp.getOrElse(e.stageId, rec.current))
    c.tasks += 1
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Micro-batch durations and state-store commit times. Progress events
    * of every session's streaming queries arrive on this shared bus, also
    * those of sessions a registry operator creates for itself.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case q: StreamingQueryListener.QueryProgressEvent => synchronized {
      val p = q.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val c = rec.countersOf(rec.current)
      c.addBatchMs += d("addBatch")
      c.walCommitMs += d("walCommit")
      c.queryPlanningMs += d("queryPlanning")
      c.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
      c.batches += 1
    }
    case _ => ()
  }
}

/** Minimal JSON writer for the run's raw output. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
