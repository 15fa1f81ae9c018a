package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Minimal JSON rendering for the raw run record (numbers, strings,
  * nested maps and sequences). */
object J {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case '\r' => b ++= "\\r"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case x => str(x.toString)
  }
}

/** One timed unit of work. Times are nanoTime offsets from the
  * recorder's origin; `wall0`/`wall1` are epoch milliseconds, the clock
  * Spark's listener events carry. */
final case class Op(id: Int, kind: String, name: String, phase: String,
    t0: Long, t1: Long, wall0: Long, wall1: Long, items: Long, error: String,
    cpuNs: Long, jitMs: Long)

/** A traced call: name, interval, parent span and the op it served. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    t0: Long, t1: Long)

/** Times every op; with tracing on, also keeps a span per benchmark
  * call into the program and a Spark listener's counts. All of it stays
  * in memory until the run ends. */
final class Recorder(val tracing: Boolean) {
  val origin: Long = System.nanoTime()
  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  /** Per-op facts sampled after the op ended (traced runs only). */
  val facts = ArrayBuffer.empty[(Int, String, Double)]
  private var stack: List[Int] = Nil
  private var spanSeq = 0
  private var currentOp = -1
  var phase = "warm"

  def now(): Long = System.nanoTime() - origin

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
  /** CPU time of the whole process (every thread, JIT and GC included). */
  def cpu(): Long = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  /** Milliseconds the JIT compiler threads have spent compiling so far. */
  def jitMs(): Long = jit.getTotalCompilationTime

  /** Run and time one op. A failing op is recorded with its error and
    * counted as failed; the run goes on. */
  def op(kind: String, name: String, items: Long = 0L)(body: => Any): Unit = {
    val id = ops.size
    currentOp = id
    val w0 = System.currentTimeMillis()
    val c0 = cpu()
    val j0 = jitMs()
    val t0 = now()
    val error =
      try { span(kind)(body); null }
      catch { case scala.util.control.NonFatal(e) => e.toString }
    val t1 = now()
    ops += Op(id, kind, name, phase, t0, t1, w0, System.currentTimeMillis(),
      items, error, cpu() - c0, jitMs() - j0)
    currentOp = -1
    if (tracing) afterOp(id)
  }

  /** Called after each op of a traced run, outside its timed interval. */
  var afterOp: Int => Unit = _ => ()

  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = spanSeq
      spanSeq += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = now()
      try body finally {
        stack = stack.tail
        spans += Span(id, parent, currentOp, name, t0, now())
      }
    }

  def fact(opId: Int, key: String, value: Double): Unit =
    if (tracing) facts += ((opId, key, value))

  def lastOpId: Int = ops.size - 1
}

/** Counts at the Spark boundary: every job, stage and task the run
  * submits, with the task metrics Spark reports. Events arrive on the
  * listener bus thread, so everything lands in concurrent queues. */
final class SparkCounts extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final case class Task(stage: Int, launch: Long, finish: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, input: Long, output: Long,
      records: Long)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[(Int, Int)]() // (stage, tasks)
  val tasks = new ConcurrentLinkedQueue[Task]()
  @volatile var ended = 0

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    ended += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add((e.stageInfo.stageId, e.stageInfo.numTasks))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten))
  }

  /** Wait (bounded) until every started job has reported its end. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (ended < jobs.size && System.currentTimeMillis() < deadline)
      Thread.sleep(20L)
    Thread.sleep(200L) // task-end events trail their job's end
  }

  def render(): String = {
    val js = jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
      Seq(j.id, j.start, j.end, j.stages))
    val ts = tasks.asScala.toSeq.map(t => Seq(t.stage, t.launch, t.finish,
      t.runMs, t.cpuNs, t.gcMs, t.shuffleWrite, t.shuffleRead, t.spill,
      t.input, t.output, t.records))
    J(Map("jobs" -> js, "stages" -> stages.asScala.toSeq, "tasks" -> ts,
      "task_fields" -> Seq("stage", "launch", "finish", "run_ms", "cpu_ns",
        "gc_ms", "shuffle_write", "shuffle_read", "spill", "input",
        "output", "records")))
  }
}
