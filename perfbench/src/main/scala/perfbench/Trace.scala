package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One span: a call into a layer, recorded by the benchmark around the
  * program's public functions.
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    endNs: Long, startMs: Long, endMs: Long) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Engine work attributed to one span. */
final class Work {
  var sqlExecutions = 0L
  var planningMs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // wall ms
}

/** In-memory span recorder plus Spark listeners attached from outside the
  * program.
  *
  * Attribution: [[span]] sets the SparkContext local property
  * `perfbench.span` on the calling thread, so every job the call submits
  * (and its stages and tasks) carries the enclosing span's id. A SQL
  * execution's planning phases are attributed through its jobs (the
  * jobs carry both the execution id and the span id); an execution that
  * ran no job falls back to the span open at its planning start.
  */
final class Trace(spark: SparkSession) {
  import Trace.Prop

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long, Long)]
  private var nextId = 1
  private val work = mutable.Map.empty[Int, Work]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val execSpan = mutable.Map.empty[Long, Int]
  private val pendingPlanning = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  @volatile private var lastEventNs = System.nanoTime()
  @volatile private var openJobs = 0

  private def w(span: Int): Work = work.getOrElseUpdate(span, new Work)

  private def touch(): Unit = lastEventNs = System.nanoTime()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      touch(); openJobs += 1
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(0)
      jobSpan(e.jobId) = sid
      jobStartMs(e.jobId) = e.time
      e.stageIds.foreach(stageSpan(_) = sid)
      Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.getOrElseUpdate(x.toLong, sid))
      w(sid).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
      touch(); openJobs -= 1
      val sid = jobSpan.getOrElse(e.jobId, 0)
      w(sid).jobIntervals += (jobStartMs.getOrElse(e.jobId, e.time) -> e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock { touch(); w(stageSpan.getOrElse(e.stageInfo.stageId, 0)).stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
      touch()
      val x = w(stageSpan.getOrElse(e.stageId, 0))
      x.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        x.taskRunMs += m.executorRunTime
        x.taskCpuNs += m.executorCpuTime
        x.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        x.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        x.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = touch()
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock {
      touch()
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        pendingPlanning += ((qe.id, phases.map(_.startTimeMs).min,
          phases.map(_.durationMs).sum))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception)
        : Unit = record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private def lock[T](f: => T): T = synchronized(f)

  /** Innermost recorded span whose wall interval holds `ms`. */
  private def spanAt(ms: Long): Int = lock {
    val open = stack.collectFirst { case (id, _, _, s) if s <= ms => id }
    open.getOrElse(spans.filter(s => s.startMs <= ms && ms <= s.endMs)
      .sortBy(s => -s.startNs).headOption.map(_.id).getOrElse(0))
  }

  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val parent = stack.headOption.map(_._1).getOrElse(0)
    val id = lock { val i = nextId; nextId += 1; i }
    val frame = (id, name, System.nanoTime(), System.currentTimeMillis())
    lock { stack = frame :: stack }
    sc.setLocalProperty(Prop, id.toString)
    try body
    finally {
      lock {
        stack = stack.tail
        spans += Span(id, name, parent, frame._3, System.nanoTime(),
          frame._4, System.currentTimeMillis())
      }
      sc.setLocalProperty(Prop, if (parent == 0) null else parent.toString)
    }
  }

  /** Waits until the asynchronous listener bus has delivered the events
    * of finished work: no job open and no event for 200 ms.
    */
  def awaitQuiet(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline &&
      (openJobs > 0 || System.nanoTime() - lastEventNs < 200000000L))
      Thread.sleep(20)
    lock {
      pendingPlanning.foreach { case (exec, startMs, ms) =>
        val x = w(execSpan.getOrElse(exec, spanAt(startMs)))
        x.sqlExecutions += 1
        x.planningMs += ms
      }
      pendingPlanning.clear()
    }
  }

  def all: Seq[Span] = lock(spans.toSeq)

  def subtree(root: Int): Set[Int] = lock {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] =
      kids.getOrElse(id, Nil).map(s => go(s.id)).foldLeft(Set(id))(_ ++ _)
    go(root)
  }

  /** Engine work summed over a span and its descendants, with the union
    * of their job intervals.
    */
  def workOf(root: Int): (Work, Long) = lock {
    val ids = subtree(root)
    val sum = new Work
    ids.flatMap(work.get).foreach { x =>
      sum.sqlExecutions += x.sqlExecutions; sum.planningMs += x.planningMs
      sum.jobs += x.jobs; sum.stages += x.stages; sum.tasks += x.tasks
      sum.taskRunMs += x.taskRunMs; sum.taskCpuNs += x.taskCpuNs
      sum.shuffleReadBytes += x.shuffleReadBytes
      sum.shuffleWriteBytes += x.shuffleWriteBytes
      sum.spillBytes += x.spillBytes
      sum.jobIntervals ++= x.jobIntervals
    }
    (sum, Trace.unionMs(sum.jobIntervals.toSeq))
  }

  /** Self time: the span's duration minus the part its children cover. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id)
      .map(k => (k.startNs / 1000000L, k.endNs / 1000000L))
    s.durMs - Trace.unionMs(kids)
  }

  /** One JSON line per span, with self time, job time and driver gap. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.id).map { s =>
      val (x, jobMs) = workOf(s.id)
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        f""""dur_ms":${s.durMs}%.3f,"self_ms":${selfMs(s)}%.3f,""" +
        f""""job_ms":$jobMs,"driver_gap_ms":${s.durMs - jobMs}%.3f,""" +
        f""""sql_executions":${x.sqlExecutions},"planning_ms":${x.planningMs},""" +
        f""""jobs":${x.jobs},"stages":${x.stages},"tasks":${x.tasks},""" +
        f""""task_run_ms":${x.taskRunMs},"task_cpu_ms":${x.taskCpuNs / 1e6}%.3f,""" +
        f""""shuffle_read_bytes":${x.shuffleReadBytes},""" +
        f""""shuffle_write_bytes":${x.shuffleWriteBytes},""" +
        f""""spill_bytes":${x.spillBytes}}"""
    }
    java.nio.file.Files.write(path,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Trace {
  val Prop = "perfbench.span"

  /** Length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }
}
