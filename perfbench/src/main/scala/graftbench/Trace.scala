package graftbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** One timed interval; times are nanoseconds since the tracer started.
  * `parent` is the id of the enclosing span, or -1 at top level.
  */
final case class Span(id: Int, parent: Int, name: String, op: String,
                      start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder. Spans nest by call structure (the innermost
  * open span is the parent); nothing is written until the run ends.
  * While `enabled` is false, `apply` just runs its body.
  */
final class Tracer {
  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var next = 0
  var enabled = false

  def apply[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val start = System.nanoTime() - t0
      try body
      finally {
        open = open.tail
        spans += Span(id, parent, name, op, start, System.nanoTime() - t0)
      }
    }

  /** Self time of each span: its duration minus the part its children
    * cover (children never overlap: the client is one thread).
    */
  def selfMs(of: Iterable[Span]): Map[Int, Double] = {
    val childMs = of.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    of.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":"${s.op}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Work counters of one job group (the benchmark tags every Spark job
  * it causes with the op and phase through `setJobGroup`).
  */
final class Work {
  var jobs, stages, tasks, taskFailures = 0L
  var runMs, cpuNs, gcMs, waitMs = 0L
  var shuffleWrite, shuffleRead, spill, input = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; waitMs += o.waitMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; input += o.input
  }
}

/** Listener that sums executor work per job group. Events arrive on the
  * listener-bus thread; read the totals only after draining the bus.
  */
final class WorkListener extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Work]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def work(g: String): Work = byGroup.getOrElseUpdate(g, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    work(g).jobs += 1
    e.stageIds.foreach(id => if (!stageGroup.contains(id)) stageGroup(id) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      work(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageGroup.getOrElse(e.stageId, ""))
    w.tasks += 1
    if (e.reason != Success) w.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      // scheduler delay as Spark's UI defines it: task duration not
      // spent deserializing, running, or shipping the result
      w.waitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L))
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      w.spill += m.diskBytesSpilled
      w.input += m.inputMetrics.bytesRead
    }
  }

  /** One JSON line per job group with its counters. */
  def writeJsonLines(path: java.nio.file.Path): Unit = synchronized {
    val lines = byGroup.toSeq.sortBy(_._1).map { case (g, w) =>
      s"""{"group":"$g","jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},""" +
        s""""task_failures":${w.taskFailures},"task_run_ms":${w.runMs},""" +
        s""""task_cpu_ns":${w.cpuNs},"gc_ms":${w.gcMs},"sched_wait_ms":${w.waitMs},""" +
        s""""shuffle_write_bytes":${w.shuffleWrite},"shuffle_read_bytes":${w.shuffleRead},""" +
        s""""spill_bytes":${w.spill},"input_bytes":${w.input}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Summed counters of every group the predicate accepts. */
  def total(groups: String => Boolean): Work = synchronized {
    val t = new Work
    byGroup.foreach { case (g, w) => if (groups(g)) t += w }
    t
  }
}
