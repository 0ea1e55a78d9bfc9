package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A benchmark-level span: one call into the engine (or a round grouping
  * such calls). Wall time comes from `System.nanoTime`; the millisecond
  * interval matches Spark event times, which use the wall clock. */
final case class Span(id: Int, name: String, parent: Option[Int],
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Records spans from the single client thread. */
final class SpanLog {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long, Long)]
  private var nextId = 0

  def apply[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1)
    stack = (id, name, System.nanoTime(), System.currentTimeMillis()) :: stack
    try body
    finally {
      val (_, _, s0, m0) = stack.head
      stack = stack.tail
      done += Span(id, name, parent, s0, System.nanoTime(), m0, System.currentTimeMillis())
    }
  }

  def spans: Seq[Span] = done.toSeq

  /** Forgets the finished spans (those of the untimed warm-up rounds). */
  def clear(): Unit = done.clear()
}

object SpanLog {
  /** Self time of each span: its wall time minus the part of its interval
    * that its direct children cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = children.getOrElse(Some(s.id), Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += math.max(0L, curE - curS)
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  /** The innermost span whose millisecond interval holds `timeMs`. */
  def innermost(spans: Seq[Span], timeMs: Long): Option[Span] = {
    val depth = mutable.Map.empty[Int, Int]
    val byId = spans.map(s => s.id -> s).toMap
    def d(s: Span): Int = depth.getOrElseUpdate(s.id,
      s.parent.flatMap(byId.get).map(p => d(p) + 1).getOrElse(0))
    spans.filter(s => s.startMs <= timeMs && timeMs <= s.endMs)
      .sortBy(s => (-d(s), s.id)).headOption
  }
}

/** Summed task metrics. */
final class Agg {
  var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var tasks = 0L; var failedTasks = 0L
  var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L; var shuffleBlocks = 0L
  var spillBytes = 0L; var inputBytes = 0L; var inputRecords = 0L
  var outputBytes = 0L; var outputRecords = 0L; var shuffleRecordsOut = 0L
  val jobs: mutable.Set[Int] = mutable.Set.empty

  def add(o: Agg): Unit = {
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    tasks += o.tasks; failedTasks += o.failedTasks
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleBlocks += o.shuffleBlocks; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes; outputRecords += o.outputRecords
    shuffleRecordsOut += o.shuffleRecordsOut
    jobs ++= o.jobs
  }

  def taskS: Double = taskMs / 1e3

  /** The generic per-layer metrics, in the order they are reported. */
  def metrics: Seq[(String, Double, String)] = Seq(
    ("task_s", taskMs / 1e3, "s"), ("cpu_s", cpuNs / 1e9, "s"), ("gc_s", gcMs / 1e3, "s"),
    ("jobs", jobs.size.toDouble, "count"), ("tasks", tasks.toDouble, "count"),
    ("failed_tasks", failedTasks.toDouble, "count"),
    ("shuffle_write_bytes", shuffleWriteBytes.toDouble, "bytes"),
    ("shuffle_read_bytes", shuffleReadBytes.toDouble, "bytes"),
    ("shuffle_blocks", shuffleBlocks.toDouble, "count"),
    ("spill_bytes", spillBytes.toDouble, "bytes"),
    ("input_bytes", inputBytes.toDouble, "bytes"),
    ("output_bytes", outputBytes.toDouble, "bytes"),
    ("records_out", (outputRecords + shuffleRecordsOut).toDouble, "count"))
}

object Agg {
  val MetricNames: Seq[String] = new Agg().metrics.map(_._1)
}

/** Collects jobs, SQL executions and task metrics from the listener bus.
  * Attribution happens afterwards in [[resolve]], once the bus is drained,
  * so the listener itself only appends. */
final class LayerListener extends SparkListener {
  private final case class Exec(plan: String, callSite: String)
  private final case class Job(timeMs: Long, exec: Option[Long], callSite: String)

  private val execs = mutable.Map.empty[Long, Exec]
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageAgg = mutable.Map.empty[Int, Agg]
  private var handlerNs = 0L

  /** Seconds spent in this listener's handlers: the tracing overhead. */
  def handlerS: Double = synchronized(handlerNs / 1e9)

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    handlerNs += System.nanoTime() - t0
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => timed {
      execs(s.executionId) = Exec(s.physicalPlanDescription, s.details)
    }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = timed {
    val props = Option(j.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val site = props.flatMap(p => Option(p.getProperty("callSite.long"))).getOrElse("")
    jobs(j.jobId) = Job(j.time, exec, site)
    j.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j.jobId))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = timed {
    val a = stageAgg.getOrElseUpdate(t.stageId, new Agg)
    a.tasks += 1
    if (t.reason != org.apache.spark.Success) a.failedTasks += 1
    val m = t.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecordsOut += m.shuffleWriteMetrics.recordsWritten
      val r = m.shuffleReadMetrics
      a.shuffleReadBytes += r.remoteBytesRead + r.localBytesRead
      a.shuffleBlocks += r.remoteBlocksFetched + r.localBlocksFetched
      a.spillBytes += m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead; a.inputRecords += m.inputMetrics.recordsRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Attributes every recorded stage to the innermost span that was open
    * when its job started, and to a layer and tag. Stages of jobs outside
    * every span (set-up, output checks) are dropped. */
  def resolve(spans: Seq[Span], spanLayer: String): Trace.Report = synchronized {
    val rep = new Trace.Report
    stageAgg.foreach { case (stage, agg) =>
      stageJob.get(stage).flatMap(jobs.get).foreach { job =>
        SpanLog.innermost(spans, job.timeMs).foreach { span =>
          val exec = job.exec.flatMap(execs.get)
          val plan = exec.map(_.plan).getOrElse("")
          val site = exec.map(_.callSite).filter(_.nonEmpty).getOrElse(job.callSite)
          val layer = Attribution.layerOf(plan, site, spanLayer)
          val tag = Attribution.tag(plan, site).getOrElse("untagged")
          val a = new Agg
          a.add(agg)
          a.jobs += stageJob(stage)
          rep.byLayer.getOrElseUpdate(layer, new Agg).add(a)
          rep.byTag.getOrElseUpdate(tag, new Agg).add(a)
          rep.bySpan.getOrElseUpdate(span.id, new Agg).add(a)
        }
      }
    }
    rep
  }
}

object Trace {
  final class Report {
    val byLayer: mutable.Map[String, Agg] = mutable.Map.empty
    val byTag: mutable.Map[String, Agg] = mutable.Map.empty
    val bySpan: mutable.Map[Int, Agg] = mutable.Map.empty
  }

  /** Blocks until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.BusDrain(sc)
}
