package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job as the listener saw it. Times are epoch milliseconds as
  * Spark stamps its events; `frame` is the innermost `graft.*` frame of the
  * job's call site. Task metrics are summed over the job's stages. */
final class JobRecord(val id: Int, val start: Long, val frame: String) {
  var end: Long = start
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
}

/** Collects job spans and task totals. Attached only in traced runs; the
  * end-to-end runs measure without it. Spark calls it from its listener
  * thread, not from the thread that submits the jobs. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.HashMap.empty[Int, JobRecord]
  private var busy = 0L

  /** Nanoseconds spent in this listener's callbacks: the tracing overhead. */
  def busyNs: Long = synchronized(busy)

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    busy += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    // the result stage is created last; its details are the job's call site
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).orNull
    val rec = new JobRecord(e.jobId, e.time, JobListener.innermostGraftFrame(site))
    jobs(e.jobId) = rec
    e.stageIds.foreach(stageJob(_) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.input += m.inputMetrics.bytesRead
      j.output += m.outputMetrics.bytesWritten
    }
  }

  /** Jobs that started inside [from, to] (epoch ms). */
  def jobsBetween(from: Long, to: Long): Seq[JobRecord] = synchronized {
    jobs.values.filter(j => j.start >= from && j.start <= to).toSeq
  }
}

object JobListener {
  /** The first stack line of a Spark call site that belongs to the engine
    * or the benchmark (`graft.` or `perfbench.`), reduced to its class. */
  def innermostGraftFrame(callSiteLong: String): String =
    Option(callSiteLong).toSeq.flatMap(_.split("\n")).map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("perfbench."))
      .map(l => l.takeWhile(_ != '(').split('.').dropRight(1).mkString(".").stripSuffix("$"))
      .getOrElse("")
}

/** A benchmark call recorded by the tracer. Times are epoch milliseconds so
  * they compare with the listener's job times. */
final case class TraceSpan(id: Int, parent: Int, name: String, start: Long, end: Long)

/** Records nested spans in memory. Disabled, it only runs the body. */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[TraceSpan]
  private var open: List[(Int, Long)] = Nil // innermost first
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      val start = System.currentTimeMillis()
      open = (id, start) :: open
      try body
      finally {
        open = open.tail
        done += TraceSpan(id, parent, name, start, System.currentTimeMillis())
      }
    }

  def spans: Seq[TraceSpan] = done.toSeq

  /** The last finished span with this name. */
  def last(name: String): Option[TraceSpan] = done.reverseIterator.find(_.name == name)
}

object Tracer {
  /** Milliseconds of [from, to] covered by the union of the intervals. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var reach = from
    for ((s0, e0) <- intervals.sortBy(_._1)) {
      val s = math.max(s0, reach)
      val e = math.min(e0, to)
      if (e > s) { total += e - s; reach = e }
    }
    total
  }

  /** Spans and jobs as JSON lines: each job is a child span of the
    * innermost benchmark span that contains its start. */
  def writeJsonLines(path: java.nio.file.Path, spans: Seq[TraceSpan], jobs: Seq[JobRecord]): Unit = {
    val lines = mutable.ArrayBuffer.empty[String]
    spans.sortBy(_.id).foreach { s =>
      lines += Json.obj("kind" -> "span", "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)
    }
    jobs.foreach { j =>
      val parent = spans.filter(s => s.start <= j.start && j.start <= s.end)
        .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(0)
      lines += Json.obj("kind" -> "job", "id" -> j.id, "parent" -> parent,
        "name" -> j.frame, "start_ms" -> j.start, "end_ms" -> j.end,
        "executor_run_ms" -> j.runMs, "executor_cpu_ns" -> j.cpuNs)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  /** Blocks until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)
}
