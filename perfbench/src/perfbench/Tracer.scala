package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One traced interval. Spans nest run → op → {build, plan, action} →
  * job → stage; `op` is the id of the op span every descendant shares. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    op: Long, startUs: Long, var endUs: Long = -1L)

/** Listener counters of one op, summed over its jobs, stages and tasks. */
final class OpCounters {
  var jobs, buildJobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, schedDelayMs, spillBytes = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs = 0L
  var inputBytes, inputRows, outputBytes = 0L
}

/** Spans and Spark listener counters of a traced run, kept in memory
  * and written out when the run ends.
  *
  * The harness opens the op and phase spans on its own thread and
  * names the current phase span in the `perfbench.span` local
  * property, which Spark copies onto every job the phase starts; the
  * listener uses it to hang job and stage spans, and task metrics,
  * under the right op. */
final class Tracer extends SparkListener {
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val byId = new ConcurrentHashMap[Long, Span]()
  val counters = new ConcurrentHashMap[Long, OpCounters]()

  // epoch microseconds on the monotonic clock; listener times are epoch ms
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  def open(kind: String, name: String, parent: Long, op: Long,
      startUs: Long = nowUs): Span = {
    val id = ids.getAndIncrement()
    val s = Span(id, parent, kind, name, if (op == 0L) id else op, startUs)
    spans.add(s); byId.put(id, s)
    s
  }

  def close(s: Span): Unit = s.endUs = nowUs

  private def countersOf(op: Long): OpCounters =
    counters.computeIfAbsent(op, _ => new OpCounters)

  // job id → its span; stage id → span of the first job that ran it
  private val jobSpans = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Span]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val phase = Option(e.properties).flatMap(p =>
      Option(p.getProperty("perfbench.span"))).map(_.toLong)
      .flatMap(id => Option(byId.get(id)))
    phase.foreach { ph =>
      val js = open("job", s"job ${e.jobId}", ph.id, ph.op, e.time * 1000L)
      jobSpans.put(e.jobId, js)
      e.stageIds.foreach(st => stageJob.putIfAbsent(st, js))
      val c = countersOf(ph.op)
      c.synchronized {
        c.jobs += 1
        if (ph.kind == "build") c.buildJobs += 1
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpans.get(e.jobId)).foreach(_.endUs = e.time * 1000L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).foreach { js =>
      val st = open("stage", s"stage ${info.stageId}.${info.attemptNumber()}",
        js.id, js.op, info.submissionTime.getOrElse(0L) * 1000L)
      st.endUs = info.completionTime.getOrElse(0L) * 1000L
      val c = countersOf(js.op)
      c.synchronized { c.stages += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { js =>
      val c = countersOf(js.op)
      val m = e.taskMetrics
      val i = e.taskInfo
      c.synchronized {
        c.tasks += 1
        if (!i.successful) c.failedTasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.spillBytes += m.diskBytesSpilled
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRows += m.inputMetrics.recordsRead
          c.outputBytes += m.outputMetrics.bytesWritten
          // the Spark UI's definition: wall time the task spent neither
          // deserializing, running nor shipping its result
          c.schedDelayMs += math.max(0L, (i.finishTime - i.launchTime) -
            m.executorDeserializeTime - m.executorRunTime -
            m.resultSerializationTime - i.gettingResultTime)
        }
      }
    }

  // bytes held by each cached RDD block; the running total and its peak
  private val blocks = mutable.Map.empty[String, Long]
  private var cachedBytes = 0L
  private var peakBytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = b.blockManagerId.toString + "/" + b.blockId.name
      cachedBytes -= blocks.remove(key).getOrElse(0L)
      if (b.storageLevel.isValid) {
        val size = b.memSize + b.diskSize
        blocks(key) = size
        cachedBytes += size
      }
      peakBytes = math.max(peakBytes, cachedBytes)
    }
  }

  /** Restart the cached-bytes peak from the current total. */
  def resetPeak(): Unit = synchronized { peakBytes = cachedBytes }
  def peakCachedBytes: Long = synchronized { peakBytes }

  /** Σ over `kind` spans of the ops in `ops` of duration minus the
    * part of it covered by child spans. */
  def selfTimesUs(ops: Set[Long]): Map[String, Long] = {
    val all = spans.asScala.toSeq.filter(s => s.endUs >= 0 && ops(s.op))
    val kids = all.groupBy(_.parent)
    all.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var end = Long.MinValue
        iv.foreach { case (a, b) =>
          val from = math.max(a, end)
          if (b > from) covered += b - from
          end = math.max(end, b)
        }
        math.max(0L, (s.endUs - s.startUs) - covered)
      }.sum
    }
  }
}
