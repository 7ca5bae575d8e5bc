package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusBridge
import org.apache.spark.scheduler._

/** Per-layer attribution for the benchmark's own calls.
  *
  * A span wraps one public call into a layer. While it is open, the
  * benchmark thread carries the job tag `perfbench-span-<id>`, so every
  * job that thread submits names its span. The listener keeps jobs,
  * stages and task metrics in memory; [[report]] drains the listener bus
  * and folds them into per-layer figures once, at the end of a run.
  *
  * A job counts as misattributed when it was submitted while a span was
  * open but carries no span tag, or carries the tag of a span that was
  * not open when it started (a reused pool thread holding a stale tag).
  * Its stages and tasks are left out of every layer rather than guessed.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private final class Span(val id: Int, val layer: String) {
    val startMs: Long = System.currentTimeMillis()
    val startNs: Long = System.nanoTime()
    var endMs: Long = Long.MaxValue
    var wallNs: Long = 0L
    var rowsOut: Long = 0L
  }
  private final case class Job(id: Int, spanId: Option[Int], startMs: Long,
      var endMs: Long = -1L)
  private final class Work {
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageSpan = mutable.HashMap.empty[Int, Option[Int]]
  private val work = mutable.HashMap.empty[Int, Work] // span id -> tasks

  sc.addSparkListener(this)

  /** Run `f` as one span of `layer`; `rows` reads the call's output row
    * count from its result.
    */
  def span[T](layer: String)(f: => T)(rows: T => Long): T = {
    val s = synchronized {
      val s = new Span(spans.size, layer)
      spans += s
      s
    }
    val tag = TagPrefix + s.id
    sc.addJobTag(tag)
    val out =
      try f
      finally {
        sc.removeJobTag(tag)
        synchronized {
          s.wallNs = System.nanoTime() - s.startNs
          s.endMs = System.currentTimeMillis()
        }
      }
    // counted after the span closed: jobs this needs are not the layer's
    s.rowsOut = rows(out)
    out
  }

  private def spanOf(props: java.util.Properties): Option[Int] =
    BusBridge.jobTags(props).collectFirst {
      case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toInt
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, spanOf(e.properties), e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for {
      sid <- stageSpan.getOrElse(e.stageId, None)
      m <- Option(e.taskMetrics)
    } {
      val w = work.getOrElseUpdate(sid, new Work)
      w.tasks += 1
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Drain the bus and fold everything seen so far into per-span records. */
  def report(): Report = {
    BusBridge.drain(sc)
    synchronized {
      def openAt(ms: Long): Option[Span] =
        spans.find(s => s.startMs <= ms && ms <= s.endMs)
      val (owned, misattributed) = jobs.values.toSeq.partitionMap { j =>
        val owner = j.spanId.map(spans)
          .filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        owner.map(s => Left(s.id -> j)).getOrElse(
          if (j.spanId.isDefined || openAt(j.startMs).isDefined) Right(j) else Left(-1 -> j))
      }
      val bySpan = owned.filter(_._1 >= 0).groupMap(_._1)(_._2)
      val records = spans.toSeq.map { s =>
        val js = bySpan.getOrElse(s.id, Seq.empty)
        val w = work.getOrElse(s.id, new Work)
        val covered = unionMs(js.map(j =>
          (math.max(j.startMs, s.startMs), math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))))
        SpanRecord(s.layer,
          wallS = s.wallNs / 1e9,
          jobs = js.size,
          tasks = w.tasks,
          taskCpuS = w.cpuNs / 1e9,
          taskGcS = w.gcMs / 1e3,
          shuffleMb = w.shuffleBytes / Mb,
          spillMb = w.spillBytes / Mb,
          rowsOut = s.rowsOut,
          driverSelfS = math.max(0.0, s.wallNs / 1e9 - covered / 1e3))
      }
      Report(records, misattributed.size)
    }
  }
}

object Tracer {
  val TagPrefix = "perfbench-span-"
  private val Mb = 1024.0 * 1024.0

  final case class SpanRecord(layer: String, wallS: Double, jobs: Long,
      tasks: Long, taskCpuS: Double, taskGcS: Double, shuffleMb: Double,
      spillMb: Double, rowsOut: Long, driverSelfS: Double)

  final case class Report(spans: Seq[SpanRecord], misattributedJobs: Int)

  /** Total length of the union of closed intervals, in ms. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    for ((a, b) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (a > end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}
