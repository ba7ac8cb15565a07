package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval. Spans of one operation share `traceId`. */
final case class Span(traceId: String, spanId: Long, parent: Long, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Stage and task metrics of the Spark jobs run under one job group. */
final class GroupMetrics {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0.0
  var schedDelayMs = 0.0
  var gcMs = 0.0
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // ns, this JVM's nanoTime
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  val stageShuffleRead = mutable.Map.empty[Int, Long]
}

/**
 * In-memory spans plus a SparkListener that attributes job, stage and task
 * metrics to the job group set around each traced call, so concurrent
 * client streams stay apart. Nothing is written until [[write]].
 */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val groups = mutable.Map.empty[String, GroupMetrics]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStartNs = mutable.Map.empty[Int, Long]
  private val stageGroup = mutable.Map.empty[Int, String]
  private var open = 0
  // listener-bus event times are wall-clock ms; spans use nanoTime
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  sc.addSparkListener(this)

  /** Run `body` as span `name` under `parent`, with its Spark jobs in job
    * group `group` (a thread-local property, so streams do not mix). */
  def span[T](traceId: String, name: String, parent: Long = 0L,
              group: String = null)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(if (group == null) traceId else group, name)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      spans.add(Span(traceId, id, parent, name, t0, System.nanoTime()))
      if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, "")
    }
  }

  def allSpans: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toVector }

  /** Wait until the listener has seen every job it saw start end. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    Thread.sleep(50)
    while (synchronized(open) > 0 && System.currentTimeMillis() < until) Thread.sleep(20)
  }

  def group(id: String): GroupMetrics = synchronized(groups.getOrElse(id, new GroupMetrics))

  def groupIds: Seq[String] = synchronized(groups.keys.toVector)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    jobStartNs(e.jobId) = e.time * 1000000L + wallToNano
    e.stageIds.foreach(s => stageGroup(s) = g)
    groups.getOrElseUpdate(g, new GroupMetrics).jobs += 1
    open += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "")
    groups.getOrElseUpdate(g, new GroupMetrics).jobIntervals +=
      (jobStartNs.getOrElse(e.jobId, 0L) -> (e.time * 1000000L + wallToNano))
    open -= 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => groups.getOrElseUpdate(g, new GroupMetrics).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageGroup.get(e.stageId).foreach { g =>
      val gm = groups.getOrElseUpdate(g, new GroupMetrics)
      val run = m.executorRunTime.toDouble
      gm.tasks += 1
      gm.runMs += run
      gm.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
      gm.gcMs += m.jvmGCTime
      gm.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      gm.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      gm.spillBytes += m.diskBytesSpilled
      gm.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += run
      gm.stageShuffleRead(e.stageId) = gm.stageShuffleRead.getOrElse(e.stageId, 0L) +
        m.shuffleReadMetrics.totalBytesRead
    }
  }

  /** Write spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map(s =>
      s"""{"trace":"${s.traceId}","span":${s.spanId},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Length of the union of `intervals`. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it that `children`
    * cover. */
  def selfNs(span: Span, children: Seq[(Long, Long)]): Long =
    (span.endNs - span.startNs) - unionNs(children.map { case (s, e) =>
      (math.max(s, span.startNs), math.min(e, span.endNs)) }.filter { case (s, e) => e > s })
}
