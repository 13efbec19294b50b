package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Span recorder plus the Spark listener that bills runtime counters to
  * spans.
  *
  * A span is a named interval on the calling thread. Opening one sets the
  * `perfbench.span` local property, so every job the thread submits
  * carries the span id in its properties; the listener maps job → stages
  * → tasks back to that id. Jobs with no span id (a streaming query's own
  * thread) go to the span registered for their job group, or else to the
  * workload's root span. Counters are self counters; inclusive totals
  * are summed over descendants when the report is built.
  *
  * Everything stays in memory; [[report]] is called once at the end.
  * While disabled, [[span]] only runs its body and the listener drops
  * events, so the untraced run pays for one volatile read per call.
  */
final class Trace(spark: SparkSession) {
  @volatile var enabled = false

  final class Span(val id: Long, val name: String, val parent: Long,
                   val request: Long, val start: Long) {
    @volatile var end: Long = -1L
    var jobs, stages, tasks = 0L
    var cpuNs, gcMs, shuffleWrite, spill = 0L
    val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val sc: SparkContext = spark.sparkContext
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1L)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val order = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val groupSpan = new ConcurrentHashMap[String, Long]()
  @volatile var rootSpan: Long = 0L
  /** Nanoseconds spent inside this class's own bookkeeping. */
  val selfNs = new java.util.concurrent.atomic.AtomicLong(0L)

  private def timed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally selfNs.addAndGet(System.nanoTime() - t0)
  }

  def open(name: String, request: Long = -1L): Span = timed {
    val parent = stack.get().headOption
    val s = new Span(nextId.getAndIncrement(), name,
      parent.map(_.id).getOrElse(0L),
      if (request >= 0) request else parent.map(_.request).getOrElse(-1L),
      System.currentTimeMillis())
    spans.put(s.id, s)
    order.synchronized(order += s)
    stack.set(s :: stack.get())
    sc.setLocalProperty("perfbench.span", s.id.toString)
    s
  }

  def close(s: Span): Unit = timed {
    s.end = System.currentTimeMillis()
    val rest = stack.get().dropWhile(_ ne s).drop(1)
    stack.set(rest)
    sc.setLocalProperty("perfbench.span", rest.headOption.map(_.id.toString).orNull)
  }

  /** Runs `body` inside span `name` when tracing is on. */
  def span[T](name: String, request: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name, request)
      try body finally close(s)
    }

  /** Id of the innermost open span of this thread (0 if none). */
  def currentId: Long = stack.get().headOption.map(_.id).getOrElse(0L)

  /** Jobs submitted under `group` (a streaming query's run id) bill `s`. */
  def bindGroup(group: String, s: Span): Unit = groupSpan.put(group, s.id)

  private def spanOfJob(props: java.util.Properties): Long = {
    val own = Option(props).flatMap(p => Option(p.getProperty("perfbench.span")))
    own.map(_.toLong).orElse(Option(props)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(g => Option(groupSpan.get(g)).map(_.longValue)))
      .getOrElse(rootSpan)
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (enabled) timed {
        val id = spanOfJob(e.properties)
        jobSpan.put(e.jobId, id)
        e.stageIds.foreach(st => stageSpan.put(st, id))
        Option(spans.get(id)).foreach(s => s.synchronized(s.jobs += 1))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (enabled) timed {
        Option(stageSpan.get(e.stageInfo.stageId)).flatMap(id => Option(spans.get(id)))
          .foreach(s => s.synchronized(s.stages += 1))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (enabled) timed {
        val s = Option(stageSpan.get(e.stageId)).flatMap(id => Option(spans.get(id)))
          .orElse(Option(spans.get(rootSpan)))
        s.foreach { s =>
          val m = e.taskMetrics
          s.synchronized {
            s.tasks += 1
            s.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
            if (m != null) {
              s.cpuNs += m.executorCpuTime
              s.gcMs += m.jvmGCTime
              s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
              s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            }
          }
        }
      }
  }

  def register(): Unit = sc.addSparkListener(listener)

  def unregister(): Unit = sc.removeSparkListener(listener)

  /** Inclusive counters of the spans of one name: wall seconds and jobs
    * per call, the rest summed over calls. */
  final case class Agg(wallS: Seq[Double], jobs: Seq[Long],
                       stages: Long, tasks: Long, cpuS: Double, gcS: Double,
                       shuffleMb: Double, spillMb: Double, driverS: Double)

  /** Inclusive totals of the spans under span `under` (itself included),
    * grouped by span name. */
  def report(under: Long): Map[String, Agg] = {
    val all = order.synchronized(order.toList).filter(_.end >= 0)
    val kids = all.groupBy(_.parent)
    def subtree(s: Span): List[Span] = s :: kids.getOrElse(s.id, Nil).flatMap(subtree)
    all.find(_.id == under).map(subtree).getOrElse(Nil).groupBy(_.name).map { case (name, ss) =>
      val rows = ss.map { s =>
        val tree = subtree(s)
        val ivals = tree.flatMap(t => t.synchronized(t.taskSpans.toList))
        val wall = (s.end - s.start).toDouble
        (wall / 1000.0, tree.map(_.jobs).sum, tree.map(_.stages).sum,
          tree.map(_.tasks).sum, tree.map(_.cpuNs).sum / 1e9,
          tree.map(_.gcMs).sum / 1000.0, tree.map(_.shuffleWrite).sum / 1e6,
          tree.map(_.spill).sum / 1e6,
          math.max(0.0, wall - busyMs(ivals, s.start, s.end)) / 1000.0)
      }
      name -> Agg(rows.map(_._1), rows.map(_._2),
        rows.map(_._3).sum, rows.map(_._4).sum, rows.map(_._5).sum,
        rows.map(_._6).sum, rows.map(_._7).sum, rows.map(_._8).sum,
        rows.map(_._9).sum)
    }
  }

  /** Milliseconds of [lo, hi] covered by at least one of the intervals. */
  private def busyMs(ivals: List[(Long, Long)], lo: Long, hi: Long): Double = {
    var covered = 0L
    var cur = lo
    for ((a0, b0) <- ivals.sortBy(_._1)) {
      val a = math.max(a0, cur)
      val b = math.min(b0, hi)
      if (b > a) { covered += b - a; cur = b }
    }
    covered.toDouble
  }

  /** Span records: name, start, end, parent, request id, the span's own
    * counters and its self time (duration minus what its children cover). */
  def spanRecords: List[String] = {
    val all = order.synchronized(order.toList).filter(_.end >= 0)
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val children = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      val selfMs = (s.end - s.start) - busyMs(children, s.start, s.end)
      s"""{"id":${s.id},"name":"${s.name}","start":${s.start},"end":${s.end},""" +
        s""""parent":${s.parent},"request":${s.request},"self_ms":$selfMs,""" +
        s""""jobs":${s.jobs},"stages":${s.stages},"tasks":${s.tasks},""" +
        s""""cpu_s":${s.cpuNs / 1e9},"gc_s":${s.gcMs / 1000.0}}"""
    }
  }
}
