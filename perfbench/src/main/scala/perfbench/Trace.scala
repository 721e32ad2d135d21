package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchSpark, SparkSession}
import scala.jdk.CollectionConverters._

/** Spans around the benchmark's calls into each layer, kept in memory and
  * written out when the run ends. A span is one call: its name, start and
  * end, its parent span and the operation (one replayed request) it belongs
  * to. Spark work is attributed to the innermost open span through a
  * thread-local Spark property that [[span]] sets on the calling thread, so
  * jobs, stages, tasks and query planning land on the request that caused
  * them even with several clients running at once. Planning reaches its
  * span through the SQL execution id its jobs carry.
  *
  * With tracing off (the default) [[span]] and [[count]] are plain calls.
  */
object Trace {
  final case class Span(id: Long, op: Long, kind: String, name: String, parent: Long,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Spark work attributed to one span. */
  final class SparkCost {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var schedDelayMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var peakMem = 0L
    var planMs = 0L
    /** Wall-clock intervals of the span's jobs, in nanoseconds of this JVM's
      * `nanoTime` (converted from the listener's epoch millis). */
    val jobIntervals = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
  }

  val SpanProperty = "perfbench.span"

  @volatile private var enabled = false
  @volatile private var sc: SparkContext = null
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counts = new ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
  private val costs = new ConcurrentHashMap[Long, SparkCost]()
  // innermost open span on this thread: (span id, op id, op kind)
  private val open = new ThreadLocal[(Long, Long, String)] {
    override def initialValue(): (Long, Long, String) = (0L, 0L, "")
  }
  // epoch-millis → nanoTime offset, for placing listener times on span clocks
  private val epochToNanoNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()

  private def cost(span: Long): SparkCost = costs.computeIfAbsent(span, _ => new SparkCost)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      if (span != 0L) {
        e.stageIds.foreach(stageSpan.put(_, span))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.put(x.toLong, span))
        jobStart.put(e.jobId, (span, e.time))
        cost(span).synchronized { cost(span).jobs += 1 }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (span, t0) =>
        val c = cost(span)
        c.synchronized {
          c.jobIntervals += ((t0 * 1000000L + epochToNanoNs, e.time * 1000000L + epochToNanoNs))
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
        val c = cost(span); c.synchronized { c.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { span =>
        val m = e.taskMetrics
        val i = e.taskInfo
        val c = cost(span)
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
            c.gcMs += m.jvmGCTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
            c.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
          }
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit =
      PerfbenchSpark.planning(e).foreach { case (exec, ms) =>
        Option(execSpan.get(exec)).foreach { span =>
          val c = cost(span); c.synchronized { c.planMs += ms }
        }
      }
  }

  /** Start recording: clears earlier spans and registers the listeners. */
  def start(spark: SparkSession): Unit = {
    spans.clear(); counts.clear(); costs.clear()
    stageSpan.clear(); execSpan.clear(); jobStart.clear()
    sc = spark.sparkContext
    sc.addSparkListener(Listener)
    enabled = true
  }

  /** Stop recording once every listener event of the run has been seen. */
  def stop(spark: SparkSession): Unit = {
    enabled = false
    PerfbenchSpark.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(Listener)
  }

  /** The root span of one operation (a replayed request of `kind`). */
  def op[A](kind: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      within(id, id, kind, "op", 0L)(body)
    }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val (parent, op, kind) = open.get()
      within(ids.incrementAndGet(), op, kind, name, parent)(body)
    }

  private def within[A](id: Long, op: Long, kind: String, name: String, parent: Long)(body: => A): A = {
    val saved = open.get()
    open.set((id, op, kind))
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(saved)
      sc.setLocalProperty(SpanProperty, if (saved._1 == 0L) null else saved._1.toString)
      spans.add(Span(id, op, kind, name, parent, t0, t1))
    }
  }

  /** Add `n` to a named per-run count (recorded only while tracing). */
  def count(name: String, n: Long): Unit =
    if (enabled) counts.computeIfAbsent(name, _ => new java.util.concurrent.atomic.LongAdder).add(n)

  def recorded: Seq[Span] = spans.asScala.toSeq
  def counted(name: String): Long = Option(counts.get(name)).map(_.sum).getOrElse(0L)
  def sparkCost(span: Long): Option[SparkCost] = Option(costs.get(span))

  /** Wall time of a span covered by its Spark jobs. */
  def jobWallMs(s: Span, c: SparkCost): Double =
    covered(c.synchronized(c.jobIntervals.toSeq), s.startNs, s.endNs) / 1e6

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curEnd = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > curEnd) { total += b - math.max(a, curEnd); curEnd = b }
      }
    total
  }

  /** Write the recorded spans as JSON lines, with each span's Spark cost. */
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try recorded.sortBy(_.startNs).foreach { s =>
      val c = sparkCost(s.id)
      w.write(s"""{"id":${s.id},"op":${s.op},"kind":"${s.kind}","name":"${s.name}",""" +
        s""""parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}""" +
        c.fold("")(c => s""","jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
          s""""executor_cpu_ms":${c.cpuNs / 1e6},"plan_ms":${c.planMs}""") + "}\n")
    } finally w.close()
  }
}
