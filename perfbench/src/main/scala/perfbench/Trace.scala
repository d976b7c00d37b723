package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Benchmark-side tracing: a span per call into a graft layer, and a
  * SparkListener that attributes every Spark job to the span active on the
  * thread that submitted it. The span id travels as a Spark local property,
  * which the engine's worker threads inherit (Concurrent.runAll, broadcast
  * exchanges), so jobs an op fans out still land in its span.
  *
  * Everything is kept in memory and written out once, at exit.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val jobsOpen = mutable.Set.empty[Int]
  private val stats = mutable.Map.empty[Long, SpanStats]
  private var nextId = 0L

  sc.addSparkListener(this)

  /** Runs `body` inside a span named `name` (on the calling thread). */
  def span[A](name: String)(body: => A): A = {
    val s = synchronized { nextId += 1; Span(nextId, name, Option(sc.getLocalProperty(Prop)).map(_.toLong)) }
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    s.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      s.wallNs = System.nanoTime() - t0
      s.endMs = System.currentTimeMillis()
      sc.setLocalProperty(Prop, prev)
      synchronized(spans += s)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach { id =>
      val sid = id.toLong
      jobSpan(e.jobId) = sid
      jobsOpen += e.jobId
      e.stageIds.foreach(stageSpan(_) = sid)
      statsOf(sid).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsOpen -= e.jobId }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { sid =>
      val st = statsOf(sid)
      val info = e.taskInfo
      st.tasks += 1
      st.intervals += ((info.launchTime, info.finishTime))
      st.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += (info.finishTime - info.launchTime)
      Option(e.taskMetrics).foreach { m =>
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private def statsOf(id: Long) = stats.getOrElseUpdate(id, new SpanStats)

  /** Waits (bounded) until every attributed job has reported its end. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobsOpen.nonEmpty) && System.currentTimeMillis() < until) Thread.sleep(20)
    Thread.sleep(200) // task-end events of the last jobs trail their job-end
  }

  /** One measured record per span, in start order. */
  def records: Seq[Record] = synchronized {
    spans.sortBy(_.startMs).map { s =>
      val st = stats.getOrElse(s.id, new SpanStats)
      val taskMs = st.intervals.iterator.map { case (a, b) => b - a }.sum
      Record(
        s.id, s.name, s.parent, s.startMs, s.endMs,
        wallS = s.wallNs / 1e9,
        jobs = st.jobs,
        tasks = st.tasks,
        taskS = taskMs / 1e3,
        idleS = math.max(0.0, s.wallNs / 1e9 - covered(st.intervals.toSeq, s.startMs, s.endMs) / 1e3),
        shuffleBytes = st.shuffleBytes,
        spillBytes = st.spillBytes,
        skew = st.stageTaskMs.values.filter(_.size > 1).map { ts =>
          val med = Stats.median(ts.map(_.toDouble).toSeq)
          if (med <= 0) 1.0 else ts.max / med
        }.maxOption.getOrElse(1.0),
      )
    }.toSeq
  }
}

object Trace {
  val Prop = "perfbench.span"

  final case class Span(id: Long, name: String, parent: Option[Long]) {
    var startMs = 0L
    var endMs = 0L
    var wallNs = 0L
  }

  final class SpanStats {
    var jobs = 0
    var tasks = 0
    var shuffleBytes = 0L
    var spillBytes = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  final case class Record(
      id: Long, name: String, parent: Option[Long], startMs: Long, endMs: Long,
      wallS: Double, jobs: Int, tasks: Int, taskS: Double, idleS: Double,
      shuffleBytes: Long, spillBytes: Long, skew: Double,
  ) {
    def json: String =
      s"""{"id":$id,"name":"$name","parent":${parent.getOrElse("null")},"start_ms":$startMs,"end_ms":$endMs,""" +
        s""""wall_s":$wallS,"jobs":$jobs,"tasks":$tasks,"task_s":$taskS,"idle_s":$idleS,""" +
        s""""shuffle_bytes":$shuffleBytes,"spill_bytes":$spillBytes,"skew":$skew}"""
  }

  /** Milliseconds of [from, to] covered by at least one interval. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var end = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }.filter(x => x._2 > x._1).sortBy(_._1).foreach {
      case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Highest whole percentile with at least 10 samples above it. */
  def tailPercentile(n: Int): Option[Int] =
    (99 to 50 by -1).find(p => n - math.ceil(n * p / 100.0) >= 10)
}
