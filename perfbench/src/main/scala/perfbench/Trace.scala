package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. Spans are recorded only when `enabled`;
  * a disabled tracer runs the body and nothing else, so the untraced
  * run pays no tracing cost. Spans wrap calls into the program's
  * layers from the benchmark's side; the program itself is not
  * instrumented.
  */
final class Tracer(@volatile var enabled: Boolean) {
  import Tracer.Span
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val depth = ThreadLocal.withInitial[Integer](() => 0)
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val d: Int = depth.get
      depth.set(d + 1)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(name, Thread.currentThread().getId, d, t0, System.nanoTime()))
        depth.set(d)
      }
    }

  /** Record a span timed outside the tracer, on the timeline of
    * `System.nanoTime` (traced runs only).
    */
  def add(name: String, thread: Long, start: Long, end: Long): Unit =
    if (enabled) spans.add(Span(name, thread, 0, start, end))

  /** Add `v` to counter `name` (traced runs only). */
  def count(name: String, v: Double): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  def counter(name: String): Double =
    Option(counters.get(name)).map(_.sum()).getOrElse(0.0)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Total and call count of every span named `name`. */
  def total(name: String): (Double, Int) = {
    val s = all.filter(_.name == name)
    (s.map(_.seconds).sum, s.size)
  }

  /** Mean seconds per call of `name`, 0 when never called. */
  def perCall(name: String): Double = {
    val (t, n) = total(name)
    if (n == 0) 0.0 else t / n
  }

  /** Seconds of [t0, t1] covered by top-level spans named in `names`:
    * the union of those spans on each thread, summed over threads.
    */
  def attributed(t0: Long, t1: Long, names: Set[String]): Double =
    all.filter(s => s.depth == 0 && names(s.name)).groupBy(_.thread).values.map { ss =>
      Stats.covered(ss.map(s => (math.max(s.start, t0), math.min(s.end, t1))))
    }.sum / 1e9
}

object Tracer {
  final case class Span(name: String, thread: Long, depth: Int,
      start: Long, end: Long) {
    def seconds: Double = (end - start) / 1e9
  }
}

/** Spark engine counters taken from outside the program: a
  * QueryExecutionListener for planning (the analysis, optimization
  * and planning phases of `QueryExecution.tracker`) and execution
  * time of Dataset actions, and a SparkListener for jobs, tasks,
  * scheduler delay and the wall time no job was running.
  *
  * The listener also counts range-index builds. `buildIndex` collects
  * a persisted snapshot table, and nothing else on the request path
  * reads one (the probe reads the broadcast index). So a job with a
  * stage over the cached blocks of a snapshot table, whose block RDD
  * ids `snapshotRdds` gives, is one index build.
  */
final class EngineProbe(spark: SparkSession, snapshotRdds: () => Set[Int]) {
  val planMs = new AtomicLong
  val execNs = new AtomicLong
  val jobs = new AtomicLong
  val indexBuilds = new AtomicLong
  val tasks = new AtomicLong
  val schedDelayMs = new AtomicLong
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private val qel = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
      execNs.addAndGet(ns)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val sl = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val snaps = snapshotRdds()
      if (e.stageInfos.exists(_.rddInfos.exists(r => snaps(r.id))))
        indexBuilds.incrementAndGet()
      jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => jobSpans.add((s, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) {
        val d = (i.finishTime - i.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          i.gettingResultTime
        schedDelayMs.addAndGet(math.max(0L, d))
      }
    }
  }

  def install(): Unit = {
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(sl)
  }

  def uninstall(): Unit = {
    drain()
    spark.listenerManager.unregister(qel)
    spark.sparkContext.removeSparkListener(sl)
  }

  /** Wait until the listener bus has delivered queued events. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (!jobStart.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(100)
  }

  /** Seconds of [t0Ms, t1Ms] in which no Spark job was running. */
  def idleSeconds(t0Ms: Long, t1Ms: Long): Double = {
    val busy = Stats.covered(jobSpans.asScala.toSeq
      .map { case (s, e) => (math.max(s, t0Ms), math.min(e, t1Ms)) })
    (t1Ms - t0Ms - busy) / 1e3
  }
}

/** JVM-level counters: collector time and live heap. */
object JvmProbe {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def gcSeconds: Double = gcs.map(_.getCollectionTime).sum / 1e3

  /** Heap in use after full collections: the data the run keeps alive
    * (snapshots, indexes, tables), independent of when the collector
    * last ran.
    */
  def liveHeapMb(): Double = {
    // the second collection runs after Spark's cleaner has dropped
    // the blocks of broadcasts the first one found unreachable
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

object Stats {
  /** Quantile by linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Length of the union of intervals [start, end]; empty ones count 0. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE != Long.MinValue) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE != Long.MinValue) total += curE - curS
    total
  }
}
