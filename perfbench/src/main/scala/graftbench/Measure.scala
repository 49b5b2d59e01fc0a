package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.BenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

object Measure {
  val Cores = 4

  /** One closed-loop client on local[4]; every path the session can write
    * (shuffle/spill dirs, warehouse) lives under the run's own directory.
    */
  def session(runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftUdfs.register(spark)
    spark
  }

  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Order-insensitive digest of a frame: row count plus two 32-bit
    * halves of xxhash64 summed over rows (sums keep duplicate rows, which
    * an xor would cancel). Columns are hashed in name order, so a
    * partition column read back last still hashes the same.
    */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.sorted.map(col).toSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xffffffffL))),
      sum(shiftrightunsigned(h, 32))).head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  def dirBytesAndFiles(root: java.io.File): (Long, Long) = {
    val files = Option(root.listFiles()).toSeq.flatten
    files.foldLeft((0L, 0L)) { case ((b, n), f) =>
      if (f.isDirectory) { val (cb, cn) = dirBytesAndFiles(f); (b + cb, n + cn) }
      else (b + f.length(), n + 1)
    }
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  /** Output rows of the sort-merge joins in the executed plan of an
    * already-materialized frame (the LSH candidate self-join).
    */
  object Plans extends AdaptiveSparkPlanHelper {
    def smjOutputRows(df: DataFrame): Long =
      collect(df.queryExecution.executedPlan) {
        case j: SortMergeJoinExec => j.metrics("numOutputRows").value
      }.sum
  }
}

/** Peak driver live set: heap in use right after a full collection.
  * The benchmark samples it at every phase boundary (untimed). A sample
  * after a young collection would include old-generation garbage, so
  * its level would depend on GC timing rather than on what is live.
  */
final class HeapPeak {
  private val heap = ManagementFactory.getMemoryMXBean
  private var peak = 0L

  def sample(): Unit = {
    // the second collection reclaims what Spark's context cleaner let go
    // of after the first one (blocks of unreachable checkpointed frames)
    System.gc()
    Thread.sleep(100)
    System.gc()
    peak = math.max(peak, heap.getHeapMemoryUsage.getUsed)
  }
  def reset(): Unit = peak = 0L
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** In-memory spans with Spark counters attached.
  *
  * A span is current on the driver while its body runs. The listener
  * bus is drained at every span boundary, so each job start (and the
  * planning report of each SQL action) is delivered while the span that
  * submitted it is still current; task counters follow their job's span
  * through the stage ids. Counters are only read after a final drain.
  */
final class Tracer(spark: SparkSession, runId: String) {

  final class Span(val name: String, val parent: Option[Span], val start: Long) {
    @volatile var end: Long = 0L
    val jobs = new AtomicLong
    val busyMs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val planningMs = new AtomicLong
    def wallS: Double = (end - start) / 1e9
    def layer: String = name.takeWhile(_ != '/')
  }

  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  @volatile private var current: Option[Span] = None
  private val stageSpan = new ConcurrentHashMap[Int, Span]

  private val sparkListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = current.foreach { s =>
      s.jobs.incrementAndGet()
      j.stageIds.foreach(stageSpan.put(_, s))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(t.stageId)).foreach { s =>
        Option(t.taskMetrics).foreach { m =>
          s.busyMs.addAndGet(m.executorRunTime)
          s.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      current.foreach(_.planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)

  private def drain(): Unit = BenchBridge.drainListenerBus(spark.sparkContext)

  def span[A](name: String)(body: => A): A = {
    drain()
    val s = new Span(name, current, System.nanoTime())
    spans.synchronized(spans += s)
    current = Some(s)
    try body
    finally {
      drain()
      s.end = System.nanoTime()
      current = s.parent
    }
  }

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Span duration minus the part its direct children cover. */
  def selfS(s: Span): Double = s.wallS - all.filter(_.parent.contains(s)).map(_.wallS).sum

  /** Spans as JSON lines: name, start/end (ns, relative to the first
    * span), parent, run id, self time and counters.
    */
  def toJsonLines: Seq[String] = {
    val t0 = all.headOption.map(_.start).getOrElse(0L)
    val idx = all.zipWithIndex.toMap
    all.map { s =>
      val parent = s.parent.map(p => idx(p).toString).getOrElse("null")
      s"""{"id":${idx(s)},"name":"${s.name}","start_ns":${s.start - t0},"end_ns":${s.end - t0},""" +
        s""""parent":$parent,"run_id":"$runId","self_s":${selfS(s)},"jobs":${s.jobs.get},""" +
        s""""busy_s":${s.busyMs.get / 1e3},"shuffle_bytes":${s.shuffleBytes.get},""" +
        s""""planning_s":${s.planningMs.get / 1e3}}"""
    }
  }
}
