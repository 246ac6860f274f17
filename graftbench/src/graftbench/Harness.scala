package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** One finished Spark task, as the listener saw it (epoch ms). */
final case class TaskRec(launch: Long, finish: Long, runMs: Long,
    shuffleBytes: Long, spillBytes: Long, recordsRead: Long)

/** One timed operation of the closed loop. `fs*` are Hadoop
  * `FileSystem` statistic deltas over the op (traced rounds only). */
final case class OpRec(id: Int, cls: String, name: String, timed: Boolean,
    traced: Boolean,
    startMs: Long, endMs: Long, ms: Double, rowsOut: Long,
    fsReadOps: Long, fsWriteOps: Long, fsBytesWritten: Long)

final case class Span(id: Int, parent: Int, op: Int, name: String,
    t0: Long, t1: Long)

/** The single closed-loop client: every operation runs to completion
  * before the next starts. Untraced, an op costs two clock reads; in a
  * traced round it also records a span tree (spans named
  * `layer.call`, parent + op id), Hadoop FileSystem statistics and the
  * Spark tasks it ran. Spans stay in memory until the run ends. */
final class Harness(val spark: SparkSession) {
  /** Timed op latencies (ms) by class: "write" and "read" make the
    * end-to-end metrics; other classes are timed for the trace only. */
  val samples = scala.collection.mutable.LinkedHashMap(
    "write" -> ArrayBuffer.empty[Double], "read" -> ArrayBuffer.empty[Double])
  val ops = ArrayBuffer.empty[OpRec]
  val spans = ArrayBuffer.empty[Span]
  val errors = ArrayBuffer.empty[String]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0
  var failed = 0
  /** Timed ops count towards the end-to-end samples; warm-up ops and
    * scratch probes do not. */
  var timed = false
  private var tracing = false
  private var stack: List[Int] = Nil
  private var nextSpan = 0
  private var curOp = -1

  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  /** Time the tracing itself took: span bookkeeping on the client
    * thread and the listener's callbacks on Spark's listener thread. */
  val traceNs = new java.util.concurrent.atomic.AtomicLong()
  private def costed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    traceNs.addAndGet(System.nanoTime() - t0)
    ()
  }
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      costed(jobStarts.add(e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = costed {
      if (e.taskInfo != null && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.add(TaskRec(e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.recordsRead))
      }
    }
  }

  def tracingOn: Boolean = tracing

  def setTracing(on: Boolean): Unit = if (on != tracing) {
    if (on) spark.sparkContext.addSparkListener(listener)
    else spark.sparkContext.removeSparkListener(listener)
    tracing = on
  }

  /** A span around one call into a graft layer (no-op when untraced). */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        costed {
          stack = stack.tail
          spans += Span(id, parent, curOp, name, t0, t1)
        }
      }
    }

  /** Time one operation of class `cls`. A failure is
    * counted and recorded, never rethrown: the run goes on and the
    * correctness checks decide. */
  def op[T](cls: String, name: String)(body: => T): Option[T] = {
    val id = ops.size
    attempted += (if (timed) 1 else 0)
    val fs0 = if (tracing) Harness.fsStats() else null
    curOp = id
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = span(name)(body)
      val ms = (System.nanoTime() - t0) / 1e6
      val fs1 = if (tracing) Harness.fsStats() else null
      if (timed) samples.getOrElseUpdate(cls, ArrayBuffer.empty) += ms
      System.err.println(f"[graftbench] op $name%s ${if (timed) "timed" else "untimed"}%s $ms%.1f ms")
      val rows = r match {
        case a: Array[_] => a.length.toLong
        case n: Long => n
        case n: Int => n.toLong
        case _ => -1L
      }
      ops += OpRec(id, cls, name, timed, tracing && timed, w0,
        System.currentTimeMillis(), ms, rows,
        if (fs0 == null) 0L else fs1._1 - fs0._1,
        if (fs0 == null) 0L else fs1._2 - fs0._2,
        if (fs0 == null) 0L else fs1._3 - fs0._3)
      Some(r)
    } catch {
      case NonFatal(e) =>
        if (timed) failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(400)
        None
    } finally curOp = -1
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail.take(400)))
    if (!ok) System.err.println(s"[graftbench] CHECK FAILED $name: $detail")
  }

  /** Wait until the asynchronous listener bus has gone quiet. */
  def drainListener(): Unit = {
    var last = -1
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(100)
      val n = tasks.size + jobStarts.size
      if (n == last) quiet += 1 else { quiet = 0; last = n }
    }
  }
}

object Harness {
  /** (read syscalls, write syscalls, bytes written to the local file
    * system) so far. The local Hadoop file system counts bytes but not
    * operations, so the operation counts come from the kernel's
    * per-process IO accounting (zero where the OS has none); in local
    * mode the executors share the process, so both cover graft's
    * manifest IO and Spark's data files. */
  def fsStats(): (Long, Long, Long) = {
    val io = scala.util.Try(java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/self/io")).asScala
      .map(_.split(":\\s*")).collect {
        case Array(k, v) => k -> v.trim.toLong }.toMap)
      .getOrElse(Map.empty[String, Long])
    val bytes = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
    (io.getOrElse("syscr", 0L), io.getOrElse("syscw", 0L), bytes)
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Run the whole plan (every column, every row) without shipping the
    * rows to the driver; returns the row count. */
  def materialize(df: DataFrame): Long = {
    val obs = Observation("graftbench_rows")
    df.observe(obs, count(lit(1)).as("n")).write.format("noop")
      .mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** Bytes of every file under `dir` (data, manifests, orphans). */
  def dirBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => java.nio.file.Files.size(p)).sum
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
  }

  /** Exact median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
