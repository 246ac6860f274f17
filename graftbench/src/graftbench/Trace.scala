package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer numbers from a traced run: span durations and self times,
  * and the Spark work (listener) and file-system work (Hadoop
  * statistics) of each timed op, split by op class. */
final class Trace(h: Harness) {
  private val traced = h.ops.filter(_.traced)
  private val tracedIds = traced.map(_.id).toSet
  private val spans = h.spans.filter(s => s.op < 0 || tracedIds(s.op))

  /** Durations (ms) of every span with this name. */
  def spanMs(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => (s.t1 - s.t0) / 1e6).toSeq

  /** Self time per span name: duration minus the part of it covered by
    * the span's children. */
  def selfMs: Map[String, Seq[Double]] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(k => (k.t0, k.t1)).toSeq)
      s.name -> (s.t1 - s.t0 - covered) / 1e6
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  private lazy val tasks = h.tasks.asScala.toSeq
  private lazy val jobs = h.jobStarts.asScala.map(_.longValue).toSeq

  /** Per timed op of class `cls`: Spark jobs, tasks, executor ms,
    * driver gap (wall minus the time at least one task ran), shuffle
    * and spill bytes, and records read. */
  def spark(cls: String): Map[String, Seq[Double]] = {
    val per = traced.filter(_.cls == cls).map { o =>
      val ts = tasks.filter(t => t.launch >= o.startMs && t.launch <= o.endMs)
      val busy = union(ts.map(t => (t.launch, t.finish)))
      Map(
        "jobs" -> jobs.count(j => j >= o.startMs && j <= o.endMs).toDouble,
        "tasks" -> ts.size.toDouble,
        "executor_ms" -> ts.map(_.runMs).sum.toDouble,
        "driver_gap_ms" -> math.max(0.0, o.ms - busy),
        "shuffle_bytes" -> ts.map(_.shuffleBytes).sum.toDouble,
        "spill_bytes" -> ts.map(_.spillBytes).sum.toDouble)
    }
    Seq("jobs", "tasks", "executor_ms", "driver_gap_ms", "shuffle_bytes",
      "spill_bytes").map(k => k -> per.map(_(k)).toSeq).toMap
  }

  /** Rows the scans read per row returned, per traced op with one of
    * these names. */
  def readAmplification(names: Set[String]): Seq[Double] =
    traced.filter(o => names(o.name) && o.rowsOut >= 0).map { o =>
      tasks.filter(t => t.launch >= o.startMs && t.launch <= o.endMs)
        .map(_.recordsRead).sum.toDouble / math.max(1L, o.rowsOut)
    }.toSeq

  /** File-system ops and bytes per traced write op. */
  def fs: Map[String, Seq[Double]] = {
    val w = traced.filter(_.cls == "write")
    Map("core.fs_read_ops" -> w.map(_.fsReadOps.toDouble).toSeq,
      "core.fs_write_ops" -> w.map(_.fsWriteOps.toDouble).toSeq,
      "core.fs_bytes_written" -> w.map(_.fsBytesWritten.toDouble).toSeq)
  }

  /** Tracing overhead: the time the tracing itself took (span
    * bookkeeping, listener callbacks) as a share of the traced ops'
    * time. Counters read between ops are not counted: they fall outside
    * op time. */
  def overheadPct: Double = {
    val opMs = traced.map(_.ms).sum
    if (opMs == 0) 0.0 else 100.0 * h.traceNs.get / 1e6 / opMs
  }

  def spansJson: Iterator[String] = spans.iterator.map(s => Json(Map(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
    "start_ns" -> s.t0, "end_ns" -> s.t1)))
}
