package graftbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One workload: set-up, then a timed round. */
trait Workload {
  /** Generate the inputs from the seed (no Spark); returns their
    * digest. */
  def generate(): String
  /** Load the generated inputs, then warm up: the timed round's op
    * shapes, on throwaway tables outside the timed ones. */
  def prepare(): Unit
  /** The timed round over fresh tables named `name`; correctness checks
    * included. */
  def runRound(name: String): Unit
  /** Bytes of generated input the timed tables hold. */
  def inputBytes: Long
  /** Input rows the timed round committed. */
  def rows: Long
  /** The timed round's tables (for storage and layer metrics). */
  def tableDirs: Seq[String]
  /** Distinct `_ingestion_date` values the timed round wrote. */
  def ingestionDates: Set[String] = Set.empty
  def layerMetrics(t: Trace): Map[String, Any]
}

object Gen {
  def sha256(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(p.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** `s` as a JSON string literal. */
  def jsonStr(s: String): String = Json.quote(s)
}

/** Benchmark entry point.
  *
  * {{{
  * graftbench.Main --workload W --seed N --trace 0|1 --out DIR
  * graftbench.Main --digest --workload W --seed N
  * }}}
  *
  * Prints, as its last stdout line, `GRAFTBENCH_RECORD {json}`: the raw
  * op samples, set-up times, checks, run-validity data and (traced)
  * per-layer numbers. `run.py` turns the record into metrics. */
object Main {
  /** Times input generation runs; `setup_s` takes the median. Loading
    * and warm-up run once: a second warm-up in the same JVM would time
    * a warm JVM, not a set-up. */
  val GenerateReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val out = a.getOrElse("out", ".bench_out/run")
    if (args.contains("--digest")) {
      // generation needs no Spark session; event times anchor at 0
      val w = make(workload, new Harness(null), seed, s"$out/tables", 0L,
        trace = false)
      println("GRAFTBENCH_DIGEST " + w.generate())
    } else {
      val spark = session(out)
      spark.sparkContext.setLogLevel("WARN")
      try run(spark, workload, seed, a.getOrElse("trace", "0") == "1", out)
      finally spark.stop()
    }
  }

  def session(out: String): SparkSession = {
    val local = new java.io.File(s"$out/spark-local").getAbsolutePath
    SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions",
        Runtime.getRuntime.availableProcessors.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"$local/warehouse")
      .getOrCreate()
  }

  /** `anchorMs`: the instant generated event times are relative to. */
  def make(name: String, h: Harness, seed: Long, root: String,
      anchorMs: Long, trace: Boolean): Workload = name match {
    case "cdc_ingest" => new CdcIngestWorkload(h, seed, root, anchorMs, trace)
    case "corpus_index" => new CorpusIndexWorkload(h, seed, root)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def run(spark: SparkSession, name: String, seed: Long, trace: Boolean,
      out: String): Unit = {
    val rt = ManagementFactory.getRuntimeMXBean
    val sessionS = (System.currentTimeMillis() - rt.getStartTime) / 1000.0
    val h = new Harness(spark)
    val root = new java.io.File(s"$out/tables").getAbsolutePath
    Harness.deleteTree(root)
    val w = make(name, h, seed, root, System.currentTimeMillis(), trace)
    def seconds(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    var digest = ""
    val generateS = (0 until GenerateReps).map(_ => seconds {
      digest = w.generate()
    })
    val prepareS = seconds(w.prepare())

    h.timed = true
    // a traced run times the same round as an untraced one, traced
    h.setTracing(trace)
    val gc0 = Harness.gcMs()
    val t0 = System.nanoTime()
    w.runRound("round")
    h.setTracing(false)
    val timedS = (System.nanoTime() - t0) / 1e9
    val gcMs = Harness.gcMs() - gc0
    h.timed = false
    // live heap: the least of three forced collections, so objects the
    // Spark context cleaner releases between them are not counted
    val heapMb = (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val storage = w.tableDirs.map(Harness.dirBytes).sum
    val layer: Map[String, Any] = if (!trace) Map.empty else {
      h.drainListener()
      val t = new Trace(h)
      writeSpans(t, s"$out/spans.jsonl")
      val sparkW = t.spark("write")
      val sparkR = t.spark("read")
      w.layerMetrics(t) ++ t.fs ++
        sparkW.map { case (k, v) => s"spark.$k.write" -> v } ++
        sparkR.map { case (k, v) => s"spark.$k.read" -> v } ++
        Map("jvm.gc_ms" -> gcMs.toDouble,
          "trace.overhead_pct" -> t.overheadPct,
          "trace.self_ms" -> t.selfMs)
    }
    val writes = h.samples("write")
    val half = writes.size / 2
    val conf = spark.conf.getAll.filter { case (k, _) =>
      Set("spark.master", "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled", "spark.sql.session.timeZone",
        "spark.sql.extensions").contains(k) }
    val record = Map(
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "attempted" -> h.attempted, "failed" -> h.failed,
      "errors" -> h.errors.toSeq,
      "checks" -> h.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
      "samples" -> h.samples.map { case (k, v) => k -> v.toSeq },
      "timed_s" -> timedS,
      "rows_committed" -> w.rows,
      "session_s" -> sessionS, "generate_s" -> generateS,
      "prepare_s" -> prepareS,
      "live_heap_mb" -> heapMb,
      "storage_bytes" -> storage, "input_bytes" -> w.inputBytes,
      "gc_ms" -> gcMs,
      "layer" -> layer,
      "diag" -> Map(
        "jvm_processors" -> Runtime.getRuntime.availableProcessors,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_conf" -> conf,
        "write_p50_first_half_ms" ->
          (if (half > 0) Harness.median(writes.take(half).toSeq) else 0.0),
        "write_p50_second_half_ms" ->
          (if (half > 0) Harness.median(writes.drop(half).toSeq) else 0.0),
        "ingestion_dates" -> w.ingestionDates.toSeq.sorted,
        "input_digest" -> digest))
    println("GRAFTBENCH_RECORD " + Json(record))
  }

  private def writeSpans(t: Trace, path: String): Unit = {
    val pw = new java.io.PrintWriter(path, "UTF-8")
    try t.spansJson.foreach(pw.println) finally pw.close()
  }
}
