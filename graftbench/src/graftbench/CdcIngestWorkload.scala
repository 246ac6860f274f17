package graftbench

import scala.collection.mutable

import graft.ingest.CdcNormalize.DlqReason
import graft.ingest.{CdcNormalize => Norm, Envelope}
import graft.query.CurrentState
import graft.reconcile.Reconciler
import graft.sink.CdcTable
import graft.streaming.CdcIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, collect_set, count, lit}

/** A Debezium-envelope backlog over 4 MongoDB collections, split into
  * equal-size batches. Keys are bounded, so the op mix is c/u/d over
  * live state; 0.5% of events are planted bad (malformed JSON, unknown
  * op, stale timestamp); a novel document field appears every
  * `NovelEvery` batches and one collection's `score` widens int→double
  * half way. Event times are offsets from `anchorMs` (the run start),
  * so the 7-day stale rule classifies the same events on every run. */
final case class CdcEvent(json: String, coll: Int, key: Int,
    reason: String, offset: Long, op: String = "", version: Int = 0)

final case class CdcInput(batches: IndexedSeq[IndexedSeq[CdcEvent]],
    schemaChanges: IndexedSeq[Int]) {
  def events: Iterator[CdcEvent] = batches.iterator.flatten
  def valid: Iterator[CdcEvent] = events.filter(_.reason == null)
  def bytes: Long = events.map(_.json.getBytes("UTF-8").length.toLong).sum
  def digest: String = Gen.sha256(events.map(_.json))

  /** The source's state of collection `c` after batch `b`: live key →
    * document version. */
  def stateAfter(c: Int, b: Int): Map[Int, Int] =
    batches.take(b + 1).iterator.flatten
      .filter(e => e.reason == null && e.coll == c)
      .foldLeft(Map.empty[Int, Int]) { (m, e) =>
        if (e.op == "d") m - e.key else m.updated(e.key, e.version)
      }
}

object CdcGen {
  val Db = "shop"
  val Collections: IndexedSeq[String] =
    IndexedSeq("users", "orders", "items", "events")
  val NovelEvery = 3
  val DayMs: Long = 24L * 3600 * 1000

  def table(c: Int): String = Norm.tableName(s"$Db.${Collections(c)}")

  def apply(seed: Long, anchorMs: Long, batches: Int, batchSize: Int,
      keys: Int): CdcInput = {
    val rng = new java.util.SplittableRandom(seed)
    val alive = Array.fill(Collections.size, keys)(false)
    val version = Array.fill(Collections.size, keys)(0)
    val changes = Array.fill(Collections.size)(0)
    // the k-th novel field appears in batch k*NovelEvery+1, in
    // collection k % 4
    val novelAt = (0 until batches).filter(_ % NovelEvery == 1)
      .map(b => b -> (b / NovelEvery) % Collections.size).toMap
    // a multiple of NovelEvery: no novel field in the same batch
    val widenBatch = NovelEvery * (batches / (2 * NovelEvery))
    val widenColl = 1
    val fields = Array.fill(Collections.size)(Vector.empty[String])
    val total = batches.toLong * batchSize
    var offset = 0L
    val out = (0 until batches).map { b =>
      novelAt.get(b).foreach { c =>
        fields(c) = fields(c) :+ s"attr_$b"; changes(c) += 1
      }
      if (b == widenBatch) changes(widenColl) += 1
      val nBad = math.max(1, batchSize / 200)
      val badSlots = mutable.Set.empty[Int]
      while (badSlots.size < nBad) badSlots += rng.nextInt(batchSize)
      (0 until batchSize).map { i =>
        val c = rng.nextInt(Collections.size)
        val k = rng.nextInt(keys)
        val id = f"${Collections(c)}-$k%05d"
        val ts = anchorMs - (total - offset) * 10
        def doc(): String = {
          val v = version(c)(k)
          val score =
            if (c == widenColl && b >= widenBatch) s"${rng.nextInt(100)}.5"
            else rng.nextInt(100).toString
          val extra = fields(c).map(f => s""","$f":"v${rng.nextInt(50)}"""")
            .mkString
          s"""{"_id":"$id","n":$v,"name":"w${rng.nextInt(1000)}",""" +
            s""""price":${rng.nextInt(10000)}.25,"score":$score,""" +
            s""""tags":["t${rng.nextInt(20)}","t${rng.nextInt(20)}"]$extra}"""
        }
        val ev =
          if (badSlots(i)) (i % 3) match {
            case 0 => CdcEvent(s"""{"payload":{"_id":"$id","op":""" +
              s"""broken-$b-$i""", c, k, DlqReason.Corrupted, offset)
            case 1 => CdcEvent(envelope("x", id, Gen.jsonStr(doc()), "null",
              ts, c), c, k, DlqReason.UnknownOp, offset)
            case _ => CdcEvent(envelope("u", id, Gen.jsonStr(doc()), "null",
              anchorMs - 30 * DayMs - offset, c), c, k, DlqReason.Stale,
              offset)
          } else if (!alive(c)(k)) {
            alive(c)(k) = true
            version(c)(k) = 0
            CdcEvent(envelope("c", id, Gen.jsonStr(doc()), "null", ts, c),
              c, k, null, offset, "c", 0)
          } else if (rng.nextInt(5) == 0) {
            alive(c)(k) = false
            CdcEvent(envelope("d", id, "null", "null", ts, c), c, k, null,
              offset, "d")
          } else {
            version(c)(k) += 1
            CdcEvent(envelope("u", id, Gen.jsonStr(doc()), "null", ts, c),
              c, k, null, offset, "u", version(c)(k))
          }
        offset += 1
        ev
      }
    }
    CdcInput(out, changes.toIndexedSeq)
  }

  private def envelope(op: String, id: String, after: String,
      before: String, ts: Long, c: Int): String =
    s"""{"payload":{"_id":"$id","before":$before,"after":$after,""" +
      s""""op":"$op","ts_ms":$ts,"source":{"version":"2.5.0.Final",""" +
      s""""connector":"mongodb","name":"mongodb","ts_ms":$ts,""" +
      s""""snapshot":"false","db":"$Db","rs":"rs0",""" +
      s""""collection":"${Collections(c)}","ord":1}}}"""
}

/** `cdc_ingest`: each timed round ingests the whole backlog into fresh
  * tables, batch by batch, through `CdcIngest.processBatch` with an
  * explicit batch id (the body `CdcIngest.start` runs per trigger,
  * without its timer). After each commit it looks up keys of that batch
  * through the `graft` format and reads the table's change feed since
  * the previous commit. Every round makes the same commits, so the live
  * file count each read sees is the same on every run. A traced run
  * (`traceRun`) also reads the table's past and current state and
  * reconciles them after each round, for the `query` and `reconcile`
  * layers. */
final class CdcIngestWorkload(h: Harness, seed: Long, root: String,
    anchorMs: Long, traceRun: Boolean) extends Workload {
  import CdcIngestWorkload._
  private val spark = h.spark
  private var input: CdcInput = _
  private var frames: IndexedSeq[DataFrame] = _
  def generate(): String = {
    input = CdcGen(seed, anchorMs, Batches, BatchSize, Keys)
    input.digest
  }

  def prepare(): Unit = {
    import spark.implicits._
    def frame(b: IndexedSeq[CdcEvent]): DataFrame =
      b.map(e => (e.json, "mongodb.shop", 0, e.offset))
        .toDF("value", "topic", "partition", "offset")
    frames = input.batches.map(frame)
    // every batch of the round, cut to its first WarmEvents events: the
    // same schema changes, tables and op shapes, at a fraction of the rows
    val warm = input.batches.map(_.take(WarmEvents))
    val sofar = mutable.Map.empty[(Int, Int), Int].withDefaultValue(0)
    warm.indices.foreach(b => cycle(s"$root/warmup", b, warm(b),
      frame(warm(b)), timedRound = false, sofar))
  }

  def inputBytes: Long = input.bytes

  var rows = 0L

  private var lastBase: String = _

  def runRound(name: String): Unit = {
    lastBase = s"$root/$name"
    val sofar = mutable.Map.empty[(Int, Int), Int].withDefaultValue(0)
    var midCommit = 0L
    frames.indices.foreach { b =>
      cycle(lastBase, b, input.batches(b), frames(b), timedRound = true,
        sofar)
      if (b == Mid) midCommit = commitOf(s"$lastBase/${CdcGen.table(0)}")
    }
    if (traceRun) stateReads(lastBase, midCommit)
    rows += input.events.size
    verifyRound(lastBase)
  }

  private def commitOf(dir: String): Long =
    h.span("sink.log")(CdcTable.log(dir).last.commit)

  /** After the last batch, on the first collection: the table as of
    * batch `Mid` (commit `asOf`), its current state, and a reconcile of
    * the current state against the current state as of batch `Mid`.
    * These reads cover the `query` and `reconcile` layers; they are
    * timed for the trace but kept out of the end-to-end read latency,
    * which is the per-commit reads'. */
  private def stateReads(base: String, asOf: Long): Unit = {
    val dir = s"$base/${CdcGen.table(0)}"
    def ck(name: String, ok: Boolean, detail: => String): Unit =
      h.check(name, ok, detail)
    h.op("state", "sink.readAsOf") {
      Harness.materialize(CdcTable.readAsOf(spark, dir, commitAsOf = Some(asOf)))
    }.foreach { n =>
      val want = input.batches.take(Mid + 1).flatten
        .count(e => e.reason == null && e.coll == 0)
      ck("read_as_of", n == want, s"as of commit $asOf: $n rows, expected $want")
    }
    val now = input.stateAfter(0, Batches - 1)
    h.op("state", "query.currentState") {
      Harness.materialize(CurrentState(CdcTable.read(spark, dir)))
    }.foreach(n => ck("current_state", n == now.size,
      s"current state has $n rows, expected ${now.size} live keys"))
    h.op("state", "reconcile.diff") {
      val r = Reconciler.diff(CurrentState(CdcTable.read(spark, dir)),
        CurrentState(CdcTable.readAsOf(spark, dir, commitAsOf = Some(asOf))),
        "_id", Seq("n"))
      (r.missingInTarget.count(), r.extraInTarget.count(),
        r.mismatched.count(), r.counts._1 + r.counts._2)
    }.foreach { case (mi, ex, mm, compared) =>
      diffRows += compared
      val then = input.stateAfter(0, Mid)
      val want = (now.keySet.diff(then.keySet).size.toLong,
        then.keySet.diff(now.keySet).size.toLong,
        now.count { case (k, v) => then.get(k).exists(_ != v) }.toLong)
      ck("periodic_diff", (mi, ex, mm) == want,
        s"(missing, extra, mismatched) = ${(mi, ex, mm)}, expected $want")
    }
  }

  /** Rows compared by each `reconcile.diff` (both sides). */
  private val diffRows = mutable.ArrayBuffer.empty[Long]

  /** Commit batch `b` into the tables under `base`, then read it back.
    * `sofar` counts the valid events per key committed so far. */
  private def cycle(base: String, b: Int, batch: IndexedSeq[CdcEvent],
      frame: DataFrame, timedRound: Boolean,
      sofar: mutable.Map[(Int, Int), Int]): Unit = {
    val cfg = CdcIngest.Config(base, checkpointDir = s"$base/_checkpoint")
    // the collection this batch's reads target, and its commit before
    val c = b % CdcGen.Collections.size
    val dir = s"$base/${CdcGen.table(c)}"
    val before = h.span("sink.log")(
      CdcTable.log(dir).lastOption.map(_.commit).getOrElse(0L))
    h.op("write", "streaming.processBatch") {
      CdcIngest.processBatch(frame, cfg, Some(b.toLong))
    }
    batch.filter(_.reason == null).foreach(e => sofar((e.coll, e.key)) += 1)
    // point lookups of keys this batch wrote to the read collection; the
    // warm-up needs one to compile the lookup's shape
    val keys = batch.filter(e => e.reason == null && e.coll == c).map(_.key)
      .distinct.take(if (timedRound) LookupsPerCommit else 1)
    def id(k: Int): String = f"${CdcGen.Collections(c)}-$k%05d"
    if (h.tracingOn && timedRound) probeLayers(b, dir, id(keys.head))
    keys.foreach { k =>
      val key = id(k)
      h.op("read", "sources.pointRead") {
        spark.read.format("graft").load(dir)
          .filter(col("_id") === key).collect().length
      }.foreach(n => if (timedRound) h.check(s"point_read[b$b]",
        n == sofar((c, k)), s"$key: got $n rows, expected ${sofar((c, k))}"))
    }
    h.op("read", "sink.readChanges") {
      CdcTable.readChanges(spark, dir, before).collect().length
    }.foreach { n =>
      val want = batch.count(e => e.reason == null && e.coll == c)
      if (timedRound) h.check(s"read_changes[b$b]", n == want,
        s"$dir after commit $before: got $n rows, expected $want")
    }
  }

  /** Traced rounds only: the layers under `processBatch`, timed from
    * outside on scratch copies so the timed tables are untouched, and
    * the plan of the first lookup in `dir` (for `key`). */
  private def probeLayers(b: Int, dir: String, key: String): Unit = {
    val base = dir.substring(0, dir.lastIndexOf('/'))
    h.span("ingest.normalize") {
      Harness.materialize(Norm(Envelope.decode(frames(b))).all)
    }
    h.span("sink.append") {
      CdcTable.append(Norm(Envelope.decode(frames(b))).valid
        .select("_envelope.payload._id", "_doc", "_cdc_timestamp",
          "_cdc_operation", "_ingestion_date"),
        s"$base/_scratch_append")
    }
    planFiles += Plans.planFiles(h)(
      spark.read.format("graft").load(dir).filter(col("_id") === key))
    ()
  }

  private val planFiles = mutable.ArrayBuffer.empty[Int]

  private def verifyRound(base: String): Unit = {
    import spark.implicits._
    CdcGen.Collections.indices.foreach { c =>
      val dir = s"$base/${CdcGen.table(c)}"
      val want = input.valid.count(_.coll == c).toLong
      val r = CdcTable.read(spark, dir).agg(count(lit(1)),
        collect_set(col("_ingestion_date"))).collect()(0)
      val got = r.getLong(0)
      dates ++= r.getSeq[String](1)
      h.check(s"rows[${CdcGen.table(c)}]", got == want,
        s"got $got rows, expected $want valid events")
      val gens = CdcTable.detail(dir).generations
      h.check(s"generations[${CdcGen.table(c)}]",
        gens == input.schemaChanges(c) + 1,
        s"got $gens, planted ${input.schemaChanges(c)} changes")
    }
    val dlq = CdcTable.read(spark, s"$base/_dlq")
      .select("reason", "original_value").as[(String, String)].collect()
      .toSeq.sorted
    val planted = input.events.filter(_.reason != null)
      .map(e => (e.reason, e.json)).toSeq.sorted
    h.check("dlq", dlq == planted,
      s"dlq holds ${dlq.size} rows, planted ${planted.size}")
  }

  var dates: Set[String] = Set.empty

  override def ingestionDates: Set[String] = dates

  def tableDirs: Seq[String] =
    (CdcGen.Collections.indices.map(c => s"$lastBase/${CdcGen.table(c)}") :+
      s"$lastBase/_dlq")

  def layerMetrics(t: Trace): Map[String, Any] = {
    val batchMs = t.spanMs("streaming.processBatch")
    val diffMs = t.spanMs("reconcile.diff")
    val details = tableDirs.map(CdcTable.detail)
    val written = tableDirs.flatMap(d => Plans.written(CdcTable.log(d), 0L))
    Map(
      "streaming.batch_ms" -> batchMs,
      "streaming.ms_per_kevent" -> batchMs.map(_ / (BatchSize / 1000.0)),
      "ingest.normalize_ms" -> t.spanMs("ingest.normalize"),
      "ingest.dlq_events" -> CdcTable.read(spark, s"$lastBase/_dlq").count(),
      "core.schema_generations" -> details.map(_.generations).sum,
      "sink.append_ms" -> t.spanMs("sink.append"),
      "sink.log_ms" -> t.spanMs("sink.log"),
      "sink.readChanges_ms" -> t.spanMs("sink.readChanges"),
      "sink.commits" -> details.map(_.commits).sum,
      "sink.live_files" -> details.map(_.liveFiles).sum,
      "sink.files_per_commit" ->
        written.map(_._1).sum.toDouble / math.max(1, written.size),
      "sources.plan_ms" -> t.spanMs("sources.plan"),
      "sources.files_read_per_query" -> planFiles.map(_.toDouble).toSeq,
      "sources.rows_read_per_row_returned" ->
        t.readAmplification(Set("sources.pointRead")),
      "sink.readAsOf_ms" -> t.spanMs("sink.readAsOf"),
      "query.current_state_ms" -> t.spanMs("query.currentState"),
      "reconcile.diff_ms" -> diffMs,
      "reconcile.rows_per_s" -> diffMs.zip(diffRows.takeRight(diffMs.size))
        .map { case (ms, rows) => rows / (ms / 1000.0) })
  }
}

object CdcIngestWorkload {
  val Batches = 7
  /** Events of each batch the warm-up commits, with their reads. */
  val WarmEvents = 100
  /** The batch the end-of-round reads look back to. */
  val Mid = Batches / 2
  /** Point lookups after each timed commit: reads are cheap, and
    * enough of them put the read tail inside the bulk of the lookups
    * rather than among the few first reads of a changed schema. */
  val LookupsPerCommit = 4
  val BatchSize = 500
  val Keys = 800
}
