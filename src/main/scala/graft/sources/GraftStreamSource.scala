package graft.sources

import graft.core.SchemaMerge
import graft.sink.CdcTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.streaming
import org.apache.spark.sql.connector.read.streaming.{ReadLimit,
  SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.types.StructType

/** Streaming CHANGE-FEED source over a CdcTable: tails the manifest
  * log (the Delta streaming-source pattern — a table is a stream of
  * its commits), so a table written by the CDC ingest can feed
  * downstream incremental pipelines with plain Structured Streaming:
  *
  *   spark.readStream.format("graft")
  *     .option("startingCommit", "0" | "latest")   // default: 0 (all)
  *     .option("maxCommitsPerTrigger", "10")       // backpressure (T7)
  *     .option("maxFilesPerTrigger", "100")        // Delta-parity cap
  *     .load(dir) … .writeStream…
  *
  * Offsets are COMMIT IDS — exactly-once across restarts for free:
  * the streaming checkpoint records the last processed commit and the
  * next batch resumes at (start, end] of the log. Reading a commit
  * range is [[CdcTable.readChanges]] (manifest-listed files only, no
  * directory scans), which makes each micro-batch's work proportional
  * to the NEW data, never the table size — the property that keeps a
  * 100 TB table tailable. Rows carry `_change_type` / `_commit` /
  * `_commit_ts`; `replace` rewrites (compaction) produce no rows, so
  * maintenance never re-emits the table into the stream.
  *
  * The stream's schema is fixed at start (the current merged table
  * schema + change metadata, like Delta); batches cast to it, so a
  * mid-stream schema evolution surfaces new columns only after a
  * restart. V1-source note: getBatch results must be streaming-tagged
  * plans, which is what `internalCreateDataFrame(_, _, isStreaming =
  * true)` is for (the same construction Spark's own file source uses).
  *
  * `Trigger.AvailableNow` drains the log up to its head at query start
  * in the usual capped steps, then stops; commits made after the start
  * wait for the next run.
  */
class GraftStreamSource(spark: SparkSession, dir: String,
    startingCommit: String, maxCommitsPerTrigger: Option[Long] = None,
    maxFilesPerTrigger: Option[Long] = None)
    extends Source with SupportsTriggerAvailableNow {

  require(maxCommitsPerTrigger.forall(_ > 0),
    s"maxCommitsPerTrigger must be positive: $maxCommitsPerTrigger")
  require(maxFilesPerTrigger.forall(_ > 0),
    s"maxFilesPerTrigger must be positive: $maxFilesPerTrigger")

  override val schema: StructType = CdcTable.changesSchema(dir)

  /** The commit AFTER which the stream begins when no checkpointed
    * offset exists: 0 replays all history, "latest" only new commits. */
  private val initialAfter: Long = startingCommit match {
    case "latest" => CdcTable.log(dir).lastOption.map(_.commit)
      .getOrElse(0L)
    case s => s.toLong
  }

  /** Backpressure position (T7, the reference's maxOffsetsPerTrigger):
    * the last commit id this source has handed out — the base the next
    * capped trigger advances from. Restart-safe: Spark re-calls
    * getBatch with the checkpointed offsets before asking for new ones,
    * which re-seats the cursor past history; it only ever moves
    * forward, so a capped getOffset can never fall behind a
    * checkpointed position and re-emit commits. */
  @volatile private var cursor: Long = initialAfter

  /** Under `Trigger.AvailableNow`: the log head recorded at query
    * start, the highest commit this run may hand out. */
  @volatile private var availableNowHead: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowHead =
      Some(CdcTable.log(dir).lastOption.map(_.commit).getOrElse(0L))

  /** Admission control is this source's own caps (the options above),
    * so Spark's read limit adds nothing to [[getOffset]]. */
  override def latestOffset(start: streaming.Offset,
      limit: ReadLimit): streaming.Offset = getOffset.orNull

  private def commitId(o: Offset): Long = o match {
    case LongOffset(n) => n
    case so: SerializedOffset => LongOffset(so).offset
    case other => other.json.trim.toLong
  }

  override def getOffset: Option[Offset] = {
    val log = CdcTable.log(dir)
    val head = log.lastOption.map(_.commit).getOrElse(0L)
    val latest = availableNowHead.fold(head)(math.min(head, _))
    // one capped step past the cursor, never backward (re-reporting
    // the furthest offset already handed out is a no-op trigger)
    val commitCapped = maxCommitsPerTrigger
      .map(m => math.min(latest, cursor + m)).getOrElse(latest)
    // maxFilesPerTrigger (Delta parity): advance whole commits while
    // the cumulative served-file budget holds — commits vary wildly
    // in size (a 10-row micro-batch vs a backfill append), so a FILE
    // budget adapts where a commit count cannot. Granularity is the
    // COMMIT (offsets are commit ids): the first commit past the
    // cursor is always taken whole, so one oversized commit slows the
    // stream to one-commit triggers rather than stalling it.
    val target = maxFilesPerTrigger match {
      case None => math.max(cursor, commitCapped)
      case Some(cap) =>
        var t = cursor
        var budget = cap
        val it = log.iterator
          .filter(c => c.commit > cursor && c.commit <= commitCapped)
        var go = true
        while (go && it.hasNext) {
          val c = it.next()
          // what readChanges will actually serve for this commit —
          // checkpoint stubs hydrate (their file lists were condensed
          // away; counting 0 would admit a whole backfill history in
          // one trigger)
          val n = CdcTable.servedFileCount(dir, c)
          if (t == cursor || n <= budget) { t = c.commit; budget -= n }
          else go = false
        }
        math.max(cursor, t)
    }
    if (target > initialAfter) Some(LongOffset(target)) else None
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val after = start.map(commitId).getOrElse(initialAfter)
    val upTo = commitId(end)
    cursor = math.max(cursor, upTo)
    val changes = SchemaMerge.castTo(
      CdcTable.readChanges(spark, dir, after, Some(upTo)),
      schema)
    org.apache.spark.sql.graftshim.StreamingShim.streamingDataFrame(
      spark, changes.queryExecution.toRdd, schema)
  }

  override def stop(): Unit = ()
}
