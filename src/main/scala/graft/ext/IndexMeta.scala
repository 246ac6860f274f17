package graft.ext

import graft.core.Fs
import graft.sink.CdcTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.StructType

/** The incremental-index protocol the dedup/similarity indexes share
  * (exact, band/MinHash, window, winnow, vector, SemDeDup cell, dHash).
  * Each index is a graft table; every batch probes it, then appends to
  * it exactly-once under a txn marker. Four rules, each decided here:
  *
  *   - THE SIDECAR. One `_graft_index_meta` file inside the index
  *     directory, written exactly once with a create-exclusive (the
  *     same atomic primitive the commit log rides on), holds the layout
  *     parameters stored rows are only meaningful under (LSH band
  *     count, bucket bit width, window length, ...; the kmv and
  *     profile tables use it too). Two racing FIRST writers cannot
  *     seed different layouts: the loser validates against the
  *     winner's config BEFORE appending any row. Writers create the
  *     sidecar before their first append, so an index with rows but
  *     no sidecar has an unknown layout and is refused ("rebuild it").
  *   - THE TOUCHED PROBE ([[touched]]). The index never shuffles: the
  *     batch's bounded distinct key set broadcasts and the index
  *     streams through a scan + semi-join, so per-batch cost is batch
  *     + touched-key volume, not index size. The read excludes this
  *     txn's own commit, so a crash replay (index append committed,
  *     the caller's downstream append not) probes the same pre-batch
  *     snapshot its original run saw.
  *   - THE BATCH CEILING ([[requireBoundedBatch]]). Because the keys
  *     broadcast, a corpus-sized "batch" fails loudly before any
  *     broadcast instead of OOMing the driver.
  *   - THE KEPT-ONLY GATE ([[keptOnlyStream]]). The dedup-to-table
  *     streams drop every batch row a probe pairs with an EARLIER one
  *     (ids are assumed non-decreasing, so the first-seen copy wins)
  *     and append only the kept rows — to the index under
  *     `$appId-idx`, to the output under `$appId-out`, both keyed by
  *     the micro-batch id. A batch replayed from the checkpoint
  *     re-derives the same drops (the probe excludes its own commit)
  *     and both appends no-op on their markers: exactly-once.
  */
private[graft] object IndexMeta {

  private def path(indexDir: String) = s"$indexDir/_graft_index_meta"

  /** The stored sidecar map, or None when the index has none yet. */
  def stored(indexDir: String): Option[Map[String, String]] =
    Fs.readString(path(indexDir)).map { s =>
      s.linesIterator.flatMap { line =>
        val i = line.indexOf('=')
        if (i < 0) None
        else Some(line.substring(0, i) -> line.substring(i + 1))
      }.toMap
    }

  /** The stored config map, creating the sidecar with `proposed` if
    * this is the first writer. Returns the WINNING map — the caller
    * decides whether a mismatch against its own parameters is an
    * error. Keys added to the format AFTER an index was created are
    * simply absent from its map. */
  def ensure(indexDir: String, proposed: Map[String, Int])
      : Map[String, Int] =
    ensureRaw(indexDir, proposed.map { case (k, v) => k -> v.toString })
      // non-integer entries (e.g. a pinned column list) are simply
      // not part of the Int view
      .flatMap { case (k, v) =>
        scala.util.Try(v.trim.toInt).toOption.map(k -> _) }

  /** String-valued [[ensure]] — for configs that are not integers
    * (e.g. the profile index's pinned column list). Values must not
    * contain newlines (one `k=v` line per entry). */
  def ensureRaw(indexDir: String, proposed: Map[String, String])
      : Map[String, String] = {
    proposed.foreach { case (k, v) =>
      require(!v.contains("\n") && !k.contains("=") && !k.contains("\n"),
        s"index meta entry $k is not line-safe") }
    stored(indexDir).getOrElse {
      val hasRows = CdcTable.log(indexDir).nonEmpty
      val content = proposed.toSeq.sortBy(_._1)
        .map { case (k, x) => s"$k=$x" }.mkString("\n")
      if (!hasRows && graft.core.CommitArbiter.current.tryExclusive(
          path(indexDir), content)) proposed
      // a racer created it first (its config is authoritative; it
      // wrote the sidecar before its first row), or the rows predate
      // any sidecar and their layout is unknown
      else stored(indexDir).getOrElse(sys.error(
        if (hasRows) s"index at $indexDir has rows but no sidecar " +
          s"(${path(indexDir)}) — rebuild it"
        else s"index meta at ${path(indexDir)} vanished mid-read"))
    }
  }

  /** Single-key convenience over [[ensure]]; errors if the stored
    * sidecar lacks `key` (the single-key indexes always wrote their one
    * key at creation). */
  def ensureInt(indexDir: String, key: String, proposed: Int): Int =
    ensure(indexDir, Map(key -> proposed))
      .getOrElse(key, sys.error(
        s"index meta at ${path(indexDir)} has no key '$key'"))

  /** Rewrite the sidecar unconditionally — for OFFLINE migrations
    * that change the stored layout (e.g. [[Dedup.rebandIndex]]).
    * Plain overwrite, no create-exclusive: migrations are
    * single-writer maintenance by contract (quiesce appenders first),
    * so there is no creation race to lose. */
  def overwrite(indexDir: String, values: Map[String, Int]): Unit =
    Fs.writeString(path(indexDir), values.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString("\n"))

  /** The batch ceiling: `n` counted `what` (read off a frame the
    * caller already pinned, so the count is free) must not exceed
    * `maxBatchRows` — the batch's keys are about to broadcast.
    * `useInstead` names the corpus-sized alternative. */
  def requireBoundedBatch(n: Long, maxBatchRows: Long, what: String,
      useInstead: String): Unit =
    require(n <= maxBatchRows,
      s"incremental batch has $n $what (> maxBatchRows=$maxBatchRows): " +
        "this API broadcasts the batch's index keys and assumes bounded " +
        s"micro-batches — use $useInstead for a corpus-sized input, or " +
        "raise maxBatchRows if the broadcast genuinely fits")

  /** The touched probe: the index as of NOW minus this txn's own
    * commit, projected by `project`, semi-joined to the broadcast
    * distinct rows of `keys` (joined on all of `keys`' columns, which
    * the projection must carry). Only rows of touched keys survive,
    * and EVERY index row of a touched key does, so occupancy counts
    * and lookups downstream are complete. `pin` checkpoints the probed
    * subset for callers that read it more than once. With no index
    * yet the result is an empty frame of `empty`. */
  def touched(indexDir: String, txn: Option[(String, Long)],
      keys: DataFrame, empty: StructType, pin: Boolean)(
      project: DataFrame => DataFrame): DataFrame =
    if (CdcTable.log(indexDir).isEmpty)
      keys.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), empty)
    else {
      val probed = project(CdcTable.readExcludingTxn(keys.sparkSession,
          indexDir, txn))
        .join(broadcast(keys.distinct()), keys.columns.toSeq, "left_semi")
      if (pin) probed.localCheckpoint() else probed
    }

  /** Append the index rows whose `rowId` is not among `dupIds` (one
    * column) — the non-streaming half of [[keptOnlyStream]]. Index
    * tables are unpartitioned. */
  def appendKept(rows: DataFrame, rowId: String, dupIds: DataFrame,
      indexDir: String, txn: Option[(String, Long)]): Unit = {
    CdcTable.append(
      rows.join(dupIds, col(rowId) === col(dupIds.columns.head),
        "left_anti"),
      indexDir, partitionBy = Nil, txn = txn)
    ()
  }

  /** The kept-only, first-seen-wins dedup stream. Per micro-batch,
    * `probe(batch, txn)` returns the ids of the batch rows to drop (one
    * column) and the batch's candidate index rows (id column `rowId`);
    * the drop set is evaluated once and pinned, then the kept index
    * rows append under `$appId-idx` and the kept batch rows (all their
    * columns, id column `idCol`) under `$appId-out` — see the protocol
    * above for why that is exactly-once. */
  def keptOnlyStream(stream: DataFrame, idCol: String, indexDir: String,
      rowId: String, outDir: String, checkpointDir: String,
      appId: String)(
      probe: (DataFrame, Option[(String, Long)]) => (DataFrame, DataFrame))
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val idx = Some((s"$appId-idx", id))
        val (dropped, rows) = probe(batch, idx)
        // one evaluation feeds the index filter AND the out anti-join
        val dupIds = dropped.toDF("__dup_id").distinct().localCheckpoint()
        appendKept(rows, rowId, dupIds, indexDir, idx)
        CdcTable.append(
          batch.join(dupIds, batch(idCol) === col("__dup_id"),
            "left_anti"),
          outDir, txn = Some((s"$appId-out", id)))
        ()
      }
      .start()

  /** Run an optimistic-concurrency index fold, retrying when a racing
    * append supersedes its snapshot (the append always wins — a fold
    * must never cost a live stream a commit). The fold closure
    * re-reads the log on every attempt. */
  def foldWithRetry(retries: Int)(fold: () => Unit): Unit = {
    var attempt = 0
    while (true) {
      try { fold(); return }
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > retries) throw e
      }
    }
  }
}
