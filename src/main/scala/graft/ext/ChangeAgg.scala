package graft.ext

import graft.sink.CdcTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialized-aggregate maintenance FROM a graft
  * table's change feed — the canonical Delta-CDF consumer pattern
  * (stream the feed, apply inserts positively and deletes
  * negatively) that the r15 verdict's #1 gap made possible: before
  * DML-aware change rows existed, any downstream incremental
  * aggregate silently diverged the moment a DELETE / UPDATE / MERGE /
  * RETRACT landed upstream.
  *
  * The state is a tiny graft table of one row per group —
  * `(groupCols…, n_rows, sum_<c>…)` — maintained EXACTLY: additive
  * aggregates (count, sum) are abelian-group-valued, so
  * `insert/update_postimage → +1` and `delete/update_preimage → −1`
  * folds commute and any sync cadence converges to the
  * recreate-from-current-state answer bit for bit (q203's gate).
  *
  * At 100 TB: each sync reads ONLY the unseen commits' change rows
  * (O(changed rows), never O(table)), aggregates them map-side to
  * group cardinality, and lands one replace commit on the k-row
  * state. The high-water mark rides the state table's txn marker
  * (crash/replay-safe, [[CdcTable.syncFeed]]).
  *
  * Contract: `replace` commits WITHOUT change files are
  * content-preserving physical rewrites (compaction / OPTIMIZE /
  * DLQ resolution) and correctly fold as no-ops. GRAFT RESTORE
  * violates that assumption (it changes logical content without
  * emitting change rows, like Delta) — recreate downstream state
  * after a restore.
  */
object ChangeAgg {

  /** Fold the table's unseen commits into the aggregate state at
    * `stateDir`. `sumCols` must be additively aggregable (integral /
    * decimal). Returns the number of table commits folded (0 =
    * already fresh). Idempotent under replays. */
  def changeAggSync(spark: SparkSession, tableDir: String,
      stateDir: String, groupCols: Seq[String],
      sumCols: Seq[String]): Int = {
    require(groupCols.nonEmpty, "changeAggSync needs group columns")
    CdcTable.syncFeed(spark, tableDir, stateDir,
      s"changeagg@${CdcTable.canonicalDir(tableDir)}") { u =>
      foldBatch(u.feed(), stateDir, groupCols, sumCols, u.txn)
    }
  }

  /** Serve the maintained aggregate. */
  def changeAggRead(spark: SparkSession, stateDir: String): DataFrame =
    CdcTable.read(spark, stateDir)

  /** Streaming form: tail the table's change feed
    * (`readStream.format("graft")` — commit-id offsets, exactly-once
    * across restarts via the streaming checkpoint) and fold each
    * micro-batch's signed delta into the state table, keyed by the
    * batch id (a replayed batch no-ops). The per-batch work is
    * O(batch change rows) aggregated map-side to group cardinality —
    * the state never rescans history. Same exactness as
    * [[changeAggSync]]: additive folds commute, so the state equals
    * recreate-from-current-state after every processed batch. */
  def changeAggStreamToTable(spark: SparkSession, tableDir: String,
      stateDir: String, groupCols: Seq[String], sumCols: Seq[String],
      checkpointDir: String, appId: String = "graft-changeagg")
  : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("graft").load(tableDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        foldBatch(batch, stateDir, groupCols, sumCols, (appId, id))
      }
      .start()

  /** Fold ONE batch of change rows into the state (the shared tail of
    * [[changeAggSync]] and the streaming glue; exactly-once via
    * `txn`). The first fold creates the state table. */
  private def foldBatch(batch: DataFrame, stateDir: String,
      groupCols: Seq[String], sumCols: Seq[String],
      txn: (String, Long)): Unit = {
    val spark = batch.sparkSession
    val delta = batch
      .withColumn("__sign",
        when(col("_change_type").isin("insert", "update_postimage"), 1L)
          .otherwise(-1L))
      .groupBy(groupCols.map(c => col(s"`$c`")): _*)
      .agg(sum(col("__sign")).as("n_rows"),
        sumCols.map(c =>
          sum(col(s"`$c`") * col("__sign")).as(s"sum_$c")): _*)
    val merged =
      if (CdcTable.log(stateDir).isEmpty) delta
      else CdcTable.read(spark, stateDir)
        .select(delta.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
        .unionByName(delta)
        .groupBy(groupCols.map(c => col(s"`$c`")): _*)
        .agg(sum(col("n_rows")).as("n_rows"),
          sumCols.map(c =>
            sum(col(s"`sum_$c`")).as(s"sum_$c")): _*)
    // groups whose rows all deleted drop out of the state entirely
    CdcTable.replaceWith(stateDir, merged.filter(col("n_rows") =!= 0L),
      partitionBy = Nil, txn = Some(txn))
    ()
  }
}
