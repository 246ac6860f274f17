package graft.reconcile

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Source↔target reconciliation (SURVEY.md §2.5 J2; reference
  * algorithm `specs/001-mongodb-cdc-delta/research.md:659-858` —
  * specified there, implemented here as one distributed join).
  *
  * [[diff]] is one pass: a full-outer join of the two sides on the key
  * reads each side once, tags every output row by which side it lacks
  * or by a digest mismatch, and pins only those rows — the pinned set
  * scales with the diff, not the table. Both side counts ride along in
  * the same action. The report's frames, the SQL command's counts and
  * the repair plan's keys are all projections of the pinned rows. The
  * reference's thread-pooled range batches become shuffle partitions,
  * so no coordinator bottleneck exists.
  */
object Reconciler {

  final case class Report(missingInTarget: DataFrame,
      extraInTarget: DataFrame, mismatched: DataFrame,
      counts: (Long, Long))

  /** Row digest over `cols`. xxhash64 skips null inputs, so each column
    * also hashes its null flag: `("x", null)` and `(null, "x")` must
    * not collide. Fine engine-internally (both sides computed by us). */
  def rowDigest(cols: Seq[String]): Column =
    xxhash64(cols.flatMap(c => Seq(col(c).isNull, col(c))): _*)

  /** Row-level diff: missing / extra / field-mismatched records
    * (reference research.md:732-768 compare_records), in one Spark
    * action. Rows pair up as a join does: a row whose key (null
    * included) has no partner on the other side is missing or extra,
    * and every same-key source/target pair whose compare columns
    * differ is mismatched. */
  def diff(src: DataFrame, tgt: DataFrame, keyCol: String,
      compareCols: Seq[String]): Report = {
    def side(df: DataFrame, tag: String, obs: Observation) =
      df.observe(obs, count(lit(1)).as("n")).select(
        col(keyCol).as(s"_${tag}k"),
        struct(df.columns.toSeq.map(c => col(s"`$c`")): _*).as(s"_$tag"),
        rowDigest(compareCols).as(s"_${tag}d"))
    val (os, ot) = (Observation(), Observation())
    val pinned = side(src, "s", os)
      .join(side(tgt, "t", ot), col("_sk") === col("_tk"), "full_outer")
      .filter(col("_s").isNull || col("_t").isNull ||
        col("_sd") =!= col("_td"))
      .select("_s", "_t").localCheckpoint()
    // a side the planner pruned as empty reports no metric at all
    def n(o: Observation) = o.get.getOrElse("n", 0L).asInstanceOf[Long]
    def only(s: String, t: String) =
      pinned.filter(col(s).isNotNull && col(t).isNull).select(s"$s.*")
    val names = src.select((keyCol +: compareCols).map(col): _*).columns
    val mismatched = pinned
      .filter(col("_s").isNotNull && col("_t").isNotNull)
      .select(names.toSeq.map(c => col("_s").getField(c).as(c)) ++
        compareCols.map(c => col("_t").getField(c).as(s"tgt_$c")): _*)
    Report(only("_s", "_t"), only("_t", "_s"), mismatched, (n(os), n(ot)))
  }

  /** Repair plan (reference FR-021 "sync source→target"): rows to
    * upsert into target (missing + mismatched, source wins) and keys
    * to delete (extra). Applying it to a parquet table = append +
    * current-state compaction; to a Delta table = MERGE. */
  final case class RepairPlan(upserts: DataFrame, deletes: DataFrame)

  def repairPlan(src: DataFrame, tgt: DataFrame, keyCol: String,
      compareCols: Seq[String]): RepairPlan =
    repairPlanFrom(diff(src, tgt, keyCol, compareCols), src, keyCol)

  /** Build the plan from an ALREADY-computed diff — callers that also
    * report the diff counts must not run the join twice. The upserts
    * take every source row of a mismatched key, including a duplicate
    * that matched (its pair is not among the pinned rows). */
  def repairPlanFrom(r: Report, src: DataFrame, keyCol: String)
      : RepairPlan = {
    val mismKeys = r.mismatched.select(col(keyCol))
    RepairPlan(
      upserts = r.missingInTarget
        .unionByName(src.join(mismKeys, Seq(keyCol), "left_semi")),
      deletes = r.extraInTarget.select(col(keyCol)))
  }

  final case class RepairResult(upserted: graft.sink.CdcTable.DeleteResult,
      deleted: graft.sink.CdcTable.DeleteResult)

  /** Apply a repair plan to a graft table end to end (reference FR-021
    * "sync source→target", `spec.md:208`): one keyed MERGE lands the
    * upserts (missing + mismatched, source wins), one keyed DELETE
    * drops the extra keys — two replace commits, both carrying
    * untouched files by reference, both key sets staying distributed
    * (no driver-side IN-lists). After this, `diff(src, read(target))`
    * is empty by construction.
    *
    * Columns the TARGET has but the source frame lacks (e.g.
    * `_ingestion_date` when the source is a plain parquet dir) are
    * PRESERVED from the existing target row: MERGE replaces whole
    * rows, so a bare schema projection would null-fill them on every
    * mismatched key — silently relocating repaired rows to the null
    * partition while the post-repair diff (which only sees the shared
    * columns) reads clean. Keys missing from the target have no row
    * to preserve; their target-only columns are null, the one honest
    * value. */
  def applyRepair(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, plan: RepairPlan, keyCol: String,
      partitionBy: Seq[String] = Seq("_ingestion_date")): RepairResult = {
    // project the upserts onto the TABLE schema: a source carrying
    // extra columns (compare cols are the shared subset by
    // construction) must still repair, not trip merge's
    // unknown-column guard — repair never widens the target
    val upserts = graft.sink.CdcTable.currentSchema(targetDir) match {
      case Some(s) =>
        val srcCols = plan.upserts.columns.map(_.toLowerCase).toSet
        val preserved = s.fieldNames.filterNot(f =>
          srcCols.contains(f.toLowerCase)).toSeq
        val enriched =
          if (preserved.isEmpty) plan.upserts
          // one keyed equi-join against the pre-merge target: the
          // upsert side is diff-sized, the target scans once — no
          // driver-side state, AQE free to broadcast the small side.
          // The per-column max collapses a key that (illegitimately,
          // for merge semantics) holds several target rows to ONE
          // deterministic preserved tuple — the join must never fan
          // the upserts out
          else plan.upserts.join(
            graft.sink.CdcTable.read(spark, targetDir)
              .groupBy(col(s"`$keyCol`"))
              .agg(max(col(s"`${preserved.head}`")).as(preserved.head),
                preserved.tail.map(c =>
                  max(col(s"`$c`")).as(c)): _*),
            Seq(keyCol), "left")
        graft.core.SchemaMerge.castTo(enriched, s)
      case None => plan.upserts
    }
    val up = graft.sink.CdcTable.merge(spark, targetDir, upserts,
      keys = Seq(keyCol), partitionBy = partitionBy)
    // plan.deletes was derived from the PRE-merge target snapshot —
    // still valid: the merge only writes source-keyed rows, and the
    // diff's extra keys are disjoint from source keys by definition
    val del = graft.sink.CdcTable.deleteKeys(spark, targetDir,
      plan.deletes, keyCols = Seq(keyCol), partitionBy = partitionBy)
    RepairResult(up, del)
  }

  /** One-call reconcile-and-repair: diff `src` against the graft table
    * at `targetDir`, apply the repair, return the applied stats. */
  def reconcileAndRepair(spark: org.apache.spark.sql.SparkSession,
      src: DataFrame, targetDir: String, keyCol: String,
      compareCols: Seq[String],
      partitionBy: Seq[String] = Seq("_ingestion_date")): RepairResult = {
    val tgt = graft.sink.CdcTable.read(spark, targetDir)
    applyRepair(spark, targetDir,
      repairPlan(src, tgt, keyCol, compareCols), keyCol, partitionBy)
  }
}
