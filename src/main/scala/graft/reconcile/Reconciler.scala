package graft.reconcile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Source↔target reconciliation (SURVEY.md §2.5 J2/J3; reference
  * algorithm `specs/001-mongodb-cdc-delta/research.md:659-858` —
  * specified there, implemented here as distributed joins).
  *
  * Two-phase at scale: (1) `bucketDigests` hashes every row once into
  * `nBuckets` partitions with an order-insensitive multiset digest — a
  * single narrow aggregation per side, comparing 100 TB with one
  * small-result shuffle; (2) `diff` drills into rows (anti + inner
  * joins) — run it on everything at small scale, or filter both sides
  * to the mismatched buckets first at large scale. The reference's
  * thread-pooled range batches become shuffle partitions; its
  * driver-side `_id` ranges become hash buckets, so no coordinator
  * bottleneck exists.
  */
object Reconciler {

  final case class Report(missingInTarget: DataFrame,
      extraInTarget: DataFrame, mismatched: DataFrame,
      counts: (Long, Long))

  /** Row digest over `cols`: stable hash of the canonical struct.
    * xxhash64 is fine engine-internally (both sides computed by us). */
  def rowDigest(cols: Seq[String]): Column =
    xxhash64(cols.map(col): _*)

  /** Per-bucket counts + order-insensitive digests for one side. Uses
    * the native multiset_digest aggregate (count/sum/xor of
    * avalanche-mixed row hashes — collision-resistant and commutative,
    * so partial aggregation order is irrelevant). */
  def bucketDigests(df: DataFrame, keyCol: String, nBuckets: Int,
      compareCols: Seq[String]): DataFrame = {
    val digest = expr(s"multiset_digest(xxhash64(" +
      (keyCol +: compareCols).map(c => s"`$c`").mkString(", ") + "))")
    df.groupBy(pmod(xxhash64(col(keyCol)), lit(nBuckets)).as("bucket"))
      .agg(count(lit(1)).as("cnt"), digest.as("digest"))
  }

  /** Compare two sides' bucket digests; rows where anything differs
    * are the buckets needing row-level drill-down. */
  def compareBuckets(src: DataFrame, tgt: DataFrame, keyCol: String,
      nBuckets: Int, compareCols: Seq[String]): DataFrame = {
    val a = bucketDigests(src, keyCol, nBuckets, compareCols)
      .withColumnRenamed("cnt", "src_cnt")
      .withColumnRenamed("digest", "src_digest")
    val b = bucketDigests(tgt, keyCol, nBuckets, compareCols)
      .withColumnRenamed("cnt", "tgt_cnt")
      .withColumnRenamed("digest", "tgt_digest")
    a.join(b, Seq("bucket"), "full_outer")
      .withColumn("is_match",
        col("src_cnt") <=> col("tgt_cnt") &&
          col("src_digest") <=> col("tgt_digest"))
  }

  /** Row-level diff: missing / extra / field-mismatched records
    * (reference research.md:732-768 compare_records). */
  def diff(src: DataFrame, tgt: DataFrame, keyCol: String,
      compareCols: Seq[String]): Report = {
    val missing = src.join(tgt, Seq(keyCol), "left_anti")
    val extra = tgt.join(src, Seq(keyCol), "left_anti")
    val s = src.select((keyCol +: compareCols).map(col): _*)
      .withColumn("_src_digest", rowDigest(compareCols))
    val t = tgt.select((keyCol +: compareCols).map(c =>
        col(c).as(s"tgt_$c")): _*)
      .withColumnRenamed(s"tgt_$keyCol", keyCol)
      .withColumn("_tgt_digest",
        xxhash64(compareCols.map(c => col(s"tgt_$c")): _*))
    val mismatched = s.join(t, Seq(keyCol))
      .filter(col("_src_digest") =!= col("_tgt_digest"))
      .drop("_src_digest", "_tgt_digest")
    Report(missing, extra, mismatched, (src.count(), tgt.count()))
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
    * report the diff counts must not pay the three joins twice. */
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
