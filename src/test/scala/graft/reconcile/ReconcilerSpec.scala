package graft.reconcile

import graft.SparkSpec

class ReconcilerSpec extends SparkSpec {
  import spark.implicits._

  private def src = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
    .toDF("id", "name", "amount")
  private def tgt = Seq(
    (1L, "a", 10.0), (2L, "b", 99.0), (4L, "d", 40.0), (5L, "e", 50.0))
    .toDF("id", "name", "amount")

  test("diff finds missing, extra and mismatched rows") {
    val r = Reconciler.diff(src, tgt, "id", Seq("name", "amount"))
    assert(r.missingInTarget.select("id").as[Long].collect().toSeq == Seq(3L))
    assert(r.extraInTarget.select("id").as[Long].collect().toSeq == Seq(5L))
    assert(r.mismatched.select("id").as[Long].collect().toSeq == Seq(2L))
    assert(r.counts == ((4L, 4L)))
  }

  test("diff keeps join pairing: duplicate keys, null keys, extra columns") {
    val noKey = Option.empty[Long]
    // source carries `note`, which is not compared
    val s = Seq((Some(1L), "a", 10.0, "n1"), (Some(1L), "a", 11.0, "n2"),
      (Some(2L), "b", 20.0, "n3"), (Some(2L), "b", 21.0, "n4"),
      (Some(3L), "c", 30.0, "n5"), (noKey, "z", 0.0, "n6"))
      .toDF("id", "name", "amount", "note")
    val t = Seq((Some(1L), "a", 10.0), (Some(1L), "a", 12.0),
      (Some(2L), "b", 20.0), (Some(4L), "d", 40.0), (noKey, "y", 0.0))
      .toDF("id", "name", "amount")
    val r = Reconciler.diff(s, t, "id", Seq("name", "amount"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toSeq.map(String.valueOf).mkString(",")).sorted.toSeq
    assert(r.missingInTarget.columns.toSeq ==
      Seq("id", "name", "amount", "note"))
    assert(rows(r.missingInTarget) == Seq("3,c,30.0,n5", "null,z,0.0,n6"))
    assert(r.extraInTarget.columns.toSeq == Seq("id", "name", "amount"))
    assert(rows(r.extraInTarget) == Seq("4,d,40.0", "null,y,0.0"))
    assert(r.mismatched.columns.toSeq ==
      Seq("id", "name", "amount", "tgt_name", "tgt_amount"))
    // every same-key pair whose compared columns differ, once per pair
    assert(rows(r.mismatched) == Seq("1,a,10.0,a,12.0", "1,a,11.0,a,10.0",
      "1,a,11.0,a,12.0", "2,b,21.0,b,20.0"))
    assert(r.counts == ((6L, 5L)))
    // upserts: missing rows plus every source row of a mismatched key
    assert(Reconciler.repairPlanFrom(r, s, "id").upserts.count() == 6L)
  }

  test("diff sees a value moving between columns through a null") {
    val s = Seq((1L, "x", null: String)).toDF("id", "a", "b")
    val t = Seq((1L, null: String, "x")).toDF("id", "a", "b")
    val r = Reconciler.diff(s, t, "id", Seq("a", "b"))
    assert(r.mismatched.count() == 1L)
  }

  test("diff, its three frames and its counts scan each side once") {
    import org.apache.spark.sql.execution.{FileSourceScanExec,
      QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val (sDir, tDir) = (tmpDir("scans"), tmpDir("scant"))
    src.write.mode("overwrite").parquet(sDir)
    tgt.write.mode("overwrite").parquet(tDir)
    val scans = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.toString.contains("scan-count-marker"))
          drained.countDown()
        else if (collect(qe.executedPlan) { case scan: FileSourceScanExec =>
            scan.relation.location.rootPaths.map(_.toUri.getPath) }.flatten
            .exists(p => Seq(sDir, tDir).contains(p.stripSuffix("/"))))
          scans.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = Reconciler.diff(spark.read.parquet(sDir),
        spark.read.parquet(tDir), "id", Seq("name", "amount"))
      assert((r.missingInTarget.count(), r.extraInTarget.count(),
        r.mismatched.count(), r.counts) == ((1L, 1L, 1L, (4L, 4L))))
      // listener events arrive in order: once the marker is seen, every
      // execution before it has been counted
      spark.sql("SELECT 'scan-count-marker'").collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    assert(scans.get == 1, s"executions scanning a side: ${scans.get}")
  }

  test("repair plan upserts missing+mismatched (source wins), deletes extra") {
    val p = Reconciler.repairPlan(src, tgt, "id", Seq("name", "amount"))
    val up = p.upserts.select("id").as[Long].collect().sorted
    assert(up.toSeq == Seq(2L, 3L))
    assert(p.deletes.as[Long].collect().toSeq == Seq(5L))
    // applying the plan reconciles: (tgt minus deletes minus upserted
    // keys) union upserts == src
    val applied = tgt.join(p.deletes.toDF("id"), Seq("id"), "left_anti")
      .join(p.upserts.select("id"), Seq("id"), "left_anti")
      .unionByName(p.upserts)
    val r2 = Reconciler.diff(src, applied, "id", Seq("name", "amount"))
    assert(r2.missingInTarget.count() == 0 && r2.extraInTarget.count() == 0
      && r2.mismatched.count() == 0)
  }

  test("applyRepair converges a corrupted graft table to the source") {
    import graft.sink.CdcTable
    val dir = tmpDir("repair")
    // target table: one clean file (ids 1,4) that must carry by
    // reference, one corrupt/extra file (ids 2 mismatched, 5 extra)
    CdcTable.append(Seq((1L, "a", 10.0), (4L, "d", 40.0))
      .toDF("id", "name", "amount").withColumn("_id", $"id".cast("string")),
      dir)
    CdcTable.append(Seq((2L, "b", 99.0), (5L, "e", 50.0))
      .toDF("id", "name", "amount").withColumn("_id", $"id".cast("string")),
      dir)
    val before = CdcTable.log(dir).flatMap(_.files).toSet

    val srcDf = src.withColumn("_id", $"id".cast("string"))
    val plan = Reconciler.repairPlan(srcDf,
      CdcTable.read(spark, dir), "id", Seq("name", "amount"))
    val res = Reconciler.applyRepair(spark, dir, plan, "id")
    assert(res.upserted.rowsDeleted == 1L, s"one key (2) matched: $res")
    assert(res.deleted.rowsDeleted == 1L, s"one key (5) deleted: $res")

    // convergence: re-diff shows zero missing/extra/mismatched (FR-021)
    val r2 = Reconciler.diff(srcDf, CdcTable.read(spark, dir), "id",
      Seq("name", "amount"))
    assert(r2.missingInTarget.count() == 0)
    assert(r2.extraInTarget.count() == 0)
    assert(r2.mismatched.count() == 0)
    assert(CdcTable.read(spark, dir).select("id", "amount")
      .as[(Long, Double)].collect().sortBy(_._1).toSeq ==
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
    // the clean file carried by reference through BOTH commits
    assert(CdcTable.log(dir).last.files.toSet.intersect(before).nonEmpty,
      "untouched file must survive merge + deleteKeys unrewritten")
  }

  test("GRAFT RECONCILE reports from SQL; REPAIR converges the table") {
    import graft.sink.CdcTable
    val dir = tmpDir("sqlrecon")
    CdcTable.append(Seq((1L, "a", 10.0), (2L, "b", 99.0), (5L, "e", 50.0))
      .toDF("id", "name", "amount")
      .withColumn("_id", $"id".cast("string")), dir)
    val srcDir = tmpDir("sqlreconsrc")
    src.withColumn("_id", $"id".cast("string"))
      .write.mode("overwrite").parquet(srcDir)

    // report-only: 1 missing (3), 1 extra (5), 1 mismatched (2)
    val rep = spark.sql(
      s"GRAFT RECONCILE '$dir' FROM '$srcDir' ON id COMPARE name, amount")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(rep == ((2L, 1L, 1L, -1L, -1L)), s"got $rep")

    // with REPAIR: applied and converged
    val fix = spark.sql(s"GRAFT RECONCILE '$dir' FROM '$srcDir' " +
      "ON id COMPARE name, amount REPAIR")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(fix._4 == 3L && fix._5 == 1L, s"upserts/deletes: $fix")
    val after = spark.sql(
      s"GRAFT RECONCILE '$dir' FROM '$srcDir' ON id COMPARE name, amount")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(after == ((0L, 0L, 0L, -1L, -1L)),
      s"post-repair re-reconcile must be clean: $after")
  }

  test("repair preserves target-only columns on mismatched keys") {
    import graft.sink.CdcTable
    import org.apache.spark.sql.functions.{col, lit, to_date}
    val dir = tmpDir("repairpreserve")
    // target carries columns the source never had: _id and the
    // _ingestion_date partition column — a whole-row MERGE must not
    // null them out on repaired keys (that would silently relocate
    // rows to the null partition while the shared-column re-diff
    // reads clean)
    CdcTable.append(Seq((1L, "a", 10.0), (2L, "b", 99.0), (5L, "e", 50.0))
      .toDF("id", "name", "amount")
      .withColumn("_id", $"id".cast("string"))
      .withColumn("_ingestion_date", to_date(lit("2026-01-15"))), dir)
    // plain source: only the business columns
    val plan = Reconciler.repairPlan(src,
      CdcTable.read(spark, dir), "id", Seq("name", "amount"))
    Reconciler.applyRepair(spark, dir, plan, "id")
    val rows = CdcTable.read(spark, dir)
      .select($"id", $"name", $"amount", $"_id",
        col("_ingestion_date").cast("string").as("d"))
      .as[(Long, String, Double, String, String)]
      .collect().sortBy(_._1).toSeq
    // key 2 (mismatched): business cols from source, target-only cols
    // preserved from its pre-repair row
    assert(rows.find(_._1 == 2L).contains(
      (2L, "b", 20.0, "2", "2026-01-15")), s"mismatched key: $rows")
    // untouched key 1 unchanged
    assert(rows.find(_._1 == 1L).contains(
      (1L, "a", 10.0, "1", "2026-01-15")))
    // keys 3 and 4 (missing from target): nothing to preserve →
    // honest nulls
    assert(rows.find(_._1 == 3L).contains((3L, "c", 30.0, null, null)),
      s"missing key gets nulls: $rows")
    // only the truly-new keys live in the null partition
    assert(rows.count(_._5 == null) == 2, s"null-partition rows: $rows")
  }

  test("repair with a schema-superset source projects onto the table") {
    import graft.sink.CdcTable
    val dir = tmpDir("repairsuper")
    CdcTable.append(Seq((1L, "a", 10.0), (2L, "b", 99.0))
      .toDF("id", "name", "amount")
      .withColumn("_id", $"id".cast("string")), dir)
    // source carries an EXTRA column the table lacks — repair must
    // still converge on the shared columns, never widen or reject
    val srcPlus = src.withColumn("_id", $"id".cast("string"))
      .withColumn("extra_col", $"id" * 100)
    val res = Reconciler.reconcileAndRepair(spark, srcPlus, dir, "id",
      Seq("name", "amount"))
    assert(res.upserted.rowsDeleted == 1L && res.deleted.rowsDeleted == 0L)
    val r2 = Reconciler.diff(srcPlus, CdcTable.read(spark, dir), "id",
      Seq("name", "amount"))
    assert(r2.missingInTarget.count() == 0 && r2.mismatched.count() == 0)
    assert(!CdcTable.currentSchema(dir).get.fieldNames.contains("extra_col"),
      "repair must not widen the target schema")
  }

  test("COMPARE column literally named repair stays report-only") {
    import graft.sink.CdcTable
    val dir = tmpDir("reconrepaircol")
    CdcTable.append(Seq((1L, "x", 5L), (2L, "y", 6L))
      .toDF("id", "name", "repair")
      .withColumn("_id", $"id".cast("string")), dir)
    val srcDir = tmpDir("reconrepaircolsrc")
    Seq((1L, "x", 5L), (3L, "z", 7L)).toDF("id", "name", "repair")
      .withColumn("_id", $"id".cast("string"))
      .write.mode("overwrite").parquet(srcDir)
    val last = CdcTable.log(dir).last.commit
    // whitespace variants must all read 'repair' as a COLUMN
    Seq("ON id COMPARE name, repair",
      "ON id COMPARE name,  repair", // double space broke the regex fix
      "ON id COMPARE name,\n  repair").foreach { tail =>
      val out = spark.sql(s"GRAFT RECONCILE '$dir' FROM '$srcDir' $tail")
        .as[(Long, Long, Long, Long, Long)].head()
      assert(out == ((1L, 1L, 0L, -1L, -1L)),
        s"'$tail': trailing 'repair' is a COMPARE column, not the flag: $out")
      assert(CdcTable.log(dir).last.commit == last,
        s"'$tail': report-only reconcile must not commit anything")
    }
    // ...while a genuine flag after a column list still repairs
    val fixed = spark.sql(s"GRAFT RECONCILE '$dir' FROM '$srcDir' " +
      "ON id COMPARE name, repair REPAIR")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(fixed._4 >= 0 && fixed._5 >= 0, s"flagged run repairs: $fixed")
    assert(CdcTable.log(dir).last.commit != last)
  }

  test("deleteKeys: no-op on no match, distributed key-frame delete") {
    import graft.sink.CdcTable
    val dir = tmpDir("delkeys")
    CdcTable.append(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("k", "_id"), dir)
    val last = CdcTable.log(dir).last.commit
    val none = CdcTable.deleteKeys(spark, dir,
      Seq(99L).toDF("k"), Seq("k"))
    assert(none.rowsDeleted == 0L &&
      CdcTable.log(dir).last.commit == last,
      "no-match keyed delete must not commit")
    val r = CdcTable.deleteKeys(spark, dir,
      Seq(1L, 3L).toDF("k"), Seq("k"))
    assert(r.rowsDeleted == 2L)
    assert(CdcTable.read(spark, dir).select("k").as[Long]
      .collect().toSeq == Seq(2L))
  }
}
