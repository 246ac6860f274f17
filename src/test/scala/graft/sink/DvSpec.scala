package graft.sink

import graft.SparkSpec

/** Deletion vectors (merge-on-read DELETE, Delta DV parity, round
  * 16): [[CdcTable.deleteKeysDV]] records (file, row-position)
  * tombstones in a sidecar and rewrites NOTHING; every read path
  * filters them at scan time; compaction folds them physically. */
class DvSpec extends SparkSpec {
  import spark.implicits._

  private def rows(dir: String): Seq[Long] =
    CdcTable.read(spark, dir).select("x").as[Long].collect().sorted.toSeq

  private def dataFiles(dir: String): Set[String] =
    graft.core.Fs.walkFiles(s"$dir/data")
      .map(_._1.toString).filter(_.endsWith(".parquet")).toSet

  test("DV delete reads ≡ rewrite delete, with zero data-file IO") {
    def mk(prefix: String): String = {
      val d = tmpDir(prefix)
      CdcTable.append((1L to 20L).map(i => (i, s"k$i"))
        .toDF("x", "_id"), d)
      CdcTable.append((21L to 40L).map(i => (i, s"k$i"))
        .toDF("x", "_id"), d)
      d
    }
    val keys = (1L to 40L).filter(_ % 7 == 0).map(i => s"k$i").toDF("_id")
    val dvDir = mk("dv_a")
    val rwDir = mk("dv_b")
    val before = dataFiles(dvDir)
    val r = CdcTable.deleteKeysDV(spark, dvDir, keys, Seq("_id"))
    assert(r.rowsDeleted == 5 && r.filesRewritten == 0)
    assert(dataFiles(dvDir) == before,
      "a DV delete must write no data files")
    val rw = CdcTable.deleteKeys(spark, rwDir, keys, Seq("_id"))
    assert(rw.rowsDeleted == 5)
    assert(rows(dvDir) == rows(rwDir),
      "merge-on-read must equal the rewrite answer")
    // re-deleting the same keys is a no-op (the scan is DV-applied)
    val again = CdcTable.deleteKeysDV(spark, dvDir, keys, Seq("_id"))
    assert(again.rowsDeleted == 0)
  }

  test("DVs accumulate across commits and time travel sees through") {
    val dir = tmpDir("dv_acc")
    CdcTable.append((1L to 10L).map(i => (i, s"k$i")).toDF("x", "_id"),
      dir)
    val preDv = CdcTable.log(dir).last.commit
    CdcTable.deleteKeysDV(spark, dir, Seq("k2").toDF("_id"), Seq("_id"))
    CdcTable.deleteKeysDV(spark, dir, Seq("k5", "k9").toDF("_id"),
      Seq("_id"))
    assert(rows(dir) == Seq(1L, 3L, 4L, 6L, 7L, 8L, 10L))
    assert(CdcTable.readAsOf(spark, dir, commitAsOf = Some(preDv))
      .count() == 10, "pre-DV snapshots still show the rows")
    // the DV commits also feed the change feed as deletes
    val dels = CdcTable.readChanges(spark, dir, afterCommit = preDv)
      .filter($"_change_type" === "delete")
      .select("x").as[Long].collect().toSet
    assert(dels == Set(2L, 5L, 9L))
  }

  test("predicate DML after a DV keeps the tombstones applied") {
    val dir = tmpDir("dv_dml")
    CdcTable.append((1L to 10L).map(i => (i, s"k$i")).toDF("x", "_id"),
      dir)
    CdcTable.deleteKeysDV(spark, dir, Seq("k3").toDF("_id"), Seq("_id"))
    // a predicate delete (replace commit) must carry the DV forward
    // for untouched files AND not resurrect x=3 in rewritten ones
    CdcTable.delete(spark, dir, "x = 7")
    assert(rows(dir) == Seq(1L, 2L, 4L, 5L, 6L, 8L, 9L, 10L))
    // keyed merge over the DV'd table behaves too
    CdcTable.merge(spark, dir, Seq((30L, "k3")).toDF("x", "_id"),
      keys = Seq("_id"))
    assert(rows(dir) == Seq(1L, 2L, 4L, 5L, 6L, 8L, 9L, 10L, 30L),
      "k3 re-inserts as a fresh row, not a resurrected one")
  }

  test("compaction folds DVs physically; restore reinstates them") {
    val dir = tmpDir("dv_fold")
    CdcTable.append((1L to 10L).map(i => (i, s"k$i")).toDF("x", "_id"),
      dir)
    CdcTable.deleteKeysDV(spark, dir,
      Seq("k1", "k4").toDF("_id"), Seq("_id"))
    val dvSnap = CdcTable.log(dir).last.commit
    val want = rows(dir)
    CdcTable.replaceWith(dir,
      CdcTable.read(spark, dir).coalesce(1))
    assert(CdcTable.log(dir).last.dvFiles.isEmpty,
      "a full rewrite folds the tombstones into fresh files")
    assert(rows(dir) == want)
    // restore to the DV snapshot: sidecars are snapshot state
    CdcTable.restore(dir, commitAsOf = Some(dvSnap))
    assert(CdcTable.log(dir).last.dvFiles.nonEmpty,
      "restore must reinstate the snapshot's sidecars")
    assert(rows(dir) == want)
  }

  test("shallow clone borrows DVs; huge-DV fallback path agrees") {
    val src = tmpDir("dv_clone_s")
    val dst = tmpDir("dv_clone_d")
    CdcTable.append((1L to 12L).map(i => (i, s"k$i")).toDF("x", "_id"),
      src)
    CdcTable.deleteKeysDV(spark, src,
      Seq("k2", "k11").toDF("_id"), Seq("_id"))
    CdcTable.cloneShallow(src, dst)
    val want = (1L to 12L).filterNot(i => i == 2 || i == 11).toSeq
    assert(rows(dst) == want, "borrowed DVs filter borrowed files")
    // force the distributed anti-join fallback and compare
    val prev = sys.props.put("graft.dv.broadcastLimit", "0")
    try assert(rows(dst) == want, "anti-join fallback must agree")
    finally prev match {
      case Some(v) => sys.props.put("graft.dv.broadcastLimit", v)
      case None => sys.props.remove("graft.dv.broadcastLimit")
    }
  }

  test("predicate deleteDV ≡ predicate delete; SQL USING DV route") {
    def mk(prefix: String): String = {
      val d = tmpDir(prefix)
      CdcTable.append((1L to 30L).map(i => (i, s"k$i"))
        .toDF("x", "_id"), d, partitionBy = Nil)
      d
    }
    val dvDir = mk("dvp_a")
    val rwDir = mk("dvp_b")
    val r = spark.sql(
      s"GRAFT DELETE FROM '$dvDir' WHERE x % 4 = 0 USING DV").collect()
    assert(r.head.getLong(0) == 7L && r.head.getLong(1) == 0L,
      "7 victims, zero files rewritten")
    CdcTable.delete(spark, rwDir, "x % 4 = 0", partitionBy = Nil)
    assert(rows(dvDir) == rows(rwDir))
    // NULL predicate rows are not matched (SQL semantics), and the
    // already-deleted rows never re-record
    val again = CdcTable.deleteDV(spark, dvDir, "x % 4 = 0")
    assert(again.rowsDeleted == 0L)
  }

  test("DV read path is scan-local: no shuffle, no join added") {
    val dir = tmpDir("dv_plan")
    CdcTable.append((1L to 20L).map(i => (i, s"k$i")).toDF("x", "_id"),
      dir, partitionBy = Nil)
    CdcTable.deleteKeysDV(spark, dir, Seq("k5").toDF("_id"), Seq("_id"))
    val p = CdcTable.read(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"the broadcast DV probe must not shuffle the scan:\n${p.take(600)}")
    assert(!p.contains("Join"),
      s"the broadcast DV probe is a filter, not a join:\n${p.take(600)}")
  }

  test("GRAFT DELETE KEYS SQL form: DV and rewrite routes") {
    val dir = tmpDir("dv_sql")
    CdcTable.append((1L to 10L).map(i => (i, s"k$i")).toDF("x", "_id"),
      dir, partitionBy = Nil)
    val k1 = tmpDir("dv_sql_k1")
    Seq("k2", "k4").toDF("_id").write.mode("overwrite").parquet(k1)
    val out = spark.sql(
      s"GRAFT DELETE KEYS '$dir' FROM '$k1' ON _id USING DV").collect()
    assert(out.head.getLong(0) == 2L, "rows_deleted")
    assert(out.head.getLong(1) == 0L, "DV route rewrites nothing")
    assert(rows(dir) == Seq(1L, 3L, 5L, 6L, 7L, 8L, 9L, 10L))
    // rewrite route (no USING DV) from a graft-table source
    val k2 = tmpDir("dv_sql_k2")
    CdcTable.append(Seq("k7").toDF("_id"), k2, partitionBy = Nil)
    val out2 = spark.sql(
      s"GRAFT DELETE KEYS '$dir' FROM '$k2' ON _id").collect()
    assert(out2.head.getLong(0) == 1L)
    assert(rows(dir) == Seq(1L, 3L, 5L, 6L, 8L, 9L, 10L))
  }

  test("mergeDV ≡ rewrite merge; no double-counted feed inserts") {
    def mk(prefix: String): String = {
      val d = tmpDir(prefix)
      CdcTable.append((1L to 12L).map(i => (i * 10L, s"k$i"))
        .toDF("x", "_id"), d, partitionBy = Nil)
      d
    }
    val src = Seq((999L, "k3"), (888L, "k7"), (777L, "knew"))
      .toDF("x", "_id")
    val dvDir = mk("dvm_a")
    val rwDir = mk("dvm_b")
    val before = dataFiles(dvDir)
    val r = CdcTable.mergeDV(spark, dvDir, src, Seq("_id"),
      partitionBy = Nil)
    assert(r.rowsDeleted == 2L && r.filesRewritten == 0L)
    assert(before.subsetOf(dataFiles(dvDir)),
      "MoR merge must not rewrite or remove any existing file")
    CdcTable.merge(spark, rwDir, src, Seq("_id"), partitionBy = Nil)
    assert(rows(dvDir) == rows(rwDir),
      "merge-on-read must equal the rewrite-merge answer")
    // feed: exactly the logical changes, inserts NOT double-counted
    // through the fresh source files (the commit is not an append)
    val feed = CdcTable.readChanges(spark, dvDir, afterCommit = 1L)
      .select($"_id", $"x", $"_change_type")
      .as[(String, Long, String)].collect().toSet
    assert(feed == Set(
      ("k3", 30L, "update_preimage"), ("k3", 999L, "update_postimage"),
      ("k7", 70L, "update_preimage"), ("k7", 888L, "update_postimage"),
      ("knew", 777L, "insert")))
    // a later compaction folds the DVs physically, same answer
    CdcTable.replaceWith(dvDir,
      CdcTable.read(spark, dvDir).coalesce(1), partitionBy = Nil)
    assert(rows(dvDir) == rows(rwDir))
    // txn replay no-ops
    val t = CdcTable.mergeDV(spark, rwDir, src, Seq("_id"),
      partitionBy = Nil, txn = Some(("mdv", 1L)))
    assert(t.rowsDeleted == 3L) // k3, k7 and the now-present knew
    val t2 = CdcTable.mergeDV(spark, rwDir, src, Seq("_id"),
      partitionBy = Nil, txn = Some(("mdv", 1L)))
    assert(t2.rowsDeleted == 0L && t2.commit == t.commit)
  }

  test("GRAFT MERGE USING DV SQL form; EVOLVE + DV rejects") {
    val dir = tmpDir("dvm_sql")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id"), dir,
      partitionBy = Nil)
    val srcDir = tmpDir("dvm_sql_src")
    Seq((20L, "b"), (30L, "c")).toDF("x", "_id")
      .write.mode("overwrite").parquet(srcDir)
    val out = spark.sql(
      s"GRAFT MERGE '$dir' FROM '$srcDir' ON _id USING DV").collect()
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 0L)
    assert(rows(dir) == Seq(1L, 20L, 30L))
    intercept[IllegalArgumentException] {
      spark.sql(
        s"GRAFT MERGE '$dir' FROM '$srcDir' ON _id EVOLVE USING DV")
        .collect()
    }
  }

  test("DV commit is O(tombstones): manifest stays file-list-free") {
    val dir = tmpDir("dv_cost")
    CdcTable.append((1L to 100L).map(i => (i, s"k$i")).toDF("x", "_id"),
      dir)
    val liveFiles = CdcTable.log(dir).flatMap(_.files).size
    CdcTable.deleteKeysDV(spark, dir, Seq("k50").toDF("_id"), Seq("_id"))
    val dvCommit = CdcTable.log(dir).last
    assert(dvCommit.action == "dv" && dvCommit.files.isEmpty,
      "a DV commit references no data files — it rides the log " +
        "like a rename marker; the live set is untouched")
    assert(CdcTable.log(dir).flatMap(_.files).size == liveFiles)
    assert(CdcTable.detail(dir).liveFiles == liveFiles.toLong)
  }
}
