package graft.sink

import graft.SparkSpec

/** GRAFT RESTORE (metadata-only snapshot rollback) and GRAFT CLONE
  * (shallow clone by file reference) — the Delta-parity table ops
  * added in round 14. Gates beyond q190/q191: schema-evolution
  * rollback, the metadata-only property (no data files written), the
  * vacuum-horizon loud failure, clone independence in BOTH
  * directions, and keyed rewrites over borrowed absolute-path files. */
class RestoreCloneSpec extends SparkSpec {
  import spark.implicits._

  test("restore reinstates deleted rows without writing data files") {
    val dir = tmpDir("restore1")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id"), dir)
    CdcTable.append(Seq((3L, "c"), (4L, "d")).toDF("x", "_id"), dir)
    val snap = CdcTable.log(dir).last.commit
    CdcTable.delete(spark, dir, "x <= 2")
    assert(CdcTable.read(spark, dir).count() == 2)

    def dataFiles() = graft.core.Fs.walkFiles(s"$dir/data")
      .map(_._1.toString).filter(_.endsWith(".parquet")).toSet
    val before = dataFiles()
    val tailBefore = CdcTable.log(dir).last.commit
    CdcTable.restore(dir, commitAsOf = Some(snap))
    assert(dataFiles() == before,
      "restore must be metadata-only: no data file written or removed")
    assert(CdcTable.log(dir).last.commit == tailBefore + 1,
      "a single-generation snapshot must restore ATOMICALLY: exactly " +
        "one replace commit, however many commits the snapshot spans")
    assert(CdcTable.read(spark, dir).select("x").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("restore rolls back schema evolution; history stays travelable") {
    val dir = tmpDir("restore2")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    val snap = CdcTable.log(dir).last.commit
    CdcTable.append(Seq((2L, "b", "extra")).toDF("x", "_id", "note"),
      dir) // widens the schema
    assert(CdcTable.currentSchema(dir).get.fieldNames.contains("note"))
    val preRestore = CdcTable.log(dir).last.commit

    CdcTable.restore(dir, commitAsOf = Some(snap))
    val sch = CdcTable.currentSchema(dir).get
    assert(!sch.fieldNames.contains("note"),
      "restore must roll the schema back to the snapshot's")
    assert(CdcTable.read(spark, dir).count() == 1)
    // the pre-restore state is still one time travel away
    val back = CdcTable.readAsOf(spark, dir,
      commitAsOf = Some(preRestore))
    assert(back.count() == 2 && back.columns.contains("note"))
  }

  test("restore spanning generations preserves per-generation schemas") {
    val dir = tmpDir("restore3")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    CdcTable.append(Seq((2L, "b", 9L)).toDF("x", "_id", "v"), dir)
    val snap = CdcTable.log(dir).last.commit
    CdcTable.delete(spark, dir, "x = 1") // full rewrite of gen 1 file
    CdcTable.restore(dir, commitAsOf = Some(snap))
    val rows = CdcTable.read(spark, dir)
      .select("x", "v").as[(Long, Option[Long])].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, None), (2L, Some(9L))),
      "both generations must read back under their own file schemas")
  }

  test("restore to the current snapshot is a no-op") {
    val dir = tmpDir("restore4")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    val last = CdcTable.log(dir).last.commit
    CdcTable.restore(dir,
      commitAsOf = Some(last))
    assert(CdcTable.log(dir).last.commit == last,
      "restoring to the current snapshot must write no commit")
  }

  test("restore past the vacuum horizon fails loudly, changes nothing") {
    val dir = tmpDir("restore5")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    val snap = CdcTable.log(dir).last.commit
    CdcTable.delete(spark, dir, "x = 1") // supersedes the gen-1 file
    // negative retention pushes the cutoff into the future: every
    // superseded file prunes regardless of mtime
    assert(CdcTable.vacuumOrphans(dir, retainMillis = -60000L).nonEmpty)
    val tail = CdcTable.log(dir).last.commit
    val e = intercept[IllegalArgumentException] {
      CdcTable.restore(dir, commitAsOf = Some(snap))
    }
    assert(e.getMessage.contains("vacuum"))
    assert(CdcTable.log(dir).last.commit == tail,
      "a failed restore must not half-commit")
  }

  test("GRAFT RESTORE SQL form restores by commit") {
    val dir = tmpDir("restoresql")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id"), dir)
    val snap = CdcTable.log(dir).last.commit
    CdcTable.delete(spark, dir, "x = 1")
    val out = spark.sql(s"GRAFT RESTORE '$dir' TO COMMIT $snap").collect()
    assert(out.length == 1)
    assert(CdcTable.read(spark, dir).count() == 2)
    // current_commit reports the new log TAIL's commit id, not the
    // (rolled-back) schema version the tail carries
    assert(out.head.getLong(1) == CdcTable.log(dir).last.commit)
  }

  test("clone of a source whose OWN path contains key=value segments") {
    // a key=value segment in the source table's directory path (e.g.
    // /warehouse/region=eu/tbl) must NOT be misread as a Hive
    // partition column of the borrowed absolute-path files
    val src = tmpDir("cloneseg") + "/region=eu/tbl"
    val dst = tmpDir("cloneseg_d")
    CdcTable.append((1L to 6L).map(i => (i, s"k$i")).toDF("x", "_id"), src)
    CdcTable.cloneShallow(src, dst)
    val got = CdcTable.read(spark, dst)
    assert(got.columns.toSet.filter(!_.startsWith("_cdc")) ==
      Set("x", "_id"), "no phantom 'region' partition column")
    assert(got.select("x").as[Long].collect().sorted.toSeq ==
      (1L to 6L).toSeq)
    // partition pruning must judge only the data/batch-… suffix of a
    // borrowed absolute path: a predicate on 'region' must NOT be
    // applied to the source-path segment (which would silently prune
    // every live borrowed file here)
    assert(CdcTable.readFiltered(spark, dst,
      (k, v) => k != "region" || v == "us").count() == 6,
      "key=value segments of the source's own directory path are not " +
        "partition columns of borrowed files")
    // keyed DML over the borrowed files still rewrites correctly
    val res = CdcTable.deleteKeys(spark, dst,
      Seq("k2", "k5").toDF("_id"), Seq("_id"))
    assert(res.rowsDeleted == 2L)
    assert(CdcTable.read(spark, dst).select("x").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 4L, 6L))
    assert(CdcTable.read(spark, src).count() == 6)
  }

  test("shallow clone copies no data and reads the source's content") {
    val src = tmpDir("clonesrc")
    val dst = tmpDir("clonedst")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id"), src)
    CdcTable.append(Seq((3L, "c")).toDF("x", "_id"), src)
    val borrowed = CdcTable.cloneShallow(src, dst)
    assert(borrowed >= 2)
    assert(graft.core.Fs.walkFiles(s"$dst/data").isEmpty,
      "a shallow clone must copy zero data files")
    assert(CdcTable.read(spark, dst).select("x").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // manifest stats came along (data skipping works on the clone)
    assert(CdcTable.log(dst).exists(_.stats.nonEmpty))
  }

  test("clone and source evolve independently, both directions") {
    val src = tmpDir("cloneind_s")
    val dst = tmpDir("cloneind_d")
    CdcTable.append(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("x", "_id"), src)
    CdcTable.cloneShallow(src, dst)
    // DML in the clone rewrites BORROWED files into the clone's dir
    val r = CdcTable.delete(spark, dst, "x = 2")
    assert(r.rowsDeleted == 1L)
    assert(CdcTable.read(spark, src).count() == 3,
      "clone DML must not touch the source")
    assert(CdcTable.read(spark, dst).select("x").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L))
    // source-side append stays invisible to the clone
    CdcTable.append(Seq((9L, "z")).toDF("x", "_id"), src)
    assert(CdcTable.read(spark, dst).count() == 2)
  }

  test("keyed deleteKeys rewrites borrowed files in the clone") {
    val src = tmpDir("clonekeyed_s")
    val dst = tmpDir("clonekeyed_d")
    CdcTable.append((1L to 10L).map(i => (i, s"k$i"))
      .toDF("x", "_id"), src)
    CdcTable.cloneShallow(src, dst)
    val keys = Seq("k3", "k7").toDF("_id")
    val res = CdcTable.deleteKeys(spark, dst, keys, Seq("_id"))
    assert(res.rowsDeleted == 2L,
      "suffix file keying must match borrowed absolute-path entries")
    assert(CdcTable.read(spark, dst).count() == 8)
    assert(CdcTable.read(spark, src).count() == 10)
  }

  test("clone refuses a target that already holds a table") {
    val src = tmpDir("clonedup_s")
    val dst = tmpDir("clonedup_d")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), src)
    CdcTable.append(Seq((2L, "b")).toDF("x", "_id"), dst)
    intercept[IllegalArgumentException] {
      CdcTable.cloneShallow(src, dst)
    }
  }

  test("GRAFT CLONE SQL form returns the borrowed-file count") {
    val src = tmpDir("clonesql_s")
    val dst = tmpDir("clonesql_d")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id"), src)
    val out = spark.sql(s"GRAFT CLONE '$src' TO '$dst'").collect()
    assert(out.length == 1 && out.head.getLong(0) >= 1L)
    assert(CdcTable.read(spark, dst).count() == 2)
  }
}
