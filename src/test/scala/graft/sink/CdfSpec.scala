package graft.sink

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** DML-aware change feed (Delta Change Data Feed parity, round 16):
  * DELETE / UPDATE / MERGE persist their exact logical changes as
  * per-commit change files; [[CdcTable.readChanges]] serves them
  * alongside manifest-derived append inserts; and the
  * [[graft.ext.ChangeAgg]] consumer stays ≡
  * recreate-from-current-state under any sync cadence. */
class CdfSpec extends SparkSpec {
  import spark.implicits._

  private def feed(dir: String, after: Long = 0L) =
    CdcTable.readChanges(spark, dir, afterCommit = after)
      .select($"_id", $"x", $"_change_type", $"_commit")
      .as[(String, Long, String, Long)].collect().toSet

  test("DELETE emits its victims as delete change rows") {
    val dir = tmpDir("cdf_del")
    CdcTable.append(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("x", "_id"), dir)
    val r = CdcTable.delete(spark, dir, "x >= 2")
    assert(r.rowsDeleted == 2)
    val got = feed(dir)
    assert(got == Set(
      ("a", 1L, "insert", 1L), ("b", 2L, "insert", 1L),
      ("c", 3L, "insert", 1L),
      ("b", 2L, "delete", r.commit), ("c", 3L, "delete", r.commit)))
  }

  test("UPDATE emits pre/postimage pairs evaluated on the pre-row") {
    val dir = tmpDir("cdf_upd")
    CdcTable.append(Seq((1L, "a"), (10L, "b")).toDF("x", "_id"), dir)
    val r = CdcTable.update(spark, dir, "x >= 10",
      Seq("x" -> "x + 5"))
    assert(r.rowsDeleted == 1) // rowsMatched
    val got = feed(dir, after = 1L)
    assert(got == Set(
      ("b", 10L, "update_preimage", r.commit),
      ("b", 15L, "update_postimage", r.commit)))
  }

  test("MERGE splits the source into postimages and inserts") {
    val dir = tmpDir("cdf_mrg")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id"), dir)
    val r = CdcTable.merge(spark, dir,
      Seq((20L, "b"), (30L, "c")).toDF("x", "_id"), keys = Seq("_id"))
    val got = feed(dir, after = 1L)
    assert(got == Set(
      ("b", 2L, "update_preimage", r.commit),
      ("b", 20L, "update_postimage", r.commit),
      ("c", 30L, "insert", r.commit)))
    // and the insert rows do NOT double-count through the data files
    // (a merge is a replace commit: only its change files feed the CDF)
    assert(feed(dir).count(_._3 == "insert") == 3) // a, b, c(new)
  }

  test("compaction stays CDF-silent; DML after it emits") {
    val dir = tmpDir("cdf_compact")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id"), dir)
    CdcTable.replaceWith(dir,
      CdcTable.read(spark, dir).coalesce(1))
    assert(feed(dir, after = 1L).isEmpty,
      "physical rewrites change no logical rows")
    val r = CdcTable.delete(spark, dir, "x = 1")
    assert(feed(dir, after = 1L) ==
      Set(("a", 1L, "delete", r.commit)))
  }

  test("change rows written pre-rename serve under the current names") {
    val dir = tmpDir("cdf_ren")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id"), dir)
    val r = CdcTable.delete(spark, dir, "x = 2") // change file: (x, _id)
    CdcTable.renameColumn(dir, "x", "qty")
    val got = CdcTable.readChanges(spark, dir, afterCommit = 0L)
    assert(got.columns.contains("qty") && !got.columns.contains("x"))
    assert(got.filter($"_change_type" === "delete")
      .select($"qty", $"_commit").as[(Long, Long)].collect().toSeq ==
      Seq((2L, r.commit)))
  }

  test("ChangeAgg state ≡ recreate-from-current-state, any cadence") {
    import graft.ext.ChangeAgg
    def run(syncEvery: Boolean): Map[String, (Long, Long)] = {
      val dir = tmpDir(s"cdf_agg_$syncEvery")
      val st = tmpDir(s"cdf_aggst_$syncEvery")
      val docs = (1L to 60L).map(i =>
        (i, if (i % 3 == 0) "en" else "de", i * 10L))
        .toDF("_id", "lang", "chars")
      def sync() = ChangeAgg.changeAggSync(spark, dir, st,
        Seq("lang"), Seq("chars"))
      CdcTable.append(docs.filter($"_id" <= 30), dir, partitionBy = Nil)
      if (syncEvery) sync()
      CdcTable.append(docs.filter($"_id" > 30), dir, partitionBy = Nil)
      if (syncEvery) sync()
      CdcTable.delete(spark, dir, "chars % 70 = 0", partitionBy = Nil)
      if (syncEvery) sync()
      CdcTable.update(spark, dir, "chars % 40 = 0",
        Seq("chars" -> "chars + 7"), partitionBy = Nil)
      if (syncEvery) sync()
      CdcTable.merge(spark, dir,
        docs.filter($"_id" % 5 === 0)
          .withColumn("chars", $"chars" * 2), Seq("_id"),
        partitionBy = Nil)
      sync()
      ChangeAgg.changeAggRead(spark, st)
        .select($"lang", $"n_rows", $"sum_chars")
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    }
    val everyCommit = run(syncEvery = true)
    val onceAtEnd = run(syncEvery = false)
    assert(everyCommit == onceAtEnd,
      "additive CDF folds must be cadence-invariant")
    // and both equal the recreate-from-current-state answer
    val dir = tmpDir("cdf_agg_truth")
    val docs = (1L to 60L).map(i =>
      (i, if (i % 3 == 0) "en" else "de", i * 10L))
      .toDF("_id", "lang", "chars")
    CdcTable.append(docs, dir, partitionBy = Nil)
    CdcTable.delete(spark, dir, "chars % 70 = 0", partitionBy = Nil)
    CdcTable.update(spark, dir, "chars % 40 = 0",
      Seq("chars" -> "chars + 7"), partitionBy = Nil)
    CdcTable.merge(spark, dir,
      docs.filter($"_id" % 5 === 0)
        .withColumn("chars", $"chars" * 2), Seq("_id"),
      partitionBy = Nil)
    val truth = CdcTable.read(spark, dir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n"), sum($"chars").as("s"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(everyCommit == truth,
      s"CDF-maintained state diverged: $everyCommit vs $truth")
  }

  test("ChangeAgg replays are idempotent (txn high-water)") {
    import graft.ext.ChangeAgg
    val dir = tmpDir("cdf_agg_replay")
    val st = tmpDir("cdf_agg_replayst")
    CdcTable.append(Seq((1L, "x"), (2L, "y")).toDF("v", "k"), dir,
      partitionBy = Nil)
    assert(ChangeAgg.changeAggSync(spark, dir, st, Seq("k"),
      Seq("v")) == 1)
    assert(ChangeAgg.changeAggSync(spark, dir, st, Seq("k"),
      Seq("v")) == 0, "nothing unseen → no work")
    val before = ChangeAgg.changeAggRead(spark, st).collect().toSet
    CdcTable.delete(spark, dir, "v = 1", partitionBy = Nil)
    assert(ChangeAgg.changeAggSync(spark, dir, st, Seq("k"),
      Seq("v")) == 1)
    val after = ChangeAgg.changeAggRead(spark, st)
      .select($"k", $"n_rows").as[(String, Long)].collect().toSet
    assert(after == Set(("y", 1L)),
      s"fully-deleted groups drop out of the state, got $after")
    assert(before != after)
  }

  test("changeAggStreamToTable: streamed CDF folds survive restart " +
      "and track DML exactly") {
    import graft.ext.ChangeAgg
    val dir = tmpDir("cdf_stream_tbl")
    val st = tmpDir("cdf_stream_st")
    val ckpt = tmpDir("cdf_stream_ck")
    val docs = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) "even" else "odd", i)).toDF("_id", "g", "v")
    CdcTable.append(docs.filter($"_id" <= 20), dir, partitionBy = Nil)
    def start() = ChangeAgg.changeAggStreamToTable(spark, dir, st,
      Seq("g"), Seq("v"), ckpt)
    def state(): Map[String, (Long, Long)] =
      ChangeAgg.changeAggRead(spark, st)
        .select($"g", $"n_rows", $"sum_v")
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    def truth(): Map[String, (Long, Long)] =
      CdcTable.read(spark, dir).groupBy($"g")
        .agg(count(lit(1)), sum($"v"))
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    val q = start()
    try {
      q.processAllAvailable()
      assert(state() == truth())
      CdcTable.delete(spark, dir, "v % 5 = 0", partitionBy = Nil)
      q.processAllAvailable()
      assert(state() == truth(), "deletes fold negatively")
    } finally q.stop()
    // DML while the stream is DOWN, then restart from the checkpoint
    CdcTable.append(docs.filter($"_id" > 20), dir, partitionBy = Nil)
    CdcTable.merge(spark, dir,
      Seq((7L, "odd", 700L)).toDF("_id", "g", "v"), Seq("_id"),
      partitionBy = Nil)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(state() == truth(),
        "restart resumes at the cursor: no replays, no gaps")
    } finally q2.stop()
  }

  test("full-file delete shortcut: dead files drop by reference, " +
      "no preimage copy, the feed stays exact") {
    val dir = tmpDir("cdf_ff")
    // file 1: every row matches the delete (fully dead)
    CdcTable.append((1L to 8L).map(i => (i, "dead", s"k$i"))
      .toDF("x", "g", "_id").coalesce(1), dir, partitionBy = Nil)
    // file 2: half matches (partial)
    CdcTable.append((9L to 16L).map(i =>
      (i, if (i % 2 == 0) "dead" else "live", s"k$i"))
      .toDF("x", "g", "_id").coalesce(1), dir, partitionBy = Nil)
    val r = CdcTable.delete(spark, dir, "g = 'dead'", partitionBy = Nil)
    assert(r.rowsDeleted == 12L)
    val last = CdcTable.log(dir).last
    assert(last.removedFiles.size == 1,
      s"the fully-dead file drops by reference: ${last.removedFiles}")
    // the change FILES carry only the partial file's victims
    val copied = spark.read
      .schema(org.apache.spark.sql.types.StructType(
        CdcTable.log(dir).last.schema.fields :+
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType)))
      .parquet(last.changeFiles.map(f => s"$dir/$f"): _*)
    assert(copied.count() == 4L,
      "preimages are copied for PARTIAL files only")
    // …but the feed serves ALL 12 delete rows (8 via the removed
    // file itself + 4 via change files)
    val dels = CdcTable.readChanges(spark, dir, afterCommit = 2L)
      .filter($"_change_type" === "delete")
      .select("x").as[Long].collect().sorted.toSeq
    assert(dels == ((1L to 8L) ++ (10L to 16L by 2)).sorted)
    assert(CdcTable.read(spark, dir).select("x").as[Long]
      .collect().sorted.toSeq == Seq(9L, 11L, 13L, 15L))
    // and a CDF consumer folding the feed stays ≡ current state
    val st = tmpDir("cdf_ff_st")
    graft.ext.ChangeAgg.changeAggSync(spark, dir, st, Seq("g"),
      Seq("x"))
    assert(graft.ext.ChangeAgg.changeAggRead(spark, st)
      .select($"g", $"n_rows").as[(String, Long)].collect().toSet ==
      Set(("live", 4L)))
  }

  test("full-file delete of a carried file emits each row once") {
    val dir = tmpDir("cdf_rf_carried")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id")
      .coalesce(1), dir)
    CdcTable.append(Seq((10L, "c"), (11L, "d")).toDF("x", "_id")
      .coalesce(1), dir)
    // the partial delete rewrites the first file and carries the
    // second, so the second is listed by its append AND the replace
    CdcTable.delete(spark, dir, "x = 1")
    val before = CdcTable.log(dir).last.commit
    val r = CdcTable.delete(spark, dir, "x >= 10")
    assert(r.rowsDeleted == 2)
    assert(CdcTable.log(dir).last.removedFiles.size == 1,
      "the carried file drops whole")
    val got = CdcTable.readChanges(spark, dir, afterCommit = before)
      .select($"_id", $"_change_type").as[(String, String)]
      .collect().toSeq.sorted
    assert(got == Seq(("c", "delete"), ("d", "delete")))
  }

  test("keyed full-file shortcut; DV'd files stay on the partial path") {
    val dir = tmpDir("cdf_ffk")
    CdcTable.append((1L to 6L).map(i => (i, s"k$i"))
      .toDF("x", "_id").coalesce(1), dir, partitionBy = Nil)
    // a DV tombstone in the file: its matched count can never equal
    // the raw frows, so the shortcut must NOT claim it
    CdcTable.deleteKeysDV(spark, dir, Seq("k2").toDF("_id"), Seq("_id"))
    val r = CdcTable.deleteKeys(spark, dir,
      (1L to 6L).map(i => s"k$i").toDF("_id"), Seq("_id"))
    assert(r.rowsDeleted == 5L)
    assert(CdcTable.log(dir).last.removedFiles.isEmpty,
      "a DV-holding file is conservatively partial")
    assert(CdcTable.read(spark, dir).count() == 0L)
    // pure full-file keyed delete on a clean table
    val dir2 = tmpDir("cdf_ffk2")
    CdcTable.append((1L to 6L).map(i => (i, s"k$i"))
      .toDF("x", "_id").coalesce(1), dir2, partitionBy = Nil)
    val r2 = CdcTable.deleteKeys(spark, dir2,
      (1L to 6L).map(i => s"k$i").toDF("_id"), Seq("_id"))
    assert(r2.rowsDeleted == 6L && r2.filesRewritten == 0L,
      "a purely full-file keyed delete writes no data files")
    assert(CdcTable.log(dir2).last.removedFiles.nonEmpty)
    assert(CdcTable.read(spark, dir2).count() == 0L)
    val dels = CdcTable.readChanges(spark, dir2, afterCommit = 1L)
      .filter($"_change_type" === "delete").count()
    assert(dels == 6L, "removed-file rows serve as delete rows")
  }

  test("checkpoint-stubbed DML commits hydrate their change files") {
    val dir = tmpDir("cdf_stub")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id"), dir)
    val r = CdcTable.delete(spark, dir, "x = 1")
    // force commits past a checkpoint boundary with later replaces so
    // the delete commit becomes a stub in the checkpoint
    (1 to 10).foreach { _ =>
      CdcTable.replaceWith(dir,
        CdcTable.read(spark, dir).coalesce(1))
    }
    assert(CdcTable.log(dir).exists(c => c.stub && c.commit == r.commit),
      "precondition: the delete commit is checkpoint-stubbed")
    val got = feed(dir)
    assert(got.contains(("a", 1L, "delete", r.commit)),
      s"stub hydration must recover change files, got $got")
  }

  test("vacuum prunes orphaned change files, keeps referenced ones") {
    val dir = tmpDir("cdf_vac")
    // ONE file so the delete is partial (change files written; the
    // full-file shortcut would route a lone-row file to removedFiles,
    // whose feed rows legitimately die with a retain-0 vacuum)
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id")
      .coalesce(1), dir)
    CdcTable.delete(spark, dir, "x = 1")
    val referenced = graft.core.Fs.walkFiles(s"$dir/_changes")
      .map(_._1.toString).filter(_.endsWith(".parquet")).toSet
    assert(referenced.nonEmpty)
    // an orphan: staged but never committed (crash window)
    val orphanDir = s"$dir/_changes/batch-orphan"
    Seq((9L, "z")).toDF("x", "_id").write.parquet(orphanDir)
    Thread.sleep(50) // mtime strictly before the cutoff
    CdcTable.vacuumOrphans(dir, retainMillis = 0L)
    val left = graft.core.Fs.walkFiles(s"$dir/_changes")
      .map(_._1.toString).filter(_.endsWith(".parquet")).toSet
    assert(left == referenced,
      "orphan pruned, referenced change files kept")
    // the DML range still serves after vacuum (its change files are
    // referenced); the FULL-history feed legitimately fails once the
    // superseded data files are gone — retention is the feed horizon
    assert(feed(dir, after = 1L).exists(_._3 == "delete"))
  }
}
