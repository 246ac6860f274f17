package graft.sink

import graft.SparkSpec

/** CHECK constraints — Delta `ALTER TABLE … ADD CONSTRAINT` parity
  * (the reference's DQ rules, spec.md P8, as WRITER-side invariants).
  * Gates: metadata-only add/drop, in-write single-pass enforcement on
  * append / UPDATE / MERGE / mergeDV (violation iff FALSE — NULL
  * passes, SQL CHECK semantics), ADD-time validation of existing
  * rows, RENAME/DROP COLUMN rejection on referenced columns,
  * clone/restore carriage, checkpoint survival, and the SQL forms. */
class ConstraintSpec extends SparkSpec {
  import spark.implicits._

  private def dataFiles(dir: String) =
    graft.core.Fs.walkFiles(s"$dir/data")
      .map(_._1.toString).filter(_.endsWith(".parquet")).toSet

  /** Flattened message of a throwable and all its causes — the guard
    * raises inside a Spark task, so the constraint name sits several
    * wrapping layers down. */
  private def chain(t: Throwable): String = {
    val sb = new StringBuilder
    var cur: Throwable = t
    while (cur != null) { sb.append(cur.getMessage).append(" | ")
      cur = cur.getCause }
    sb.toString
  }

  private def rows(dir: String): Seq[(Long, String)] =
    CdcTable.read(spark, dir).select("qty", "_id").as[(Long, String)]
      .collect().sortBy(_._2).toSeq

  test("add/drop are metadata-only; CONSTRAINTS lists; duplicates and unknowns reject") {
    val dir = tmpDir("cons_meta")
    CdcTable.append(Seq((1L, "a")).toDF("qty", "_id"), dir)
    val before = dataFiles(dir)
    spark.sql(s"GRAFT ADD CONSTRAINT '$dir' qty_pos CHECK (qty >= 0)")
      .collect()
    assert(dataFiles(dir) == before, "ADD CONSTRAINT must write no data")
    val listed = spark.sql(s"GRAFT CONSTRAINTS '$dir'").collect()
    assert(listed.map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq == Seq(("qty_pos", "qty >= 0", "qty")))
    // duplicate name rejects
    val dup = intercept[Exception](
      CdcTable.addConstraint(spark, dir, "qty_pos", "qty < 10"))
    assert(chain(dup).contains("already exists"))
    // unknown column rejects, with the recorded-refs mechanism
    val unk = intercept[Exception](
      CdcTable.addConstraint(spark, dir, "bad", "no_such_col > 0"))
    assert(chain(unk).contains("unknown column"))
    // non-boolean expression rejects
    val nb = intercept[Exception](
      CdcTable.addConstraint(spark, dir, "bad", "qty + 1"))
    assert(chain(nb).contains("must be BOOLEAN"))
    spark.sql(s"GRAFT DROP CONSTRAINT '$dir' qty_pos").collect()
    assert(CdcTable.constraints(dir).isEmpty)
    val miss = intercept[Exception](CdcTable.dropConstraint(dir, "qty_pos"))
    assert(chain(miss).contains("no constraint"))
  }

  test("append enforcement: violation rejects in-write, NULL passes, content untouched") {
    val dir = tmpDir("cons_append")
    CdcTable.append(Seq((1L, "a")).toDF("qty", "_id"), dir)
    CdcTable.addConstraint(spark, dir, "qty_pos", "qty >= 0")
    val tail = CdcTable.log(dir).last.commit
    val bad = intercept[Exception](CdcTable.append(
      Seq((2L, "b"), (-3L, "c")).toDF("qty", "_id"), dir))
    assert(chain(bad).contains("qty_pos"),
      s"violation must name the constraint, got: ${chain(bad)}")
    assert(CdcTable.log(dir).last.commit == tail,
      "a rejected append must not commit")
    assert(rows(dir) == Seq((1L, "a")))
    // NULL passes (SQL CHECK semantics: violation iff FALSE)
    CdcTable.append(Seq((Some(4L), "d"), (None, "e"))
      .toDF("qty", "_id"), dir)
    assert(CdcTable.read(spark, dir).count() == 3)
  }

  test("ADD validates existing rows with one scan and rejects with a sample") {
    val dir = tmpDir("cons_existing")
    CdcTable.append(Seq((1L, "a"), (-2L, "b")).toDF("qty", "_id"), dir)
    val bad = intercept[Exception](
      CdcTable.addConstraint(spark, dir, "qty_pos", "qty >= 0"))
    assert(chain(bad).contains("existing rows violate"))
    assert(CdcTable.constraints(dir).isEmpty,
      "a rejected ADD must not commit")
    // NULLs in existing data pass the ADD-time scan too
    val dir2 = tmpDir("cons_existing_null")
    CdcTable.append(Seq((Some(1L), "a"), (None, "b"))
      .toDF("qty", "_id"), dir2)
    CdcTable.addConstraint(spark, dir2, "qty_pos", "qty >= 0")
    assert(CdcTable.constraints(dir2).map(_.name) == Seq("qty_pos"))
  }

  test("UPDATE and MERGE enforce on their new rows; valid DML passes") {
    val dir = tmpDir("cons_dml")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("qty", "_id"), dir,
      partitionBy = Nil)
    CdcTable.addConstraint(spark, dir, "qty_pos", "qty >= 0")
    val tail = CdcTable.log(dir).last.commit
    // violating UPDATE rejects before the commit
    val badU = intercept[Exception](spark.sql(
      s"GRAFT UPDATE '$dir' SET qty = -5 WHERE _id = 'a'").collect())
    assert(chain(badU).contains("qty_pos"))
    assert(CdcTable.log(dir).last.commit == tail)
    assert(rows(dir) == Seq((1L, "a"), (2L, "b")))
    // valid UPDATE passes
    CdcTable.update(spark, dir, "_id = 'a'", Seq("qty" -> "qty + 10"),
      partitionBy = Nil)
    assert(rows(dir) == Seq((11L, "a"), (2L, "b")))
    // violating MERGE (insert leg) rejects
    val badM = intercept[Exception](CdcTable.merge(spark, dir,
      Seq((-7L, "z")).toDF("qty", "_id"), Seq("_id"),
      partitionBy = Nil))
    assert(chain(badM).contains("qty_pos"))
    assert(rows(dir) == Seq((11L, "a"), (2L, "b")))
    // violating mergeDV rejects too (the merge-on-read route)
    val badMv = intercept[Exception](CdcTable.mergeDV(spark, dir,
      Seq((-8L, "b")).toDF("qty", "_id"), Seq("_id"),
      partitionBy = Nil))
    assert(chain(badMv).contains("qty_pos"))
    assert(rows(dir) == Seq((11L, "a"), (2L, "b")))
    // valid merge passes; DROP lifts enforcement for the invalid row
    CdcTable.merge(spark, dir, Seq((3L, "c")).toDF("qty", "_id"),
      Seq("_id"), partitionBy = Nil)
    CdcTable.dropConstraint(dir, "qty_pos")
    CdcTable.append(Seq((-1L, "neg")).toDF("qty", "_id"), dir)
    assert(CdcTable.read(spark, dir).count() == 4)
  }

  test("RENAME/DROP COLUMN of a referenced column reject until the constraint drops") {
    val dir = tmpDir("cons_ddl")
    CdcTable.append(Seq((1L, "a")).toDF("qty", "_id"), dir)
    CdcTable.addConstraint(spark, dir, "qty_pos", "qty >= 0")
    val r = intercept[Exception](
      CdcTable.renameColumn(dir, "qty", "amount"))
    assert(chain(r).contains("qty_pos"))
    val d = intercept[Exception](
      CdcTable.dropColumn(dir, "qty"))
    assert(chain(d).contains("qty_pos"))
    // an UNreferenced column renames freely under the constraint
    CdcTable.renameColumn(dir, "_id", "doc")
    CdcTable.dropConstraint(dir, "qty_pos")
    assert(CdcTable.renameColumn(dir, "qty", "amount") > 0)
  }

  test("shallow clone inherits the source's constraints") {
    val src = tmpDir("cons_clone_src")
    val dst = tmpDir("cons_clone_dst") + "/t"
    CdcTable.append(Seq((1L, "a")).toDF("qty", "_id"), src)
    CdcTable.addConstraint(spark, src, "qty_pos", "qty >= 0")
    spark.sql(s"GRAFT CLONE '$src' TO '$dst'").collect()
    assert(CdcTable.constraints(dst).map(_.name) == Seq("qty_pos"))
    val bad = intercept[Exception](CdcTable.append(
      Seq((-2L, "b")).toDF("qty", "_id"), dst))
    assert(chain(bad).contains("qty_pos"))
    // and the source is unaffected by the clone's lifecycle
    CdcTable.dropConstraint(dst, "qty_pos")
    assert(CdcTable.constraints(src).map(_.name) == Seq("qty_pos"))
  }

  test("RESTORE rolls the constraint set back to the snapshot") {
    val dir = tmpDir("cons_restore")
    CdcTable.append(Seq((1L, "a")).toDF("qty", "_id"), dir,
      partitionBy = Nil)
    CdcTable.addConstraint(spark, dir, "c1", "qty >= 0")
    val snap = CdcTable.log(dir).last.commit
    CdcTable.addConstraint(spark, dir, "c2", "qty < 100")
    CdcTable.dropConstraint(dir, "c1")
    assert(CdcTable.constraints(dir).map(_.name) == Seq("c2"))
    CdcTable.restore(dir, commitAsOf = Some(snap))
    assert(CdcTable.constraints(dir).map(_.name) == Seq("c1"))
    // c1 enforces again; c2 is gone
    val bad = intercept[Exception](CdcTable.append(
      Seq((-2L, "b")).toDF("qty", "_id"), dir))
    assert(chain(bad).contains("c1"))
    CdcTable.append(Seq((500L, "big")).toDF("qty", "_id"), dir)
    assert(CdcTable.read(spark, dir).count() == 2)
  }

  test("constraints survive checkpoint condensation and raw-log pruning") {
    val dir = tmpDir("cons_ckpt")
    CdcTable.append(Seq((1L, "a")).toDF("qty", "_id"), dir,
      partitionBy = Nil)
    CdcTable.addConstraint(spark, dir, "qty_pos", "qty >= 0")
    // drive past the checkpoint interval, crossing a replace commit
    (2 to 9).foreach(i => CdcTable.append(
      Seq((i.toLong, s"k$i")).toDF("qty", "_id"), dir,
      partitionBy = Nil))
    // a replace commit between the constraint and the checkpoint: the
    // fold must survive condensation of pre-replace history
    CdcTable.delete(spark, dir, "_id = 'k2'", partitionBy = Nil)
    (10 to 12).foreach(i => CdcTable.append(
      Seq((i.toLong, s"k$i")).toDF("qty", "_id"), dir,
      partitionBy = Nil))
    val logNames = graft.core.Fs.list(s"$dir/_graft_log")
    val ckpts = logNames.filter(_.endsWith(".checkpoint"))
    assert(ckpts.nonEmpty, "expected a checkpoint by commit 10+")
    // simulate vacuumed raw history: drop every raw commit file the
    // newest checkpoint supersedes — the fold must survive on the
    // checkpoint alone
    val ckptId = ckpts.map(_.stripSuffix(".checkpoint").toLong).max
    logNames.filter(_.endsWith(".commit"))
      .filter(_.stripSuffix(".commit").toLong <= ckptId)
      .foreach { n =>
        val (fs, p) = graft.core.Fs(s"$dir/_graft_log/$n")
        fs.delete(p, false)
      }
    assert(CdcTable.constraints(dir).map(_.name) == Seq("qty_pos"))
    val bad = intercept[Exception](CdcTable.append(
      Seq((-5L, "neg")).toDF("qty", "_id"), dir))
    assert(chain(bad).contains("qty_pos"))
  }
}
