package graft.sink

import graft.SparkSpec

class DeleteSpec extends SparkSpec {
  import spark.implicits._

  test("delete rewrites only files containing matches, carries the rest") {
    val dir = tmpDir("del")
    // three appends → three file sets; only the middle one matches
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id"), dir)
    CdcTable.append(Seq((10L, "c"), (11L, "d")).toDF("x", "_id"), dir)
    CdcTable.append(Seq((20L, "e")).toDF("x", "_id"), dir)
    val before = CdcTable.log(dir).flatMap(_.files).toSet

    val r = CdcTable.delete(spark, dir, "x = 10")
    assert(r.rowsDeleted == 1L)
    // x = 10 may live alone in its part file, in which case the
    // round-16 full-file shortcut DROPS it by reference (zero
    // rewrites — strictly better); a shared file rewrites as before
    assert(r.filesRewritten >= 1L ||
      CdcTable.log(dir).last.removedFiles.nonEmpty)
    // files from the two untouched appends are carried BY REFERENCE
    val after = CdcTable.log(dir).last.files.toSet
    val carriedOver = before.intersect(after)
    assert(carriedOver.nonEmpty, "untouched files must not rewrite")
    assert(r.filesCarried == carriedOver.size)

    val rows = CdcTable.read(spark, dir)
      .select("x").as[Long].collect().sorted.toSeq
    assert(rows == Seq(1L, 2L, 11L, 20L))
    // carried files keep their stats (data skipping stays effective)
    val stats = CdcTable.log(dir).last.stats
    assert(carriedOver.exists(f => stats.contains(f)),
      "carried files must keep their manifest stats")
  }

  test("no-match delete is a no-op commit-wise") {
    val dir = tmpDir("delnoop")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    val last = CdcTable.log(dir).last.commit
    val r = CdcTable.delete(spark, dir, "x = 999")
    assert(r.rowsDeleted == 0L && r.filesRewritten == 0L)
    assert(CdcTable.log(dir).last.commit == last,
      "no manifest should be written when nothing matches")
  }

  test("time travel before the delete still shows the rows") {
    val dir = tmpDir("deltravel")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id"), dir)
    val snap = CdcTable.log(dir).last.commit
    CdcTable.delete(spark, dir, "x = 1")
    assert(CdcTable.read(spark, dir).count() == 1)
    val old = CdcTable.readAsOf(spark, dir, commitAsOf = Some(snap))
    assert(old.count() == 2, "MVCC: pre-delete snapshot intact")
  }

  test("delete across schema generations rewrites the old generation") {
    val dir = tmpDir("delgen")
    CdcTable.append(Seq((1, "a")).toDF("x", "_id"), dir) // int gen
    CdcTable.append(Seq((5L, "b"), (6L, "c")).toDF("x", "_id"), dir) // long
    assert(CdcTable.log(dir).last.schemaVersion == 2)
    val r = CdcTable.delete(spark, dir, "x = 5")
    assert(r.rowsDeleted == 1L)
    val rows = CdcTable.read(spark, dir)
      .select("x").as[Long].collect().sorted.toSeq
    assert(rows == Seq(1L, 6L), s"got $rows")
    // the old int generation could not be carried under the long
    // schema — it must have been rewritten
    assert(CdcTable.log(dir).last.files.forall(f =>
      !CdcTable.log(dir).head.files.contains(f)))
  }

  test("GRAFT DELETE FROM ... WHERE runs from SQL") {
    val dir = tmpDir("delsql")
    CdcTable.append(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("x", "_id"), dir)
    val out = spark.sql(
      s"GRAFT DELETE FROM '$dir' WHERE x >= 2 AND _id <> 'c'")
      .as[(Long, Long, Long, Long)].head()
    assert(out._1 == 1L, s"one row (x=2) matches: $out")
    assert(CdcTable.read(spark, dir).select("x").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("update rewrites matching rows in place, carries clean files") {
    val dir = tmpDir("upd")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id"), dir)
    CdcTable.append(Seq((10L, "c")).toDF("x", "_id"), dir)
    val before = CdcTable.log(dir).flatMap(_.files).toSet
    val r = CdcTable.update(spark, dir, "x = 2",
      Seq("x" -> "x * 100"))
    assert(r.rowsDeleted == 1L) // rows matched
    val after = CdcTable.log(dir).last.files.toSet
    assert(before.intersect(after).nonEmpty,
      "the untouched append must carry by reference")
    assert(CdcTable.read(spark, dir).select("x").as[Long]
      .collect().sorted.toSeq == Seq(1L, 10L, 200L))
  }

  test("GRAFT UPDATE ... SET ... WHERE runs from SQL") {
    val dir = tmpDir("updsql")
    CdcTable.append(Seq((1L, "a", "x"), (2L, "b", "y"))
      .toDF("x", "_id", "tag"), dir)
    val out = spark.sql(s"GRAFT UPDATE '$dir' " +
      "SET x = x + 1, tag = concat(tag, '!') WHERE _id = 'b'")
      .as[(Long, Long, Long, Long)].head()
    assert(out._1 == 1L, s"one row matches: $out")
    val rows = CdcTable.read(spark, dir)
      .select("x", "tag").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "x"), (3L, "y!")), s"got $rows")
  }

  test("update refuses unknown SET columns (schema never widens)") {
    val dir = tmpDir("updbad")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    intercept[IllegalArgumentException] {
      CdcTable.update(spark, dir, "x = 1", Seq("nope" -> "1"))
    }
  }

  test("delete keeps rows whose predicate is NULL (SQL semantics)") {
    val dir = tmpDir("delnull")
    CdcTable.append(Seq((Some(10L), "a"), (None, "b"), (Some(7L), "c"))
      .toDF("x", "_id"), dir)
    val r = CdcTable.delete(spark, dir, "x = 10")
    assert(r.rowsDeleted == 1L)
    val ids = CdcTable.read(spark, dir)
      .select("_id").as[String].collect().sorted.toSeq
    assert(ids == Seq("b", "c"),
      s"the NULL-x row must survive a non-matching delete: $ids")
  }

  test("update evaluates all assignments against the pre-update row") {
    val dir = tmpDir("updswap")
    CdcTable.append(Seq((1L, 2L, "a"), (5L, 6L, "b"))
      .toDF("x", "y", "_id"), dir)
    // swap x and y where x = 1: both RHS must see the OLD values, and
    // the predicate must not unmatch mid-row after x is assigned
    val r = CdcTable.update(spark, dir, "x = 1",
      Seq("x" -> "y", "y" -> "x"))
    assert(r.rowsDeleted == 1L)
    val rows = CdcTable.read(spark, dir)
      .select("_id", "x", "y").as[(String, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq(("a", 2L, 1L), ("b", 5L, 6L)), s"got $rows")
  }

  test("GRAFT UPDATE honors quoted literals with commas and WHERE") {
    val dir = tmpDir("updquote")
    CdcTable.append(Seq((1L, "a", "old"), (2L, "b", "old"))
      .toDF("x", "_id", "note"), dir)
    val out = spark.sql(s"GRAFT UPDATE '$dir' " +
      "SET note = 'a,b where (x) = ''1''', x = x + 10 WHERE _id = 'a'")
      .as[(Long, Long, Long, Long)].head()
    assert(out._1 == 1L, s"one row matches: $out")
    val rows = CdcTable.read(spark, dir)
      .select("_id", "x", "note").as[(String, Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq(("a", 11L, "a,b where (x) = '1'"),
      ("b", 2L, "old")), s"got $rows")
  }

  test("merge upserts: matched keys replace, new keys insert, rest carries") {
    val dir = tmpDir("merge")
    CdcTable.append(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("_id2", "_id", "v").withColumnRenamed("_id2", "k"), dir)
    CdcTable.append(Seq((5L, "e", 50L))
      .toDF("k", "_id", "v"), dir)
    val before = CdcTable.log(dir).flatMap(_.files).toSet
    // source updates k=2 and inserts k=9; file holding k=5 untouched
    val source = Seq((2L, "b", 999L), (9L, "i", 90L))
      .toDF("k", "_id", "v")
    val r = CdcTable.merge(spark, dir, source, keys = Seq("k"))
    assert(r.rowsDeleted == 1L, s"one key matched: $r") // rows matched
    val after = CdcTable.log(dir).last.files.toSet
    assert(before.intersect(after).nonEmpty,
      "the untouched file must carry by reference")
    val rows = CdcTable.read(spark, dir)
      .select("k", "v").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, 10L), (2L, 999L), (5L, 50L), (9L, 90L)),
      s"got $rows")
  }

  test("merge with schema evolution widens the table; without it rejects") {
    val dir = tmpDir("mergeevolve")
    CdcTable.append(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("k", "_id", "v"), dir)
    val source = Seq((2L, "b", 999L, "hot"), (9L, "i", 90L, "cold"))
      .toDF("k", "_id", "v", "tag")
    // default: a new source column is an error, not silent data loss
    intercept[IllegalArgumentException] {
      CdcTable.merge(spark, dir, source, keys = Seq("k"))
    }
    val sv0 = CdcTable.log(dir).last.schemaVersion
    val r = CdcTable.merge(spark, dir, source, keys = Seq("k"),
      evolveSchema = true)
    assert(r.rowsDeleted == 1L)
    assert(CdcTable.log(dir).last.schemaVersion == sv0 + 1,
      "widening opens a new schema generation")
    val rows = CdcTable.read(spark, dir)
      .select("k", "v", "tag").as[(Long, Long, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, 10L, None), (2L, 999L, Some("hot")),
      (9L, 90L, Some("cold"))), s"got $rows")
  }

  test("GRAFT MERGE FROM a parquet source runs from SQL") {
    val dir = tmpDir("mergesql")
    val srcDir = tmpDir("mergesrc")
    CdcTable.append(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("k", "_id", "v"), dir)
    Seq((2L, "b", 999L), (9L, "i", 90L)).toDF("k", "_id", "v")
      .write.mode("overwrite").parquet(srcDir)
    val out = spark.sql(s"GRAFT MERGE '$dir' FROM '$srcDir' ON k")
      .as[(Long, Long, Long, Long)].head()
    assert(out._1 == 1L, s"one key matched: $out")
    val rows = CdcTable.read(spark, dir)
      .select("k", "v").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, 10L), (2L, 999L), (9L, 90L)), s"got $rows")
    // EVOLVE widens via SQL too
    Seq((7L, "g", 70L, "new")).toDF("k", "_id", "v", "extra")
      .write.mode("overwrite").parquet(srcDir)
    spark.sql(s"GRAFT MERGE '$dir' FROM '$srcDir' ON k EVOLVE").collect()
    assert(CdcTable.read(spark, dir).columns.contains("extra"))
  }

  test("delete racing appends never loses a row (optimistic concurrency)") {
    val dir = tmpDir("dmlrace")
    CdcTable.append(Seq((0L, "seed")).toDF("x", "_id"), dir)
    val n = 12
    val appender = new Thread(() =>
      (1 to n).foreach { i =>
        CdcTable.append(Seq((i.toLong, s"r$i")).toDF("x", "_id"), dir)
      })
    appender.start()
    // deletes race the appends: each either commits against the
    // snapshot it read, or detects the moved log and retries — rows
    // appended meanwhile must NEVER vanish
    var cmeSeen = false
    while (appender.isAlive) {
      try { CdcTable.delete(spark, dir, "x % 2 = 0 AND x > 0"); () }
      catch {
        case _: java.util.ConcurrentModificationException =>
          cmeSeen = true
      }
    }
    appender.join()
    CdcTable.delete(spark, dir, "x % 2 = 0 AND x > 0") // final sweep
    val rows = CdcTable.read(spark, dir)
      .select("x").as[Long].collect().sorted.toSeq
    assert(rows == (0L +: (1 to n).filter(_ % 2 == 1).map(_.toLong)),
      s"odd rows + seed must all survive, evens all deleted: $rows " +
        s"(CME seen during race: $cmeSeen)")
  }

  test("deleteKeys racing appends never loses a row") {
    val dir = tmpDir("delkeysrace")
    CdcTable.append(Seq((0L, "seed")).toDF("x", "_id"), dir)
    val n = 12
    val appender = new Thread(() =>
      (1 to n).foreach { i =>
        CdcTable.append(Seq((i.toLong, s"r$i")).toDF("x", "_id"), dir)
      })
    appender.start()
    // keyed deletes race the appends: same optimistic-concurrency
    // contract as the predicate delete — commit against the snapshot
    // read, or detect the moved log and give the caller the retry
    val evens = (2 to n by 2).map(_.toLong)
    var cmeSeen = false
    while (appender.isAlive) {
      try { CdcTable.deleteKeys(spark, dir, evens.toDF("x"), Seq("x")); () }
      catch {
        case _: java.util.ConcurrentModificationException =>
          cmeSeen = true
      }
    }
    appender.join()
    CdcTable.deleteKeys(spark, dir, evens.toDF("x"), Seq("x"))
    val rows = CdcTable.read(spark, dir)
      .select("x").as[Long].collect().sorted.toSeq
    assert(rows == (0L +: (1 to n).filter(_ % 2 == 1).map(_.toLong)),
      s"odd rows + seed survive, even keys all deleted: $rows " +
        s"(CME seen during race: $cmeSeen)")
  }

  test("vacuum after delete reclaims superseded files; stale travel raises") {
    val dir = tmpDir("delvac")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id"), dir)
    val preDelete = CdcTable.log(dir).last.commit
    CdcTable.delete(spark, dir, "x = 1")
    // pre-delete snapshot is still travelable before vacuum
    assert(CdcTable.readAsOf(spark, dir,
      commitAsOf = Some(preDelete)).count() == 2)
    val reclaimed = CdcTable.vacuumOrphans(dir, retainMillis = 0L)
    assert(reclaimed.nonEmpty,
      "the delete's rewritten-away file must become reclaimable")
    // current state unaffected; stale travel must fail LOUDLY rather
    // than silently returning partial data
    assert(CdcTable.read(spark, dir).count() == 1)
    intercept[Exception] {
      CdcTable.readAsOf(spark, dir,
        commitAsOf = Some(preDelete)).count()
    }
  }

  test("appends before a delete survive it; deletes compose") {
    val dir = tmpDir("delseq")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id"), dir)
    CdcTable.append(Seq((9L, "z")).toDF("x", "_id"), dir)
    val r1 = CdcTable.delete(spark, dir, "x = 1")
    assert(r1.rowsDeleted == 1L)
    assert(CdcTable.read(spark, dir).select("x").as[Long]
      .collect().sorted.toSeq == Seq(2L, 9L))
    // a second delete over the post-delete state composes cleanly
    val r2 = CdcTable.delete(spark, dir, "x = 9")
    assert(r2.rowsDeleted == 1L)
    assert(CdcTable.read(spark, dir).select("x").as[Long]
      .collect().toSeq == Seq(2L))
  }

  test("DELETE on an evolution-added column matching only old-gen files") {
    val dir = tmpDir("delnewcol")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id"), dir)
    CdcTable.append(Seq((3L, "c", 30L)).toDF("x", "_id", "y"), dir)
    // only gen-1 rows match, so the rewrite set is the gen-1 commit
    // alone — whose own schema lacks y. The predicate must resolve
    // against the CURRENT table schema, not the subset's.
    val r = CdcTable.delete(spark, dir, "y IS NULL AND x = 1")
    assert(r.rowsDeleted == 1L)
    val rows = CdcTable.read(spark, dir)
      .select("x").as[Long].collect().sorted.toSeq
    assert(rows == Seq(2L, 3L), s"got $rows")
  }

  test("UPDATE assigning an evolution-added column over old-gen rows") {
    val dir = tmpDir("updnewcol")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    CdcTable.append(Seq((2L, "b", 20L)).toDF("x", "_id", "y"), dir)
    val r = CdcTable.update(spark, dir, "y IS NULL", Seq("y" -> "0"))
    assert(r.rowsDeleted == 1L)
    val rows = CdcTable.read(spark, dir)
      .select("x", "y").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, 0L), (2L, 20L)), s"got $rows")
  }

  test("merge keyed on an evolution-added column, old generation untouched by keys") {
    val dir = tmpDir("mergenewkey")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    CdcTable.append(Seq((2L, "b", 10L)).toDF("x", "_id", "k"), dir)
    // insert-only source: no gen-2 file holds a matched key, but the
    // gen-1 file still rewrites (generation compaction) and the key
    // anti-join must resolve k on it via the current schema
    val src = Seq((9L, "i", 99L)).toDF("x", "_id", "k")
    val r = CdcTable.merge(spark, dir, src, keys = Seq("k"))
    assert(r.rowsDeleted == 0L, s"insert-only: $r")
    val rows = CdcTable.read(spark, dir)
      .select("x", "k").as[(Long, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, None), (2L, Some(10L)), (9L, Some(99L))),
      s"got $rows")
  }

  test("UPDATE SET resolves names case-insensitively, rejects duplicates") {
    val dir = tmpDir("updcase")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    val r = CdcTable.update(spark, dir, "x = 1", Seq("X" -> "41 + 1"))
    assert(r.rowsDeleted == 1L)
    assert(CdcTable.read(spark, dir).select("x").as[Long].head() == 42L)
    assert(CdcTable.read(spark, dir).schema.fieldNames.toSeq ==
      Seq("x", "_id"), "canonical spelling kept — no extra X column")
    intercept[IllegalArgumentException] {
      CdcTable.update(spark, dir, "x = 42",
        Seq("x" -> "1", "X" -> "2"))
    }
  }

  test("GRAFT UPDATE honors backslash-escaped quotes in literals") {
    val dir = tmpDir("updbs")
    CdcTable.append(Seq((1L, "a", "old"), (2L, "b", "old"))
      .toDF("x", "_id", "note"), dir)
    // the literal holds \', a comma, and an unbalanced '(' — none may
    // split the assignment list or leak into WHERE detection
    val out = spark.sql(s"GRAFT UPDATE '$dir' " +
      "SET note = 'don\\'t, split (here', x = x + 1 WHERE _id = 'a'")
      .as[(Long, Long, Long, Long)].head()
    assert(out._1 == 1L, s"one row matches: $out")
    val rows = CdcTable.read(spark, dir)
      .select("_id", "x", "note").as[(String, Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq(("a", 2L, "don't, split (here"),
      ("b", 2L, "old")), s"got $rows")
  }
}
