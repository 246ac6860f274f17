package graft.ext

import graft.SparkSpec

/** One-pass profiling: cell-level contract on a frame with nulls and
  * duplicates, and the single-scan plan shape. */
class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("profile cells: counts, nulls, exact small distinct, min/max") {
    val df = Seq(
      (1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("a")),
      (5L, None)).toDF("id", "s").repartition(4)
    val got = Profile.profile(df, Seq("id", "s"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("id") == (("id", 5L, 0L, 5L, "1", "5")))
    assert(got("s") == (("s", 5L, 2L, 2L, "a", "b")))
  }

  test("incremental profile: batched ≡ full over mixed types, replay " +
      "is a no-op, fold leaves the served profile unchanged") {
    val rnd = new scala.util.Random(13)
    val rows = (1 to 900).map { i =>
      (i.toLong,
        if (i % 7 == 0) None else Some(s"s${rnd.nextInt(200)}"),
        rnd.nextInt(1000) / 8.0, // double slot
        Option.empty[String]) // all-null column
    }
    val df = rows.toDF("id", "s", "d", "z").repartition(8)
    val full = Profile.profile(df, Seq("id", "s", "d", "z"))
      .collect().map(_.toSeq).toSet
    val tbl = tmpDir("profinc")
    for (b <- 0 until 3)
      Profile.profileAppend(df.filter($"id" % 3 === b), tbl,
        Seq("id", "s", "d", "z"), txn = Some(("t", b.toLong)))
    // replayed batch: exactly-once markers make it a no-op
    Profile.profileAppend(df.filter($"id" % 3 === 1), tbl,
      Seq("id", "s", "d", "z"), txn = Some(("t", 1L)))
    def served() = Profile.profileRead(spark, tbl)
      .collect().map(_.toSeq).toSet
    assert(served() == full, "batched partials must merge to the " +
      "single-pass profile exactly")
    // SQL surface serves the same rows
    assert(spark.sql(s"GRAFT PROFILE INDEX '$tbl'")
      .collect().map(_.toSeq).toSet == full)
    // fold to one row per column; the served profile is invariant
    spark.sql(s"GRAFT COMPACT INDEX '$tbl'").collect()
    assert(graft.sink.CdcTable.read(spark, tbl).count() == 4L,
      "fold leaves one partial row per column")
    assert(served() == full, "fold must not change the profile")
    // post-fold appends keep merging
    val extra = Seq((1000L, Some("zzz"), 999.5, Some("only")))
      .toDF("id", "s", "d", "z")
    Profile.profileAppend(extra, tbl, Seq("id", "s", "d", "z"),
      txn = Some(("t", 9L)))
    val fullPlus = Profile.profile(df.unionByName(extra),
      Seq("id", "s", "d", "z")).collect().map(_.toSeq).toSet
    assert(served() == fullPlus, "appends after the fold must merge")
  }

  test("profileSync: live-table sync ≡ full profile, fresh sync is a " +
      "no-op, folds keep the high-water mark, non-append rejects") {
    import graft.sink.CdcTable
    val tbl = tmpDir("proftbl")
    val idx = tmpDir("profidx2")
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, s"v${i % 37}"))
        .toDF("id", "s")
    CdcTable.append(batch(0, 300), tbl, partitionBy = Nil)
    CdcTable.append(batch(300, 500), tbl, partitionBy = Nil)
    def synced() = spark.sql(
      s"GRAFT SYNC PROFILE '$idx' FROM '$tbl' COLUMNS id, s")
      .as[Int].head()
    assert(synced() == 2, "first sync folds both commits")
    def served() = spark.sql(s"GRAFT PROFILE INDEX '$idx'")
      .collect().map(_.toSeq).toSet
    def full() = Profile.profile(CdcTable.read(spark, tbl),
      Seq("id", "s")).collect().map(_.toSeq).toSet
    assert(served() == full())
    assert(synced() == 0, "fresh index syncs nothing")
    // new appends fold in incrementally; COMPACT keeps the mark
    CdcTable.append(batch(500, 650), tbl, partitionBy = Nil)
    assert(synced() == 1)
    spark.sql(s"GRAFT COMPACT INDEX '$idx'").collect()
    assert(served() == full())
    assert(synced() == 0, "the fold must not lose the high-water mark")
    // a delete on the table invalidates subtractless partials: loud
    CdcTable.delete(spark, tbl, "id = 7")
    val e = intercept[IllegalArgumentException] { synced() }
    assert(e.getMessage.contains("cannot subtract"))
    // mismatched column set rejects rather than undercounting
    val e2 = intercept[IllegalArgumentException] {
      Profile.profileSync(spark, tbl, idx, Seq("id"))
    }
    assert(e2.getMessage.contains("recreate"))
  }

  test("profileSync derives k from an existing index's sidecar — " +
      "non-default K never needs repeating") {
    import graft.sink.CdcTable
    val tbl = tmpDir("profktbl")
    val idx = tmpDir("profkidx")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), tbl,
      partitionBy = Nil)
    assert(Profile.profileSync(spark, tbl, idx, Seq("id", "s"),
      k = Some(64)) == 1)
    CdcTable.append(Seq((3L, "c")).toDF("id", "s"), tbl,
      partitionBy = Nil)
    // no k on the call — the stored k=64 is adopted
    assert(Profile.profileSync(spark, tbl, idx, Seq("id", "s")) == 1)
    // an EXPLICIT k contradicting the stored one rejects loudly
    // (even the creation default, 256 — explicit means explicit)
    val eK = intercept[IllegalArgumentException] {
      Profile.profileSync(spark, tbl, idx, Seq("id", "s"),
        k = Some(256))
    }
    assert(eK.getMessage.contains("explicitly asked k=256"),
      eK.getMessage)
    assert(Profile.profileRead(spark, idx)
      .collect().map(_.toSeq).toSet ==
      Profile.profile(CdcTable.read(spark, tbl), Seq("id", "s"),
        k = 64).collect().map(_.toSeq).toSet)
  }

  test("incremental profile guards: k mismatch, unsupported types, " +
      "dtype drift") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val tbl = tmpDir("profguard")
    Profile.profileAppend(df, tbl, Seq("id", "s"), k = 64)
    intercept[IllegalArgumentException] {
      Profile.profileAppend(df, tbl, Seq("id", "s"), k = 256)
    }
    // float columns have no mergeable string-stable min/max
    intercept[IllegalArgumentException] {
      Profile.profileAppend(Seq((1L, 1.5f)).toDF("id", "f"),
        tmpDir("proffloat"), Seq("f"))
    }
    // a column appended under a different type fails at read, loudly
    Profile.profileAppend(Seq(("x", 5L)).toDF("s", "extra")
      .select($"s", $"extra".as("id")), tbl, Seq("id", "s"), k = 64)
    Profile.profileAppend(Seq(("x", "now-a-string"))
      .toDF("s", "id"), tbl, Seq("id", "s"), k = 64)
    val e = intercept[Exception] {
      Profile.profileRead(spark, tbl).collect()
    }
    assert(e.getMessage.contains("multiple types") ||
      Option(e.getCause).exists(_.getMessage.contains("multiple types")),
      s"unexpected: ${e.getMessage}")
  }

  test("profileAppend pins the column set at creation — a mismatched " +
      "append rejects loudly instead of skewing the merged profile") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val tbl = tmpDir("profcols")
    Profile.profileAppend(df, tbl, Seq("id", "s"))
    // fewer columns: each skipped column's n_rows would undercount
    val e = intercept[IllegalArgumentException] {
      Profile.profileAppend(df, tbl, Seq("id"))
    }
    assert(e.getMessage.contains("pins columns"), e.getMessage)
    // different columns entirely
    intercept[IllegalArgumentException] {
      Profile.profileAppend(df.withColumnRenamed("s", "t"), tbl,
        Seq("id", "t"))
    }
    // same set, different order: fine (the profile is set-semantics)
    Profile.profileAppend(df, tbl, Seq("s", "id"))
  }

  test("profileSync high-water mark survives path re-spellings — no " +
      "double-fold via a trailing slash or relative spelling") {
    import graft.sink.CdcTable
    val tbl = tmpDir("profspell")
    val idx = tmpDir("profspellidx")
    CdcTable.append((1 to 100).map(i => (i.toLong, s"v$i"))
      .toDF("id", "s"), tbl, partitionBy = Nil)
    assert(Profile.profileSync(spark, tbl, idx, Seq("id", "s")) == 1)
    // same table through different spellings: the canonical appId
    // keeps the mark, so nothing re-folds and n_rows stays exact
    assert(Profile.profileSync(spark, s"$tbl/", idx,
      Seq("id", "s")) == 0)
    assert(Profile.profileSync(spark, s"$tbl/.", idx,
      Seq("id", "s")) == 0)
    val n = Profile.profileRead(spark, idx)
      .filter($"column" === "id").select($"n_rows").as[Long].head()
    assert(n == 100L, s"double-folded: n_rows = $n")
  }

  test("a sync reads the feed only up to the commit it marks — a " +
      "commit landing mid-sync folds once, in the next sync") {
    import graft.sink.CdcTable
    val tbl = tmpDir("profmid")
    val idx = tmpDir("profmididx")
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, s"v$i")).toDF("id", "s")
    CdcTable.append(batch(0, 10), tbl, partitionBy = Nil)
    val appId = s"profile@${CdcTable.canonicalDir(tbl)}"
    var marked = ("", 0L)
    var fed = Seq.empty[Long]
    val folded = CdcTable.syncFeed(spark, tbl, idx, appId) { u =>
      // a writer lands commit 2 between the log read and the feed read
      CdcTable.append(batch(10, 15), tbl, partitionBy = Nil)
      val feed = u.feed().drop("_commit", "_commit_ts", "_change_type")
      fed = feed.select($"id").as[Long].collect().toSeq.sorted
      marked = u.txn
      Profile.profileAppend(feed, idx, Seq("id", "s"), txn = Some(u.txn))
    }
    assert(folded == 1 && marked == ((appId, 1L)))
    assert(fed == (0L until 10L), s"the feed read past its mark: $fed")
    assert(Profile.profileSync(spark, tbl, idx, Seq("id", "s")) == 1,
      "the next sync folds the mid-sync commit")
    assert(Profile.profileSync(spark, tbl, idx, Seq("id", "s")) == 0)
    val n = Profile.profileRead(spark, idx)
      .filter($"column" === "id").select($"n_rows").as[Long].head()
    assert(n == CdcTable.read(spark, tbl).count(), s"n_rows = $n")
  }

  test("file-keyed profile: DML delete + sync ≡ recreate from current " +
      "state, time travel serves past snapshots, stale reads are loud") {
    import graft.sink.CdcTable
    val tbl = tmpDir("proffile")
    val idx = tmpDir("proffileidx")
    val cols = Seq("id", "s")
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, s"v${i % 37}")).toDF("id", "s")
    CdcTable.append(batch(0, 300), tbl, partitionBy = Nil)
    CdcTable.append(batch(300, 500), tbl, partitionBy = Nil)
    def full() = Profile.profile(CdcTable.read(spark, tbl), cols)
      .collect().map(_.toSeq).toSet
    def served(asOf: Option[Long] = None) =
      Profile.profileReadFiles(spark, idx, asOf)
        .collect().map(_.toSeq).toSet
    assert(Profile.profileSyncFiles(spark, tbl, idx, cols) > 0)
    assert(Profile.profileSyncFiles(spark, tbl, idx, cols) == 0,
      "fresh index re-syncs nothing")
    // an explicit k contradicting the stored width rejects loudly
    // instead of silently serving the stored one
    val eK = intercept[IllegalArgumentException] {
      Profile.profileSyncFiles(spark, tbl, idx, cols, k = Some(64))
    }
    assert(eK.getMessage.contains("explicitly asked k=64"),
      eK.getMessage)
    val preDelete = CdcTable.log(tbl).last.commit
    val fullPre = full()
    assert(served() == fullPre)
    // DML rewrites the touched files — the batch-keyed form rejects
    // this; the file-keyed form just re-syncs the fresh files
    CdcTable.delete(spark, tbl, "id % 10 < 3", partitionBy = Nil)
    val e = intercept[IllegalArgumentException] { served() }
    assert(e.getMessage.contains("profileSyncFiles"), e.getMessage)
    assert(Profile.profileSyncFiles(spark, tbl, idx, cols) > 0)
    assert(served() == full(),
      "post-DML profile must equal a full scan of the current state")
    // TIME TRAVEL: the pre-delete snapshot still serves (partials of
    // superseded files are retained; the manifest join selects them),
    // by commit id and by timestamp
    assert(served(Some(preDelete)) == fullPre,
      "pre-delete snapshot must profile from retained partials")
    val preTs = CdcTable.log(tbl)
      .find(_.commit == preDelete).map(_.ts)
    assert(Profile.profileReadFiles(spark, idx,
        timestampAsOf = preTs).collect().map(_.toSeq).toSet == fullPre,
      "timestampAsOf must serve the same snapshot")
    // SQL surface: BY FILE sync + the shared PROFILE INDEX entry point
    assert(spark.sql(s"GRAFT SYNC PROFILE '$idx' FROM '$tbl' " +
      "COLUMNS id, s BY FILE").as[Int].head() == 0)
    assert(spark.sql(s"GRAFT PROFILE INDEX '$idx'")
      .collect().map(_.toSeq).toSet == full())
    assert(spark.sql(s"GRAFT PROFILE INDEX '$idx' AT COMMIT $preDelete")
      .collect().map(_.toSeq).toSet == fullPre,
      "SQL time-travel profile must serve the snapshot")
    // COMPACT keeps per-file granularity: reads (current AND time
    // travel) are invariant under the fold
    spark.sql(s"GRAFT COMPACT INDEX '$idx'").collect()
    assert(served() == full())
    assert(served(Some(preDelete)) == fullPre)
    // cross-form guards: batch-keyed sync refuses a file-keyed index
    val e2 = intercept[Exception] {
      Profile.profileSyncFiles(spark, tbl,
        { val b = tmpDir("proffilebk")
          Profile.profileAppend(batch(0, 10), b, cols); b }, cols)
    }
    assert(e2.getMessage.contains("batch-keyed"), e2.getMessage)
  }

  test("file-keyed profile: float and decimal columns profile " +
      "exactly (native slot widths, rendered at the column's own " +
      "type); the batch-keyed form still rejects them") {
    import graft.sink.CdcTable
    val tbl = tmpDir("proftyped")
    val idx = tmpDir("proftypedidx")
    val df = Seq(
      (1L, 0.25f, BigDecimal("12.50")),
      (2L, -3.5f, BigDecimal("-0.75")),
      (3L, 10.125f, BigDecimal("999.00")))
      .toDF("id", "f", "dec")
      .select($"id", $"f", $"dec".cast("decimal(10,2)").as("dec"))
    CdcTable.append(df.filter($"id" < 3), tbl, partitionBy = Nil)
    CdcTable.append(df.filter($"id" === 3), tbl, partitionBy = Nil)
    val cols = Seq("id", "f", "dec")
    Profile.profileSyncFiles(spark, tbl, idx, cols)
    val got = Profile.profileReadFiles(spark, idx)
      .collect().map(r => r.getString(0) ->
        (r.getString(4), r.getString(5))).toMap
    assert(got("f") == (("-3.5", "10.125")), s"${got("f")}")
    assert(got("dec") == (("-0.75", "999.00")), s"${got("dec")}")
    // identical to the one-shot full-scan profile
    assert(Profile.profileReadFiles(spark, idx)
      .collect().map(_.toSeq).toSet ==
      Profile.profile(CdcTable.read(spark, tbl), cols)
        .collect().map(_.toSeq).toSet)
    // scale-0 decimals render with no fractional part
    val tbl0 = tmpDir("proftyped0")
    val idx0 = tmpDir("proftyped0idx")
    CdcTable.append(Seq((1L, BigDecimal(15)), (2L, BigDecimal(-4)))
      .toDF("id", "d0")
      .select($"id", $"d0".cast("decimal(6,0)").as("d0")),
      tbl0, partitionBy = Nil)
    Profile.profileSyncFiles(spark, tbl0, idx0, Seq("d0"))
    val g0 = Profile.profileReadFiles(spark, idx0).collect().head
    assert(g0.getString(4) == "-4" && g0.getString(5) == "15",
      s"${g0.toSeq}")
    // batch-keyed: float/decimal keep the loud reject
    val e = intercept[IllegalArgumentException] {
      Profile.profileAppend(df, tmpDir("proftypedbk"), Seq("f"))
    }
    assert(e.getMessage.contains("BY FILE"), e.getMessage)
    // a decimal too wide for the shared slot rejects loudly
    val e2 = intercept[IllegalArgumentException] {
      Profile.profileSyncFiles(spark,
        { val t = tmpDir("proftypedwide")
          CdcTable.append(Seq((1L, BigDecimal(1)))
            .toDF("id", "w")
            .select($"id", $"w".cast("decimal(38,0)").as("w")),
            t, partitionBy = Nil); t },
        tmpDir("proftypedwideidx"), Seq("w"))
    }
    assert(e2.getMessage.contains("does not fit"), e2.getMessage)
  }

  test("file-keyed profile sync cost: freshness is a manifest " +
      "high-water check (no index scan), and only NEW files land " +
      "driver-side on append") {
    import graft.sink.CdcTable
    val tbl = tmpDir("proffilehw")
    val idx = tmpDir("proffilehwidx")
    CdcTable.append((0 until 100).map(i => (i.toLong, s"v$i"))
      .toDF("id", "s").repartition(4), tbl, partitionBy = Nil)
    assert(Profile.profileSyncFiles(spark, tbl, idx,
      Seq("id", "s")) == 4)
    // the high-water marker landed with the partial append
    val appId = CdcTable.log(idx).flatMap(_.txn).map(_._1).distinct
    assert(appId.size == 1 && appId.head.startsWith("profilefiles@"),
      s"$appId")
    assert(CdcTable.log(idx).flatMap(_.txn).map(_._2).max ==
      CdcTable.log(tbl).last.commit)
    // fresh: zero work, zero marker movement
    assert(Profile.profileSyncFiles(spark, tbl, idx,
      Seq("id", "s")) == 0)
    // an append syncs exactly its own files, never the history
    CdcTable.append((100 until 110).map(i => (i.toLong, s"v$i"))
      .toDF("id", "s").coalesce(1), tbl, partitionBy = Nil)
    assert(Profile.profileSyncFiles(spark, tbl, idx,
      Seq("id", "s")) == 1)
    assert(Profile.profileReadFiles(spark, idx)
      .collect().map(_.toSeq).toSet ==
      Profile.profile(CdcTable.read(spark, tbl), Seq("id", "s"))
        .collect().map(_.toSeq).toSet)
    // a replace commit carries old files by reference: the anti-join
    // strips them, so the sync profiles ONLY the rewritten file(s)
    CdcTable.delete(spark, tbl, "id = 5", partitionBy = Nil)
    val n = Profile.profileSyncFiles(spark, tbl, idx, Seq("id", "s"))
    assert(n >= 1 && n <= 2, s"only the rewritten files re-profile: $n")
    assert(Profile.profileReadFiles(spark, idx)
      .collect().map(_.toSeq).toSet ==
      Profile.profile(CdcTable.read(spark, tbl), Seq("id", "s"))
        .collect().map(_.toSeq).toSet)
  }

  test("file-keyed profile: a rewrite emptying a file yields explicit " +
      "zero partials, not a coverage hole") {
    import graft.sink.CdcTable
    val tbl = tmpDir("proffilez")
    val idx = tmpDir("proffilezidx")
    // one file per append; the delete below empties batch 1 entirely
    CdcTable.append((0 until 50).map(i => (i.toLong, "a"))
      .toDF("id", "s").coalesce(1), tbl, partitionBy = Nil)
    CdcTable.append((50 until 100).map(i => (i.toLong, "b"))
      .toDF("id", "s").coalesce(1), tbl, partitionBy = Nil)
    Profile.profileSyncFiles(spark, tbl, idx, Seq("id", "s"))
    CdcTable.delete(spark, tbl, "id < 50", partitionBy = Nil)
    Profile.profileSyncFiles(spark, tbl, idx, Seq("id", "s"))
    val got = Profile.profileReadFiles(spark, idx)
      .collect().map(_.toSeq).toSet
    assert(got == Profile.profile(CdcTable.read(spark, tbl),
      Seq("id", "s")).collect().map(_.toSeq).toSet, s"$got")
  }

  test("profile is one aggregation: no join, no per-column scans") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val p = Profile.profile(docs,
        Seq("doc_id", "lang", "source"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "profiling must not join")
    assert(p.split("FileScan").length - 1 == 1,
      "all columns profile off ONE scan:\n" + p.take(600))
  }
}
