package graft.sqlext

import graft.SparkSpec
import graft.sink.CdcTable
import org.apache.spark.sql.functions.col

/** The injected SQL surface: GRAFT OPTIMIZE / VACUUM / HISTORY parse
  * and run; everything else still reaches Spark's parser untouched. */
class GraftSqlParserSpec extends SparkSpec {
  import spark.implicits._

  test("GRAFT OPTIMIZE rewrites as one clustered replace commit") {
    val dir = tmpDir("sqlopt")
    (0 until 3).foreach { i =>
      CdcTable.append((0 until 30).map(j => (i + 3L * j, s"r$i-$j"))
        .toDF("x", "_id").coalesce(1), dir, partitionBy = Nil)
    }
    val res = spark.sql(
      s"GRAFT OPTIMIZE '$dir' ZORDER BY (x) FILES 3")
      .as[(Int, Int, Long)].head()
    assert(res._1 == 3 && res._2 == 3 && res._3 == 4, res.toString)
    assert(CdcTable.read(spark, dir).count() == 90)
    // clustering bites: a range read scans one of the three files
    val scanned = spark.read.format("graft").load(dir)
      .filter(col("x") < 10L)
      .select(org.apache.spark.sql.functions.input_file_name())
      .distinct().count()
    assert(scanned == 1, s"z-ordered ranges must confine the scan: $scanned")
  }

  test("GRAFT HISTORY and VACUUM run from SQL") {
    val dir = tmpDir("sqlhist")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    CdcTable.append(Seq((2L, "b")).toDF("x", "_id"), dir)
    val hist = spark.sql(s"GRAFT HISTORY '$dir'")
    assert(hist.columns.toSeq == Seq("commit", "commit_ts", "action",
      "schema_version", "n_files", "n_rows", "n_changes", "n_dvs",
      "n_removed", "features"))
    assert(hist.count() == 2)
    // operation metrics ride the manifest: one row per append
    assert(hist.select("n_rows").as[Long].collect().toSeq ==
      Seq(1L, 1L))
    // nothing is old enough to vacuum with the default retention
    assert(spark.sql(s"GRAFT VACUUM '$dir'")
      .as[Int].head() == 0)
    // DESCRIBE DETAIL parity: structure + live footprint in one row
    val det = spark.sql(s"GRAFT DETAIL '$dir'")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(det._1 == 2 && det._4 >= 1 && det._5 > 0 && det._6 >= 1,
      s"commits/live_files/live_bytes/live_rows_est: $det")
    // a replace orphans the old files; sub-floor retention needs FORCE
    CdcTable.replaceWith(dir, CdcTable.read(spark, dir).coalesce(1))
    intercept[IllegalArgumentException] {
      spark.sql(s"GRAFT VACUUM '$dir' RETAIN 0 HOURS").collect()
    }
    val deleted = spark.sql(s"GRAFT VACUUM '$dir' RETAIN 0 HOURS FORCE")
      .as[Int].head()
    assert(deleted >= 2, s"superseded files must be reclaimed: $deleted")
    assert(CdcTable.read(spark, dir).count() == 2)
  }

  test("GRAFT PROFILE: one-pass per-column stats from SQL") {
    val dir = tmpDir("sqlprof")
    CdcTable.append(Seq((1L, "a", Some(10L)), (2L, "b", None),
      (3L, "a", Some(30L))).toDF("x", "s", "v"), dir)
    val all = spark.sql(s"GRAFT PROFILE '$dir'")
      .as[(String, Long, Long, Long, Option[String], Option[String])]
      .collect().map(r => r._1 -> r).toMap
    assert(all.keySet == Set("x", "s", "v"),
      "default = every atomic column")
    assert(all("x") == (("x", 3L, 0L, 3L, Some("1"), Some("3"))))
    assert(all("s") == (("s", 3L, 0L, 2L, Some("a"), Some("b"))))
    assert(all("v") == (("v", 3L, 1L, 2L, Some("10"), Some("30"))))
    // explicit column list + K; unknown columns rejected loudly
    val one = spark.sql(s"GRAFT PROFILE '$dir' COLUMNS s K 16")
      .as[(String, Long, Long, Long, Option[String], Option[String])]
      .collect()
    assert(one.map(_._1).toSeq == Seq("s"))
    val err = intercept[IllegalArgumentException] {
      spark.sql(s"GRAFT PROFILE '$dir' COLUMNS nope").collect()
    }
    assert(err.getMessage.contains("nope"))
  }

  test("GRAFT COMPACT collapses the log to current state from SQL") {
    val dir = tmpDir("sqlcompact")
    // CDC-shaped events: same _id twice, the later ts wins
    def ev(id: String, x: Long, ts: Long, op: String = "insert") =
      (id, x, ts, op)
    CdcTable.append(Seq(ev("a", 1L, 100L), ev("b", 2L, 100L))
      .toDF("_id", "x", "_cdc_timestamp", "_cdc_operation"), dir)
    CdcTable.append(Seq(ev("a", 9L, 200L, "update"))
      .toDF("_id", "x", "_cdc_timestamp", "_cdc_operation"), dir)
    val res = spark.sql(s"GRAFT COMPACT '$dir'")
      .as[(Long, Long)].head()
    assert(res._1 == 2L, s"two live keys after compaction: $res")
    val state = CdcTable.read(spark, dir)
      .select("_id", "x").as[(String, Long)].collect().toMap
    assert(state == Map("a" -> 9L, "b" -> 2L),
      "latest event per key wins")
    assert(CdcTable.log(dir).last.action == "replace")
  }

  test("GRAFT COMPACT INDEX folds a dedup index from SQL") {
    val idx = tmpDir("sqlcidx")
    // three incremental batches → three append commits
    for (b <- Seq(Seq((1L, "alpha beta")), Seq((2L, "alpha beta")),
        Seq((3L, "gamma delta")))) {
      graft.ext.Dedup.exactIncremental(
        b.toDF("doc_id", "text"), "text", "doc_id", idx)
    }
    assert(CdcTable.log(idx).length == 3)
    val res = spark.sql(s"GRAFT COMPACT INDEX '$idx'")
      .as[(Long, Long)].head()
    assert(res == ((3L, 2L)),
      s"3 commits folded to one row per fingerprint: $res")
    assert(CdcTable.log(idx).last.action == "replace")
    // annotations still resolve against the folded index
    val r = graft.ext.Dedup.exactIncremental(
      Seq((9L, "alpha beta")).toDF("doc_id", "text"),
      "text", "doc_id", idx)
      .select("keep_id").as[Long].head()
    assert(r == 1L, "historical winner survives the SQL fold")
    // the plain-table verb still works (INDEX is not shadowed)
    intercept[Exception] { spark.sql("GRAFT COMPACT INDEX") }
  }

  test("GRAFT REBAND INDEX migrates the band layout from SQL") {
    val idx = tmpDir("sqlreband")
    graft.ext.Dedup.nearIncremental(
      Seq((1L, "plenty of words to shingle across this text"),
        (2L, "unrelated other content forming its own doc"))
        .toDF("doc_id", "text"), "text", "doc_id", idx) // bands = 4
    val res = spark.sql(s"GRAFT REBAND INDEX '$idx' BANDS 2")
      .as[(Long, Long)].head()
    assert(res == ((2L, 4L)), s"2 docs x 2 bands after migration: $res")
    assert(graft.core.Fs.readString(s"$idx/_graft_index_meta")
      .exists(_.contains("bands=2")))
    // a non-divisor band count is rejected before touching anything
    intercept[IllegalArgumentException] {
      spark.sql(s"GRAFT REBAND INDEX '$idx' BANDS 3").collect()
    }
  }

  test("GRAFT RESTORE TO TIMESTAMP resolves by commit ts") {
    import graft.sink.CdcTable
    val dir = tmpDir("sqlrestts")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    val ts = CdcTable.log(dir).last.ts
    Thread.sleep(5)
    CdcTable.delete(spark, dir, "x = 1")
    spark.sql(s"GRAFT RESTORE '$dir' TO TIMESTAMP $ts").collect()
    assert(CdcTable.read(spark, dir).count() == 1)
    // malformed target keyword is rejected, not silently delegated
    intercept[Exception] {
      spark.sql(s"GRAFT RESTORE '$dir' TO VERSION 1").collect()
    }
  }

  test("non-graft SQL still parses through Spark") {
    assert(spark.sql("SELECT 1 + 1").as[Int].head() == 2)
    // a query merely MENTIONING graft is not intercepted
    assert(spark.sql("SELECT 'GRAFT OPTIMIZE' AS s").as[String]
      .head() == "GRAFT OPTIMIZE")
    intercept[Exception] { spark.sql("GRAFT FROBNICATE 'x'") }
  }
}
