package graft.sources

import graft.SparkSpec
import graft.sink.CdcTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.sources.EqualTo

/** The `graft` DataSource format: SQL/DataFrameReader surface over the
  * CdcTable manifest log — reads, time travel options, manifest-level
  * partition pruning from pushed filters, and the write/INSERT path. */
class GraftSourceSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def seed(dir: String): Unit =
    CdcTable.append(Seq(
      (1L, "a", "2026-08-10"), (2L, "b", "2026-08-10"),
      (3L, "c", "2026-08-11"), (4L, "d", "2026-08-11"))
      .toDF("x", "_id", "_ingestion_date"), dir)

  test("format('graft') reads the current state and time travels") {
    val dir = tmpDir("gsrc")
    seed(dir)
    CdcTable.append(Seq((5L, "e", "2026-08-12"))
      .toDF("x", "_id", "_ingestion_date"), dir)
    val df = spark.read.format("graft").load(dir)
    assert(df.count() == 5)
    assert(df.schema.fieldNames.toSet ==
      Set("x", "_id", "_ingestion_date"))
    assert(spark.read.format("graft").option("commitAsOf", "1")
      .load(dir).count() == 4)
    // appends can share a millisecond: expect the rows of exactly the
    // commits at or before the first commit's ts
    val log = CdcTable.log(dir)
    val ts1 = log.head.ts
    val expected = if (log.last.ts <= ts1) 5L else 4L
    assert(spark.read.format("graft")
      .option("timestampAsOf", ts1.toString).load(dir)
      .count() == expected)
  }

  test("readChangeFeed: batch CDF read through the format") {
    val dir = tmpDir("gsrc_cdf")
    CdcTable.append(Seq((1L, "a"), (2L, "b")).toDF("x", "_id"), dir)
    CdcTable.delete(spark, dir, "x = 1")
    val feed = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingCommit", "1")
      .load(dir)
      .select($"_id", $"x", $"_change_type", $"_commit")
      .as[(String, Long, String, Long)].collect().toSet
    assert(feed == Set(
      ("a", 1L, "insert", 1L), ("b", 2L, "insert", 1L),
      ("a", 1L, "delete", 2L)))
    // inclusive bounds: only the DML commit
    val dml = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingCommit", "2").option("endingCommit", "2")
      .load(dir)
      .select($"_change_type").as[String].collect().toSeq
    assert(dml == Seq("delete"))
  }

  test("pushed partition filters prune files at the manifest") {
    val dir = tmpDir("gsrcprune")
    seed(dir)
    val pruned = spark.read.format("graft").load(dir)
      .filter(col("_ingestion_date") === "2026-08-11")
    assert(pruned.count() == 2)
    // pruning happened at planning: only that partition's files are
    // in the scan at all
    val scanned = pruned.select(input_file_name()).distinct()
      .as[String].collect()
    assert(scanned.nonEmpty &&
      scanned.forall(_.contains("_ingestion_date=2026-08-11")),
      scanned.mkString(", "))
    // range prune on the ISO date string
    val ranged = spark.read.format("graft").load(dir)
      .filter(col("_ingestion_date") >= "2026-08-11")
    assert(ranged.count() == 2)
  }

  test("SQL surface: CREATE TABLE USING graft, INSERT INTO") {
    val dir = tmpDir("gsrcsql")
    seed(dir)
    spark.sql("DROP TABLE IF EXISTS gsrc_t")
    spark.sql(s"CREATE TABLE gsrc_t USING graft OPTIONS (path '$dir')")
    try {
      assert(spark.sql("SELECT count(*) FROM gsrc_t").head().getLong(0)
        == 4)
      spark.sql("INSERT INTO gsrc_t VALUES " +
        "(9, 'z', '2026-08-12')")
      assert(spark.sql("SELECT count(*) FROM gsrc_t").head().getLong(0)
        == 5)
      assert(CdcTable.read(spark, dir).count() == 5)
    } finally spark.sql("DROP TABLE IF EXISTS gsrc_t")
  }

  test("format read spans schema generations under the merged schema") {
    val dir = tmpDir("gsrcgen")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    // widened batch opens generation 2; the format read union-casts
    CdcTable.append(Seq((2L, "b", 1.5)).toDF("x", "_id", "w"), dir)
    val df = spark.read.format("graft").load(dir)
    assert(df.columns.toSet == Set("x", "_id", "w"))
    assert(df.count() == 2)
    assert(df.filter(col("_id") === "a")
      .select("w").as[Option[Double]].head().isEmpty)
    assert(df.filter(col("w") === 1.5).count() == 1)
  }

  test("stateView resolves latest-per-key AFTER which filters apply") {
    val dir = tmpDir("gsrcstate")
    // CDC event log: i1 created then updated; i2 created then deleted
    CdcTable.append(Seq(
      ("i1", 1L, "c", java.sql.Timestamp.valueOf("2026-08-10 00:00:00")),
      ("i2", 5L, "c", java.sql.Timestamp.valueOf("2026-08-10 00:00:01")))
      .toDF("_id", "x", "_cdc_operation", "_cdc_timestamp"), dir)
    CdcTable.append(Seq(
      ("i1", 9L, "u", java.sql.Timestamp.valueOf("2026-08-11 00:00:00")),
      ("i2", 5L, "delete",
        java.sql.Timestamp.valueOf("2026-08-11 00:00:01")))
      .toDF("_id", "x", "_cdc_operation", "_cdc_timestamp"), dir)
    val state = spark.read.format("graft")
      .option("stateView", "true").load(dir)
    assert(state.select("_id", "x").as[(String, Long)].collect()
      .toSeq == Seq(("i1", 9L)))
    // a filter matching only the SUPERSEDED event must return nothing
    // (filters apply above the resolution, never below it)
    assert(state.filter(col("x") === 1L).count() == 0)
    // raw log view unchanged
    assert(spark.read.format("graft").load(dir).count() == 4)
  }

  test("metaTable=history/files expose the manifest as DataFrames") {
    val dir = tmpDir("gmeta")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id").coalesce(1), dir)
    CdcTable.append(Seq((2L, "b")).toDF("x", "_id").coalesce(1), dir)
    val hist = spark.read.format("graft")
      .option("metaTable", "history").load(dir)
    assert(hist.columns.toSeq == Seq("commit", "commit_ts", "action",
      "schema_version", "n_files", "is_stub"))
    assert(hist.count() == 2)
    assert(hist.select("action").distinct().as[String].head() == "append")
    val files = spark.read.format("graft")
      .option("metaTable", "files").load(dir)
    assert(files.count() == 2, "one live file per append")
    assert(files.select("n_stats_cols").as[Int].collect()
      .forall(_ > 0), "footer stats recorded per file")
    // a replace supersedes earlier files in the live view
    CdcTable.replaceWith(dir,
      CdcTable.read(spark, dir).coalesce(1))
    val after = spark.read.format("graft")
      .option("metaTable", "files").load(dir)
    assert(after.count() == 1, "only the replace's file is live")
    assert(spark.read.format("graft").option("metaTable", "history")
      .load(dir).count() == 3)
    // SQL route works too
    spark.sql(s"CREATE TABLE gmeta_h USING graft " +
      s"OPTIONS (path '$dir', metaTable 'history')")
    try assert(spark.sql("SELECT COUNT(*) FROM gmeta_h")
      .collect()(0).getLong(0) == 3)
    finally spark.sql("DROP TABLE gmeta_h")
    intercept[Exception] {
      spark.read.format("graft").option("metaTable", "nope")
        .load(dir).collect()
    }
  }

  test("write surface: append / overwrite / errorIfExists modes") {
    val dir = tmpDir("gsrcwrite")
    val df = Seq((1L, "a", "2026-08-10"))
      .toDF("x", "_id", "_ingestion_date")
    df.write.format("graft").mode("append").save(dir)
    df.write.format("graft").mode("append").save(dir)
    assert(spark.read.format("graft").load(dir).count() == 2)
    intercept[Exception] {
      df.write.format("graft").mode("errorifexists").save(dir)
    }
    // overwrite = atomic replace manifest; history stays travelable
    Seq((7L, "q", "2026-08-12")).toDF("x", "_id", "_ingestion_date")
      .write.format("graft").mode("overwrite").save(dir)
    val after = spark.read.format("graft").load(dir)
    assert(after.count() == 1 &&
      after.select("x").as[Long].head() == 7L)
    assert(spark.read.format("graft").option("commitAsOf", "2")
      .load(dir).count() == 2)
  }

  test("format reads execute as Spark's columnar parquet FileScan") {
    val dir = tmpDir("gsrcplan")
    val t = java.sql.Timestamp.valueOf("2026-08-10 00:00:00")
    Seq(Seq((1L, "a", "c"), (2L, "b", "c")), Seq((3L, "a", "u")))
      .foreach(rows => CdcTable.append(rows.map { case (x, id, op) =>
        (x, id, op, t, "2026-08-10") }.toDF("x", "_id", "_cdc_operation",
          "_cdc_timestamp", "_ingestion_date"), dir))
    val ts1 = CdcTable.log(dir).head.ts
    def read(opts: (String, String)*): DataFrame =
      spark.read.format("graft").options(opts.toMap).load(dir)
    Seq(
      "current state" -> read(),
      "commitAsOf" -> read("commitAsOf" -> "1"),
      "timestampAsOf" -> read("timestampAsOf" -> ts1.toString),
      "readChangeFeed" -> read("readChangeFeed" -> "true",
        "startingCommit" -> "1"),
      "stateView" -> read("stateView" -> "true")
    ).foreach { case (what, df) =>
      val q = df.filter(col("x") > 1L)
      assert(q.count() > 0, what)
      val plan = q.queryExecution.executedPlan
      val scans = collect(plan) { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
        s"$what: no columnar FileScan in\n$plan")
      assert(collect(plan) { case s: RowDataSourceScanExec => s }.isEmpty,
        s"$what: row-based V1 scan in\n$plan")
    }
  }

  /** Four appends whose keys interleave (min/max stats prune nothing)
    * with disjoint per-append key sets and blooms on `k`. */
  private def bloomTable(dir: String): Unit =
    (0 until 4).foreach { b =>
      CdcTable.append(
        (0 until 50).map(i => (b + 4L * i, s"v$b-$i")).toDF("k", "s")
          .coalesce(1),
        dir, partitionBy = Nil, bloomCols = Seq("k"))
    }

  test("pruning survives a projection above the filter and a join") {
    val dir = tmpDir("gsrcshape")
    bloomTable(dir)
    val rel = GraftRelation(spark.sqlContext, dir, None, None)
    val expected = rel.prunedRead(Seq(EqualTo("k", 6L))).inputFiles.toSeq
    assert(expected.length < rel.prunedRead(Nil).inputFiles.length)
    val graft = spark.read.format("graft").load(dir)
    // q150's shape: ColumnPruning puts a Project between filter and scan
    val projected = graft.filter(col("k") === 6L).select("k", "s")
    assert(projected.as[(Long, String)].collect().toSeq ==
      Seq((6L, "v2-1")))
    assert(projected.inputFiles.toSeq == expected)
    // the filter sits above a join; it still reaches the graft side
    val tags = Seq((6L, "six"), (7L, "seven")).toDF("tk", "tag")
    val joined = graft.join(tags, graft("k") === tags("tk"))
      .filter(graft("k") === 6L).select("s", "tag")
    assert(joined.as[(String, String)].collect().toSeq ==
      Seq(("v2-1", "six")))
    assert(joined.inputFiles.toSeq == expected)
  }

  test("a session without GraftExtensions fails naming the extension") {
    val dir = tmpDir("gsrcnoext")
    seed(dir)
    Seq(GraftRelation(spark.sqlContext, dir, None, None),
      GraftChangesRelation(spark.sqlContext, dir, 1L, None),
      GraftMetaRelation(spark.sqlContext, dir, "history")).foreach { r =>
      val e = intercept[IllegalStateException](r.buildScan())
      assert(e.getMessage.contains("graft.GraftExtensions"), e.getMessage)
    }
  }
}
