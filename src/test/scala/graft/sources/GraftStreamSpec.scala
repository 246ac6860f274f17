package graft.sources

import graft.SparkSpec
import graft.sink.CdcTable
import org.apache.spark.sql.DataFrame

/** The graft streaming source: a CdcTable tailed as a change-feed
  * stream with commit-id offsets — exactly-once across restarts via
  * the streaming checkpoint, no re-emission on compaction. */
class GraftStreamSpec extends SparkSpec {
  import spark.implicits._

  test("readStream tails commits, survives restart, skips compaction") {
    val dir = tmpDir("gstream")
    val ckpt = tmpDir("gstreamck")
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id"), dir)
    CdcTable.append(Seq((2L, "b")).toDF("x", "_id"), dir)

    val received = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    def start() = {
      val stream = spark.readStream.format("graft").load(dir)
      assert(stream.isStreaming)
      assert(stream.schema.fieldNames.toSet ==
        Set("x", "_id", "_change_type", "_commit", "_commit_ts"))
      stream.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.select("_id", "_commit").as[(String, Long)]
            .collect()
          received.synchronized { received ++= rows }
          ()
        }.start()
    }

    val q = start()
    try {
      q.processAllAvailable()
      assert(received.sorted.toSeq == Seq(("a", 1L), ("b", 2L)))
      // new commits arrive incrementally
      CdcTable.append(Seq((3L, "c")).toDF("x", "_id"), dir)
      q.processAllAvailable()
      assert(received.size == 3 && received.contains(("c", 3L)))
      // compaction is a physical rewrite: nothing re-enters the stream
      CdcTable.replaceWith(spark, dir,
        CdcTable.read(spark, dir).coalesce(1))
      q.processAllAvailable()
      assert(received.size == 3)
      // DML is CDF-visible (Delta CDF parity, round 16): the DELETE
      // emits its victim as a `delete` change row — downstream
      // incremental consumers stay consistent under
      // right-to-be-forgotten deletes instead of silently missing them
      CdcTable.delete(spark, dir, "x = 2")
      q.processAllAvailable()
      assert(received.size == 4 && received.contains(("b", 5L)),
        s"the DELETE must emit a delete change row, got $received")
    } finally q.stop()

    // restart from the checkpoint: resumes at the cursor, no replays
    CdcTable.append(Seq((4L, "d")).toDF("x", "_id"), dir)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(received.sorted.toSeq == Seq(
        ("a", 1L), ("b", 2L), ("b", 5L), ("c", 3L), ("d", 6L)))
    } finally q2.stop()
  }

  test("maxCommitsPerTrigger paces the backlog without loss or replay") {
    val dir = tmpDir("gpaced")
    val ckpt = tmpDir("gpacedck")
    (1 to 5).foreach { i =>
      CdcTable.append(Seq((i.toLong, s"r$i")).toDF("x", "_id"), dir)
    }
    // (batchId → commit ids) per micro-batch
    val batches =
      scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]()
    def start() = spark.readStream.format("graft")
      .option("maxCommitsPerTrigger", "2").load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val cs = b.select("_commit").as[Long].collect().toSeq
        batches.synchronized { batches += ((id, cs)); () }
      }.start()
    val q = start()
    try {
      q.processAllAvailable()
      val seen = batches.flatMap(_._2).sorted.toSeq
      assert(seen == (1L to 5L), s"every commit exactly once: $seen")
      assert(batches.forall(_._2.distinct.size <= 2),
        s"no batch may exceed the cap: $batches")
      assert(batches.count(_._2.nonEmpty) >= 3,
        s"a 5-commit backlog at cap 2 needs >= 3 batches: $batches")
    } finally q.stop()
    // restart with new commits: pacing resumes past the checkpoint —
    // the cursor must re-seat forward, never re-emit history
    (6 to 9).foreach { i =>
      CdcTable.append(Seq((i.toLong, s"r$i")).toDF("x", "_id"), dir)
    }
    val q2 = start()
    try {
      q2.processAllAvailable()
      val seen = batches.flatMap(_._2).sorted.toSeq
      assert(seen == (1L to 9L), s"no replay, no loss: $seen")
      assert(batches.forall(_._2.distinct.size <= 2), batches.toString)
    } finally q2.stop()
  }

  test("Trigger.AvailableNow drains the capped backlog up to the start head") {
    val dir = tmpDir("gavail")
    val ckpt = tmpDir("gavailck")
    (1 to 3).foreach { i =>
      CdcTable.append(Seq((i.toLong, s"r$i")).toDF("x", "_id"), dir)
    }
    val batches =
      scala.collection.mutable.ArrayBuffer[Seq[(String, Long)]]()
    val q = spark.readStream.format("graft")
      .option("maxCommitsPerTrigger", "1").load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.select("_id", "_commit").as[(String, Long)]
          .collect().toSeq
        val first = batches.synchronized { batches += rows; batches.size == 1 }
        // a commit made after the run started: past its recorded head
        if (first) CdcTable.append(Seq((4L, "r4")).toDF("x", "_id"), dir)
        ()
      }.start()
    try {
      assert(q.awaitTermination(120000L), "AvailableNow must terminate")
      val seen = batches.flatten.sorted.toSeq
      assert(seen == Seq(("r1", 1L), ("r2", 2L), ("r3", 3L)),
        s"every start-time row exactly once, nothing later: $seen")
      assert(batches.count(_.nonEmpty) >= 3,
        s"cap 1 over 3 commits needs >= 3 batches: $batches")
    } finally q.stop()
  }

  test("maxFilesPerTrigger adapts pacing to commit SIZE, not count") {
    val dir = tmpDir("gfpaced")
    val ckpt = tmpDir("gfpacedck")
    // small, small, BIG (8 files), small — a commit cap of 2 would
    // serve the big commit bundled with a sibling; a FILE budget of 8
    // must give it a trigger of its own
    CdcTable.append(Seq((1L, "a")).toDF("x", "_id").coalesce(1), dir)
    CdcTable.append(Seq((2L, "b")).toDF("x", "_id").coalesce(1), dir)
    CdcTable.append((10L to 17L).map(i => (i, s"k$i"))
      .toDF("x", "_id").repartition(8), dir)
    CdcTable.append(Seq((3L, "c")).toDF("x", "_id").coalesce(1), dir)
    // budget = the big commit's own file count: the two 1-file
    // commits leave budget n3-2 < n3, so the big commit cannot bundle
    val n3 = CdcTable.log(dir)(2).files.size
    assert(n3 >= 3, s"big commit needs >= 3 files, got $n3")
    val batches =
      scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val q = spark.readStream.format("graft")
      .option("maxFilesPerTrigger", n3.toString).load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val cs = b.select("_commit").as[Long].collect().distinct.toSeq
        batches.synchronized { batches += cs; () }
      }.start()
    try {
      q.processAllAvailable()
      val seen = batches.flatten.sorted
      assert(seen == Seq(1L, 2L, 3L, 4L), s"exactly once: $seen")
      // the two 1-file commits fit one 8-file budget; the 8-file
      // commit exceeds the remainder and lands alone; commit 4 follows
      val nonEmpty = batches.filter(_.nonEmpty).map(_.sorted)
      assert(nonEmpty.exists(b => b == Seq(3L)),
        s"the big commit must get its own trigger: $nonEmpty")
      assert(!nonEmpty.exists(b => b.contains(3L) && b.size > 1),
        s"the big commit must not bundle: $nonEmpty")
    } finally q.stop()
  }

  test("maxFilesPerTrigger hydrates checkpoint stubs: backfill stays capped") {
    val dir = tmpDir("gfstub")
    val ckpt = tmpDir("gfstubck")
    // 9 appends + a replace + one more append crosses the checkpoint
    // interval: the pre-replace history condenses to file-less stubs,
    // which the budget must HYDRATE (counting them 0 would admit the
    // whole backfill in one trigger)
    (1 to 9).foreach(i => CdcTable.append(
      Seq((i.toLong, s"r$i")).toDF("x", "_id").coalesce(1), dir))
    CdcTable.replaceWith(spark, dir,
      CdcTable.read(spark, dir).coalesce(1))
    CdcTable.append(Seq((10L, "r10")).toDF("x", "_id").coalesce(1), dir)
    assert(CdcTable.log(dir).exists(_.stub),
      "precondition: the log must serve condensed stubs")
    val batches =
      scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val q = spark.readStream.format("graft")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val cs = b.select("_commit").as[Long].collect().distinct.toSeq
        batches.synchronized { batches += cs; () }
      }.start()
    try {
      q.processAllAvailable()
      val nonEmpty = batches.filter(_.nonEmpty)
      assert(nonEmpty.forall(_.size == 1),
        s"cap 1 must admit one data-bearing commit per trigger: " +
          s"$nonEmpty")
      assert(nonEmpty.flatten.sorted == ((1L to 9L) :+ 11L),
        s"every append exactly once, compaction silent: " +
          s"${nonEmpty.flatten.sorted}")
    } finally q.stop()
  }

  test("graft sink refuses to start without a query-unique txn id") {
    val dir = tmpDir("gsinknockpt")
    // a per-table fallback id would let two queries dedup against
    // each other's batch ids — silent data loss, so: fail loudly
    val e = intercept[IllegalArgumentException] {
      new GraftSource().createSink(spark.sqlContext,
        Map("path" -> dir), Nil,
        org.apache.spark.sql.streaming.OutputMode.Append())
    }
    assert(e.getMessage.contains("checkpointLocation"))
    // an explicit txnAppId is accepted as the query-unique key
    new GraftSource().createSink(spark.sqlContext,
      Map("path" -> dir, "txnAppId" -> "q1"), Nil,
      org.apache.spark.sql.streaming.OutputMode.Append())
    ()
  }

  test("writeStream.format('graft') appends micro-batches exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val dir = tmpDir("gsink")
    val q = mem.toDF.toDF("x", "_id").writeStream.format("graft")
      .option("checkpointLocation", tmpDir("gsinkck")).start(dir)
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      assert(CdcTable.read(spark, dir).count() == 2)
      mem.addData((3L, "c"))
      q.processAllAvailable()
      assert(CdcTable.read(spark, dir).count() == 3)
      // each micro-batch committed a txn: batchId replays are no-ops
      assert(CdcTable.lastTxn(dir).exists(_._2 == 1L))
    } finally q.stop()
  }

  test("table-to-table streaming: graft source into graft sink") {
    import org.apache.spark.sql.functions.col
    val src = tmpDir("gpipesrc")
    val dst = tmpDir("gpipedst")
    CdcTable.append(Seq((1L, "a"), (5L, "b")).toDF("x", "_id"), src)
    val q = spark.readStream.format("graft").load(src)
      .filter(col("x") > 1)
      .select(col("x"), col("_id"), col("_commit"))
      .writeStream.format("graft")
      .option("checkpointLocation", tmpDir("gpipeck")).start(dst)
    try {
      q.processAllAvailable()
      assert(CdcTable.read(spark, dst).select("_id").as[String]
        .collect().toSeq == Seq("b"))
      CdcTable.append(Seq((9L, "c")).toDF("x", "_id"), src)
      q.processAllAvailable()
      assert(CdcTable.read(spark, dst).orderBy("x")
        .select("_id").as[String].collect().toSeq == Seq("b", "c"))
    } finally q.stop()
  }

  test("startingCommit=latest skips history") {
    val dir = tmpDir("gstreamlatest")
    CdcTable.append(Seq((1L, "old")).toDF("x", "_id"), dir)
    val received = scala.collection.mutable.ArrayBuffer[String]()
    val q = spark.readStream.format("graft")
      .option("startingCommit", "latest").load(dir)
      .writeStream.option("checkpointLocation", tmpDir("gslck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        received.synchronized {
          received ++= b.select("_id").as[String].collect() }
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(received.isEmpty, "history is skipped")
      CdcTable.append(Seq((2L, "new")).toDF("x", "_id"), dir)
      q.processAllAvailable()
      assert(received.toSeq == Seq("new"))
    } finally q.stop()
  }
}
