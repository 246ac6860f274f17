package graft.ingest

import graft.SparkSpec
import graft.sink.CdcTable
import graft.streaming.CdcIngest
import graft.query.CurrentState
import org.apache.spark.sql.functions._

/** End-to-end CDC batch path: canonical Debezium envelopes (reference
  * contract fixtures, FIXTURES.md §1) → decode → normalize → per-
  * collection table append → current-state view. */
class CdcPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def env(op: String, id: String, after: String, before: String,
      ts: Long, db: String = "testdb", coll: String = "users"): String = {
    val a = if (after == null) "null" else after
    val b = if (before == null) "null" else before
    s"""{"payload":{"_id":"$id","before":$b,"after":$a,"op":"$op",
       |"ts_ms":$ts,"source":{"version":"2.5.0.Final","connector":"mongodb",
       |"name":"mongodb","ts_ms":$ts,"snapshot":"false","db":"$db",
       |"rs":"rs0","collection":"$coll","ord":1}}}""".stripMargin
      .replace("\n", "")
  }

  private val t0 = System.currentTimeMillis() - 1000

  test("decode + classify + extract + metadata enrichment") {
    val raw = Seq(
      env("c", "a1", "\"{\\\"_id\\\":\\\"a1\\\",\\\"x\\\":1}\"", null, t0),
      env("u", "a1", "\"{\\\"_id\\\":\\\"a1\\\",\\\"x\\\":2}\"", null, t0 + 1),
      env("d", "a1", null, "\"{\\\"_id\\\":\\\"a1\\\"}\"", t0 + 2),
      "not json at all",
      env("zz", "a2", "\"{}\"", null, t0)
    ).toDF("value")
    val n = CdcNormalize(Envelope.decode(raw))
    val valid = n.valid.collect()
    assert(valid.length == 3)
    val ops = n.valid.select("_cdc_operation").as[String].collect().sorted
    assert(ops.toSeq == Seq("delete", "insert", "update"))
    val dlqReasons = n.dlq.select("_dlq_reason").as[String].collect().toSet
    assert(dlqReasons == Set(CdcNormalize.DlqReason.Corrupted,
      CdcNormalize.DlqReason.UnknownOp))
    // all 9 metadata columns present
    val meta = Seq("_cdc_timestamp", "_cdc_operation",
      "_ingestion_timestamp", "_kafka_offset", "_kafka_partition",
      "_kafka_topic", "_ingestion_date", "_source_database",
      "_source_collection")
    assert(meta.forall(n.valid.columns.contains))
  }

  test("stale events route to DLQ with stale_event reason") {
    val old = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    val raw = Seq(
      env("c", "s1", "\"{\\\"_id\\\":\\\"s1\\\"}\"", null, old),
      env("c", "s2", "\"{\\\"_id\\\":\\\"s2\\\"}\"", null, t0)
    ).toDF("value")
    val n = CdcNormalize(Envelope.decode(raw), staleDays = 7)
    assert(n.valid.count() == 1)
    assert(n.dlq.select("_dlq_reason").as[String].collect().toSeq ==
      Seq(CdcNormalize.DlqReason.Stale))
  }

  test("batch ingest: per-collection demux, doc expansion, current state") {
    val base = tmpDir("cdc")
    def doc(id: String, x: Int, name: String) =
      s"""\"{\\\"_id\\\":\\\"$id\\\",\\\"x\\\":$x,\\\"name\\\":\\\"$name\\\"}\""""
    val raw = Seq(
      env("c", "u1", doc("u1", 1, "ann"), null, t0),
      env("c", "u2", doc("u2", 2, "bob"), null, t0),
      env("u", "u1", doc("u1", 10, "ann2"), null, t0 + 5),
      env("d", "u2", null, "\"{\\\"_id\\\":\\\"u2\\\"}\"", t0 + 6),
      // delete with NO before doc: must fall back to a key-only doc
      env("d", "u3", null, null, t0 + 7),
      env("c", "o1", doc("o1", 7, "ord"), null, t0, coll = "orders")
    ).toDF("value")
    CdcIngest.processBatch(raw,
      CdcIngest.Config(base, checkpointDir = tmpDir("ckpt")))

    val users = CdcTable.read(spark, s"$base/testdb_users")
    assert(users.count() == 5) // append-only event log
    // the before-less delete still carries its key
    assert(users.filter($"_cdc_operation" === "delete" && $"_id" === "u3")
      .count() == 1)
    assert(Seq("x", "name", "_cdc_operation", "_ingestion_date")
      .forall(users.columns.contains))

    val orders = CdcTable.read(spark, s"$base/testdb_orders")
    assert(orders.count() == 1)

    // current state: u1 latest (x=10), u2 soft-deleted
    val cur = CurrentState(users, idCol = "_id",
      tieBreakers = Seq("_kafka_offset"))
    val rows = cur.select("_id", "x").as[(String, Long)].collect().toMap
    assert(rows == Map("u1" -> 10L))
  }

  test("doc fields cannot shadow CDC metadata columns (doc wins only _id)") {
    val base = tmpDir("cdcshadow")
    // document carries fields colliding with reserved metadata columns
    val doc = "\"{\\\"_id\\\":\\\"m1\\\"," +
      "\\\"_cdc_operation\\\":\\\"evil\\\"," +
      "\\\"_ingestion_date\\\":\\\"not-a-date\\\",\\\"x\\\":1}\""
    CdcIngest.processBatch(Seq(env("c", "m1", doc, null, t0)).toDF("value"),
      CdcIngest.Config(base, checkpointDir = tmpDir("ckptshadow")))
    val t = CdcTable.read(spark, s"$base/testdb_users")
    val row = t.collect().head
    // envelope-derived metadata wins; doc copies survive under doc_ prefix
    assert(t.select("_cdc_operation").as[String].collect().head == "insert")
    assert(t.select("doc__cdc_operation").as[String].collect().head == "evil")
    assert(t.select("doc__ingestion_date").as[String].collect().head ==
      "not-a-date")
    assert(row.getAs[String]("_ingestion_date") != "not-a-date")
    // doc _id still wins over the envelope routing copy
    assert(t.select("_id").as[String].collect().head == "m1")
  }

  test("castTo after merge preserves values across the widening lattice") {
    import org.apache.spark.sql.types._
    import graft.core.SchemaMerge
    val a = Seq((1, 10L, 1.5f)).toDF("i", "l", "f")
    val b = Seq((2.0, 20.0, 2.5)).toDF("i", "l", "f") // all doubles
    val merged = SchemaMerge.merge(a.schema, b.schema)
    assert(merged.fields.map(_.dataType).toSeq ==
      Seq(DoubleType, DoubleType, DoubleType))
    val aCast = SchemaMerge.castTo(a, merged)
      .as[(Double, Double, Double)].collect().head
    val bCast = SchemaMerge.castTo(b, merged)
      .as[(Double, Double, Double)].collect().head
    assert(aCast == ((1.0, 10.0, 1.5)) && bCast == ((2.0, 20.0, 2.5)))
    // missing columns null-fill, extra columns drop
    val c = SchemaMerge.castTo(Seq((7, "x")).toDF("i", "extra"), merged)
    assert(c.columns.toSeq == Seq("i", "l", "f"))
    val row = c.collect().head
    assert(row.getDouble(0) == 7.0 && row.isNullAt(1) && row.isNullAt(2))
  }

  test("upsert compaction collapses the log to current state") {
    val base = tmpDir("cdcup")
    val cfg = CdcIngest.Config(base, checkpointDir = tmpDir("ckptup"))
    def d(id: String, x: Int) =
      s"""\"{\\\"_id\\\":\\\"$id\\\",\\\"x\\\":$x}\""""
    CdcIngest.processBatch(Seq(
      env("c", "p1", d("p1", 1), null, t0),
      env("c", "p2", d("p2", 2), null, t0),
      env("u", "p1", d("p1", 5), null, t0 + 1),
      env("d", "p2", null, "\"{\\\"_id\\\":\\\"p2\\\"}\"", t0 + 2)
    ).toDF("value"), cfg)
    val dir = s"$base/testdb_users"
    assert(CdcTable.read(spark, dir).count() == 4)
    val v = CdcTable.compactToCurrentState(spark, dir)
    val after = CdcTable.read(spark, dir)
    assert(after.count() == 1)
    assert(after.select("_id", "x").as[(String, Long)].collect().toSeq ==
      Seq(("p1", 5L)))
    assert(CdcTable.currentVersion(dir) == v)
    // log keeps working: appends continue on the compacted table
    CdcIngest.processBatch(Seq(
      env("c", "p3", d("p3", 9), null, t0 + 3)).toDF("value"), cfg)
    assert(CdcTable.read(spark, dir).count() == 2)
  }

  test("upsert compaction can z-order the current state (CdcTable OPTIMIZE)") {
    val base = tmpDir("cdczorder")
    val cfg = CdcIngest.Config(base, checkpointDir = tmpDir("ckptz"))
    def d(id: Int, a: Int, b: Long) =
      s"""\"{\\\"_id\\\":\\\"z$id\\\",\\\"a\\\":$a,\\\"b\\\":$b}\""""
    val events = (0 until 1024).map(i =>
      env("c", s"z$i", d(i, i, (i * 2654435761L) % 1024), null, t0 + i))
    CdcIngest.processBatch(events.toDF("value"), cfg)
    val dir = s"$base/testdb_users"
    CdcTable.compactToCurrentState(spark, dir,
      zorderCols = Seq("a", "b"), numFiles = 8)
    val back = CdcTable.read(spark, dir)
    assert(back.count() == 1024)
    // clustering: per-file spans of BOTH columns far below global span
    val spans = back.withColumn("f", input_file_name())
      .groupBy("f")
      .agg((max($"a") - min($"a")).as("sa"), (max($"b") - min($"b")).as("sb"))
      .agg(avg($"sa"), avg($"sb")).collect()(0)
    assert(spans.getDouble(0) < 700 && spans.getDouble(1) < 700,
      s"z-ordered current state should bound per-file spans: $spans")
  }

  test("z-ordered upsert compaction keeps a Hive-partitioned layout") {
    val dir = tmpDir("cdczpart")
    // three small appends over three partitions p=0,1,2
    (0 until 3).foreach { k =>
      CdcTable.append((0 until 200).map { j =>
        val i = k * 200 + j
        (s"r$i", i.toLong, (i * 2654435761L) % 600, i % 3, t0 + i, "insert")
      }.toDF("_id", "a", "b", "p", "_cdc_timestamp", "_cdc_operation")
        .repartition(4), dir, partitionBy = Seq("p"))
    }
    def perP() = CdcTable.read(spark, dir).groupBy("p").count()
      .as[(Int, Long)].collect().toMap
    val before = perP()
    assert(before == Map(0 -> 200L, 1 -> 200L, 2 -> 200L))
    CdcTable.compactToCurrentState(spark, dir,
      zorderCols = Seq("a", "b"), numFiles = 4, partitionBy = Seq("p"))
    val live = CdcTable.log(dir).last.files
    live.foreach { f =>
      val parts = f.split('/').filter(_.startsWith("p="))
      assert(parts.length == 1, s"$f must sit under exactly one p= dir")
    }
    // the z-order ranges lead with p, so a range spans a partition
    // boundary at most once per boundary: ≤ 4 + (3 - 1) files, where
    // ranging on z alone would give every range all three (12 files)
    assert(live.nonEmpty && live.size <= 6, live.toString)
    assert(perP() == before)
  }

  test("batch replay with same txn id is idempotent (T2)") {
    val base = tmpDir("cdctxn")
    val cfg = CdcIngest.Config(base, checkpointDir = tmpDir("ckpttxn"))
    val b = Seq(env("c", "t1", "\"{\\\"_id\\\":\\\"t1\\\",\\\"x\\\":1}\"",
      null, t0)).toDF("value")
    CdcIngest.processBatch(b, cfg, batchId = Some(0L))
    CdcIngest.processBatch(b, cfg, batchId = Some(0L)) // retry replay
    assert(CdcTable.read(spark, s"$base/testdb_users").count() == 1)
    CdcIngest.processBatch(b, cfg, batchId = Some(1L)) // genuine next batch
    assert(CdcTable.read(spark, s"$base/testdb_users").count() == 2)
  }

  test("coercion mode: string values convert to the typed column or DLQ") {
    import graft.core.SchemaMerge
    val base = tmpDir("cdccoerce")
    val cfg = CdcIngest.Config(base, checkpointDir = tmpDir("ckptcoerce"),
      mergeMode = SchemaMerge.Coercion)
    // batch 1: v arrives as a JSON number → long column
    CdcIngest.processBatch(Seq(env("c", "r1",
      "\"{\\\"_id\\\":\\\"r1\\\",\\\"v\\\":1}\"", null, t0))
      .toDF("value"), cfg, batchId = Some(0L))
    // batch 2: v arrives as strings — "2" coerces, "oops" cannot
    CdcIngest.processBatch(Seq(
      env("c", "r2", "\"{\\\"_id\\\":\\\"r2\\\",\\\"v\\\":\\\"2\\\"}\"",
        null, t0 + 1),
      env("c", "r3", "\"{\\\"_id\\\":\\\"r3\\\",\\\"v\\\":\\\"oops\\\"}\"",
        null, t0 + 2)).toDF("value"), cfg, batchId = Some(1L))
    val t = CdcTable.read(spark, s"$base/testdb_users")
    assert(t.schema("v").dataType == org.apache.spark.sql.types.LongType,
      "column keeps its type instead of degrading to string")
    assert(t.select("_id", "v").as[(String, Long)].collect().toSet ==
      Set(("r1", 1L), ("r2", 2L)))
    val dlq = CdcTable.read(spark, s"$base/_dlq")
      .filter($"reason" === CdcNormalize.DlqReason.SchemaValidation)
    assert(dlq.count() == 1)
    assert(dlq.select("original_value").as[String].collect()
      .head.contains("oops"))
  }

  test("CHECK constraint violations route to the DLQ; replay keeps the loud guard") {
    val base = tmpDir("cdccons")
    val cfg = CdcIngest.Config(base, checkpointDir = tmpDir("ckptcons"))
    // batch 0 establishes the table, then its writer invariant
    CdcIngest.processBatch(Seq(env("c", "k1",
      "\"{\\\"_id\\\":\\\"k1\\\",\\\"v\\\":1}\"", null, t0))
      .toDF("value"), cfg, batchId = Some(0L))
    CdcTable.addConstraint(spark, s"$base/testdb_users", "v_pos", "v >= 0")
    // batch 1: one valid, one violating, one NULL-v (passes — SQL
    // CHECK semantics). The stream must survive; only k3 dead-letters.
    CdcIngest.processBatch(Seq(
      env("c", "k2", "\"{\\\"_id\\\":\\\"k2\\\",\\\"v\\\":2}\"",
        null, t0 + 1),
      env("c", "k3", "\"{\\\"_id\\\":\\\"k3\\\",\\\"v\\\":-3}\"",
        null, t0 + 2),
      env("c", "k4", "\"{\\\"_id\\\":\\\"k4\\\"}\"", null, t0 + 3))
      .toDF("value"), cfg, batchId = Some(1L))
    val t = CdcTable.read(spark, s"$base/testdb_users")
    assert(t.select("_id").as[String].collect().toSet ==
      Set("k1", "k2", "k4"))
    val dlq = CdcTable.read(spark, s"$base/_dlq")
      .filter($"reason" === CdcNormalize.DlqReason.ConstraintViolation)
    assert(dlq.count() == 1)
    assert(dlq.select("error_detail").as[String].head() == "v_pos",
      "error_detail must name the violated constraint")
    assert(dlq.select("original_value").as[String].head()
      .contains("k3"))
    val id = dlq.select("dlq_id").as[String].head()
    // replay without a fix: the typed-row JSON is not an envelope, so
    // the row stays queued (retry + 1) — same contract as coercion
    // rejects
    val (res0, dead0) = CdcIngest.replayDlq(spark, cfg)
    assert(res0 == 0 && dead0 == 1)
    def chain(x: Throwable): String = {
      val sb = new StringBuilder
      var c: Throwable = x
      while (c != null) { sb.append(c.getMessage).append(" | ")
        c = c.getCause }
      sb.toString
    }
    // replay is operator-driven: a FIXED row that still violates
    // fails the replay LOUDLY (in-write guard, dlqConstraints=false)
    // instead of silently re-queueing the operator's fix
    val stillBad = Seq((id, env("c", "k3",
      "\"{\\\"_id\\\":\\\"k3\\\",\\\"v\\\":-4}\"", null, t0 + 9)))
      .toDF("dlq_id", "original_value")
    val e = intercept[Exception](
      CdcIngest.replayDlq(spark, cfg, fixes = Some(stillBad)))
    assert(chain(e).contains("v_pos"), s"got: ${chain(e)}")
    // a fix that satisfies the constraint resolves the dead letter
    val good = Seq((id, env("c", "k3",
      "\"{\\\"_id\\\":\\\"k3\\\",\\\"v\\\":3}\"", null, t0 + 9)))
      .toDF("dlq_id", "original_value")
    val (res1, dead1) =
      CdcIngest.replayDlq(spark, cfg, fixes = Some(good))
    assert(res1 == 1 && dead1 == 0)
    assert(CdcTable.read(spark, s"$base/testdb_users")
      .filter($"_id" === "k3").select("v").as[Long].head() == 3L)
  }

  test("constraints on columns a drifted batch lacks dead-letter instead of crashing the stream") {
    val base = tmpDir("cdcconsdrift")
    val cfg = CdcIngest.Config(base, checkpointDir = tmpDir("ckptconsdrift"))
    CdcIngest.processBatch(Seq(env("c", "k1",
      "\"{\\\"_id\\\":\\\"k1\\\",\\\"v\\\":1}\"", null, t0))
      .toDF("value"), cfg, batchId = Some(0L))
    // IS-NOT-NULL-shaped: FALSE (not NULL) on a null-filled column —
    // the split must judge it on the null-filled probe, exactly as
    // append's in-write guard will, or the stream dies downstream
    CdcTable.addConstraint(spark, s"$base/testdb_users", "v_set",
      "v IS NOT NULL")
    // this batch's docs carry NO v at all: the column is fully absent
    // from the demuxed frame (the schema-drift shape)
    CdcIngest.processBatch(Seq(
      env("c", "k2", "\"{\\\"_id\\\":\\\"k2\\\",\\\"w\\\":5}\"",
        null, t0 + 1),
      env("c", "k3", "\"{\\\"_id\\\":\\\"k3\\\",\\\"w\\\":6}\"",
        null, t0 + 2)).toDF("value"), cfg, batchId = Some(1L))
    // the stream survived; both rows dead-lettered; a later batch
    // WITH v lands normally
    CdcIngest.processBatch(Seq(env("c", "k4",
      "\"{\\\"_id\\\":\\\"k4\\\",\\\"v\\\":4}\"", null, t0 + 3))
      .toDF("value"), cfg, batchId = Some(2L))
    assert(CdcTable.read(spark, s"$base/testdb_users")
      .select("_id").as[String].collect().toSet == Set("k1", "k4"))
    val dlq = CdcTable.read(spark, s"$base/_dlq")
      .filter($"reason" === CdcNormalize.DlqReason.ConstraintViolation)
    assert(dlq.count() == 2)
    assert(dlq.select("error_detail").as[String].collect().toSet ==
      Set("v_set"))
  }

  test("crash between data write and manifest commit cannot duplicate") {
    val base = tmpDir("cdccrash")
    val cfg = CdcIngest.Config(base, checkpointDir = tmpDir("ckptcrash"))
    val b = Seq(env("c", "c1", "\"{\\\"_id\\\":\\\"c1\\\",\\\"x\\\":1}\"",
      null, t0)).toDF("value")
    CdcIngest.processBatch(b, cfg, batchId = Some(0L))
    val dir = s"$base/testdb_users"
    assert(CdcTable.read(spark, dir).count() == 1)
    // simulate a writer that died AFTER staging data files but BEFORE
    // the manifest commit: files exist, no manifest references them
    spark.range(5).toDF("x").write
      .parquet(s"$dir/data/batch-simulated-crash")
    assert(CdcTable.read(spark, dir).count() == 1,
      "unreferenced staged files must be invisible")
    // the stream replays the same batch after the crash: exactly once
    CdcIngest.processBatch(b, cfg, batchId = Some(0L))
    assert(CdcTable.read(spark, dir).count() == 1)
    // orphan cleanup removes the dead files, never committed ones
    val removed = CdcTable.vacuumOrphans(dir, retainMillis = 0L)
    assert(removed.exists(_.contains("batch-simulated-crash")))
    assert(CdcTable.read(spark, dir).count() == 1)
    // genuine next batch still appends
    CdcIngest.processBatch(Seq(env("c", "c2",
      "\"{\\\"_id\\\":\\\"c2\\\",\\\"x\\\":2}\"", null, t0 + 1))
      .toDF("value"), cfg, batchId = Some(1L))
    assert(CdcTable.read(spark, dir).count() == 2)
  }

  test("compaction makes prior generations vacuumable orphans") {
    val base = tmpDir("cdcvac")
    val cfg = CdcIngest.Config(base, checkpointDir = tmpDir("ckptvac"))
    def d(id: String, x: Int) =
      s"""\"{\\\"_id\\\":\\\"$id\\\",\\\"x\\\":$x}\""""
    CdcIngest.processBatch(Seq(
      env("c", "v1", d("v1", 1), null, t0),
      env("u", "v1", d("v1", 2), null, t0 + 1)).toDF("value"), cfg)
    val dir = s"$base/testdb_users"
    CdcTable.compactToCurrentState(spark, dir)
    val removed = CdcTable.vacuumOrphans(dir, retainMillis = 0L)
    assert(removed.nonEmpty, "pre-compaction files become orphans")
    val after = CdcTable.read(spark, dir)
    assert(after.count() == 1)
    assert(after.select("x").as[Long].collect().head == 2L)
  }

  test("coerceSplit converts values per row and preserves rejects intact") {
    import graft.core.SchemaMerge
    import org.apache.spark.sql.types._
    val df = Seq(
      ("a", "2024-03-01", "10"), ("b", "2024-13-99", "11"),
      ("c", null, "12"), ("d", "2024-03-04", "x"))
      .toDF("k", "day", "n")
    val target = StructType(Seq(StructField("k", StringType),
      StructField("day", DateType), StructField("n", LongType)))
    val (good, bad) = SchemaMerge.coerceSplit(df, target)
    // nulls pass (nothing to convert); both typed columns must convert
    assert(good.select("k").as[String].collect().sorted.toSeq ==
      Seq("a", "c"))
    assert(good.schema("day").dataType == DateType)
    assert(good.filter($"k" === "a").select("n").as[Long]
      .collect().head == 10L)
    // rejects keep the ORIGINAL schema and values for DLQ routing
    assert(bad.select("k").as[String].collect().sorted.toSeq ==
      Seq("b", "d"))
    assert(bad.schema("day").dataType == StringType)
    assert(bad.filter($"k" === "d").select("n").as[String]
      .collect().head == "x")
  }

  test("DLQ replay: corrupted -> fixed -> replayed lands exactly once") {
    val base = tmpDir("cdcreplay")
    val cfg = CdcIngest.Config(base, checkpointDir = tmpDir("ckptreplay"))
    CdcIngest.processBatch(Seq(
      env("c", "g1", "\"{\\\"_id\\\":\\\"g1\\\",\\\"x\\\":1}\"", null, t0),
      "totally broken, not json").toDF("value"), cfg, batchId = Some(0L))
    val usersDir = s"$base/testdb_users"
    val dlqDir = s"$base/_dlq"
    assert(CdcTable.read(spark, usersDir).count() == 1)
    val dlq0 = CdcTable.read(spark, dlqDir)
    assert(dlq0.count() == 1)
    assert(dlq0.select("retry_count").as[Int].collect().head == 0)
    val dlqId = dlq0.select("dlq_id").as[String].collect().head

    // replay without a fix: still corrupted, retry_count bumps
    val (ok0, dead0) = CdcIngest.replayDlq(spark, cfg)
    assert(ok0 == 0 && dead0 == 1)
    assert(CdcTable.read(spark, dlqDir)
      .select("retry_count").as[Int].collect().head == 1)

    // repair the original event, replay: lands in its table once and
    // leaves the queue
    val fixes = Seq((dlqId,
      env("c", "g2", "\"{\\\"_id\\\":\\\"g2\\\",\\\"x\\\":7}\"", null,
        t0 + 5))).toDF("dlq_id", "original_value")
    val (ok1, dead1) = CdcIngest.replayDlq(spark, cfg, Some(fixes))
    assert(ok1 == 1 && dead1 == 0)
    val users = CdcTable.read(spark, usersDir)
    assert(users.count() == 2)
    assert(users.filter($"_id" === "g2").count() == 1)
    assert(CdcTable.read(spark, dlqDir).count() == 0)

    // idempotent: nothing left to replay
    assert(CdcIngest.replayDlq(spark, cfg, Some(fixes)) == ((0L, 0L)))
  }

  test("DLQ replay caps retries with max_retries_exceeded") {
    val base = tmpDir("cdcretry")
    val cfg = CdcIngest.Config(base, checkpointDir = tmpDir("ckptretry"))
    CdcIngest.processBatch(Seq("still not json").toDF("value"), cfg,
      batchId = Some(0L))
    val dlqDir = s"$base/_dlq"
    assert(CdcIngest.replayDlq(spark, cfg, maxRetries = 1) == ((0L, 1L)))
    val row = CdcTable.read(spark, dlqDir)
      .select("reason", "retry_count").as[(String, Int)].collect().head
    assert(row == ((CdcNormalize.DlqReason.MaxRetries, 1)))
    // capped rows are skipped on later replays
    assert(CdcIngest.replayDlq(spark, cfg, maxRetries = 1) == ((0L, 1L)))
  }

  test("schema evolution across batches: new field + int->double widening") {
    val base = tmpDir("cdcevo")
    val cfg = CdcIngest.Config(base, checkpointDir = tmpDir("ckpt2"))
    val b1 = Seq(env("c", "e1",
      "\"{\\\"_id\\\":\\\"e1\\\",\\\"v\\\":1}\"", null, t0)).toDF("value")
    CdcIngest.processBatch(b1, cfg)
    val v1 = CdcTable.currentVersion(s"$base/testdb_users")
    val b2 = Seq(env("c", "e2",
      "\"{\\\"_id\\\":\\\"e2\\\",\\\"v\\\":2.5,\\\"tag\\\":\\\"n\\\"}\"",
      null, t0 + 1)).toDF("value")
    CdcIngest.processBatch(b2, cfg)
    val t = CdcTable.read(spark, s"$base/testdb_users")
    assert(t.schema("v").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(t.columns.contains("tag"))
    assert(t.count() == 2)
    val vs = t.select("v").as[Double].collect().sorted
    assert(vs.toSeq == Seq(1.0, 2.5))
    assert(CdcTable.currentVersion(s"$base/testdb_users") > v1)
  }
}
