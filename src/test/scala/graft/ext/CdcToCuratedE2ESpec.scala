package graft.ext

import graft.SparkSpec
import graft.sink.CdcTable
import graft.streaming.CdcIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The REFERENCE-SHAPED pipeline, composed end to end from the pieces
  * that are individually spec'd elsewhere:
  *
  *   CDC envelopes (memory stand-in for Kafka/Debezium)
  *     → [[CdcIngest]] foreachBatch → graft table (the Delta-sink
  *       stand-in, exactly-once via the manifest txn marker)
  *     → `readStream.format("graft")` change feed of that table
  *     → [[Dedup.dedupStreamToTable]] (unbounded-lookback exact dedup
  *       against the fingerprint index)
  *     → curated graft table.
  *
  * Both streaming queries are CRASHED (stopped) mid-pipeline and
  * restarted from their checkpoints with new data queued; the curated
  * output must hold exactly the unique documents, each exactly once —
  * the composition inherits exactly-once from every stage or it does
  * not have it at all. */
class CdcToCuratedE2ESpec extends SparkSpec {
  import spark.implicits._

  private def env(id: String, docId: Long, text: String, ts: Long) =
    s"""{"payload":{"_id":"$id","before":null,"after":
       |"{\\"_id\\":\\"$id\\",\\"doc_id\\":$docId,\\"text\\":\\"$text\\"}",
       |"op":"c","ts_ms":$ts,
       |"source":{"version":"2.5","connector":"mongodb","name":"m",
       |"ts_ms":$ts,"snapshot":"false","db":"pdb","rs":"rs0",
       |"collection":"docs","ord":1}}}""".stripMargin.replace("\n", "")

  test("ingest → change feed → streaming dedup → curated table, " +
    "exactly-once across a mid-pipeline crash") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("e2ebase")
    val ingestCkpt = tmpDir("e2eingestck")
    val dedupCkpt = tmpDir("e2ededupck")
    val idxDir = tmpDir("e2eidx")
    val outDir = tmpDir("e2eout")
    val tableDir = s"$base/pdb_docs"
    val now = System.currentTimeMillis()

    val mem = MemoryStream[String]
    val cfg = CdcIngest.Config(base, checkpointDir = ingestCkpt,
      triggerMillis = 100L)
    def startIngest() = CdcIngest.start(mem.toDF.toDF("value"), cfg)
    def startDedup() = {
      val feed = spark.readStream.format("graft").load(tableDir)
      Dedup.dedupStreamToTable(feed, "text", "doc_id",
        idxDir, outDir, dedupCkpt)
    }

    // ---- wave 1: three docs, one an exact duplicate ----------------
    val q1 = startIngest()
    val curated1 = try {
      mem.addData(
        env("d1", 1L, "alpha body text one", now),
        env("d2", 2L, "beta body text two", now),
        env("d3", 3L, "alpha body text one", now)) // dup of d1
      q1.processAllAvailable()
      val qd = startDedup()
      try qd.processAllAvailable() finally qd.stop()
      CdcTable.read(spark, outDir)
        .select("doc_id").as[Long].collect().sorted.toSeq
    } finally q1.stop() // ---- "crash": both queries down ------------
    assert(curated1 == Seq(1L, 2L),
      s"wave 1 curates the two unique docs: $curated1")

    // ---- wave 2 arrives while the pipeline is down -----------------
    mem.addData(
      env("d4", 4L, "beta body text two", now + 1000), // dup of d2
      env("d5", 5L, "gamma body text three", now + 1000)) // novel

    // ---- restart every stage from its checkpoint -------------------
    val q2 = startIngest()
    try q2.processAllAvailable() finally q2.stop()
    val qd2 = startDedup()
    try qd2.processAllAvailable() finally qd2.stop()

    // ingest stayed exactly-once: 5 events, 5 rows, no replays
    val ingested = CdcTable.read(spark, tableDir)
    assert(ingested.count() == 5, "each envelope lands exactly once")
    // the curated table holds exactly the unique documents, once each
    // — d4 was dropped against the HISTORICAL fingerprint of d2, which
    // only works if the index survived the crash with its annotations
    val curated = CdcTable.read(spark, outDir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(curated == Seq(1L, 2L, 5L),
      s"unique docs exactly once across the crash: $curated")
    // index: one fingerprint per unique text
    assert(CdcTable.read(spark, idxDir).count() == 3)

    // a third restart with nothing queued must change nothing (pure
    // replay safety of the whole composition)
    val q3 = startIngest()
    try q3.processAllAvailable() finally q3.stop()
    val qd3 = startDedup()
    try qd3.processAllAvailable() finally qd3.stop()
    assert(CdcTable.read(spark, outDir).count() == 3)
    assert(CdcTable.read(spark, tableDir).count() == 5)
  }
}
