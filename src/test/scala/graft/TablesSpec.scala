package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** Pins the `events.ts` loading contract (VERDICT r8 #1): the driver's
  * nanos-parquet column must surface as µs TimestampNTZType — the naive
  * value DuckDB sees after CAST(ts AS TIMESTAMP) — no matter how the
  * engine's parquet reader evolves. Spark 4.1.2 silently started
  * returning TIMESTAMP_NTZ and ignoring the nanosAsLong conf, which
  * turned q24's ts arithmetic into an analysis error that only the
  * oracle gate could see; this spec makes the next such engine bump fail
  * a unit test instead.
  */
class TablesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("events.ts surfaces as TimestampNTZType") {
    val ev = Tables(spark, dir, "events")
    assert(ev.schema("ts").dataType == TimestampNTZType,
      "events.ts must normalize to naive µs timestamps (oracle contract)")
  }

  test("ts supports second-resolution arithmetic (q24's gap computation)") {
    val ev = Tables(spark, dir, "events")
    val r = ev.select(unix_timestamp(col("ts")).as("secs"))
      .agg(min("secs").as("lo"), max("secs").as("hi")).head()
    val lo = r.getLong(0); val hi = r.getLong(1)
    // driver data is 2023–2025-ish; the point is: real epoch seconds,
    // not nanos (1e18) or a failed cast.
    assert(lo > (1L << 30) && hi < (1L << 34), s"epoch-second range [$lo,$hi]")
    assert(hi > lo)
  }

  test("ts values match the raw NTZ read (normalization is value-identity)") {
    val raw = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("ts").as("raw_ts"))
    val viaTables = Tables(spark, dir, "events")
      .select(col("event_id"), col("ts"))
    val joined = viaTables.join(raw, "event_id")
    assert(joined.filter(col("ts") =!= col("raw_ts")).isEmpty)
    assert(joined.count() == raw.count())
  }

  test("legacy epoch-nanos LongType reads normalize to the same NTZ µs values") {
    // Simulate the old nanosAsLong surface: write a little table whose ts
    // is epoch NANOS as Long, push it through the normalization branch.
    val out = tmpDir("tables-nanos")
    val nanos = Seq(
      (1L, 1700000000123456789L), // sub-µs tail must truncate, not round
      (2L, 1700003600999999999L))
    import spark.implicits._
    nanos.toDF("event_id", "ts").write.mode("overwrite")
      .parquet(s"$out/events.parquet")
    val df = Tables(spark, out, "events")
    assert(df.schema("ts").dataType == TimestampNTZType)
    val got = df.orderBy("event_id")
      .select(unix_micros(col("ts").cast("timestamp"))) // UTC session: exact
      .as[Long].collect().toSeq
    assert(got == Seq(1700000000123456L, 1700003600999999L))
  }

  test("legacy LongType normalization is session-timezone independent") {
    // r9 advisor (low): the old timestamp_micros(...).cast(NTZ) route
    // went through the session timezone, so a non-UTC foreign session
    // read shifted naive values. The epoch-arithmetic construction must
    // give bit-identical NTZ values under any session timezone.
    val out = tmpDir("tables-nanos-tz")
    import spark.implicits._
    Seq((1L, 1700000000123456789L), (2L, 1700003600999999999L))
      .toDF("event_id", "ts").write.mode("overwrite")
      .parquet(s"$out/events.parquet")
    def readMicros(): Seq[Long] = Tables(spark, out, "events")
      .orderBy("event_id")
      .select(expr("timestampdiff(MICROSECOND, " +
        "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")) // tz-free readback
      .as[Long].collect().toSeq
    val utc = readMicros()
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      assert(readMicros() == utc,
        "NTZ normalization must not route through the session timezone")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
    assert(utc == Seq(1700000000123456L, 1700003600999999L))
  }

  test("an unrecognized ts type fails fast at load, not in the oracle gate") {
    val out = tmpDir("tables-badts")
    import spark.implicits._
    Seq((1L, "not-a-timestamp")).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val e = intercept[IllegalStateException](Tables(spark, out, "events"))
    assert(e.getMessage.contains("unexpected type"))
  }
}
