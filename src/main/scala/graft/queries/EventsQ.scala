package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryDef._

/** CDC/stream-shaped queries over the `events` table, expressing the
  * reference's ingest semantics as batch-checkable operators:
  * op classification (P1, reference `event_handler.py:102-124`),
  * current-state latest-per-key view (W1/J4), stale-event branch (T4,
  * `spec.md:211,302-305`), tumbling windows (T5) and JSON prop
  * extraction (S2-style decode).
  *
  * `events.ts` is nanosecond parquet; Spark truncates to microseconds on
  * read, so every oracle casts ts to microsecond TIMESTAMP up front to
  * see identical values.
  */
object EventsQ {

  /** Map event_type onto the reference's CDC op classes (c/r→insert,
    * u→update, d→delete — here simulated over event_type). */
  private def opClass = // P1 classifier shape
    when(col("event_type").isin("signup", "purchase"), "insert")
      .when(col("event_type").isin("click", "view"), "update")
      .when(col("event_type") === "error", "delete")
      .otherwise(null)

  private val opClassSql =
    """CASE WHEN event_type IN ('signup','purchase') THEN 'insert'
      |     WHEN event_type IN ('click','view') THEN 'update'
      |     WHEN event_type = 'error' THEN 'delete'
      |     ELSE NULL END""".stripMargin

  /** q18 — tumbling 1-hour windows (T5): per (hour, event_type) counts.
    * At scale: map-side partial agg, single shuffle on (hour,type). */
  def q18(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz")
        .as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumD("value").as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  val q18Sql: String =
    s"""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
       |    AS window_start,
       |  event_type, COUNT(*) AS n_events, ${oSumD("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** q19 — latest event per user (W1 latest-per-key; the CDC
    * current-state view). Single shuffle on user_id; at 100 TB this is
    * the standard dedup-to-current-state pattern over the change log. */
  def q19(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"))
      .orderBy(col("user_id"))
  }

  val q19Sql: String =
    """SELECT user_id, event_id, event_type, value FROM (
      |  SELECT user_id, event_id, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** q20 — CDC op classification + drop-unknown filter (P1 + P7). */
  def q20(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .withColumn("cdc_operation", opClass)
      .filter(col("cdc_operation").isNotNull)
      .groupBy(col("cdc_operation"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cdc_operation"))

  val q20Sql: String =
    s"""SELECT $opClassSql AS cdc_operation,
       |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
       |FROM events
       |WHERE $opClassSql IS NOT NULL
       |GROUP BY 1 ORDER BY cdc_operation""".stripMargin

  /** q21 — CDC current state with soft-delete semantics (J4 + W1):
    * classify ops, take latest per key, drop keys whose latest op is a
    * delete (reference appends delete-tagged rows; the current-state
    * view must filter them — SURVEY.md §7.4). */
  def q21(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables(s, dir, "events")
      .withColumn("cdc_operation", opClass)
      .filter(col("cdc_operation").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("cdc_operation") =!= "delete")
      .select(col("user_id"), col("event_id"), col("cdc_operation"),
        col("value"))
      .orderBy(col("user_id"))
  }

  val q21Sql: String =
    s"""SELECT user_id, event_id, cdc_operation, value FROM (
       |  SELECT user_id, event_id, value, $opClassSql AS cdc_operation,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
       |  FROM events WHERE $opClassSql IS NOT NULL) t
       |WHERE rn = 1 AND cdc_operation <> 'delete'
       |ORDER BY user_id""".stripMargin

  /** q22 — stale-event branch (T4): events older than 7 days before the
    * stream's max timestamp are DLQ-routed; report them per type. */
  def q22(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val cutoff = ev.agg(max(col("ts")).as("max_ts"))
      .select((col("max_ts") - expr("INTERVAL 7 DAYS")).as("cutoff"))
    ev.crossJoin(broadcast(cutoff))
      .filter(col("ts") < col("cutoff"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_stale"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .orderBy(col("event_type"))
  }

  val q22Sql: String =
    """SELECT event_type, COUNT(*) AS n_stale,
      |  MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id
      |FROM events
      |WHERE CAST(ts AS TIMESTAMP) <
      |  (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events)
      |    - INTERVAL 7 DAY
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q23 — JSON property extraction (S2 envelope-decode shape): pull
    * props.k out of the JSON string column and aggregate. */
  def q23(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_with_k"))
      .orderBy(col("event_type"))

  val q23Sql: String =
    """SELECT event_type,
      |  CAST(SUM(CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT)) AS BIGINT) AS sum_k,
      |  COUNT(CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT)) AS n_with_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q24 — sessionization via gaps-and-islands (T5 session windows,
    * batch formulation): a session breaks after 30 min of inactivity.
    * Same window-function algorithm on both engines. */
  def q24(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800,
          1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        sumD("value").as("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val q24Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
       |  FROM events),
       |flagged AS (
       |  SELECT *, CASE WHEN prev_ts IS NULL
       |      OR (CAST(floor(epoch(ts)) AS BIGINT)
       |          - CAST(floor(epoch(prev_ts)) AS BIGINT)) > 1800
       |    THEN 1 ELSE 0 END AS new_session
       |  FROM (SELECT *, LAG(ts) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) AS prev_ts FROM e) t),
       |sessions AS (
       |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
       |  FROM flagged)
       |SELECT user_id, session_id, COUNT(*) AS n_events,
       |  MIN(event_id) AS first_event, ${oSumD("value")} AS session_value
       |FROM sessions GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  /** q85 — sessionization through the NATIVE `session_window`
    * aggregation, the exact operator the streaming path runs
    * ([[graft.streaming.StreamOps.sessions]]; `withWatermark` is a
    * no-op in batch, so this is the streaming query's batch replay):
    * 30-minute-gap sessions per user with count / first-event / value
    * rollups. q24 computes sessions via gaps-and-islands window
    * functions; this entry gives T5's session-window formulation its
    * own oracle row. Two semantic differences from q24, both mirrored
    * in the oracle: session_window merges over the HALF-OPEN interval
    * [start, last + gap) — an event exactly `gap` after its
    * predecessor starts a NEW session — and the comparison runs at
    * full µs precision, not whole seconds. At scale this is one
    * shuffle on user_id with AQE-sized partitions — the same shape
    * the streaming state store partitions by. */
  def q85(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.sessions(
      Tables(s, dir, "events"), "ts", "30 minutes",
      watermark = "0 seconds", keys = Seq(col("user_id")),
      aggs = Seq(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        sumD("value").as("session_value")))
      .select(col("user_id"),
        col("session_window.start").cast("timestamp_ntz")
          .as("session_start"),
        col("session_window.end").cast("timestamp_ntz")
          .as("session_end"),
        col("n_events"), col("first_event"), col("session_value"))
      .orderBy(col("user_id"), col("session_start"))

  val q85Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, value,
       |    CAST(ts AS TIMESTAMP) AS ts FROM events),
       |flagged AS (
       |  SELECT *, CASE WHEN prev_ts IS NULL
       |      OR epoch_us(ts) - epoch_us(prev_ts) >= 1800 * 1000000
       |    THEN 1 ELSE 0 END AS new_session
       |  FROM (SELECT *, LAG(ts) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) AS prev_ts FROM e) t),
       |sessions AS (
       |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id
       |    ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM flagged)
       |SELECT user_id, MIN(ts) AS session_start,
       |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       |  COUNT(*) AS n_events, MIN(event_id) AS first_event,
       |  ${oSumD("value")} AS session_value
       |FROM sessions GROUP BY user_id, sid
       |ORDER BY user_id, session_start""".stripMargin

  /** q122 — binned point-in-interval join
    * ([[graft.ext.RangeJoin.pointInInterval]]): every event landing
    * inside any sampled user's first-half-hour window — an UNKEYED
    * range join. The Spark side manufactures the equi-key by binning
    * (hash join + exact filter, never BroadcastNestedLoopJoin —
    * plan-asserted); the oracle is the naive theta join, so the gate
    * proves the binned plan finds exactly the theta join's pairs. */
  def q122(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"))
    val halfHourUs = 1800000000L
    val iv = ev.filter(col("user_id") % 10 === 0)
      .groupBy(col("user_id").as("owner"))
      .agg(min(col("ts_us")).as("lo"))
      .withColumn("hi", col("lo") + lit(halfHourUs))
    graft.ext.RangeJoin.pointInInterval(
        ev.select(col("event_id"), col("ts_us")), iv,
        "ts_us", "lo", "hi", binWidth = halfHourUs)
      .select(col("owner"), col("event_id"), col("ts_us"))
      .orderBy(col("owner"), col("event_id"))
  }

  val q122Sql: String =
    """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
      |  FROM events),
      |iv AS (SELECT user_id AS owner, MIN(ts_us) AS lo,
      |    MIN(ts_us) + 1800000000 AS hi
      |  FROM ev WHERE user_id % 10 = 0 GROUP BY user_id)
      |SELECT owner, event_id, ts_us FROM ev
      |JOIN iv ON ts_us >= lo AND ts_us < hi
      |ORDER BY owner, event_id""".stripMargin

  /** q123 — binned interval-OVERLAP self-join
    * ([[graft.ext.RangeJoin.intervalOverlap]]): which users' first
    * half-hours overlap. Both sides explode to bins; the dedup-free
    * max(lo)-bin rule keeps each pair once; the oracle is the naive
    * theta self-join. */
  def q123(s: SparkSession, dir: String): DataFrame = {
    val halfHourUs = 1800000000L
    val iv = Tables(s, dir, "events")
      .groupBy(col("user_id").as("id"))
      .agg(min(expr("unix_micros(CAST(ts AS TIMESTAMP))")).as("lo"))
      .withColumn("hi", col("lo") + lit(halfHourUs))
    graft.ext.RangeJoin
      .intervalOverlap(iv, "id", "lo", "hi", binWidth = halfHourUs)
      .select(col("a_id"), col("b_id"), col("a_lo"), col("b_lo"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val q123Sql: String =
    """WITH iv AS (SELECT user_id AS id, epoch_us(MIN(ts)) AS lo,
      |    epoch_us(MIN(ts)) + 1800000000 AS hi
      |  FROM events GROUP BY user_id)
      |SELECT a.id AS a_id, b.id AS b_id, a.lo AS a_lo, b.lo AS b_lo
      |FROM iv a JOIN iv b
      |  ON a.id < b.id AND a.lo < b.hi AND b.lo < a.hi
      |ORDER BY a_id, b_id""".stripMargin

  /** q188 — ordered funnel conversion (the product-analytics staple
    * the reference's event log exists to answer; MATCH_RECOGNIZE-class
    * semantics expressed as stacked cumulative windows): a user
    * reaches step k when an event of the step-k type occurs AT OR
    * AFTER the user's earliest step-(k−1) time and within `horizon`
    * of their step-1 time. Each step column is a running
    * `min(when(...)) over (partition user order ts, event_id rows
    * unbounded preceding)` whose condition reads the PREVIOUS step's
    * running column on the same inner row — so qualification uses the
    * true earliest prior-step times, never a future event.
    *
    * Scale shape: ONE shuffle on user_id; the three window passes and
    * the per-user fold all reuse that partitioning (Spark plans one
    * Exchange, then Window×3 + partial agg). The final three-row
    * conversion table is a broadcastable scalar frame. Conversion
    * percentages in exact 10⁶ fixed point (truncating BIGINT div) so
    * the oracle hash-matches. */
  /** Shared q188/q197 core: per-user funnel step times (f1, f2, f3),
    * nulls where the step was never reached in order / horizon. */
  /** signup→view→purchase conversion horizon: 3 days from step 1. */
  val FunnelHorizonUs: Long = 3L * 24 * 3600 * 1000000L

  /** The q188 funnel window chain over (user_id, event_type,
    * event_id, tu) rows, with optional per-user SEED columns
    * (f1, f2, f3) from a prior incremental fold (null seeds = the
    * batch-global semantics). One user_id exchange; per-user state
    * folds to one row. */
  private def funnelChain(ev: DataFrame, horizonUs: Long): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("tu"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("t1", coalesce(col("f1"),
        min(when(col("event_type") === "signup", col("tu"))).over(w)))
      .withColumn("t2", coalesce(col("f2"),
        min(when(col("event_type") === "view" &&
          col("tu") >= col("t1") &&
          col("tu") <= col("t1") + lit(horizonUs), col("tu"))).over(w)))
      .withColumn("t3", coalesce(col("f3"),
        min(when(col("event_type") === "purchase" &&
          col("tu") >= col("t2") &&
          col("tu") <= col("t1") + lit(horizonUs), col("tu"))).over(w)))
      .groupBy("user_id")
      .agg(min(col("t1")).as("f1"), min(col("t2")).as("f2"),
        min(col("t3")).as("f3"))
  }

  private def nullSeeds(df: DataFrame): DataFrame =
    df.withColumn("f1", lit(null).cast("long"))
      .withColumn("f2", lit(null).cast("long"))
      .withColumn("f3", lit(null).cast("long"))

  private def funnelUsers(s: SparkSession, dir: String): DataFrame =
    funnelChain(nullSeeds(Tables(s, dir, "events").select(
      col("user_id"), col("event_type"), col("event_id"),
      expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tu"))),
      FunnelHorizonUs)

  /** (n1, n2, n3) step counts → the q188 report shape. */
  private def funnelStack(counts: DataFrame): DataFrame =
    counts.selectExpr(
      """stack(3,
        |  CAST(1 AS BIGINT), 'signup',   n1, CAST(1000000 AS BIGINT),
        |  CAST(2 AS BIGINT), 'view',     n2, n2 * 1000000L div nullif(n1, 0),
        |  CAST(3 AS BIGINT), 'purchase', n3, n3 * 1000000L div nullif(n2, 0))
        |  AS (step, step_type, n_users, conv_fp)""".stripMargin)
      .orderBy(col("step"))

  def q188(s: SparkSession, dir: String): DataFrame =
    funnelStack(funnelUsers(s, dir)
      .agg(count(col("f1")).as("n1"), count(col("f2")).as("n2"),
        count(col("f3")).as("n3")))

  // -----------------------------------------------------------------
  // Incremental funnel materialization (the streaming surface of
  // q188 — the reference's event log is a stream, so the funnel must
  // fold per micro-batch instead of rescanning history)
  // -----------------------------------------------------------------

  /** One micro-batch fold of the funnel STATE table (one row per
    * user: user_id, f1, f2, f3 — the earliest step times): seed the
    * q188 window chain with each user's stored state, run it over the
    * batch alone, and keyed-MERGE the result back. The fold is EXACT
    * under per-user time-ordered arrival across batches — the ingest
    * contract the pipeline already enforces (T4: stale events route
    * to the DLQ, q22) — because a seeded chain only ever needs the
    * scalar (f1, f2, f3), never historical events: f2 = min view in
    * [f1, f1+H] and all earlier candidates are already folded.
    *
    * At 100 TB: per batch, ONE user_id window over the batch, a
    * broadcast-semi restriction of the state table to the batch's
    * users (the state never shuffles), and a keyed MERGE that
    * rewrites only touched files. Replay-safe via the merge txn
    * high-water mark. */
  def funnelFold(batch: DataFrame, stateDir: String,
      horizonUs: Long = FunnelHorizonUs,
      txn: Option[(String, Long)] = None): Unit = {
    import graft.sink.CdcTable
    val spark = batch.sparkSession
    val ev = batch.select(col("user_id"), col("event_type"),
      col("event_id"),
      expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tu"))
      .localCheckpoint() // pin: feeds the user-set restriction AND
                         // the chain; a streaming batch must not
                         // re-evaluate across the two
    val seeded =
      if (CdcTable.log(stateDir).nonEmpty) {
        // THE STATE NEVER SHUFFLES: restrict to the batch's users
        // via a broadcast semi-join, then left-join the (bounded)
        // survivors onto the batch
        val seeds = CdcTable.read(spark, stateDir)
          .select(col("user_id"), col("f1"), col("f2"), col("f3"))
          .join(broadcast(ev.select(col("user_id")).distinct()),
            Seq("user_id"), "left_semi")
        ev.join(broadcast(seeds), Seq("user_id"), "left")
      } else nullSeeds(ev)
    val folded = funnelChain(seeded, horizonUs)
    // the first fold's MERGE creates the state table; the txn
    // high-water mark skips replays
    CdcTable.merge(spark, stateDir, folded, Seq("user_id"),
      partitionBy = Nil, txn = txn)
    ()
  }

  /** The funnel report over the state table — identical shape (and,
    * given the same events, identical values: q201's gate) to the
    * batch q188. Reading the report is O(users), no event rescan. */
  def funnelReport(spark: SparkSession, stateDir: String): DataFrame =
    funnelStack(graft.sink.CdcTable.read(spark, stateDir)
      .agg(count(col("f1")).as("n1"), count(col("f2")).as("n2"),
        count(col("f3")).as("n3")))

  /** Streaming glue: events stream → per-micro-batch [[funnelFold]]
    * into the state table, exactly-once across checkpoint restarts
    * via the merge txn marker (the lmCounts/profileSync additive
    * maintenance pattern). Compose with the change-feed source
    * ([[graft.sources.GraftStreamSource]]) to materialize the funnel
    * of a live graft events table. */
  def funnelStreamToTable(stream: DataFrame, stateDir: String,
      checkpointDir: String, horizonUs: Long = FunnelHorizonUs,
      appId: String = "graft-funnel")
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        funnelFold(batch, stateDir, horizonUs, txn = Some((appId, id)))
        ()
      }
      .start()

  /** q201 — STREAMED funnel ≡ batch funnel (the q163 convention):
    * the events table folds through [[funnelFold]] in three
    * time-ordered micro-batches (a global time split is per-user
    * ordered by construction), and the state-table report must equal
    * the batch q188 — same oracle. */
  def q201(s: SparkSession, dir: String): DataFrame = {
    val state = QueryDef.scratchDir("graft_q201_funnel")
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"))
      .withColumn("tu", expr("unix_micros(CAST(ts AS TIMESTAMP))"))
    val cuts = ev
      .agg(expr("percentile(tu, array(0.33, 0.66))").as("p")).head()
      .getSeq[Double](0)
    val (c1, c2) = (cuts(0), cuts(1))
    funnelFold(ev.filter(col("tu") <= c1), state)
    funnelFold(ev.filter(col("tu") > c1 && col("tu") <= c2), state)
    funnelFold(ev.filter(col("tu") > c2), state)
    funnelReport(s, state)
  }

  /** The q188 window chain up to the per-user (f1, f2, f3) fold —
    * shared by the q188 and q197 oracles. */
  private val funnelCtesD: String =
    """e AS (SELECT user_id, event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events),
      |s1 AS (SELECT *, MIN(CASE WHEN event_type = 'signup' THEN tu END)
      |    OVER w AS t1 FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id
      |    ROWS UNBOUNDED PRECEDING)),
      |s2 AS (SELECT *, MIN(CASE WHEN event_type = 'view'
      |      AND tu >= t1 AND tu <= t1 + 259200000000 THEN tu END)
      |    OVER w AS t2 FROM s1
      |  WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id
      |    ROWS UNBOUNDED PRECEDING)),
      |s3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase'
      |      AND tu >= t2 AND tu <= t1 + 259200000000 THEN tu END)
      |    OVER w AS t3 FROM s2
      |  WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id
      |    ROWS UNBOUNDED PRECEDING)),
      |u AS (SELECT user_id, MIN(t1) AS f1, MIN(t2) AS f2, MIN(t3) AS f3
      |  FROM s3 GROUP BY user_id)""".stripMargin

  val q188Sql: String =
    s"""WITH $funnelCtesD,
       |c AS (SELECT COUNT(f1) AS n1, COUNT(f2) AS n2, COUNT(f3) AS n3
       |  FROM u)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS step, 'signup' AS step_type,
       |    n1 AS n_users, CAST(1000000 AS BIGINT) AS conv_fp FROM c
       |  UNION ALL SELECT 2, 'view', n2, n2 * 1000000 // NULLIF(n1, 0)
       |    FROM c
       |  UNION ALL SELECT 3, 'purchase', n3, n3 * 1000000 // NULLIF(n2, 0)
       |    FROM c)
       |ORDER BY step""".stripMargin

  /** q197 — funnel conversion LATENCY (completes q188: not just how
    * many convert, but how fast): over converted users, exact-input
    * percentiles of signup→purchase and signup→view microsecond
    * deltas (Spark `percentile` and DuckDB `quantile_cont` run the
    * same linear interpolation on the same sorted BIGINTs — the q49
    * convention). One scalar row off q188's per-user frame; the
    * percentile state is converter-count-bounded. */
  def q197(s: SparkSession, dir: String): DataFrame =
    funnelUsers(s, dir)
      .filter(col("f3").isNotNull)
      .agg(count(lit(1)).as("n_converted"),
        expr("percentile(f3 - f1, 0.5)").as("p50_us"),
        expr("percentile(f3 - f1, 0.9)").as("p90_us"),
        expr("percentile(f2 - f1, 0.5)").as("p50_step2_us"))

  val q197Sql: String =
    s"""WITH $funnelCtesD
       |SELECT COUNT(*) AS n_converted,
       |  quantile_cont(f3 - f1, 0.5) AS p50_us,
       |  quantile_cont(f3 - f1, 0.9) AS p90_us,
       |  quantile_cont(f2 - f1, 0.5) AS p50_step2_us
       |FROM u WHERE f3 IS NOT NULL""".stripMargin

  /** q189 — weekly retention cohorts (the second product-analytics
    * staple): users cohorted by the ISO week of their FIRST event;
    * for each (cohort_week, week_offset) the distinct users active
    * that week and the retention share of the cohort, in exact 10⁶
    * fixed point. Both engines truncate weeks to ISO Monday, so
    * offsets are exact multiples of 7 days and the `div 7` is exact.
    *
    * Scale shape: the (user, week) frame and the first-week fold
    * share one user_id shuffle; the cohort-size side is
    * cohort-count-bounded and broadcast into the final join. No
    * row-level state survives the two folds. */
  def q189(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events").select(col("user_id"),
      date_trunc("week", col("ts")).cast("date").as("wk"))
    val weeks = ev.distinct()
    val first = weeks.groupBy("user_id")
      .agg(min(col("wk")).as("cohort_week"))
    val sizes = first.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_users"))
    weeks.join(first, "user_id")
      .groupBy(col("cohort_week"),
        expr("CAST(datediff(wk, cohort_week) div 7 AS BIGINT)")
          .as("week_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .join(broadcast(sizes), "cohort_week")
      .withColumn("retention_fp",
        expr("active_users * 1000000L div cohort_users"))
      .select(col("cohort_week"), col("week_offset"),
        col("active_users"), col("retention_fp"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val q189Sql: String =
    """WITH ev AS (SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
      |  FROM events),
      |f AS (SELECT user_id, MIN(wk) AS cohort_week FROM ev
      |  GROUP BY user_id),
      |sz AS (SELECT cohort_week, COUNT(*) AS cohort_users FROM f
      |  GROUP BY 1),
      |j AS (SELECT f.cohort_week,
      |    CAST(datediff('day', f.cohort_week, ev.wk) // 7 AS BIGINT)
      |      AS week_offset,
      |    COUNT(DISTINCT ev.user_id) AS active_users
      |  FROM ev JOIN f USING (user_id) GROUP BY 1, 2)
      |SELECT j.cohort_week, j.week_offset, j.active_users,
      |  j.active_users * 1000000 // sz.cohort_users AS retention_fp
      |FROM j JOIN sz USING (cohort_week)
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** q194 — top user journeys (the path / Sankey analysis next to
    * q188's funnel): each user's first 5 event types in time order,
    * concatenated into a path string, ranked by how many users share
    * the path. One shuffle on user_id (row_number + the grouped
    * ordered fold reuse it), then a path-cardinality-bounded count
    * and a TakeOrdered(10) — corpus size enters only through the
    * first shuffle. Path assembly sorts the collected (rn, type)
    * structs so the string is order-exact, never collection-order. */
  def q194(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("tu"), col("event_id"))
    Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tu"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy("user_id")
      .agg(expr(
        """concat_ws('>', transform(
          |  array_sort(collect_list(struct(rn, event_type))),
          |  s -> s.event_type))""".stripMargin).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(10)
  }

  val q194Sql: String =
    """WITH e AS (SELECT user_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn
      |  FROM events),
      |p AS (SELECT user_id,
      |    string_agg(event_type, '>' ORDER BY rn) AS path
      |  FROM e WHERE rn <= 5 GROUP BY user_id)
      |SELECT path, COUNT(*) AS n_users FROM p GROUP BY path
      |ORDER BY n_users DESC, path LIMIT 10""".stripMargin

  /** q195 — event-rate anomaly detection (the ops-monitoring check a
    * CDC pipeline runs on its own throughput): hourly counts per
    * event type, flagged when the count sits more than 3 population
    * standard deviations from the type's mean — but computed WITHOUT
    * sqrt or floats: (n·x − S)² > 9·(n·Q − S²) with S = Σx, Q = Σx²
    * over the type's n hours is the same 3σ test cleared of
    * denominators. The moments are BIGINT but the TEST runs in
    * DECIMAL(38,0)/HUGEINT (the q143 fixed-point convention): S² and
    * (n·x)² pass 2⁶³ at ~3e9 events per type — plausible at the
    * 100 TB design point — where BIGINT would wrap silently in Spark
    * while DuckDB raises on checked overflow. 128-bit integer
    * arithmetic on both sides keeps the hash gate exact to ~10¹⁹
    * events per type.
    * Two aggregations (hourly counts, then per-type moments via one
    * window over the hour frame — type-cardinality-bounded state);
    * at 100 TB the hour×type frame is already tiny. */
  def q195(s: SparkSession, dir: String): DataFrame = {
    val wt = Window.partitionBy("event_type")
    Tables(s, dir, "events")
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n", count(lit(1)).over(wt))
      .withColumn("s", sum(col("cnt")).over(wt))
      .withColumn("q", sum(col("cnt") * col("cnt")).over(wt))
      .withColumn("anom", {
        def d(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          c.cast("decimal(38,0)")
        val dev = d(col("n")) * d(col("cnt")) - d(col("s"))
        val spread =
          d(col("n")) * d(col("q")) - d(col("s")) * d(col("s"))
        // loud domain guard (r15 advisor): past these magnitudes the
        // DECIMAL(38,0) squares below would overflow — which DuckDB's
        // HUGEINT raises on but non-ANSI Spark silently NULLs (the
        // anomaly would be counted false). |dev| < 1e19 keeps dev²
        // under 1e38; spread < 1.1e37 keeps 9·spread under 1e38. Both
        // hold through the documented ~1e19-events-per-type domain.
        val devLim = lit(new java.math.BigDecimal("10000000000000000000"))
          .cast("decimal(38,0)") // 1e19
        val spreadLim = lit(new java.math.BigDecimal(
          "11000000000000000000000000000000000000"))
          .cast("decimal(38,0)") // 1.1e37
        when(abs(dev) >= devLim || spread >= spreadLim,
          raise_error(lit("q195: 3σ moments exceed the exact " +
            "DECIMAL(38,0) domain (~1e19 events per type) — rescale " +
            "the window or shard the type")))
          .otherwise(dev * dev > d(lit(9L)) * spread)
      })
      .groupBy("event_type")
      .agg(max(col("n")).as("n_hours"), max(col("s")).as("n_events"),
        sum(when(col("anom"), 1L).otherwise(0L)).as("n_anomalies"),
        min(col("cnt")).as("min_hourly"), max(col("cnt")).as("max_hourly"))
      .orderBy(col("event_type"))
  }

  val q195Sql: String =
    """WITH h AS (SELECT event_type,
      |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, cnt,
      |    COUNT(*) OVER w AS n, SUM(cnt) OVER w AS s,
      |    SUM(cnt * cnt) OVER w AS q
      |  FROM h WINDOW w AS (PARTITION BY event_type))
      |SELECT event_type, MAX(n) AS n_hours,
      |  CAST(MAX(s) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN
      |    (CAST(n AS HUGEINT) * cnt - s) * (CAST(n AS HUGEINT) * cnt - s)
      |    > 9 * (CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
      |  MIN(cnt) AS min_hourly, MAX(cnt) AS max_hourly
      |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q18_hourly_windows", q18, Some(q18Sql)),
    QueryDef("q19_latest_per_user", q19, Some(q19Sql)),
    QueryDef("q20_cdc_classify", q20, Some(q20Sql)),
    QueryDef("q21_cdc_current_state", q21, Some(q21Sql)),
    QueryDef("q22_stale_events", q22, Some(q22Sql)),
    QueryDef("q23_json_extract", q23, Some(q23Sql)),
    QueryDef("q24_sessionize", q24, Some(q24Sql)),
    QueryDef("q85_session_window", q85, Some(q85Sql)),
    QueryDef("q122_interval_join", q122, Some(q122Sql)),
    QueryDef("q123_interval_overlap", q123, Some(q123Sql)),
    QueryDef("q188_funnel", q188, Some(q188Sql)),
    QueryDef("q189_retention_cohorts", q189, Some(q189Sql)),
    QueryDef("q194_event_paths", q194, Some(q194Sql)),
    QueryDef("q195_rate_anomaly", q195, Some(q195Sql)),
    QueryDef("q197_funnel_latency", q197, Some(q197Sql)),
    QueryDef("q201_funnel_streamed", q201, Some(q188Sql)))
}
