package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Frame-spec windows and order-sensitive aggregation surfaces
  * (SURVEY.md §2.7 W6 + §2.6 extensions). Doubles inside moving
  * frames go through the fixed-point trick: incremental (Spark) vs
  * segment-tree (DuckDB) frame evaluation sums doubles in different
  * orders, but integer sums are order-free. collect_list is
  * explicitly sorted before concatenation — its native order is
  * partition-arrival nondeterministic. */
object WindowQ {

  /** q51 — moving window aggregate: 3-event moving sum/avg of value
    * per user, ordered by event time. */
  def q51(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, Window.currentRow)
    Tables(s, dir, "events")
      .withColumn("fixed", expr("CAST(ROUND(value * 1e4) AS BIGINT)"))
      .withColumn("mov_sum", (sum(col("fixed")).over(w) / 1e4))
      .withColumn("mov_n", count(lit(1)).over(w))
      .withColumn("mov_avg", col("mov_sum") / col("mov_n"))
      .filter(col("user_id") < 20)
      .select(col("user_id"), col("event_id"), col("mov_sum"),
        col("mov_n"), col("mov_avg"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q51Sql: String =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(ROUND(value * 1e4) AS BIGINT) AS fixed
      |  FROM events)
      |SELECT user_id, event_id,
      |  CAST(SUM(fixed) OVER w AS DOUBLE) / 1e4 AS mov_sum,
      |  COUNT(*) OVER w AS mov_n,
      |  (CAST(SUM(fixed) OVER w AS DOUBLE) / 1e4) / (COUNT(*) OVER w)
      |    AS mov_avg
      |FROM e WHERE user_id < 20
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  /** q52 — ordered string aggregation: sorted distinct order statuses
    * per priority (listagg/string_agg surface). */
  def q52(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        concat_ws(",", array_sort(collect_set(col("o_orderstatus"))))
          .as("statuses"),
        countDistinct(col("o_orderstatus")).as("n_statuses"))
      .orderBy(col("o_orderpriority"))

  val q52Sql: String =
    """SELECT o_orderpriority,
      |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
      |    AS statuses,
      |  COUNT(DISTINCT o_orderstatus) AS n_statuses
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q53 — multiset difference (EXCEPT ALL): duplicate-preserving set
    * semantics beyond q08's anti join. */
  def q53(s: SparkSession, dir: String): DataFrame = {
    val all = Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderstatus"))
    val finished = Tables(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey"), col("o_orderstatus"))
    all.exceptAll(finished)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("o_orderstatus"))
  }

  val q53Sql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_rows FROM (
      |  SELECT o_custkey, o_orderstatus FROM orders
      |  EXCEPT ALL
      |  SELECT o_custkey, o_orderstatus FROM orders
      |  WHERE o_orderstatus = 'F') t
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** q54 — generator/UDTF surface: positional explode of the embedding
    * vector (posexplode ≡ unnest over the index range in DuckDB). */
  def q54(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .filter(col("vec_id") < 3)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos"),
        col("col").cast("double").as("val"))
      .orderBy(col("vec_id"), col("pos"))

  val q54Sql: String =
    """SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
      |FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
      |WHERE vec_id < 3 ORDER BY vec_id, pos""".stripMargin

  /** q55 — approximate distinct via HLL sketch (Spark 4 datasketches
    * surface) + approx_count_distinct, made fully oracle-checkable:
    * raw HLL estimates differ between engines, so the query emits the
    * EXACT distinct counts (hash-compared against DuckDB) alongside a
    * relative-error BOUND on each estimator folded into a boolean the
    * oracle states as TRUE — a drifting/broken sketch flips the flag
    * and fails the hash. The asserted bound is 15% ≈ 3σ of the
    * estimators' default rsd (0.05 is a ONE-sigma figure, so a 5%
    * gate would flag legitimate estimator variance as wrongness on
    * any new corpus or scale factor — the gate must only catch a
    * BROKEN sketch, not an unlucky one). At 100 TB users run ONLY the
    * sketch columns (that is their point — one pass, bounded memory);
    * the exact columns here exist to gate the estimators against the
    * oracle. */
  def q55(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_suppkey")).as("exact_supps"),
        expr("hll_sketch_estimate(hll_sketch_agg(l_partkey))")
          .as("hll_parts"),
        approx_count_distinct(col("l_suppkey")).as("acd_supps"))
      .select(col("l_returnflag"),
        col("exact_parts"), col("exact_supps"),
        (abs(col("hll_parts") - col("exact_parts")) <=
          col("exact_parts") * 0.15).as("hll_within_3sigma"),
        (abs(col("acd_supps") - col("exact_supps")) <=
          col("exact_supps") * 0.15).as("acd_within_3sigma"))
      .orderBy(col("l_returnflag"))

  val q55Sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  COUNT(DISTINCT l_suppkey) AS exact_supps,
      |  TRUE AS hll_within_3sigma,
      |  TRUE AS acd_within_3sigma
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** q156 — portable KMV distinct-count sketch
    * ([[graft.ext.Sketch]]): per-returnflag estimates of distinct
    * parts, PLUS an 'ALL' row whose sketch is the MERGE of the
    * per-group sketches (the k-min-of-union law — the distributed /
    * incremental composition a 100 TB corpus needs). Unlike q55's
    * engine-private HLL (gateable only by an error bound), the KMV
    * estimate is a pure function of the input set over the stable
    * md5-prefix hash, so the oracle hash-matches the ESTIMATE itself:
    * DuckDB re-derives the k smallest distinct hashes per group (and
    * globally, which by the merge law equals the merged sketch) and
    * replays `(k−1)·2^60 div h_k` in HUGEINT. Exact distinct counts
    * ride along so the artifact also shows the estimator's accuracy. */
  private val KmvK = 256
  def q156(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Sketch
    val li = Tables(s, dir, "lineitem")
    val perFlag = Sketch.kmvSketch(li, "l_partkey", KmvK,
        Seq("l_returnflag"))
      .join(li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_distinct")),
        Seq("l_returnflag"))
    val global = Sketch.kmvMerge(
        perFlag.select(col("kmv")), "kmv", KmvK, Seq.empty)
      .withColumn("l_returnflag", lit("ALL"))
      .crossJoin(broadcast(li.agg(
        countDistinct(col("l_partkey")).as("exact_distinct"))))
    perFlag.unionByName(global.select(perFlag.columns.map(col): _*))
      .select(col("l_returnflag"),
        graft.ext.Sketch.estimate("kmv", KmvK).as("est_distinct"),
        col("exact_distinct"))
      .orderBy(col("l_returnflag"))
  }

  val q156Sql: String = {
    val k = KmvK
    val dom = graft.ext.Sketch.HashDomain
    // grp = NULL is the global row ('ALL'): the k-min over ALL
    // distinct hashes, which the merge law guarantees equals the
    // Spark side's merged per-group sketches.
    s"""WITH h AS (
       |  SELECT DISTINCT l_returnflag AS grp,
       |    CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h, l_partkey
       |  FROM lineitem),
       |both_grains AS (
       |  SELECT grp, h FROM (SELECT DISTINCT grp, h FROM h)
       |  UNION ALL
       |  SELECT NULL AS grp, h FROM (SELECT DISTINCT h FROM h)),
       |ranked AS (
       |  SELECT grp, h,
       |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn,
       |    COUNT(*) OVER (PARTITION BY grp) AS nd
       |  FROM both_grains),
       |est AS (
       |  SELECT COALESCE(grp, 'ALL') AS l_returnflag,
       |    CASE WHEN MAX(nd) < $k THEN MAX(nd)
       |         ELSE CAST((${k - 1}::HUGEINT * $dom::HUGEINT)
       |           // MAX(CASE WHEN rn = $k THEN h END)::HUGEINT AS BIGINT)
       |    END AS est_distinct
       |  FROM ranked GROUP BY grp),
       |exact AS (
       |  SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_distinct
       |  FROM lineitem GROUP BY 1
       |  UNION ALL
       |  SELECT 'ALL', COUNT(DISTINCT l_partkey) FROM lineitem)
       |SELECT est.l_returnflag, est.est_distinct, exact.exact_distinct
       |FROM est JOIN exact USING (l_returnflag)
       |ORDER BY l_returnflag""".stripMargin
  }

  /** q157 — INCREMENTAL distinct sketching
    * ([[graft.ext.Sketch.kmvAppend]]): per-source distinct-text
    * estimates maintained batch-at-a-time — documents land as three
    * id-sliced batches (one deliberately REPLAYED to prove the txn
    * markers keep appends exactly-once), the per-batch commits fold
    * to ≤ k rows per group under `GRAFT COMPACT INDEX`, and the
    * read-time sketch is graded against the FULL-SCAN oracle: the
    * k-min-of-union law (batched ≡ folded ≡ full) is the gated
    * property, the same freshness story as the LM count tables
    * (q151) applied to cardinality. */
  def q157(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Sketch
    val docs = Tables(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
    val tbl = QueryDef.scratchDir("kmvsketch")
    for (b <- 0 until 3)
      Sketch.kmvAppend(docs.filter(col("doc_id") % 3 === b), tbl,
        "text", Seq("source"), KmvK, txn = Some(("q157", b.toLong)))
    // replay of batch 1: must be a no-op (exactly-once appends)
    Sketch.kmvAppend(docs.filter(col("doc_id") % 3 === 1), tbl,
      "text", Seq("source"), KmvK, txn = Some(("q157", 1L)))
    s.sql(s"GRAFT COMPACT INDEX '$tbl'").collect()
    Sketch.kmvRead(s, tbl, Seq("source"))
      .select(col("source"), col("est_distinct"),
        size(col("kmv")).cast("long").as("n_mins"))
      .orderBy(col("source"))
  }

  val q157Sql: String = {
    val k = KmvK
    val dom = graft.ext.Sketch.HashDomain
    s"""WITH h AS (
       |  SELECT DISTINCT source,
       |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
       |  FROM documents),
       |ranked AS (
       |  SELECT source, h,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn,
       |    COUNT(*) OVER (PARTITION BY source) AS nd
       |  FROM h)
       |SELECT source,
       |  CASE WHEN MAX(nd) < $k THEN MAX(nd)
       |       ELSE CAST((${k - 1}::HUGEINT * $dom::HUGEINT)
       |         // MAX(CASE WHEN rn = $k THEN h END)::HUGEINT AS BIGINT)
       |  END AS est_distinct,
       |  LEAST(MAX(nd), $k) AS n_mins
       |FROM ranked GROUP BY source ORDER BY source""".stripMargin
  }

  /** q158 — pairwise source-overlap matrix from sketches alone
    * ([[graft.ext.Sketch.kmvJaccard]], Broder's bottom-k Jaccard):
    * every unordered source pair's content overlap estimated from the
    * two k-long sketches — no corpus pass per pair (q80's exact dup
    * matrix is the corpus-reading formulation). The estimate is a
    * pure function of the input sets, so the oracle replays it
    * exactly: k smallest distinct hashes of each source's texts, the
    * k smallest of each pair's union, shared-membership count, and
    * the fixed-point ratio — every column hash-matched. */
  def q158(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Sketch
    val docs = Tables(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
    val sk = Sketch.kmvSketch(docs, "text", KmvK, Seq("source"))
    Sketch.kmvJaccard(sk, "source", KmvK)
      .orderBy(col("a"), col("b"))
  }

  val q158Sql: String = {
    val k = KmvK
    s"""WITH h AS (
       |  SELECT DISTINCT source,
       |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
       |  FROM documents),
       |sk AS (
       |  SELECT source, h FROM (
       |    SELECT source, h,
       |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM h) WHERE rn <= $k),
       |pairs AS (
       |  SELECT x.source AS a, y.source AS b
       |  FROM (SELECT DISTINCT source FROM h) x,
       |       (SELECT DISTINCT source FROM h) y
       |  WHERE x.source < y.source),
       |uni AS (
       |  SELECT a, b, h,
       |    ROW_NUMBER() OVER (PARTITION BY a, b ORDER BY h) AS rn
       |  FROM (SELECT DISTINCT p.a, p.b, s.h
       |        FROM pairs p JOIN sk s
       |          ON s.source = p.a OR s.source = p.b)),
       |ucut AS (SELECT a, b, h FROM uni WHERE rn <= $k),
       |m AS (SELECT a, b, COUNT(*) AS m FROM ucut GROUP BY a, b),
       |sh AS (
       |  SELECT u.a, u.b, COUNT(*) AS shared
       |  FROM ucut u
       |  JOIN sk x ON x.source = u.a AND x.h = u.h
       |  JOIN sk y ON y.source = u.b AND y.h = u.h
       |  GROUP BY u.a, u.b)
       |SELECT p.a, p.b, COALESCE(sh.shared, 0) AS shared, m.m AS m,
       |  (COALESCE(sh.shared, 0) * 1000000) // m.m AS jaccard_fp
       |FROM pairs p
       |JOIN m ON m.a = p.a AND m.b = p.b
       |LEFT JOIN sh ON sh.a = p.a AND sh.b = p.b
       |ORDER BY p.a, p.b""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q51_moving_window", q51, Some(q51Sql)),
    QueryDef("q52_string_agg", q52, Some(q52Sql)),
    QueryDef("q53_except_all", q53, Some(q53Sql)),
    QueryDef("q54_posexplode", q54, Some(q54Sql)),
    QueryDef("q55_approx_distinct", q55, Some(q55Sql)),
    QueryDef("q156_kmv_distinct", q156, Some(q156Sql)),
    QueryDef("q157_kmv_incremental", q157, Some(q157Sql)),
    QueryDef("q158_source_overlap_kmv", q158, Some(q158Sql)))
}
