package graft.queries

import graft.Tables
import graft.reconcile.Reconciler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reconciliation operators (SURVEY.md §2.5 J2/J3; reference
  * `specs/001-mongodb-cdc-delta/research.md:659-858` — specified, never
  * implemented there). q25 and q26 read the library's own one-pass diff
  * ([[graft.reconcile.Reconciler.diff]]), so the oracle checks it; q27
  * compares per-bucket digests. The reference's 8-worker thread pool
  * becomes shuffle partitions, and its 10k-doc batches become hash
  * partitions computed distributively (no driver-side ranges).
  *
  * The two "replicas" are simulated from the same orders table with
  * deterministic divergence, so the oracle can rebuild them in SQL:
  *   source  = orders minus keys ≡ 7 (mod 1000)       (missing in source)
  *   target  = orders minus keys ≡ 3 (mod 997),       (missing in target)
  *             with o_totalprice perturbed for keys ≡ 1 (mod 500)
  *             (field mismatch).
  *
  * q27's digest is engine-portable integer arithmetic (not xxhash64,
  * which differs between engines): sum over a key-mixed modular
  * polynomial.
  */
object ReconQ {

  private def source(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders").filter(pmod(col("o_orderkey"), lit(1000)) =!= 7)

  private def target(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders").filter(pmod(col("o_orderkey"), lit(997)) =!= 3)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(500)) === 1,
          col("o_totalprice") + 0.5).otherwise(col("o_totalprice")))

  private val sourceSql =
    "SELECT * FROM orders WHERE o_orderkey % 1000 <> 7"
  private val targetSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 500 = 1 THEN o_totalprice + 0.5
      |         ELSE o_totalprice END AS o_totalprice,
      |    o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 997 <> 3""".stripMargin

  /** The replicas' diff over the two payload columns q26 compares. */
  private def diff(s: SparkSession, dir: String): Reconciler.Report =
    Reconciler.diff(source(s, dir), target(s, dir), "o_orderkey",
      Seq("o_totalprice", "o_orderstatus"))

  /** q25 — missing/extra detection: the diff's missing and extra rows'
    * keys, unioned with a side tag. */
  def q25(s: SparkSession, dir: String): DataFrame = {
    val r = diff(s, dir)
    def keys(df: DataFrame, status: String) =
      df.select(col("o_orderkey"), lit(status).as("status"))
    keys(r.missingInTarget, "missing_in_target")
      .union(keys(r.extraInTarget, "extra_in_target"))
      .orderBy(col("o_orderkey"))
  }

  val q25Sql: String =
    s"""WITH src AS ($sourceSql), tgt AS ($targetSql)
       |SELECT o_orderkey, 'missing_in_target' AS status FROM src
       |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM tgt)
       |UNION ALL
       |SELECT o_orderkey, 'extra_in_target' AS status FROM tgt
       |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
       |ORDER BY o_orderkey""".stripMargin

  /** q26 — field-mismatch detection: the diff's mismatched pairs
    * (reference drill-down compare, research.md:732-768). */
  def q26(s: SparkSession, dir: String): DataFrame =
    diff(s, dir).mismatched.select(col("o_orderkey"),
      col("o_totalprice").as("src_price"),
      col("tgt_o_totalprice").as("tgt_price"))
      .orderBy(col("o_orderkey"))

  val q26Sql: String =
    s"""WITH src AS ($sourceSql), tgt AS ($targetSql)
       |SELECT src.o_orderkey,
       |  src.o_totalprice AS src_price, tgt.o_totalprice AS tgt_price
       |FROM src JOIN tgt ON src.o_orderkey = tgt.o_orderkey
       |WHERE src.o_totalprice <> tgt.o_totalprice
       |   OR src.o_orderstatus <> tgt.o_orderstatus
       |ORDER BY src.o_orderkey""".stripMargin

  /** q27 — bucketed digest comparison (J3): hash keys into 64 buckets,
    * compare per-bucket counts and digests. The digest pass touches
    * every row once with a single narrow aggregation per side. */
  def q27(s: SparkSession, dir: String): DataFrame = {
    def digestOf(df: DataFrame, cnt: String, dig: String): DataFrame =
      df.groupBy(pmod(col("o_orderkey"), lit(64)).as("bucket"))
        .agg(count(lit(1)).as(cnt),
          sum((col("o_orderkey") * 2654435761L + col("o_custkey") * 40503L +
            length(col("o_orderstatus"))) % 1000000007L).as(dig))
    val a = digestOf(source(s, dir), "src_count", "src_digest")
    val b = digestOf(target(s, dir), "tgt_count", "tgt_digest")
    a.join(b, Seq("bucket"), "full_outer")
      .withColumn("is_match",
        col("src_count") <=> col("tgt_count") &&
          col("src_digest") <=> col("tgt_digest"))
      .orderBy(col("bucket"))
  }

  val q27Sql: String =
    s"""WITH src AS ($sourceSql), tgt AS ($targetSql),
       |a AS (SELECT o_orderkey % 64 AS bucket, COUNT(*) AS src_count,
       |    CAST(SUM((o_orderkey * 2654435761 + o_custkey * 40503
       |      + LENGTH(o_orderstatus)) % 1000000007) AS BIGINT) AS src_digest
       |  FROM src GROUP BY 1),
       |b AS (SELECT o_orderkey % 64 AS bucket, COUNT(*) AS tgt_count,
       |    CAST(SUM((o_orderkey * 2654435761 + o_custkey * 40503
       |      + LENGTH(o_orderstatus)) % 1000000007) AS BIGINT) AS tgt_digest
       |  FROM tgt GROUP BY 1)
       |SELECT COALESCE(a.bucket, b.bucket) AS bucket,
       |  src_count, src_digest, tgt_count, tgt_digest,
       |  (src_count IS NOT DISTINCT FROM tgt_count
       |   AND src_digest IS NOT DISTINCT FROM tgt_digest) AS is_match
       |FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
       |ORDER BY bucket""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q25_recon_missing_extra", q25, Some(q25Sql)),
    QueryDef("q26_recon_mismatch", q26, Some(q26Sql)),
    QueryDef("q27_recon_bucket_digest", q27, Some(q27Sql)))
}
