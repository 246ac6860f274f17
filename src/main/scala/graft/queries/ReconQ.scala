package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reconciliation operators (SURVEY.md §2.5 J2/J3; reference
  * `specs/001-mongodb-cdc-delta/research.md:659-858` — specified, never
  * implemented there). The source↔target diff is expressed as anti /
  * full-outer joins plus per-bucket digests, which is exactly how Spark
  * wants it: the reference's 8-worker thread pool becomes shuffle
  * partitions, and the 10k-doc batches become hash buckets computed
  * distributively (no driver-side ranges).
  *
  * The two "replicas" are simulated from the same orders table with
  * deterministic divergence, so the oracle can rebuild them in SQL:
  *   source  = orders minus keys ≡ 7 (mod 1000)       (missing in source)
  *   target  = orders minus keys ≡ 3 (mod 997),       (missing in target)
  *             with o_totalprice perturbed for keys ≡ 1 (mod 500)
  *             (field mismatch).
  *
  * The digest is engine-portable integer arithmetic (not xxhash64, which
  * differs between engines): sum over a key-mixed modular polynomial.
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

  /** q25 — missing/extra detection via two anti joins unioned with a
    * side tag (one full-outer join in physical terms at scale). */
  def q25(s: SparkSession, dir: String): DataFrame = {
    val src = source(s, dir).select(col("o_orderkey"))
    val tgt = target(s, dir).select(col("o_orderkey"))
    val missing = src.join(tgt, Seq("o_orderkey"), "left_anti")
      .withColumn("status", lit("missing_in_target"))
    val extra = tgt.join(src, Seq("o_orderkey"), "left_anti")
      .withColumn("status", lit("extra_in_target"))
    missing.union(extra).orderBy(col("o_orderkey"))
  }

  val q25Sql: String =
    s"""WITH src AS ($sourceSql), tgt AS ($targetSql)
       |SELECT o_orderkey, 'missing_in_target' AS status FROM src
       |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM tgt)
       |UNION ALL
       |SELECT o_orderkey, 'extra_in_target' AS status FROM tgt
       |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
       |ORDER BY o_orderkey""".stripMargin

  /** q26 — field-mismatch detection: inner join on key, compare payload
    * columns (reference drill-down compare, research.md:732-768). */
  def q26(s: SparkSession, dir: String): DataFrame = {
    val src = source(s, dir).select(col("o_orderkey"),
      col("o_totalprice").as("src_price"), col("o_orderstatus").as("src_status"))
    val tgt = target(s, dir).select(col("o_orderkey"),
      col("o_totalprice").as("tgt_price"), col("o_orderstatus").as("tgt_status"))
    src.join(tgt, Seq("o_orderkey"))
      .filter(col("src_price") =!= col("tgt_price") ||
        col("src_status") =!= col("tgt_status"))
      .select(col("o_orderkey"), col("src_price"), col("tgt_price"))
      .orderBy(col("o_orderkey"))
  }

  val q26Sql: String =
    s"""WITH src AS ($sourceSql), tgt AS ($targetSql)
       |SELECT src.o_orderkey,
       |  src.o_totalprice AS src_price, tgt.o_totalprice AS tgt_price
       |FROM src JOIN tgt ON src.o_orderkey = tgt.o_orderkey
       |WHERE src.o_totalprice <> tgt.o_totalprice
       |   OR src.o_orderstatus <> tgt.o_orderstatus
       |ORDER BY src.o_orderkey""".stripMargin

  /** q27 — bucketed digest comparison (J3): hash keys into 64 buckets,
    * compare per-bucket counts and digests; only mismatched buckets need
    * the row-level drill-down (q25/q26). At 100 TB the digest pass
    * touches every row once with a single narrow aggregation. */
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
