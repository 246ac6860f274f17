package graft.functions

import graft.SparkSpec
import graft.ext.Similarity
import org.apache.spark.sql.functions._

class LshBucketSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.5f)),
    (1L, Array(-0.2f, 0.8f, -0.4f, 0.1f)),
    (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
    (3L, Array(-1.0f, -0.5f, 0.25f, -0.125f))
  ).toDF("vec_id", "embedding")

  /** Reference: the built-in HOF composition of the hyperplane-LSH
    * bucket (interpreted lambdas, no graft expression). */
  private def composedSql(embCol: String, planes: Int,
      offset: Int): String =
    s"""aggregate(sequence(0, ${planes - 1}), 0L, (acc, j) -> acc +
       |  IF(aggregate(zip_with($embCol,
       |       sequence(0, size($embCol) - 1),
       |       (x, i) -> CAST(ROUND(CAST(x AS DOUBLE) * 1e7) AS BIGINT)
       |         * (pmod(i * 31 + (j + $offset) * 17,
       |              ${LshBucket.PlaneMod}) -
       |            ${LshBucket.PlaneMod / 2})),
       |       0L, (a2, v) -> a2 + v) > 0,
       |     shiftleft(1L, CAST(j AS INT)), 0L))""".stripMargin

  test("native lsh_bucket equals the HOF composition bit-exactly") {
    for ((planes, offset) <- Seq((4, 0), (1, 2), (2, 6), (8, 0))) {
      val both = vecs.select(
        expr(s"lsh_bucket(embedding, $planes, $offset)").as("native"),
        expr(composedSql("embedding", planes, offset)).as("composed"))
      assert(both.filter($"native" =!= $"composed").count() == 0,
        s"mismatch at planes=$planes offset=$offset")
    }
  }

  test("driver-side bucketOf mirrors the expression") {
    val rows = vecs.select(col("vec_id"),
        expr("lsh_bucket(embedding, 4, 0)").as("b"))
      .as[(Long, Long)].collect().toMap
    val local = Seq(
      0L -> Array(1.0f, 0.0f, 0.0f, 0.5f),
      1L -> Array(-0.2f, 0.8f, -0.4f, 0.1f),
      2L -> Array(0.0f, 0.0f, 0.0f, 0.0f),
      3L -> Array(-1.0f, -0.5f, 0.25f, -0.125f))
    local.foreach { case (id, v) =>
      assert(Similarity.bucketOf(v) == rows(id), s"vec $id")
    }
  }

  test("null element gives bucket 0, matching the composition") {
    val df = spark.sql(
      """SELECT array(cast(1.0 as float), cast(null as float)) AS embedding""")
    val r = df.select(
      expr("lsh_bucket(embedding, 4, 0)").as("native"),
      expr(composedSql("embedding", 4, 0)).as("composed"))
      .collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
  }

  test("rejects non-float-array input and bad plane counts") {
    val err = intercept[Exception](
      spark.sql("SELECT lsh_bucket(array(1, 2), 4, 0)").collect())
    assert(err.getMessage.toLowerCase.contains("array<float>"))
    val err2 = intercept[Exception](
      spark.sql("SELECT lsh_bucket(array(cast(1.0 as float)), 99, 0)")
        .collect())
    assert(err2.getMessage.contains("planes"))
  }
}
