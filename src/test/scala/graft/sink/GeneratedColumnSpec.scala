package graft.sink

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Generated columns — Delta `GENERATED ALWAYS AS` parity: the
  * expression lives in the manifest schema's field metadata; writers
  * COMPUTE the column when a batch lacks it (the derived-date
  * partitioning pattern) and VERIFY it in-write when one provides
  * it (null-safe equality — a stale provided value fails loudly).
  * Gates: compute/verify/reject on append and MERGE, partitionBy on
  * the generated column, UPDATE staleness rejection, metadata
  * survival through the schema-merge lattice, source-column
  * RENAME/DROP rejection, and the SQL form. */
class GeneratedColumnSpec extends SparkSpec {
  import spark.implicits._

  private def chain(t: Throwable): String = {
    val sb = new StringBuilder
    var c: Throwable = t
    while (c != null) { sb.append(c.getMessage).append(" | ")
      c = c.getCause }
    sb.toString
  }

  test("compute when absent, verify when provided, reject when wrong") {
    val dir = tmpDir("gen_basic")
    CdcTable.append(Seq((10L, "a")).toDF("v", "_id"), dir,
      partitionBy = Nil)
    spark.sql(s"GRAFT ADD COLUMN '$dir' bucket BIGINT " +
      "GENERATED AS (v % 7)").collect()
    // absent → computed
    CdcTable.append(Seq((15L, "b")).toDF("v", "_id"), dir,
      partitionBy = Nil)
    // provided + correct → passes
    CdcTable.append(Seq((16L, "c", 2L)).toDF("v", "_id", "bucket"),
      dir, partitionBy = Nil)
    // provided + wrong → rejected, naming the generated column
    val bad = intercept[Exception](CdcTable.append(
      Seq((17L, "d", 99L)).toDF("v", "_id", "bucket"), dir,
      partitionBy = Nil))
    assert(chain(bad).contains("generated_bucket"), chain(bad))
    val got = CdcTable.read(spark, dir)
      .select("_id", "bucket").as[(String, Option[Long])]
      .collect().toMap
    // pre-DDL rows null-fill (the added-column rule, documented)
    assert(got == Map("a" -> None, "b" -> Some(1L), "c" -> Some(2L)))
  }

  test("partitionBy targets a generated column the batch never carries") {
    val dir = tmpDir("gen_part")
    CdcTable.append(Seq((1L, "seed")).toDF("v", "_id"), dir,
      partitionBy = Nil)
    CdcTable.addGeneratedColumn(spark, dir, "day",
      org.apache.spark.sql.types.StringType,
      "CASE WHEN v % 2 = 0 THEN 'even' ELSE 'odd' END")
    CdcTable.append((2L to 5L).map(i => (i, s"k$i")).toDF("v", "_id"),
      dir, partitionBy = Seq("day"))
    val files = CdcTable.log(dir).last.files
    assert(files.exists(_.contains("day=even")) &&
      files.exists(_.contains("day=odd")),
      s"generated partition dirs must materialize: $files")
    assert(CdcTable.read(spark, dir).filter(col("day") === "even")
      .select("v").as[Long].collect().sorted.toSeq == Seq(2L, 4L))
  }

  test("MERGE computes for a source without the column; UPDATE staleness rejects") {
    val dir = tmpDir("gen_dml")
    CdcTable.append(Seq((10L, "a"), (20L, "b")).toDF("v", "_id"), dir,
      partitionBy = Nil)
    CdcTable.addGeneratedColumn(spark, dir, "bucket",
      org.apache.spark.sql.types.LongType, "v % 7")
    CdcTable.merge(spark, dir,
      Seq((21L, "b"), (30L, "c")).toDF("v", "_id"), Seq("_id"),
      partitionBy = Nil)
    assert(CdcTable.read(spark, dir)
      .filter(col("_id") === "b").select("bucket").as[Long]
      .head() == 0L, "merge must recompute the generated column")
    // UPDATE that changes the source without recomputing → loud
    val stale = intercept[Exception](CdcTable.update(spark, dir,
      "_id = 'c'", Seq("v" -> "v + 1"), partitionBy = Nil))
    assert(chain(stale).contains("generated_bucket"), chain(stale))
    // recomputing both in one UPDATE passes
    CdcTable.update(spark, dir, "_id = 'c'",
      Seq("v" -> "v + 1", "bucket" -> "(v + 1) % 7"),
      partitionBy = Nil)
    assert(CdcTable.read(spark, dir)
      .filter(col("_id") === "c").select("v", "bucket")
      .as[(Long, Long)].head() == ((31L, 3L)))
  }

  test("pre-DDL null rows in the SAME file as DML targets pass the verify") {
    val dir = tmpDir("gen_prefile")
    // one file holds BOTH rows — the DDL bumps the schema version, so
    // the next predicate DML rewrites this whole file and the verify
    // must accept a's legitimate null-filled generated value
    CdcTable.append(Seq((10L, "a"), (20L, "b")).toDF("v", "_id")
      .coalesce(1), dir, partitionBy = Nil)
    CdcTable.addGeneratedColumn(spark, dir, "bucket",
      org.apache.spark.sql.types.LongType, "v % 7")
    CdcTable.update(spark, dir, "_id = 'b'",
      Seq("v" -> "v + 1", "bucket" -> "(v + 1) % 7"),
      partitionBy = Nil)
    val got = CdcTable.read(spark, dir)
      .select("_id", "v", "bucket")
      .as[(String, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map("a" -> ((10L, None)),
      "b" -> ((21L, Some(0L)))), s"got: $got")
    // a predicate DELETE over the mixed file also passes
    CdcTable.delete(spark, dir, "v = 21", partitionBy = Nil)
    assert(CdcTable.read(spark, dir).count() == 1)
  }

  test("appending a frame read from a generated table does NOT install generation elsewhere") {
    val a = tmpDir("gen_leak_a")
    val b = tmpDir("gen_leak_b")
    CdcTable.append(Seq((10L, "a")).toDF("v", "_id"), a,
      partitionBy = Nil)
    CdcTable.addGeneratedColumn(spark, a, "bucket",
      org.apache.spark.sql.types.LongType, "v % 7")
    CdcTable.append(Seq((15L, "b")).toDF("v", "_id"), a,
      partitionBy = Nil)
    // read(a)'s schema carries a's engine metadata — appending it to
    // b must strip it: b gets a plain nullable bucket column
    CdcTable.append(CdcTable.read(spark, a), b, partitionBy = Nil)
    // no compute on b: a batch lacking bucket leaves it null
    CdcTable.append(Seq((22L, "c")).toDF("v", "_id"), b,
      partitionBy = Nil)
    assert(CdcTable.read(spark, b).filter(col("_id") === "c")
      .select("bucket").as[Option[Long]].head().isEmpty,
      "b must not have inherited a's generation expression")
    // and no verify on b: an arbitrary bucket value is accepted
    CdcTable.append(Seq((23L, "d", 999L)).toDF("v", "_id", "bucket"),
      b, partitionBy = Nil)
    assert(CdcTable.read(spark, b).count() == 4)
  }

  test("metadata survives schema merges; source RENAME/DROP reject; chained generation rejects") {
    val dir = tmpDir("gen_meta")
    CdcTable.append(Seq((10L, "a")).toDF("v", "_id"), dir,
      partitionBy = Nil)
    CdcTable.addGeneratedColumn(spark, dir, "bucket",
      org.apache.spark.sql.types.LongType, "v % 7")
    // an append that WIDENS the schema (new column) merges schemas —
    // the generation metadata must survive the lattice
    CdcTable.append(Seq((15L, "b", "x")).toDF("v", "_id", "extra"),
      dir, partitionBy = Nil)
    CdcTable.append(Seq((22L, "c")).toDF("v", "_id"), dir,
      partitionBy = Nil)
    assert(CdcTable.read(spark, dir).filter(col("_id") === "c")
      .select("bucket").as[Long].head() == 1L,
      "generation must still fire after a schema merge")
    val r = intercept[Exception](
      CdcTable.renameColumn(dir, "v", "val"))
    assert(chain(r).contains("generated column"), chain(r))
    val d = intercept[Exception](CdcTable.dropColumn(dir, "v"))
    assert(chain(d).contains("generated column"), chain(d))
    // dropping the GENERATED column itself is fine
    CdcTable.dropColumn(dir, "bucket")
    assert(CdcTable.renameColumn(dir, "v", "val") > 0)
    // chained generation rejects
    val dir2 = tmpDir("gen_chain")
    CdcTable.append(Seq((1L, "a")).toDF("v", "_id"), dir2,
      partitionBy = Nil)
    CdcTable.addGeneratedColumn(spark, dir2, "b1",
      org.apache.spark.sql.types.LongType, "v + 1")
    val c = intercept[Exception](CdcTable.addGeneratedColumn(spark,
      dir2, "b2", org.apache.spark.sql.types.LongType, "b1 + 1"))
    assert(chain(c).contains("itself generated"), chain(c))
  }
}
