package graft.sink

import graft.SparkSpec
import graft.sink.FileStats.ColStats
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.sources._

/** Manifest-level data skipping: column min/max/hasNull harvested from
  * parquet footers at commit time, files pruned from the plan when
  * their range PROVES no row can match — and never otherwise. */
class FileStatsSpec extends SparkSpec {
  import spark.implicits._

  test("commits record footer stats and survive the log round trip") {
    val dir = tmpDir("fstats")
    CdcTable.append(Seq(
      (1L, "a", 0.5, "2026-08-10"), (9L, "b", 2.5, "2026-08-10"))
      .toDF("x", "_id", "score", "day").coalesce(1), dir,
      partitionBy = Nil)
    val c = CdcTable.log(dir).last
    assert(c.files.size == 1 && c.stats.nonEmpty)
    val stats = c.stats(c.files.head)
    assert(stats("x") == ColStats('n', Some("1"), Some("9"), false))
    assert(stats("score").min.contains("0.5") &&
      stats("score").max.contains("2.5"))
    assert(stats("_id") == ColStats('s', Some("a"), Some("b"), false))
    assert(stats("day").min.contains("2026-08-10"))
  }

  test("allows() prunes only provably-impossible files") {
    val s = Map(
      "x" -> ColStats('n', Some("10"), Some("20"), hasNull = false),
      "name" -> ColStats('s', Some("bb"), Some("dd"), hasNull = true),
      "allnull" -> ColStats('s', None, None, hasNull = true))
    def ok(f: Filter) = FileStats.allows(s, f)
    assert(!ok(EqualTo("x", 9L)) && ok(EqualTo("x", 10L)) &&
      ok(EqualTo("x", 15)) && !ok(EqualTo("x", 21.0)))
    assert(!ok(GreaterThan("x", 20L)) && ok(GreaterThanOrEqual("x", 20L)))
    assert(!ok(LessThan("x", 10L)) && ok(LessThanOrEqual("x", 10L)))
    assert(ok(In("x", Array(1L, 15L))) && !ok(In("x", Array(1L, 2L))))
    assert(!ok(EqualTo("name", "aa")) && ok(EqualTo("name", "cc")))
    assert(ok(IsNull("name")) && ok(IsNotNull("name")))
    assert(ok(IsNull("allnull")) && !ok(IsNotNull("allnull")))
    assert(!ok(EqualTo("allnull", "v")), "all-null file can't equal a value")
    // unknown column / un-judgeable shapes keep the file
    assert(ok(EqualTo("other", 1)) && ok(StringStartsWith("name", "c")))
    assert(ok(Not(EqualTo("x", 15))))
    // boolean composition
    assert(!ok(And(EqualTo("x", 15), EqualTo("name", "aa"))))
    assert(ok(Or(EqualTo("x", 15), EqualTo("name", "aa"))))
    assert(!ok(Or(EqualTo("x", 9), EqualTo("name", "aa"))))
  }

  test("int-backed decimal stats carry the scaled value") {
    val dir = tmpDir("fstatsdec")
    // precision 10 → INT64-backed: parquet stores the UNSCALED int
    val df = Seq(("a", "12.34"), ("b", "56.78")).toDF("_id", "s")
      .select($"_id", $"s".cast("decimal(10,2)").as("d"))
    CdcTable.append(df.coalesce(1), dir, partitionBy = Nil)
    val c = CdcTable.log(dir).last
    val stats = c.stats(c.files.head)
    assert(stats("d") == ColStats('n', Some("12.34"), Some("56.78"),
      hasNull = false), s"scaled bounds expected, got ${stats("d")}")
    // the exact shape that mis-pruned pre-fix: scaled filter value vs
    // (previously) unscaled recorded bound
    assert(FileStats.allows(stats,
      EqualTo("d", new java.math.BigDecimal("12.34"))))
    assert(!FileStats.allows(stats,
      EqualTo("d", new java.math.BigDecimal("11.00"))))
    val r = spark.read.format("graft").load(dir)
      .filter(col("d") === new java.math.BigDecimal("12.34"))
    assert(r.select("_id").as[String].collect().toSeq == Seq("a"))
  }

  test("non-ASCII string bounds are dropped, never mis-pruned") {
    val dir = tmpDir("fstatsuni")
    // U+FFFF sorts above U+10000 in UTF-16 but below it in UTF-8
    // bytes — bounds over these can't be ordered portably, so the
    // column records no stats and its files are never pruned
    CdcTable.append(Seq(("\uffff", 1L), ("\ud800\udc00", 2L))
      .toDF("_id", "x").coalesce(1), dir, partitionBy = Nil)
    val c = CdcTable.log(dir).last
    val stats = c.stats(c.files.head)
    assert(!stats.contains("_id"),
      s"non-ASCII bounds must not be recorded: ${stats.get("_id")}")
    assert(stats("x") == ColStats('n', Some("1"), Some("2"),
      hasNull = false))
    assert(spark.read.format("graft").load(dir)
      .filter($"_id" === "\uffff").count() == 1)
  }

  test("z-ordered replace tightens ranges so stats skipping bites") {
    val dir = tmpDir("fstatszorder")
    // interleaved x values: raw append files have overlapping ranges
    (0 until 3).foreach { i =>
      CdcTable.append((0 until 30).map(j => (i + 3L * j, s"r$i-$j"))
        .toDF("x", "_id").coalesce(1), dir, partitionBy = Nil)
    }
    // every raw file spans nearly the whole x range → no skipping
    val rawScanned = spark.read.format("graft").load(dir)
      .filter(col("x") < 10L)
      .select(input_file_name()).distinct().count()
    assert(rawScanned == 3, s"overlapping ranges can't skip: $rawScanned")
    // OPTIMIZE-style rewrite clustered on x → disjoint per-file ranges
    CdcTable.replaceWith(dir,
      CdcTable.zorderFrame(
        CdcTable.read(spark, dir), Seq("x"), nFiles = 3),
      partitionBy = Nil)
    val zScanned = spark.read.format("graft").load(dir)
      .filter(col("x") < 10L)
      .select(input_file_name()).distinct().count()
    assert(zScanned == 1,
      s"clustered ranges must confine the scan: $zScanned of 3 files")
    assert(spark.read.format("graft").load(dir).count() == 90)
  }

  test("format reads skip files by manifest stats, not just partitions") {
    val dir = tmpDir("fstatsprune")
    // three appends → three files with disjoint x ranges, same partition
    Seq(Seq((1L, "a"), (5L, "b")), Seq((10L, "c"), (15L, "d")),
      Seq((20L, "e"), (25L, "f")))
      .foreach(rows => CdcTable.append(
        rows.toDF("x", "_id").coalesce(1), dir, partitionBy = Nil))
    val q = spark.read.format("graft").load(dir)
      .filter(col("x") >= 10L && col("x") < 20L)
    assert(q.select("_id").as[String].collect().sorted.toSeq ==
      Seq("c", "d"))
    // only the middle file is in the planned scan at all
    val scanned = q.select(input_file_name()).distinct().as[String]
      .collect()
    val midFile = CdcTable.log(dir)(1).files.head
      .split('/').last
    assert(scanned.length == 1 && scanned.head.contains(midFile),
      s"expected only $midFile, scanned: ${scanned.mkString(", ")}")
    // an unfiltered read still sees every file
    assert(spark.read.format("graft").load(dir).count() == 6)
  }
}
