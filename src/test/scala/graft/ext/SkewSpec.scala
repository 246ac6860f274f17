package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals plain join on skewed data") {
    // 90% of big-side rows share one hot key
    val big = spark.range(0, 10000)
      .withColumn("k", when($"id" % 10 < 9, 0L).otherwise($"id" % 100))
      .withColumn("v", $"id" * 2)
    val small = spark.range(0, 100).toDF("k")
      .withColumn("name", concat(lit("n"), $"k"))
    val plain = big.join(small, Seq("k"))
    val salted = Skew.saltedJoin(big, small, "k", salts = 8)
    assert(salted.count() == plain.count())
    assert(salted.agg(sum($"v")).collect()(0).getLong(0) ==
      plain.agg(sum($"v")).collect()(0).getLong(0))
  }

  test("skew-aware salted join equals plain join; replication is " +
      "hot-only") {
    // 90% of big-side rows share one hot key; the rest are near-unique
    val big = spark.range(0, 10000)
      .withColumn("k", when($"id" % 10 < 9, 0L).otherwise($"id" % 100))
      .withColumn("v", $"id" * 2)
    val small = spark.range(0, 100).toDF("k")
      .withColumn("name", concat(lit("n"), $"k"))
    val plain = big.join(small, Seq("k"))
    for (salted <- Seq(
        Skew.saltedJoinSkewAware(big, small, "k", salts = 8,
          hotShare = 0.05),
        // detection skipped: caller supplies the hot set
        Skew.saltedJoinSkewAware(big, small, "k", salts = 8,
          knownHot = Some(Seq(0L))))) {
      assert(salted.count() == plain.count())
      assert(salted.agg(sum($"v")).head().getLong(0) ==
        plain.agg(sum($"v")).head().getLong(0))
    }
    // no hot key detected (uniform keys) → the join is the plain join
    val uniform = spark.range(0, 1000).withColumn("k", $"id" % 100)
      .withColumn("v", $"id")
    val nothingHot = Skew.saltedJoinSkewAware(uniform, small, "k",
      salts = 8, hotShare = 0.5)
    assert(!nothingHot.queryExecution.executedPlan.toString
        .contains("_salt"),
      "no hot keys → plain join, no salt machinery in the plan")
    assert(nothingHot.count() == uniform.join(small, Seq("k")).count())
    // hot-only replication: the small side expands by (salts-1) rows
    // per hot key, not salts× wholesale
    val hotOnly = Skew.saltedJoinSkewAware(big.filter($"k" === 0L),
      small, "k", salts = 8, knownHot = Some(Seq(0L)))
    assert(hotOnly.count() == plain.filter($"k" === 0L).count())
  }

  test("skew report surfaces the hot key") {
    val df = spark.range(0, 1000)
      .withColumn("k", when($"id" % 5 < 4, 7L).otherwise($"id"))
    val top = Skew.keySkewReport(df, "k", 1).collect()(0)
    assert(top.getLong(0) == 7L && top.getDouble(2) > 0.7)
  }
}
