package graft.functions

import graft.SparkSpec
import graft.ext.Sketch
import org.apache.spark.sql.functions._

/** The KMV distinct sketch: the aggregate's k-min-of-distinct
  * contract against a JVM reference (dedup internal to the buffer,
  * determinism under repartitioning), the exact merge law, the
  * fewer-than-k exact path, and the estimator's error bound on
  * corpora far larger than k. */
class KmvHashesSpec extends SparkSpec {
  import spark.implicits._

  /** JVM reference of [[Sketch.hash60]]: first 15 hex chars of the
    * md5 digest as a long. */
  private def hash60(v: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  private def jvmKmv(values: Seq[String], k: Int): Seq[Long] =
    values.map(hash60).distinct.sorted.take(k)

  test("sketch equals the JVM k-min-of-distinct reference") {
    val rnd = new scala.util.Random(7)
    // heavy duplication: dedup inside the buffer is the property
    val values = (1 to 4000).map(_ => s"v${rnd.nextInt(300)}")
    val df = values.toDF("v").repartition(16)
    for (k <- Seq(2, 16, 256)) {
      val got = Sketch.kmvSketch(df, "v", k, Seq.empty)
        .as[Seq[Long]].head()
      assert(got == jvmKmv(values, k), s"k=$k")
    }
  }

  test("merge law: merged per-group sketches equal the global sketch") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 5000).map(i => (i % 7, s"x${rnd.nextInt(2000)}"))
    val df = rows.toDF("g", "v").repartition(8)
    val k = 64
    val perGroup = Sketch.kmvSketch(df, "v", k, Seq("g"))
    val merged = Sketch.kmvMerge(perGroup, "kmv", k, Seq.empty)
      .as[Seq[Long]].head()
    val global = Sketch.kmvSketch(df, "v", k, Seq.empty)
      .as[Seq[Long]].head()
    assert(merged == global)
  }

  test("fewer than k distinct values: sketch is the set, estimate exact") {
    val df = (1 to 100).map(i => s"d${i % 10}").toDF("v").repartition(4)
    val est = Sketch.kmvDistinct(df, "v", 256, Seq.empty)
      .select(col("est_distinct")).as[Long].head()
    assert(est == 10L)
  }

  test("estimator within 4 sigma of exact on a large random domain") {
    val k = 256
    // rsd ~ 1/sqrt(k-2) ~ 6.3%; 4 sigma ~ 25%
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val n = 20000 + rnd.nextInt(30000)
      val values = (1 to n).map(_ => s"s${seed}_${rnd.nextInt(n * 3)}")
      val exact = values.distinct.size.toLong
      val est = Sketch.kmvDistinct(values.toDF("v").repartition(8),
          "v", k, Seq.empty)
        .select(col("est_distinct")).as[Long].head()
      val err = math.abs(est - exact).toDouble / exact
      assert(err < 0.25, s"seed=$seed exact=$exact est=$est err=$err")
    }
  }

  test("estimate formula matches the driver-side replay") {
    // pins the DECIMAL(38,0) div arithmetic the oracle mirrors in
    // HUGEINT: (k-1)*2^60 / h_k truncating
    val values = (1 to 3000).map(i => s"q$i")
    val k = 64
    val sketch = jvmKmv(values, k)
    val expect = (BigInt(k - 1) * BigInt(Sketch.HashDomain) /
      BigInt(sketch(k - 1))).toLong
    val est = Sketch.kmvDistinct(values.toDF("v").repartition(4),
        "v", k, Seq.empty)
      .select(col("est_distinct")).as[Long].head()
    assert(est == expect)
  }

  test("incremental: batched ≡ full, replay-idempotent, fold bounds rows, " +
      "k pinned at creation") {
    val rnd = new scala.util.Random(23)
    val rows = (1 to 3000).map(i =>
      (i.toLong, s"src${i % 3}", s"t${rnd.nextInt(500)}"))
    val df = rows.toDF("id", "src", "v").repartition(8)
    val k = 32
    val tbl = tmpDir("kmvtbl")
    (0 until 3).foreach { b =>
      Sketch.kmvAppend(df.filter($"id" % 3 === b), tbl, "v",
        Seq("src"), k, txn = Some(("t", b.toLong)))
    }
    // replay of batch 0: the txn marker must make it a no-op
    Sketch.kmvAppend(df.filter($"id" % 3 === 0), tbl, "v",
      Seq("src"), k, txn = Some(("t", 0L)))
    val full = Sketch.kmvSketch(df, "v", k, Seq("src"))
      .as[(String, Seq[Long])].collect().toMap
    def readAll() = Sketch.kmvRead(spark, tbl, Seq("src"))
      .select($"src", $"kmv").as[(String, Seq[Long])].collect().toMap
    assert(readAll() == full,
      "batched sketch must equal the full-scan sketch")
    graft.ext.Dedup.compactIndex(spark, tbl)
    assert(readAll() == full, "the fold must not change the sketch")
    val stored = graft.sink.CdcTable.read(spark, tbl)
    assert(stored.count() ==
      full.values.map(_.size.toLong).sum,
      "post-fold: exactly the k-min rows per group remain")
    // a different k must be rejected loudly (stored rows are only
    // meaningful under the creation-time k)
    val err = intercept[IllegalArgumentException] {
      Sketch.kmvAppend(df, tbl, "v", Seq("src"), 64)
    }
    assert(err.getMessage.contains("created with k=32"))
  }

  test("kmvStreamToTable: crash replay cannot double-land a batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val tbl = tmpDir("kmvstream")
    val ckpt = tmpDir("kmvstreamck")
    val mem = MemoryStream[(Long, String)]
    val q = Sketch.kmvStreamToTable(mem.toDF.toDF("id", "v"), "v",
      Seq.empty, tbl, ckpt, k = 16)
    try {
      mem.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      mem.addData((3L, "c")); q.processAllAvailable()
    } finally q.stop()
    // manual replay of batch 0 under its txn marker: no-op
    Sketch.kmvAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl,
      "v", Seq.empty, 16, txn = Some(("graft-kmv", 0L)))
    val got = Sketch.kmvRead(spark, tbl, Seq.empty)
      .select($"kmv").as[Seq[Long]].head()
    assert(got == jvmKmv(Seq("a", "b", "c"), 16))
  }

  test("kmvJaccard matches the JVM replay and tracks true Jaccard") {
    val k = 128
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // three sets with controlled overlap
      val common = (1 to 800).map(i => s"c${seed}_$i")
      val sets = Map(
        "p" -> (common ++ (1 to 1200).map(i => s"p$i")),
        "q" -> (common ++ (1 to 400).map(i => s"q$i")),
        "r" -> (1 to 600).map(i => s"r$i").toSeq)
      val rows = sets.toSeq.flatMap { case (g, vs) =>
        // duplicates must not matter
        (vs ++ vs.take(200)).map(v => (g, v))
      }
      val df = rnd.shuffle(rows).toDF("g", "v").repartition(8)
      val sk = graft.ext.Sketch.kmvSketch(df, "v", k, Seq("g"))
      val got = graft.ext.Sketch.kmvJaccard(sk, "g", k)
        .as[(String, String, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r).toMap
      // JVM replay: identical arithmetic from the full distinct sets
      val jsk = sets.map { case (g, vs) => g -> jvmKmv(vs, k) }
      for (((a, b), (_, _, shared, m, jfp)) <- got) {
        val u = (jsk(a) ++ jsk(b)).distinct.sorted.take(k)
        val sa = jsk(a).toSet; val sb = jsk(b).toSet
        val expShared = u.count(h => sa(h) && sb(h)).toLong
        assert((shared, m) == ((expShared, u.size.toLong)),
          s"pair $a-$b seed $seed")
        assert(jfp == expShared * 1000000L / u.size)
        // and the estimate tracks the true Jaccard (rsd ~ 1/sqrt(k))
        val va = sets(a).toSet; val vb = sets(b).toSet
        val truth = va.intersect(vb).size.toDouble / va.union(vb).size
        assert(math.abs(jfp / 1e6 - truth) < 0.15,
          s"pair $a-$b seed $seed est=${jfp / 1e6} true=$truth")
      }
      assert(got.keySet == Set(("p", "q"), ("p", "r"), ("q", "r")))
    }
  }

  test("count-min: JVM replay, >=-true-count invariant, additive merge") {
    val d = 4; val w = 64 // small width → forced collisions
    def cell(t: String, r: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(md.substring(r * 7, r * 7 + 7), 16) % w
    }
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val tokens = (1 to 4000).map(_ => s"tok${rnd.nextInt(300)}")
      val exact = tokens.groupBy(identity).map { case (t, v) =>
        t -> v.size.toLong }
      val tc = exact.toSeq.toDF("t", "c").repartition(8)
      val sk = graft.ext.Sketch.cmSketch(tc, "t", "c", d, w)
      // JVM replay of every cell
      val cells = Array.fill(d, w)(0L)
      exact.foreach { case (t, c) =>
        (0 until d).foreach(r => cells(r)(cell(t, r).toInt) += c) }
      val gotCells = sk.as[(Int, Long, Long)].collect()
        .map(x => (x._1, x._2) -> x._3).toMap
      assert(gotCells == (for {
        r <- 0 until d; c <- 0 until w if cells(r)(c) > 0
      } yield (r, c.toLong) -> cells(r)(c)).toMap, s"seed $seed")
      // estimates: >= exact always, == the min-over-rows replay
      val est = graft.ext.Sketch.cmEstimate(sk,
          exact.keys.toSeq.toDF("t"), "t", d, w)
        .as[(String, Long)].collect().toMap
      exact.foreach { case (t, c) =>
        val replay = (0 until d).map(r => cells(r)(cell(t, r).toInt)).min
        assert(est(t) == replay && est(t) >= c, s"$t seed $seed")
      }
      // unseen probe: hits only cells other tokens filled (or 0) —
      // still the replayed min
      val unseen = graft.ext.Sketch.cmEstimate(sk,
          Seq("never-seen-token").toDF("t"), "t", d, w)
        .as[(String, Long)].head()._2
      assert(unseen ==
        (0 until d).map(r => cells(r)(cell("never-seen-token", r).toInt)).min)
      // additive merge: summing two halves' sketches = whole sketch
      val (h1, h2) = exact.toSeq.splitAt(exact.size / 2)
      val merged = graft.ext.Sketch
        .cmSketch(h1.toDF("t", "c"), "t", "c", d, w)
        .unionByName(graft.ext.Sketch
          .cmSketch(h2.toDF("t", "c"), "t", "c", d, w))
        .groupBy($"r", $"cell").agg(sum($"cnt").as("cnt"))
        .as[(Int, Long, Long)].collect()
        .map(x => (x._1, x._2) -> x._3).toMap
      assert(merged == gotCells, s"merge law seed $seed")
    }
  }

  test("incremental sketches feed kmvJaccard identically to batch ones") {
    // the deployment composition: maintain per-source sketches
    // batch-at-a-time, answer the pairwise-overlap matrix from the
    // table — the k-min-of-union law makes it equal the single-pass
    // batch path bit for bit
    val rnd = new scala.util.Random(31)
    val common = (1 to 300).map(i => s"shared$i")
    val rows = (common.map(v => ("s1", v)) ++
      common.take(150).map(v => ("s2", v)) ++
      (1 to 400).map(_ => ("s1", s"a${rnd.nextInt(500)}")) ++
      (1 to 400).map(_ => ("s2", s"b${rnd.nextInt(500)}")))
      .zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
    val df = rows.toDF("id", "src", "v").repartition(8)
    val k = 64
    val tbl = tmpDir("kmvjac")
    (0 until 3).foreach { b =>
      graft.ext.Sketch.kmvAppend(df.filter($"id" % 3 === b), tbl, "v",
        Seq("src"), k, txn = Some(("t", b.toLong)))
    }
    val viaTable = graft.ext.Sketch.kmvJaccard(
        graft.ext.Sketch.kmvRead(spark, tbl, Seq("src")), "src", k)
      .as[(String, String, Long, Long, Long)].collect().toSet
    val viaBatch = graft.ext.Sketch.kmvJaccard(
        graft.ext.Sketch.kmvSketch(df, "v", k, Seq("src")), "src", k)
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(viaTable == viaBatch && viaTable.nonEmpty)
  }

  test("null values are skipped, k < 2 rejected") {
    val df = Seq(Some("a"), None, Some("b"), None)
      .toDF("v")
    val got = Sketch.kmvSketch(df, "v", 8, Seq.empty)
      .as[Seq[Long]].head()
    // nulls hash to null (md5(CAST(NULL AS STRING)) is null) and the
    // buffer skips them
    assert(got == jvmKmv(Seq("a", "b"), 8))
    intercept[IllegalArgumentException] {
      Sketch.kmvSketch(df, "v", 1, Seq.empty)
    }
  }

  test("out-of-Int-range k literal is rejected, not silently wrapped") {
    // 4294967298L wraps to 2 under Number.intValue — the aggregate
    // must reject it at analysis instead of building a k=2 sketch
    val df = Seq("a", "b", "c").toDF("v")
      .select(Sketch.hash60("v").as("_h"))
    val e = intercept[Exception] {
      df.selectExpr("kmv_hashes(_h, 4294967298)").collect()
    }
    assert(e.getMessage.contains("kmv_hashes"),
      s"unexpected error: ${e.getMessage}")
  }

  test("kmvJaccard with a k smaller than build-time k fails loudly") {
    val df = (1 to 500).map(i => ("g" + (i % 2), s"v$i")).toDF("g", "v")
    val sk = Sketch.kmvSketch(df, "v", 64, Seq("g"))
    // k=16 < build k=64: sketches carry 64 hashes — the in-plan guard
    // must fire rather than silently truncate the union slice
    val e = intercept[Exception] {
      Sketch.kmvJaccard(sk, "g", 16).collect()
    }
    assert(e.getMessage.contains("kmvJaccard") ||
      Option(e.getCause).exists(_.getMessage.contains("kmvJaccard")),
      s"unexpected error: ${e.getMessage}")
    // the correct k still works
    assert(Sketch.kmvJaccard(sk, "g", 64).count() == 1L)
  }

  test("kmvJaccardTable derives k from the sidecar — no mismatch " +
      "possible") {
    val df = (1 to 500).map(i => ("g" + (i % 2), s"v$i")).toDF("g", "v")
    val tbl = tmpDir("kmvjactbl")
    Sketch.kmvAppend(df, tbl, "v", Seq("g"), k = 64)
    val viaTable = Sketch.kmvJaccardTable(spark, tbl, "g")
      .as[(String, String, Long, Long, Long)].collect().toSet
    val viaExplicit = Sketch.kmvJaccard(
        Sketch.kmvRead(spark, tbl, Seq("g")), "g", 64)
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(viaTable == viaExplicit && viaTable.nonEmpty)
  }
}
