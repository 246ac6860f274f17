package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Batched k-NN join: the brute path against a hand-rolled exact
  * oracle, the LSH path's candidate-set contract (results share the
  * query's bucket and rank exactly as the brute ranking restricted to
  * that candidate set), and the plan shape (aggregate reduction, not a
  * full-shuffle window). */
class KnnJoinSpec extends SparkSpec {
  import spark.implicits._

  // small deterministic corpus of unit-ish vectors
  private lazy val emb = {
    val rnd = new scala.util.Random(7)
    (0L until 60L).map { id =>
      val v = Array.fill(8)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (id, v.map(_ / n))
    }.toDF("vec_id", "embedding").repartition(6)
  }

  private def brute(k: Int) = Similarity.knnJoinBrute(
    emb.filter($"vec_id" % 5 === 0), emb.filter($"vec_id" % 5 =!= 0),
    "vec_id", "vec_id", k)

  test("brute top-k matches a driver-side exact ranking") {
    val rows = emb.as[(Long, Array[Float])].collect()
    val qs = rows.filter(_._1 % 5 == 0)
    val cs = rows.filter(_._1 % 5 != 0)
    val expect = qs.flatMap { case (qid, qe) =>
      cs.map { case (cid, ce) => (qid, cid, Similarity.dotFixedOf(ce, qe)) }
        .sortBy { case (_, cid, s) => (-s, cid) }
        .take(3).zipWithIndex
        .map { case ((q, c, s), i) => (q, c, (i + 1).toLong, s / 1e12) }
    }.toSet
    val got = brute(3).select("q_id", "c_id", "rnk", "cos_sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == expect)
  }

  test("hardNegatives: the brute ranking with same-label rows removed") {
    val labeled = emb.withColumn("label",
      (col("vec_id") % 3).cast("int"))
    val got = Similarity.hardNegatives(
        labeled.filter($"vec_id" % 5 === 0),
        labeled.filter($"vec_id" % 5 =!= 0),
        "vec_id", "vec_id", "label", k = 4)
      .select("q_id", "c_id", "rnk")
      .as[(Long, Long, Long)].collect().toSet
    // reference: brute ranking over the label-filtered pair set
    val rows = labeled.select("vec_id", "embedding", "label")
      .as[(Long, Array[Float], Int)].collect()
    val qs = rows.filter(_._1 % 5 == 0)
    val cs = rows.filter(_._1 % 5 != 0)
    val expect = qs.flatMap { case (qid, qe, qlab) =>
      cs.filter(_._3 != qlab).map { case (cid, ce, _) =>
        val s = ce.zip(qe).map { case (a, b) =>
          Math.round(a.toDouble * b.toDouble * 1e12)
        }.sum
        (cid, s)
      }.sortBy { case (cid, s) => (-s, cid) }.take(4).zipWithIndex
        .map { case ((cid, _), i) => (qid, cid, (i + 1).toLong) }
    }.toSet
    assert(got == expect)
    // no mined negative ever shares its query's label
    val labs = rows.map(r => r._1 -> r._3).toMap
    got.foreach { case (q, c, _) => assert(labs(q) != labs(c)) }
  }

  test("every query returns exactly k rows with ranks 1..k") {
    val got = brute(4).groupBy("q_id")
      .agg(count(lit(1)).as("n"), collect_list("rnk").as("rs"))
      .as[(Long, Long, Seq[Long])].collect()
    assert(got.length == 12) // 60/5 queries
    got.foreach { case (_, n, rs) =>
      assert(n == 4 && rs.sorted == Seq(1L, 2L, 3L, 4L))
    }
  }

  test("LSH path returns the brute ranking restricted to same-bucket " +
      "candidates") {
    val p = 4
    val lsh = Similarity.knnJoinLsh(
      emb.filter($"vec_id" % 5 === 0), emb.filter($"vec_id" % 5 =!= 0),
      "vec_id", "vec_id", k = 3, planes = p)
      .select("q_id", "c_id", "rnk", "cos_sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    // driver-side mirror: bucket everything, rank within bucket matches
    val rows = emb.as[(Long, Array[Float])].collect()
    val bk = rows.map { case (id, v) =>
      (id, v, Similarity.bucketOf(v, p)) }
    val qs = bk.filter(_._1 % 5 == 0)
    val cs = bk.filter(_._1 % 5 != 0)
    val expect = qs.flatMap { case (qid, qe, qb) =>
      cs.filter(_._3 == qb)
        .map { case (cid, ce, _) => (cid, Similarity.dotFixedOf(ce, qe)) }
        .sortBy { case (cid, s) => (-s, cid) }
        .take(3).zipWithIndex
        .map { case ((c, s), i) => (qid, c, (i + 1).toLong, s / 1e12) }
    }.toSet
    assert(lsh == expect)
    // and the block really prunes: fewer candidate pairs than brute
    assert(lsh.size <= 12 * 3)
  }

  test("IVF path matches the driver-side assignment + per-cluster " +
      "ranking") {
    val rows = emb.as[(Long, Array[Float])].collect()
    val cents = rows.filter(_._1 < 4).sortBy(_._1).toIndexedSeq
    val got = Similarity.knnJoinIvf(
      emb.filter($"vec_id" % 5 === 0), emb.filter($"vec_id" % 5 =!= 0),
      "vec_id", "vec_id", k = 3, cents)
      .select("q_id", "c_id", "rnk", "cos_sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    val assigned = rows.map { case (id, v) =>
      (id, v, Similarity.assignOf(v, cents)) }
    val expect = assigned.filter(_._1 % 5 == 0).flatMap {
      case (qid, qe, qc) =>
        assigned.filter(r => r._1 % 5 != 0 && r._3 == qc)
          .map { case (cid, ce, _) => (cid, Similarity.dotFixedOf(ce, qe)) }
          .sortBy { case (cid, s) => (-s, cid) }
          .take(3).zipWithIndex
          .map { case ((c, s), i) => (qid, c, (i + 1).toLong, s / 1e12) }
    }.toSet
    assert(got == expect)
  }

  test("multiProbeBuckets: base first, single-bit flips by margin") {
    val rnd = new scala.util.Random(11)
    (1 to 20).foreach { _ =>
      val v = Array.fill(8)(rnd.nextGaussian().toFloat)
      val ms = Similarity.planeMargins(v)
      val base = Similarity.bucketOf(v)
      for (p <- 1 to 5) {
        val bs = Similarity.multiProbeBuckets(v, probes = p)
        assert(bs.head == base, "base bucket probes first")
        assert(bs.size == p && bs.distinct.size == p)
        // every extra probe differs from base in exactly one bit
        bs.tail.foreach(b =>
          assert(java.lang.Long.bitCount(b ^ base) == 1, s"$b vs $base"))
        // flips follow increasing (|margin|, plane) order
        val flipped = bs.tail.map(b =>
          java.lang.Long.numberOfTrailingZeros(b ^ base))
        val expected = ms.zipWithIndex
          .map { case (m, j) => (math.abs(m), j) }
          .sorted.take(p - 1).map(_._2)
        assert(flipped == expected.toSeq, s"$flipped vs ${expected.toSeq}")
      }
    }
    intercept[IllegalArgumentException] {
      Similarity.multiProbeBuckets(Array(1f, 0f), planes = 4, probes = 6)
    }
  }

  test("distributed probe set is bit-identical to the driver mirror") {
    val rows = emb.as[(Long, Array[Float])].collect()
    val got = emb
      .withColumn("ms", expr(Similarity.marginsSql("embedding", 4)))
      .withColumn("pbs", expr(Similarity.probeSetSql("ms", 4, 3)))
      .select($"vec_id", $"pbs").as[(Long, Seq[Long])]
      .collect().toMap
    rows.foreach { case (id, v) =>
      assert(got(id) == Similarity.multiProbeBuckets(v, probes = 3),
        s"vec $id")
    }
  }

  test("multi-probe widens the LSH join candidate set, never narrows") {
    val idx = tmpDir("mp-idx")
    AnnIndex.writeBucketed(emb.filter($"vec_id" % 5 =!= 0), idx)
    val index = spark.read.parquet(idx)
    val queries = emb.filter($"vec_id" % 5 === 0)
    def ids(probes: Int) = AnnIndex
      .knnJoinBucketed(index, queries, "vec_id", k = 60, probes = probes)
      .select($"q_id", $"c_id").as[(Long, Long)].collect().toSet
    val single = ids(1)
    val multi = ids(3)
    assert(single.subsetOf(multi), "probes only add candidates")
    assert(multi.size > single.size,
      "on a 16-bucket index, 3 probes must surface extra candidates")
    // each extra candidate really lives in a single-bit-flip bucket of
    // its query's base bucket
    val byId = emb.as[(Long, Array[Float])].collect().toMap
    (multi -- single).foreach { case (q, c) =>
      val flips = Similarity.multiProbeBuckets(byId(q), probes = 3).tail
      assert(flips.contains(Similarity.bucketOf(byId(c))), s"($q,$c)")
    }
  }

  test("IVF nprobe: top-n assignment mirrors, candidates only widen") {
    val rows = emb.as[(Long, Array[Float])].collect()
    val cents = rows.filter(_._1 < 4).sortBy(_._1).toIndexedSeq
    // driver mirror vs the distributed literal-argmax expression
    val got = emb
      .withColumn("cs",
        Similarity.ivfAssignTopNLit("embedding", cents, 3))
      .select($"vec_id", $"cs").as[(Long, Seq[Long])].collect().toMap
    rows.foreach { case (id, v) =>
      assert(got(id) == Similarity.assignTopN(v, cents, 3), s"vec $id")
      assert(got(id).head == Similarity.assignOf(v, cents),
        "first probe is the plain assignment")
    }
    // join candidates widen monotonically with nprobe; at nprobe = k
    // (all clusters) the IVF join equals the brute ranking
    def ids(np: Int) = Similarity.knnJoinIvf(
      emb.filter($"vec_id" % 5 === 0), emb.filter($"vec_id" % 5 =!= 0),
      "vec_id", "vec_id", k = 60, cents, nprobe = np)
      .select($"q_id", $"c_id").as[(Long, Long)].collect().toSet
    val n1 = ids(1); val n2 = ids(2); val n4 = ids(4)
    assert(n1.subsetOf(n2) && n2.subsetOf(n4), "nprobe only adds")
    assert(n4 == brute(60).select($"q_id", $"c_id")
      .as[(Long, Long)].collect().toSet,
      "probing every cluster is exhaustive search")
    intercept[IllegalArgumentException] {
      Similarity.assignTopN(rows.head._2, cents, 5)
    }
  }

  test("PQ join matches the driver-side encode + ADC ranking") {
    // dim 8, m = 4 subvectors of width 2, 8 sampled codes — the
    // compressed join must reproduce exactly the ranking the driver
    // mirrors (pqEncodeOf / pqLut / pqAdcOf) compute
    val rows = emb.as[(Long, Array[Float])].collect()
    val books = Similarity.pqCodebooksFromRows(
      emb, "vec_id", "embedding", m = 4, codes = 8)
    val qs = rows.filter { case (id, _) => id >= 8 && id % 5 == 0 }
    val cs = rows.filter { case (id, _) => id >= 8 && id % 5 != 0 }
    val expect = qs.flatMap { case (qid, qv) =>
      val lut = Similarity.pqLut(qv, books)
      cs.map { case (cid, cv) =>
        (qid, cid,
          Similarity.pqAdcOf(Similarity.pqEncodeOf(cv, books), lut))
      }.sortBy { case (_, cid, s) => (-s, cid) }.take(3).zipWithIndex
        .map { case ((q, c, s), i) => (q, c, i + 1L, s) }
    }.toSet
    val got = Similarity.knnJoinPq(
      emb.filter($"vec_id" >= 8 && $"vec_id" % 5 === 0),
      emb.filter($"vec_id" >= 8 && $"vec_id" % 5 =!= 0),
      "vec_id", "vec_id", k = 3, books)
      .select($"q_id", $"c_id", $"rnk",
        (col("adc_sim") * 1e12).cast("long"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expect, s"\n got=${got.toSeq.sorted.take(6)}\n " +
      s"exp=${expect.toSeq.sorted.take(6)}")
  }

  test("labelPropagate picks the majority label with pinned tie rules") {
    val labeled = emb.withColumn("label", (col("vec_id") % 3).cast("int"))
    val got = Similarity.labelPropagate(
        labeled.filter($"vec_id" % 5 === 0),
        labeled.filter($"vec_id" % 5 =!= 0),
        "vec_id", "vec_id", "label", k = 5)
      .as[(Long, Int, Long, Long)].collect().map(t => t._1 -> t).toMap
    // driver reference: exact knn, then (votes DESC, best rank, label)
    val rows = labeled.select("vec_id", "embedding", "label")
      .as[(Long, Array[Float], Int)].collect()
    val qs = rows.filter(_._1 % 5 == 0)
    val cs = rows.filter(_._1 % 5 != 0)
    val expect = qs.map { case (qid, qe, _) =>
      val knn = cs.map { case (cid, ce, lab) =>
        (cid, lab, Similarity.dotFixedOf(ce, qe)) }
        .sortBy { case (cid, _, s) => (-s, cid) }.take(5).zipWithIndex
      val (lab, votes, bestRnk) = knn.groupBy(_._1._2).map {
        case (lab, g) =>
          (lab, g.size.toLong, g.map(_._2 + 1L).min)
      }.toSeq.sortBy { case (l, v, r) => (-v, r, l) }.head
      qid -> ((qid, lab, votes, bestRnk))
    }.toMap
    assert(got == expect)
    assert(got.size == 12) // one prediction per query
  }

  test("labelStreamToTable lands the batch-path predictions exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val out = tmpDir("lblout"); val ckpt = tmpDir("lblck")
    val labeled = emb.withColumn("label", (col("vec_id") % 3).cast("int"))
      .filter($"vec_id" % 5 =!= 0)
    val arriving = emb.filter($"vec_id" % 5 === 0)
      .as[(Long, Array[Float])].collect().toSeq
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Similarity.labelStreamToTable(
      mem.toDF.toDF("vec_id", "embedding"), "vec_id",
      () => labeled, "vec_id", "label", k = 5, out, ckpt)
    try {
      mem.addData(arriving.take(5): _*); q.processAllAvailable()
      mem.addData(arriving.drop(5): _*); q.processAllAvailable()
    } finally q.stop()
    val landed = graft.sink.CdcTable.read(spark, out)
      .select("vec_id", "pred_label").as[(Long, Int)].collect().toMap
    // batch-path mirror: predictions are a pure function of
    // (vector, reference set) — the stream must land the same labels
    val mirror = Similarity.labelPropagate(
        emb.filter($"vec_id" % 5 === 0), labeled,
        "vec_id", "vec_id", "label", k = 5)
      .select("q_id", "pred_label").as[(Long, Int)].collect().toMap
    assert(landed == mirror, s"stream $landed vs batch $mirror")
    assert(landed.size == arriving.size, "every arrival labeled")
  }

  test("labelStreamToTable lands unpredicted rows with null pred_label") {
    // advisor r10: an inner join silently dropped rows that received
    // no prediction; the LEFT join must land them with a null label
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val out = tmpDir("lblout2"); val ckpt = tmpDir("lblck2")
    val empty = emb.withColumn("label", lit(0))
      .filter(lit(false)) // empty reference set → zero predictions
    val arriving = emb.limit(4)
      .as[(Long, Array[Float])].collect().toSeq
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Similarity.labelStreamToTable(
      mem.toDF.toDF("vec_id", "embedding"), "vec_id",
      () => empty, "vec_id", "label", k = 5, out, ckpt)
    try { mem.addData(arriving: _*); q.processAllAvailable() }
    finally q.stop()
    val landed = graft.sink.CdcTable.read(spark, out)
      .select("vec_id", "pred_label")
      .as[(Long, Option[Int])].collect().toMap
    assert(landed.size == arriving.size,
      "unpredicted rows must land, not vanish")
    assert(landed.values.forall(_.isEmpty),
      "no reference set → every pred_label null")
  }

  test("excludeSelf drops the trivial self match on both knn paths") {
    for (df <- Seq(
        Similarity.knnJoinBrute(emb, emb, "vec_id", "vec_id", k = 3,
          excludeSelf = true),
        Similarity.knnJoinLsh(emb, emb, "vec_id", "vec_id", k = 3,
          planes = 3, excludeSelf = true))) {
      df.select("q_id", "c_id", "rnk", "cos_sim")
        .as[(Long, Long, Long, Double)].collect()
        .foreach { case (q, c, _, _) => assert(q != c) }
    }
    // without the flag the self match ranks first (cosine ≈ 1)
    Similarity.knnJoinLsh(emb, emb, "vec_id", "vec_id", k = 1,
        planes = 3)
      .select("q_id", "c_id", "rnk", "cos_sim")
      .as[(Long, Long, Long, Double)].collect()
      .foreach { case (q, c, _, _) => assert(q == c) }
  }

  test("plan reduces via aggregate, not a full-shuffle window") {
    val plan = brute(3).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"brute k-NN join should reduce with topk_by, got:\n$plan")
    assert(plan.contains("topk_by"), plan)
  }
}
