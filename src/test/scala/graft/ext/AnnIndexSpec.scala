package graft.ext

import graft.SparkSpec

class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-random unit-ish vectors
  private def corpus = {
    def vec(seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(8)((r.nextFloat() - 0.5f) * 2f)
    }
    (0L until 200L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
  }

  test("probe scans only the query bucket via static partition pruning") {
    val dir = tmpDir("annidx")
    AnnIndex.writeBucketed(corpus, dir)
    val qvec = corpus.filter($"vec_id" === 7L)
      .select("embedding").as[Array[Float]].collect().head
    val probe = AnnIndex.probe(spark, dir, qvec, k = 5)
    // the literal bucket filter must land in PartitionFilters (planning-
    // time pruning), not PushedFilters/post-scan predicates
    val plan = probe.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("bucket"),
      s"bucket filter missing from PartitionFilters: $scanLine")
    // and the probe's candidates are exactly the bucket's members,
    // re-ranked by the same fixed-point cosine as the exact path
    val qb = Similarity.bucketOf(qvec)
    val bucketed = corpus
      .withColumn("bucket", Similarity.lshBucket("embedding"))
      .filter($"bucket" === qb)
    val expect = Similarity
      .withCosine(bucketed,
        Seq(Tuple1(qvec)).toDF("qe"))
      .orderBy($"cos_sim".desc, $"vec_id")
      .limit(5)
      .select("vec_id").as[Long].collect().toSeq
    val got = probe.select("vec_id").as[Long].collect().toSeq
    assert(got == expect)

    // multi-probe: the IN-list of probe buckets must STILL land in
    // PartitionFilters (an `In` over the partition column is
    // planning-time prunable), and the result is the union of the
    // probed buckets re-ranked
    val mp = AnnIndex.probe(spark, dir, qvec, k = 5, probes = 3)
    val mpScan = mp.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(mpScan.contains("bucket"),
      s"multi-probe IN-list missing from PartitionFilters: $mpScan")
    val qbs = Similarity.multiProbeBuckets(qvec, probes = 3)
    val expectMp = Similarity
      .withCosine(corpus
        .withColumn("bucket", Similarity.lshBucket("embedding"))
        .filter($"bucket".isin(qbs: _*)),
        Seq(Tuple1(qvec)).toDF("qe"))
      .orderBy($"cos_sim".desc, $"vec_id")
      .limit(5).select("vec_id").as[Long].collect().toSeq
    assert(mp.select("vec_id").as[Long].collect().toSeq == expectMp)
  }

  test("IVF index probes only the query's cluster partition") {
    val dir = tmpDir("ivfidx")
    val all = corpus.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val cents = all.filter(_._1 < 4).sortBy(_._1).toIndexedSeq
    AnnIndex.writeIvf(corpus, dir, cents)
    val qvec = all.find(_._1 == 9L).get._2
    val probe = AnnIndex.probeIvf(spark, dir, qvec, cents, k = 5)
    val scanLine = probe.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cid"),
      s"cluster filter missing from PartitionFilters: $scanLine")
    // driver-side mirror validates the codegen'd assignment + rerank
    val qcid = Similarity.assignOf(qvec, cents)
    val expect = all
      .filter { case (_, v) => Similarity.assignOf(v, cents) == qcid }
      .map { case (id, v) => (id, Similarity.dotFixedOf(v, qvec) / 1e12) }
      .sortBy { case (id, cos) => (-cos, id) }
      .take(5).map(_._1).toSeq
    val got = probe.select("vec_id").as[Long].collect().toSeq
    assert(got == expect)
  }

  test("trained IVF index: learned centroids partition and probe correctly") {
    val dir = tmpDir("ivftrained")
    val cents = AnnIndex.writeIvfTrained(corpus, dir, k = 4, iters = 3)
    assert(cents.size == 4)
    val all = corpus.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val qvec = all.find(_._1 == 9L).get._2
    val probe = AnnIndex.probeIvf(spark, dir, qvec, cents, k = 5)
    val scanLine = probe.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cid"),
      s"cluster filter missing from PartitionFilters: $scanLine")
    // the probe against trained centroids matches the driver mirror
    val qcid = Similarity.assignOf(qvec, cents)
    val expect = all
      .filter { case (_, v) => Similarity.assignOf(v, cents) == qcid }
      .map { case (id, v) => (id, Similarity.dotFixedOf(v, qvec) / 1e12) }
      .sortBy { case (id, cos) => (-cos, id) }
      .take(5).map(_._1).toSeq
    assert(probe.select("vec_id").as[Long].collect().toSeq == expect)
  }

  test("IVFPQ index: no floats stored, pruned probe, mirror-exact ADC") {
    val dir = tmpDir("ivfpq")
    val rows = corpus.as[(Long, Array[Float])].collect()
    val cents = rows.filter(_._1 < 4).sortBy(_._1).toIndexedSeq
    val books = Similarity
      .pqCodebooksFromRows(corpus, "vec_id", "embedding", m = 4, codes = 8)
    AnnIndex.writeIvfPq(corpus, dir, cents, books)
    // the embedding column is genuinely gone — the index stores codes
    val idx = spark.read.parquet(dir)
    assert(!idx.columns.contains("embedding"),
      s"IVFPQ index must not store floats: ${idx.columns.toSeq}")
    val q = rows.find(_._1 == 7L).get._2
    val probe = AnnIndex.probeIvfPq(spark, dir, q, cents, books,
      k = 5, nprobe = 2)
    val scanLine = probe.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cid"),
      s"nprobe IN-list missing from PartitionFilters: $scanLine")
    // driver mirror: members of the 2 probed clusters ranked by ADC
    val qcids = Similarity.assignTopN(q, cents, 2).toSet
    val lut = Similarity.pqLut(q, books)
    val expect = rows
      .filter { case (_, v) => qcids(Similarity.assignOf(v, cents)) }
      .map { case (id, v) =>
        (id, Similarity.pqAdcOf(Similarity.pqEncodeOf(v, books), lut)) }
      .sortBy { case (id, adc) => (-adc, id) }.take(5).toSeq
    val got = probe.select($"vec_id", $"adc_fp")
      .as[(Long, Long)].collect().toSeq
    assert(got == expect, s"$got vs $expect")
  }

  test("appendIvf grows the index in place; probes see old and new") {
    val dir = tmpDir("ivfappend")
    val all = corpus.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val cents = all.filter(_._1 < 4).sortBy(_._1).toIndexedSeq
    val (first, second) = (corpus.filter($"vec_id" < 100),
      corpus.filter($"vec_id" >= 100))
    AnnIndex.writeIvf(first, dir, cents)
    AnnIndex.appendIvf(second, dir, cents)
    val qvec = all.find(_._1 == 9L).get._2
    val got = AnnIndex.probeIvf(spark, dir, qvec, cents, k = 8)
      .select("vec_id").as[Long].collect().toSeq
    val qcid = Similarity.assignOf(qvec, cents)
    val expect = all
      .filter { case (_, v) => Similarity.assignOf(v, cents) == qcid }
      .map { case (id, v) => (id, Similarity.dotFixedOf(v, qvec) / 1e12) }
      .sortBy { case (id, cos) => (-cos, id) }
      .take(8).map(_._1).toSeq
    assert(got == expect, "probe must rank across initial AND appended")
    assert(expect.exists(_ >= 100L) || got == expect)
  }

  test("banded nearDupPairs: full recall on planted near-dups, equi-join plan") {
    // planted pairs: tiny perturbations of a base vector (cos ≈ 1)
    val base = Array(0.6f, -0.3f, 0.5f, 0.2f, -0.4f, 0.1f, 0.3f, -0.2f)
    def jitter(eps: Float) = base.zipWithIndex.map {
      case (x, i) => x + (if (i == 0) eps else 0f) }
    val df = (Seq(
      (100L, base), (101L, jitter(0.01f)), (102L, jitter(0.02f))) ++
      (0L until 50L).map { i =>
        val r = new scala.util.Random(i + 7)
        (i, Array.fill(8)((r.nextFloat() - 0.5f) * 2f))
      }).toDF("vec_id", "embedding")
    val banded = Similarity.nearDupPairs(df, "vec_id", 0.999)
    val pairs = banded.select("a_id", "b_id").as[(Long, Long)]
      .collect().toSet
    assert(Set((100L, 101L), (100L, 102L), (101L, 102L)).subsetOf(pairs),
      s"planted near-dups must survive banding: $pairs")
    // scale-shape assertion: the candidate join is an equi-join on the
    // band keys, never a cartesian/broadcast-nested-loop product
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(500))
  }

  test("nearDupPairsExact remains the exhaustive baseline") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.999f, 0.04f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val exact = Similarity.nearDupPairsExact(vecs, "vec_id", 0.99)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact == Set((0L, 1L)))
  }

  test("knnJoinBucketed: dynamic partition pruning + per-bucket exact " +
      "ranking") {
    val dir = tmpDir("annidx-batch")
    AnnIndex.writeBucketed(corpus, dir)
    // query side must be a SOURCE with a surviving selective Filter
    // node (a LocalRelation's filter constant-folds away and DPP's
    // hasPartitionPruningFilter never sees it) — as in production,
    // where queries come from a table
    val qsrc = tmpDir("annidx-q")
    corpus.write.mode("overwrite").parquet(qsrc)
    val queries = spark.read.parquet(qsrc)
      .filter($"vec_id" % 40 === 0) // 5 queries
    val join = AnnIndex.knnJoinBucketed(
      spark.read.parquet(dir).filter($"vec_id" % 40 =!= 0),
      queries, "vec_id", k = 3)
    // the broadcast query set must become a RUNTIME partition filter —
    // only buckets some query hashes into are read
    val scanLine = join.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("dynamicpruning"),
      s"dynamic partition pruning missing from the index scan: $scanLine")
    // results = driver-side mirror: same-bucket candidates ranked by
    // the exact fixed-point cosine
    val rows = corpus.as[(Long, Array[Float])].collect()
    val bk = rows.map { case (id, v) => (id, v, Similarity.bucketOf(v)) }
    val expect = bk.filter(_._1 % 40 == 0).flatMap { case (qid, qe, qb) =>
      bk.filter(r => r._1 % 40 != 0 && r._3 == qb)
        .map { case (cid, ce, _) => (cid, Similarity.dotFixedOf(ce, qe)) }
        .sortBy { case (cid, s) => (-s, cid) }
        .take(3).zipWithIndex
        .map { case ((c, s), i) => (qid, c, (i + 1).toLong, s / 1e12) }
    }.toSet
    val got = join.select("q_id", "c_id", "rnk", "cos_sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == expect)
  }

  test("knnStreamToTable: per-batch probe lands exactly-once, restart " +
      "continues") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("annidx-stream")
    val out = tmpDir("annidx-sout")
    val ckpt = tmpDir("annidx-sckpt")
    AnnIndex.writeBucketed(corpus, dir)
    val rows = corpus.as[(Long, Array[Float])].collect()
    def vec(id: Long): Array[Float] = rows.find(_._1 == id).get._2
    val mem = MemoryStream[(Long, Array[Float])]
    val q = AnnIndex.knnStreamToTable(
      mem.toDF.toDF("q_id", "embedding"), "q_id", dir, out, ckpt, k = 3)
    try {
      mem.addData((1000L, vec(5)), (1001L, vec(17)))
      q.processAllAvailable()
      mem.addData((1002L, vec(42)))
      q.processAllAvailable()
    } finally q.stop()
    // restart from the same checkpoint: new batch appends, old ones
    // are not re-landed
    val q2 = AnnIndex.knnStreamToTable(
      mem.toDF.toDF("q_id", "embedding"), "q_id", dir, out, ckpt, k = 3)
    try {
      mem.addData((1003L, vec(99)))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = graft.sink.CdcTable.read(spark, out)
      .select("q_id", "c_id", "rnk")
      .as[(Long, Long, Long)].collect()
    // each query exactly once, each with exactly k=3 ranked rows
    // equal to the batch-mode probe of its own bucket
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet == Set(1000L, 1001L, 1002L, 1003L))
    for ((qid, src) <- Seq((1000L, 5L), (1001L, 17L), (1002L, 42L),
        (1003L, 99L))) {
      val mine = byQ(qid).sortBy(_._3)
      assert(mine.map(_._3).toSeq == Seq(1L, 2L, 3L), s"q=$qid")
      val qb = Similarity.bucketOf(vec(src))
      val expect = rows.map { case (cid, ce) =>
        (cid, Similarity.bucketOf(ce), Similarity.dotFixedOf(ce, vec(src)))
      }.filter(_._2 == qb)
        .sortBy { case (cid, _, s) => (-s, cid) }.take(3).map(_._1).toSeq
      assert(mine.map(_._2).toSeq == expect, s"q=$qid")
    }
  }
}
