package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // tiny hand-checkable corpus of unit-ish vectors
  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // closest to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f)),
    (4L, Array(0.7f, 0.7f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosineTopK ranks by exact dot product") {
    val top = Similarity.cosineTopK(vecs, "vec_id", 0L, 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(1L, 4L))
  }

  test("nearDupPairs finds symmetric high-cosine pairs once") {
    val pairs = Similarity.nearDupPairs(vecs, "vec_id", 0.85)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 >= p._2), "ordered pairs only")
  }

  test("nearDupIncremental matches new batches against the vector index") {
    val idx = java.nio.file.Files.createTempDirectory("vecidx").toString
    // batch 1: vectors 0..2 — no pairs at 0.85 within the batch except
    // (0,1), which IS in-batch
    val b1 = vecs.filter($"vec_id" <= 2L)
    val r1 = Similarity.nearDupIncremental(b1, "vec_id", 0.85, idx,
        txn = Some(("vec-stream", 1L)))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(r1 == Set((0L, 1L)), s"in-batch pair: $r1")
    // batch 2: vector 10 near-dups HISTORICAL vector 0 (text gone from
    // nowhere — the index holds the embedding, verify is exact)
    val b2 = Seq((10L, Array(0.95f, 0.05f, 0.0f)),
      (11L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val r2 = Similarity.nearDupIncremental(b2, "vec_id", 0.85, idx,
        txn = Some(("vec-stream", 2L)))
      .select("a_id", "b_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
    val keys = r2.map(t => (t._1, t._2)).toSet
    assert(keys.contains((0L, 10L)) && keys.contains((1L, 10L)),
      s"cross-batch pairs vs the index: $keys")
    assert(!keys.exists(p => p._2 == 11L), "orthogonal vector pairs nothing")
    assert(r2.forall(_._3 >= 0.85), "exact cosine verified")
    // replay: same txn → same pairs, index un-grown
    val n = graft.sink.CdcTable.read(spark, idx).count()
    val r3 = Similarity.nearDupIncremental(b2, "vec_id", 0.85, idx,
        txn = Some(("vec-stream", 2L)))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(r3 == keys, s"replay must annotate identically: $r3")
    assert(graft.sink.CdcTable.read(spark, idx).count() == n)
  }

  test("vecDedupStreamToTable drops near-copies, keeps the index bounded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("vsidx").toString
    val out = java.nio.file.Files.createTempDirectory("vsout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("vsckpt").toString
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Similarity.vecDedupStreamToTable(
      mem.toDF.toDF("vec_id", "embedding"), "vec_id", idx, out, ckpt,
      threshold = 0.85)
    try {
      mem.addData((0L, Array(1.0f, 0.0f, 0.0f)),
        (2L, Array(0.0f, 1.0f, 0.0f)))
      q.processAllAvailable() // orthogonal: both kept
      mem.addData((10L, Array(0.95f, 0.05f, 0.0f)), // ~copy of 0 → drop
        (11L, Array(0.0f, 0.0f, 1.0f)))             // novel → keep
      q.processAllAvailable()
    } finally q.stop()
    // restart: lookback still covers pre-restart history
    val q2 = Similarity.vecDedupStreamToTable(
      mem.toDF.toDF("vec_id", "embedding"), "vec_id", idx, out, ckpt,
      threshold = 0.85)
    try {
      mem.addData((20L, Array(0.9f, 0.1f, 0.0f))) // ~copy of 0 → drop
      q2.processAllAvailable()
    } finally q2.stop()
    val ids = graft.sink.CdcTable.read(spark, out)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(0L, 2L, 11L),
      s"near-copies dropped across the restart: $ids")
    assert(graft.sink.CdcTable.read(spark, idx).count() == 3,
      "kept-only indexing: one index row per kept hashable vector")
  }

  test("PQ: distributed encode/ADC are bit-identical to the mirrors") {
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 40L).map { id =>
      (id, Array.fill(16)(rnd.nextGaussian().toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val books = Similarity
      .pqCodebooksFromRows(df, "vec_id", "embedding", m = 4, codes = 8)
    assert(books.length == 4 && books.forall(_.length == 8) &&
      books.forall(_.forall(_.length == 4)))
    val q = vecs(39)._2
    val lut = Similarity.pqLut(q, books)
    val got = df
      .withColumn("codes", Similarity.pqEncodeLit("embedding", books))
      .withColumn("adc", Similarity.pqAdcLit("codes", lut))
      .select($"vec_id", $"codes", $"adc")
      .as[(Long, Seq[Long], Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    vecs.foreach { case (id, v) =>
      val codes = Similarity.pqEncodeOf(v, books)
      assert(got(id)._1 == codes, s"vec $id encode")
      assert(got(id)._2 == Similarity.pqAdcOf(codes, lut), s"vec $id adc")
    }
    // ADC approximates the true dot: on this corpus the rank
    // correlation must be strongly positive (exactness is impossible
    // by construction — that is the compression tradeoff)
    val pairs = vecs.dropRight(1).map { case (id, v) =>
      (Similarity.dotFixedOf(v, q).toDouble, got(id)._2.toDouble)
    }
    val n = pairs.length
    def ranks(xs: Seq[Double]) = {
      val idx = xs.zipWithIndex.sortBy(_._1).map(_._2)
      val r = new Array[Double](n)
      idx.zipWithIndex.foreach { case (orig, rk) => r(orig) = rk }
      r.toSeq
    }
    val (ra, rb) = (ranks(pairs.map(_._1)), ranks(pairs.map(_._2)))
    val d2 = ra.zip(rb).map { case (a, b) => (a - b) * (a - b) }.sum
    val spearman = 1.0 - 6 * d2 / (n * (n * n - 1.0))
    info(f"ADC-vs-exact Spearman: $spearman%.3f")
    assert(spearman > 0.5, f"ADC must track the exact ranking: $spearman%.3f")
  }

  test("PQ trained codebooks beat sampled ones on quantization dot") {
    // the k-means path is not oracle-checkable (iterative); assert it
    // helps where it should: average max-dot of each subvector to its
    // codebook (the quantity k-means maximizes here) is at least the
    // sampled codebooks'
    val rnd = new scala.util.Random(29)
    val vecs = (0L until 60L).map { id =>
      (id, Array.fill(16)(rnd.nextGaussian().toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding").repartition(4)
    val sampled = Similarity
      .pqCodebooksFromRows(df, "vec_id", "embedding", m = 4, codes = 4)
    val trained = Similarity
      .pqTrainCodebooks(df, "vec_id", "embedding", m = 4, codes = 4,
        iters = 5)
    assert(trained.length == 4 && trained.forall(_.length <= 4))
    def fit(books: IndexedSeq[IndexedSeq[Array[Float]]]): Double =
      vecs.map { case (_, v) =>
        val codes = Similarity.pqEncodeOf(v, books)
        val w = books.head.head.length
        codes.zipWithIndex.map { case (c, s) =>
          Similarity.dotFixedOf(v.slice(s * w, (s + 1) * w),
            books(s)(c.toInt)).toDouble
        }.sum
      }.sum / vecs.length
    val (fs, ft) = (fit(sampled), fit(trained))
    info(f"quantization dot: sampled $fs%.0f trained $ft%.0f")
    assert(ft >= fs * 0.99, "training must not be materially worse")
  }

  test("probe widths interoperate on one index (stored bits are a prefix)") {
    val idx = java.nio.file.Files.createTempDirectory("pmidx").toString
    // bvals are stored at full width, so a later probe may use ANY
    // width ≤ stored — no rebuild, no mismatch error (the old design
    // froze the plane count into the rows)
    Similarity.nearDupIncremental(vecs, "vec_id", 0.85, idx) // auto
    val b2 = Seq((10L, Array(0.95f, 0.05f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.nearDupIncremental(b2, "vec_id", 0.85, idx,
        planes = 8) // explicit width against an auto-built index
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(r.contains((0L, 10L)), s"explicit-width probe still matches: $r")
    // the sidecar pinned the stored width race-free at creation
    assert(graft.core.Fs.readString(s"$idx/_graft_index_meta")
      .exists(_.contains(s"bvalBits=${Similarity.StoredPlanes}")))
  }

  test("a non-empty index without a sidecar fails loudly (band and vector)") {
    // rows whose layout no sidecar pins (band count, bucket width) are
    // refused instead of guessed from the rows
    val band = java.nio.file.Files.createTempDirectory("nosideband").toString
    graft.sink.CdcTable.append(Seq((1L, "0:1:2:3:4", Array(1L, 2L), 4))
      .toDF("doc_id", "band_key", "sig", "bands"), band)
    val e1 = intercept[RuntimeException](Dedup.nearIncremental(
      Seq((2L, "one two three four five")).toDF("doc_id", "text"),
      "text", "doc_id", band))
    assert(e1.getMessage.contains("has rows but no sidecar"), e1.getMessage)
    val vec = java.nio.file.Files.createTempDirectory("nosidevec").toString
    graft.sink.CdcTable.append(vecs.filter($"vec_id" <= 2L)
      .select($"vec_id".as("id"), $"embedding".as("e"))
      .withColumn("bval", Similarity.lshBucket("e", planes = 4))
      .withColumn("planes", lit(4)), vec)
    val before = graft.sink.CdcTable.read(spark, vec).count()
    val e2 = intercept[RuntimeException](Similarity.nearDupIncremental(
      Seq((10L, Array(0.95f, 0.05f, 0.0f))).toDF("vec_id", "embedding"),
      "vec_id", 0.85, vec))
    assert(e2.getMessage.contains("has rows but no sidecar"), e2.getMessage)
    assert(graft.sink.CdcTable.read(spark, vec).count() == before,
      "the refused probe appended nothing")
  }

  test("corpus-sized batches fail loudly before any broadcast") {
    val idx = java.nio.file.Files.createTempDirectory("bbidx").toString
    val e = intercept[IllegalArgumentException](
      Similarity.nearDupIncremental(vecs, "vec_id", 0.85, idx,
        maxBatchRows = 2))
    assert(e.getMessage.contains("maxBatchRows") &&
      e.getMessage.contains("nearDupPairs"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Dedup.exactIncremental(
        Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text"),
        "text", "doc_id", idx + "-x", maxBatchRows = 2))
    assert(e2.getMessage.contains("Dedup.exact"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      Dedup.nearIncremental(
        Seq((1L, "one two three four"), (2L, "five six seven eight"),
          (3L, "nine ten eleven twelve")).toDF("doc_id", "text"),
        "text", "doc_id", idx + "-y", maxBatchRows = 2))
    assert(e3.getMessage.contains("Dedup.near"), e3.getMessage)
  }

  test("compactIndex: vector fold leaves probe results unchanged") {
    import graft.sink.CdcTable
    val a = java.nio.file.Files.createTempDirectory("cvidxa").toString
    val b = java.nio.file.Files.createTempDirectory("cvidxb").toString
    val b1 = vecs.filter($"vec_id" <= 2L)
    val b2 = Seq((10L, Array(0.95f, 0.05f, 0.0f)))
      .toDF("vec_id", "embedding")
    for (idx <- Seq(a, b)) {
      Similarity.nearDupIncremental(b1, "vec_id", 0.85, idx)
      Similarity.nearDupIncremental(b2, "vec_id", 0.85, idx)
      // duplicate rows from a non-replay re-append must fold away
      Similarity.nearDupIncremental(b2, "vec_id", 0.85, idx)
    }
    val pre = CdcTable.read(spark, a).count()
    Similarity.compactIndex(spark, a)
    val post = CdcTable.read(spark, a).count()
    assert(post < pre && post == 4,
      s"fold collapses duplicate vector rows: $pre -> $post")
    val b3 = Seq((20L, Array(0.97f, 0.03f, 0.0f)))
      .toDF("vec_id", "embedding")
    def pairs(idx: String) =
      Similarity.nearDupIncremental(b3, "vec_id", 0.85, idx)
        .select("a_id", "b_id", "cos_sim")
        .as[(Long, Long, Double)].collect().toSet
    val pa = pairs(a)
    val pb = pairs(b)
    assert(pa == pb, s"compaction changed pairs: $pa vs $pb")
    assert(pa.exists(p => p._1 == 0L && p._2 == 20L),
      "historical pair still found after the fold")
  }

  test("vector index: 4 RACING appenders commute; full recall one batch later") {
    val idx = java.nio.file.Files.createTempDirectory("racevidx").toString
    val shared = Array(0.5f, 0.5f, 0.5f, 0.5f) // unit-norm: dot == cos
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val futures = (0 until 4).map { t =>
      scala.concurrent.Future {
        val priv = Array.tabulate(4)(i => if (i == t) 1.0f else 0.0f)
        Similarity.nearDupIncremental(Seq(
          (t * 100L + 1L, priv), (t * 100L + 2L, shared))
          .toDF("vec_id", "embedding"), "vec_id", 0.95, idx)
          .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration(120, "s"))
    // commutative appends: every vector indexed exactly once, and the
    // racing FIRST writers agreed on one sidecar config
    val rows = graft.sink.CdcTable.read(spark, idx)
    assert(rows.count() == 8 && rows.distinct().count() == 8,
      s"lost/duplicated index rows: ${rows.count()}")
    assert(graft.core.Fs.readString(s"$idx/_graft_index_meta")
      .exists(_.contains(s"bvalBits=${Similarity.StoredPlanes}")))
    // follow-up: a new copy of the shared vector pairs with ALL four
    // racing copies (exact cosine 1.0) — nothing an interleaving hid
    // stays hidden past one batch
    val after = Similarity.nearDupIncremental(
      Seq((900L, shared)).toDF("vec_id", "embedding"),
      "vec_id", 0.9999, idx)
      .select("a_id").as[Long].collect().toSet
    assert(after == Set(2L, 102L, 202L, 302L),
      s"follow-up batch must see every racing copy: $after")
  }

  test("banded probe recovers pairs the single band family misses") {
    // rotations of a fixed 2-plane inside R^8: v(θ) = cosθ·w1 + sinθ·w2
    def v(thetaDeg: Double): Array[Float] = {
      val w1 = Array.fill(8)(1.0 / math.sqrt(8))
      val w2 = Array.tabulate(8)(i =>
        (if (i % 2 == 0) 1.0 else -1.0) / math.sqrt(8))
      val t = math.toRadians(thetaDeg)
      Array.tabulate(8)(i =>
        (math.cos(t) * w1(i) + math.sin(t) * w2(i)).toFloat)
    }
    val p = 4
    // deterministic search: a pair at 9° (cos ≈ 0.9877) whose band-0
    // buckets DIFFER at width p but some later band family agrees —
    // exactly the pair a single-family probe loses and banding saves
    val cand = (0 until 40).map(k => (k * 3.0, k * 3.0 + 9.0)).find {
      case (a, b) =>
        Similarity.bucketOf(v(a), p, 0) != Similarity.bucketOf(v(b), p, 0) &&
          (1 until 3).exists(i => Similarity.bucketOf(v(a), p, 20 * i) ==
            Similarity.bucketOf(v(b), p, 20 * i))
    }
    assert(cand.nonEmpty, "rotation sweep must contain a band-saved pair")
    val (ta, tb) = cand.get
    def run(bands: Int): Set[(Long, Long)] = {
      val idx = java.nio.file.Files.createTempDirectory(s"bnd$bands")
        .toString
      Similarity.nearDupIncremental(
        Seq((1L, v(ta))).toDF("vec_id", "embedding"), "vec_id", 0.98,
        idx, planes = p)
      Similarity.nearDupIncremental(
        Seq((2L, v(tb))).toDF("vec_id", "embedding"), "vec_id", 0.98,
        idx, planes = p, bands = bands)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    }
    assert(run(1) == Set.empty,
      "band 0 alone must miss the planted pair (that is the point)")
    assert(run(3) == Set((1L, 2L)),
      "OR over the stored band families recovers it, exact-verified")
  }

  test("auto probe width follows the index size curve") {
    assert(Similarity.autoPlanes(0) == 4, "empty index floors at 4")
    assert(Similarity.autoPlanes(3200) == 4) // 16 buckets x 200
    assert(Similarity.autoPlanes(3201) == 5)
    assert(Similarity.autoPlanes(200L * 1024) == 10) // the VecProbe point
    assert(Similarity.autoPlanes(Long.MaxValue) == Similarity.StoredPlanes)
    // monotone, never exceeds stored resolution
    val widths = Seq(1L, 100L, 10000L, 1000000L, 100000000L)
      .map(Similarity.autoPlanes)
    assert(widths == widths.sorted)
    assert(widths.forall(p => p >= 4 && p <= Similarity.StoredPlanes))
    // the scale property the derivation exists for: EXPECTED bucket
    // occupancy (n / 2^p) stays at or below the target for every index
    // size the stored resolution can cover (200·2^20 ≈ 200M rows) —
    // the candidate join is then bounded by batch-touched volume, not
    // index growth (the 388 s → 45 s VecProbe curve)
    val gen = new scala.util.Random(7)
    (0 until 1000).foreach { _ =>
      val n = math.abs(gen.nextLong()) %
        (Similarity.TargetBucketRows << Similarity.StoredPlanes)
      val p = Similarity.autoPlanes(n)
      assert(n.toDouble / (1L << p) <= Similarity.TargetBucketRows,
        s"occupancy bound violated at n=$n p=$p")
    }
  }

  test("lshBucket separates opposite vectors; ivfAssign picks nearest centroid") {
    val b = vecs.withColumn("bucket", Similarity.lshBucket())
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    assert(b(0L) != b(3L), "antipodal vectors land in different buckets")
    val centroids = Seq((0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("cid", "ce")
    val assigned = Similarity.ivfAssign(vecs, centroids)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(assigned(0L) == 0L && assigned(1L) == 0L && assigned(2L) == 1L)
  }

  test("kmeansFit converges onto planted clusters deterministically") {
    // 3 tight blobs around orthogonal axes, ids interleaved so the
    // id-ordered seeding starts from mixed blobs
    val pts = (0 until 30).map { i =>
      val blob = i % 3
      val d = 0.01f * (i / 3)
      val v = blob match {
        case 0 => Array(1.0f + d, d, 0.0f)
        case 1 => Array(d, 1.0f + d, 0.0f)
        case 2 => Array(0.0f, d, 1.0f + d)
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(pts, "vec_id", "embedding",
      k = 3, iters = 5)
    assert(cents.size == 3)
    // every point lands with its blob-mates; 3 non-empty clusters
    val assigned = pts.withColumn("cid",
        Similarity.ivfAssignLit("embedding", cents))
      .select("vec_id", "cid").as[(Long, Long)].collect()
    val byBlob = assigned.groupBy(_._1 % 3).view.mapValues(
      _.map(_._2).toSet).toMap
    byBlob.foreach { case (blob, cids) =>
      assert(cids.size == 1, s"blob $blob split across clusters: $cids")
    }
    assert(byBlob.values.flatten.toSet.size == 3,
      "blobs must map to 3 distinct clusters")
    // determinism: a second fit over a differently-partitioned input
    // yields bit-identical centroids (fixed-point sums + stable seed)
    val cents2 = Similarity.kmeansFit(pts.repartition(7), "vec_id",
      "embedding", k = 3, iters = 5)
    assert(cents.map(_._2.toSeq) == cents2.map(_._2.toSeq))
  }

  test("kmeansFit edge cases: k > n returns seeds; empty input rejects") {
    val two = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(two, "vec_id", "embedding",
      k = 5, iters = 3)
    assert(cents.size == 2, "k > n degenerates to one centroid per point")
    intercept[IllegalArgumentException] {
      Similarity.kmeansFit(two.filter(lit(false)), "vec_id",
        "embedding", k = 2)
    }
  }

  test("int8QuantStats: exact scale, bounded reconstruction error") {
    val df = Seq(
      (0L, Array(1.27f, -0.64f, 0.0f)),    // scale ≈ 0.01, all multiples
      (1L, Array(0.0f, 0.0f, 0.0f))        // degenerate all-zero
    ).toDF("vec_id", "embedding")
    val out = Similarity.int8QuantStats(df)
      .select("vec_id", "q_scale", "q_err")
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // 1.27f is the float NEAREST 1.27, so the scale is ~0.01 to float
    // precision, not exactly 0.01
    assert(math.abs(out(0L)._1 - 0.01) < 1e-8, s"scale ${out(0L)._1}")
    // every element of vec 0 quantizes exactly (multiples of scale)
    assert(out(0L)._2 < 1e-6, s"err ${out(0L)._2}")
    assert(out(1L) == (0.0, 0.0), "zero vector: zero scale, zero err")
    // error is bounded by half a quantization step
    val rnd = (2L to 50L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 31 + j * 17) % 101 / 50.0 - 1).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.int8QuantStats(rnd)
      .select("q_scale", "q_err").as[(Double, Double)].collect()
      .foreach { case (s, e) =>
        assert(e <= s / 2 + 1e-7, s"err $e exceeds half-step ${s / 2}")
      }
  }

  test("clusterMeanOutliers is exact past the BIGINT fixed-point bound") {
    import spark.implicits._
    // dot_fx values at the magnitude a ~1e6-row cluster of unit-norm
    // 1e12-scale dots produces: dot·den·n here is ~1.5e19 > Long.Max,
    // so 64-bit cross-multiplication would wrap negative and flag the
    // WRONG rows — the DECIMAL(38,0) path must stay exact
    val big = 5e17.toLong // 500_000_000_000_000_000
    val assigned = Seq(
      (0L, 0L, big), (1L, 0L, big), (2L, 0L, big / 2), // below 80% mean
      (3L, 1L, big), (4L, 1L, big + 2), (5L, 1L, big + 4))
      .toDF("vec_id", "cid", "dot_fx")
    val out = Similarity.clusterMeanOutliers(assigned)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(2L),
      s"only the half-similarity vector is an outlier, got $out")
    // sanity: a 64-bit evaluation of the same comparison genuinely
    // overflows (under ANSI it throws ARITHMETIC_OVERFLOW; non-ANSI
    // would wrap and misclassify) — otherwise this test is vacuous
    val thrown = intercept[Exception] {
      assigned
        .groupBy($"cid").agg(
          org.apache.spark.sql.functions.sum($"dot_fx").as("s"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
        .join(assigned, Seq("cid"))
        .filter($"dot_fx" * 10 * $"n" < $"s" * 8)
        .count()
    }
    val msgs = Iterator.iterate(thrown: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("ARITHMETIC_OVERFLOW") ||
      msgs.contains("long overflow"), s"unexpected failure: $msgs")
  }

  test("retry: transient errors recover, schema conflicts fail fast") {
    var calls = 0
    val r = graft.streaming.Retry.withBackoff(maxAttempts = 3,
      baseMillis = 1) {
      calls += 1
      if (calls < 3) throw new java.io.IOException("flaky")
      42
    }
    assert(r == 42 && calls == 3)
    var calls2 = 0
    assertThrows[graft.core.SchemaMerge.SchemaConflictException] {
      graft.streaming.Retry.withBackoff(maxAttempts = 5, baseMillis = 1) {
        calls2 += 1
        throw graft.core.SchemaMerge.SchemaConflictException("f",
          org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.BooleanType)
      }
    }
    assert(calls2 == 1, "non-retryable errors do not retry")
  }
}
