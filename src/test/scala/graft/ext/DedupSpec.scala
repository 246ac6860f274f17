package graft.ext

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup keeps min id per identical normalized content") {
    val df = Seq(
      (1L, "Hello World"), (2L, "  hello world  "), (3L, "unique doc"),
      (4L, "hello world")).toDF("id", "text")
    val r = Dedup.exact(df, "text", "id")
    assert(r.filter($"is_duplicate").select("id").as[Long].collect()
      .sorted.toSeq == Seq(2L, 4L))
    assert(r.filter($"id" === 2L).select("keep_id").as[Long]
      .collect().head == 1L)
  }

  test("near dedup: LSH candidates, jaccard verify, clusters, decisions") {
    val base = "the quick brown fox jumps over the lazy dog and runs far " +
      "away into the deep green forest tonight while stars shine bright"
    val docs = Seq(
      (10L, base),
      (11L, base + " extra"),                       // near-dup of 10
      (12L, base.replace("quick", "rapid")),        // near-dup of 10
      (13L, "completely different words describing graphs and engines " +
        "spark catalyst tungsten shuffle partitions exchange operators"),
      (14L, "yet another unrelated document about streaming watermarks " +
        "checkpoints state stores and session windows for processing")
    ).toDF("id", "text")
    val r = Dedup.near(docs, "text", "id", jaccardThreshold = 0.5)
    val pairs = r.pairs.select("a_id", "b_id").as[(Long, Long)]
      .collect().toSet
    assert(pairs.contains((10L, 11L)) && pairs.contains((10L, 12L)))
    // 10,11,12 form one component with min id 10
    val dec = r.decisions.as[(Long, Long, Boolean)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(dec(10L) == ((10L, false)))
    assert(dec(11L) == ((10L, true)))
    assert(dec(12L) == ((10L, true)))
    assert(dec(13L) == ((13L, false)))
    assert(dec(14L) == ((14L, false)))
  }

  test("canonicalByQuality keeps the highest-quality member per cluster") {
    val base = "the quick brown fox jumps over the lazy dog and runs far " +
      "away into the deep green forest tonight while stars shine bright"
    val docs = Seq(
      (10L, base),
      (11L, base + " extra"),                // near-dup of 10
      (12L, base.replace("quick", "rapid")), // near-dup of 10
      (13L, "completely different words describing graphs and engines " +
        "spark catalyst tungsten shuffle partitions exchange operators")
    ).toDF("id", "text")
    val quality = Seq((10L, 100L), (11L, 120L), (12L, 120L), (13L, 999L))
      .toDF("id", "nc")
    val r = Dedup.near(docs, "text", "id", jaccardThreshold = 0.5)
    val out = Dedup.canonicalByQuality(r, quality, "id", "nc")
      .as[(Long, Long, Long, Long)].collect()
    // one cluster rooted at 10; kept = min id among the max-quality
    // members (11 and 12 tie at 120 → 11); the root counts exactly
    // once; singleton 13 emits no row despite its 999 quality
    assert(out.toSeq == Seq((10L, 11L, 3L, 340L)), out.mkString(","))
  }

  test("embedding near-dup clusters survivors by cosine") {
    // planted chain along a rotation: 1 at 0°, 2 at 9°, 4 at 18° of a
    // direction with wide margin on every default LSH plane (all three
    // share bucket 3 under the mod-61 family), so cos(1,2) = cos(2,4)
    // = cos 9° ≈ 0.9877 ≥ 0.98 but cos(1,4) = cos 18° ≈ 0.951 < 0.98
    // — 4 reaches 1 only through the chain
    val vecs = Seq(
      (1L, Array(-0.7071f, 0.7071f, 0.0f)),
      (2L, Array(-0.6984f, 0.6984f, 0.1564f)), // pair with 1
      (3L, Array(0.0f, 0.0f, 1.0f)),
      (4L, Array(-0.6725f, 0.6725f, 0.3090f))  // chains to 2
    ).toDF("vec_id", "embedding")
    val r = Dedup.nearByEmbedding(vecs, "vec_id", 0.98)
    val dec = r.decisions.as[(Long, Long, Boolean)].collect()
      .map(t => t._1 -> t._2).toMap
    assert(dec(1L) == 1L && dec(2L) == 1L && dec(4L) == 1L,
      s"1,2,4 chain into one cluster: $dec")
    assert(dec(3L) == 3L)
  }

  test("near rejects band counts that don't tile the 16-row signature") {
    val df = Seq((1L, "some words here")).toDF("id", "text")
    intercept[IllegalArgumentException](Dedup.near(df, "text", "id", bands = 5))
    intercept[IllegalArgumentException](Dedup.near(df, "text", "id", bands = 0))
    intercept[IllegalArgumentException](Dedup.near(df, "text", "id", bands = 32))
  }

  test("short docs with no shingles never become near-dup candidates") {
    // every doc < 3 tokens → empty shingle set; they must not collapse
    // into one shared all-null band bucket
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c d"), (4L, "e f"))
      .toDF("id", "text")
    val r = Dedup.near(df, "text", "id")
    assert(r.pairs.count() == 0)
    assert(r.decisions.filter($"is_duplicate").count() == 0)
  }

  test("ngram jaccard pairs: hot-shingle cap prunes stopword blowup") {
    val near1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near2 = near1 + " lambda" // near-dup of near1
    // 20 unrelated docs that all share ONE ubiquitous 3-gram — without
    // the DF cap that single shingle makes 190 candidate pairs
    val noise = (0 until 20).map(i =>
      (100L + i, s"unique${i}a unique${i}b of the corpus unique${i}c"))
    val df = (Seq((1L, near1), (2L, near2)) ++ noise).toDF("id", "text")

    val capped = Dedup.ngramJaccardPairs(df, "text", "id",
      threshold = 0.5, maxShingleDocFreq = Some(5L))
    val pairs = capped.select("a_id", "b_id").as[(Long, Long)]
      .collect().toSet
    assert(pairs == Set((1L, 2L)),
      s"only the planted near-dup survives: $pairs")
    // verification used the FULL sets: jaccard is exact (8 shared of 9)
    val j = capped.select("jaccard").as[Double].collect().head
    assert(math.abs(j - 8.0 / 9.0) < 1e-9, s"jaccard $j")

    // sanity: uncapped finds the same planted pair too
    val uncapped = Dedup.ngramJaccardPairs(df, "text", "id",
      threshold = 0.5, maxShingleDocFreq = None)
    assert(uncapped.filter($"a_id" === 1L && $"b_id" === 2L).count() == 1)
  }

  test("containment pairs catch an excerpt that jaccard misses") {
    // doc 2 is doc 1's first third verbatim: containment 1.0, but
    // jaccard ~1/3 — below any sane jaccard threshold
    val long = (0 until 30).map(i => s"w$i").mkString(" ")
    val excerpt = (0 until 12).map(i => s"w$i").mkString(" ")
    val other = (100 until 130).map(i => s"w$i").mkString(" ")
    val staged = Seq((1L, long), (2L, excerpt), (3L, other))
      .toDF("id", "text")
      .select($"id", org.apache.spark.sql.functions.lit(0).as("blk"),
        org.apache.spark.sql.functions.expr("shingle_ids(text)").as("sids"))
    val got = Dedup.ngramContainmentPairsFromSids(staged,
      threshold = 0.9, maxShingleDocFreq = Some(1000L))
      .select("a_id", "b_id", "containment")
      .as[(Long, Long, Double)].collect()
    assert(got.map(t => (t._1, t._2)).toSet == Set((1L, 2L)), got.toSeq)
    assert(math.abs(got.head._3 - 1.0) < 1e-9, "fully contained")
    // the jaccard formulation rejects the same pair at 0.5
    val jac = Dedup.ngramJaccardPairsFromSids(staged,
      threshold = 0.5, maxShingleDocFreq = Some(1000L))
    assert(jac.count() == 0, "jaccard is diluted by the long side")
  }

  test("spanDedupRewrite cuts the shared footer, keeps unique prose") {
    // 4 docs share a 6-token footer (2 spans at width 3); each has
    // 7 unique tokens (2 spans + 1 remainder token)
    val footer = "copyright acme corp all rights reserved"
    val docs = (0 until 4).map { i =>
      val unique = (0 until 7).map(j => s"u${i}_$j").mkString(" ")
      (i.toLong, s"$unique $footer")
    }.toDF("id", "text")
    val r = Dedup.spanDedupRewrite(docs, "text", "id")
      .as[(Long, Long, Long, String)].collect()
      .map(t => t._1 -> t).toMap
    (0 until 4).foreach { i =>
      val (_, nSpans, nBoiler, kept) = r(i.toLong)
      // 13 tokens → 4 spans + 1 remainder; footer starts at token 7,
      // so its spans are (u_6 copyright acme) and (corp all rights) —
      // both shared verbatim across all 4 docs? No: the first footer
      // span starts with the doc-unique u_6 token, so only
      // (corp all rights) is cross-doc boilerplate.
      assert(nSpans == 4, s"doc $i: $nSpans")
      assert(nBoiler == 1, s"doc $i boiler: $nBoiler")
      assert(!kept.contains("corp all rights"), kept)
      assert(kept.contains(s"u${i}_0") && kept.endsWith("reserved"),
        kept)
    }
    // a doc shorter than one span is returned whole
    val short = Dedup.spanDedupRewrite(
        Seq((9L, "ab cd")).toDF("id", "text"), "text", "id")
      .as[(Long, Long, Long, String)].head()
    assert(short == ((9L, 0L, 0L, "ab cd")))
  }

  test("exactIncremental dedups new batches against the historical index") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("dedupidx").toString
    // batch 1: two distinct docs + one in-batch duplicate
    val b1 = Seq((1L, "the quick fox"), (2L, "lazy dog"),
      (3L, "The Quick Fox  ")).toDF("doc_id", "text")
    val r1 = Dedup.exactIncremental(b1, "text", "doc_id", idx)
      .select("doc_id", "keep_id", "is_duplicate")
      .as[(Long, Long, Boolean)].collect()
      .map { case (k, v, d) => k -> ((v, d)) }.toMap
    assert(r1 == Map(1L -> ((1L, false)), 2L -> ((2L, false)),
      3L -> ((1L, true))), s"got $r1")
    // batch 2: one historical duplicate (keep_id points at batch 1's
    // winner), one novel doc
    val b2 = Seq((10L, "lazy dog"), (11L, "brand new")).toDF("doc_id", "text")
    val r2 = Dedup.exactIncremental(b2, "text", "doc_id", idx)
      .select("doc_id", "keep_id", "is_duplicate")
      .as[(Long, Long, Boolean)].collect()
      .map { case (k, v, d) => k -> ((v, d)) }.toMap
    assert(r2 == Map(10L -> ((2L, true)), 11L -> ((11L, false))),
      s"historical winner must carry across batches: $r2")
    // batch 3 replay-safety: the txn marker makes the index append
    // idempotent, so a replayed batch annotates identically
    val b3 = Seq((20L, "brand new")).toDF("doc_id", "text")
    val r3a = Dedup.exactIncremental(b3, "text", "doc_id", idx,
      txn = Some(("dedup-stream", 3L)))
      .select("keep_id").as[Long].head()
    val r3b = Dedup.exactIncremental(b3, "text", "doc_id", idx,
      txn = Some(("dedup-stream", 3L)))
      .select("keep_id").as[Long].head()
    assert(r3a == 11L && r3b == 11L)
    // index holds exactly one row per distinct fingerprint
    val n = graft.sink.CdcTable.read(spark, idx)
      .select("fingerprint").distinct().count()
    assert(graft.sink.CdcTable.read(spark, idx).count() == n,
      "no duplicate fingerprints in the index")
  }

  test("exactIncremental survives duplicate index rows from racing appenders") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("dedupidx").toString
    Dedup.exactIncremental(
      Seq((5L, "shared doc")).toDF("doc_id", "text"), "text", "doc_id", idx)
      .count()
    // simulate the commutative-append race: a second appender lands the
    // SAME fingerprint with its own (later) winner before reading ours
    val fp = graft.sink.CdcTable.read(spark, idx)
      .select("fingerprint").as[String].head()
    graft.sink.CdcTable.append(
      Seq((fp, 9L)).toDF("fingerprint", "keep_id"), idx)
    // annotation must stay 1:1 (no join fan-out) and pick the min id
    val out = Dedup.exactIncremental(
      Seq((30L, "shared doc"), (31L, "other")).toDF("doc_id", "text"),
      "text", "doc_id", idx)
      .select("doc_id", "keep_id", "is_duplicate")
      .as[(Long, Long, Boolean)].collect()
    assert(out.length == 2, s"fan-out: ${out.toSeq}")
    assert(out.map(t => t._1 -> t._2).toMap.apply(30L) == 5L,
      "min-id winner rule must resolve racing index entries")
  }

  test("exactIncremental over ordered batches equals batch-global exact") {
    // the q81 oracle proves one 2-way split on real data; this drives
    // a seeded heavy-duplicate corpus through FOUR splits and checks
    // the full annotation (keep_id per doc) against [[Dedup.exact]] —
    // valid because ids are ordered across batches, so the earliest
    // batch containing a fingerprint also holds its global min id
    val rnd = new scala.util.Random(42)
    val pool = Vector("alpha beta", "gamma delta", "epsilon zeta",
      "eta theta", "iota kappa", "lambda mu")
    val docs = (1L to 60L).map(i => (i, pool(rnd.nextInt(pool.size))))
    val idx = java.nio.file.Files.createTempDirectory("propidx").toString
    val incr = Seq(0L, 15L, 30L, 45L, 61L).sliding(2).flatMap {
      case Seq(lo, hi) =>
        Dedup.exactIncremental(
          docs.filter(d => d._1 >= lo && d._1 < hi).toDF("doc_id", "text"),
          "text", "doc_id", idx)
          .select("doc_id", "keep_id").as[(Long, Long)].collect()
      case _ => Nil
    }.toMap
    val global = Dedup.exact(docs.toDF("doc_id", "text"), "text", "doc_id")
      .select("doc_id", "keep_id").as[(Long, Long)].collect().toMap
    assert(incr == global,
      s"divergence: ${(incr.toSet diff global.toSet).take(5)}")
  }

  test("nearIncremental: cross-batch near-dups from the signature index") {
    val idx = java.nio.file.Files.createTempDirectory("nearidx").toString
    val base = "the quick brown fox jumps over the lazy dog and runs far " +
      "away into the deep green forest tonight while stars shine bright"
    // batch 1: the base doc + an unrelated one (same corpus as the
    // batch-global `near` test, whose banding collisions are known)
    val b1 = Seq((10L, base),
      (13L, "completely different words describing graphs and engines " +
        "spark catalyst tungsten shuffle partitions exchange operators"))
      .toDF("doc_id", "text")
    assert(Dedup.nearIncremental(b1, "text", "doc_id", idx,
      txn = Some(("near-stream", 1L))).count() == 0,
      "no pairs within batch 1")
    // batch 2: near-dups of the HISTORICAL doc 10 — text gone, only
    // its signature remains in the index
    val b2 = Seq((21L, base + " extra"), (22L, base.replace("quick", "rapid")))
      .toDF("doc_id", "text")
    val r = Dedup.nearIncremental(b2, "text", "doc_id", idx,
        txn = Some(("near-stream", 2L)))
      .select("a_id", "b_id", "n_shared_bands", "est_jaccard")
      .as[(Long, Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
    assert(r.contains((10L, 21L)) && r.contains((10L, 22L)),
      s"cross-batch pairs vs the index: ${r.keySet}")
    assert(r((10L, 21L))._2 >= 0.5 && r((10L, 22L))._2 >= 0.5,
      s"estimated jaccard should be high for near-dups: $r")
    // replay of batch 2 (same txn): identical pairs, index un-grown
    val n = graft.sink.CdcTable.read(spark, idx).count()
    val r2 = Dedup.nearIncremental(b2, "text", "doc_id", idx,
        txn = Some(("near-stream", 2L)))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(r2 == r.keySet, s"replay must annotate identically: $r2")
    assert(graft.sink.CdcTable.read(spark, idx).count() == n,
      "replayed append must no-op on the txn marker")
  }

  test("nearDedupStreamToTable drops fuzzy copies of historical docs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("nsidx").toString
    val out = java.nio.file.Files.createTempDirectory("nsout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("nsckpt").toString
    val base = "the quick brown fox jumps over the lazy dog and runs far " +
      "away into the deep green forest tonight while stars shine bright"
    val mem = MemoryStream[(Long, String)]
    val q = Dedup.nearDedupStreamToTable(mem.toDF.toDF("doc_id", "text"),
      "text", "doc_id", idx, out, ckpt, threshold = 0.5)
    try {
      mem.addData((10L, base),
        (13L, "completely different words describing graphs and engines " +
          "spark catalyst tungsten shuffle partitions exchange operators"))
      q.processAllAvailable()
      // 21 fuzzy-copies historical 10 → dropped; 25 is novel → kept
      mem.addData((21L, base + " extra"),
        (25L, "yet another unrelated document about streaming watermarks " +
          "checkpoints state stores and session windows for processing"))
      q.processAllAvailable()
      // a copy of the DROPPED doc 21 must still be caught — not via
      // 21 (kept-only indexing: dropped docs never index), but via
      // the kept survivor 10 it is equally similar to
      mem.addData((30L, base + " extra"))
      q.processAllAvailable()
    } finally q.stop()
    // restart from the checkpoint: the index lookback must still
    // cover everything kept before the restart
    val q2 = Dedup.nearDedupStreamToTable(mem.toDF.toDF("doc_id", "text"),
      "text", "doc_id", idx, out, ckpt, threshold = 0.5)
    try {
      mem.addData((40L, base.replace("quick", "rapid")), // ~kept 10
        (41L, "a wholly novel final document mentioning parquet " +
          "manifests commits snapshots and vacuum retention"))
      q2.processAllAvailable()
    } finally q2.stop()
    val ids = graft.sink.CdcTable.read(spark, out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(10L, 13L, 25L, 41L),
      s"near-dups dropped across the restart, novel docs kept: $ids")
    // the index is bounded by the DEDUPED corpus: 4 kept docs ×
    // 4 bands — dropped docs (21, 30, 40) never entered it
    assert(graft.sink.CdcTable.read(spark, idx).count() == 16,
      "kept-only indexing must bound the index")
  }

  test("winnowDedupStreamToTable drops verbatim-run copies, keeps " +
      "novel docs, survives restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("wsidx").toString
    val out = java.nio.file.Files.createTempDirectory("wsout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("wsckpt").toString
    val base = "the quick brown fox jumps over the lazy dog and runs " +
      "far away into the deep green forest tonight"
    val mem = MemoryStream[(Long, String)]
    val q = Dedup.winnowDedupStreamToTable(
      mem.toDF.toDF("doc_id", "text"), "text", "doc_id", idx, out,
      ckpt, threshold = 0.5)
    try {
      mem.addData((10L, base),
        (13L, "completely different words describing graphs engines " +
          "catalyst tungsten shuffle partitions exchange operators"))
      q.processAllAvailable()
      // 21 is the base doc with a prefix — high containment → dropped
      mem.addData((21L, "intro words then " + base),
        (25L, "yet another unrelated document about watermarks " +
          "checkpoints state stores and session windows"))
      q.processAllAvailable()
    } finally q.stop()
    // restart: the index lookback still covers pre-restart kept docs
    val q2 = Dedup.winnowDedupStreamToTable(
      mem.toDF.toDF("doc_id", "text"), "text", "doc_id", idx, out,
      ckpt, threshold = 0.5)
    try {
      mem.addData((30L, base + " trailing additions"), // ~kept 10
        (31L, "a wholly novel final document mentioning parquet " +
          "manifests commits snapshots and vacuum retention"))
      q2.processAllAvailable()
    } finally q2.stop()
    val ids = graft.sink.CdcTable.read(spark, out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(10L, 13L, 25L, 31L),
      s"run-copies dropped across the restart, novel docs kept: $ids")
    // kept-only: dropped docs' fingerprints never entered the index
    val idxDocs = graft.sink.CdcTable.read(spark, idx)
      .select("doc_id").distinct().as[Long].collect().sorted.toSeq
    assert(idxDocs == Seq(10L, 13L, 25L, 31L),
      s"index holds kept docs only: $idxDocs")
  }

  test("nearDedupStreamToTable: one batch of mass boilerplate still dedups") {
    // r9 advisor (high): this path must NOT inherit nearIncremental's
    // auto √n hot-bucket cap. A single micro-batch with MORE copies of
    // one page than the cap floor (64) would make all its band buckets
    // hot under the cap → zero pairs → every copy kept AND indexed,
    // permanently over-cap, so the page never dedups again. Kept-only
    // indexing bounds occupancy structurally, so the path runs
    // uncapped — 80 copies in one batch must collapse to 1.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("bpidx").toString
    val out = java.nio.file.Files.createTempDirectory("bpout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bpckpt").toString
    val page = "subscribe to our newsletter for the latest updates and " +
      "offers terms of service privacy policy all rights reserved contact"
    val mem = MemoryStream[(Long, String)]
    val q = Dedup.nearDedupStreamToTable(mem.toDF.toDF("doc_id", "text"),
      "text", "doc_id", idx, out, ckpt, threshold = 0.5)
    try {
      mem.addData((1L to 80L).map(i => (i, page + s" ref$i")) :+
        (100L, "an entirely different article about distributed query " +
          "engines joins aggregations and columnar storage formats"): _*)
      q.processAllAvailable()
      // and the NEXT batch's copy must be caught via the kept survivor
      mem.addData((200L, page + " ref200"))
      q.processAllAvailable()
    } finally q.stop()
    val ids = graft.sink.CdcTable.read(spark, out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 100L),
      s"80 boilerplate copies must collapse to the min-id survivor: $ids")
    assert(graft.sink.CdcTable.read(spark, idx)
      .select("doc_id").distinct().count() == 2,
      "kept-only index holds exactly the two surviving docs")
  }

  test("exactIncremental: 4 RACING appenders, no loss, deterministic after") {
    // true-concurrency version of the simulated racing-appender test:
    // four threads each run a batch (with texts overlapping across
    // threads) against ONE index — appends are commutative under
    // optimistic concurrency, so every interleaving must (a) lose no
    // rows, (b) annotate each batch 1:1, and (c) leave an index a
    // follow-up batch resolves deterministically by the min-id rule
    val idx = java.nio.file.Files.createTempDirectory("raceidx").toString
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val futures = (0 until 4).map { t =>
      scala.concurrent.Future {
        val batch = Seq(
          (t * 100L + 1L, s"private doc of thread $t"),
          (t * 100L + 2L, "shared doc alpha"),
          (t * 100L + 3L, "shared doc beta")).toDF("doc_id", "text")
        Dedup.exactIncremental(batch, "text", "doc_id", idx)
          .select("doc_id", "keep_id").as[(Long, Long)].collect()
      }
    }
    val results = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration(120, "s"))
    results.zipWithIndex.foreach { case (r, t) =>
      assert(r.length == 3, s"thread $t lost rows: ${r.toSeq}")
      // every keep_id must reference a doc that genuinely carries the
      // same fingerprint (its id mod 100 identifies the text)
      r.foreach { case (id, keep) =>
        assert(id % 100 == keep % 100,
          s"thread $t: keep_id $keep is not a copy of doc $id") }
    }
    // follow-up batch: the min-id rule resolves any racing duplicates
    // 1:1. WHICH kept copy wins depends on the interleaving (a thread
    // that read the index after another thread's commit never appends
    // its own winner — see the exactIncremental compaction NB), so
    // assert it is SOME alpha copy, deterministically one row.
    val after = Dedup.exactIncremental(
      Seq((900L, "shared doc alpha")).toDF("doc_id", "text"),
      "text", "doc_id", idx)
      .select("keep_id").as[Long].collect()
    assert(after.length == 1, "1:1 annotation despite racing index rows")
    assert(after.head % 100 == 2 && after.head != 900L,
      s"winner must be one of the racing alpha copies: $after")
  }

  test("compactIndex: exact fold preserves every future annotation") {
    import graft.sink.CdcTable
    // two identical indexes fed the same batches; only A compacts —
    // a follow-up batch must annotate IDENTICALLY against both
    val a = java.nio.file.Files.createTempDirectory("cidxa").toString
    val b = java.nio.file.Files.createTempDirectory("cidxb").toString
    val b1 = Seq((1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val b2 = Seq((10L, "alpha beta"), (11L, "delta"))
      .toDF("doc_id", "text")
    for (idx <- Seq(a, b)) {
      Dedup.exactIncremental(b1, "text", "doc_id", idx)
      Dedup.exactIncremental(b2, "text", "doc_id", idx)
      // simulate a racing appender's leftover: a DUPLICATE fingerprint
      // row with a higher keep_id — reads resolve min(11, 999) = 11,
      // and the fold must keep that winner (NOT "latest row wins")
      import org.apache.spark.sql.functions.{lit, lower, md5, trim}
      val deltaFp = Seq("delta").toDF("text")
        .select(md5(lower(trim($"text"))).as("fingerprint"),
          lit(999L).as("keep_id"))
      CdcTable.append(deltaFp, idx)
    }
    Dedup.compactIndex(spark, a)
    // folded: one row per fingerprint (alpha-beta, gamma, delta)
    assert(CdcTable.read(spark, a).count() == 3, "one row per fingerprint")
    val b3 = Seq((20L, "gamma"), (21L, "delta"), (22L, "epsilon"))
      .toDF("doc_id", "text")
    def annotate(idx: String) =
      Dedup.exactIncremental(b3, "text", "doc_id", idx)
        .select("doc_id", "keep_id", "is_duplicate")
        .as[(Long, Long, Boolean)].collect().toSet
    val ra = annotate(a)
    val rb = annotate(b)
    assert(ra == rb, s"compaction changed annotations: $ra vs $rb")
    assert(ra.contains((21L, 11L, true)),
      "the min-id winner survives the fold, not the latest row")
  }

  test("compactIndex: near fold leaves pair sets unchanged") {
    import graft.sink.CdcTable
    val a = java.nio.file.Files.createTempDirectory("cnidxa").toString
    val b = java.nio.file.Files.createTempDirectory("cnidxb").toString
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val b1 = Seq((1L, base), (2L, "completely different words entirely"))
      .toDF("doc_id", "text")
    val b2 = Seq((10L, base + " ok"), (11L, "unrelated content here too"))
      .toDF("doc_id", "text")
    for (idx <- Seq(a, b)) {
      Dedup.nearIncremental(b1, "text", "doc_id", idx)
      Dedup.nearIncremental(b2, "text", "doc_id", idx)
      // a replayed append's duplicate rows must fold away
      Dedup.nearIncremental(b2, "text", "doc_id", idx,
        txn = Some(("cn-replay", 1L)))
    }
    Dedup.compactIndex(spark, a)
    val distinctRows = CdcTable.read(spark, a).distinct().count()
    assert(CdcTable.read(spark, a).count() == distinctRows,
      "fold collapses duplicate band rows")
    val b3 = Seq((20L, base + " yes"), (21L, "novel text of its own"))
      .toDF("doc_id", "text")
    def pairs(idx: String) =
      Dedup.nearIncremental(b3, "text", "doc_id", idx)
        .select("a_id", "b_id", "n_shared_bands", "est_jaccard")
        .as[(Long, Long, Long, Double)].collect().toSet
    val pa = pairs(a)
    val pb = pairs(b)
    assert(pa == pb, s"compaction changed pairs: $pa vs $pb")
    assert(pa.exists(p => p._1 == 1L && p._2 == 20L),
      "cross-generation near-dup still found after the fold")
  }

  test("rebandIndex migrates the stored band layout from the signatures") {
    import graft.sink.CdcTable
    val idx = java.nio.file.Files.createTempDirectory("rebidx").toString
    val base = "a long enough passage of repeated text to shingle well"
    Dedup.nearIncremental(
      Seq((1L, base), (2L, "something else entirely different here"))
        .toDF("doc_id", "text"), "text", "doc_id", idx) // bands = 4
    // migrate 4 -> 8 bands using only the stored signatures
    Dedup.rebandIndex(spark, idx, 8)
    assert(graft.core.Fs.readString(s"$idx/_graft_index_meta")
      .exists(_.contains("bands=8")), "sidecar follows the migration")
    // 8 band rows per doc now, one sig each
    assert(CdcTable.read(spark, idx).count() == 16)
    // the old band count is rejected loudly; the new one probes fine
    val e = intercept[IllegalArgumentException](
      Dedup.nearIncremental(
        Seq((9L, base)).toDF("doc_id", "text"), "text", "doc_id", idx))
    assert(e.getMessage.contains("bands=8"), e.getMessage)
    val pairs = Dedup.nearIncremental(
      Seq((10L, base)).toDF("doc_id", "text"), "text", "doc_id", idx,
      bands = 8)
      .filter($"est_jaccard" >= 0.99)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 10L)),
      s"history still matches through the re-banded layout: $pairs")
  }

  test("compactIndex retries against racing appenders; appends always win") {
    import graft.sink.CdcTable
    val idx = java.nio.file.Files.createTempDirectory("craceidx").toString
    (1 to 6).foreach { i =>
      Dedup.exactIncremental(
        Seq((i.toLong, s"document number $i")).toDF("doc_id", "text"),
        "text", "doc_id", idx)
    }
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // appenders keep landing batches while the fold runs: the fold's
    // optimistic snapshot is repeatedly superseded and must retry —
    // and no append may be lost to the replace
    val appender = scala.concurrent.Future {
      (10 to 15).foreach { i =>
        Dedup.exactIncremental(
          Seq((i.toLong, s"document number $i")).toDF("doc_id", "text"),
          "text", "doc_id", idx)
      }
    }
    val folder = scala.concurrent.Future {
      Dedup.compactIndex(spark, idx, retries = 50)
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(Seq(appender, folder)),
      scala.concurrent.duration.Duration(120, "s"))
    // every fingerprint survived whichever interleaving happened
    val fps = CdcTable.read(spark, idx)
      .select("keep_id").as[Long].collect().toSet
    assert(fps == ((1 to 6) ++ (10 to 15)).map(_.toLong).toSet,
      s"no append lost to the fold: $fps")
    // and a fold over the quiescent index leaves one row per fp
    Dedup.compactIndex(spark, idx)
    assert(CdcTable.read(spark, idx).count() == 12)
  }

  test("nearIncremental: 4 RACING appenders, commutative index, full recall after") {
    // the near/vector multi-writer contract (VERDICT r7 #5): appends
    // commute — no row lost, no row duplicated, each batch's pairs
    // cover at least its own snapshot, and a FOLLOW-UP batch sees
    // every racing batch's rows (any pair a racing interleaving
    // missed is recoverable one batch later)
    val idx = java.nio.file.Files.createTempDirectory("racenidx").toString
    val shared = "many shared tokens forming one long repeated passage of text"
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val futures = (0 until 4).map { t =>
      scala.concurrent.Future {
        Dedup.nearIncremental(Seq(
          (t * 100L + 1L, s"private words of thread number $t only here"),
          (t * 100L + 2L, shared)).toDF("doc_id", "text"),
          "text", "doc_id", idx)
          .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration(120, "s"))
    // commutative appends: every doc indexed exactly once (4 bands per
    // bandable doc, 8 docs)
    val rows = graft.sink.CdcTable.read(spark, idx)
    assert(rows.count() == 32, s"lost/duplicated index rows: ${rows.count()}")
    assert(rows.distinct().count() == 32)
    // follow-up: a new copy of the shared text pairs with ALL four
    // racing copies — whatever the interleaving hid is visible now
    val after = Dedup.nearIncremental(
      Seq((900L, shared)).toDF("doc_id", "text"), "text", "doc_id", idx)
      .filter($"est_jaccard" >= 0.99)
      .select("a_id").as[Long].collect().toSet
    assert(after == Set(2L, 102L, 202L, 302L),
      s"follow-up batch must see every racing copy: $after")
  }

  test("NULL text rows are never lost; they dedup as contentless docs") {
    // md5(NULL) is NULL and NULL keys fall out of every equi-join —
    // without the COALESCE a NULL-text row would VANISH from the
    // annotation (neither kept nor dropped)
    val df = Seq((1L, "real content"), (2L, null: String), (3L, "  "),
      (4L, null: String)).toDF("id", "text")
    val r = Dedup.exact(df, "text", "id")
    assert(r.count() == 4, "no row may vanish")
    val dec = r.select("id", "keep_id", "is_duplicate")
      .as[(Long, Long, Boolean)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(dec(2L) == ((2L, false)) && dec(3L) == ((2L, true)) &&
      dec(4L) == ((2L, true)),
      s"NULL and whitespace-only dedup together: $dec")
    // incremental: the contentless group carries across batches too
    val idx = java.nio.file.Files.createTempDirectory("nullidx").toString
    Dedup.exactIncremental(
      Seq((10L, null: String)).toDF("doc_id", "text"),
      "text", "doc_id", idx)
    val r2 = Dedup.exactIncremental(
      Seq((20L, ""), (21L, "actual text")).toDF("doc_id", "text"),
      "text", "doc_id", idx)
      .select("doc_id", "keep_id", "is_duplicate")
      .as[(Long, Long, Boolean)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r2 == Map(20L -> ((10L, true)), 21L -> ((21L, false))),
      s"batch-2 contentless doc must match the batch-1 one: $r2")
  }

  test("nearIncremental rejects a band-count mismatch with the index") {
    val idx = java.nio.file.Files.createTempDirectory("bmidx").toString
    val b = Seq((1L, "some words that are long enough to shingle"))
      .toDF("doc_id", "text")
    Dedup.nearIncremental(b, "text", "doc_id", idx) // bands=4
    val e = intercept[IllegalArgumentException](
      Dedup.nearIncremental(b, "text", "doc_id", idx, bands = 8))
    assert(e.getMessage.contains("bands=4"), e.getMessage)
  }

  test("nearIncremental maxBandDocFreq caps mass-duplicate buckets") {
    val base = "the quick brown fox jumps over the lazy dog and runs far " +
      "away into the deep green forest tonight while stars shine bright"
    val dup8 = (1L to 8L).map(i => (i, base)).toDF("doc_id", "text")
    val i1 = java.nio.file.Files.createTempDirectory("capidx1").toString
    val i2 = java.nio.file.Files.createTempDirectory("capidx2").toString
    assert(Dedup.nearIncremental(dup8, "text", "doc_id", i1).count() == 28,
      "uncapped: all C(8,2) identical-doc pairs")
    assert(Dedup.nearIncremental(dup8, "text", "doc_id", i2,
      maxBandDocFreq = Some(5)).count() == 0,
      "every band of an 8-copy boilerplate exceeds the cap")
  }

  test("dedupStreamToTable: unbounded-lookback dedup, exactly-once restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("sdidx").toString
    val out = java.nio.file.Files.createTempDirectory("sdout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sdckpt").toString
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF.toDF("doc_id", "text")
    val q1 = Dedup.dedupStreamToTable(df, "text", "doc_id", idx, out, ckpt)
    try {
      mem.addData((1L, "alpha"), (2L, "beta"), (3L, "Alpha "))
      q1.processAllAvailable() // in-batch dup: 3 normalizes to 1's text
      mem.addData((10L, "beta"), (11L, "gamma"))
      q1.processAllAvailable() // historical dup + novel
    } finally q1.stop()
    // restart from the checkpoint: lookback must cover ALL history
    val q2 = Dedup.dedupStreamToTable(df, "text", "doc_id", idx, out, ckpt)
    try {
      mem.addData((20L, "gamma"), (21L, "delta"))
      q2.processAllAvailable()
    } finally q2.stop()
    val ids = graft.sink.CdcTable.read(spark, out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 11L, 21L),
      s"unique docs only, across batches and a restart: $ids")
    assert(graft.sink.CdcTable.read(spark, out).columns.toSeq ==
      Seq("doc_id", "text"), "annotation columns must not leak")
  }

  test("bucketPairs: group-local and big-bucket join paths agree exactly") {
    import spark.implicits._
    // bucket A: 5 members (local path at max=1024, join path at
    // max=3); bucket B: 2 members; singleton bucket C contributes none
    val rows = ((1L to 5L).map(i => (i, "A")) ++
      Seq((10L, "B"), (11L, "B"), (20L, "C"))).toDF("id", "blk")
    def pairsAt(max: Int): Set[(Long, Long)] =
      Dedup.bucketPairs(rows, Seq("blk"), localExpandMax = max)
        .as[(Long, Long)].collect().toSet
    val expected = (for {
      a <- 1L to 5L; b <- 1L to 5L if a < b
    } yield (a, b)).toSet + ((10L, 11L))
    val local = pairsAt(1024) // everything group-local
    val split = pairsAt(3)    // bucket A through the streaming join
    assert(local == expected, s"local: $local")
    assert(split == expected, s"split must be the SAME exact set: $split")

    // a NULL bucket key is a real bucket: the split must route it by
    // SIZE like any other (a name-equality join would never match it
    // and a huge null bucket would slip into the collect leg)
    val withNull = (Seq((1L, Some("A")), (2L, Some("A"))) ++
      (10L to 14L).map(i => (i, Option.empty[String])))
      .toDF("id", "blk")
    val nullExpected = (for {
      a <- 10L to 14L; b <- 10L to 14L if a < b
    } yield (a, b)).toSet + ((1L, 2L))
    val nLocal = Dedup.bucketPairs(withNull, Seq("blk"), 1024)
      .as[(Long, Long)].collect().toSet
    val nSplit = Dedup.bucketPairs(withNull, Seq("blk"), 3)
      .as[(Long, Long)].collect().toSet
    assert(nLocal == nullExpected, s"null-bucket local: $nLocal")
    assert(nSplit == nullExpected,
      s"null bucket must take the join leg when big: $nSplit")
  }

  test("connected components converges on long chains (diameter >> rounds)") {
    // a 120-hop chain defeats one-hop label propagation (needs
    // `diameter` rounds); star contraction converges in O(log² n)
    val edges = (1L until 120L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    // driverEdgeLimit = 0 forces the DISTRIBUTED star iteration (the
    // property under test); the default takes the driver union-find
    // fast path — both must agree
    for (limit <- Seq(0L, Dedup.DriverCcEdgeLimit)) {
      val cc = Dedup.connectedComponents(spark, edges,
          driverEdgeLimit = limit)
        .as[(Long, Long)].collect().toMap
      assert(cc.size == 120, s"limit=$limit")
      assert(cc.values.forall(_ == 1L),
        s"every node labels to the chain min (limit=$limit)")
    }
  }

  test("connected components matches a union-find oracle on random graphs") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val n = 300
      val edges = (1 to 400).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      // driver-side union-find with min-id roots as the oracle
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
          parent(hi) = lo }
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expect = touched.map(v => v -> find(v.toInt).toLong).toMap
      // both the driver union-find fast path (default limit) and the
      // distributed star iteration (limit 0) must match the oracle
      for (limit <- Seq(0L, Dedup.DriverCcEdgeLimit)) {
        val got = Dedup.connectedComponents(spark,
            edges.toDF("a_id", "b_id"), driverEdgeLimit = limit)
          .as[(Long, Long)].collect().toMap
        assert(got == expect, s"seed $seed limit=$limit")
      }
    }
  }

  test("writeNearDupResult/readNearDupResult: consumers of the stored " +
      "result equal consumers of the live pipeline; re-write replaces") {
    val base = "the quick brown fox jumps over the lazy dog and runs " +
      "far away into the deep green forest tonight while stars shine"
    val docs = Seq(
      (10L, base, 60L), (11L, base + " extra", 66L),
      (12L, base.replace("quick", "rapid"), 60L),
      (13L, "completely different words describing graphs and engines " +
        "spark catalyst tungsten shuffle partitions exchange", 50L),
      (14L, "yet another unrelated document about streaming watermarks " +
        "checkpoints state stores and session windows", 48L)
    ).toDF("doc_id", "text", "n_chars")
    val live = Dedup.near(docs, "text", "doc_id", jaccardThreshold = 0.5)
    val dir = tmpDir("neardup_mat")
    Dedup.writeNearDupResult(live, dir)
    val stored = Dedup.readNearDupResult(spark, dir, docs, "doc_id")
    // every consumer reads the ONE stored result and equals the live run
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(stored.pairs) == rows(live.pairs))
    assert(rows(stored.components) == rows(live.components))
    assert(rows(stored.decisions) == rows(live.decisions))
    assert(rows(Dedup.canonicalByQuality(stored, docs, "doc_id",
        "n_chars")) ==
      rows(Dedup.canonicalByQuality(live, docs, "doc_id", "n_chars")))
    assert(rows(Dedup.positivePairs(stored)) ==
      rows(Dedup.positivePairs(live)))
    assert(rows(Sampling.clusterSplit(docs.select($"doc_id"), "doc_id",
        stored.components)) ==
      rows(Sampling.clusterSplit(docs.select($"doc_id"), "doc_id",
        live.components)))
    // a second write over a NEW snapshot atomically replaces: readers
    // see only the new labeling
    val docs2 = docs.filter($"doc_id" =!= 12L)
    val live2 = Dedup.near(docs2, "text", "doc_id",
      jaccardThreshold = 0.5)
    Dedup.writeNearDupResult(live2, dir)
    val stored2 = Dedup.readNearDupResult(spark, dir, docs2, "doc_id")
    assert(rows(stored2.components) == rows(live2.components))
    assert(!stored2.pairs.select("a_id", "b_id").as[(Long, Long)]
      .collect().toSet.exists(p => p._1 == 12L || p._2 == 12L),
      "the replaced snapshot must not leak old pairs")
  }

  test("appendNearDupResult: grown result ≡ from-scratch banded pairs, " +
      "replay no-ops, consumers serve from the same layout") {
    val base = "the quick brown fox jumps over the lazy dog and runs " +
      "far away into the deep green forest tonight while stars shine"
    val docs = Seq(
      (10L, base, 60L), (11L, base + " extra", 66L),
      (12L, base.replace("quick", "rapid"), 60L),
      (13L, "completely different words describing graphs and engines " +
        "spark catalyst tungsten shuffle partitions exchange", 50L),
      (14L, "yet another unrelated document about streaming watermarks " +
        "checkpoints state stores and session windows", 48L),
      (15L, base + " coda", 65L)
    ).toDF("doc_id", "text", "n_chars")
    val dir = tmpDir("neardup_grow")
    for (b <- 0 until 3)
      Dedup.appendNearDupResult(docs.filter($"doc_id" % 3 === b),
        "text", "doc_id", dir, estThreshold = 0.5,
        txn = Some(("t", b.toLong)),
        maxBandDocFreq = Some(Int.MaxValue))
    // replay batch 0 after everything arrived: must change nothing
    val pairsBefore = graft.sink.CdcTable
      .read(spark, s"$dir/pairs").count()
    Dedup.appendNearDupResult(docs.filter($"doc_id" % 3 === 0),
      "text", "doc_id", dir, estThreshold = 0.5,
      txn = Some(("t", 0L)), maxBandDocFreq = Some(Int.MaxValue))
    assert(graft.sink.CdcTable.read(spark, s"$dir/pairs").count()
      == pairsBefore, "replayed batch must not re-land pairs")
    val grown = Dedup.readNearDupResult(spark, dir, docs, "doc_id")
    // from-scratch reference with the SAME estimate semantics: the
    // whole corpus as ONE batch — all banded pairs, sig-match >= 8/16
    val scratch = Dedup.nearIncremental(docs, "text", "doc_id",
        tmpDir("neardup_grow_ref"),
        maxBandDocFreq = Some(Int.MaxValue))
      .filter($"est_jaccard" >= 0.5)
    assert(grown.pairs.select("a_id", "b_id").as[(Long, Long)]
      .collect().toSet ==
      scratch.select("a_id", "b_id").as[(Long, Long)]
        .collect().toSet,
      "grown pair set must equal the single-batch computation")
    // components cover the duplicate cluster with min-id labels
    val comp = grown.components.as[(Long, Long)].collect().toMap
    assert(comp(10L) == 10L && comp(11L) == 10L && comp(12L) == 10L &&
      comp(15L) == 10L, s"cluster labels wrong: $comp")
    // consumers serve from the grown layout
    val kept = Dedup.canonicalByQuality(grown, docs, "doc_id",
      "n_chars").select("kept_id").as[Long].collect().toSeq
    assert(kept == Seq(11L), s"highest-quality member wins: $kept")
  }

  test("dupSubstringStats: cross-doc runs cover their interval union; " +
      "within-doc repeats alone do not count") {
    val run = (1 to 10).map(i => s"r$i").mkString(" ")
    val seam = (1 to 8).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 $run a3"),     // run at token positions 3..12
      (2L, s"b1 $run"),           // run at token positions 2..11
      (3L, s"$seam $seam")        // 8-token block repeated IN-doc only
    ).toDF("doc_id", "text")
    val got = Dedup.dupSubstringStats(docs, "text", "doc_id", l = 8)
      .as[(Long, Long, Long, Long, Option[Double])]
      .collect().map(t => t._1 -> t).toMap
    // 10-token shared run → three 8-windows (starts 3,4,5 in doc 1);
    // interval union [3,12] = 10 covered positions
    assert(got(1L) == ((1L, 13L, 3L, 10L, Some(10.0 / 13))), s"${got(1L)}")
    assert(got(2L) == ((2L, 11L, 3L, 10L, Some(10.0 / 11))), s"${got(2L)}")
    assert(got(3L) == ((3L, 16L, 0L, 0L, Some(0.0))), s"${got(3L)}")
  }

  test("dupSubstring family: NULL text coalesces to '' (one empty " +
      "token) instead of producing negative-size garbage rows") {
    val run = (1 to 10).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 $run a3"), (2L, s"b1 $run"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val st = Dedup.dupSubstringStats(docs, "text", "doc_id", l = 8)
      .as[(Long, Long, Long, Long, Option[Double])]
      .collect().map(t => t._1 -> t).toMap
    assert(st(3L) == ((3L, 1L, 0L, 0L, Some(0.0))),
      s"null text must behave like empty text: ${st(3L)}")
    assert(st(1L)._4 == 10L && st(2L)._4 == 10L,
      s"non-null rows unaffected: $st")
    val rw = Dedup.dupSubstringRewrite(docs, "text", "doc_id", l = 8)
      .as[(Long, Long, Long, String)].collect().map(t => t._1 -> t).toMap
    assert(rw(3L) == ((3L, 1L, 0L, "")),
      s"null text must rewrite to the empty doc: ${rw(3L)}")
  }

  test("dupSubstringIncremental: cross-batch runs detected from the " +
      "window index, replay no-ops, layout pinned") {
    val run = (1 to 10).map(i => s"r$i").mkString(" ")
    val idx = tmpDir("dupincr")
    val b1 = Seq(
      (1L, s"a1 a2 $run a3"),
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9")).toDF("doc_id", "text")
    val r1 = Dedup.dupSubstringIncremental(b1, "text", "doc_id", idx,
        l = 8, txn = Some(("t", 1L)))
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(t => t._1 -> t).toMap
    assert(r1(1L)._4 == 0L && r1(2L)._4 == 0L,
      s"nothing shared within batch 1: $r1")
    // batch 2 carries the run — doc 1's TEXT is gone, only window ids
    val b2 = Seq((10L, s"b1 $run")).toDF("doc_id", "text")
    def run2() = Dedup.dupSubstringIncremental(b2, "text", "doc_id",
        idx, l = 8, txn = Some(("t", 2L)))
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(t => t._1 -> t).toMap
    val r2 = run2()
    assert(r2(10L) == ((10L, 11L, 3L, 10L, Some(10.0 / 11))),
      s"${r2(10L)}")
    // replay: identical output (own-txn exclusion), index un-grown
    val n = graft.sink.CdcTable.read(spark, idx).count()
    assert(run2() == r2, "replayed batch must report identically")
    assert(graft.sink.CdcTable.read(spark, idx).count() == n)
    // window length is pinned at creation
    val e = intercept[IllegalArgumentException] {
      Dedup.dupSubstringIncremental(b2, "text", "doc_id", idx, l = 5)
    }
    assert(e.getMessage.contains("l=8"), e.getMessage)
  }

  test("dupSubstringDedupStreamToTable drops verbatim-run copies of " +
      "historical docs, first-seen wins within a batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val run = (1 to 10).map(i => s"r$i").mkString(" ")
    val idx = tmpDir("dsidx")
    val out = tmpDir("dsout")
    val ckpt = tmpDir("dsckpt")
    val mem = MemoryStream[(Long, String)]
    val q = Dedup.dupSubstringDedupStreamToTable(
      mem.toDF.toDF("doc_id", "text"), "text", "doc_id", idx, out,
      ckpt, maxDupRatio = 0.5)
    try {
      mem.addData((1L, s"a1 a2 $run a3"),
        (2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"))
      q.processAllAvailable() // nothing shared: both kept
      // 10 mostly-copies historical 1 → dropped; 11 novel → kept;
      // 12 copies 11 WITHIN the batch → first-seen wins, 12 drops
      val novel = "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10 n11"
      mem.addData((10L, s"b1 $run"), (11L, novel), (12L, s"x $novel"))
      q.processAllAvailable()
    } finally q.stop()
    // restart: lookback still covers pre-restart history
    val q2 = Dedup.dupSubstringDedupStreamToTable(
      mem.toDF.toDF("doc_id", "text"), "text", "doc_id", idx, out,
      ckpt, maxDupRatio = 0.5)
    try {
      mem.addData((20L, s"$run c9")) // run again → drop
      q2.processAllAvailable()
    } finally q2.stop()
    val ids = graft.sink.CdcTable.read(spark, out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 11L),
      s"run copies dropped across batches and the restart: $ids")
    val idxDocs = graft.sink.CdcTable.read(spark, idx)
      .select("doc_id").as[Long].collect().toSet
    assert(idxDocs == Set(1L, 2L, 11L),
      s"kept-only indexing: $idxDocs")
  }

  test("syncComponents: incremental folds equal full CC across " +
      "component merges, out-of-order ids, empty batches, and " +
      "replace commits") {
    import graft.sink.CdcTable
    val dir = tmpDir("ccsync")
    val pairsDir = s"$dir/pairs"
    var v = 0L
    def appendPairs(ps: (Long, Long)*): Unit = {
      v += 1
      CdcTable.append(
        ps.map(p => (p._1, p._2, 0.9)).toDF("a_id", "b_id",
          "est_jaccard"),
        pairsDir, partitionBy = Nil, txn = Some(("t", v)))
      ()
    }
    def comps(): Map[Long, Long] = CdcTable
      .read(spark, s"$dir/components")
      .select("id", "component").as[(Long, Long)].collect().toMap
    def full(): Map[Long, Long] = Dedup.connectedComponents(spark,
        CdcTable.read(spark, pairsDir))
      .as[(Long, Long)].collect().toMap
    appendPairs((1L, 2L), (5L, 6L))
    assert(Dedup.syncComponents(spark, dir) == 1)
    assert(comps() == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
    assert(Dedup.syncComponents(spark, dir) == 0, "already fresh")
    // one new edge MERGES two existing components: the loser's
    // members (6) relabel even though no new edge touches them
    appendPairs((2L, 5L))
    assert(Dedup.syncComponents(spark, dir) == 1)
    assert(comps() == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L))
    // out-of-order arrival: a SMALLER new id relabels the cluster
    appendPairs((6L, 0L))
    Dedup.syncComponents(spark, dir)
    assert(comps() ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 0L, 6L -> 0L))
    // an empty batch still advances the high-water mark
    appendPairs()
    assert(Dedup.syncComponents(spark, dir) == 1)
    assert(Dedup.syncComponents(spark, dir) == 0,
      "empty batch must stamp the mark, not re-scan forever")
    // disjoint new cluster inserts without touching stored rows
    appendPairs((100L, 101L))
    Dedup.syncComponents(spark, dir)
    assert(comps() == full())
    // a REPLACE in the unseen range (compaction / batch rewrite)
    // cannot fold incrementally: one full rebuild, then fresh again
    CdcTable.replaceWith(pairsDir,
      CdcTable.read(spark, pairsDir).filter($"a_id" =!= 100L),
      partitionBy = Nil)
    assert(Dedup.syncComponents(spark, dir) == 1)
    assert(comps() == full(),
      "rebuild after a pairs replace must match full CC")
    assert(!comps().contains(100L),
      "labels of pairs dropped by the replace must not survive")
    assert(Dedup.syncComponents(spark, dir) == 0)
  }

  test("syncComponents: non-integral ids fall back to the " +
      "distributed relabel and stay correct") {
    import graft.sink.CdcTable
    val dir = tmpDir("ccsyncstr")
    CdcTable.append(
      Seq(("b", "a", 0.9), ("y", "z", 0.8)).toDF("a_id", "b_id",
        "est_jaccard"),
      s"$dir/pairs", partitionBy = Nil, txn = Some(("t", 1L)))
    assert(Dedup.syncComponents(spark, dir) == 1)
    val got = CdcTable.read(spark, s"$dir/components")
      .select("id", "component").as[(String, String)].collect().toMap
    assert(got ==
      Map("a" -> "a", "b" -> "a", "y" -> "y", "z" -> "y"), s"$got")
  }

  test("connected components: string/UUID ids bypass the driver fast " +
      "path and still label correctly") {
    // the driver union-find collects ids as Long; a string id casts
    // to NULL and getLong would read 0, collapsing every edge onto
    // one node — the fast path must be gated on integral id types
    val edges = Seq(("uuid-b", "uuid-a"), ("uuid-c", "uuid-b"),
      ("uuid-z", "uuid-y")).toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(spark, edges)
      .as[(String, String)].collect().toMap
    assert(cc.size == 5, s"five nodes labeled: $cc")
    assert(cc("uuid-a") == "uuid-a" && cc("uuid-b") == "uuid-a" &&
      cc("uuid-c") == "uuid-a")
    assert(cc("uuid-y") == "uuid-y" && cc("uuid-z") == "uuid-y")
    // numeric-LOOKING strings must also avoid the Long collect (the
    // cast would succeed but silently change the output id type)
    val numStr = Seq(("20", "10"), ("30", "20")).toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(spark, numStr)
    assert(got.schema("id").dataType ==
      org.apache.spark.sql.types.StringType)
    val m = got.as[(String, String)].collect().toMap
    assert(m == Map("10" -> "10", "20" -> "10", "30" -> "10"))
    // narrower INTEGRAL ids take the fast path but must come back in
    // the INPUT type — the output schema cannot depend on which path
    // the edge count picked
    val intIds = Seq((2, 1), (3, 2)).toDF("a_id", "b_id")
    val gotInt = Dedup.connectedComponents(spark, intIds)
    assert(gotInt.schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType,
      s"got ${gotInt.schema("id").dataType}")
    assert(gotInt.as[(Int, Int)].collect().toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1))
  }

  test("connected components merges transitive chains") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(spark, edges)
      .as[(Long, Long)].collect().toMap
    assert(cc(1L) == 1L && cc(2L) == 1L && cc(3L) == 1L)
    assert(cc(7L) == 7L && cc(9L) == 7L)
  }

  test("selfSpanDedup cuts repeated spans within a doc, keeps order") {
    val docs = Seq(
      (1L, "x y z x y z x y z a"), // span "x y z" ×3 + remainder "a"
      (2L, "p q r s t u"), // no repeats: unchanged
      (3L, "m n"), // sub-width: zero spans, text passes through
      (4L, "a b c d e f a b c")) // repeat NON-adjacent: still cut
      .toDF("doc_id", "text")
    val got = Dedup.selfSpanDedup(docs, "doc_id")
      .as[(Long, Long, Long, String)].collect().map(t => t._1 -> t).toMap
    assert(got(1L) == ((1L, 3L, 2L, "x y z a")))
    assert(got(2L) == ((2L, 2L, 0L, "p q r s t u")))
    assert(got(3L) == ((3L, 0L, 0L, "m n")))
    assert(got(4L) == ((4L, 3L, 1L, "a b c d e f")))
    // deterministic: a second run is identical
    val again = Dedup.selfSpanDedup(docs, "doc_id")
      .as[(Long, Long, Long, String)].collect().map(t => t._1 -> t).toMap
    assert(again == got)
  }

  test("winnowFingerprints: JVM reference match, local guarantee, " +
      "density, short-doc paths") {
    // JVM reference of the same selection (k=3, w=4, 56-bit md5 ids)
    def hash56(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(7).map("%02x".format(_)).mkString.take(14), 16)
    }
    def refWinnow(text: String, k: Int = 3, w: Int = 4): Set[Int] = {
      val toks = text.trim.split("\\s+")
      val ng = toks.length - k + 1
      if (ng < 1) return Set.empty
      val hs = (0 until ng).map(i =>
        hash56(toks.slice(i, i + k).mkString(" ")))
      val ww = math.min(w, ng)
      (0 to ng - ww).map { j =>
        val win = hs.slice(j, j + ww)
        val m = win.min
        j + win.lastIndexOf(m) + 1 // 1-based, rightmost minimum
      }.toSet
    }
    val rnd = new scala.util.Random(19)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val texts = (1L to 40L).map(i =>
      (i, (0 until 30).map(_ => vocab(rnd.nextInt(8))).mkString(" ")))
    val docs = texts.toDF("doc_id", "text")
    val got = Dedup.winnowFingerprints(docs, "doc_id")
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (id, g) => id -> g.map(_._2).toSet }
    texts.foreach { case (id, t) =>
      assert(got(id) == refWinnow(t), s"doc $id") }
    // fingerprint VALUES are the hashes at the selected positions
    val fps = Dedup.winnowFingerprints(docs, "doc_id")
      .filter($"id" === 1L).as[(Long, Int, Long)].collect()
    val toks1 = texts.head._2.split(" ")
    fps.foreach { case (_, pos, fp) =>
      assert(fp == hash56(toks1.slice(pos - 1, pos + 2).mkString(" ")))
    }
    // density: expected ~2/(w+1) = 0.4 of the 28 k-grams
    val dens = got.values.map(_.size / 28.0)
    assert(dens.sum / dens.size > 0.25 && dens.sum / dens.size < 0.55,
      s"winnow density off: ${dens.sum / dens.size}")
    // the LOCAL GUARANTEE: a shared run of >= w+k-1 = 6 tokens always
    // yields a shared fingerprint, wherever it sits in either doc
    val run = "r1 r2 r3 r4 r5 r6"
    val pair = Seq(
      (100L, s"x1 x2 x3 $run x4 x5"),
      (200L, s"y1 $run y2 y3 y4 y5 y6")).toDF("doc_id", "text")
    val sids = Dedup.winnowSids(pair, "doc_id")
      .as[(Long, Int, Seq[Long])].collect()
      .map(t => t._1 -> t._3.toSet).toMap
    assert((sids(100L) & sids(200L)).nonEmpty,
      "a 6-token shared run must share a fingerprint")
    // short docs: ng in [1, w) winnows one whole-doc window (exactly
    // one fingerprint); docs under k tokens drop
    val short = Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text")
    val shortGot = Dedup.winnowFingerprints(short, "doc_id")
      .as[(Long, Int, Long)].collect()
    assert(shortGot.map(_._1).toSet == Set(1L))
    assert(shortGot.length == 1)
    // blockCol pass-through: identical docs in DIFFERENT blocks never
    // pair when blocked, pair globally otherwise
    val sameText = "one two three four five six seven eight"
    val two = Seq((1L, "a", sameText), (2L, "b", sameText))
      .toDF("doc_id", "src", "text")
    assert(Dedup.ngramJaccardPairsFromSids(
      Dedup.winnowSids(two, "doc_id", blockCol = Some("src")),
      0.5, None).count() == 0)
    assert(Dedup.ngramJaccardPairsFromSids(
      Dedup.winnowSids(two, "doc_id"), 0.5, None).count() == 1)
  }

  test("winnowIncremental: batched ≡ batch-global, replay-safe, " +
      "layout-pinned, fold-invariant, hot-cap bounds boilerplate") {
    val texts = (1L to 30L).map { i =>
      if (i % 10 == 0) // planted excerpt family: shared 8-token run
        (i, s"p$i q$i the quick brown fox jumps over the lazy dog z$i")
      else (i, (1 to 12).map(j => s"w${i}_$j").mkString(" "))
    }
    val docs = texts.toDF("doc_id", "text")
    val idx = tmpDir("winidx")
    val got = (0 until 3).map { b =>
      Dedup.winnowIncremental(docs.filter($"doc_id" % 3 === b),
        "text", "doc_id", idx, threshold = 0.3,
        txn = Some(("t", b.toLong)), maxFpDocFreq = Some(Int.MaxValue))
    }.reduce(_ unionByName _)
      .as[(Long, Long, Long, Int, Int, Double)].collect().toSet
    // batch-global mirror over the same fingerprints
    val sids = Dedup.winnowSids(docs, "doc_id")
      .as[(Long, Int, Seq[Long])].collect()
      .map(t => t._1 -> t._3.toSet).toMap
    val expect = (for {
      a <- sids.keys; b <- sids.keys if a < b
      inter = (sids(a) & sids(b)).size
      cont = inter.toDouble / math.min(sids(a).size, sids(b).size)
      if cont >= 0.3
    } yield (a, b, inter.toLong, sids(a).size, sids(b).size, cont)).toSet
    assert(got == expect, s"got ${got.size} vs expect ${expect.size}")
    assert(got.exists { case (a, b, _, _, _, _) =>
      a % 10 == 0 && b % 10 == 0 }, "the planted excerpt family pairs")
    // crash replay: re-running a committed batch returns the same
    // pairs and appends nothing
    val rows = graft.sink.CdcTable.read(spark, idx).count()
    val replay = Dedup.winnowIncremental(docs.filter($"doc_id" % 3 === 1),
      "text", "doc_id", idx, threshold = 0.3, txn = Some(("t", 1L)),
      maxFpDocFreq = Some(Int.MaxValue))
      .as[(Long, Long, Long, Int, Int, Double)].collect().toSet
    assert(graft.sink.CdcTable.read(spark, idx).count() == rows,
      "replayed batch must not grow the index")
    assert(replay.subsetOf(got), "replay pairs are the originals")
    // layout pinned: a different (k, w) refuses loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.winnowIncremental(docs, "text", "doc_id", idx,
        k = 2, w = 6, maxFpDocFreq = Some(Int.MaxValue))
    }
    assert(e.getMessage.contains("rebuild the index"))
    // GRAFT COMPACT INDEX folds it without changing probe results
    val commitsBefore = graft.sink.CdcTable.log(idx).length
    spark.sql(s"GRAFT COMPACT INDEX '$idx'").collect()
    assert(graft.sink.CdcTable.log(idx).length > commitsBefore,
      "fold lands a replace commit")
    val extra = Seq((100L, texts.head._2)).toDF("doc_id", "text")
    val post = Dedup.winnowIncremental(extra, "text", "doc_id", idx,
      threshold = 0.3, txn = Some(("t", 9L)),
      maxFpDocFreq = Some(Int.MaxValue))
      .as[(Long, Long, Long, Int, Int, Double)].collect()
    assert(post.exists(p => p._1 == 1L && p._2 == 100L),
      s"a verbatim copy of doc 1 must pair with it post-fold: " +
        s"${post.toSeq}")
    // hot-fp cap: a mass-boilerplate batch (60 copies of one page)
    // self-limits — capped candidate volume collapses
    val boiler = (200L until 260L)
      .map(i => (i, "copy of the same boilerplate page body text here"))
      .toDF("doc_id", "text")
    val idx2 = tmpDir("winidx2")
    Dedup.winnowIncremental(boiler.filter($"doc_id" < 230), "text",
      "doc_id", idx2, maxFpDocFreq = Some(Int.MaxValue),
      txn = Some(("b", 0L)))
    val capped = Dedup.winnowIncremental(
      boiler.filter($"doc_id" >= 230), "text", "doc_id", idx2,
      maxFpDocFreq = Some(3), txn = Some(("b", 1L)))
    assert(capped.count() == 0,
      "over-cap fingerprints must be excluded from candidates")
  }

  test("positivePairs enumerates transitive same-cluster pairs") {
    import spark.implicits._
    // components: {1,2,3} (via chain), {7,9}
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("id", "component")
    val res = Dedup.NearDupResult(
      Seq.empty[(Long, Long)].toDF("a_id", "b_id"), comps,
      spark.emptyDataFrame)
    val got = Dedup.positivePairs(res)
      .as[(Long, Long, Long)].collect().toSet
    // all 3 pairs of the triangle appear even if only 2 edges were
    // verified upstream — the cluster asserts same-content
    assert(got == Set((1L, 1L, 2L), (1L, 1L, 3L), (1L, 2L, 3L),
      (7L, 7L, 9L)))
  }

  test("spanStats matches a brute-force oracle on random corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // tiny vocabulary forces genuine cross-doc span collisions
    val word = Gen.oneOf("aa", "bb", "cc", "dd")
    val doc = Gen.chooseNum(0, 14).flatMap(k =>
      Gen.listOfN(k, word).map(_.mkString(" ")))
    val corpusGen = Gen.listOfN(20, doc)
    (1 to 4).foreach { seed =>
      val texts = corpusGen(Gen.Parameters.default, Seed(seed.toLong)).get
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.spanStats(df, "text", "doc_id",
          width = 3, minDocs = 3)
        .as[(Long, Long, Long, Double)].collect()
        .map(x => x._1 -> ((x._2, x._3))).toMap
      // brute force: non-overlapping width-3 spans per doc (split
      // semantics mirror Spark: split(trim, \s+))
      val spansByDoc = texts.zipWithIndex.map { case (t, i) =>
        val toks = t.trim.split("\\s+", -1).toSeq
        val spans =
          if (toks.length < 3) Seq.empty[String]
          else toks.take(toks.length / 3 * 3).grouped(3)
            .map(_.mkString(" ")).toSeq
        i.toLong -> spans
      }.toMap
      val df3 = spansByDoc.toSeq
        .flatMap { case (id, ss) => ss.distinct.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.size).toMap
      val boiler = df3.filter(_._2 >= 3).keySet
      spansByDoc.foreach { case (id, spans) =>
        val expect = (spans.size.toLong,
          spans.count(boiler).toLong)
        assert(got(id) == expect,
          s"seed=$seed doc=$id got=${got(id)} expect=$expect " +
            s"spans=$spans")
      }
    }
  }

  test("span stats flag planted boilerplate spans, leave unique text") {
    // 4-token footer after 6 unique tokens: tokens 6-8 form the span
    // "subscribe to our", identical across docs 1-3; "newsletter"
    // (token 9) falls off the last full span
    val footer = "subscribe to our newsletter"
    val docs = Seq(
      (1L, s"alpha beta gamma delta epsilon zeta $footer"),
      (2L, s"one two three four five six $footer"),
      (3L, s"red green blue cyan magenta yellow $footer"),
      (4L, "totally unique words nothing shared here at all"),
      (5L, "hi") // < width tokens → 0 segments, keep_ratio 1.0
    ).toDF("doc_id", "text")
    val r = Dedup.spanStats(docs, "text", "doc_id",
        width = 3, minDocs = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4))).toMap
    // 10-token docs → 3 spans each; the third span is the shared
    // "subscribe to our" in all three docs → boilerplate
    (1L to 3L).foreach { id =>
      val (nseg, nboil, ratio) = r(id)
      assert(nseg == 3, s"doc $id nseg=$nseg")
      assert(nboil == 1, s"doc $id nboil=$nboil")
      assert(math.abs(ratio - 2.0 / 3) < 1e-12, s"doc $id ratio=$ratio")
    }
    assert(r(4L) == ((2L, 0L, 1.0)))
    assert(r(5L) == ((0L, 0L, 1.0)))
  }

  test("autoBandDocFreq: 64 floor, sqrt growth") {
    assert(Dedup.autoBandDocFreq(0) == 64)
    assert(Dedup.autoBandDocFreq(1000) == 64)   // sqrt(1000)=32 < floor
    assert(Dedup.autoBandDocFreq(4096) == 64)   // boundary: sqrt = floor
    assert(Dedup.autoBandDocFreq(10000) == 100)
    assert(Dedup.autoBandDocFreq(10001) == 101) // ceil, not round
    assert(Dedup.autoBandDocFreq(1000000) == 1000)
    assert(Dedup.autoBandDocFreq(1L << 60) > 1000000000)
  }

  test("auto cap bounds planted hot-bucket candidate volume, keeps signal") {
    // A mass-duplicated boilerplate cluster (80 identical docs — over
    // the 64-doc floor) plus one ordinary near-dup pair. With the
    // derived cap, the cluster's band buckets are excluded from
    // candidate generation (its pairs would be quadratic noise), while
    // the ordinary pair — whose buckets stay cool — is still found.
    val boiler = "please subscribe to our newsletter for updates and " +
      "follow us on every social network we list in this footer today"
    val base = "the quick brown fox jumps over the lazy dog and runs " +
      "far away into the deep green forest tonight while stars shine"
    val cluster = (100L until 180L).map(i => (i, boiler))
    val signal = Seq((10L, base), (11L, base + " extra"))
    val docs = (cluster ++ signal).toDF("doc_id", "text")

    val capped = java.nio.file.Files.createTempDirectory("hotcap").toString
    val auto = Dedup.nearIncremental(docs, "text", "doc_id", capped)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // 82 docs → derived cap = 64; the 80-doc cluster exceeds it in
    // EVERY band, so none of its 80*79/2 = 3160 pairs survive
    assert(!auto.exists(p => p._1 >= 100L || p._2 >= 100L),
      s"hot-bucket pairs leaked: ${auto.filter(_._1 >= 100L).take(5)}")
    assert(auto.contains((10L, 11L)), s"cool-bucket signal lost: $auto")

    // the cap — not banding luck — is what bounded it: uncapped run
    // on the same input yields the full quadratic cluster
    val open = java.nio.file.Files.createTempDirectory("hotopen").toString
    val uncapped = Dedup.nearIncremental(docs, "text", "doc_id", open,
        maxBandDocFreq = Some(Int.MaxValue))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(uncapped.count(p => p._1 >= 100L && p._2 >= 100L) == 80 * 79 / 2)
    assert(auto.subsetOf(uncapped))
  }

  test("crash-replay probes the pre-batch snapshot: a finite hot-bucket " +
      "cap must not flip from the batch's own committed index rows") {
    // r12 advisor: on crash-replay (index append committed, caller's
    // downstream append not), the hist read used to include the
    // batch's own rows — exact bucket occupancy double-counted them,
    // so a finite cap could exclude buckets the fresh run kept and
    // the replayed pair set silently diverged.
    val copy = "many identical boilerplate words repeated across every " +
      "copy of one web page with enough tokens to shingle and band here"
    val b = (1L to 4L).map(i => (i, copy)).toDF("doc_id", "text")
    // BAND index: 4 copies in one batch → every band bucket holds
    // exactly 4 rows; cap 4 keeps them on the fresh run, and a
    // double-counted replay would read 8 > 4 and drop every pair
    val idx = tmpDir("capreplay")
    def bandRun() = Dedup.nearIncremental(b, "text", "doc_id", idx,
        txn = Some(("cap-replay", 1L)), maxBandDocFreq = Some(4))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val fresh = bandRun()
    assert(fresh.size == 6, s"occupancy 4 <= cap 4 keeps all pairs: $fresh")
    assert(bandRun() == fresh,
      "replayed band batch must pair identically to its original run")
    // WINNOW index: same shape — hist-side df of the batch's own
    // committed fingerprints would exceed cap 3 and suppress every
    // pair the fresh run (empty hist) reported
    val widx = tmpDir("wcapreplay")
    def winnowRun() = Dedup.winnowIncremental(b, "text", "doc_id", widx,
        threshold = 0.5, txn = Some(("wcap-replay", 1L)),
        maxFpDocFreq = Some(3))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val wfresh = winnowRun()
    assert(wfresh.size == 6, s"fresh winnow run pairs all copies: $wfresh")
    assert(winnowRun() == wfresh,
      "replayed winnow batch must pair identically to its original run")
  }

  /** Runs `probe` (which appends under `txn`) twice with the same txn
    * — a crash replay — and checks the replay reproduces the output
    * and no-ops the index append. */
  private def assertReplayParity[T](idx: String)(probe: () => Set[T])
      : Set[T] = {
    val fresh = probe()
    val rows = graft.sink.CdcTable.read(spark, idx).count()
    assert(probe() == fresh, "replayed batch must reproduce its output")
    assert(graft.sink.CdcTable.read(spark, idx).count() == rows,
      "replayed index append must no-op")
    fresh
  }

  test("crash-replay parity: exactIncremental") {
    val idx = tmpDir("exreplay")
    Dedup.exactIncremental(Seq((1L, "alpha"), (2L, "beta"))
      .toDF("doc_id", "text"), "text", "doc_id", idx,
      txn = Some(("ex-replay", 0L))).collect()
    val b = Seq((3L, "alpha"), (4L, "gamma"), (5L, "Gamma "))
      .toDF("doc_id", "text")
    val got = assertReplayParity(idx) { () =>
      Dedup.exactIncremental(b, "text", "doc_id", idx,
          txn = Some(("ex-replay", 1L)))
        .select("doc_id", "keep_id", "is_duplicate")
        .as[(Long, Long, Boolean)].collect().toSet
    }
    assert(got == Set((3L, 1L, true), (4L, 4L, false), (5L, 4L, true)))
  }

  test("crash-replay parity: nearDupIncremental (vector index)") {
    val idx = tmpDir("vecreplay")
    val e = Array(0.6f, 0.8f, 0f)
    Similarity.nearDupIncremental(Seq((1L, e)).toDF("vec_id", "embedding"),
      "vec_id", 0.9, idx, txn = Some(("vec-replay", 0L))).collect()
    val b = Seq((2L, e), (3L, Array(0.61f, 0.79f, 0f)),
      (4L, Array(0f, 0f, 1f))).toDF("vec_id", "embedding")
    val got = assertReplayParity(idx) { () =>
      Similarity.nearDupIncremental(b, "vec_id", 0.9, idx,
          txn = Some(("vec-replay", 1L)))
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    }
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"$got")
  }

  test("crash-replay parity: semDedupIncremental (cell index)") {
    val idx = tmpDir("semreplay")
    val cents = Seq(0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0f, 1f, 0f, 0f))
    Similarity.semDedupIncremental(
      Seq((0L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding"),
      "vec_id", 0.85, cents, idx, txn = Some(("sem-replay", 0L))).collect()
    val b = Seq((10L, Array(0.95f, 0.05f, 0f, 0f)),
      (11L, Array(0.9f, 0.1f, 0f, 0f)), (12L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = assertReplayParity(idx) { () =>
      Similarity.semDedupIncremental(b, "vec_id", 0.85, cents, idx,
          txn = Some(("sem-replay", 1L)))
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    }
    assert(got == Set((0L, 10L), (0L, 11L), (10L, 11L)), s"$got")
  }

  test("crash-replay parity: dHashIncremental under a finite hot cap") {
    // 4 identical images in one batch → every band bucket holds exactly
    // 4 rows; cap 4 keeps them, and a replay that counted the batch's
    // own committed rows would read 8 > 4 and drop every pair
    val idx = tmpDir("dhreplay")
    val b = (1L to 4L).map(i => (i, 0x0123456789abcdefL >>> 1))
      .toDF("doc_id", "dhash")
    val got = assertReplayParity(idx) { () =>
      Multimodal.dHashIncremental(b, "doc_id", "dhash", idx,
          txn = Some(("dh-replay", 1L)), maxBandDocFreq = Some(4))
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    }
    assert(got.size == 6, s"occupancy 4 <= cap 4 keeps all pairs: $got")
  }
}
