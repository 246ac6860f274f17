package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Interpolated Kneser–Ney bigram scoring vs an independent JVM
  * reference (BigInt arithmetic, plain Scala counting) — the same
  * cross-check move as BpeSpec: the oracle gate (q180) pins Spark vs
  * DuckDB; this pins both against a third implementation of the
  * published math, plus the branches and the incremental-count-table
  * composition. */
class KneserNeySpec extends SparkSpec {
  import spark.implicits._

  private def df(docs: (Long, String)*) = docs.toDF("doc_id", "text")

  /** Independent reference: exact KN fixed-point bits per doc. */
  private def brute(train: Seq[String], score: Seq[(Long, String)])
      : Map[Long, (Long, Long, Long, Long)] = {
    def toks(t: String) = t.trim.split("\\s+").toSeq
    val bigrams = train.flatMap { t => val w = toks(t); w.zip(w.tail) }
    val c12 = bigrams.groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val c1 = c12.groupBy(_._1._1)
      .map { case (w1, m) => w1 -> m.values.sum }
    val fwd = c12.groupBy(_._1._1)
      .map { case (w1, m) => w1 -> m.size.toLong }
    val bwd = c12.groupBy(_._1._2)
      .map { case (w2, m) => w2 -> m.size.toLong }
    val t = c12.size.toLong
    def flog2(x: Long): Long = graft.functions.FixedPointMath.flog2(x)
    score.map { case (id, txt) =>
      val w = toks(txt)
      val ps = w.zip(w.tail)
      var bits = 0L; var seen = 0L
      for (p <- ps) {
        val pf: Long =
          if (c1.contains(p._1)) {
            val num = BigInt(1048576) * (
              BigInt(math.max(100L * c12.getOrElse(p, 0L) - 75L, 0L)) *
                t + BigInt(75) * fwd(p._1) *
                BigInt(bwd.getOrElse(p._2, 0L)))
            val den = BigInt(100) * c1(p._1) * t
            (num / den).toLong
          } else
            (BigInt(1048576) * BigInt(bwd.getOrElse(p._2, 0L)) / t)
              .toLong
        if (c12.contains(p)) seen += 1
        bits += 20L * 65536L - flog2(math.max(pf, 1L))
      }
      val n = ps.size.toLong
      id -> ((n, seen, bits, if (n > 0) bits / n else 0L))
    }.toMap
  }

  private def collectScores(out: org.apache.spark.sql.DataFrame)
      : Map[Long, (Long, Long, Long, Long)] =
    out.select("id", "n_pos", "seen_bi", "bits_fp", "bpt_fp")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

  test("randomized cross-check against the BigInt reference") {
    val rnd = new scala.util.Random(53)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    def doc() = Seq.fill(rnd.nextInt(30) + 2)(
      vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val train = Seq.fill(25)(doc())
    // score docs include held-out text with tokens ('zz') absent from
    // training — every backoff branch fires
    val scored = train.take(10).zipWithIndex
      .map { case (t, i) => (i.toLong, t) } ++
      Seq((100L, "zz a b zz"), (101L, doc() + " zz"), (102L, "zz zz"))
    val trainDf = df(train.zipWithIndex
      .map { case (t, i) => (1000L + i, t) }: _*)
    val bi = TextAnalysis.kneserNeyTable(trainDf)
    val got = collectScores(
      TextAnalysis.kneserNeyScore(df(scored: _*), "doc_id", bi))
    val expect = brute(train, scored)
    assert(got == expect,
      s"\n got=${got.toSeq.sortBy(_._1)}\n exp=${expect.toSeq.sortBy(_._1)}")
  }

  test("short docs score 0 over 0 positions") {
    val bi = TextAnalysis.kneserNeyTable(df((1L, "a b a c")))
    val got = collectScores(TextAnalysis.kneserNeyScore(
      df((1L, "a"), (2L, "")), "doc_id", bi))
    assert(got == Map(1L -> ((0L, 0L, 0L, 0L)), 2L -> ((0L, 0L, 0L, 0L))),
      got.toString)
  }

  /** Independent trigram-KN reference (continuation-count middle
    * order, two BigInt truncating divisions). */
  private def bruteTri(train: Seq[String], score: Seq[(Long, String)])
      : Map[Long, (Long, Long, Long, Long)] = {
    def toks(t: String) = t.trim.split("\\s+").toSeq
    val tris = train.flatMap { t =>
      val w = toks(t); if (w.length < 3) Nil
      else (2 until w.length).map(i => (w(i - 2), w(i - 1), w(i)))
    }
    val c123 = tris.groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val c3 = c123.groupBy(k => (k._1._1, k._1._2))
      .map { case (k, m) => k -> m.values.sum }
    val fwd3 = c123.groupBy(k => (k._1._1, k._1._2))
      .map { case (k, m) => k -> m.size.toLong }
    val cc23 = c123.keySet.groupBy(k => (k._2, k._3))
      .map { case (k, s) => k -> s.size.toLong }
    val mid2 = cc23.groupBy(_._1._1)
      .map { case (w2, m) => w2 -> m.values.sum }
    val fwd2 = cc23.groupBy(_._1._1)
      .map { case (w2, m) => w2 -> m.size.toLong }
    val bwd3 = cc23.groupBy(_._1._2)
      .map { case (w3, m) => w3 -> m.size.toLong }
    val t = cc23.size.toLong
    def flog2(x: Long): Long = graft.functions.FixedPointMath.flog2(x)
    score.map { case (id, txt) =>
      val w = toks(txt)
      val ps = if (w.length < 3) Nil
        else (2 until w.length).map(i => (w(i - 2), w(i - 1), w(i)))
      var bits = 0L; var seen = 0L
      for (p <- ps) {
        val k2 = (p._2, p._3)
        val p2: Long =
          if (mid2.contains(p._2)) {
            val num = BigInt(1048576) * (
              BigInt(math.max(100L * cc23.getOrElse(k2, 0L) - 75L, 0L))
                * t + BigInt(75) * fwd2(p._2) *
                BigInt(bwd3.getOrElse(p._3, 0L)))
            (num / (BigInt(100) * mid2(p._2) * t)).toLong
          } else
            (BigInt(1048576) * BigInt(bwd3.getOrElse(p._3, 0L)) / t)
              .toLong
        val ctx = (p._1, p._2)
        val pf: Long =
          if (c3.contains(ctx)) {
            val num =
              BigInt(math.max(100L * c123.getOrElse(p, 0L) - 75L, 0L)) *
                1048576 + BigInt(75) * fwd3(ctx) * p2
            (num / (BigInt(100) * c3(ctx))).toLong
          } else p2
        if (c123.contains(p)) seen += 1
        bits += 20L * 65536L - flog2(math.max(pf, 1L))
      }
      val n = ps.size.toLong
      id -> ((n, seen, bits, if (n > 0) bits / n else 0L))
    }.toMap
  }

  /** Trigram KN scores of a seeded random corpus (training docs plus
    * held-out text with unseen tokens), with the BigInt reference's
    * expectation for the same docs. */
  private def trigramCrossCheck()
      : (Map[Long, (Long, Long, Long, Long)],
         Map[Long, (Long, Long, Long, Long)]) = {
    val rnd = new scala.util.Random(71)
    val vocab = Vector("a", "b", "c", "d", "e")
    def doc() = Seq.fill(rnd.nextInt(25) + 3)(
      vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val train = Seq.fill(20)(doc())
    val scored = train.take(8).zipWithIndex
      .map { case (t, i) => (i.toLong, t) } ++
      Seq((100L, "zz a b c zz"), (101L, "a zz b"), (102L, "zz"))
    val trainDf = df(train.zipWithIndex
      .map { case (t, i) => (1000L + i, t) }: _*)
    val tri = TextAnalysis.kneserNeyTrigramTable(trainDf)
    val got = TextAnalysis
      .kneserNeyTrigramScore(df(scored: _*), "doc_id", tri)
      .select("id", "n_pos", "seen_tri", "bits_fp", "bpt_fp")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    (got, bruteTri(train, scored))
  }

  test("trigram KN: randomized cross-check against the BigInt reference") {
    val (got, expect) = trigramCrossCheck()
    assert(got == expect,
      s"\n got=${got.toSeq.sortBy(_._1)}\n exp=${expect.toSeq.sortBy(_._1)}")
  }

  test("trigram KN: the pinned (localCheckpoint) branch scores identically") {
    val key = "spark.graft.pin.minInputBytes"
    val probe = df((1L, "a b c"))
    assert(!TextAnalysis.pinWorthIt(probe), "default gate stays shut")
    val (unpinned, _) = trigramCrossCheck()
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    try {
      // the gate is open at 0 bytes, so the pinned branch runs
      assert(TextAnalysis.pinWorthIt(probe))
      val (got, expect) = trigramCrossCheck()
      assert(got == expect,
        s"\n got=${got.toSeq.sortBy(_._1)}\n exp=${expect.toSeq.sortBy(_._1)}")
      assert(got == unpinned)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("incrementally-maintained counts serve KN identically") {
    val a = df((1L, "a b a c a b"), (2L, "b c b a"))
    val b = df((3L, "c a c b a b a"))
    val dir = java.nio.file.Files
      .createTempDirectory("kn_lm_counts").toString
    TextAnalysis.lmCountsAppend(a, dir, txn = Some(("kn", 1L)))
    TextAnalysis.lmCountsAppend(b, dir, txn = Some(("kn", 2L)))
    val (_, biJoint, _) = TextAnalysis.lmCountsRead(spark, dir)
    // adapt the joint-key frame (k = "w1 w2") to KN's (w1, w2, c)
    val biSplit = biJoint.select(
      expr("split(k, ' ')[0]").as("w1"),
      expr("split(k, ' ')[1]").as("w2"), col("c"))
    val full = TextAnalysis.kneserNeyTable(a.unionByName(b))
    val scoreDf = df((7L, "a b c a zz b"))
    val viaTable = collectScores(
      TextAnalysis.kneserNeyScore(scoreDf, "doc_id", full))
    val viaCounts = collectScores(
      TextAnalysis.kneserNeyScore(scoreDf, "doc_id", biSplit))
    assert(viaTable == viaCounts, s"\n full=$viaTable\n incr=$viaCounts")
  }
}
