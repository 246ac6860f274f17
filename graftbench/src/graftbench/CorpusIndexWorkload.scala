package graftbench

import scala.collection.mutable

import graft.ext.{Dedup, TextAnalysis}
import graft.sink.CdcTable
import org.apache.spark.sql.DataFrame

/** Seeded documents in equal-size batches; from the second batch on,
  * `DupShare` of the docs are exact copies of earlier docs and as many
  * are near copies (one token replaced). Tokens follow a skewed
  * vocabulary, so BM25 document frequencies vary. */
final case class Doc(doc_id: Long, text: String)

final case class Corpus(batches: IndexedSeq[IndexedSeq[Doc]],
    /** (copy id, original id) per planted exact / near duplicate. */
    exact: IndexedSeq[(Long, Long)], near: IndexedSeq[(Long, Long)],
    queries: IndexedSeq[String]) {
  def docs: Iterator[Doc] = batches.iterator.flatten
  def digest: String = Gen.sha256(docs.map(d => s"${d.doc_id}\t${d.text}"))
  def bytes: Long = docs.map(d => 8L + d.text.getBytes("UTF-8").length).sum
}

object CorpusGen {
  val Vocab = 4000
  /** Word id bands of the query words: `Vocab * u * u` gives a word of
    * the common band about 4x the occurrences of one of the rare band. */
  val Common = (50, 150)
  val Rare = (1000, 2000)

  def apply(seed: Long, batches: Int, batchDocs: Int, dupShare: Double,
      queries: Int): Corpus = {
    val rng = new java.util.SplittableRandom(seed)
    def word(): String = {
      val u = rng.nextDouble()
      f"w${(Vocab * u * u).toInt}%04d"
    }
    def text(): String = Seq.fill(30 + rng.nextInt(20))(word()).mkString(" ")
    val pool = mutable.ArrayBuffer.empty[Doc]
    val exact = mutable.ArrayBuffer.empty[(Long, Long)]
    val near = mutable.ArrayBuffer.empty[(Long, Long)]
    val nDup = math.max(1, (batchDocs * dupShare).toInt)
    val out = (0 until batches).map { b =>
      val ids = (0 until batchDocs).map(i => (b * batchDocs + i).toLong)
      val docs = ids.zipWithIndex.map { case (id, i) =>
        if (pool.isEmpty) Doc(id, text())
        else if (i < nDup) {
          val o = pool(rng.nextInt(pool.size))
          exact += ((id, o.doc_id)); Doc(id, o.text)
        } else if (i < 2 * nDup) {
          val o = pool(rng.nextInt(pool.size))
          val toks = o.text.split(" ")
          toks(rng.nextInt(toks.length)) = word()
          near += ((id, o.doc_id)); Doc(id, toks.mkString(" "))
        } else Doc(id, text())
      }
      pool ++= docs
      docs
    }
    // a common word and a rare one from fixed id bands: a probe's cost
    // follows the lengths of its posting lists, so every seed draws
    // queries of the same cost and only the corpus changes with the seed
    def from(band: (Int, Int)): String =
      f"w${band._1 + rng.nextInt(band._2 - band._1)}%04d"
    val qs = (0 until queries).map(_ => s"${from(Common)} ${from(Rare)}")
    Corpus(out, exact.toIndexedSeq, near.toIndexedSeq, qs)
  }
}

/** `corpus_index`: the timed round indexes every batch into fresh index
  * tables as one write op — `Dedup.nearIncremental` against the on-disk
  * signature index (pairs materialized), then
  * `TextAnalysis.lexicalIndexAppend` of the docs it kept — and probes it
  * with BM25 through `probeLexicalTable`; after the last batch a second
  * write op folds both indexes (`compactLexicalIndex`,
  * `Dedup.compactIndex`). The first batch meets an empty index, the
  * others the index the earlier ones built. */
final class CorpusIndexWorkload(h: Harness, seed: Long, root: String)
    extends Workload {
  import CorpusIndexWorkload._
  private val spark = h.spark
  import spark.implicits._
  private var corpus: Corpus = _
  private var frames: IndexedSeq[DataFrame] = _
  private var lastRound: String = _
  var rows = 0L
  private val pairsFound = mutable.Set.empty[(Long, Long)]

  def generate(): String = {
    corpus = CorpusGen(seed, Batches, BatchDocs, DupShare, Queries)
    corpus.digest
  }

  /** Warm up on throwaway index tables: the round's first
    * `WarmBatches` batches with half their probes, then a compaction. */
  def prepare(): Unit = {
    frames = corpus.batches.map(_.toDS().toDF())
    val warm = s"$root/warmup"
    (0 until WarmBatches).foreach(b =>
      cycle(warm, b, mutable.ArrayBuffer.empty[Doc], timedRound = false))
    compact(warm)
  }

  def inputBytes: Long = corpus.bytes

  def runRound(name: String): Unit = {
    val dir = s"$root/$name"
    lastRound = dir
    val kept = mutable.ArrayBuffer.empty[Doc]
    frames.indices.foreach(b => cycle(dir, b, kept, timedRound = true))
    compact(dir)
    rows += corpus.batches.map(_.size).sum
    verify(dir, kept)
  }

  private def compact(dir: String): Unit =
    h.op("write", "ext.compact") {
      h.span("ext.compactLexicalIndex")(
        TextAnalysis.compactLexicalIndex(spark, s"$dir/lex"))
      h.span("ext.compactIndex")(Dedup.compactIndex(spark, s"$dir/near"))
    }

  /** Batch `b`, as one write op: near-dup it against the index, then
    * index the docs it kept (appended to `kept`); then the probes. */
  private def cycle(dir: String, b: Int, kept: mutable.ArrayBuffer[Doc],
      timedRound: Boolean): Unit = {
    val batch = corpus.batches(b)
    val ids = batch.map(_.doc_id).toSet
    h.op("write", "ext.indexBatch") {
      val pairs = h.span("ext.nearIncremental")(
        Dedup.nearIncremental(frames(b), "text", "doc_id", s"$dir/near",
          txn = Some(("corpus", b.toLong))).collect())
      val dups = pairs.collect { case p if p.getAs[Double]("est_jaccard") >=
        Threshold && ids(p.getAs[Long]("b_id")) => p.getAs[Long]("b_id") }.toSet
      val keep = batch.filterNot(d => dups(d.doc_id))
      h.span("ext.lexicalIndexAppend")(
        TextAnalysis.lexicalIndexAppend(keep.toDS().toDF(), s"$dir/lex",
          "doc_id", buckets = Buckets, txn = Some(("corpus", b.toLong))))
      (pairs, keep)
    }.filter(_ => timedRound).foreach { case (pairs, keep) =>
      kept ++= keep
      pairs.foreach(p => if (p.getAs[Double]("est_jaccard") >= Threshold)
        pairsFound += ((p.getAs[Long]("a_id"), p.getAs[Long]("b_id"))))
      val exact = pairs.collect {
        case p if p.getAs[Double]("est_jaccard") == 1.0 =>
          (p.getAs[Long]("b_id"), p.getAs[Long]("a_id")) }.toSet
      val missed = corpus.exact.filter(e => ids(e._1)).filterNot(exact)
      h.check(s"exact_dups[b$b]", missed.isEmpty,
        s"planted exact duplicates not reported: ${missed.take(5)}")
    }
    // the warm-up probes half the queries: the probe shape is the same
    val queries = if (timedRound) corpus.queries
      else corpus.queries.take(Queries / 2)
    queries.foreach { q =>
      h.op("read", "ext.probe") {
        TextAnalysis.probeLexicalTable(spark, s"$dir/lex", q,
          buckets = Buckets).collect()
      }
    }
  }

  private def verify(dir: String, kept: mutable.ArrayBuffer[Doc]): Unit = {
    val all = kept.toSeq.toDS().toDF()
    corpus.queries.take(1).foreach { q =>
      val probe = TextAnalysis.probeLexicalTable(spark, s"$dir/lex", q,
        buckets = Buckets).collect().toSeq
      val full = TextAnalysis.bm25TopK(all, "doc_id", "text", q).collect().toSeq
      h.check(s"probe_equals_bm25[$q]", probe == full,
        s"index probe ${probe.take(3)} != full scan ${full.take(3)}")
    }
  }

  def tableDirs: Seq[String] = Seq(lastRound)

  private val Tables = Seq("near", "lex/postings", "lex/totals")

  def layerMetrics(t: Trace): Map[String, Any] = {
    val tables = Tables.map(x => CdcTable.detail(s"$lastRound/$x"))
    val written = Tables.flatMap(x =>
      Plans.written(CdcTable.log(s"$lastRound/$x"), 0L))
    val docs = corpus.docs.size
    val planted = corpus.exact ++ corpus.near
    Map(
      "ext.near_incremental_ms" -> t.spanMs("ext.nearIncremental"),
      "ext.lexical_append_ms" -> t.spanMs("ext.lexicalIndexAppend"),
      "ext.compact_ms" -> t.spanMs("ext.compact"),
      "ext.probe_ms" -> t.spanMs("ext.probe"),
      "ext.index_bytes_per_doc" -> tables.map(_.liveBytes).sum.toDouble / docs,
      "ext.dup_recall" -> planted.count { case (c, o) =>
        pairsFound((math.min(c, o), math.max(c, o))) }.toDouble / planted.size,
      "sink.commits" -> tables.map(_.commits).sum,
      "sink.live_files" -> tables.map(_.liveFiles).sum,
      "sink.files_per_commit" ->
        written.map(_._1).sum.toDouble / math.max(1, written.size),
      "core.schema_generations" -> tables.map(_.generations).sum)
  }
}

object CorpusIndexWorkload {
  val Batches = 4
  val BatchDocs = 50
  /** Batches the warm-up indexes, with their probes. */
  val WarmBatches = 2
  val DupShare = 0.05
  /** BM25 probes after every batch, one per query. */
  val Queries = 4
  /** Token buckets of the lexical index, sized to a corpus of a few
    * thousand docs (the API default, 64, targets large corpora). */
  val Buckets = 16
  /** Estimated Jaccard at or above which a pair counts as a duplicate. */
  val Threshold = 0.5
}
