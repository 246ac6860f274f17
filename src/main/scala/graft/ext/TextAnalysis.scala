package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Reusable text-analysis column functions — the library faces of the
  * oracle-checked query pack (q28–q32): token counting, stopword-based
  * quality scoring, marker-based language ID, content fingerprinting.
  * All codegen'd built-ins over a text column; shuffle-free. */
object TextAnalysis {

  /** Should a multiply-referenced model frame be eagerly pinned
    * (localCheckpoint)? Decided from the inputs' optimizer size
    * estimates (file-size-derived — zero IO, deterministic): pinning
    * replaces N corpus passes with one, but costs fixed eager-job
    * round-trips that dominate on a small corpus (the r16 q187/q148
    * trade, measured at sf0.1). Threshold:
    * `spark.graft.pin.minInputBytes` (default 128 MB) — far above any
    * bench SF, far below any production corpus, so the bench measures
    * the recompute shape and a 100 TB run gets the single-pass
    * shape. */
  private[graft] def pinWorthIt(
      frames: org.apache.spark.sql.DataFrame*): Boolean = {
    val minBytes = frames.head.sparkSession.conf
      .getOption("spark.graft.pin.minInputBytes")
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    frames.exists(f =>
      f.queryExecution.optimizedPlan.stats.sizeInBytes >= minBytes)
  }

  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** Occurrences of `word` (padded replace trick; non-overlapping). */
  def wordHits(text: Column, word: String): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    ((length(padded) -
      length(regexp_replace(padded, s" ${java.util.regex.Pattern.quote(word)} ", ""))) /
      (word.length + 2)).cast("long")
  }

  /** Stopword-density quality score in [0, ~1]. */
  def qualityScore(text: Column,
      stopwords: Seq[String] = Seq("the", "and", "of", "to")): Column = {
    val hits = stopwords.map(wordHits(text, _)).reduce(_ + _)
    hits.cast("double") / tokenCount(text)
  }

  /** Marker-scored language ID with deterministic priority
    * tie-breaking; `markers` maps language → marker words. */
  def languageId(text: Column,
      markers: Seq[(String, Seq[String])] = Seq(
        "en" -> Seq("the", "and"), "es" -> Seq("el", "la"),
        "de" -> Seq("der", "und"), "fr" -> Seq("le", "et"))): Column = {
    val scores = markers.map { case (lang, ws) =>
      lang -> ws.map(wordHits(text, _)).reduce(_ + _)
    }
    val best = scores.zipWithIndex.foldRight(lit("und")) {
      case (((lang, score), i), acc) =>
        val laterMax = scores.drop(i + 1).map(_._2)
        val isBest = laterMax.foldLeft(score > 0) {
          (c, other) => c && score >= other
        }
        when(isBest, lang).otherwise(acc)
    }
    best
  }

  /** Normalized-content fingerprints: md5 hex + 60-bit numeric. */
  def fingerprint(text: Column): Column = md5(lower(trim(text)))
  def fingerprint60(text: Column): Column =
    conv(substring(fingerprint(text), 1, 15), 16, 10).cast("long")

  private def tokenId(t: Column): Column =
    conv(substring(md5(t), 1, 7), 16, 10).cast("long")

  /** Rolling polynomial hash of the token sequence (order-sensitive
    * document fingerprint, unlike the set-based minhash). */
  def rollingHash(text: Column): Column =
    aggregate(
      transform(split(trim(text), "\\s+"), t => tokenId(t)),
      lit(0L),
      (acc, x) => pmod(acc * lit(1000003L) + x, lit(1000000007L)))

  /** Overlapping fixed-size token windows (the RAG/pretraining
    * chunker): window i covers tokens [i·step, i·step + width), so
    * consecutive chunks overlap by width − step tokens and every token
    * appears in at least one chunk. Returns an array of token-array
    * chunks to explode — a per-row expression (scan-speed), with the
    * explode fan-out ≈ n/step rows per document. */
  def tokenChunks(text: Column, width: Int, step: Int): Column = {
    require(width > 0 && step > 0 && step <= width,
      s"need 0 < step <= width, got width=$width step=$step")
    val toks = split(trim(text), "\\s+")
    transform(
      sequence(lit(0), floor((size(toks) - 1) / step).cast("int")),
      i => slice(toks, i * step + 1, lit(width)))
  }

  /** Unicode NFC normalization — [[graft.functions.NfcNormalize]], a
    * native codegen'd expression (Spark has no built-in normalizer).
    * Needs no function registration: the Column wraps the expression
    * directly. */
  def nfcNormalize(text: Column): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      graft.functions.NfcNormalize(
        org.apache.spark.sql.graftshim.ColumnShim.expression(text)))

  /** The full text-cleaning pass a corpus gets before hashing/dedup:
    * whitespace collapse, trim, lowercase, NFC composition — so that
    * byte-level fingerprints see visually-identical text identically.
    * Pure per-row expressions: scan-speed. */
  def normalizeText(text: Column): Column =
    nfcNormalize(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** Deterministic fixed-point log2 as a Column —
    * [[graft.functions.FixedLog2]], the integer recurrence the DuckDB
    * oracle replays bit for bit. Needs no function registration: the
    * Column wraps the expression directly. */
  private[graft] def fixedLog2(c: Column): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      graft.functions.FixedLog2(
        org.apache.spark.sql.graftshim.ColumnShim.expression(c)))

  /** Misra–Gries heavy-hitters aggregate as a Column (usable in
    * `.agg(...)` without session-function registration) — see
    * [[graft.functions.HeavyHitters]] for semantics and bounds. */
  def heavyHitters(tok: Column, capacity: Int): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      graft.functions.HeavyHitters(
        org.apache.spark.sql.graftshim.ColumnShim.expression(tok),
        org.apache.spark.sql.catalyst.expressions.Literal(capacity))
        .toAggregateExpression())

  /** TF-IDF top-`k` terms per document. Scale shape: term frequency is
    * one (id, tok)-keyed aggregation; document frequency derives from
    * it with a second map-side-combinable, vocabulary-bounded
    * aggregation; the corpus total rides in as a broadcast 1-row
    * frame; the per-doc top-k is one window partitioned by document.
    * The idf surrogate is the exact ratio n_docs/df (monotone in the
    * classic log idf, with no libm `ln` whose bits could differ across
    * engines — the score stays oracle-hashable). */
  def tfIdfTop(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, k: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val staged = df.select(col(idCol).as("id"),
      split(trim(col(textCol)), "\\s+").as("toks"))
    val totals = staged.agg(count(lit(1)).as("n_docs"))
    val tf = staged.select(col("id"), explode(col("toks")).as("tok"))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(totals))
      .withColumn("score",
        col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("id"))
        .orderBy(col("score").desc, col("tok"))))
      .filter(col("rn") <= k)
      .select(col("id"), col("tok"), col("tf"), col("df"),
        col("score"), col("rn").cast("long").as("rn"))
  }

  /** One BPE-training round over the corpus: frequencies of ADJACENT
    * token pairs (the merge-candidate statistic). Pure scan-stage
    * explode + one map-side-combinable aggregation — the shape that
    * lets a tokenizer trainer iterate over a 100 TB corpus (each
    * round shuffles only per-partition partial counts, vocabulary²-
    * bounded, not the corpus). */
  def bpePairCounts(df: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(split(trim(col(textCol)), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> concat(toks[i], ' ', toks[i+1]))""".stripMargin))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))

  /** Document-frequency boilerplate pruning (the C4/RefinedWeb "drop
    * content shared by many documents" family, at token granularity):
    * tokens present in at least `num/den` of all documents are removed
    * from every document, order otherwise preserved. Returns the frame
    * with `toks`, `kept` (filtered token array) and `cleaned` (re-built
    * text).
    *
    * Scale shape: ONE explode→distinct→count aggregation finds the
    * common set (shuffle keyed by token, map-side combinable, output
    * bounded by vocabulary not corpus size); the common set — tiny by
    * construction (df ≥ a large corpus fraction) — broadcasts back as
    * a single-row array column, and each document filters in place
    * with a codegen'd higher-order function. The corpus itself never
    * shuffles: rewritten in one scan pass. */
  def dfPrune(df: org.apache.spark.sql.DataFrame, textCol: String,
      num: Int, den: Int): org.apache.spark.sql.DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"df threshold must be a fraction in (0,1]: $num/$den")
    val staged = df.withColumn("toks", split(trim(col(textCol)), "\\s+"))
    // document frequency per distinct (doc, token); integer-exact
    // threshold (df * den >= total * num) — no float boundary to
    // disagree across engines at any corpus size
    val totals = staged.agg(count(lit(1)).as("n_docs"))
    val common = staged
      .select(explode(array_distinct(col("toks"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(totals))
      .filter(col("df") * den >= col("n_docs") * num)
      .agg(coalesce(collect_list(col("tok")),
        array().cast("array<string>")).as("ws"))
    staged.crossJoin(broadcast(common))
      .withColumn("kept",
        expr("filter(toks, t -> NOT array_contains(ws, t))"))
      .withColumn("cleaned", array_join(col("kept"), " "))
      .drop("ws")
  }

  /** BM25 full-text retrieval: the top-k documents for a literal query
    * string under BM25 term weighting — with q77's no-libm move: the
    * idf factor is the exact rational (N − df + 0.5)/(df + 0.5)
    * (monotone in df, positive, no `ln` whose last ulp could differ
    * across engines), the tf saturation is the standard
    * tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)), and every per-term
    * score is fixed-pointed at 1e9 and summed as BIGINT — summation
    * ORDER cannot perturb the result, so Spark and the DuckDB oracle
    * rank identically.
    *
    * Scale shape: the query's terms broadcast as an IN-list predicate
    * into the doc-term explode (everything not in the query dies
    * map-side), df is a ≤|query|-row aggregate joined back broadcast,
    * the per-doc sum is one keyed aggregation, and the final top-k is
    * a global TakeOrdered — no full-vocabulary state anywhere, corpus
    * scanned once. */
  def bm25TopK(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, query: String, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75)
  : org.apache.spark.sql.DataFrame = {
    val terms = query.trim.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "bm25TopK needs a non-empty query")
    val staged = df.select(col(idCol).as("id"),
        split(trim(col(textCol)), "\\s+").as("toks"))
      .select(col("id"), col("toks"),
        size(col("toks")).cast("long").as("dl"))
    val totals = staged.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("tot_len"))
    val tf = staged
      .select(col("id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy("id", "dl", "tok").agg(count(lit(1)).as("tf"))
    val scored = tf
      .join(broadcast(tf.groupBy("tok").agg(count(lit(1)).as("df"))),
        "tok")
      .crossJoin(broadcast(totals))
      .withColumn("term_fp", expr(bm25TermFpSql(k1, b)))
      .groupBy("id").agg(sum(col("term_fp")).as("score_fp"),
        count(lit(1)).as("n_terms_hit"))
    scored
      .select(col("id"), col("n_terms_hit"), col("score_fp"),
        (col("score_fp") / lit(1e9)).as("score"))
      .orderBy(col("score_fp").desc, col("id"))
      .limit(k)
  }

  /** Persisted inverted index for BM25 retrieval — the LEXICAL
    * sibling of [[graft.ext.AnnIndex.writeIvfPq]]'s 100 TB story:
    * postings (id, dl, tok, tf) land partitioned by a PORTABLE
    * md5-prefix token bucket, plus a one-row totals table
    * (n_docs, tot_len). A probe then reads only its query terms'
    * bucket partitions instead of scanning the corpus — the IO bound
    * becomes the posting lists touched, not the collection size.
    * Index content is exactly what [[bm25TopK]] derives per query, so
    * probes reproduce the full-scan ranking bit for bit. */
  def writeLexicalIndex(df: org.apache.spark.sql.DataFrame, dir: String,
      idCol: String, textCol: String = "text", buckets: Int = 64)
  : Unit = {
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    df.select(col(idCol).as("id"),
        split(trim(col(textCol)), "\\s+").as("toks"))
      .select(col("id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("tok"))
      .groupBy("id", "dl", "tok").agg(count(lit(1)).as("tf"))
      .withColumn("tbucket", expr("pmod(CAST(conv(substring(" +
        s"md5(tok), 1, 7), 16, 10) AS BIGINT), $buckets)"))
      .write.mode("overwrite").partitionBy("tbucket")
      .parquet(s"$dir/postings")
    df.select(split(trim(col(textCol)), "\\s+").as("toks"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("long")).as("tot_len"))
      .write.mode("overwrite").parquet(s"$dir/totals")
  }

  /** Portable bucket of a token — the driver-side mirror of the
    * index write's md5-prefix hash (28 bits, always non-negative). */
  def tokenBucketOf(tok: String, buckets: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(tok.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      md.take(4).map("%02x".format(_)).mkString.take(7), 16) % buckets
  }

  /** BM25 top-k against a [[writeLexicalIndex]] index: the query
    * terms' buckets form a literal IN-list (static partition pruning
    * — the plan's PartitionFilters, spec-asserted), df comes from the
    * touched posting lists, and the ranking uses the SAME fixed-point
    * term formula as [[bm25TopK]] — bit-identical to the full-corpus
    * scan. `buckets` must match the index write. */
  def probeLexical(spark: org.apache.spark.sql.SparkSession,
      dir: String, query: String, k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75, buckets: Int = 64)
  : org.apache.spark.sql.DataFrame = {
    val terms = query.trim.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "probeLexical needs a non-empty query")
    val tbs = terms.map(t => tokenBucketOf(t, buckets)).distinct
    val tf = spark.read.parquet(s"$dir/postings")
      .filter(if (tbs.size == 1) col("tbucket") === lit(tbs.head)
              else col("tbucket").isin(tbs: _*))
      .filter(col("tok").isin(terms: _*))
    val totals = spark.read.parquet(s"$dir/totals")
    tf.join(broadcast(tf.groupBy("tok").agg(count(lit(1)).as("df"))),
        "tok")
      .crossJoin(broadcast(totals))
      .withColumn("term_fp", expr(bm25TermFpSql(k1, b)))
      .groupBy("id").agg(sum(col("term_fp")).as("score_fp"),
        count(lit(1)).as("n_terms_hit"))
      .select(col("id"), col("n_terms_hit"), col("score_fp"),
        (col("score_fp") / lit(1e9)).as("score"))
      .orderBy(col("score_fp").desc, col("id"))
      .limit(k)
  }

  /** PMI collocation mining over [[skipgramPairs]] — the phrase /
    * multi-word-expression extractor (pointwise mutual information
    * `log2(p(a,b) / (p(a)·p(b)))`, the classic collocation statistic):
    * pairs scoring high co-occur far more than their token
    * frequencies predict. Computed in exact 16.16 fixed point as
    * `fixed_log2(cnt·N) − fixed_log2(m_a·m_b)` over the emission
    * counts — pure integers, so the oracle replays both log
    * recurrences and hash-matches scores. `minCount` is the standard
    * support floor (PMI is unstable on rare pairs).
    *
    * Scale shape: the pair-count frame is vocabulary²-bounded and
    * pinned once; marginals and the total broadcast back into it; the
    * final top-k is a TakeOrdered. Corpus size only affects the one
    * skip-gram scan. Output: (center, context, cnt, pmi_fp), top `k`
    * by (pmi_fp DESC, center, context). */
  def pmiCollocations(df: org.apache.spark.sql.DataFrame,
      textCol: String = "text", window: Int = 2, minCount: Long = 5,
      k: Int = 20): org.apache.spark.sql.DataFrame = {
    // vocabulary²-bounded — pin once: it feeds marginals, the total
    // AND the scored frame
    val pairs = skipgramPairs(df, textCol, window).localCheckpoint()
    val marg = pairs.groupBy(col("center").as("tokm"))
      .agg(sum(col("cnt")).as("m"))
    val tot = pairs.agg(sum(col("cnt")).as("n"))
    pairs.filter(col("cnt") >= minCount)
      .join(broadcast(marg), col("center") === col("tokm"))
      .drop("tokm").withColumnRenamed("m", "m_a")
      .join(broadcast(marg.select(col("tokm").as("tokm2"),
        col("m").as("m_b"))), col("context") === col("tokm2"))
      .drop("tokm2")
      .crossJoin(broadcast(tot))
      .withColumn("pa", expr("cnt * n"))
      .withColumn("pb", expr("m_a * m_b"))
      .select(col("center"), col("context"), col("cnt"),
        (fixedLog2(col("pa")) - fixedLog2(col("pb"))).as("pmi_fp"))
      .orderBy(col("pmi_fp").desc, col("center"), col("context"))
      .limit(k)
  }

  /** INCREMENTAL lexical index — [[writeLexicalIndex]] as a living
    * graft table (the freshness story the text-signature and vector
    * indexes already have): each batch's postings append EXACTLY-ONCE
    * (batch-id-keyed txn markers), partitioned by the same portable
    * token bucket, and the corpus totals accumulate as one row per
    * batch. Because df and totals derive at probe time from the
    * union of all batches, [[probeLexicalTable]] is bit-identical to
    * a full-corpus [[bm25TopK]] no matter how arrival was sliced —
    * and a crash-replayed batch changes nothing. */
  def lexicalIndexAppend(batch: org.apache.spark.sql.DataFrame,
      dir: String, idCol: String, textCol: String = "text",
      buckets: Int = 64, txn: Option[(String, Long)] = None): Unit = {
    require(buckets >= 1, s"buckets must be >= 1: $buckets")
    // one tokenize pass shared by the postings AND the totals (each
    // formerly re-split the whole batch); the pin is (id, dl, toks) —
    // batch-sized, the same volume the postings write re-reads
    val tok = batch.select(col(idCol).as("id"),
        split(trim(col(textCol)), "\\s+").as("toks"))
      .select(col("id"), size(col("toks")).cast("long").as("dl"),
        col("toks"))
      .localCheckpoint()
    val staged = tok
      .select(col("id"), col("dl"), explode(col("toks")).as("tok"))
      .groupBy("id", "dl", "tok").agg(count(lit(1)).as("tf"))
      .withColumn("tbucket", expr("pmod(CAST(conv(substring(" +
        s"md5(tok), 1, 7), 16, 10) AS BIGINT), $buckets)"))
    // the two appends land in DIFFERENT tables, both read only the
    // pinned tokenize pass — run them from two driver threads (guide
    // §2.6) so the small totals write hides under the postings
    // write's tail. Crash states are the same set as the sequential
    // order (either commit may exist without the other; the
    // batch-id-keyed txn markers make the replay idempotent per
    // table, and probes derive df/totals from whatever has landed).
    graft.core.Par.both(
      graft.sink.CdcTable.append(staged, s"$dir/postings",
        partitionBy = Seq("tbucket"),
        txn = txn.map { case (a, v) => (s"$a-postings", v) }),
      graft.sink.CdcTable.append(
        tok.agg(count(lit(1)).as("n_docs"),
          sum(col("dl")).as("tot_len")),
        s"$dir/totals",
        txn = txn.map { case (a, v) => (s"$a-totals", v) }))
    ()
  }

  /** BM25 top-k against a [[lexicalIndexAppend]] table: MANIFEST-level
    * partition pruning (the query terms' buckets judge each committed
    * file's path — files outside them are never handed to Spark), df
    * and totals summed across every landed batch, same fixed-point
    * formula — bit-identical to the full-corpus scan. */
  def probeLexicalTable(spark: org.apache.spark.sql.SparkSession,
      dir: String, query: String, k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75, buckets: Int = 64)
  : org.apache.spark.sql.DataFrame = {
    val terms = query.trim.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "probeLexicalTable needs a non-empty query")
    val tbs = terms.map(t => tokenBucketOf(t, buckets).toString).toSet
    val tf = graft.sink.CdcTable
      .readPruned(spark, s"$dir/postings",
        (c, v) => c != "tbucket" || tbs.contains(v))
      .filter(col("tok").isin(terms: _*))
      // pin the term postings: they feed the df aggregate AND the
      // scoring join — unpinned, the pruned bucket files were scanned
      // twice per probe; the pin is bounded by the query terms'
      // posting volume
      .localCheckpoint()
    val totals = graft.sink.CdcTable.read(spark, s"$dir/totals")
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("tot_len")).cast("long").as("tot_len"))
    tf.join(broadcast(tf.groupBy("tok").agg(count(lit(1)).as("df"))),
        "tok")
      .crossJoin(broadcast(totals))
      .withColumn("term_fp", expr(bm25TermFpSql(k1, b)))
      .groupBy("id").agg(sum(col("term_fp")).as("score_fp"),
        count(lit(1)).as("n_terms_hit"))
      .select(col("id"), col("n_terms_hit"), col("score_fp"),
        (col("score_fp") / lit(1e9)).as("score"))
      .orderBy(col("score_fp").desc, col("id"))
      .limit(k)
  }

  /** Streaming lexical indexing — [[lexicalIndexAppend]] per
    * micro-batch with exactly-once txn markers: the arriving corpus
    * becomes SEARCHABLE live ([[probeLexicalTable]] sees every landed
    * batch), and crash replays change nothing. */
  def lexicalIndexStreamToTable(stream: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, dir: String,
      checkpointDir: String, buckets: Int = 64,
      appId: String = "graft-lexidx")
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        lexicalIndexAppend(batch, dir, idCol, textCol, buckets,
          txn = Some((appId, id)))
      }
      .start()

  /** Fold an incremental lexical index's per-batch commits into one
    * compact file set ([[graft.ext.Dedup.compactIndex]]'s lexical
    * sibling; `GRAFT COMPACT INDEX` routes here when the path holds a
    * postings table): the postings — pure append-only facts — rewrite
    * as ONE `replace` commit partitioned by the same token bucket, so
    * a probe's manifest pruning hands Spark ~one file per touched
    * bucket instead of one per (batch × bucket); the totals fold to a
    * single summed row. Probe results are bit-identical before and
    * after (df/totals derive from content, not arrival slicing).
    * Optimistic concurrency: a batch landing mid-fold wins — the fold
    * re-reads the new snapshot and retries; replayed streaming
    * batches stay deduped because `replace` keeps superseded commits'
    * txn high-water marks as stubs. */
  def compactLexicalIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, retries: Int = 5): Unit = {
    import graft.sink.CdcTable
    val pdir = s"$dir/postings"; val tdir = s"$dir/totals"
    require(CdcTable.log(pdir).nonEmpty,
      s"no incremental lexical index at $dir")
    // the two folds touch DIFFERENT tables, each under its own
    // optimistic retry — run them from two driver threads (guide
    // §2.6) so the one-row totals fold hides under the postings
    // rewrite
    graft.core.Par.both(
      IndexMeta.foldWithRetry(retries) { () =>
        val snap = CdcTable.log(pdir).last.commit
        // co-locate each bucket before the partitioned write: without
        // this every task holding bucket rows emits its own file and
        // the fold leaves tasks×buckets files, not ~one per bucket
        CdcTable.replaceWith(spark, pdir,
          CdcTable.read(spark, pdir).repartition(col("tbucket")),
          partitionBy = Seq("tbucket"), expectedLastCommit = Some(snap))
        ()
      },
      IndexMeta.foldWithRetry(retries) { () =>
        val snap = CdcTable.log(tdir).last.commit
        CdcTable.replaceWith(spark, tdir,
          CdcTable.read(spark, tdir)
            .agg(sum(col("n_docs")).cast("long").as("n_docs"),
              sum(col("tot_len")).cast("long").as("tot_len")),
          partitionBy = Nil, expectedLastCommit = Some(snap))
        ()
      })
    ()
  }

  /** Retract documents from an INCREMENTAL lexical index — the
    * right-to-be-forgotten path for the RETRIEVAL surface (the last
    * index kind that served deleted content): postings are
    * per-document facts (`id, dl, tok, tf`), so the delete is the
    * same keyed rewrite every subtractable index uses
    * ([[graft.sink.CdcTable.deleteKeys]] on `id` — only files
    * holding victim rows rewrite, bucket partitioning preserved),
    * and the corpus totals adjust by ONE additive delta row
    * (−n_docs, −Σdl), derived from the victims' own posting rows
    * before deletion. After retraction [[probeLexicalTable]] never
    * returns a retracted id, df drops to the surviving corpus, and
    * ranks are bit-identical to an index recreated from the
    * surviving documents (df and totals both derive from content).
    *
    * Single-writer maintenance like every index rewrite. A crash
    * between the posting delete and the totals delta leaves totals
    * over-counted; [[rebuildLexicalTotals]] heals exactly (totals
    * are fully derivable from postings — every document, even an
    * empty one, carries at least one posting row). Returns the
    * number of posting rows removed. */
  def retractLexicalIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, ids: org.apache.spark.sql.DataFrame): Long = {
    import graft.sink.CdcTable
    val pdir = s"$dir/postings"; val tdir = s"$dir/totals"
    val commits = CdcTable.log(pdir)
    require(commits.nonEmpty, s"no incremental lexical index at $dir")
    require(ids.columns.length == 1,
      s"retractLexicalIndex takes a single-column id frame, got " +
        s"(${ids.columns.mkString(", ")})")
    val dt = commits.last.schema("id").dataType
    val keyed = ids.select(col(s"`${ids.columns(0)}`").as("_raw"))
      .withColumn("id", expr(s"try_cast(_raw AS ${dt.sql})"))
      .localCheckpoint()
    val bad = keyed
      .filter(col("_raw").isNotNull && col("id").isNull)
      .limit(3).collect()
    require(bad.isEmpty,
      s"retractLexicalIndex: id(s) ${bad.map(_.get(0)).mkString(", ")} " +
        s"do not cast to the index key type ${dt.sql} — refusing a " +
        "retraction that would silently skip them")
    val keys = keyed.select(col("id"))
    val r = CdcTable.deleteKeys(spark, pdir, keys, Seq("id"),
      partitionBy = Seq("tbucket"))
    if (r.rowsDeleted == 0L) return 0L
    // the totals delta comes from the victims' OWN posting rows —
    // read back from the delete commit's CHANGE FEED (its preimage
    // change files / removed files hold exactly the deleted rows),
    // bounded by victim volume, instead of the former full-index
    // semi-join pre-scan. dl repeats per (id, tok) row, so one row
    // per victim doc via max (dl is constant per id).
    val victim = CdcTable
      .readChanges(spark, pdir, afterCommit = r.commit - 1,
        upToCommit = Some(r.commit))
      .filter(col("_change_type") === "delete")
      .groupBy(col("id")).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("nd"),
        coalesce(sum(col("dl")), lit(0L)).as("tl"))
      .head()
    val nd = victim.getLong(0); val tl = victim.getLong(1)
    CdcTable.append(
      spark.range(1).select(lit(-nd).as("n_docs"),
        lit(-tl).as("tot_len")),
      tdir, partitionBy = Nil)
    r.rowsDeleted
  }

  /** Replace the lexical totals table with the exact recompute from
    * the postings (one metadata-bounded index scan): the crash-heal
    * for [[retractLexicalIndex]]'s two-step sequence, and a general
    * invariant restorer — totals are a performance cache, postings
    * are the facts. */
  def rebuildLexicalTotals(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    import graft.sink.CdcTable
    val pdir = s"$dir/postings"; val tdir = s"$dir/totals"
    require(CdcTable.log(pdir).nonEmpty,
      s"no incremental lexical index at $dir")
    CdcTable.replaceWith(spark, tdir,
      CdcTable.read(spark, pdir)
        .groupBy(col("id")).agg(max(col("dl")).as("dl"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          coalesce(sum(col("dl")), lit(0L)).cast("long").as("tot_len")),
      partitionBy = Nil)
    ()
  }

  /** The per-term BM25 score in fixed point — ONE shared SQL string
    * (same column names both engines) so the IEEE op tree is identical
    * by construction. Expects columns tf, df, dl, n_docs, tot_len. */
  private[graft] def bm25TermFpSql(k1: Double, b: Double): String =
    s"""CAST(ROUND(1e9 * ((n_docs - df + 0.5) / (df + 0.5)) *
       |  ((tf * (CAST($k1 AS DOUBLE) + 1)) /
       |   (tf + CAST($k1 AS DOUBLE) * (1 - CAST($b AS DOUBLE) +
       |    CAST($b AS DOUBLE) * dl / (CAST(tot_len AS DOUBLE) / n_docs)))))
       |  AS BIGINT)""".stripMargin

  /** Reciprocal-rank fusion — the standard hybrid-retrieval combiner
    * (lexical BM25 + vector ANN, or any N rankers): each ranking
    * contributes 1/(c + rank) per id and ids order by the summed
    * contribution. Scores are fixed-pointed (ROUND(1e12/(c+rank)) as
    * BIGINT — one exact division each, integer sum) so fusion is
    * bit-deterministic regardless of partitioning or summation order.
    * Input rankings carry (idCol, rankCol with ranks 1..n); ties in
    * the fused score break by id ASC. One union + one keyed
    * aggregation over ≤ Σ|rankings| rows — the inputs are already
    * top-k-bounded, so this never touches corpus-sized data. */
  def rrfFuse(rankings: Seq[org.apache.spark.sql.DataFrame],
      idCol: String = "id", rankCol: String = "rnk", k: Int = 10,
      c: Int = 60): org.apache.spark.sql.DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val u = rankings
      .map(df => df.select(col(idCol).cast("long").as("id"),
        col(rankCol).cast("long").as("rnk")))
      .reduce(_ unionByName _)
    u.withColumn("contrib",
        expr(s"CAST(ROUND(1e12 / ($c + rnk)) AS BIGINT)"))
      .groupBy("id")
      .agg(sum(col("contrib")).as("rrf_fp"),
        count(lit(1)).as("n_rankers"))
      .select(col("id"), col("n_rankers"), col("rrf_fp"),
        (col("rrf_fp") / lit(1e12)).as("rrf"))
      .orderBy(col("rrf_fp").desc, col("id"))
      .limit(k)
  }

  /** Corpus-supported bigram coverage — a corpus-statistics quality
    * signal (the CCNet/KenLM "does a language model trained on the
    * corpus like this text" filter reduced to integer arithmetic, so
    * it is portable and bit-deterministic): for each document, the
    * fraction of its word-bigram POSITIONS whose bigram occurs in at
    * least `minDf` distinct documents. Gibberish, OCR noise and
    * wrong-language text score low (their bigrams appear nowhere
    * else); ordinary prose scores high. Returns (id, n_bigrams,
    * n_covered, coverage) with coverage NULL for docs under 2 tokens.
    *
    * Scale shape: bigram document-frequency is one map-side-combined
    * aggregation keyed on the bigram (state bounded by the bigram
    * vocabulary, not the corpus), the coverage probe is one shuffle
    * join on the same key, and the per-doc re-aggregation is keyed on
    * the doc id — three shuffles total, no driver-side state, nothing
    * quadratic. All counts are exact BIGINTs; the single double
    * division at the end is IEEE-correctly-rounded from integer
    * inputs, so Spark and the DuckDB oracle agree bit-for-bit. */
  def bigramCoverage(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String = "text", minDf: Int = 3)
  : org.apache.spark.sql.DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1: $minDf")
    val staged = df
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("toks"))
      .select(col(idCol), expr(
        """CASE WHEN size(toks) >= 2 THEN
          |  transform(sequence(0, size(toks) - 2),
          |    i -> concat(toks[i], ' ', toks[i+1]))
          |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)
        .as("bgs"))
    val bg = staged.select(col(idCol), explode(col("bgs")).as("bg"))
    val frequent = bg.groupBy("bg")
      .agg(countDistinct(col(idCol)).as("dfd"))
      .filter(col("dfd") >= minDf)
      .select("bg")
    val covered = bg.join(frequent, "bg")
      .groupBy(idCol).agg(count(lit(1)).as("n_covered"))
    staged.select(col(idCol), size(col("bgs")).cast("long").as("n_bigrams"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol),
        col("n_bigrams"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        when(col("n_bigrams") > 0,
          coalesce(col("n_covered"), lit(0L)).cast("double") /
            col("n_bigrams")).as("coverage"))
  }

  /** DSIR-style hashed-bigram importance scoring (Xie et al., "Data
    * Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): score every raw document by how TARGET-like its
    * hashed word-bigram features are, so the corpus can be resampled
    * toward a small high-quality target set. Features are the
    * document's bigram positions hashed into `buckets` slots
    * (md5-derived ids, engine-portable). Each feature's weight is its
    * Laplace-smoothed target fraction in fixed point,
    * `w = (1e6·(tc+1)) div (tc+bc+2)` — an exact-integer,
    * per-feature-monotone surrogate for DSIR's log-likelihood ratio
    * that sums in any order without rounding drift (the same trick as
    * BM25's rational idf). A document's `score_fp` is the BIGINT sum
    * of its positions' weights; `importance` is the length-normalized
    * mean targetness in (0,1): score_fp / max(n_bigrams,1) / 1e6, two
    * IEEE divisions from exact integers, bit-identical across engines.
    * Rows where `isTarget` is NULL count as background, matching a
    * `CASE WHEN … THEN 1 ELSE 0` oracle.
    *
    * Returns (id, n_bigrams, score_fp, importance) for EVERY input row
    * (bigram-less docs score 0).
    *
    * Scale shape: the feature table is bounded by `buckets` (default
    * 2^16) regardless of corpus size — one map-side-combined
    * aggregation builds it, and it BROADCASTS into the scoring join so
    * scoring never shuffles the corpus by feature; the only
    * corpus-sized shuffle is the per-doc sum keyed on the id. Two
    * scans of the input total, nothing quadratic, no driver-side
    * state beyond the bounded broadcast. */
  def importanceScores(df: org.apache.spark.sql.DataFrame, idCol: String,
      isTarget: Column, textCol: String = "text", buckets: Int = 65536)
  : org.apache.spark.sql.DataFrame =
    scoreWithWeights(df, idCol,
      importanceWeightTable(df, isTarget, textCol, buckets),
      textCol, buckets)

  /** The TRAINABLE half of [[importanceScores]]: the (fid, w) hashed
    * feature weight table fit on a labeled reference corpus — persist
    * it (parquet / a graft table) and apply it to any other corpus or
    * stream with [[scoreWithWeights]] /
    * [[importanceFilterStreamToTable]]. At most `buckets` rows
    * regardless of corpus size. `buckets` must match at apply time —
    * the hash space is part of the model. */
  def importanceWeightTable(df: org.apache.spark.sql.DataFrame,
      isTarget: Column, textCol: String = "text", buckets: Int = 65536)
  : org.apache.spark.sql.DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    hashedBigrams(df.select(isTarget.as("is_target"), col(textCol)),
      textCol, buckets)
      .groupBy("fid")
      .agg(sum(when(col("is_target"), 1L).otherwise(0L)).as("tc"),
        sum(when(col("is_target"), 0L).otherwise(1L)).as("bc"))
      .select(col("fid"),
        expr("(1000000 * (tc + 1)) div (tc + bc + 2)").as("w"))
  }

  /** Score a corpus against a PRE-TRAINED (fid, w) weight table (see
    * [[importanceWeightTable]]). Features absent from the table score
    * the Laplace-neutral 500000 (= the formula at tc = bc = 0), so a
    * foreign corpus with unseen vocabulary degrades toward 0.5, not
    * toward a bias. The weight table broadcasts; the only corpus
    * shuffle is the per-doc sum. */
  def scoreWithWeights(df: org.apache.spark.sql.DataFrame, idCol: String,
      weights: org.apache.spark.sql.DataFrame, textCol: String = "text",
      buckets: Int = 65536): org.apache.spark.sql.DataFrame = {
    val bg = hashedBigrams(
      df.select(col(idCol).as("id"), col(textCol)), textCol, buckets)
    val scores = bg
      .join(broadcast(weights.select(col("fid"), col("w"))),
        Seq("fid"), "left")
      .withColumn("w", coalesce(col("w"), lit(500000L)))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("w")).as("score_fp"))
    df.select(col(idCol).as("id"))
      .join(scores, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("score_fp"), lit(0L)).as("score_fp"),
        (coalesce(col("score_fp"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_bigrams"), lit(0L)), lit(1L))
            .cast("double") / lit(1e6)).as("importance"))
  }

  /** One row per word-bigram POSITION with its hashed feature id;
    * every non-text column of `df` is carried through. Native
    * `lm_feature_ids` (bigram half) — one tokenize + hash pass per
    * row. */
  private[ext] def hashedBigrams(df: org.apache.spark.sql.DataFrame,
      textCol: String, buckets: Int): org.apache.spark.sql.DataFrame =
    df.withColumn("p",
        explode(expr(s"lm_feature_ids($textCol, $buckets)")))
      .withColumn("fid", col("p.bfid"))
      .drop("p", textCol)

  /** Streaming DSIR curation: every micro-batch is scored against a
    * pre-trained weight table ([[importanceWeightTable]] — a STATIC
    * frame, re-read per batch so an offline re-fit is picked up live)
    * and thinned by [[Sampling.importanceResample]]'s deterministic
    * stable-bucket rule; kept rows append to a graft table
    * exactly-once (batch-id-keyed txn markers, so crash/replay can
    * neither lose nor double rows — and because acceptance is a pure
    * function of (id, score), a replayed batch keeps the SAME rows).
    * Per-trigger cost: score + filter on the batch only, weight table
    * broadcast — no state store, no history re-read. */
  def importanceFilterStreamToTable(stream: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, weights: () => org.apache.spark.sql.DataFrame,
      outDir: String, checkpointDir: String, boost: Double = 1.0,
      appId: String = "graft-dsir", buckets: Int = 65536)
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val kept = Sampling.importanceResample(
          scoreWithWeights(batch, idCol, weights(), textCol, buckets),
          "id", "importance", boost)
        graft.sink.CdcTable.append(
          batch.join(kept.select(col("id").as(idCol)),
            Seq(idCol), "left_semi"),
          outDir, txn = Some((appId, id)))
        ()
      }
      .start()

  // ---- CCNet-style perplexity filtering -------------------------------

  /** The TRAINABLE half of [[perplexityBuckets]]: the hashed-bigram
    * language model — two bounded count tables, (bfid → bc) bigram
    * occurrences and (pfid → pc) prefix occurrences over the TARGET
    * subset (CCNet trains its KenLM on Wikipedia; `isTarget` marks
    * the model corpus here, NULL counting as background). Each table
    * has at most `buckets` rows regardless of corpus size — persist
    * them and score any other corpus with [[perplexityScore]].
    * `buckets` is part of the model and must match at apply time. */
  /** Per-document unigram token ENTROPY in 16.16 fixed-point bits:
    * `H = log2(n) − (Σ_t c_t·log2(c_t)) div n` over the document's
    * OWN token distribution — the information-theoretic
    * repetitiveness signal (a page that repeats one phrase scores
    * near 0 bits/token; diverse prose near log2(vocab)). The Gopher
    * repetition rules' cousin, but threshold-free and
    * distribution-wide. Also returns the type-token ratio in the
    * same fixed point. All arithmetic is exact integers
    * ([[graft.functions.FixedPointMath.flog2]] + truncating
    * division), so scores are bit-identical across engines and
    * oracle-replayable.
    *
    * Scale shape: tokenize → two key-local aggregations (per
    * (doc, token), then per doc) — no joins, no global order; at
    * 100 TB this is scan-speed with map-side partial aggregation.
    * Output: (id, n_tokens, n_types, ttr_fp, entropy_fp). */
  def tokenEntropy(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    df.select(col(idCol).as("id"),
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("c"))
      .withColumn("clg", col("c") * fixedLog2(col("c")))
      .groupBy("id")
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("clg")).as("num"))
      .select(col("id"), col("n_tokens"), col("n_types"),
        expr("(65536L * n_types) div n_tokens").as("ttr_fp"),
        (fixedLog2(col("n_tokens")) - expr("num div n_tokens"))
          .as("entropy_fp"))
  }

  /** Per-document n-gram NOVELTY: the fraction of a document's
    * distinct 3-token shingles that appear in NO other document —
    * the uniqueness / memorization-risk signal (a doc of df=1
    * shingles is one-of-a-kind prose; near 0 means everything it
    * says appears elsewhere — boilerplate or a near-dup). Exact
    * integers: novelty_fp = (10^6·n_novel) div n_shingles. Documents
    * with fewer than 3 tokens have no shingles and drop (the q103
    * convention for unscorable docs).
    *
    * Scale shape: the exploded (id, shingle) frame — pair-distinct by
    * construction (`shingle_ids` emits distinct ids) — is pinned ONCE
    * and everything derives from it with map-side-combinable
    * aggregations: per-doc totals (keyed id) and the df count (keyed
    * shingle). A df=1 shingle has exactly one occurrence, so min(id)
    * IS its owning document — novelty attributes through that instead
    * of joining the full shingle frame back to itself (the r10 shape:
    * two corpus scans + a shingle-keyed join of two corpus-sized
    * frames; measured 23.5 s at 100×/500k docs, ~2× this plan's
    * work). The only join left is per-DOC rows.
    * Requires GraftExtensions (`shingle_ids` native).
    * Output: (id, n_shingles, n_novel, novelty_fp). */
  def ngramNovelty(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    require(df.sparkSession.catalog.functionExists("shingle_ids"),
      "ngramNovelty requires GraftExtensions (shingle_ids native)")
    val sh = df.select(col(idCol).as("id"),
      explode(expr(s"shingle_ids(`$textCol`)")).as("sh"))
      .localCheckpoint() // both aggregations read it — hash once
    val totals = sh.groupBy("id").agg(count(lit(1)).as("n_shingles"))
    val novel = sh.groupBy("sh")
      .agg(count(lit(1)).as("df"), min(col("id")).as("one_id"))
      .filter(col("df") === 1)
      .groupBy(col("one_id").as("id")).agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq("id"), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .select(col("id"), col("n_shingles"), col("n_novel"),
        expr("(1000000L * n_novel) div n_shingles").as("novelty_fp"))
  }

  /** Blocklist (bad-word) filtering — the C4 cleanup rule (Raffel et
    * al. JMLR 2020 drop any page containing a listed word): per-doc
    * occurrence count of blocklisted tokens (case-insensitive, whole
    * tokens — no substring surprises) and the keep flag `n_hits = 0`.
    * The list is a constant-folded literal array, so matching is an
    * ARRAY-LOCAL membership probe per token — scan-speed, no join, no
    * shuffle at any corpus size (a list too big for a literal should
    * become a broadcast semi-join instead; C4-class lists are a few
    * hundred terms). Output: (id, n_hits, keep). */
  def blocklistFilter(df: org.apache.spark.sql.DataFrame, idCol: String,
      terms: Seq[String], textCol: String = "text")
  : org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "blocklistFilter needs at least one term")
    val blk = array(terms.map(t => lit(t.toLowerCase)).distinct: _*)
    df.select(col(idCol).as("id"),
        split(trim(lower(col(textCol))), "\\s+").as("toks"))
      .withColumn("_blk", blk)
      .select(col("id"),
        expr("CAST(size(filter(toks, t -> array_contains(_blk, t)))" +
          " AS BIGINT)").as("n_hits"))
      .withColumn("keep", col("n_hits") === 0)
  }

  /** Skip-gram (center, context) pair counts — the word2vec/GloVe
    * co-occurrence extraction: every ordered token pair at distance
    * 1..`window` within a document, counted corpus-wide. Emission is
    * ARRAY-LOCAL (pairs build inside the row with transform+flatten —
    * no positional self-join), so the only shuffle is the final
    * count, bounded by the co-occurring vocabulary² regardless of
    * corpus size. Output: (center, context, cnt). */
  def skipgramPairs(df: org.apache.spark.sql.DataFrame,
      textCol: String = "text", window: Int = 2)
  : org.apache.spark.sql.DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val pairExprs = (1 to window).map { d =>
      s"""CASE WHEN size(_toks) > $d THEN
         |  flatten(transform(sequence(1, size(_toks) - $d), i ->
         |    array(
         |      named_struct('center', element_at(_toks, i),
         |        'context', element_at(_toks, i + $d)),
         |      named_struct('center', element_at(_toks, i + $d),
         |        'context', element_at(_toks, i)))))
         |ELSE CAST(array() AS
         |  array<struct<center:string,context:string>>) END""".stripMargin
    }
    df.select(split(trim(col(textCol)), "\\s+").as("_toks"))
      .select(explode(
        expr(pairExprs.mkString("concat(", ", ", ")"))).as("pr"))
      .groupBy(col("pr.center").as("center"),
        col("pr.context").as("context"))
      .agg(count(lit(1)).as("cnt"))
  }

  def bigramLmTables(df: org.apache.spark.sql.DataFrame, isTarget: Column,
      textCol: String = "text", buckets: Int = 65536)
  : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    val pos = lmPositions(
      df.select(isTarget.as("is_target"), col(textCol)), textCol, buckets)
      .filter(coalesce(col("is_target"), lit(false)))
    (pos.groupBy("bfid").agg(count(lit(1)).as("bc")),
      pos.groupBy("pfid").agg(count(lit(1)).as("pc")))
  }

  /** Cross-entropy of every document under a [[bigramLmTables]] model
    * (Wenzek et al., "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data", LREC 2020 — the perplexity
    * scoring stage). A position's Laplace-smoothed conditional
    * probability in fixed point is
    *   `p_fp = clamp((2^30·(bc+1)) div (pc + buckets), 1, 2^30−1)`
    * and its cost `30·2^16 − fixed_log2(p_fp)` fractional bits
    * ([[graft.functions.FixedPointMath.flog2]] — exact integer
    * recurrence, so scores are bit-identical across engines; the
    * clamp also absorbs hash collisions that would push p past 1).
    * Returns (id, n_bigrams, bits_fp, bpt_fp = bits_fp div n_bigrams)
    * for every document with ≥ 1 bigram.
    *
    * Scale shape: both model tables BROADCAST into the scoring joins
    * — the corpus is never shuffled by feature id; the per-doc sum is
    * the only corpus-sized shuffle. */
  def perplexityScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      bcTable: org.apache.spark.sql.DataFrame,
      pcTable: org.apache.spark.sql.DataFrame,
      textCol: String = "text", buckets: Int = 65536)
  : org.apache.spark.sql.DataFrame = {
    lmPositions(df.select(col(idCol).as("id"), col(textCol)),
        textCol, buckets)
      .join(broadcast(bcTable), Seq("bfid"), "left")
      .join(broadcast(pcTable), Seq("pfid"), "left")
      .withColumn("p_fp", expr(
        s"greatest(1L, least(1073741823L, (1073741824L * " +
          s"(coalesce(bc, 0L) + 1)) div (coalesce(pc, 0L) + $buckets)))"))
      .withColumn("bits", lit(30L << 16) - fixedLog2(col("p_fp")))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("bits_fp"))
      .withColumn("bpt_fp", expr("bits_fp div n_bigrams"))
  }

  /** CCNet's head/middle/tail split: [[perplexityScore]] against a
    * self-trained [[bigramLmTables]] model, then the corpus cut into
    * thirds by bits-per-token VALUE thresholds (every document with
    * equal `bpt_fp` lands in the same bucket, so the rule is a pure
    * function of the corpus — no ntile over a global row order).
    * `t1` is the smallest bpt value covering ≥ 1/3 of scored docs,
    * `t2` the smallest covering ≥ 2/3; head = bpt ≤ t1, middle =
    * ≤ t2, tail = the rest.
    *
    * Scale shape: the thresholds come from a HISTOGRAM of bpt_fp —
    * bounded by 30·2^16 ≈ 2M distinct values independent of corpus
    * size — so the only global-order step (the cumulative-count
    * window) runs on metadata-scale rows, never on documents; the
    * one-row cuts frame broadcasts back. Scoring runs twice (once
    * under the histogram, once for the output) — persist
    * [[perplexityScore]]'s result first if the corpus scan is the
    * dominant cost. */
  def perplexityBuckets(df: org.apache.spark.sql.DataFrame, idCol: String,
      isTarget: Column, textCol: String = "text", buckets: Int = 65536)
  : org.apache.spark.sql.DataFrame = {
    val (bcT, pcT) = bigramLmTables(df, isTarget, textCol, buckets)
    val scored = perplexityScore(df, idCol, bcT, pcT, textCol, buckets)
    val hist = scored.groupBy("bpt_fp").agg(count(lit(1)).as("c"))
    val cum = hist.select(col("bpt_fp"), sum("c")
      .over(org.apache.spark.sql.expressions.Window.orderBy("bpt_fp"))
      .as("cum"))
    val cuts = cum
      .crossJoin(broadcast(cum.agg(max("cum").as("tot"))))
      .agg(
        min(when(col("cum") * 3 >= col("tot"), col("bpt_fp"))).as("t1"),
        min(when(col("cum") * 3 >= col("tot") * 2, col("bpt_fp"))).as("t2"))
    scored.crossJoin(broadcast(cuts))
      .select(col("id"), col("n_bigrams"), col("bits_fp"), col("bpt_fp"),
        when(col("bpt_fp") <= col("t1"), "head")
          .when(col("bpt_fp") <= col("t2"), "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  /** Streaming perplexity curation — the CCNet gate applied live:
    * every micro-batch is scored against a PRE-TRAINED
    * [[bigramLmTables]] model (a STATIC pair of frames, re-read per
    * batch so an offline re-fit is picked up live) and thinned to
    * documents at or under `maxBptFp` bits-per-token — the absolute
    * cutoff a training run derives (e.g. q103's middle/tail boundary)
    * and ships WITH the model: corpus-relative thirds don't exist on
    * a stream. Kept rows append to a graft table exactly-once
    * (batch-id-keyed txn markers); the score is a pure function of
    * (text, model), so crash replays keep the SAME rows. Bigram-less
    * documents are unscorable and dropped, as in CCNet. Per-trigger
    * cost: score + filter on the batch only, both model tables
    * broadcast — no state store, no history re-read. */
  def perplexityFilterStreamToTable(
      stream: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      model: () => (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame),
      maxBptFp: Long, outDir: String, checkpointDir: String,
      appId: String = "graft-ppl", buckets: Int = 65536)
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val (bcT, pcT) = model()
        val kept = perplexityScore(batch, idCol, bcT, pcT, textCol,
          buckets).filter(col("bpt_fp") <= maxBptFp)
        graft.sink.CdcTable.append(
          batch.join(kept.select(col("id").as(idCol)),
            Seq(idCol), "left_semi"),
          outDir, txn = Some((appId, id)))
        ()
      }
      .start()

  /** One row per word-bigram POSITION with the hashed ids of its
    * PREFIX token (`pfid`) and of the bigram itself (`bfid`) — the
    * conditional-probability lookup keys. Native `lm_feature_ids`:
    * ONE pass per row, each token hashes once. Non-text columns of
    * `df` are carried through. */
  private def lmPositions(df: org.apache.spark.sql.DataFrame,
      textCol: String, buckets: Int): org.apache.spark.sql.DataFrame =
    df.withColumn("p",
        explode(expr(s"lm_feature_ids($textCol, $buckets)")))
      .withColumn("pfid", col("p.pfid"))
      .withColumn("bfid", col("p.bfid"))
      .drop("p", textCol)

  /** Default PII patterns: (name, regex, replacement token). The
    * regexes are deliberately restricted to the Java ∩ RE2 dialect
    * (character classes, bounded repetition — no lookaround, no
    * backrefs) so Spark and any RE2-based engine (DuckDB, Go, Rust)
    * match identically. */
  val DefaultPiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
      "<EMAIL>"),
    ("phone", "[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ip", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"))

  /** Rule-based PII scrubbing over TRAINING TEXT (the C4/CCNet
    * pre-release hygiene pass — distinct from the structured-row
    * masking of the CDC path): each pattern's matches are counted
    * then replaced with its token, SEQUENTIALLY in `patterns` order —
    * counts are taken on the text as already scrubbed by the
    * preceding patterns, so a phone digit-run inside an email is
    * attributed once, to the email (the count/replace pipeline is a
    * pure per-row function, deterministic and oracle-replayable).
    * Output: (id, n_<name> per pattern, clean).
    *
    * Scale shape: per-row regex work only — joinless, shuffle-free,
    * scan-speed at any size. */
  def piiScrub(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String = "text",
      patterns: Seq[(String, String, String)] = DefaultPiiPatterns)
  : org.apache.spark.sql.DataFrame = {
    require(patterns.nonEmpty, "piiScrub: no patterns")
    val start = df.select(col(idCol).as("id"),
      col(textCol).as("clean"))
    val scrubbed = patterns.foldLeft(start) {
      case (acc, (name, re, token)) =>
        // patterns as DATA (lit), never interpolated into SQL text —
        // the advisor-r10 BM25 lesson applies to regexes too
        acc.withColumn(s"n_$name",
            regexp_count(col("clean"), lit(re)).cast("long"))
          .withColumn("clean", regexp_replace(col("clean"), re, token))
    }
    scrubbed.select(col("id") +:
      patterns.map { case (n, _, _) => col(s"n_$n") } :+
      col("clean"): _*)
  }

  // ----------------------------------------------------------------
  // Trained character-trigram language ID (the fastText-langid /
  // TextCat shape — Cavnar & Trenkle 1994 by way of naive Bayes):
  // P(lang | text) ∝ Π P(tri | lang) with Laplace smoothing over the
  // char-trigram vocabulary. The trainable counterpart of the marker
  // heuristic `languageId`. Exact 16.16 fixed-point bits via
  // `fixed_log2`, so predictions AND scores are oracle-replayable.
  // ----------------------------------------------------------------

  /** Train: per-(lang, char-trigram) counts over the labeled corpus —
    * one map-side-combinable aggregation; the table is bounded by
    * langs × charset³ regardless of corpus size (it BROADCASTS at
    * serving time, unlike the unbounded word-n-gram tables of
    * [[stupidBackoffTables]] which must stay sharded). */
  def charTrigramLangModel(df: org.apache.spark.sql.DataFrame,
      langCol: String = "lang", textCol: String = "text")
  : org.apache.spark.sql.DataFrame =
    df.select(col(langCol).as("lang"), col(textCol).as("t"))
      .select(col("lang"), explode(expr(
        """CASE WHEN length(t) >= 3 THEN
          |  transform(sequence(1, length(t) - 2),
          |    i -> substring(t, i, 3))
          |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
        .as("tri"))
      .groupBy("lang", "tri").agg(count(lit(1)).as("c"))

  /** Classify every document against a [[charTrigramLangModel]]:
    * per position and candidate language the Laplace-smoothed cost is
    * `flog2(T_l + V) − flog2(c + 1)` bits (T_l = the language's total
    * trigram count, V = distinct trigrams in the model); the winner is
    * the minimum summed bits, ties to the smaller language name. Docs
    * with no trigram predict 'und' at 0 bits. Output: (id, n_tris,
    * pred_lang, bits_fp).
    *
    * Scale shape: the model and its per-language totals broadcast;
    * the corpus explodes to (position × |langs|) rows feeding one
    * key-local (id, lang) aggregation — scan-speed, no corpus
    * shuffle by trigram. */
  def langIdTrained(df: org.apache.spark.sql.DataFrame, idCol: String,
      model: org.apache.spark.sql.DataFrame, textCol: String = "text")
  : org.apache.spark.sql.DataFrame = {
    val v = model.select(col("tri")).distinct().count()
    require(v > 0, "langIdTrained: empty model")
    val totals = model.groupBy("lang").agg(sum(col("c")).as("tl"))
    val pos = df.select(col(idCol).as("id"), col(textCol).as("t"))
      .select(col("id"), explode(expr(
        """CASE WHEN length(t) >= 3 THEN
          |  transform(sequence(1, length(t) - 2),
          |    i -> substring(t, i, 3))
          |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
        .as("tri"))
    // measured at 100×/500k docs: pre-collapsing repeated trigrams
    // per doc (groupBy(id, tri) before the ×|langs| expansion) was
    // NOT faster (13.7 s vs 13.1 s) — it trades the map-local
    // broadcast-join volume for an extra corpus shuffle, and the
    // (id, lang) aggregation below is already map-side partial. The
    // shuffle-free scan shape stays.
    val scored = pos
      .crossJoin(broadcast(totals))
      .join(broadcast(model), Seq("tri", "lang"), "left")
      .withColumn("den0", col("tl") + lit(v))
      .withColumn("num0", coalesce(col("c"), lit(0L)) + lit(1L))
      .withColumn("bits",
        fixedLog2(col("den0")) - fixedLog2(col("num0")))
      .groupBy("id", "lang")
      .agg(count(lit(1)).as("n_tris"), sum(col("bits")).as("bits"))
      .groupBy("id")
      .agg(first(col("n_tris")).as("n_tris"),
        min(struct(col("bits"), col("lang"))).as("w"))
      .select(col("id"), col("n_tris"), col("w.lang").as("pred_lang"),
        col("w.bits").as("bits_fp"))
    df.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tris"), lit(0L)).as("n_tris"),
        coalesce(col("pred_lang"), lit("und")).as("pred_lang"),
        coalesce(col("bits_fp"), lit(0L)).as("bits_fp"))
  }

  /** [[langIdTrained]] with the scoring loop as ONE codegen'd native
    * projection ([[graft.functions.LangTrigramBits]]): the per-(tri,
    * lang) Laplace costs are precomputed ONCE by the exact same
    * fixed-point pipeline the composed form runs (so outputs are
    * bit-identical — spec-gated), packed into a driver-built lookup
    * table, and each document scores in a single pass over its code
    * points — no (positions × |langs|) row explosion, no broadcast
    * join, no aggregation. The composed form was the slowest flat
    * scan at 100× (15 s / 500k docs); this is the same shape-collapse
    * `lm_feature_ids` bought DSIR. The cost table is |model| longs —
    * the volume the composed form broadcasts anyway. */
  def langIdTrainedNative(df: org.apache.spark.sql.DataFrame,
      idCol: String, model: org.apache.spark.sql.DataFrame,
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.unsafe.types.UTF8String
    // the model frame may be an unmaterialized aggregation over the
    // whole corpus (q154 trains in-query); the size check, totals and
    // cost grid below would each recompute it — pin it once (measured
    // at 100×: 39.6 s unpinned vs 16.4 s pinned). ONLY pin when the
    // caller hasn't: persist() on an already-cached frame shares the
    // caller's cache entry, and unpersisting it here would silently
    // evict the model the caller deliberately pinned.
    val callerPinned = model.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE
    val m = if (callerPinned) model
      else model.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (langs, miss, present) = try {
      // size guard BEFORE any collect: a corpus-sized model (word
      // n-grams — the mis-use the message names) must fail here, not
      // OOM the driver mid-collect; this agg also materializes the
      // pin for the grid pass. TWO driver actions total (size/V agg +
      // the grid collect, miss riding along per row) — the r12 shape
      // ran four, and at small scale the extra fixed-cost jobs
      // dominated the query (q154 sf1 regression, r13 verdict #6).
      val agg0 = m.agg(count(lit(1)).as("n"),
        countDistinct(col("tri")).as("v")).head()
      val rows = agg0.getLong(0)
      require(rows <= (1 << 22),
        s"langIdTrainedNative: model has $rows (tri, lang) rows — " +
          "too large to hold per-executor; use langIdTrained")
      val v = agg0.getLong(1)
      require(v > 0, "langIdTrainedNative: empty model")
      val totals = m.groupBy("lang").agg(sum(col("c")).as("tl"))
      // miss = lg(T_l + V) − lg(0 + 1); present = lg(T_l + V) −
      // lg(c+1) — both computed BY the fixed_log2 expression, never
      // re-derived. Every lang in `totals` has ≥1 grid row (it came
      // from grouping m), so the per-row miss column covers all langs.
      val grid = m.join(totals, Seq("lang"))
        .select(col("tri"), col("lang"),
          (fixedLog2(col("tl") + lit(v)) -
            fixedLog2(col("c") + lit(1L))).as("bits"),
          (fixedLog2(col("tl") + lit(v)) - fixedLog2(lit(1L))).as("miss"))
        .collect()
      val langs = grid.map(_.getString(1)).distinct.sorted
      val missByLang = grid.iterator
        .map(r => r.getString(1) -> r.getLong(3)).toMap
      (langs, langs.map(missByLang), grid)
    } finally { if (!callerPinned) { m.unpersist(); () } }
    val langIdx = langs.zipWithIndex.toMap
    val byTri = new scala.collection.mutable.HashMap[String, Array[Long]]
    present.foreach { r =>
      val vec = byTri.getOrElseUpdate(r.getString(0), miss.clone())
      vec(langIdx(r.getString(1))) = r.getLong(2)
    }
    val tris = byTri.keys.toArray
    val data = new graft.functions.LangModelData(
      langs.map(UTF8String.fromString), miss,
      tris.map(graft.functions.LangTrigram.packTri),
      tris.map(byTri))
    val scored = org.apache.spark.sql.graftshim.ColumnShim.column(
      graft.functions.LangTrigramBits(
        org.apache.spark.sql.graftshim.ColumnShim.expression(
          col(textCol)), data))
    df.select(col(idCol).as("id"), scored.as("r"))
      .select(col("id"),
        coalesce(col("r.n_tris"), lit(0L)).as("n_tris"),
        coalesce(col("r.pred_lang"), lit("und")).as("pred_lang"),
        coalesce(col("r.bits_fp"), lit(0L)).as("bits_fp"))
  }

  // ----------------------------------------------------------------
  // Stupid Backoff trigram LM (Brants et al., "Large Language Models
  // in Machine Translation", EMNLP 2007) — the count-based LM DESIGNED
  // for distributed corpora: no discounting, no normalization pass,
  // just sharded n-gram count tables and a fixed backoff multiplier
  // α = 0.4, which is what makes training a pure map-side-combinable
  // count and serving a handful of key-local joins (the paper's whole
  // point: this scales to trillions of tokens where Kneser–Ney's
  // continuation counts do not). Scores here are exact 16.16
  // fixed-point BITS (−log2 S), so the DuckDB oracle hash-matches:
  //   tri hit : bits = flog2(c(w2 w1)) − flog2(c(w2 w1 w0))
  //   bi  hit : bits = pen + flog2(c(w1)) − flog2(c(w1 w0))
  //   uni     : bits = 2·pen + flog2(N) − flog2(max(c(w0), 1))
  // with pen = flog2(5) − 2^16 = −log2(0.4) exactly (α = 2/5).
  // ----------------------------------------------------------------

  /** Train the three count tables over a corpus: `(uni, bi, tri)` =
    * `(w → c)`, `(w1⎵w2 → c)`, `(w1⎵w2⎵w3 → c)` — keys are
    * space-joined token strings (tokens contain no whitespace by
    * construction, so the joint key is unambiguous and portable).
    * Each table is a map-side-combinable count; at 100 TB they are
    * the paper's sharded count tables — big DataFrames joined
    * key-locally at serving time, never collected or broadcast. */
  def stupidBackoffTables(df: org.apache.spark.sql.DataFrame,
      textCol: String = "text")
  : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    // all three orders in ONE corpus scan + ONE shuffle (the
    // lmCountsAppend gramCounts shape — gram layout is identical to
    // the former per-order transforms, so counts are bit-identical),
    // pinned once: serving (stupidBackoffScore) materializes the
    // model tables six times, and unpinned each materialization was
    // a full corpus tokenize + count pass
    val counts = gramCounts(df.select(
        split(trim(col(textCol)), "\\s+").as("toks"),
        lit(1L).as("sgn")))
      .localCheckpoint()
    (counts.filter(col("n_order") === 1)
        .select(col("gram").as("w"), col("cnt").as("c")),
      counts.filter(col("n_order") === 2)
        .select(col("gram").as("k"), col("cnt").as("c")),
      counts.filter(col("n_order") === 3)
        .select(col("gram").as("k"), col("cnt").as("c")))
  }

  /** Score every document's trigram positions (i ≥ 2; docs with < 3
    * tokens score 0 over 0 positions) under a [[stupidBackoffTables]]
    * model. Output: (id, n_pos, tri_hits, bi_hits, uni_hits, bits_fp,
    * bpt_fp = bits_fp div n_pos).
    *
    * Scale shape: denominators attach at TABLE scale first (trigram
    * rows join their prefix-bigram count, bigram rows their
    * prefix-unigram count — model-sized joins), so the corpus-sized
    * positions frame does exactly THREE key-local hash joins (tri,
    * bi, uni), Brants' sharded-count-table serving shape. The total
    * token count N is driver-held model metadata (one aggregate over
    * the bounded unigram table — the BPE-argmax pattern). A token
    * absent from the unigram table (foreign corpus) scores as a
    * count-1 singleton. */
  def stupidBackoffScore(df: org.apache.spark.sql.DataFrame,
      idCol: String, uni: org.apache.spark.sql.DataFrame,
      bi: org.apache.spark.sql.DataFrame,
      tri: org.apache.spark.sql.DataFrame, textCol: String = "text")
  : org.apache.spark.sql.DataFrame = {
    val n = uni.agg(sum(col("c"))).head.getLong(0)
    require(n > 0, "stupidBackoffScore: empty model (N = 0)")
    val pen = graft.functions.FixedPointMath.flog2(5L) - 65536L
    // model-sized denominator attach: every trigram's 2-token prefix
    // IS a seen bigram (same corpus), every bigram's first token a
    // seen unigram — inner joins are exact
    val triD = tri.select(col("k").as("k3"), col("c").as("tc"))
      .join(bi.select(col("k").as("pk"), col("c").as("bdc")),
        substring_index(col("k3"), " ", 2) === col("pk"))
      .select(col("k3"), col("tc"), col("bdc"))
    val biD = bi.select(col("k").as("k2"), col("c").as("bnc"))
      .join(uni.select(col("w").as("pw"), col("c").as("udc")),
        substring_index(col("k2"), " ", 1) === col("pw"))
      .select(col("k2"), col("bnc"), col("udc"))
    val uniW = uni.select(col("w").as("w0"), col("c").as("unc"))
    val pos = df
      .select(col(idCol).as("id"), split(trim(col(textCol)), "\\s+")
        .as("toks"))
      .select(col("id"), explode(expr(
        """CASE WHEN size(toks) >= 3 THEN
          |  transform(sequence(2, size(toks) - 1), i -> struct(
          |    concat_ws(' ', toks[i-2], toks[i-1], toks[i]) AS k3,
          |    concat_ws(' ', toks[i-1], toks[i]) AS k2,
          |    toks[i] AS w0))
          |ELSE array() END""".stripMargin)).as("p"))
      .select(col("id"), col("p.k3"), col("p.k2"), col("p.w0"))
    val scored = pos
      .join(triD, Seq("k3"), "left")
      .join(biD, Seq("k2"), "left")
      .join(uniW, Seq("w0"), "left")
      .withColumn("lvl", when(col("tc").isNotNull, 0)
        .when(col("bnc").isNotNull, 1).otherwise(2))
      .withColumn("bits",
        when(col("lvl") === 0,
            fixedLog2(col("bdc")) - fixedLog2(col("tc")))
          .when(col("lvl") === 1,
            lit(pen) + fixedLog2(col("udc")) - fixedLog2(col("bnc")))
          .otherwise(lit(2 * pen) + lit(
              graft.functions.FixedPointMath.flog2(n)) -
            fixedLog2(greatest(coalesce(col("unc"), lit(1L)), lit(1L)))))
      .groupBy("id")
      .agg(count(lit(1)).as("n_pos"),
        sum(when(col("lvl") === 0, 1L).otherwise(0L)).as("tri_hits"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("bi_hits"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("uni_hits"),
        sum(col("bits")).as("bits_fp"))
    df.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("tri_hits"), lit(0L)).as("tri_hits"),
        coalesce(col("bi_hits"), lit(0L)).as("bi_hits"),
        coalesce(col("uni_hits"), lit(0L)).as("uni_hits"),
        coalesce(col("bits_fp"), lit(0L)).as("bits_fp"),
        expr("CASE WHEN n_pos > 0 THEN bits_fp div n_pos " +
          "ELSE 0L END").as("bpt_fp"))
  }

  /** Self-scored convenience: train on the corpus, score the corpus —
    * the fluency signal over the data itself (high bits-per-token =
    * text unlike the rest of the corpus). */
  def stupidBackoff(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val (u, b, t) = stupidBackoffTables(df, textCol)
    stupidBackoffScore(df, idCol, u, b, t, textCol)
  }

  /** INCREMENTAL LM count maintenance — the actual Brants et al.
    * deployment shape: the n-gram count tables grow batch-at-a-time
    * as the corpus arrives. Counts are ADDITIVE, so landing each
    * batch's own counts and summing at read time is EXACTLY the
    * full-scan model no matter how arrival was sliced — no index
    * rebuild, no history re-read (per batch: one count over the batch
    * + one bounded append). Rows are (n_order ∈ 1|2|3, gram, cnt);
    * `txn` makes replays idempotent (exactly-once counts — a doubled
    * batch would silently bias every probability). */
  def lmCountsAppend(batch: org.apache.spark.sql.DataFrame,
      tableDir: String, textCol: String = "text",
      txn: Option[(String, Long)] = None): Unit = {
    // r16 optimization: all three orders counted in one scan + one
    // shuffle (formerly a union of three stupidBackoffTables
    // aggregates — three tokenize+explode passes over the batch).
    val all = gramCounts(batch.select(
      split(trim(col(textCol)), "\\s+").as("toks"), lit(1L).as("sgn")))
    graft.sink.CdcTable.append(all, tableDir, partitionBy = Nil,
      txn = txn)
    ()
  }

  /** The effective model from a [[lmCountsAppend]] table: per-gram
    * counts summed across every committed batch — `(uni, bi, tri)`
    * frames interchangeable with [[stupidBackoffTables]]'s (and
    * bit-identical to training on the concatenated corpus). One
    * map-side-combinable aggregation over the count table; the corpus
    * itself is never touched. */
  def lmCountsRead(spark: org.apache.spark.sql.SparkSession,
      tableDir: String)
  : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val eff = graft.sink.CdcTable.read(spark, tableDir)
      .groupBy(col("n_order"), col("gram"))
      .agg(sum(col("cnt")).as("c"))
      // grams whose counts net to zero (every occurrence retracted by
      // lmCountsCdfSync's negative partials) leave the model entirely
      .filter(col("c") > 0)
      // pin the folded model ONCE (model-sized): the three per-order
      // views below are each materialized separately by consumers
      // (stupidBackoffScore alone touches them six times), and
      // unpinned each view re-ran the whole count-table scan + fold
      .localCheckpoint()
    (eff.filter(col("n_order") === 1)
        .select(col("gram").as("w"), col("c")),
      eff.filter(col("n_order") === 2)
        .select(col("gram").as("k"), col("c")),
      eff.filter(col("n_order") === 3)
        .select(col("gram").as("k"), col("c")))
  }

  /** Maintain the LM count table FROM a curated graft table's CHANGE
    * FEED — the DELETE-AWARE form of [[lmCountsAppend]], and the
    * consumer the round-16 change feed exists for: before it, an LM
    * maintained from an append-only tail silently kept the n-grams of
    * every right-to-be-forgotten document. Each sync reads only the
    * unseen commits' change rows ([[graft.sink.CdcTable.readChanges]]
    * above the high-water txn marker, O(changed rows) never
    * O(corpus)): inserted/post-update text ADDS its n-gram counts,
    * deleted/pre-update text appends NEGATED counts — counts are
    * abelian sums, so [[lmCountsRead]] stays bit-identical to
    * training on the table's CURRENT content after ANY DML sequence,
    * at any sync cadence (q206's gate). Net-zero grams drop out of
    * the served model. `GRAFT COMPACT INDEX` folds the positive and
    * negative partials physically. Returns the number of table
    * commits folded (0 = fresh); replays no-op via the txn marker. */
  def lmCountsCdfSync(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, lmDir: String, textCol: String = "text"): Int = {
    import graft.sink.CdcTable
    val commits = CdcTable.log(tableDir)
    require(commits.nonEmpty, s"no CdcTable at $tableDir")
    val appId = s"lmcdf@${graft.ext.Profile.canonicalDir(tableDir)}"
    val lmLog = CdcTable.log(lmDir)
    val hw = lmLog.flatMap(_.txn)
      .filter(_._1 == appId).map(_._2).maxOption.getOrElse(0L)
    val range = commits.filter(_.commit > hw)
    if (range.isEmpty) return 0
    val feed = CdcTable.readChanges(spark, tableDir, afterCommit = hw,
      upToCommit = Some(range.last.commit))
    graft.sink.CdcTable.append(lmSignedCounts(feed, textCol), lmDir,
      partitionBy = Nil, txn = Some((appId, range.last.commit)))
    range.length
  }

  /** One change-feed batch's signed LM count partials: every change
    * row's 1/2/3-grams counted with sign +1 (insert/update_postimage)
    * or −1 (delete/update_preimage) and summed per (n_order, gram).
    * Counts are abelian sums, so emitting the NET per-gram partial is
    * interchangeable with the former separate +/− rows under
    * [[lmCountsRead]]'s fold. */
  private[graft] def lmSignedCounts(feed: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val signed = feed.select(
      split(trim(col(textCol)), "\\s+").as("toks"),
      when(col("_change_type").isin("insert", "update_postimage"), 1L)
        .otherwise(-1L).as("sgn"))
    gramCounts(signed).filter(col("cnt") =!= 0L)
  }

  /** All three n-gram orders counted in ONE scan + ONE shuffle over a
    * staged `(toks, sgn)` frame (r16 optimization: the former shape —
    * a union of three [[stupidBackoffTables]] aggregates per sign —
    * re-tokenized and re-shuffled the batch six times per sync; at a
    * 100 TB feed that is five avoidable corpus passes). Gram layout is
    * identical to the former per-order transforms, so counts are
    * bit-identical. */
  private def gramCounts(staged: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame =
    staged.select(explode(expr(
        """concat(
          |  CASE WHEN size(toks) >= 1 THEN
          |    transform(toks, t -> struct(1 AS n_order, t AS gram))
          |  ELSE array() END,
          |  CASE WHEN size(toks) >= 2 THEN
          |    transform(sequence(0, size(toks) - 2), i ->
          |      struct(2 AS n_order,
          |        concat_ws(' ', toks[i], toks[i+1]) AS gram))
          |  ELSE array() END,
          |  CASE WHEN size(toks) >= 3 THEN
          |    transform(sequence(0, size(toks) - 3), i ->
          |      struct(3 AS n_order,
          |        concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS gram))
          |  ELSE array() END)""".stripMargin)).as("g"), col("sgn"))
      .groupBy(col("g.n_order").as("n_order"), col("g.gram").as("gram"))
      .agg(sum(col("sgn")).as("cnt"))

  /** Plan-dump hook for tools/OptPlans (not a query surface). */
  private[graft] def lmBatchCountsForPlan(
      feed: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = lmSignedCounts(feed, "text")

  // ----------------------------------------------------------------
  // Interpolated Kneser–Ney bigram LM (Kneser & Ney ICASSP 1995;
  // Chen & Goodman 1998 §2.7) — the smoothing KenLM serves, and the
  // scorer CCNet-style perplexity filtering quotes. Absolute
  // discount D = 0.75 held in exact rational form (75/100):
  //   P(w2|w1) = (max(c(w1w2) − D, 0) + D·N1+(w1·)·Pcont(w2)) / c(w1·)
  //   Pcont(w2) = N1+(·w2) / N1+(··)
  // All statistics are integer counts, so the probability lands in
  // ONE truncating division at 2^20 fixed point:
  //   p_fp = (S·((100·c12 − 75)⁺·T + 75·fwd·bwd)) div (100·c1·T)
  // with T = N1+(··) and S = 2^20. The numerator reaches ~10³¹ at
  // 100 TB count magnitudes, so both engines run it in 38-digit
  // integers (DECIMAL(38,0) / HUGEINT — the q143 weighted-PageRank
  // move). Unseen context w1 degrades to pure continuation
  // probability; an unseen w2 floors at p_fp = 1 (the one
  // non-normalized escape, shared bit-for-bit by the oracle).
  // ----------------------------------------------------------------

  /** The bigram count table `(w1, w2, c)` KN statistics derive from —
    * one map-side-combinable count over the training corpus. */
  def kneserNeyTable(df: org.apache.spark.sql.DataFrame,
      textCol: String = "text"): org.apache.spark.sql.DataFrame =
    df.select(split(trim(col(textCol)), "\\s+").as("toks"))
      .select(explode(expr(
        """CASE WHEN size(toks) >= 2 THEN
          |  transform(sequence(1, size(toks) - 1),
          |    i -> struct(toks[i-1] AS w1, toks[i] AS w2))
          |ELSE array() END""".stripMargin)).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c"))

  /** Score every document's bigram positions under an interpolated
    * Kneser–Ney model given as a [[kneserNeyTable]] frame. Output:
    * `(id, n_pos, seen_bi, bits_fp, bpt_fp)` — exact 16.16
    * fixed-point bits via the shared `fixed_log2` recurrence.
    *
    * Scale shape: the three KN statistics (context totals c(w1·),
    * forward type counts N1+(w1·), backward type counts N1+(·w2))
    * are MODEL-sized aggregations of the bigram table; the
    * corpus-sized positions frame then does exactly three key-local
    * hash joins — the same sharded-count-table serving shape as
    * [[stupidBackoffScore]]. T = N1+(··) is driver-held model
    * metadata (one bounded aggregate — the BPE-argmax pattern). The
    * model composes with [[lmCountsRead]]'s n_order = 2 frame via
    * `(w1, w2) = split(k, ' ')`, so incrementally-maintained counts
    * serve KN with no extra machinery. */
  def kneserNeyScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      bi: org.apache.spark.sql.DataFrame, textCol: String = "text")
  : org.apache.spark.sql.DataFrame =
    kneserNeyScorePositions(df.select(col(idCol).as("id")),
      kneserNeyPositions(df, idCol, textCol), bi)

  /** The corpus bigram-positions frame `(id, w1, w2)` KN scoring
    * consumes — exposed so callers scoring the SAME corpus under
    * several models (Moore–Lewis) can tokenize once, pin the frame,
    * and reuse it. */
  private[graft] def kneserNeyPositions(
      df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, carry: Seq[String] = Nil)
  : org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("id") +: split(trim(col(textCol)), "\\s+")
        .as("toks") +: carry.map(col): _*)
      .select(col("id") +: explode(expr(
        """CASE WHEN size(toks) >= 2 THEN
          |  transform(sequence(1, size(toks) - 1),
          |    i -> struct(toks[i-1] AS w1, toks[i] AS w2))
          |ELSE array() END""".stripMargin)).as("p") +:
        carry.map(col): _*)
      .select(col("id") +: col("p.w1") +: col("p.w2") +:
        carry.map(col): _*)

  /** [[kneserNeyScore]] body over a pre-built positions frame.
    *
    * r16 optimization: the model table is PINNED (localCheckpoint)
    * before its statistics derive — `bi` is referenced four times (T,
    * context totals, backward type counts, the c12 join) and an
    * unpinned corpus-scale aggregation would recompute the whole
    * count once per reference (4 corpus passes where 1 suffices; the
    * model is vocabulary-bounded, so the pin is small). */
  private[graft] def kneserNeyScorePositions(
      ids: org.apache.spark.sql.DataFrame,
      pos: org.apache.spark.sql.DataFrame,
      bi: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val biP = bi.localCheckpoint()
    val t = biP.count()
    require(t > 0, "kneserNeyScore: empty model (no bigrams)")
    val ctx = biP.groupBy("w1")
      .agg(sum(col("c")).as("c1"), count(lit(1)).as("fwd"))
    val bwd = biP.groupBy("w2").agg(count(lit(1)).as("bwd"))
    val df = ids
    val scored = pos
      .join(biP.withColumnRenamed("c", "c12"), Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(bwd, Seq("w2"), "left")
      .withColumn("p_fp", expr(
        s"""GREATEST(CASE WHEN c1 IS NOT NULL THEN CAST((
           |  CAST(1048576 AS DECIMAL(38,0)) * (
           |    CAST(GREATEST(100 * COALESCE(c12, CAST(0 AS BIGINT))
           |        - 75, CAST(0 AS BIGINT)) AS DECIMAL(38,0)) * $t +
           |    CAST(75 AS DECIMAL(38,0)) * fwd *
           |      COALESCE(bwd, CAST(0 AS BIGINT)))
           |) div (CAST(100 AS DECIMAL(38,0)) * c1 * $t) AS BIGINT)
           |ELSE CAST((CAST(1048576 AS DECIMAL(38,0)) *
           |    COALESCE(bwd, CAST(0 AS BIGINT)))
           |  div CAST($t AS DECIMAL(38,0)) AS BIGINT)
           |END, CAST(1 AS BIGINT))""".stripMargin))
      .withColumn("bits", lit(20L * 65536L) - fixedLog2(col("p_fp")))
      .groupBy("id")
      .agg(count(lit(1)).as("n_pos"),
        sum(when(col("c12").isNotNull, 1L).otherwise(0L)).as("seen_bi"),
        sum(col("bits")).as("bits_fp"))
    df.join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("seen_bi"), lit(0L)).as("seen_bi"),
        coalesce(col("bits_fp"), lit(0L)).as("bits_fp"),
        expr("CASE WHEN n_pos > 0 THEN bits_fp div n_pos " +
          "ELSE 0L END").as("bpt_fp"))
  }

  /** The trigram count table `(w1, w2, w3, c)` the trigram-KN
    * statistics derive from — one map-side-combinable count. */
  def kneserNeyTrigramTable(df: org.apache.spark.sql.DataFrame,
      textCol: String = "text"): org.apache.spark.sql.DataFrame =
    df.select(split(trim(col(textCol)), "\\s+").as("toks"))
      .select(explode(expr(
        """CASE WHEN size(toks) >= 3 THEN
          |  transform(sequence(2, size(toks) - 1), i -> struct(
          |    toks[i-2] AS w1, toks[i-1] AS w2, toks[i] AS w3))
          |ELSE array() END""".stripMargin)).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"),
        col("p.w3").as("w3"))
      .agg(count(lit(1)).as("c"))

  /** Trigram interpolated Kneser–Ney — the full KenLM recursion shape
    * (Chen & Goodman 1998 §2.7, two levels + continuation unigram):
    *
    *   P(w3|w1w2) = (max(c123−D,0) + D·N1+(w1w2·)·P(w3|w2)) / c(w1w2·)
    *   P(w3|w2)   = (max(N1+(·w2w3)−D,0) + D·N1+(w2·)·Pc(w3)) / N1+(·w2·)
    *   Pc(w3)     = N1+(·w3) / N1+(··)
    *
    * — the MIDDLE order uses CONTINUATION counts (how many distinct
    * left contexts a bigram completes), the property that makes KN
    * KN. Every statistic reduces from the trigram table alone;
    * probabilities land in exactly TWO truncating fixed-point
    * divisions (p2 then p3 — both replayed verbatim by the oracle) in
    * 38-digit integers. Unseen (w1,w2) context degrades to P(w3|w2),
    * unseen middle w2 to Pc(w3), unseen w3 floors at p_fp = 1.
    *
    * Scale shape: identical to [[kneserNeyScore]] — model-sized
    * aggregations of the trigram table, then key-local hash joins
    * against the corpus positions frame; N1+(··) is driver-held
    * model metadata. */
  def kneserNeyTrigramScore(df: org.apache.spark.sql.DataFrame,
      idCol: String, tri: org.apache.spark.sql.DataFrame,
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    // model-sized statistic frames, all from the trigram table —
    // pinned CONDITIONALLY on input size (r17, the r16-verdict #3
    // fix): `tri` is referenced three times and `cc23` four times, so
    // on a large corpus the pins turn up to 7 corpus passes into 1
    // (both frames are vocabulary-bounded). On a SMALL corpus the two
    // eager pin jobs cost more than they save — unpinned, the count
    // below pays one corpus pass and the final query one more
    // (ReuseExchange dedupes the repeated aggregate subtrees inside
    // each job), which is cheaper than two extra job round-trips.
    // The threshold compares the CORPUS scan estimate (plan stats,
    // zero IO) against `spark.graft.pin.minInputBytes`.
    val pin = pinWorthIt(df, tri)
    val triP = if (pin) tri.localCheckpoint() else tri
    val c3ctx = triP.groupBy("w1", "w2")
      .agg(sum(col("c")).as("c3"), count(lit(1)).as("fwd3"))
    val cc23b = triP.groupBy("w2", "w3").agg(count(lit(1)).as("cc23"))
    val cc23 = if (pin) cc23b.localCheckpoint() else cc23b
    val mid2 = cc23.groupBy("w2")
      .agg(sum(col("cc23")).as("mid2"), count(lit(1)).as("fwd2"))
    val bwd3 = cc23.groupBy("w3").agg(count(lit(1)).as("bwd3"))
    val t = cc23.count()
    require(t > 0, "kneserNeyTrigramScore: empty model (no trigrams)")
    val pos = df
      .select(col(idCol).as("id"), split(trim(col(textCol)), "\\s+")
        .as("toks"))
      .select(col("id"), explode(expr(
        """CASE WHEN size(toks) >= 3 THEN
          |  transform(sequence(2, size(toks) - 1), i -> struct(
          |    toks[i-2] AS w1, toks[i-1] AS w2, toks[i] AS w3))
          |ELSE array() END""".stripMargin)).as("p"))
      .select(col("id"), col("p.w1"), col("p.w2"), col("p.w3"))
    val scored = pos
      .join(triP.withColumnRenamed("c", "c123"), Seq("w1", "w2", "w3"),
        "left")
      .join(c3ctx, Seq("w1", "w2"), "left")
      .join(cc23, Seq("w2", "w3"), "left")
      .join(mid2, Seq("w2"), "left")
      .join(bwd3, Seq("w3"), "left")
      .withColumn("p2_fp", expr(
        s"""CASE WHEN mid2 IS NOT NULL THEN CAST((
           |  CAST(1048576 AS DECIMAL(38,0)) * (
           |    CAST(GREATEST(100 * COALESCE(cc23, CAST(0 AS BIGINT))
           |        - 75, CAST(0 AS BIGINT)) AS DECIMAL(38,0)) * $t +
           |    CAST(75 AS DECIMAL(38,0)) * fwd2 *
           |      COALESCE(bwd3, CAST(0 AS BIGINT)))
           |) div (CAST(100 AS DECIMAL(38,0)) * mid2 * $t) AS BIGINT)
           |ELSE CAST((CAST(1048576 AS DECIMAL(38,0)) *
           |    COALESCE(bwd3, CAST(0 AS BIGINT)))
           |  div CAST($t AS DECIMAL(38,0)) AS BIGINT)
           |END""".stripMargin))
      .withColumn("p_fp", expr(
        """GREATEST(CASE WHEN c3 IS NOT NULL THEN CAST((
          |  CAST(GREATEST(100 * COALESCE(c123, CAST(0 AS BIGINT))
          |      - 75, CAST(0 AS BIGINT)) AS DECIMAL(38,0)) * 1048576 +
          |  CAST(75 AS DECIMAL(38,0)) * fwd3 * p2_fp
          |) div (CAST(100 AS DECIMAL(38,0)) * c3) AS BIGINT)
          |ELSE p2_fp END, CAST(1 AS BIGINT))""".stripMargin))
      .withColumn("bits", lit(20L * 65536L) - fixedLog2(col("p_fp")))
      .groupBy("id")
      .agg(count(lit(1)).as("n_pos"),
        sum(when(col("c123").isNotNull, 1L).otherwise(0L))
          .as("seen_tri"),
        sum(col("bits")).as("bits_fp"))
    df.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("seen_tri"), lit(0L)).as("seen_tri"),
        coalesce(col("bits_fp"), lit(0L)).as("bits_fp"),
        expr("CASE WHEN n_pos > 0 THEN bits_fp div n_pos " +
          "ELSE 0L END").as("bpt_fp"))
  }

  /** Streaming LM maintenance: every micro-batch's counts land
    * exactly-once (batch-id-keyed txn markers — crash/replay cannot
    * double a count). The model any reader sees via [[lmCountsRead]]
    * is always the exact full-scan model of everything ingested. */
  def lmCountsStreamToTable(stream: org.apache.spark.sql.DataFrame,
      textCol: String, tableDir: String, checkpointDir: String,
      appId: String = "graft-lm")
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        lmCountsAppend(batch, tableDir, textCol, Some((appId, id)))
      }
      .start()

  // ----------------------------------------------------------------
  // BPE tokenizer TRAINING (Sennrich et al. ACL 2016). q76 counts
  // symbol pairs once; this is the full iterative trainer: repeatedly
  // merge the corpus-wide most frequent adjacent symbol pair. The
  // segmentation state is a STRING per document — every symbol
  // wrapped as `|sym|`, words separated by spaces — so applying a
  // merge is one `replace('|l||r|' → '|lr|')`: plain left-to-right
  // non-overlapping string replacement IS greedy BPE pairing
  // ("aaa" + merge(a,a) → (aa, a)), identical in Spark and DuckDB,
  // and the wrapping makes a false boundary impossible (symbols
  // never contain '|'). Words are lowercased and restricted to
  // [a-z0-9] up front (the usual pre-normalization), which also
  // makes symbols safe to inline into SQL literals.
  // ----------------------------------------------------------------

  /** One trained merge: 1-based rank, the merged symbols, and the
    * pair's corpus count at selection time. */
  final case class BpeMerge(rank: Int, left: String, right: String,
      count: Long)

  /** Initial segmentation state for `textCol`: normalized words with
    * every character wrapped as `|c|`. */
  private[graft] def bpeInitState(textCol: String): Column =
    expr(s"""concat_ws(' ', transform(
      |  split(trim(regexp_replace(lower($textCol), '[^a-z0-9 ]', ' ')),
      |    '\\\\s+'),
      |  w -> regexp_replace(w, '(.)', '|$$1|')))""".stripMargin)

  /** Adjacent symbol pairs of a (state, freq) WORD-DICTIONARY frame,
    * counted with multiplicity. */
  private def bpePairFreq(state: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    state.select(expr(
        "split(substring(state, 2, length(state) - 2), '\\\\|\\\\|')")
        .as("s"), col("freq"))
      .select(explode(expr(
        """zip_with(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1),
          |  (a, b) -> struct(a AS l, b AS r))""".stripMargin)).as("p"),
        col("freq"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))

  /** The replace expression applying one merge to a state column. */
  private def bpeApplyOne(stateCol: String, m: BpeMerge): Column =
    expr(s"replace($stateCol, '|${m.left}||${m.right}|', " +
      s"'|${m.left}${m.right}|')")

  /** Train `merges` BPE merges over `textCol`. Deterministic: the
    * winning pair each round is (count desc, left asc, right asc) —
    * no RNG, no hash order — so re-runs, engines and cluster sizes
    * produce the same table. Stops early when no adjacent pair
    * remains (returns fewer rows).
    *
    * Scale shape: each round is ONE corpus scan + one map-side-
    * combined pair-count shuffle (state bounded by the live symbol
    * vocabulary², in practice the corpus bigram set) and a 1-row
    * driver argmax (metadata-scale); the accumulated merges stay
    * chained NARROW projections on top of the scan — the corpus is
    * never materialized per round and never shuffled. Plan depth
    * grows linearly with `merges`; past a few hundred rounds,
    * checkpoint the state between calls. */
  def bpeTrain(df: org.apache.spark.sql.DataFrame, textCol: String,
      merges: Int): Seq[BpeMerge] = {
    require(merges >= 1 && merges <= 256,
      s"merges must be in [1, 256]: $merges")
    // Train on the distinct-WORD frequency dictionary, not the corpus
    // (the classic BPE trainer shape — Sennrich's learn_bpe builds a
    // vocab dict first): pair counts are Σ freq(word)·pairs(word), so
    // after the one-time word count every round touches |vocab| rows
    // instead of every word occurrence — at 100 TB the dictionary is
    // millions of rows while the corpus is trillions of tokens.
    // Per-round state caching on top: each round persists its state
    // and the parent is released only after the child materialized
    // (the round's pair-count action), so the per-char init regex and
    // earlier merges are never recomputed. Measured at sf0.1 /
    // 4 merges: q108 5.4 s → 1.5 s, q109 5.1 s → 1.2 s.
    var state = df
      .select(explode(split(trim(regexp_replace(
          lower(col(textCol)), "[^a-z0-9 ]", " ")), "\\s+")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(expr("regexp_replace(w, '(.)', '|$1|')").as("state"),
        col("freq"))
      .persist()
    var parent: org.apache.spark.sql.DataFrame = null
    val out = scala.collection.mutable.ArrayBuffer[BpeMerge]()
    try {
      var exhausted = false
      for (k <- 1 to merges if !exhausted) {
        val top = bpePairFreq(state)
          .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
          .limit(1).collect()
        if (parent != null) { parent.unpersist(); parent = null }
        if (top.isEmpty) exhausted = true
        else {
          val m = BpeMerge(k, top(0).getString(0), top(0).getString(1),
            top(0).getLong(2))
          out += m
          parent = state
          state = state.withColumn("state", bpeApplyOne("state", m))
            .persist()
        }
      }
    } finally {
      state.unpersist()
      if (parent != null) parent.unpersist()
    }
    out.toSeq
  }

  /** Driver-local BPE trainer over the collected word-frequency
    * dictionary — the learn_bpe shape real tokenizers use for the
    * 30k-round regime. [[bpeTrain]] runs one Spark job PER merge
    * round, the right shape while rounds are few (each round is a
    * full, auditable corpus-scan plan) — but a production vocabulary
    * is 30k+ SEQUENTIAL rounds, and 30k scheduled jobs is the wrong
    * cost model no matter how cheap each is. Here ONE distributed
    * corpus scan builds the (word, freq) dictionary — identical
    * normalization expressions to [[bpeTrain]], so the gate can pin
    * local ≡ distributed — and the merge loop runs on the driver
    * with incremental pair maintenance: a pair→count map, a
    * pair→words inverted index (only words CONTAINING the winning
    * pair are touched in a round), and a TreeSet argmax under the
    * same (count desc, left asc, right asc) order. A round costs
    * O(touched words · log |pairs|), independent of dictionary size.
    *
    * Scale shape: the collected state is the DICTIONARY, not the
    * corpus — bounded by distinct normalized words, and cut further
    * by `minFreq` (the standard learn_bpe frequency floor: the hapax
    * tail of a web corpus cannot win a merge round against pairs
    * counted in the millions). `maxDictRows` guards the driver the
    * way syncComponents' driverEdgeLimit does — above it the call
    * rejects loudly with the minFreq hint instead of silently
    * OOMing. Symbols are interned to Int ids (words live as
    * Array[Int], pair keys pack into one Long), so a multi-million-
    * word dictionary costs tens of bytes per word.
    *
    * With minFreq = 1 the merge table is EXACTLY [[bpeTrain]]'s
    * (spec-pinned): same multiplicity pair counts, same greedy
    * left-to-right application, same tie order. */
  def bpeTrainLocal(df: org.apache.spark.sql.DataFrame, textCol: String,
      merges: Int, minFreq: Long = 1L,
      maxDictRows: Int = 2000000): Seq[BpeMerge] = {
    require(merges >= 1, s"merges must be >= 1: $merges")
    require(minFreq >= 1L, s"minFreq must be >= 1: $minFreq")
    // the one distributed step: the word dictionary (bpeTrain's own
    // normalization — lower, strip non-[a-z0-9 ], whitespace split)
    val dictRows = df
      .select(explode(split(trim(regexp_replace(
          lower(col(textCol)), "[^a-z0-9 ]", " ")), "\\s+")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq && length(col("w")) > 0)
      .limit(maxDictRows + 1)
      .collect()
    require(dictRows.length <= maxDictRows,
      s"BPE dictionary exceeds maxDictRows=$maxDictRows distinct " +
        s"words; raise minFreq (frequency floor — the standard " +
        s"learn_bpe cut) or maxDictRows")
    bpeTrainDict(dictRows.map(r => (r.getString(0), r.getLong(1))),
      merges)
  }

  /** The driver-resident merge loop of [[bpeTrainLocal]] over an
    * explicit (word, freq) dictionary — exposed for probes and for
    * callers that already hold a dictionary. */
  private[graft] def bpeTrainDict(dict: Array[(String, Long)],
      merges: Int): Seq[BpeMerge] = {
    // symbol interning: chars (and later merged symbols) -> Int ids
    val symIds = new java.util.HashMap[String, Integer]()
    val syms = scala.collection.mutable.ArrayBuffer[String]()
    def symId(sym: String): Int = {
      val got = symIds.get(sym)
      if (got != null) got.intValue
      else { syms += sym; symIds.put(sym, syms.length - 1); syms.length - 1 }
    }
    val nW = dict.length
    val words = new Array[Array[Int]](nW)
    val freqs = new Array[Long](nW)
    var i = 0
    while (i < nW) {
      val w = dict(i)._1
      freqs(i) = dict(i)._2
      val a = new Array[Int](w.length)
      var j = 0
      while (j < w.length) {
        a(j) = symId(String.valueOf(w.charAt(j))); j += 1
      }
      words(i) = a
      i += 1
    }
    def pk(l: Int, r: Int): Long =
      (l.toLong << 32) | (r.toLong & 0xffffffffL)
    val cnt = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    val idx =
      new java.util.HashMap[java.lang.Long, java.util.HashSet[Integer]]()
    def addCnt(k: Long, d: Long): Unit = {
      val cur = cnt.get(k)
      val nv = (if (cur == null) 0L else cur.longValue) + d
      if (nv == 0L) cnt.remove(k) else cnt.put(k, nv)
    }
    i = 0
    while (i < nW) {
      val s = words(i)
      var j = 0
      while (j < s.length - 1) {
        val p = pk(s(j), s(j + 1))
        addCnt(p, freqs(i))
        var set = idx.get(p)
        if (set == null) {
          set = new java.util.HashSet[Integer](); idx.put(p, set)
        }
        set.add(i)
        j += 1
      }
      i += 1
    }
    // argmax structure: (count, l, r) under count desc then symbol
    // text asc — bpeTrain's exact ORDER BY (ASCII symbols, so Java
    // string compare ≡ Spark/DuckDB string order)
    val ord = new Ordering[(Long, Int, Int)] {
      def compare(a: (Long, Int, Int), b: (Long, Int, Int)): Int = {
        val c = java.lang.Long.compare(b._1, a._1)
        if (c != 0) c
        else {
          val cl = syms(a._2).compareTo(syms(b._2))
          if (cl != 0) cl else syms(a._3).compareTo(syms(b._3))
        }
      }
    }
    val order = scala.collection.mutable.TreeSet.empty[(Long, Int, Int)](ord)
    val cit0 = cnt.entrySet.iterator
    while (cit0.hasNext) {
      val e = cit0.next()
      val p = e.getKey.longValue
      order.add((e.getValue.longValue, (p >>> 32).toInt,
        (p & 0xffffffffL).toInt))
    }
    val out = scala.collection.mutable.ArrayBuffer[BpeMerge]()
    var k = 1
    while (k <= merges && order.nonEmpty) {
      val (c, l, r) = order.head
      out += BpeMerge(k, syms(l), syms(r), c)
      val key = pk(l, r)
      val mergedId = symId(syms(l) + syms(r))
      val touchedSet = idx.get(key)
      val touched: Array[Int] =
        if (touchedSet == null) Array.emptyIntArray
        else {
          val a = new Array[Int](touchedSet.size)
          val it = touchedSet.iterator; var t = 0
          while (it.hasNext) { a(t) = it.next().intValue; t += 1 }
          a
        }
      // pre-round count snapshot of every pair we touch, for the
      // TreeSet remove-then-re-add sync after the word loop
      val changed = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      def snap(p: Long): Unit =
        if (!changed.containsKey(p)) {
          val cur = cnt.get(p)
          changed.put(p, if (cur == null) 0L else cur.longValue)
        }
      var t = 0
      while (t < touched.length) {
        val wid = touched(t)
        val s = words(wid); val f = freqs(wid)
        val oldPairs = new java.util.HashSet[java.lang.Long]()
        var j = 0
        while (j < s.length - 1) {
          val p = pk(s(j), s(j + 1))
          snap(p); addCnt(p, -f); oldPairs.add(p)
          j += 1
        }
        val ns = applyMergeLocal(s, l, r, mergedId)
        words(wid) = ns
        val newPairs = new java.util.HashSet[java.lang.Long]()
        j = 0
        while (j < ns.length - 1) {
          val p = pk(ns(j), ns(j + 1))
          snap(p); addCnt(p, f); newPairs.add(p)
          j += 1
        }
        val oit = oldPairs.iterator
        while (oit.hasNext) {
          val p = oit.next()
          if (!newPairs.contains(p)) {
            val set = idx.get(p)
            if (set != null) {
              set.remove(wid)
              if (set.isEmpty) idx.remove(p)
            }
          }
        }
        val nit = newPairs.iterator
        while (nit.hasNext) {
          val p = nit.next()
          if (!oldPairs.contains(p)) {
            var set = idx.get(p)
            if (set == null) {
              set = new java.util.HashSet[Integer](); idx.put(p, set)
            }
            set.add(wid)
          }
        }
        t += 1
      }
      val cit = changed.entrySet.iterator
      while (cit.hasNext) {
        val e = cit.next()
        val p = e.getKey.longValue; val oldC = e.getValue.longValue
        val pl = (p >>> 32).toInt; val pr = (p & 0xffffffffL).toInt
        if (oldC > 0L) order.remove((oldC, pl, pr))
        val nc = cnt.get(e.getKey)
        if (nc != null && nc.longValue > 0L)
          order.add((nc.longValue, pl, pr))
      }
      k += 1
    }
    out.toSeq
  }

  /** Greedy left-to-right non-overlapping application of one merge to
    * an int-encoded word — the driver-local twin of [[bpeApplyOne]]'s
    * string replace ("aaa" + merge(a,a) → (aa, a)). */
  private def applyMergeLocal(s: Array[Int], l: Int, r: Int,
      merged: Int): Array[Int] = {
    val out = new Array[Int](s.length)
    var i = 0; var o = 0
    while (i < s.length) {
      if (i < s.length - 1 && s(i) == l && s(i + 1) == r) {
        out(o) = merged; i += 2
      } else { out(o) = s(i); i += 1 }
      o += 1
    }
    java.util.Arrays.copyOf(out, o)
  }

  /** Segmentation state of `textCol` after applying a trained merge
    * table — [[bpeTrain]]'s companion encode step. The symbol count
    * of a state is `(length(state) - length(replace(state, '|', '')))
    * / 2` (each symbol contributes exactly two pipes). */
  def bpeSegment(textCol: String, merges: Seq[BpeMerge]): Column =
    merges.sortBy(_.rank).foldLeft(bpeInitState(textCol)) {
      (c, m) => org.apache.spark.sql.functions.replace(c,
        lit(s"|${m.left}||${m.right}|"),
        lit(s"|${m.left}${m.right}|"))
    }

  /** Clipped n-gram precision components — the BLEU p_n numerators
    * (Papineni et al. ACL 2002) for each (candidate = `a_id`,
    * reference = `b_id`) pair: `clip_n = Σ_g min(c_cand(g),
    * c_ref(g))` over candidate n-grams g — a MULTISET intersection,
    * which the set-semantics overlap family (Jaccard q33/q59,
    * containment q117) cannot express: a candidate repeating a
    * reference phrase five times gets credit once per reference
    * occurrence, not five. Emitted for n = 1, 2 with candidate AND
    * reference gram totals, exact fixed-point precision
    * `(clip_n·10^6) div max(tc_n, 1)`, recall (over the reference
    * total — the clip is symmetric: Σ min is the multiset
    * intersection size), and F1, which is exactly `2·clip/(tc+tr)`
    * in integers (no fixed-point division of fixed-points needed:
    * p = c/tc, r = c/tr ⇒ 2pr/(p+r) = 2c/(tc+tr)). The geometric
    * mean / brevity penalty of full BLEU are one exp away and
    * engine-specific — the gate pins the exact components instead.
    *
    * Scale shape: per-doc gram counting is scan-local; `pairs`
    * (bounded — the candidate residue of a dedup/retrieval stage, the
    * same class as the CC edge set) broadcasts into the gram frames,
    * so only pair-restricted gram rows shuffle (keyed on the pair +
    * gram), never the corpus. */
  def clippedNgramOverlap(docs: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val toked = docs.select(col(idCol).as("id"),
      expr(s"split(trim(`$textCol`), '\\\\s+')").as("toks"))
    val p = broadcast(pairs.select(col("a_id"), col("b_id")))
    def gramCounts(n: Int) = {
      val gexpr =
        if (n == 1) "toks"
        else
          s"""CASE WHEN size(toks) >= $n THEN
             |  transform(sequence(0, size(toks) - $n),
             |    i -> concat(toks[i], ' ', toks[i+1]))
             |ELSE array() END""".stripMargin
      toked.select(col("id"), explode(expr(gexpr)).as("g"))
        .groupBy(col("id"), col("g")).agg(count(lit(1)).as("c"))
    }
    def side(n: Int) = {
      val g = gramCounts(n)
      val cand = p.join(g.withColumnRenamed("id", "a_id"), Seq("a_id"))
        .select(col("a_id"), col("b_id"), col("g"), col("c").as("ca"))
      val ref = g.select(col("id").as("b_id"), col("g"),
        col("c").as("cb"))
      cand.join(ref, Seq("b_id", "g"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(sum(least(col("ca"), col("cb"))).as(s"clip$n"))
    }
    def lensOf(idAlias: String, prefix: String) =
      p.join(toked.withColumnRenamed("id", idAlias), Seq(idAlias))
        .select(col("a_id"), col("b_id"),
          size(col("toks")).cast("long").as(s"${prefix}1"),
          greatest(size(col("toks")).cast("long") - 1, lit(0L))
            .as(s"${prefix}2"))
    lensOf("a_id", "tc")
      .join(lensOf("b_id", "tr"), Seq("a_id", "b_id"))
      .join(side(1), Seq("a_id", "b_id"), "left")
      .join(side(2), Seq("a_id", "b_id"), "left")
      .select(col("a_id"), col("b_id"),
        col("tc1"), col("tr1"),
        coalesce(col("clip1"), lit(0L)).as("clip1"),
        col("tc2"), col("tr2"),
        coalesce(col("clip2"), lit(0L)).as("clip2"))
      .withColumn("p1_fp",
        expr("(clip1 * 1000000L) div greatest(tc1, 1L)"))
      .withColumn("r1_fp",
        expr("(clip1 * 1000000L) div greatest(tr1, 1L)"))
      .withColumn("f1_fp",
        expr("(2L * clip1 * 1000000L) div greatest(tc1 + tr1, 1L)"))
      .withColumn("p2_fp",
        expr("(clip2 * 1000000L) div greatest(tc2, 1L)"))
      .withColumn("r2_fp",
        expr("(clip2 * 1000000L) div greatest(tr2, 1L)"))
      .withColumn("f2_fp",
        expr("(2L * clip2 * 1000000L) div greatest(tc2 + tr2, 1L)"))
  }

  /** chrF (Popović, WMT 2015) for each (candidate `a_id`, reference
    * `b_id`) pair — the character-level sibling of
    * [[clippedNgramOverlap]], robust to tokenization/morphology
    * differences word n-grams miss: clipped character-n-gram
    * precision and recall over the WHITESPACE-STRIPPED texts for
    * n = 1..`maxN` (the paper's 6), arithmetic-averaged across orders
    * and fused with β = `beta` (2 — recall weighted double). All
    * arithmetic is exact fixed point so the oracle replays every
    * cell: `p_n = (clip_n·10^6) div max(tc_n, 1)`,
    * `chrP = (Σ_n p_n) div maxN` (same for recall over reference
    * totals), `chrF = ((1+β²)·chrP·chrR) div max(β²·chrP + chrR, 1)`.
    *
    * Scale shape: texts are restricted to the pair-touched docs (one
    * broadcast semi-join) BEFORE gram counting, all orders explode in
    * ONE pass tagged by n, and only pair-restricted gram rows shuffle
    * — `pairs` stays the bounded candidate residue, same class as
    * [[clippedNgramOverlap]]. Output: (a_id, b_id, clip_total,
    * cp_fp, cr_fp, chrf_fp). */
  def chrF(docs: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String = "text", maxN: Int = 6, beta: Int = 2)
  : org.apache.spark.sql.DataFrame = {
    require(maxN >= 1 && maxN <= 16, s"maxN must be in [1,16]: $maxN")
    require(beta >= 1, s"beta must be positive: $beta")
    // pin the (bounded) pair frame ONCE: it feeds the broadcast join
    // AND both union legs of the touched-doc set — an unpinned plan
    // (e.g. a full LSH candidate pipeline) would re-run ~3×
    val pinned = pairs.select(col("a_id"), col("b_id"))
      .localCheckpoint()
    val p = broadcast(pinned)
    val touched = pinned.select(col("a_id").as("id"))
      .unionByName(pinned.select(col("b_id").as("id"))).distinct()
    val chars = docs
      .select(col(idCol).as("id"),
        // explicit class = Java's \s exactly; RE2's \s (the oracle
        // engine) EXCLUDES \x0B, so a bare \s would silently diverge
        // on vertical tabs in scraped text
        regexp_replace(col(textCol), "[ \\t\\n\\x0B\\f\\r]+", "")
          .as("s"))
      .join(broadcast(touched), Seq("id"), "left_semi")
    val grams = chars.select(col("id"), explode(expr(
      s"""flatten(transform(sequence(1, $maxN), nn ->
         |  CASE WHEN length(s) >= nn THEN
         |    transform(sequence(1, length(s) - nn + 1),
         |      i -> named_struct('n', nn, 'g', substring(s, i, nn)))
         |  ELSE CAST(array()
         |    AS ARRAY<STRUCT<n: INT, g: STRING>>) END))""".stripMargin))
        .as("x"))
      .select(col("id"), col("x.n").as("n"), col("x.g").as("g"))
      .groupBy(col("id"), col("n"), col("g"))
      .agg(count(lit(1)).as("c"))
    val lens = chars.select(col("id"), explode(expr(
      s"""transform(sequence(1, $maxN), nn -> named_struct('n', nn,
         |  'tot', CAST(greatest(length(s) - nn + 1, 0)
         |    AS BIGINT)))""".stripMargin)).as("x"))
      .select(col("id"), col("x.n").as("n"), col("x.tot").as("tot"))
    val clip = p
      .join(grams.withColumnRenamed("id", "a_id"), Seq("a_id"))
      .select(col("a_id"), col("b_id"), col("n"), col("g"),
        col("c").as("ca"))
      .join(grams.select(col("id").as("b_id"), col("n"), col("g"),
        col("c").as("cb")), Seq("b_id", "n", "g"))
      .groupBy(col("a_id"), col("b_id"), col("n"))
      .agg(sum(least(col("ca"), col("cb"))).as("clip"))
    val b2 = beta * beta
    p.join(lens.withColumnRenamed("id", "a_id"), Seq("a_id"))
      .select(col("a_id"), col("b_id"), col("n"), col("tot").as("tc"))
      .join(lens.select(col("id").as("b_id"), col("n"),
        col("tot").as("tr")), Seq("b_id", "n"))
      .join(clip, Seq("a_id", "b_id", "n"), "left")
      .withColumn("clip", coalesce(col("clip"), lit(0L)))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("clip")).as("clip_total"),
        expr(s"sum((clip * 1000000L) div greatest(tc, 1L)) div $maxN")
          .as("cp_fp"),
        expr(s"sum((clip * 1000000L) div greatest(tr, 1L)) div $maxN")
          .as("cr_fp"))
      .withColumn("chrf_fp", expr(
        s"((${1 + b2}L * cp_fp * cr_fp) div " +
          s"greatest(${b2}L * cp_fp + cr_fp, 1L))"))
  }

  /** ROUGE-L (Lin, "ROUGE: A Package for Automatic Evaluation of
    * Summaries", ACL 2004 WS) for each (candidate `a_id`, reference
    * `b_id`) pair: token-level LONGEST COMMON SUBSEQUENCE — the
    * order-aware overlap the n-gram family (clipped counts, chrF)
    * cannot express, completing the eval-metric set. Tokens hash to
    * the portable 28-bit md5-prefix ids (both engines compute the
    * same ids, so collisions — ≈m·n/2²⁸ per pair — affect Spark and
    * the oracle identically), and the DP runs ARRAY-LOCALLY inside
    * the row via nested HOFs: fold over candidate tokens carrying the
    * dp row, each step building max(dp[j], dp[j-1]+eq) then a
    * prefix-max — no UDF, whole plan replays in SQL. Per-pair cost
    * O(|a|·|b|²) array ops (the prefix-max is a fold of appends);
    * pairs are the bounded candidate residue, texts restrict to
    * pair-touched docs before tokenizing (the chrF scale shape).
    * Exact fixed point: `rl_p = (lcs·10⁶) div |a|`, recall over |b|,
    * `F = (2·p·r) div max(p+r, 1)` (β = 1).
    *
    * `maxTokens` (0 = unbounded) truncates every text to its first
    * `maxTokens` tokens BEFORE the DP — the standard ROUGE-tooling
    * guard for the O(|a|·|b|) per-pair cost: without it one
    * pathological pair (two 100k-token docs) costs 10¹⁰ lambda
    * evaluations inside a single task and straggles the whole stage
    * even though total pair volume is bounded. Lengths, LCS and all
    * scores are computed over the truncated streams (exactly what
    * `rouge-score`'s tokenizer-limit does), so the oracle replays
    * the same truncation. Output: (a_id, b_id, len_a, len_b, lcs,
    * rl_p_fp, rl_r_fp, rl_f_fp). */
  def rougeL(docs: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String = "text", maxTokens: Int = 0)
  : org.apache.spark.sql.DataFrame = {
    require(maxTokens >= 0, s"maxTokens must be >= 0: $maxTokens")
    val pinned = pairs.select(col("a_id"), col("b_id"))
      .localCheckpoint()
    val p = broadcast(pinned)
    val touched = pinned.select(col("a_id").as("id"))
      .unionByName(pinned.select(col("b_id").as("id"))).distinct()
    val tkExpr =
      s"""transform(split(trim(`$textCol`), '\\\\s+'),
         |  x -> CAST(conv(substring(md5(x), 1, 7), 16, 10)
         |       AS BIGINT))""".stripMargin
    val tk = docs
      .select(col(idCol).as("id"), expr(
        if (maxTokens > 0) s"slice($tkExpr, 1, $maxTokens)"
        else tkExpr).as("tk"))
      .join(broadcast(touched), Seq("id"), "left_semi")
    val lcsE =
      """aggregate(
        |  ta,
        |  transform(tb, y -> 0L),
        |  (dp, x) -> aggregate(
        |    transform(sequence(1, size(tb)), j ->
        |      greatest(element_at(dp, j),
        |        IF(j > 1, element_at(dp, j - 1), 0L) +
        |        IF(element_at(tb, j) = x, 1L, 0L))),
        |    CAST(array() AS ARRAY<BIGINT>),
        |    (acc, v) -> concat(acc, array(greatest(v,
        |      IF(size(acc) = 0, 0L, element_at(acc, size(acc))))))),
        |  dp -> coalesce(array_max(dp), 0L))""".stripMargin
    p.join(tk.select(col("id").as("a_id"), col("tk").as("ta")),
        Seq("a_id"))
      .join(tk.select(col("id").as("b_id"), col("tk").as("tb")),
        Seq("b_id"))
      .withColumn("len_a", size(col("ta")).cast("long"))
      .withColumn("len_b", size(col("tb")).cast("long"))
      .withColumn("lcs",
        when(col("len_a") === 0 || col("len_b") === 0, lit(0L))
          .otherwise(expr(lcsE)))
      .withColumn("rl_p_fp",
        expr("(lcs * 1000000L) div greatest(len_a, 1L)"))
      .withColumn("rl_r_fp",
        expr("(lcs * 1000000L) div greatest(len_b, 1L)"))
      .withColumn("rl_f_fp", expr(
        "(2L * rl_p_fp * rl_r_fp) div greatest(rl_p_fp + rl_r_fp, 1L)"))
      .select(col("a_id"), col("b_id"), col("len_a"), col("len_b"),
        col("lcs"), col("rl_p_fp"), col("rl_r_fp"), col("rl_f_fp"))
  }

  /** Corpus-level ROUGE-L — [[chrFCorpus]]'s shape for the
    * subsequence metric: the macro-average (mean of per-pair
    * fixed-point scores) of [[rougeL]] across the pair frame, exact
    * integers. Output: (n_pairs, macro_rl_p_fp, macro_rl_r_fp,
    * macro_rl_f_fp). */
  def rougeLCorpus(docs: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String = "text", maxTokens: Int = 0)
  : org.apache.spark.sql.DataFrame =
    rougeL(docs, pairs, idCol, textCol, maxTokens)
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(rl_p_fp) div count(1)").as("macro_rl_p_fp"),
        expr("sum(rl_r_fp) div count(1)").as("macro_rl_r_fp"),
        expr("sum(rl_f_fp) div count(1)").as("macro_rl_f_fp"))

  /** Corpus-level chrF — the dataset-eval deployment shape: the
    * MACRO-average (mean of per-pair fixed-point scores, the way
    * Popović'15 reports document/corpus chrF over segments) of
    * [[chrF]] across the whole pair frame, in ONE row. Exact
    * integers throughout (`Σ score div n`), so corpus scores
    * hash-match the oracle like the per-pair rows do. All the scale
    * work happens inside [[chrF]] (pair-restricted gram counting);
    * this adds one global aggregation over the bounded pair residue.
    * Output: (n_pairs, macro_chrp_fp, macro_chrr_fp, macro_chrf_fp). */
  def chrFCorpus(docs: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String = "text", maxN: Int = 6, beta: Int = 2)
  : org.apache.spark.sql.DataFrame =
    chrF(docs, pairs, idCol, textCol, maxN, beta)
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(cp_fp) div count(1)").as("macro_chrp_fp"),
        expr("sum(cr_fp) div count(1)").as("macro_chrr_fp"),
        expr("sum(chrf_fp) div count(1)").as("macro_chrf_fp"))

  /** floor(2¹⁶·log2 e) — the fixed-point change-of-base constant the
    * BLEU brevity penalty uses (ln BP = 1 − r/c, reported in the
    * log2 domain everything else lives in). Same literal on both
    * engines, so the penalty is exact integer arithmetic. */
  private[graft] val Log2eFp = 94548L

  /** Corpus BLEU (Papineni et al., "BLEU: a Method for Automatic
    * Evaluation of Machine Translation", ACL 2002) over a (candidate
    * `a_id`, reference `b_id`) pair frame — THE quoted MT/dataset
    * eval number, completing the family whose pieces already ship:
    * clipped counts (q160), chrF, ROUGE-L. Corpus-level means the
    * clipped matches and candidate totals SUM over all pairs per
    * gram order n = 1..`maxN` before any ratio forms (the paper's
    * formulation — never an average of per-pair scores), then one
    * bounded reduction builds:
    *
    *   - `p{n}_fp = (Σclip_n · 10⁶) div max(Σtot_n, 1)` — modified
    *     n-gram precision, exact fixed point;
    *   - `bp_neglog2_fp = ((r − c) · floor(2¹⁶·log2 e)) div c` when
    *     r > c else 0 — the brevity penalty as −log2 BP ≥ 0;
    *   - `bleu_log2_fp = −(bp_neglog2_fp + (Σ_n [flog2(Σtot_n) −
    *     flog2(Σclip_n)]) div maxN)` — log2 BLEU in 16.16 fixed
    *     point via the deterministic [[graft.functions.FixedLog2]]
    *     truncated-squaring recurrence (BLEU = 2^(x/65536); NULL
    *     when some Σclip_n = 0, where log BLEU is −∞ undefined).
    *
    * Every operand is a non-negative integer and every division
    * truncates on non-negative operands, so DuckDB replays the whole
    * computation — 16-round log recurrence included — bit for bit.
    *
    * Scale shape: texts restrict to pair-touched docs before any
    * gram work (broadcast semi), all `maxN` orders explode in ONE
    * tagged pass, only pair-restricted gram rows shuffle, and the
    * corpus reduction collapses to maxN rows then one. Output (one
    * row): n_pairs, c_len, r_len, clip{n}, tot{n}, p{n}_fp per n,
    * bp_neglog2_fp, bleu_log2_fp. */
  def corpusBleu(docs: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String = "text", maxN: Int = 4)
  : org.apache.spark.sql.DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN must be in [1, 8]: $maxN")
    val pinned = pairs.select(col("a_id"), col("b_id"))
      .localCheckpoint()
    val p = broadcast(pinned)
    val touched = pinned.select(col("a_id").as("id"))
      .unionByName(pinned.select(col("b_id").as("id"))).distinct()
    val toked = docs
      .select(col(idCol).as("id"),
        expr(s"split(trim(`$textCol`), '\\\\s+')").as("toks"))
      .join(broadcast(touched), Seq("id"), "left_semi")
      .localCheckpoint() // feeds grams AND lengths
    // (id, n, g, c) for every order in ONE tagged explode
    val grams = toked.select(col("id"), explode(expr(
        s"""flatten(transform(sequence(1, $maxN), nn ->
           |  transform(
           |    CASE WHEN size(toks) >= nn
           |    THEN sequence(1, size(toks) - nn + 1)
           |    ELSE CAST(array() AS ARRAY<INT>) END,
           |    i -> struct(nn AS n,
           |      concat_ws(' ', slice(toks, i, nn)) AS g))))"""
          .stripMargin)).as("x"))
      .select(col("id"), col("x.n").as("n"), col("x.g").as("g"))
      .groupBy(col("id"), col("n"), col("g"))
      .agg(count(lit(1)).as("c"))
    val clip = p
      .join(grams.withColumnRenamed("id", "a_id"), Seq("a_id"))
      .select(col("a_id"), col("b_id"), col("n"), col("g"),
        col("c").as("ca"))
      .join(grams.select(col("id").as("b_id"), col("n"), col("g"),
        col("c").as("cb")), Seq("b_id", "n", "g"))
      .groupBy(col("a_id"), col("b_id"), col("n"))
      .agg(sum(least(col("ca"), col("cb"))).as("clip"))
    val lens = toked.select(col("id"),
      size(col("toks")).cast("long").as("len"))
    val pairLens = p
      .join(lens.select(col("id").as("a_id"), col("len").as("len_a")),
        Seq("a_id"))
      .join(lens.select(col("id").as("b_id"), col("len").as("len_b")),
        Seq("b_id"))
      .localCheckpoint() // feeds the corpus row AND per-n totals
    val corpus = pairLens.agg(count(lit(1)).as("n_pairs"),
      coalesce(sum(col("len_a")), lit(0L)).as("c_len"),
      coalesce(sum(col("len_b")), lit(0L)).as("r_len"))
    val byN = pairLens
      .select(col("a_id"), col("b_id"), col("len_a"),
        explode(expr(s"sequence(1, $maxN)")).as("n"))
      .withColumn("tot", greatest(col("len_a") - col("n") + 1,
        lit(0L)))
      .join(clip, Seq("a_id", "b_id", "n"), "left")
      .withColumn("clip", coalesce(col("clip"), lit(0L)))
      .groupBy(col("n"))
      .agg(sum(col("clip")).as("clipn"), sum(col("tot")).as("totn"))
    val pivots = (1 to maxN).flatMap { n =>
      Seq(coalesce(sum(when(col("n") === n, col("clipn"))), lit(0L))
          .cast("long").as(s"clip$n"),
        coalesce(sum(when(col("n") === n, col("totn"))), lit(0L))
          .cast("long").as(s"tot$n"))
    }
    val one = byN.agg(pivots.head, pivots.tail: _*)
    // Σ_n [flog2(tot_n) − flog2(clip_n)] — each term ≥ 0 (flog2 is
    // monotone non-strict and tot ≥ clip); a zero clip makes its
    // flog2 NULL, which propagates through + to a NULL log-BLEU
    val negSum = (1 to maxN)
      .map(n => fixedLog2(greatest(col(s"tot$n"), lit(1L))) -
        fixedLog2(col(s"clip$n")))
      .reduce(_ + _)
    val perN = (1 to maxN).flatMap { n =>
      Seq(col(s"clip$n"), col(s"tot$n"),
        expr(s"(clip$n * 1000000L) div greatest(tot$n, 1L)")
          .as(s"p${n}_fp"))
    }
    corpus.crossJoin(one)
      .withColumn("bp_neglog2_fp", expr(
        s"CASE WHEN c_len >= r_len THEN 0L ELSE " +
          s"((r_len - c_len) * ${Log2eFp}L) div greatest(c_len, 1L) " +
          "END"))
      .withColumn("_neg", negSum)
      .select(Seq(col("n_pairs"), col("c_len"), col("r_len")) ++
        perN ++ Seq(col("bp_neglog2_fp"),
          expr(s"-(bp_neglog2_fp + (_neg div $maxN))")
            .as("bleu_log2_fp")): _*)
  }
}
