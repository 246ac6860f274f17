package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType}

/** Corpus deduplication pipeline (the north-star training-data op):
  *
  *   exact:  md5 content fingerprint → hash-groupBy keep-min;
  *   near:   shingle MinHash → LSH band buckets → candidate pairs →
  *           n-gram Jaccard verification → connected components →
  *           one survivor per duplicate cluster.
  *
  * Scale design: every stage is a scan or a key-local shuffle — the
  * LSH bands bound the candidate space (never O(n²)); verification
  * joins only candidate pairs back to their shingle sets; the
  * connected-components iteration is min-label propagation over the
  * (tiny) duplicate-edge graph, converging in O(log n) rounds of
  * self-joins — the standard large-star/small-star shape for Spark.
  * Requires GraftExtensions (shingle_ids / minhash_sig natives).
  */
object Dedup {

  /** NULL-safe content fingerprint: a NULL text md5s to NULL, and a
    * NULL key silently falls out of every equi-join downstream — the
    * row would VANISH from the annotation (not "kept", not "dropped").
    * Coalescing to "" instead groups NULL-text docs with empty /
    * whitespace-only ones: all contentless docs dedup together, and
    * no row can be lost. Oracles mirror the same COALESCE. */
  private def fingerprintOf(textCol: String) =
    md5(coalesce(lower(trim(col(textCol))), lit("")))

  /** Exact dedup: normalized-content fingerprint, keep min id per
    * group. Adds `fingerprint`, `keep_id`, `is_duplicate`. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = df.withColumn("fingerprint", fingerprintOf(textCol))
    val keep = fp.groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"))
    fp.join(keep, Seq("fingerprint"))
      .withColumn("is_duplicate", col(idCol) =!= col("keep_id"))
  }

  /** INCREMENTAL exact dedup — the streaming-ingest shape: a new
    * batch dedups against the fingerprints of everything already
    * ingested, without re-reading the historical corpus text. The
    * index is a graft table of (fingerprint, keep_id) rows, so it
    * gets atomic commits, time travel, and compaction for free.
    *
    * Per batch: one scan of the BATCH (fingerprint + in-batch
    * min-id), one key join against the index (at 100 TB the index is
    * fingerprint-bucketed parquet a fraction of the corpus size —
    * text never travels), one append of the batch's novel
    * fingerprints. Returns the batch annotated with
    * (keep_id, is_duplicate) where keep_id may reference a HISTORICAL
    * document. Exactly-once across replays via the txn marker.
    *
    * Assumes BOUNDED batches (micro-batches): the batch's distinct
    * fingerprint set broadcasts so the index never shuffles. The
    * assumption is ENFORCED — a batch over `maxBatchRows` (default
    * [[Similarity.MaxIncrementalBatchRows]]) fails loudly before any
    * broadcast; for a corpus-sized one-off "batch" use [[exact]].
    *
    * Call [[compactIndex]] periodically to fold index generations
    * into one file set: it collapses each fingerprint to its MIN
    * keep_id — the same resolution rule every read applies — so
    * annotations before and after a compaction are IDENTICAL, even
    * when past racing appenders left duplicate fingerprint rows
    * (spec'd in DedupSpec). */
  def exactIncremental(batch: DataFrame, textCol: String, idCol: String,
      indexDir: String, txn: Option[(String, Long)] = None,
      maxBatchRows: Long = Similarity.MaxIncrementalBatchRows)
      : DataFrame = {
    import graft.sink.CdcTable
    require(!Seq("fingerprint", "keep_id", "is_duplicate")
        .exists(batch.columns.map(_.toLowerCase).contains),
      "batch already carries a fingerprint/keep_id/is_duplicate " +
        "column — the annotation would silently overwrite it (rename " +
        "the input column first)")
    // pin the fingerprinted batch: it feeds the winner resolution
    // (whose outcome lands in the INDEX) and the final annotation
    // join — a non-deterministic source re-evaluated per branch could
    // annotate under fingerprints the index never saw (the same
    // hazard CdcTable.merge pins its source against); also halves
    // the batch scans
    val fp = batch.withColumn("fingerprint", fingerprintOf(textCol))
      .localCheckpoint()
    // counting the pinned batch is free; a corpus-sized "batch" must
    // fail loudly BEFORE its fingerprint set broadcasts
    IndexMeta.requireBoundedBatch(fp.count(), maxBatchRows, "rows",
      "Dedup.exact")
    // in-batch winner per fingerprint (same min-id rule as [[exact]])
    val batchKeep = fp.groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("batch_keep"))
    // the min-per-fingerprint after the probe keeps the annotation 1:1
    // under racing appenders (commutative appends can land the same
    // novel fingerprint twice; the min-id rule — the same winner rule
    // [[exact]] uses — resolves deterministically), and
    // min-over-matched-rows equals min-before-join exactly
    val hist = IndexMeta.touched(indexDir, txn,
        batchKeep.select(col("fingerprint")),
        StructType(Seq(StructField("fingerprint", StringType),
          StructField("keep_id", batch.schema(idCol).dataType))),
        pin = false)(_.select(col("fingerprint"), col("keep_id")))
      .groupBy(col("fingerprint"))
      .agg(min(col("keep_id")).as("hist_keep"))
    val resolved = batchKeep.join(hist, Seq("fingerprint"), "left")
      .withColumn("keep_id",
        coalesce(col("hist_keep"), col("batch_keep")))
      .localCheckpoint() // pin: the index append below must not shift
                         // what the annotation join reads
    // novel fingerprints (no historical entry) enter the index with
    // the batch's winner; known ones are already represented
    CdcTable.append(
      resolved.filter(col("hist_keep").isNull)
        .select(col("fingerprint"), col("keep_id")),
      indexDir, txn = txn)
    fp.join(resolved.select(col("fingerprint"), col("keep_id")),
        Seq("fingerprint"))
      .withColumn("is_duplicate", col(idCol) =!= col("keep_id"))
  }

  /** Fold an incremental dedup index's accumulated append generations
    * into one compact file set (per-micro-batch appends leave one
    * small commit each; at one batch per second the log is 86k
    * commits/day and every probe scans 86k small files — compaction
    * is the index's OPTIMIZE). The fold preserves probe semantics
    * EXACTLY:
    *
    *   - exact index (fingerprint, keep_id): one row per fingerprint
    *     at its MIN keep_id — the very rule every read resolves by,
    *     so the winner a future batch sees never switches across the
    *     compaction, even over duplicate rows from racing appenders;
    *   - near index (doc_id, band_key, sig, bands): duplicate rows
    *     (replays, races) collapse via DISTINCT — the candidate and
    *     signature sets are set-semantics downstream anyway.
    *
    * One replace commit with optimistic concurrency: a batch landing
    * mid-compaction WINS — the fold re-reads the new snapshot and
    * retries (bounded), so running maintenance concurrently with a
    * live ingest stream is safe and never loses an append; superseded
    * files become vacuumable orphans
    * ([[graft.sink.CdcTable.vacuumOrphans]]). The index kind is
    * introspected from the stored schema; a VECTOR index (`bval`
    * column) routes to [[Similarity.compactIndex]], so this is the
    * single entry point for every incremental index
    * (`GRAFT COMPACT INDEX` calls it). */
  def compactIndex(spark: SparkSession, indexDir: String,
      retries: Int = 5): Unit = {
    import graft.sink.CdcTable
    val commits0 = CdcTable.log(indexDir)
    // a lexical index is a DIRECTORY of tables (postings + totals),
    // not a table itself — route by structure before requiring a log
    if (commits0.isEmpty &&
        CdcTable.log(s"$indexDir/postings").nonEmpty)
      return TextAnalysis.compactLexicalIndex(spark, indexDir, retries)
    require(commits0.nonEmpty, s"no index at $indexDir")
    val cols = commits0.last.schema.fieldNames.toSet
    if (cols.contains("bval")) // vector index: embedding-side fold
      return Similarity.compactIndex(spark, indexDir, retries)
    require(cols.contains("fingerprint") || cols.contains("band_key") ||
        cols.contains("nfp") || // winnowed-fp index folds by DISTINCT
        cols.contains("wid") || // dup-substring index folds by DISTINCT
        cols.contains("n_order") || // LM count table folds by SUM
        cols.contains("kmv_h") || // kmv sketch folds to k-min per group
        cols.contains("dtype"), // profile partials fold by merge
      s"$indexDir is not a dedup index (columns: ${cols.mkString(", ")})")
    IndexMeta.foldWithRetry(retries) { () =>
      val commits = CdcTable.log(indexDir)
      val folded =
        if (cols.contains("fingerprint"))
          CdcTable.read(spark, indexDir)
            .groupBy(col("fingerprint"))
            .agg(min(col("keep_id")).as("keep_id"))
        else if (cols.contains("n_order")) // additive counts: one row
          CdcTable.read(spark, indexDir)   // per gram after the fold;
            .groupBy(col("n_order"), col("gram")) // grams fully
            .agg(sum(col("cnt")).as("cnt"))       // retracted by CDF
            .filter(col("cnt") =!= 0L)            // partials drop out
        else if (cols.contains("kmv_h"))
          Sketch.foldKmv(spark, indexDir)
        // FILE-keyed profile partials must keep per-file granularity
        // (the manifest join is the read): fold = dedupe only —
        // partials are deterministic per (file, column), so DISTINCT
        // is exact over idempotent-sync duplicates
        else if (cols.contains("dtype") && cols.contains("file"))
          CdcTable.read(spark, indexDir).distinct()
        else if (cols.contains("dtype")) // batch profile partials:
          Profile.foldProfile(spark, indexDir) // one row per column
        else CdcTable.read(spark, indexDir).distinct()
      CdcTable.replaceWith(indexDir, folded,
        expectedLastCommit = Some(commits.last.commit))
      ()
    }
  }

  /** Remove every index entry OWNED by the given document ids — the
    * right-to-be-forgotten composition for the incremental similarity
    * indexes: `GRAFT DELETE`/`MERGE` remove rows from the CORPUS
    * table, but a kept-only index retains the deleted docs' entries,
    * so future copies of removed content are silently dropped as
    * duplicates of ABSENT docs (and [[readNearDupResult]] can emit a
    * deleted doc as `keep_id`). Retraction is a keyed rewrite
    * ([[graft.sink.CdcTable.deleteKeys]] — only files holding matched
    * keys rewrite, everything else carries by reference), with the
    * owning key introspected from the stored schema exactly like
    * [[compactIndex]]'s routing:
    *
    *   - band signature index (`band_key`):    doc_id ∈ ids
    *   - winnow fingerprint index (`nfp`):     doc_id ∈ ids
    *   - dup-substring window index (`wid`):   doc_id ∈ ids
    *   - vector index (`bval`):                id ∈ ids
    *   - SemDeDup exemplar index (`cid`):      id ∈ ids
    *   - exact fingerprint index (`keep_id`):  keep_id ∈ ids
    *   - lexical index (postings/ + totals/ directory): routes to
    *     [[TextAnalysis.retractLexicalIndex]] — posting delete on
    *     `id` plus an additive totals delta, so BM25 probes stop
    *     serving the deleted ids AND their stale df/avgdl
    *
    * Unsubtractable kinds (profile partials, LM count tables, KMV
    * sketches) reject loudly — recreate those from the table's
    * current state (the profileSync contract).
    *
    * CONTRACT: pass ids that are REMOVED FROM THE CORPUS. For the
    * exact index the row is owned by its KEEPER: retracting a keeper
    * whose duplicate copies survive in the corpus would re-open that
    * content's dedup (the index deliberately stores no other copy) —
    * pass `reelectFrom = Some((corpus, idCol, textCol))` with the
    * table's CURRENT (post-delete) state and every such fingerprint
    * re-elects its MIN surviving corpus id as keeper in the same
    * maintenance pass: future copies of still-present content keep
    * deduping, against a keeper that actually exists. The re-election
    * scan is one corpus pass restricted (broadcast semi) to the
    * retracted keepers' fingerprints — bounded by retraction size,
    * never all-pairs. Only the exact kind takes the parameter (the
    * per-doc kinds store every doc's own rows; nothing re-elects).
    *
    * Single-writer maintenance, like every index rewrite. Returns
    * the number of index rows removed. */
  def retractIndex(spark: SparkSession, indexDir: String,
      ids: DataFrame,
      reelectFrom: Option[(DataFrame, String, String)] = None): Long = {
    import graft.sink.CdcTable
    val commits = CdcTable.log(indexDir)
    // a lexical index is a DIRECTORY of tables (postings + totals),
    // not a table itself — route by structure, like compactIndex
    if (commits.isEmpty &&
        CdcTable.log(s"$indexDir/postings").nonEmpty)
      return TextAnalysis.retractLexicalIndex(spark, indexDir, ids)
    require(commits.nonEmpty, s"no index at $indexDir")
    require(ids.columns.length == 1,
      s"retractIndex takes a single-column id frame, got " +
        s"(${ids.columns.mkString(", ")})")
    val cols = commits.last.schema.fieldNames.toSet
    if (cols.contains("tok") && cols.contains("tf"))
      throw new IllegalArgumentException(
        s"$indexDir is a lexical POSTINGS table — pass the lexical " +
          "index ROOT (the directory holding postings/ and totals/) " +
          "so the corpus totals adjust with the posting delete")
    val keyCol =
      if (cols.contains("band_key") || cols.contains("nfp") ||
          cols.contains("wid")) "doc_id"
      else if (cols.contains("bval") || cols.contains("cid")) "id"
      else if (cols.contains("fingerprint")) "keep_id"
      else throw new IllegalArgumentException(
        s"index at $indexDir (columns: ${cols.mkString(", ")}) has no " +
          "per-document entries to retract — profile partials, LM " +
          "counts and KMV sketches are not subtractable; recreate " +
          "that index from the table's current state")
    // cast to the stored key type so SQL-sourced string literals
    // match integral doc ids — and FAIL LOUDLY when a non-null input
    // id refuses the cast (e.g. a UUID string against a long-keyed
    // index): a silently-null key matches nothing, and a compliance
    // delete that no-ops for some ids is worse than an error
    val dt = commits.last.schema(keyCol).dataType
    val keyed = ids.select(col(s"`${ids.columns(0)}`").as("_raw"))
      .withColumn(keyCol, expr(s"try_cast(_raw AS ${dt.sql})"))
      .localCheckpoint()
    val bad = keyed
      .filter(col("_raw").isNotNull && col(keyCol).isNull)
      .limit(3).collect()
    require(bad.isEmpty,
      s"retractIndex: id(s) ${bad.map(_.get(0)).mkString(", ")} do " +
        s"not cast to the index key type ${dt.sql} — refusing a " +
        "retraction that would silently skip them")
    require(reelectFrom.isEmpty || keyCol == "keep_id",
      s"reelectFrom only applies to the exact fingerprint index — " +
        s"the index at $indexDir stores every document's own rows, " +
        "so retraction needs no re-election")
    // keeper re-election (exact kind): fingerprints whose keeper is
    // retracted but whose CONTENT survives in the corpus re-elect the
    // min surviving id — computed and PINNED before the delete
    // commits, appended after it. One corpus scan, semi-restricted to
    // the retracted keepers' fingerprints (bounded by retraction
    // size); retracted ids are excluded defensively in case the
    // caller's corpus handle still carries them.
    val reelect = reelectFrom.map { case (corpus, cid, ctext) =>
      val gone = CdcTable.read(spark, indexDir)
        .join(keyed.select(col(s"`$keyCol`")), Seq(keyCol), "left_semi")
        .select(col("fingerprint")).distinct()
      corpus.select(col(s"`$cid`").cast(dt).as("keep_id"),
          fingerprintOf(ctext).as("fingerprint"))
        .join(broadcast(gone), Seq("fingerprint"))
        .join(keyed.select(col(s"`$keyCol`")), Seq(keyCol), "left_anti")
        .groupBy(col("fingerprint"))
        .agg(min(col("keep_id")).as("keep_id"))
        .select(col("fingerprint"), col("keep_id"))
        .localCheckpoint()
    }
    val removed = CdcTable.deleteKeys(spark, indexDir,
      keyed.select(col(s"`$keyCol`")),
      Seq(keyCol), partitionBy = Nil).rowsDeleted
    reelect.foreach { r =>
      if (!r.isEmpty) { CdcTable.append(r, indexDir, partitionBy = Nil); () }
    }
    removed
  }

  /** Retract documents from a MATERIALIZED near-dup result
    * ([[writeNearDupResult]]/[[appendNearDupResult]] artifact): the
    * signature index drops their band rows ([[retractIndex]] — future
    * copies of the removed content are novel again), stored pairs
    * touching them drop (two keyed rewrites), and the components
    * labeling rebuilds from the REMAINING pairs — edge removal can
    * SPLIT a component, so affected labels cannot be patched in
    * place; the pair-table replace commits make the next
    * [[syncComponents]] take its full-rebuild path by construction.
    * Idempotent: re-running after a crash heals any partial step.
    * After retraction no consumer (decisions, canonical selection,
    * positive pairs) can reference a retracted id. */
  def retractNearDupResult(spark: SparkSession, dir: String,
      ids: DataFrame): Unit = {
    import graft.sink.CdcTable
    retractIndex(spark, s"$dir/index", ids)
    val one = ids.select(col(s"`${ids.columns(0)}`"))
    CdcTable.deleteKeys(spark, s"$dir/pairs",
      one.select(col(one.columns(0)).as("a_id")), Seq("a_id"),
      partitionBy = Nil)
    CdcTable.deleteKeys(spark, s"$dir/pairs",
      one.select(col(one.columns(0)).as("b_id")), Seq("b_id"),
      partitionBy = Nil)
    syncComponents(spark, dir)
    ()
  }

  /** OFFLINE re-band migration for the near-dup signature index: the
    * band layout (`band_key` strings) is frozen at creation, but the
    * full 16-row MinHash signature is stored per row — so an index
    * can be migrated to a different band count by recomputing the
    * band rows from the signatures, without ever touching document
    * text. One pass: fold to one signature per doc, re-band, replace
    * the index atomically, update the sidecar.
    *
    * SINGLE-WRITER MAINTENANCE: quiesce incremental writers first. An
    * appender that read the OLD band count mid-migration would append
    * old-layout rows after the replace (its sidecar check happened at
    * its call start); the optimistic-concurrency replace catches
    * appends landing BEFORE it, not after. Same operational class as
    * any offline index rebuild. */
  def rebandIndex(spark: SparkSession, indexDir: String,
      newBands: Int): Unit = {
    import graft.sink.CdcTable
    require(newBands >= 1 && 16 % newBands == 0,
      s"bands must divide the 16-row MinHash signature, got $newBands")
    val commits = CdcTable.log(indexDir)
    require(commits.nonEmpty, s"no index at $indexDir")
    require(commits.last.schema.fieldNames.contains("band_key"),
      s"$indexDir is not a near-dup signature index")
    val snap = commits.last.commit
    // one signature per doc (band copies carry identical sigs)
    val sigs = CdcTable.read(spark, indexDir)
      .select(col("doc_id"), col("sig"))
      .dropDuplicates("doc_id")
    val rebanded = bandRows(sigs, "doc_id", newBands, carrySig = true)
      .withColumn("bands", lit(newBands))
    CdcTable.replaceWith(indexDir, rebanded,
      expectedLastCommit = Some(snap))
    IndexMeta.overwrite(indexDir, Map("bands" -> newBands))
  }

  /** Streaming corpus-scale exact dedup: every micro-batch dedups
    * against the fingerprint index of EVERYTHING already ingested —
    * unbounded lookback with ZERO stream state (contrast
    * [[graft.streaming.StreamOps.dedupeStream]], whose state-store
    * dedup window is watermark-bounded). The index lives on disk as a
    * graft table, so 100 TB of history costs one key join per batch,
    * never executor state. Novel docs append to `outDir` (also a
    * graft table); duplicates are dropped.
    *
    * Exactly-once across restarts: the index append (inside
    * [[exactIncremental]]) and the output append carry the SAME
    * batch-id txn marker under per-role app ids, so a batch replayed
    * from the checkpoint re-annotates identically (its fingerprints
    * are already in the index with the same winners — see the
    * [[exactIncremental]] replay analysis) and both appends no-op. */
  def dedupStreamToTable(stream: DataFrame, textCol: String,
      idCol: String, indexDir: String, outDir: String,
      checkpointDir: String, appId: String = "graft-dedup",
      maxBatchRows: Long = Similarity.MaxIncrementalBatchRows)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val annotated = exactIncremental(batch, textCol, idCol,
          indexDir, txn = Some((s"$appId-idx", id)),
          maxBatchRows = maxBatchRows)
        graft.sink.CdcTable.append(
          annotated.filter(!col("is_duplicate"))
            .drop("fingerprint", "keep_id", "is_duplicate"),
          outDir, txn = Some((s"$appId-out", id)))
        ()
      }
      .start()

  /** Streaming NEAR-dup-to-table: the fuzzy analog of
    * [[dedupStreamToTable]] — every micro-batch LSH-matches against
    * the signature index ([[nearIncremental]]); batch docs whose
    * signature-estimated jaccard against ANY earlier doc reaches
    * `threshold` are dropped. The kept-only, first-seen-wins,
    * exactly-once contract is [[IndexMeta.keptOnlyStream]]'s; the
    * first-seen winner is the same rule [[near]]'s
    * connected-components resolution applies per cluster.
    *
    * Kept-only indexing means a boilerplate page duplicated millions
    * of times costs one index entry, and each new copy joins one band
    * bucket — the mass-dup k² blowup cannot happen. (Tradeoff: a doc
    * similar only to a DROPPED near-dup, not to its kept survivor, is
    * missed — chain transitivity degrades one hop, exactly as
    * [[near]]'s per-cluster single-survivor resolution.)
    *
    * This path runs UNCAPPED (`maxBandDocFreq = Some(Int.MaxValue)`):
    * the auto √n hot-bucket cap exists for [[nearIncremental]], whose
    * index stores EVERY doc and so can accumulate unbounded bucket
    * occupancy. Here kept-only indexing bounds occupancy structurally
    * (one index entry per distinct page), and the cap would be
    * actively wrong: a micro-batch carrying more copies of one page
    * than the cap would make all its buckets hot, suppress every
    * dup pair, KEEP every copy, and append them all to the index —
    * permanently over-cap, so that page would never dedup again. The
    * residual quadratic term is within-batch only (k copies in ONE
    * micro-batch pair k²/bands before the keep-first collapse),
    * bounded by `maxBatchRows` and paid once — the k copies collapse
    * to one index entry for every later batch. */
  def nearDedupStreamToTable(stream: DataFrame, textCol: String,
      idCol: String, indexDir: String, outDir: String,
      checkpointDir: String, threshold: Double = 0.8, bands: Int = 4,
      appId: String = "graft-neardedup",
      maxBatchRows: Long = Similarity.MaxIncrementalBatchRows)
      : org.apache.spark.sql.streaming.StreamingQuery =
    IndexMeta.keptOnlyStream(stream, idCol, indexDir, "doc_id", outDir,
        checkpointDir, appId) { (batch, txn) =>
      val r = nearIncrementalCore(batch, textCol, idCol, indexDir,
        bands, maxBandDocFreq = Some(Int.MaxValue),
        maxBatchRows = maxBatchRows, txn = txn)
      (r.pairs.filter(col("est_jaccard") >= threshold).select(col("b_id")),
        r.batchBands)
    }

  /** INCREMENTAL near-dup — MinHash+LSH against a SIGNATURE index of
    * everything already ingested, the near-dup analog of
    * [[exactIncremental]]. The index (a graft table) carries `bands`
    * band rows per doc, each with the 16-row signature (~0.5 KB/doc)
    * — the historical TEXT is never stored or re-read, which is the
    * point at 100 TB. Candidates are blocked by shared band buckets
    * exactly as [[near]]; verification is the SIGNATURE-ESTIMATED
    * Jaccard (matching fraction of the 16 minhash rows — the standard
    * streaming tradeoff vs [[near]]'s exact shingle-set Jaccard,
    * unbiased with stderr ≈ sqrt(J(1−J)/16)).
    *
    * Returns pairs (a_id < b_id, n_shared_bands, est_jaccard) where
    * at least one side is in `batch`. Replay-safe via `txn`: a
    * replayed batch's own index rows are already present, and the
    * (a, b, band_key)-distinct collapse makes the annotation
    * identical; the re-append no-ops on the txn marker.
    *
    * Assumes BOUNDED batches: the batch's distinct band keys
    * broadcast so the index never shuffles ([[near]] is the
    * corpus-sized batch-global alternative). Enforced — a batch over
    * `maxBatchRows` documents fails loudly before any broadcast.
    *
    * `maxBandDocFreq`: the hot-bucket guard at scale (the q59-style
    * df cap). A band bucket shared by k docs yields k candidate rows
    * PER NEW COPY; mass-duplicated boilerplate makes k explode.
    * Buckets whose total occupancy (index + batch) exceeds the cap
    * are excluded from candidate generation — a pair is missed only
    * if ALL its shared bands are ubiquitous. `None` (the default)
    * DERIVES the cap from the index's manifest row counts —
    * [[autoBandDocFreq]], `max(64, ceil(sqrt(nDocs)))`, the same
    * zero-data-IO, replay-stable derivation the vector index uses
    * for its probe width (this txn's own commit is excluded, so a
    * crash-replay derives the identical cap): any cluster smaller
    * than √n stays fully paired while per-bucket candidate volume is
    * bounded at O(√n) per new copy. Pass `Some(cap)` to pin it, or
    * `Some(Int.MaxValue)` for the uncapped pre-r9 behavior. For the
    * dedup-at-ingest use case prefer [[nearDedupStreamToTable]],
    * whose kept-only indexing bounds bucket occupancy structurally. */
  def nearIncremental(batch: DataFrame, textCol: String, idCol: String,
      indexDir: String, bands: Int = 4,
      txn: Option[(String, Long)] = None,
      maxBandDocFreq: Option[Int] = None,
      maxBatchRows: Long = Similarity.MaxIncrementalBatchRows)
      : DataFrame = {
    val r = nearIncrementalCore(batch, textCol, idCol, indexDir, bands,
      maxBandDocFreq, maxBatchRows, txn)
    graft.sink.CdcTable.append(r.batchBands, indexDir, txn = txn)
    r.pairs
  }

  /** Auto hot-bucket cap for an index of `nDocs` bandable documents:
    * `max(64, ceil(sqrt(nDocs)))`. The √n shape bounds worst-case
    * candidate volume per new copy at O(√n) (so a whole batch stays
    * subquadratic in the corpus) while the exclusion threshold GROWS
    * with the corpus — a duplicate cluster is only suppressed once it
    * is larger than √n, at which point it is boilerplate with
    * near-certainty, not signal. The 64 floor keeps small corpora
    * (where everything fits comfortably) entirely uncapped. Mirrored
    * by the q82 oracle in SQL — keep the two in sync. */
  private[graft] def autoBandDocFreq(nDocs: Long): Int = {
    val cap = math.max(64L,
      math.ceil(math.sqrt(math.max(nDocs, 0L).toDouble)).toLong)
    math.min(cap, Int.MaxValue.toLong).toInt
  }

  /** Hot-bucket exclusion for a banded probe: the `band_key` buckets
    * whose occupancy over `all` (probed index ∪ batch; one row per doc
    * per band, so rows = docs) exceeds `cap` leave both candidate legs.
    * Combinable count, tiny broadcast anti-joins; `Int.MaxValue` skips
    * the pass outright. */
  private[graft] def excludeHotBuckets(batchBands: DataFrame,
      all: DataFrame, cap: Int): (DataFrame, DataFrame) =
    if (cap == Int.MaxValue) (batchBands, all)
    else {
      val hot = all.groupBy(col("band_key"))
        .agg(count(lit(1)).as("n")).filter(col("n") > cap)
        .select(col("band_key"))
      (batchBands.join(broadcast(hot), Seq("band_key"), "left_anti"),
        all.join(broadcast(hot), Seq("band_key"), "left_anti"))
    }

  private[graft] final case class NearIncr(pairs: DataFrame,
      batchBands: DataFrame)

  /** Pair computation WITHOUT the index append — the caller decides
    * what enters the index (everything for [[nearIncremental]], kept
    * docs only for [[nearDedupStreamToTable]]). `pairs` is pinned to
    * the pre-call index snapshot, so appends after the call cannot
    * shift it. */
  private[graft] def nearIncrementalCore(batch: DataFrame,
      textCol: String, idCol: String, indexDir: String, bands: Int,
      maxBandDocFreq: Option[Int], maxBatchRows: Long,
      txn: Option[(String, Long)] = None): NearIncr = {
    import graft.sink.CdcTable
    val spark = batch.sparkSession
    require(spark.catalog.functionExists("minhash_sig"),
      "Dedup.nearIncremental requires GraftExtensions")
    require(bands >= 1 && 16 % bands == 0,
      s"bands must divide the 16-row MinHash signature, got $bands")
    // band_key layout is only meaningful under the band count that
    // built it — a caller re-banding an existing index would silently
    // block near-nothing. The race-free sidecar pins the layout at
    // creation (two racing first writers cannot seed different band
    // counts); the `bands` column on each row stays for observability.
    val storedBands = IndexMeta.ensureInt(indexDir, "bands", bands)
    require(storedBands == bands,
      s"index at $indexDir was built with bands=$storedBands but this " +
        s"call uses bands=$bands — stored band keys would never " +
        "match; rebuild the index or pass the original band count")
    // short docs (<3 tokens → empty signature) are not bandable; same
    // rule as [[near]], and the index never sees them
    val batchBands = bandRows(
      batch.select(col(idCol).as("doc_id"), col(textCol).as("text"))
        .withColumn("sids", expr("shingle_ids(text)"))
        .filter(size(col("sids")) > 0)
        .withColumn("sig", expr("minhash_sig(sids)")),
      "doc_id", bands, carrySig = true)
      .withColumn("bands", lit(bands))
      .localCheckpoint() // pin: feeds the candidate join AND the
                         // index append; must not recompute after it
    // each bandable doc emits exactly `bands` rows, so the pinned
    // frame counts the batch for free; a corpus-sized "batch" must
    // fail loudly BEFORE its band keys broadcast
    val nDocs = batchBands.count() / bands
    IndexMeta.requireBoundedBatch(nDocs, maxBatchRows,
      "bandable documents", "Dedup.near")
    // THE INDEX NEVER SHUFFLES: only rows in buckets the batch touches
    // survive, and EVERY index row of a touched bucket does, so
    // downstream candidate generation, the maxBandDocFreq occupancy
    // counts, and the sig lookups (every pair member shares a bucket
    // with the batch by construction) are all complete — and all
    // bounded by touched-bucket volume instead of index size. Own-txn
    // exclusion keeps a crash replay's exact bucket-occupancy counts
    // (and thus a finite/auto cap) bit-identical to the fresh run's.
    // Pinned: the probed subset feeds the hot-bucket occupancy count,
    // the candidate join AND the sig lookup — unpinned, the index scan
    // + semi-probe (and its generation-grouped read plan) would run up
    // to three times per batch.
    val hist = IndexMeta.touched(indexDir, txn,
        batchBands.select(col("band_key")), batchBands.schema, pin = true)(
      _.select(col("doc_id"), col("band_key"), col("sig"), col("bands")))
    val all = hist.unionByName(batchBands)
    // hot-bucket exclusion: combinable count, tiny broadcast anti-join
    // on both join legs (candidate generation only — sigs unaffected).
    // The cap is explicit or manifest-derived (autoBandDocFreq over
    // indexed docs + this batch — frows metadata, zero data IO; the
    // occupancy itself is EXACT, computed over the touched buckets the
    // probe already holds). Occupancy counts band ROWS per bucket =
    // docs per bucket (one row per doc per band).
    val cap = maxBandDocFreq.getOrElse(autoBandDocFreq(
      CdcTable.rowCountEstimate(indexDir, txn) / bands
        + nDocs))
    val (lSide, rSide) = excludeHotBuckets(batchBands, all, cap)
    val cand = lSide.select(col("doc_id").as("l_id"), col("band_key"))
      .join(rSide.select(col("doc_id").as("r_id"), col("band_key")),
        Seq("band_key"))
      .filter(col("l_id") =!= col("r_id"))
      .select(least(col("l_id"), col("r_id")).as("a_id"),
        greatest(col("l_id"), col("r_id")).as("b_id"), col("band_key"))
      .distinct() // collapses the two orientations of batch-batch
                  // pairs and any replayed index rows
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared_bands"))
    val sigs = all.select(col("doc_id"), col("sig"))
      .dropDuplicates("doc_id") // bands copies carry identical sigs
    val pairs = cand
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("sa")),
        Seq("a_id"))
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sb")),
        Seq("b_id"))
      .withColumn("est_jaccard", expr(
        "cast(size(filter(zip_with(sa, sb, (x, y) -> x = y), v -> v)) " +
          "as double) / 16"))
      .select(col("a_id"), col("b_id"), col("n_shared_bands"),
        col("est_jaccard"))
    NearIncr(pairs, batchBands)
  }

  /** ONE row per (doc, band) with the band's signature slice folded
    * into a string key — the single source of truth for the banding
    * layout, shared by the batch-global [[near]] and the incremental
    * [[nearIncremental]] (whose DuckDB oracle mirrors it; diverging
    * layouts would silently block different pairs). `df` must carry
    * `idCol` + `sig`. */
  private def bandRows(df: DataFrame, idCol: String, bands: Int,
      carrySig: Boolean): DataFrame = {
    val rowsPerBand = 16 / bands
    val keyed = df
      .select(col(idCol),
        explode(expr(s"sequence(0, ${bands - 1})")).as("band"),
        col("sig"))
      .select(col(idCol), concat_ws(":", col("band") +:
        (0 until rowsPerBand).map(r =>
          expr(s"sig[$rowsPerBand * band + $r]")): _*).as("band_key"),
        col("sig"))
    if (carrySig) keyed else keyed.drop("sig")
  }

  final case class NearDupResult(
      pairs: DataFrame,      // (a_id, b_id, <score>) verified pairs
      components: DataFrame, // (id, component) for every duplicate doc
      decisions: DataFrame)  // (id, keep_id, is_duplicate) whole corpus

  /** Near-dup detection + cluster resolution. */
  def near(df: DataFrame, textCol: String, idCol: String,
      jaccardThreshold: Double = 0.8, bands: Int = 4): NearDupResult = {
    val spark = df.sparkSession
    require(spark.catalog.functionExists("minhash_sig"),
      "Dedup.near requires GraftExtensions (spark.sql.extensions)")
    // bands must tile the 16-row signature exactly: bands > 16 would
    // make rowsPerBand 0 (band_key = band index → every doc pairs with
    // every other, O(n²)); a non-divisor would silently ignore the
    // trailing signature rows, inflating collision probability.
    require(bands >= 1 && 16 % bands == 0,
      s"bands must divide the 16-row MinHash signature, got $bands")
    // the staged frame feeds banding AND both verification join sides;
    // persist spill-to-disk instead of re-hashing shingles per branch
    val base = df.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("sids", expr("shingle_ids(text)"))
      .withColumn("m", size(col("sids")))
      .withColumn("sig", expr("minhash_sig(sids)"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Docs too short to shingle (<3 tokens) have empty signatures —
    // concat_ws drops the nulls, so they would all collapse into one
    // shared bucket and explode the candidate space on short-doc
    // corpora. They cannot be near-dup candidates; skip banding them.
    val bandable = base.filter(size(col("sids")) > 0)

    // LSH banding: same band vector → candidate bucket
    val cand = bucketPairs(
      bandRows(bandable, "id", bands, carrySig = false), Seq("band_key"))

    // verify candidates with true Jaccard over the shingle-id sets
    val sets = base.select(col("id"), col("sids"), col("m"))
    val verifiedPlan = cand
      .join(sets.select(col("id").as("a_id"), col("sids").as("sa"),
        col("m").as("ma")), Seq("a_id"))
      .join(sets.select(col("id").as("b_id"), col("sids").as("sb"),
        col("m").as("mb")), Seq("b_id"))
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("ma") + col("mb") - col("inter")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
    // Materialize the (small) verified-pair set eagerly so the staged
    // frame unpersists HERE: a lazily returned plan over `base` would
    // pin the cache entry forever (the CacheManager holds it — cached
    // frames are not GC'd), leaking storage across repeated calls.
    val verified =
      try verifiedPlan.localCheckpoint()
      finally { base.unpersist(); () }

    val components = connectedComponents(spark, verified)
    val decisions = df.select(col(idCol).as("id"))
      .join(components, Seq("id"), "left")
      .withColumn("keep_id", coalesce(col("component"), col("id")))
      .withColumn("is_duplicate", col("id") =!= col("keep_id"))
      .select(col("id"), col("keep_id"), col("is_duplicate"))
    NearDupResult(verified, components, decisions)
  }

  /** Canonical-representative selection over near-dup clusters: where
    * [[NearDupResult.decisions]] keeps the LOWEST-id member (the right
    * default for reproducibility), real curation pipelines keep the
    * highest-QUALITY member — the longest / cleanest copy of a page,
    * not whichever crawl happened to get the smallest id. Given the
    * `components` labeling and any per-doc quality frame, returns one
    * row per multi-member cluster:
    * (cluster_id, kept_id, n_members, total_quality), where `kept_id`
    * maximizes `qualityCol` (ties to the smallest id, so selection is
    * total and deterministic).
    *
    * Scale shape: `components` already carries one row per cluster
    * member INCLUDING the root ([[connectedComponents]] unions the
    * star-forest arc heads back in), so membership needs no repair.
    * One join to the quality frame and one window + aggregation both
    * keyed on the cluster label (the window's hash partitioning is
    * reused by the groupBy — one shuffle, not two). Everything is
    * proportional to the DUPLICATE subset, never the corpus. */
  def canonicalByQuality(res: NearDupResult, quality: DataFrame,
      idCol: String, qualityCol: String): DataFrame = {
    val members = res.components.select(col("id"), col("component"))
    val q = quality.select(col(idCol).as("id"),
      col(qualityCol).cast("long").as("q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("q").desc, col("id").asc)
    members.join(q, Seq("id"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("component"))
      .agg(max(when(col("rn") === 1, col("id"))).as("kept_id"),
        count(lit(1)).as("n_members"),
        sum(col("q")).as("total_quality"))
      .select(col("component").as("cluster_id"), col("kept_id"),
        col("n_members"), col("total_quality"))
  }

  /** N-gram (word-3-gram) Jaccard near-dup pairs, optionally blocked
    * by `blockCol`: explode distinct shingles, equi-join on
    * (block, shingle) — one shuffle — then verify the EXACT Jaccard on
    * the full shingle sets.
    *
    * `maxShingleDocFreq` is the hot-key guard at scale: a stopword
    * shingle shared by k documents alone creates k² candidate pairs
    * (the q33 skew hazard), so shingles whose within-block document
    * frequency exceeds the cap are dropped from CANDIDATE GENERATION
    * only. Verification still uses the complete sets, so every
    * surviving pair carries its exact Jaccard — a pair is missed only
    * if ALL its shared shingles are ubiquitous, which is precisely the
    * non-discriminative case the cap exists to prune. */
  /** EXACT candidate pairs (a_id < b_id) over ids sharing a bucket
    * key (`df` must carry an `id` column plus `keyCols`). Buckets at
    * or below `localExpandMax` members expand GROUP-LOCALLY from ONE
    * collect_set shuffle (replacing a self-join that shuffles the
    * same frame twice — the q59 2.5× win at 100×); larger buckets
    * (mass-duplicate pathologies whose posting lists must never
    * collect into a single task) stream through a self-join
    * restricted to exactly those keys, found by a cheap combinable
    * count + broadcast. The union is the exact pair set either way.
    *
    * `knownBounded = true` asserts the CALLER already bounds bucket
    * size at or below `localExpandMax` (e.g. the jaccard df cap has
    * pruned hot shingles) — the big-bucket detection pass and its
    * join legs are skipped entirely, leaving the pure single-shuffle
    * group-local plan. */
  private[graft] def bucketPairs(df: DataFrame, keyCols: Seq[String],
      localExpandMax: Int = 1024,
      knownBounded: Boolean = false): DataFrame = {
    val keys = keyCols.map(col)
    def localPairs(in: DataFrame): DataFrame = in
      .groupBy(keys: _*)
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ids) - 1), i ->
          |  transform(slice(ids, i + 1, size(ids) - i), y ->
          |    named_struct('a_id', element_at(ids, i),
          |                 'b_id', y))))""".stripMargin)).as("p"))
      .select(col("p.a_id"), col("p.b_id"))
    if (knownBounded) return localPairs(df).distinct()
    val big = df.groupBy(keys: _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > localExpandMax)
      .select(keyCols.map(k => col(k).as(s"__big_$k")): _*)
    // NULL-SAFE split: groupBy treats a null key as a bucket, so the
    // detection sees it — but a plain column-name join would never
    // match it and a huge null-keyed bucket would slip into the
    // collect leg; <=> keeps both legs consistent on nulls
    val splitCond = keyCols
      .map(k => col(k) <=> col(s"__big_$k")).reduce(_ && _)
    val smallPairs =
      localPairs(df.join(broadcast(big), splitCond, "left_anti"))
    val bigRows = df.join(broadcast(big), splitCond, "left_semi")
    val a = bigRows.select(keys :+ col("id").as("a_id"): _*)
    val b = bigRows.select(
      keyCols.map(k => col(k).as(s"__b_$k")) :+ col("id").as("b_id"): _*)
    val bigPairs = a.join(b,
        keyCols.map(k => col(k) <=> col(s"__b_$k")).reduce(_ && _) &&
          col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    smallPairs.unionByName(bigPairs).distinct()
  }

  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5, blockCol: Option[String] = None,
      maxShingleDocFreq: Option[Long] = Some(1000L)): DataFrame = {
    require(df.sparkSession.catalog.functionExists("shingle_ids"),
      "ngramJaccardPairs requires GraftExtensions (spark.sql.extensions)")
    val block = blockCol.map(col).getOrElse(lit(0))
    ngramJaccardPairsFromSids(
      df.select(col(idCol).as("id"), block.as("blk"),
        expr(s"shingle_ids(`$textCol`)").as("sids")),
      threshold, maxShingleDocFreq)
  }

  /** Same, over a pre-staged (id, blk, sids) frame — lets callers
    * supply their own shingle pipeline (native expression or built-in
    * composition). The staged frame feeds THREE plan branches (the
    * candidate explode and both sides of the verification join).
    *
    * `materialize = true` (default) persists the staged frame and
    * eagerly checkpoints the result so the cache releases before
    * returning. Measured at sf0.1: the persist EARNS its cost even
    * with the cheap native shingle expression (2.2 s vs 2.9 s without
    * — three branches re-scan the staged frame), so the default stays
    * on; `false` exists for memory-constrained callers that prefer
    * recompute over cache pressure. */
  def ngramJaccardPairsFromSids(staged: DataFrame, threshold: Double,
      maxShingleDocFreq: Option[Long],
      materialize: Boolean = true): DataFrame =
    scoredShinglePairs(staged, maxShingleDocFreq, materialize)(
      _.filter(col("jaccard") >= threshold)
        .select(col("a_id"), col("b_id"), col("inter"),
          col("union_size"), col("jaccard")))

  /** CONTAINMENT variant of [[ngramJaccardPairsFromSids]] — the
    * asymmetric near-dup relation Jaccard misses: |A∩B| / min(|A|,|B|)
    * ≥ threshold catches a short document mostly CONTAINED in a long
    * one (excerpts, quotes, article-plus-comments wrappers) whose
    * Jaccard is diluted by the long side's extra content. Same
    * df-capped candidate machinery and verification joins; only the
    * score differs. */
  def ngramContainmentPairsFromSids(staged: DataFrame, threshold: Double,
      maxShingleDocFreq: Option[Long],
      materialize: Boolean = true): DataFrame =
    scoredShinglePairs(staged, maxShingleDocFreq, materialize)(
      _.filter(col("containment") >= threshold)
        .select(col("a_id"), col("b_id"), col("inter"),
          col("ma"), col("mb"), col("containment")))

  private def scoredShinglePairs(staged: DataFrame,
      maxShingleDocFreq: Option[Long], materialize: Boolean)(
      finish: DataFrame => DataFrame): DataFrame = {
    val plain = staged.select(col("id"), col("blk"), col("sids"))
      .withColumn("m", size(col("sids")))
      .filter(col("m") > 0)
    val base =
      if (materialize)
        plain.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else plain
    val ex = base.select(col("id"), col("blk"),
      explode(col("sids")).as("sh"))
    val kept = maxShingleDocFreq match {
      case Some(cap) =>
        // the hot list is tiny (only ubiquitous shingles) → broadcast
        // anti join, no extra wide shuffle on the big side. NULL-SAFE
        // on the block key: a null block is a real block (unblocked
        // callers pass lit(0), but a null-bearing blockCol must not
        // let its hot shingles dodge the cap — that would void the
        // bounded-bucket guarantee bucketPairs relies on)
        val hot = ex.groupBy(col("blk"), col("sh"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > cap)
          .select(col("blk").as("__hot_blk"), col("sh").as("__hot_sh"))
        ex.join(broadcast(hot),
          col("blk") <=> col("__hot_blk") &&
            col("sh") <=> col("__hot_sh"), "left_anti")
      case None => ex
    }
    // the df cap already bounds every surviving bucket, so the
    // big-bucket split pass is provably dead weight when the cap is
    // within the local-expansion bound (same constant on both sides
    // so the invariant cannot drift)
    val localMax = 1024
    val cand = bucketPairs(kept, Seq("blk", "sh"),
      localExpandMax = localMax,
      knownBounded = maxShingleDocFreq.exists(_ <= localMax))
    val sets = base.select(col("id"), col("sids"), col("m"))
    val result = finish(cand
      .join(sets.select(col("id").as("a_id"), col("sids").as("sa"),
        col("m").as("ma")), Seq("a_id"))
      .join(sets.select(col("id").as("b_id"), col("sids").as("sb"),
        col("m").as("mb")), Seq("b_id"))
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("union_size", col("ma") + col("mb") - col("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / col("union_size"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("ma"), col("mb"))))
    // eager materialization so the staged cache is released before
    // returning (see Dedup.near) — repeated calls must not accumulate
    // CacheManager entries
    if (!materialize) result
    else
      try result.localCheckpoint()
      finally { base.unpersist(); () }
  }

  /** Span-level boilerplate dedup stats — the CCNet/RefinedWeb
    * repeated-line rule adapted to whitespace corpora: the document is
    * cut into NON-overlapping `width`-token spans, and a span occurring
    * in ≥ `minDocs` distinct documents is boilerplate (navigation
    * chrome, license headers, templated footers). Returns one row per
    * document: (id, n_segments, n_boiler, keep_ratio) — the fraction a
    * span-dedup pass would keep.
    *
    * Scale shape: spans shuffle as 56-bit md5-prefix ids, never
    * strings — the explode happens in the scan stage, the
    * document-frequency count is one hash shuffle on the span id
    * (map-side combinable after the per-doc `distinct`), and the
    * boilerplate set flows back through a span-id-keyed LEFT SEMI join
    * (df-capped small in real corpora — AQE broadcasts it). The corpus
    * itself is never re-shuffled; a 100 TB corpus pays one narrow
    * (id, sid) exchange. */
  def spanStats(df: DataFrame, textCol: String, idCol: String,
      width: Int = 3, minDocs: Int = 3): DataFrame = {
    require(width >= 1 && minDocs >= 2,
      s"need width >= 1 and minDocs >= 2, got $width/$minDocs")
    // 56-bit span id from the md5 hex prefix: engine-portable (the
    // DuckDB oracle derives the identical id) and narrow on the wire
    val segsE =
      s"""CASE WHEN size(toks) >= $width THEN transform(
         |  sequence(0, CAST(floor(size(toks) / $width) AS INT) - 1),
         |  i -> CAST(conv(substring(md5(concat_ws(' ',
         |         slice(toks, i * $width + 1, $width))), 1, 14), 16, 10)
         |       AS BIGINT))
         |ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin
    // three plan branches read the hashed spans (df count, per-doc
    // count, final join) — persist so tokenize+md5 runs once, and
    // materialize the (narrow, one-row-per-doc) result eagerly so the
    // cache releases before returning (the Dedup.near pattern)
    val base = df
      .select(col(idCol).as("id"),
        split(trim(coalesce(col(textCol), lit(""))), "\\s+")
          .as("toks"))
      .select(col("id"), expr(segsE).as("sids"))
      .withColumn("n_segments", size(col("sids")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = base.select(col("id"), explode(col("sids")).as("sid"))
    // document frequency per span; within-doc repeats count once
    val boiler = ex.distinct()
      .groupBy(col("sid")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("sid"))
    // every span POSITION whose span is boilerplate is removed, so the
    // per-doc count joins the raw (repeats kept) explode
    val perDoc = ex.join(boiler, Seq("sid"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_boiler"))
    val result = base.select(col("id"), col("n_segments"))
      .join(perDoc, Seq("id"), "left")
      .withColumn("n_boiler", coalesce(col("n_boiler"), lit(0L)))
      .withColumn("keep_ratio",
        when(col("n_segments") > 0, lit(1.0) -
          col("n_boiler").cast("double") / col("n_segments"))
          .otherwise(lit(1.0)))
    try result.localCheckpoint()
    finally { base.unpersist(); () }
  }

  /** EXACT duplicated-substring coverage (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022 — the
    * exact-substring criterion their suffix-array pipeline applies,
    * here in its distributed hashed-window form): a token POSITION is
    * duplicated when it lies inside a run of ≥ `l` tokens that also
    * appears VERBATIM in another document. Every length-`l` sliding
    * window (overlapping — unlike [[spanStats]]' fixed non-overlapping
    * spans, shared runs are caught at every offset, so any shared run
    * of length ≥ l marks exactly its positions) hashes to a 56-bit
    * md5-prefix id; ids occurring in ≥ 2 DISTINCT documents mark
    * their l positions covered, and per-document coverage is the
    * measure of the union of intervals [s, s+l−1] over matched
    * starts — computed with ONE LEAD window over the sorted starts
    * (Σ min(l, next_s − s), last term l), never an explode of
    * positions. Within-document repeats alone do not count
    * ([[selfSpanDedup]] owns that pathology).
    *
    * Scale shape: strictly LINEAR — no candidate pairs exist anywhere
    * (contrast every similarity op): one narrow (id, start, wid)
    * exchange, a map-side-combinable distinct-doc count per wid, a
    * wid-keyed semi-join back, and one id-keyed window+aggregate. A
    * window shared by k documents costs k rows, not k². Output:
    * (id, n_tokens, n_dup_starts, n_dup_positions, dup_ratio). */
  def dupSubstringStats(df: DataFrame, textCol: String, idCol: String,
      l: Int = 8): DataFrame = {
    require(l >= 2, s"minimum run length must be >= 2 tokens: $l")
    val base = df
      .select(col(idCol).as("id"),
        split(trim(coalesce(col(textCol), lit(""))), "\\s+")
          .as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = base
      .select(col("id"), col("toks"), explode(expr(
        s"""CASE WHEN size(toks) >= $l
           |THEN sequence(1, size(toks) - ${l - 1})
           |ELSE CAST(array() AS ARRAY<INT>) END""".stripMargin))
        .as("s"))
      .withColumn("wid", expr(
        s"CAST(conv(substring(md5(concat_ws(' ', slice(toks, s, $l)))" +
          ", 1, 14), 16, 10) AS BIGINT)"))
      .select(col("id"), col("s"), col("wid"))
    val dup = ex.select(col("id"), col("wid")).distinct()
      .groupBy(col("wid")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("wid"))
    val matched = ex.join(dup, Seq("wid"), "left_semi")
      .select(col("id"), col("s")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("s"))
    val perDoc = matched
      .withColumn("covered", least(lit(l.toLong),
        coalesce((lead(col("s"), 1).over(w) - col("s")).cast("long"),
          lit(l.toLong))))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_starts"),
        sum(col("covered")).as("n_dup_positions"))
    val result = base.select(col("id"), col("n_tokens"))
      .join(perDoc, Seq("id"), "left")
      .withColumn("n_dup_starts",
        coalesce(col("n_dup_starts"), lit(0L)))
      .withColumn("n_dup_positions",
        coalesce(col("n_dup_positions"), lit(0L)))
      .withColumn("dup_ratio",
        when(col("n_tokens") > 0,
          col("n_dup_positions").cast("double") / col("n_tokens")))
    try result.localCheckpoint()
    finally { base.unpersist(); () }
  }

  /** INCREMENTAL [[dupSubstringStats]] — the freshness form every
    * index family here has: each batch's sliding window ids probe a
    * (doc_id, wid) index of everything already ingested, the batch's
    * per-document duplicated-position coverage is computed against
    * (history ∪ batch) AT ARRIVAL TIME, and the batch's distinct
    * (doc, window) rows append exactly-once. A batch doc's position
    * is duplicated when its window id occurs in ≥ 2 distinct docs
    * seen so far — so over an id-ordered arrival, the union of
    * per-batch outputs equals the batch-global [[dupSubstringStats]]
    * restricted to each doc's arrival-time view (the q82-family
    * contract: the LATER side of a shared run reports it).
    *
    * Scale shape: THE INDEX NEVER SHUFFLES — the batch's bounded
    * distinct window-id set broadcasts and the index streams through
    * a semi-probe; everything downstream is linear (distinct-doc
    * counts per wid, a LEAD window per batch doc) — no candidate
    * pairs exist, so no hot cap is needed (a wid shared by k docs
    * costs k probed rows, never k²). The window length `l` pins at
    * creation in the sidecar. Output = [[dupSubstringStats]]' five
    * columns for the batch's docs. */
  def dupSubstringIncremental(batch: DataFrame, textCol: String,
      idCol: String, indexDir: String, l: Int = 8,
      txn: Option[(String, Long)] = None,
      maxBatchRows: Long = Similarity.MaxIncrementalBatchRows)
      : DataFrame = {
    val r = dupSubstringIncrementalCore(batch, textCol, idCol,
      indexDir, l, txn, maxBatchRows, firstSeenWins = false)
    graft.sink.CdcTable.append(r.batchDocWids, indexDir,
      partitionBy = Nil, txn = txn)
    r.stats
  }

  private[graft] final case class DupSubIncr(stats: DataFrame,
      batchDocWids: DataFrame)

  /** Stats computation WITHOUT the index append — the caller decides
    * what enters the index (everything for
    * [[dupSubstringIncremental]], kept docs only for
    * [[dupSubstringDedupStreamToTable]]). `firstSeenWins` switches
    * the within-batch rule: symmetric (both copies of a shared run
    * count — the batch-global [[dupSubstringStats]] semantics q173
    * grades) vs first-seen-wins (a batch doc's windows count as
    * duplicated only against HISTORY or LOWER-id batch docs — the
    * online-consistent rule every dedup stream here uses). `stats`
    * is pinned to the pre-call index snapshot. */
  private[graft] def dupSubstringIncrementalCore(batch: DataFrame,
      textCol: String, idCol: String, indexDir: String, l: Int,
      txn: Option[(String, Long)], maxBatchRows: Long,
      firstSeenWins: Boolean): DupSubIncr = {
    require(l >= 2, s"minimum run length must be >= 2 tokens: $l")
    val storedL = IndexMeta.ensureInt(indexDir, "dup_l", l)
    require(storedL == l,
      s"index at $indexDir was built with l=$storedL but this call " +
        s"uses l=$l — stored window ids would never match; rebuild " +
        "the index or pass the original length")
    val base = batch
      .select(col(idCol).as("id"),
        split(trim(coalesce(col(textCol), lit(""))), "\\s+")
          .as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .localCheckpoint() // pin: feeds windows AND the final join; its
                         // row count is the batch-size guard for free
    IndexMeta.requireBoundedBatch(base.count(), maxBatchRows,
      "documents", "dupSubstringStats")
    val ex = base
      .select(col("id"), col("toks"), explode(expr(
        s"""CASE WHEN size(toks) >= $l
           |THEN sequence(1, size(toks) - ${l - 1})
           |ELSE CAST(array() AS ARRAY<INT>) END""".stripMargin))
        .as("s"))
      .withColumn("wid", expr(
        s"CAST(conv(substring(md5(concat_ws(' ', slice(toks, s, $l)))" +
          ", 1, 14), 16, 10) AS BIGINT)"))
      .select(col("id"), col("s"), col("wid"))
      .localCheckpoint() // shared by the probe, coverage, and append
    val hist = IndexMeta.touched(indexDir, txn, ex.select(col("wid")),
        StructType(Seq(StructField("doc_id", batch.schema(idCol).dataType),
          StructField("wid", LongType))), pin = false)(
      _.select(col("doc_id"), col("wid")))
    val batchDocWids = ex.select(col("id").as("doc_id"), col("wid"))
      .distinct()
      .localCheckpoint() // shared by the dup count and the caller's
                         // (possibly filtered) index append
    val matched =
      if (!firstSeenWins) {
        // symmetric: rows are distinct (doc, wid), so count(1) over
        // hist ∪ batch = distinct docs carrying the window
        val dup = hist.unionByName(batchDocWids).distinct()
          .groupBy(col("wid")).agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= 2).select(col("wid"))
        ex.join(broadcast(dup), Seq("wid"), "left_semi")
          .select(col("id"), col("s")).distinct()
      } else {
        // first-seen-wins: a window counts against HISTORY, or a
        // LOWER-id doc in the same batch (kept or not — the same
        // one-hop transitivity tradeoff nearDedupStreamToTable makes)
        val histWids = hist.select(col("wid")).distinct()
        val fromHist = ex.join(broadcast(histWids), Seq("wid"),
          "left_semi").select(col("id"), col("s"))
        val widMin = batchDocWids.groupBy(col("wid"))
          .agg(min(col("doc_id")).as("__min_id"))
        val fromBatch = ex
          .join(broadcast(widMin), Seq("wid"))
          .filter(col("__min_id") < col("id"))
          .select(col("id"), col("s"))
        fromHist.unionByName(fromBatch).distinct()
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("s"))
    val perDoc = matched
      .withColumn("covered", least(lit(l.toLong),
        coalesce((lead(col("s"), 1).over(w) - col("s")).cast("long"),
          lit(l.toLong))))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_starts"),
        sum(col("covered")).as("n_dup_positions"))
    val result = base.select(col("id"), col("n_tokens"))
      .join(perDoc, Seq("id"), "left")
      .withColumn("n_dup_starts",
        coalesce(col("n_dup_starts"), lit(0L)))
      .withColumn("n_dup_positions",
        coalesce(col("n_dup_positions"), lit(0L)))
      .withColumn("dup_ratio",
        when(col("n_tokens") > 0,
          col("n_dup_positions").cast("double") / col("n_tokens")))
      .localCheckpoint() // pin: the caller's index append must not
                         // shift what the returned frame reads
    DupSubIncr(result, batchDocWids)
  }

  /** Streaming exact-substring dedup-to-table — the Lee et al.
    * criterion as an ingest gate, completing the dedup-stream family
    * (exact / near / winnow / dup-substring): every micro-batch
    * computes its docs' duplicated-position coverage against the
    * window index under the first-seen-wins rule; docs at or above
    * `maxDupRatio` drop. Gate contract: [[IndexMeta.keptOnlyStream]].
    *
    * No candidate pairs exist anywhere in this family, so there is no
    * mass-duplicate blowup to cap — a page duplicated millions of
    * times costs one set of index rows and each new copy one probe. */
  def dupSubstringDedupStreamToTable(stream: DataFrame,
      textCol: String, idCol: String, indexDir: String, outDir: String,
      checkpointDir: String, maxDupRatio: Double = 0.5, l: Int = 8,
      appId: String = "graft-dupsubdedup",
      maxBatchRows: Long = Similarity.MaxIncrementalBatchRows)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(maxDupRatio > 0 && maxDupRatio <= 1,
      s"maxDupRatio must be in (0,1]: $maxDupRatio")
    IndexMeta.keptOnlyStream(stream, idCol, indexDir, "doc_id", outDir,
        checkpointDir, appId) { (batch, txn) =>
      val r = dupSubstringIncrementalCore(batch, textCol, idCol,
        indexDir, l, txn, maxBatchRows = maxBatchRows,
        firstSeenWins = true)
      (r.stats.filter(col("dup_ratio") >= maxDupRatio).select(col("id")),
        r.batchDocWids)
    }
  }

  /** The DESTRUCTIVE half of [[dupSubstringStats]] — Lee et al.'s
    * actual dedup action: every token position covered by a ≥ `l`
    * cross-document verbatim run is CUT and the document reassembled
    * from its surviving positions in order (single-space joined).
    * Same linear machinery as the stats (hashed sliding windows,
    * cross-doc df ≥ 2, one matched-starts aggregation); the removal
    * itself is array-local — each doc's sorted matched starts come
    * back as ONE array and positions filter in-row via an exists
    * probe (O(n·m) long comparisons per doc, no explode of
    * positions). Output: (id, n_tokens, n_removed, kept_text). */
  def dupSubstringRewrite(df: DataFrame, textCol: String,
      idCol: String, l: Int = 8): DataFrame = {
    require(l >= 2, s"minimum run length must be >= 2 tokens: $l")
    val base = df
      .select(col(idCol).as("id"),
        split(trim(coalesce(col(textCol), lit(""))), "\\s+")
          .as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = base
      .select(col("id"), col("toks"), explode(expr(
        s"""CASE WHEN size(toks) >= $l
           |THEN sequence(1, size(toks) - ${l - 1})
           |ELSE CAST(array() AS ARRAY<INT>) END""".stripMargin))
        .as("s"))
      .withColumn("wid", expr(
        s"CAST(conv(substring(md5(concat_ws(' ', slice(toks, s, $l)))" +
          ", 1, 14), 16, 10) AS BIGINT)"))
      .select(col("id"), col("s"), col("wid"))
    val dup = ex.select(col("id"), col("wid")).distinct()
      .groupBy(col("wid")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("wid"))
    val starts = ex.join(dup, Seq("wid"), "left_semi")
      .select(col("id"), col("s")).distinct()
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("s"))).as("starts"))
    val result = base.join(starts, Seq("id"), "left")
      .withColumn("starts",
        coalesce(col("starts"), expr("CAST(array() AS ARRAY<INT>)")))
      .withColumn("keep", expr(
        s"""filter(sequence(1, size(toks)),
           |  p -> NOT exists(starts, s -> s <= p AND p < s + $l))"""
          .stripMargin))
      .select(col("id"), col("n_tokens"),
        (col("n_tokens") - size(col("keep"))).as("n_removed"),
        expr("array_join(transform(keep, p -> element_at(toks, p)), ' ')")
          .as("kept_text"))
    try result.localCheckpoint()
    finally { base.unpersist(); () }
  }

  /** The DESTRUCTIVE half of [[spanStats]] — the CCNet/RefinedWeb
    * boilerplate REMOVAL, not just its statistics: every
    * `width`-token non-overlapping span occurring in ≥ `minDocs`
    * distinct documents is cut, and the document is reassembled from
    * its kept spans (in order) plus the trailing remainder tokens,
    * single-space joined. Returns (id, n_spans, n_boiler, kept_text)
    * for every input row.
    *
    * Scale shape: the only cross-doc state is the boilerplate-span
    * set (one distinct+count aggregation keyed on the 56-bit span
    * id); removal is a key-blocked anti-join of span POSITIONS, and
    * reassembly is one per-doc aggregation (collect the kept spans,
    * sort the ≤ len/width entries in-row). The corpus shuffles by
    * doc id once for reassembly — nothing quadratic, no windows. */
  def spanDedupRewrite(df: DataFrame, textCol: String, idCol: String,
      width: Int = 3, minDocs: Int = 3): DataFrame = {
    require(width >= 1 && minDocs >= 2,
      s"need width >= 1 and minDocs >= 2, got $width/$minDocs")
    val spansE =
      s"""CASE WHEN size(toks) >= $width THEN transform(
         |  sequence(0L, size(toks) div $width - 1),
         |  i -> struct(i AS pos, concat_ws(' ',
         |         slice(toks, CAST(i * $width + 1 AS INT), $width)) AS txt))
         |ELSE CAST(array() AS ARRAY<STRUCT<pos: BIGINT, txt: STRING>>)
         |END""".stripMargin
    val base = df
      .select(col(idCol).as("id"),
        split(trim(coalesce(col(textCol), lit(""))), "\\s+")
          .as("toks"))
      .withColumn("nsp", expr(s"size(toks) div $width"))
      .withColumn("rem", expr(
        s"concat_ws(' ', slice(toks, CAST(nsp * $width + 1 AS INT), " +
          s"size(toks) - CAST(nsp * $width AS INT)))"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = base
      .select(col("id"), explode(expr(spansE)).as("s"))
      .select(col("id"), col("s.pos").as("pos"), col("s.txt").as("txt"))
      .withColumn("sid", expr(
        "CAST(conv(substring(md5(txt), 1, 14), 16, 10) AS BIGINT)"))
    val boiler = ex.select(col("id"), col("sid")).distinct()
      .groupBy(col("sid")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("sid"))
    val asm = ex.join(boiler, Seq("sid"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(" +
          "collect_list(struct(pos, txt))), s -> s.txt), ' ')")
          .as("spans_txt"))
    val result = base
      .join(asm, Seq("id"), "left")
      .select(col("id"), col("nsp").as("n_spans"),
        (col("nsp") - coalesce(col("n_kept"), lit(0L))).as("n_boiler"),
        trim(concat_ws(" ",
          coalesce(col("spans_txt"), lit("")), col("rem")))
          .as("kept_text"))
    try result.localCheckpoint()
    finally { base.unpersist(); () }
  }

  /** Contrastive POSITIVE pairs from the near-dup clustering: every
    * same-cluster ordered pair (a < b) with its cluster id — the
    * training-pair artifact contrastive embedding pipelines (SimCSE /
    * Contriever-style) consume as naturally-occurring positives,
    * with [[graft.ext.Similarity.hardNegatives]] supplying the
    * negatives. TRANSITIVE closure semantics deliberately: two docs
    * in one cluster pair even when their own similarity edge was not
    * verified (a↔b, b↔c ⇒ (a,c) too) — the cluster asserts same
    * content. Pair volume is Σ|cluster|² — bounded by the duplicate
    * subset, and the upstream near-dup caps keep cluster sizes sane.
    * Output: (cluster_id, a_id, b_id). */
  def positivePairs(res: NearDupResult): DataFrame = {
    val m = res.components
    m.select(col("component").as("cluster_id"), col("id").as("a_id"))
      .join(m.select(col("component").as("cluster_id"),
        col("id").as("b_id")), Seq("cluster_id"))
      .filter(col("a_id") < col("b_id"))
  }

  /** Materialize a [[NearDupResult]] ONCE per corpus snapshot:
    * `pairs` and `components` land as graft tables under `dir/pairs`
    * and `dir/components` (ACID, time-travelable, vacuumable like any
    * other table). At 100 TB the MinHash → LSH → verify → CC pipeline
    * is the expensive corpus pass; canonical selection
    * ([[canonicalByQuality]]), leakage-safe splits
    * ([[graft.ext.Sampling.clusterSplit]]) and contrastive positives
    * ([[positivePairs]]) are each CHEAP consumers of the same two
    * frames — persisting them makes a curation run pay the pair
    * pipeline once per snapshot instead of once per downstream op
    * (the reference persists its reconciliation reports for the same
    * reason, specs/001-mongodb-cdc-delta/research.md:732-768). A
    * write over an existing result REPLACES it atomically: readers
    * see the old snapshot or the new one, never a mix. */
  def writeNearDupResult(res: NearDupResult, dir: String): Unit = {
    graft.sink.CdcTable.replaceWith(s"$dir/pairs", res.pairs,
      partitionBy = Nil)
    graft.sink.CdcTable.replaceWith(s"$dir/components", res.components,
      partitionBy = Nil)
    ()
  }

  /** Maintain a MATERIALIZED near-dup result batch-at-a-time — the
    * freshness story for [[writeNearDupResult]]: each batch runs
    * through [[nearIncremental]] against `dir/index` (the ~0.5 KB/doc
    * signature index; history never shuffles), pairs at or above
    * `estThreshold` land in `dir/pairs` exactly-once, and
    * `dir/components` is refreshed as one atomic replace (connected
    * components over the stored pairs — the duplicate residue, so the
    * relabel is metadata-scale, usually the driver union-find path).
    * [[readNearDupResult]] and every consumer (canonical selection,
    * cluster splits, positive pairs) then serve from the SAME layout
    * whether the result was batch-written or incrementally grown.
    *
    * Pair semantics are the incremental family's (q82): the
    * SIGNATURE-estimate Jaccard, not [[near]]'s exact verify — exact
    * verification needs full shingle sets, which the index
    * deliberately does not store. Union over disjoint arrival ≡ the
    * batch-global banded pair set (a pair materializes exactly once,
    * when its later side arrives; replays no-op on the txn marker).
    * Single-writer maintenance, like every incremental index. */
  def appendNearDupResult(batch: DataFrame, textCol: String,
      idCol: String, dir: String, estThreshold: Double = 0.5,
      txn: Option[(String, Long)] = None,
      maxBandDocFreq: Option[Int] = None): Unit = {
    val spark = batch.sparkSession
    // a replayed batch must be a TRUE no-op: without this check the
    // txn marker only suppresses the pair append, while the
    // banding/probe job would still run on every retry. A crash
    // BETWEEN the pair append and the components refresh leaves the
    // components high-water mark below the pairs log — the replay
    // (and any later batch) redoes only the missed incremental fold.
    if (txn.exists(t => graft.sink.CdcTable.log(s"$dir/pairs")
        .exists(_.txn.contains(t)))) {
      syncComponents(spark, dir)
      return
    }
    val pairs = nearIncremental(batch, textCol, idCol, s"$dir/index",
      txn = txn, maxBandDocFreq = maxBandDocFreq)
      .filter(col("est_jaccard") >= estThreshold)
      .select(col("a_id"), col("b_id"), col("est_jaccard"))
    graft.sink.CdcTable.append(pairs, s"$dir/pairs",
      partitionBy = Nil, txn = txn)
    syncComponents(spark, dir)
  }

  /** High-water appId for the incremental components fold: the
    * components table's commits record which pairs commit they have
    * folded in, so maintenance is O(unseen pairs commits) — the
    * profileSync pattern applied to the curation artifact. */
  private[graft] val CcAppId = "graft-cc"

  /** Refresh `dir/components` from `dir/pairs` INCREMENTALLY:
    * connected components are maintained under edge ADDITION by a
    * union–find over (the unseen pairs commits' edges) ∪ (the stored
    * labels of the nodes those edges touch) — the only rows that can
    * change are members of components an edge touches, so the rewrite
    * is a keyed MERGE of exactly (relabeled members of merged
    * components + newly-labeled nodes), never a corpus- or
    * stored-pair-sized relabel. Per-batch cost: the new-edge residue
    * (driver union–find, the [[connectedComponents]] fast path's
    * contract) + two key-bounded probes of the components table +
    * a touched-file-only rewrite.
    *
    * Falls back to ONE full relabel (CC over the whole pairs table,
    * atomic replace) when the incremental contract cannot hold:
    * a non-append pairs commit in the unseen range (batch
    * [[writeNearDupResult]] replace, compaction), a components table
    * predating the high-water mark (legacy artifact), non-integral
    * ids, or a new-edge set past the driver bound. Components are a
    * pure function of pairs, so the rebuild is always available —
    * unlike profile partials, nothing here is unsubtractable.
    *
    * Exactly-once via the [[CcAppId]] txn marker (= the folded pairs
    * commit id); a replay re-derives the same source rows and the
    * marked commit short-circuits. Returns the number of pairs
    * commits folded (0 = already fresh). */
  def syncComponents(spark: SparkSession, dir: String,
      driverEdgeLimit: Long = DriverCcEdgeLimit): Int = {
    import graft.sink.CdcTable
    val pairsDir = s"$dir/pairs"
    val compDir = s"$dir/components"
    CdcTable.syncFeed(spark, pairsDir, compDir, CcAppId) { u =>
      val cLog = CdcTable.log(compDir)
      // legacy batch-written components (no mark yet) or a replace in
      // the unseen range: the stored labels' provenance is unknown /
      // the feed cannot replay — pay one full relabel of the pairs as
      // of the marked commit, then mark; so do edges the incremental
      // fold cannot take
      if (u.commits.exists(_.action != "append") ||
          (cLog.nonEmpty && CdcTable.highWater(cLog, CcAppId) < 0) ||
          !foldEdges(spark, compDir, cLog.isEmpty, u.feed(),
            driverEdgeLimit, Some(u.txn))) {
        CdcTable.replaceWith(compDir, connectedComponents(spark,
          CdcTable.readAsOf(spark, pairsDir, commitAsOf = Some(u.txn._2))),
          partitionBy = Nil, txn = Some(u.txn))
        ()
      }
    }
  }

  /** [[syncComponents]]' incremental fold of the unseen pairs
    * commits' edges (`feed`) into the components at `compDir`
    * (`fresh` = none stored yet). False, with nothing written, when
    * the ids are non-integral or the edges exceed the driver bound. */
  private def foldEdges(spark: SparkSession, compDir: String,
      fresh: Boolean, feed: DataFrame, driverEdgeLimit: Long,
      txn: Option[(String, Long)]): Boolean = {
    import graft.sink.CdcTable
    val newEdges = feed
      .select(col("a_id").as("u"), col("b_id").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val integralIds = newEdges.schema.fields.forall(_.dataType match {
      case org.apache.spark.sql.types.ByteType => true
      case org.apache.spark.sql.types.ShortType => true
      case org.apache.spark.sql.types.IntegerType => true
      case org.apache.spark.sql.types.LongType => true
      case _ => false
    })
    // ONE bounded collect carries the batch's edge residue to the
    // driver AND answers the zero / over-limit checks: the former
    // pin+count+collect sequence ran three driver actions
    // (localCheckpoint job, count job, collect job) over the same
    // ≤ driverEdgeLimit working set every sync. limit+1 detects
    // overflow; non-integral ids probe only for emptiness (their
    // labeling always takes the full rebuild). The cap clamps BEFORE
    // the +1: a Long.MaxValue "unbounded" sentinel must not overflow
    // to limit(0) (which would silently drop the batch's edges), and
    // past Int.MaxValue-2 the over-limit check compares against the
    // clamped cap so truncation still routes to the full rebuild.
    val cap = math.min(driverEdgeLimit, (Int.MaxValue - 2).toLong)
    val probe =
      if (integralIds)
        newEdges.select(col("u").cast("long"), col("v").cast("long"))
          .limit(cap.toInt + 1)
          .collect()
      else newEdges.limit(1).collect()
    if (probe.isEmpty) {
      // still stamp the mark (one empty-source merge commit), or every
      // later sync re-reads these commits forever
      CdcTable.merge(spark, compDir, newEdges
        .select(col("u").as("id"), col("v").as("component")).limit(0),
        keys = Seq("id"), partitionBy = Nil, txn = txn)
      return true
    }
    if (probe.length > cap || !integralIds) return false
    val idType = newEdges.schema("u").dataType
    val edgeArr = probe.map(r => (r.getLong(0), r.getLong(1)))
    // touched nodes derive on the driver from the collected residue;
    // only the (tiny) id list goes back out, as the broadcast side of
    // the stored-label probe
    val touched = spark.createDataset(
      edgeArr.iterator.flatMap(p => Iterator(p._1, p._2)).toSet.toSeq)(
      org.apache.spark.sql.Encoders.scalaLong).toDF("id")
    // stored labels of touched nodes: ONE key-bounded probe — the
    // touched set broadcasts, the components table streams through
    val storedTouched =
      if (fresh) Array.empty[(Long, Long)]
      else CdcTable.read(spark, compDir)
        .select(col("id").cast("long").as("id"),
          col("component").cast("long").as("component"))
        .join(broadcast(touched), Seq("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    // union–find over new edges + (node → stored label) arcs: a
    // stored label IS a member of its component (the min id), so the
    // arc is a true edge and find() yields min-reachable labels over
    // the merged graph
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    def union(u: Long, v: Long): Unit = {
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) {
        if (ru < rv) parent(rv) = ru else parent(ru) = rv
      }
    }
    edgeArr.foreach { case (u, v) => union(u, v) }
    storedTouched.foreach { case (id, comp) => union(id, comp) }
    // components whose stored label moved: every stored member row of
    // those labels relabels (second key-bounded probe — the remap is
    // tiny and broadcasts; untouched components never read)
    val remap = storedTouched.map(_._2).distinct
      .flatMap(l => { val n = find(l); if (n != l) Some((l, n)) else None })
    val storedIds = storedTouched.map(_._1).toSet
    val newNodes = edgeArr.iterator
      .flatMap(p => Iterator(p._1, p._2)).toSet
      .diff(storedIds).toSeq.map(n => (n, find(n)))
    import spark.implicits._
    val changedMembers =
      if (remap.isEmpty)
        spark.emptyDataset[(Long, Long)].toDF("id", "component")
      else CdcTable.read(spark, compDir)
        .select(col("id").cast("long").as("id"),
          col("component").cast("long").as("component"))
        .join(broadcast(remap.toSeq.toDF("component", "__new")),
          Seq("component"))
        .select(col("id"), col("__new").as("component"))
    val source = changedMembers
      .unionByName(newNodes.toDF("id", "component"))
      .select(col("id").cast(idType).as("id"),
        col("component").cast(idType).as("component"))
    CdcTable.merge(spark, compDir, source, keys = Seq("id"),
      partitionBy = Nil, txn = txn)
    true
  }

  /** Read a [[writeNearDupResult]] artifact back as a
    * [[NearDupResult]]. `corpus`/`idCol` rebuild the whole-corpus
    * `decisions` frame exactly as [[near]] would have (`components`
    * labels only the DUPLICATE subset — far smaller than the corpus,
    * which is why decisions are derived at read time rather than
    * stored corpus-sized). */
  def readNearDupResult(spark: SparkSession, dir: String,
      corpus: DataFrame, idCol: String): NearDupResult = {
    val pairs = graft.sink.CdcTable.read(spark, s"$dir/pairs")
    val components = graft.sink.CdcTable.read(spark, s"$dir/components")
    val decisions = corpus.select(col(idCol).as("id"))
      .join(components, Seq("id"), "left")
      .withColumn("keep_id", coalesce(col("component"), col("id")))
      .withColumn("is_duplicate", col("id") =!= col("keep_id"))
      .select(col("id"), col("keep_id"), col("is_duplicate"))
    NearDupResult(pairs, components, decisions)
  }

  /** INTRA-document span dedup — the self-repetition cleaner
    * ([[spanDedupRewrite]]'s cross-doc rule turned inward): the
    * document's consecutive `width`-token spans keep only their FIRST
    * occurrence within the SAME document; repeats are cut and the doc
    * reassembled (kept spans in order + the sub-width remainder). The
    * classic "page that repeats one paragraph fifty times" cleanup —
    * [[graft.ext.TextAnalysis.tokenEntropy]] scores that pathology,
    * this removes it.
    *
    * Entirely ARRAY-LOCAL: spans, first-occurrence filter, and
    * reassembly all build inside the row with transform/filter HOFs —
    * no explode, no join, no shuffle; scan-speed at any corpus size,
    * and every step replays in SQL so the cleaned TEXT hash-matches
    * the oracle. The first-occurrence filter scans positions
    * pairwise, so per-document cost is O(n_spans²) — but over 56-bit
    * md5-prefix span ids (the [[spanDedupRewrite]] id scheme), not
    * strings, so each comparison is one long equality; a pathological
    * 100k-token page costs ~5·10⁸ long compares, not ~10⁹
    * arbitrary-length string compares. Collisions (≈n²/2^57 per doc)
    * merge spans the way the cross-doc path already accepts.
    * Output: (id, n_spans, n_dupes, clean_text). */
  def selfSpanDedup(df: DataFrame, idCol: String,
      textCol: String = "text", width: Int = 3): DataFrame = {
    require(width >= 1, s"width must be >= 1: $width")
    df.select(col(idCol).as("id"),
        split(trim(coalesce(col(textCol), lit(""))), "\\s+")
          .as("toks"))
      .withColumn("nsp", expr(s"size(toks) div $width"))
      .withColumn("spans", expr(
        s"""CASE WHEN nsp >= 1 THEN transform(sequence(1, CAST(nsp AS INT)),
           |  i -> concat_ws(' ',
           |    slice(toks, (i - 1) * $width + 1, $width)))
           |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
      .withColumn("sids", expr(
        """transform(spans,
          |  s -> CAST(conv(substring(md5(s), 1, 14), 16, 10)
          |       AS BIGINT))""".stripMargin))
      .withColumn("keep", expr(
        """CASE WHEN size(sids) >= 1 THEN
          |  filter(sequence(1, size(sids)),
          |    i -> array_position(sids, element_at(sids, i)) = i)
          |ELSE CAST(array() AS ARRAY<INT>) END""".stripMargin))
      .select(col("id"), col("nsp").as("n_spans"),
        (col("nsp") - size(col("keep"))).as("n_dupes"),
        expr(s"""trim(concat_ws(' ',
          |  array_join(transform(keep,
          |    i -> element_at(spans, i)), ' '),
          |  concat_ws(' ', slice(toks, CAST(nsp * $width + 1 AS INT),
          |    size(toks) - CAST(nsp * $width AS INT)))))""".stripMargin)
          .as("clean_text"))
  }

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS scheme): over the document's POSITIONAL
    * k-gram hash sequence, every length-`w` window selects its
    * RIGHTMOST minimum; the distinct selected positions are the
    * document's fingerprint. The local guarantee: any shared token
    * run of length ≥ w+k−1 yields at least one shared fingerprint,
    * at expected density 2/(w+1) — the PRINCIPLED "index a fraction
    * of the shingles" compression knob (contrast the df cap, which
    * drops by global frequency; winnowing drops by local position
    * and keeps the match guarantee).
    *
    * Entirely ARRAY-LOCAL: hashes, the per-window argmin and the
    * selection all build inside the row with slice/array_min HOFs —
    * no explode, no shuffle; O(ng·w) long comparisons per document
    * over the portable 56-bit md5-prefix ids, and every step replays
    * in SQL. Documents with fewer than `k` tokens have no k-grams
    * and drop; documents with fewer than `w` k-grams winnow over one
    * whole-document window. Output: (id, pos, fp) — one row per
    * selected position, ideal for a fingerprint index or a MOSS
    * overlap join ([[winnowSids]] + the pair core). */
  def winnowFingerprints(df: DataFrame, idCol: String,
      textCol: String = "text", k: Int = 3, w: Int = 4): DataFrame =
    winnowStage(df, idCol, textCol, k, w)
      .select(col("id"), explode(col("pfs")).as("pf"))
      .select(col("id"), col("pf.pos").as("pos"), col("pf.fp").as("fp"))

  /** [[winnowFingerprints]] staged for the df-capped pair core —
    * (id, blk, sids) with `sids` the distinct selected fingerprint
    * hashes, directly consumable by [[ngramJaccardPairsFromSids]] /
    * [[ngramContainmentPairsFromSids]]: MOSS-style overlap detection
    * over ~2/(w+1) of the shingle volume. `blockCol` names a column
    * of `df` to block candidates by (the q33/q59 per-source split —
    * only same-block pairs are candidates and the df cap counts
    * within the block); None blocks globally. */
  def winnowSids(df: DataFrame, idCol: String,
      textCol: String = "text", k: Int = 3, w: Int = 4,
      blockCol: Option[String] = None): DataFrame =
    winnowStage(df, idCol, textCol, k, w, blockCol)
      .select(col("id"), col("blk"),
        expr("array_distinct(transform(pfs, x -> x.fp))").as("sids"))

  /** INCREMENTAL MOSS overlap — [[winnowFingerprints]]' winnowed
    * fingerprints as a living graft-table index (the freshness story
    * the exact/band/vector/lexical indexes already have): each batch
    * winnows, probes EVERYTHING already ingested for fingerprint
    * containment ≥ `threshold`, appends its own (doc_id, nfp, fp)
    * rows exactly-once, and returns the detected pairs — batch vs
    * history AND within-batch, each reported exactly once across the
    * whole arrival history (so the union over batches equals the
    * batch-global winnowed containment result, which is how the q147
    * oracle grades it).
    *
    * Scale shape: THE INDEX NEVER SHUFFLES — the batch's bounded
    * distinct-fingerprint set broadcasts and the index streams
    * through a scan + hash semi-probe; per-batch cost is bounded by
    * batch + touched-fingerprint volume, never corpus size, and the
    * index stores ~2/(w+1) of the shingle volume (the winnowing
    * guarantee keeps any ≥ w+k−1-token shared run detectable).
    * Ubiquitous fingerprints (mass boilerplate) are excluded from
    * candidate generation on both legs once their document frequency
    * crosses `maxFpDocFreq` (None = auto `max(64, ⌈√rows⌉)` from
    * manifest row counts, zero data IO, replay-stable via own-txn
    * exclusion — the q82 policy; `Some(Int.MaxValue)` disables).
    * The (k, w) layout is pinned at creation in the sidecar —
    * probing with a different scheme would silently match nothing.
    * Output: (a_id, b_id, inter, ma, mb, containment). */
  def winnowIncremental(batch: DataFrame, textCol: String,
      idCol: String, indexDir: String, threshold: Double = 0.5,
      k: Int = 3, w: Int = 4, txn: Option[(String, Long)] = None,
      maxFpDocFreq: Option[Int] = None,
      maxBatchRows: Long = Similarity.MaxIncrementalBatchRows)
      : DataFrame = {
    val r = winnowIncrementalCore(batch, textCol, idCol, indexDir,
      threshold, k, w, txn, maxFpDocFreq, maxBatchRows)
    graft.sink.CdcTable.append(
      r.batchFps.select(col("doc_id"), col("nfp"), col("fp")),
      indexDir, txn = txn)
    r.pairs
  }

  private[graft] final case class WinnowIncr(pairs: DataFrame,
      batchFps: DataFrame)

  /** Pair computation WITHOUT the index append — the caller decides
    * what enters the index (everything for [[winnowIncremental]],
    * kept docs only for [[winnowDedupStreamToTable]]). `pairs` reads
    * only pinned inputs (the staged batch and the probed index
    * subset), so it is fixed to the pre-call index snapshot without
    * being eagerly materialized itself. */
  private[graft] def winnowIncrementalCore(batch: DataFrame,
      textCol: String, idCol: String, indexDir: String,
      threshold: Double, k: Int, w: Int, txn: Option[(String, Long)],
      maxFpDocFreq: Option[Int], maxBatchRows: Long): WinnowIncr = {
    import graft.sink.CdcTable
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1]: $threshold")
    val meta = IndexMeta.ensure(indexDir,
      Map("winnow_k" -> k, "winnow_w" -> w))
    val storedK = meta.getOrElse("winnow_k", k)
    val storedW = meta.getOrElse("winnow_w", w)
    require(storedK == k && storedW == w,
      s"index at $indexDir was built with (k=$storedK, w=$storedW) " +
        s"but this call uses (k=$k, w=$w) — stored fingerprints " +
        "would never match; rebuild the index or pass the original " +
        "scheme")
    // pin the winnowed batch ONE ROW PER DOC (pre-explode): the
    // cheap row count of the pinned frame IS the document count, so
    // the batch-size guard costs no extra distinct-shuffle job (r11
    // nit); the exploded fp view below is a map-only projection of
    // the checkpoint, shared by the probe, the pair scoring and the
    // index append
    val staged = winnowSids(batch, idCol, textCol, k, w)
      .localCheckpoint()
    IndexMeta.requireBoundedBatch(staged.count(), maxBatchRows,
      "documents", "winnowSids + the batch pair core")
    val batchFps = staged
      .select(col("id").as("doc_id"), size(col("sids")).as("nfp"),
        explode(col("sids")).as("fp"))
    val cap = maxFpDocFreq.getOrElse(autoBandDocFreq(
      CdcTable.rowCountEstimate(indexDir, excludeTxn = txn)))
    // own-txn exclusion mirrors the band index: a crash replay whose
    // index append already committed probes the same pre-batch
    // snapshot (hot-fp df counts included) its original run saw.
    // Pinned: the probed subset feeds the hot-fp df count, the size
    // lookup AND the pair join — unpinned, the index scan + semi-probe
    // would run up to three times per batch.
    val hist = IndexMeta.touched(indexDir, txn, batchFps.select(col("fp")),
        StructType(Seq(StructField("doc_id", batch.schema(idCol).dataType),
          StructField("nfp", IntegerType), StructField("fp", LongType))),
        pin = true)(_.select(col("doc_id"), col("nfp"), col("fp")))
    // hot-fingerprint exclusion: df counted over the PROBED subset
    // (probe is keyed on fp, so the subset holds a hot fp's full
    // history); the hot list is tiny by construction → broadcast
    // anti-join on both legs. An uncapped call (cap = MaxValue) skips
    // the occupancy pass outright — the anti-join against a provably
    // empty hot set was a full extra evaluation of the probe.
    val (histKept, batchKept) =
      if (cap == Int.MaxValue) (hist, batchFps)
      else {
        val hot = hist.groupBy(col("fp"))
          .agg(count(lit(1)).as("dfc"))
          .filter(col("dfc") > cap).select(col("fp"))
        (hist.join(broadcast(hot), Seq("fp"), "left_anti"),
          batchFps.join(broadcast(hot), Seq("fp"), "left_anti"))
      }
    val all = histKept.unionByName(
      batchKept.select(col("doc_id"), col("nfp"), col("fp")))
    val sizes = all.select(col("doc_id"), col("nfp"))
      .dropDuplicates("doc_id")
    // one side is always the batch; distinct collapses the two
    // orientations of within-batch pairs
    val pairs = batchKept
      .select(col("doc_id").as("b_doc"), col("fp"))
      .join(all.select(col("doc_id").as("a_doc"), col("fp")),
        Seq("fp"))
      .filter(col("a_doc") =!= col("b_doc"))
      .select(least(col("a_doc"), col("b_doc")).as("a_id"),
        greatest(col("a_doc"), col("b_doc")).as("b_id"), col("fp"))
      .distinct()
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("a_id"), col("nfp").as("ma")),
        Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("nfp").as("mb")),
        Seq("b_id"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("ma"), col("mb")))
      .filter(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"), col("inter"), col("ma"),
        col("mb"), col("containment"))
    // NOT eagerly pinned (r17): every input is already a pin —
    // `staged` and `hist` are localCheckpoints, so the caller's index
    // append cannot shift what the returned frame reads, and a
    // single-consumer caller (winnowIncremental's union-of-batches)
    // fuses the pair join into its one final job instead of paying an
    // extra eager materialization per batch. A caller that reads
    // `pairs` more than once pins at the call site (the streaming
    // dedup's dupIds pin already does).
    WinnowIncr(pairs, batchFps)
  }

  /** Streaming MOSS-dedup-to-table — the excerpt/verbatim-run analog
    * of [[nearDedupStreamToTable]]: every micro-batch winnows and
    * probes the fingerprint index; batch docs whose winnowed
    * containment against any earlier kept doc reaches `threshold` are
    * dropped. Gate contract: [[IndexMeta.keptOnlyStream]].
    *
    * Runs UNCAPPED: kept-only indexing bounds per-fingerprint document
    * frequency structurally, and the √n cap would keep and index every
    * copy of a page arriving in an over-cap batch, permanently
    * disabling its dedup (see [[nearDedupStreamToTable]]). */
  def winnowDedupStreamToTable(stream: DataFrame, textCol: String,
      idCol: String, indexDir: String, outDir: String,
      checkpointDir: String, threshold: Double = 0.5, k: Int = 3,
      w: Int = 4, appId: String = "graft-winnowdedup",
      maxBatchRows: Long = Similarity.MaxIncrementalBatchRows)
      : org.apache.spark.sql.streaming.StreamingQuery =
    IndexMeta.keptOnlyStream(stream, idCol, indexDir, "doc_id", outDir,
        checkpointDir, appId) { (batch, txn) =>
      val r = winnowIncrementalCore(batch, textCol, idCol, indexDir,
        threshold, k, w, txn, maxFpDocFreq = Some(Int.MaxValue),
        maxBatchRows = maxBatchRows)
      (r.pairs.select(col("b_id")), r.batchFps)
    }

  /** (id, pfs: array<struct<pos,fp>>) — the codegen'd `winnow_fps`
    * native (hashing + the monotonic-deque window argmin in ONE JVM
    * pass, O(ng) per doc). */
  private def winnowStage(df: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int,
      blockCol: Option[String] = None): DataFrame = {
    require(k >= 1, s"k-gram width must be >= 1: $k")
    require(w >= 1, s"window must be >= 1: $w")
    val blk = blockCol.map(c => col(c)).getOrElse(lit(0)).as("blk")
    df.select(col(idCol).as("id"), blk,
        expr(s"winnow_fps(`$textCol`, $k, $w)").as("pfs"))
      .filter(size(col("pfs")) >= 1)
  }

  /** Embedding-space near-dup dedup: cosine pairs above threshold
    * (exact here; LSH-bucket first at scale), clustered to survivors
    * exactly like the text path. */
  def nearByEmbedding(df: DataFrame, idCol: String, threshold: Double,
      embCol: String = "embedding"): NearDupResult = {
    val pairs = Similarity.nearDupPairs(df, idCol, threshold, embCol)
    val components = connectedComponents(df.sparkSession, pairs)
    val decisions = df.select(col(idCol).as("id"))
      .join(components, Seq("id"), "left")
      .withColumn("keep_id", coalesce(col("component"), col("id")))
      .withColumn("is_duplicate", col("id") =!= col("keep_id"))
      .select(col("id"), col("keep_id"), col("is_duplicate"))
    NearDupResult(pairs, components, decisions)
  }

  /** Connected components via the alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond"): component = min id reachable. Each pass rewires
    * every node toward its neighborhood minimum, CONTRACTING the graph
    * — convergence in O(log² n) passes regardless of diameter (the
    * previous one-hop min-label propagation needed `diameter` rounds,
    * so a 10⁶-long chain would never finish). Each pass is two
    * key-local shuffles; `localCheckpoint` truncates the plan every
    * round so lineage stays O(1) instead of growing with iterations. */
  /** Below this many (distinct) edges the component labeling runs as
    * a driver-side union–find instead of the distributed star
    * iteration. The edge set is the DUPLICATE-PAIR residue of the
    * corpus — usually tiny relative to it — and the star fixpoint is
    * latency-bound there: each round is two shuffles + a checkpoint
    * run SEQUENTIALLY, so wall time is round count × job latency no
    * matter how small the data. Measured via [[graft.tools.CcProbe]]:
    * sf0.1 (256 edges) 2.5 s star vs 0.43 s union-find; 100×
    * (25,548 edges) 3.0 s vs 0.85 s, taking the q94-class
    * near(+components) end-to-end from ~11.6 s to ~9.3 s. 2M edges ≈
    * tens of MB collected — safely driver-sized; anything larger
    * takes the O(log² n) distributed path unchanged. */
  private[graft] val DriverCcEdgeLimit = 2000000L

  private[graft] def connectedComponents(spark: SparkSession,
      edges: DataFrame, maxIter: Int = 30,
      driverEdgeLimit: Long = DriverCcEdgeLimit): DataFrame = {

    // large-star: for every node u, point each LARGER neighbor at
    // m = min(N(u) ∪ {u}); small-star: same for the ≤-neighbors over
    // the (big→small)-oriented arcs. Both emit (node > target) arcs.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      sym.filter(col("v") > col("u"))
        .join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      e.join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    val e0 = edges
      .select(col("a_id").as("x"), col("b_id").as("y"))
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("u"),
        least(col("x"), col("y")).as("v"))
      .distinct()
    // The fast path collects ids as Long; a non-integral id column
    // (string/UUID ids are supported by the dedup API and handled by
    // the star fixpoint via generic ordering) would cast to NULL and
    // silently read as 0, collapsing every edge onto one node. Gate
    // on the id type so those graphs take the distributed path.
    val integralIds = e0.schema.fields.forall(_.dataType match {
      case _: org.apache.spark.sql.types.ByteType => true
      case _: org.apache.spark.sql.types.ShortType => true
      case _: org.apache.spark.sql.types.IntegerType => true
      case _: org.apache.spark.sql.types.LongType => true
      case _ => false
    })
    // ONE bounded collect decides the path AND carries the edges: the
    // previous pin+count+collect sequence ran three driver actions
    // (localCheckpoint job, count job, collect job) over the same
    // metadata-scale residue before any labeling work started. The
    // limit+1 probe detects overflow; only past the driver bound (or
    // for non-integral ids) does the distributed path pay its own
    // checkpoint+count, and there the star rounds dominate anyway.
    // The cap clamps BEFORE the +1: a Long.MaxValue "unbounded"
    // sentinel must not overflow to limit(0) (an empty labeling), and
    // past Int.MaxValue-2 the path check compares against the clamped
    // cap so a truncated probe still takes the distributed path.
    val cap = math.min(driverEdgeLimit, (Int.MaxValue - 2).toLong)
    val probe =
      if (integralIds)
        e0.select(col("u").cast("long"), col("v").cast("long"))
          .limit(cap.toInt + 1)
          .collect()
      else Array.empty[org.apache.spark.sql.Row]
    if (integralIds && probe.length <= cap) {
      // metadata-scale edge set: union–find with path compression on
      // the driver — identical output contract to the star fixpoint
      // (one row per node appearing in an edge, component = min id
      // reachable)
      val arr = probe.map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val n = parent(c); parent(c) = r; c = n
        }
        r
      }
      arr.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) { // union toward the smaller root: min id wins
          if (ru < rv) parent(rv) = ru else parent(ru) = rv
        }
      }
      val nodes = arr.iterator.flatMap(p => Iterator(p._1, p._2))
        .toSet.toSeq
      import spark.implicits._
      // cast back to the INPUT id type: the collect widened to Long,
      // and the distributed path preserves the input type — the
      // output schema must not depend on which path the edge count
      // happened to pick
      val idType = e0.schema("u").dataType
      return nodes.map(n => (n, find(n))).toDF("id", "component")
        .select(col("id").cast(idType).as("id"),
          col("component").cast(idType).as("component"))
    }
    // distributed path (non-integral ids or past the driver bound):
    // the iteration is latency-bound (tiny checkpointed edge sets,
    // many sequential jobs), so each pass runs the MINIMUM of driver
    // actions: one materialize+count, the previous count carried in a
    // var, and the (join-shaped) set-equality confirm only when the
    // cheap count check already agrees
    var e = e0.localCheckpoint()
    var eCount = e.count()
    var iter = 0
    var converged = eCount == 0
    while (iter < maxIter && !converged) {
      // arcs stay (u > v)-oriented after each pass, so smallStar can
      // consume largeStar's output directly. (Unrolling two star
      // rounds per checkpoint was MEASURED SLOWER at 100× — 57 s vs
      // 25 s: the fused four-join plan compounds shuffle stages
      // super-linearly, while per-round checkpoints keep every stage
      // shallow. One round per materialization is the right grain.)
      val next = smallStar(largeStar(e)).localCheckpoint()
      val nextCount = next.count()
      converged = nextCount == eCount &&
        next.except(e).limit(1).isEmpty
      e = next
      eCount = nextCount
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter star rounds")
    // fixpoint is a star forest: every arc is (member, root)
    e.select(col("u").as("id"), col("v").as("component"))
      .unionByName(e.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }
}
