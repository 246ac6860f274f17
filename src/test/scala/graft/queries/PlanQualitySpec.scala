package graft.queries

import graft.SparkSpec

/** Plan-shape regression guards: the scale properties that make these
  * queries viable at 100 TB, asserted against the actual physical
  * plans so a refactor can't silently reintroduce a scan without
  * pushdown, a shuffled dimension join, or an all-pairs product. */
class PlanQualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q01 scan gets the date filter pushed down + partial aggregation") {
    val p = plan(Relational.q01(spark, dir))
    val scan = p.linesIterator.find(_.contains("PushedFilters"))
      .getOrElse("")
    assert(scan.contains("l_shipdate"),
      s"filter must reach the parquet reader: $scan")
    assert(p.contains("HashAggregate"),
      "aggregation must be hash-based (map-side combinable)")
  }

  test("q04 joins the dimensions via broadcast, not shuffle") {
    val p = plan(Relational.q04(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(400))
  }

  test("q36 brute-force ANN is broadcast + scan, no cartesian product") {
    val p = plan(EmbeddingQ.q36(spark, dir))
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be TakeOrdered, not a global sort")
  }

  test("q35/q37 pair joins are key-blocked, never all-pairs") {
    for (q <- Seq(TextQ.q35(spark, dir), EmbeddingQ.q37(spark, dir))) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), p.take(400))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(400))
    }
  }

  test("q31 exact dedup aggregates without any join") {
    val p = plan(TextQ.q31(spark, dir))
    assert(!p.contains("Join"), "hash-groupBy dedup needs no join")
    assert(p.contains("HashAggregate"))
  }

  test("q60 hash split is a joinless scan-speed projection") {
    val p = plan(TextQ.q60(spark, dir))
    assert(!p.contains("Join"), "split assignment must not join")
    assert(p.contains("HashAggregate"))
  }

  test("q62 mix prefix is TakeOrdered, not a global sort or window") {
    val p = plan(TextQ.q62(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      "prefix read must be TakeOrdered")
    // the only window is the per-source rank; a global row_number
    // would show as a Window over an empty partition spec (single
    // task at scale)
    val windows = p.linesIterator.filter(_.contains("Window"))
      .mkString("\n")
    assert(!windows.contains("partitionspec=[]") &&
      windows.contains("source"), windows)
  }

  test("q66 stratified sample is a joinless scan-speed filter") {
    val p = plan(TextQ.q66(spark, dir))
    assert(!p.contains("Join"), "per-row bucket filter must not join")
    assert(p.contains("HashAggregate"))
  }

  test("q67 df-prune broadcasts the common set; corpus never shuffles") {
    val p = plan(TextQ.q67(spark, dir))
    // the only join is the 1-row common-set broadcast back onto the
    // corpus — a shuffled join here would move the whole corpus
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(!p.contains("SortMergeJoin"),
      "corpus-side shuffle join is the 100TB failure mode")
  }

  test("q68/q69 per-row ops are shuffle-free scans") {
    for (q <- Seq(TextQ.q68(spark, dir), EmbeddingQ.q69(spark, dir))) {
      val p = plan(q)
      assert(!p.contains("Join"), p.take(400))
      // one final global sort for the deterministic output order is
      // fine; no aggregation/window shuffle beyond it
      assert(!p.contains("Window") && !p.contains("HashAggregate"),
        p.take(400))
    }
  }

  test("q72 semantic decontamination broadcasts the eval vectors") {
    val p = plan(EmbeddingQ.q72(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"eval side must broadcast: ${p.take(400)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"),
      "per-vector max must partial-aggregate before the shuffle")
  }

  test("q63 decontamination broadcasts the eval set") {
    val p = plan(TextQ.q63(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"eval shingles must broadcast: ${p.take(400)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q74 bloom prefilter sits in the scan stage before the join") {
    val p = plan(TextQ.q74(spark, dir))
    assert(p.contains("might_contain"),
      s"bloom probe must be planted: ${p.take(400)}")
    assert(p.contains("BroadcastHashJoin"),
      "exact verify must broadcast the eval ids")
    assert(!p.contains("CartesianProduct"))
    // the probe must filter BEFORE the exchange: no bloom reference
    // may appear above the first shuffle boundary
    val firstExchange = p.indexOf("Exchange")
    val probeAt = p.indexOf("might_contain")
    assert(firstExchange == -1 || probeAt > firstExchange,
      "bloom filter must run scan-side (plans print top-down, so the " +
        s"probe should appear BELOW the topmost exchange): $probeAt vs " +
        s"$firstExchange")
  }

  test("q75 invariant check: no corpus self-join, centroids broadcast") {
    val p = plan(EmbeddingQ.q75(spark, dir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNested"),
      s"the 8-row centroid frame must broadcast:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin"),
      "the agreement check must ride the assignment frame, " +
        "never a corpus-to-corpus shuffle join")
  }

  test("q79 outlier filter broadcasts cluster stats; sums are decimal") {
    val q = EmbeddingQ.q79(spark, dir)
    val p = plan(q)
    assert(p.contains("BroadcastHashJoin"),
      s"the 8-row stats frame must broadcast:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin"),
      "corpus must never shuffle against the stats frame")
    // the overflow-proof arithmetic must actually be decimal in the plan
    assert(p.toLowerCase.contains("decimal(38,0)"),
      "cluster-mean comparison must run in DECIMAL(38,0)")
  }

  test("q76 BPE pair counting aggregates without any join") {
    val p = plan(TextQ.q76(spark, dir))
    assert(!p.contains("Join"), "pair counting must not join")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "pair counts must partial-aggregate map-side")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must be TakeOrdered, not a global sort")
  }

  test("q78 cluster sampling is projection + filter + aggregation") {
    val p = plan(EmbeddingQ.q78(spark, dir))
    assert(!p.contains("Join"),
      "centroid assignment must be a literal projection, not a join")
    assert(p.contains("HashAggregate"))
  }

  test("q81/q82/q83 incremental dedup joins are key-blocked, never all-pairs") {
    // calling the query fns builds their temp fingerprint/signature/
    // vector indexes eagerly; the returned batch-2 frame is what we
    // audit
    // (query, does the index probe use a LeftSemi? q81's exact probe
    // is an inner broadcast join on the fingerprint; q82/q83 semi-join
    // their band/bucket indexes)
    for ((q, semi) <- Seq(TextQ.q81(spark, dir) -> false,
        // q82's semi-probe is pinned (localCheckpoint) since the r16
        // optimization round — the probe runs once at pin time and the
        // returned frame reads the pinned subset (ExistingRDD), so the
        // LeftSemi no longer appears in THIS plan; the shared probe
        // shape stays guarded by q83/q84 below and by the pin check
        TextQ.q82(spark, dir) -> false,
        EmbeddingQ.q83(spark, dir) -> true,
        EmbeddingQ.q84(spark, dir) -> true)) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), p.take(400))
      assert(!p.contains("BroadcastNestedLoopJoin"),
        "index lookups must be equi-joins on fingerprint/band_key/bval")
      // THE INDEX NEVER SHUFFLES: the batch's (bounded) key set
      // broadcasts and the index streams through a hash-probe join — a
      // regression to exchanging the index would plan a SortMergeJoin
      // probe instead of a broadcast one
      assert(p.contains("BroadcastHashJoin"),
        "index probe must be a broadcast hash join: " + p.take(600))
      if (semi) assert(p.contains("LeftSemi"),
        "band/bucket index probe must be a semi-join: " + p.take(600))
    }
    // the pinned probed subset must feed q82's pair core exactly once:
    // a regression re-inlining the index read would resurface parquet
    // scans of the index in place of the ExistingRDD pin
    assert(plan(TextQ.q82(spark, dir)).contains("ExistingRDD"),
      "q82 pair core must read the pinned probe subset")
  }
  test("q95 importance scoring broadcasts the bounded feature table") {
    val p = plan(TextQ.q95(spark, dir))
    // the 2^16-bounded weight table must broadcast into the scoring
    // join: a SortMergeJoin on fid would shuffle every bigram position
    // of the corpus by feature — the 100 TB failure mode
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(400))
    val smj = p.linesIterator.count(_.contains("SortMergeJoin"))
    assert(smj == 0, s"corpus must never shuffle by feature id: $smj SMJs")
  }

  test("q104 semdedup pair join is cell-blocked, never all-pairs") {
    val p = plan(EmbeddingQ.q104(spark, dir))
    // the pair join must key on the k-means cell id — a nested-loop
    // or cartesian here is the O(n²) all-pairs failure mode
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "pair join must be an equi-join on the cell id: " + p.take(600))
  }

  test("topFraction never range-shuffles the corpus; stored scores push down") {
    // the whole point of the op: the naive formulation is a global
    // sort (rangepartitioning exchange) — the sortless plan must have
    // none, and with a STORED integer score the literal threshold
    // must reach the parquet reader
    val kept = graft.ext.Sampling.topFraction(
      graft.Tables(spark, dir, "documents"), "n_chars", "doc_id", 1, 10)
    val p = plan(kept)
    assert(!p.contains("rangepartitioning"),
      "top-fraction must not global-sort the corpus: " + p.take(600))
    val scans = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(scans.exists(_.contains("GreaterThan(n_chars")),
      s"stored-score threshold must reach the scan: $scans")
  }

  test("q107 incremental semdedup: cell-blocked pairs, broadcast cell probe") {
    val p = plan(EmbeddingQ.q107(spark, dir))
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "pair join must be an equi-join on the cell id: " + p.take(600))
    // the index never shuffles: batch cell ids broadcast, the index
    // streams through a semi-join probe
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(p.contains("LeftSemi"),
      "cell index probe must be a semi-join: " + p.take(600))
  }

  test("q103 perplexity scoring broadcasts both LM tables and the cuts") {
    val p = plan(TextQ.q103(spark, dir))
    // both bounded LM count tables broadcast into the per-position
    // scoring joins, and the one-row threshold frame broadcasts back
    // onto the scored docs — the corpus never shuffles by feature id,
    // and nothing is a cartesian product
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(400))
    val smj = p.linesIterator.count(_.contains("SortMergeJoin"))
    assert(smj == 0, s"corpus must never shuffle by feature id: $smj SMJs")
  }

  // the three guards below assert on the OPERATOR frames (no final
  // presentation orderBy — that sort is the oracle-determinism step
  // of the query wrapper, not part of the op)

  test("classifier scoring broadcasts the model; no feature SMJ") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables(spark, dir, "documents")
    val w = graft.ext.Classifier.train(docs, "doc_id",
      col("lang") === "en", iters = 1)
    val p = plan(graft.ext.Classifier.score(docs, "doc_id", w))
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(400))
    // the only allowed SMJ is the per-doc re-join of scores to the
    // corpus (two corpus-sized sides keyed on id); the FEATURE join
    // must broadcast, never shuffle the pair frame by fid
    assert(p.linesIterator.count(_.contains("SortMergeJoin")) <= 1, p)
  }

  test("budget mix: alloc broadcasts; corpus never range-shuffles") {
    import org.apache.spark.sql.functions.{col, expr}
    val docs = graft.Tables(spark, dir, "documents")
    val toks = graft.ext.TextAnalysis.tokenCount(col("text")).cast("long")
    val weights = docs.select(col("source").as("stratum")).distinct()
      .withColumn("wt", expr("CAST(substring(stratum, 4) AS BIGINT) % 4 + 1"))
    val p = plan(graft.ext.Sampling.budgetMix(docs, "doc_id", "source",
      toks, weights, budget = 1000L))
    assert(!p.contains("rangepartitioning"),
      "running totals come from the bucket histogram, not a sort")
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(p.contains("BroadcastHashJoin"),
      "the strata-bounded alloc frame must broadcast")
  }

  test("rank-normalize never range-shuffles the corpus") {
    import org.apache.spark.sql.functions.expr
    val docs = graft.Tables(spark, dir, "documents")
      .withColumn("score", expr("n_chars % 100"))
    val p = plan(graft.ext.Sampling.rankNormalize(docs, "source", "score"))
    assert(!p.contains("rangepartitioning"),
      "ranks come from the score histogram, not a per-stratum sort")
    assert(!p.contains("CartesianProduct"), p.take(400))
  }

  test("q116/q119 hard negatives reduce via aggregate, not a window") {
    for (q <- Seq(EmbeddingQ.q116(spark, dir),
        EmbeddingQ.q119(spark, dir))) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), p.take(400))
      assert(p.contains("ObjectHashAggregate") ||
        p.contains("HashAggregate"),
        "top-k must reduce via the k-bounded aggregate")
    }
  }

  test("tokenEntropy is joinless scan + key-local aggregation") {
    val docs = graft.Tables(spark, dir, "documents")
    val p = plan(graft.ext.TextAnalysis.tokenEntropy(docs, "doc_id"))
    assert(!p.contains("Join"),
      "entropy is per-doc state only; a join means a regression")
    assert(p.contains("HashAggregate"))
  }

  test("winnowFingerprints is joinless and shuffle-free (array-local)") {
    val docs = graft.Tables(spark, dir, "documents")
    val p = plan(graft.ext.Dedup.winnowFingerprints(docs, "doc_id"))
    assert(!p.contains("Join"),
      "winnow selection builds inside the row; a join is a regression")
    assert(!p.contains("Exchange"),
      "no shuffle: hashes, window argmins and selection are row-local")
  }

  test("skew-aware salted join: detection output broadcasts; " +
      "small side joins by hash") {
    import org.apache.spark.sql.functions._
    val li = graft.Tables(spark, dir, "lineitem")
      .select(col("l_partkey").as("partkey"), col("l_quantity"))
    val part = graft.Tables(spark, dir, "part")
      .select(col("p_partkey").as("partkey"), col("p_type"))
    val p = plan(graft.ext.Skew.saltedJoinSkewAware(
      li, part, "partkey", salts = 4, knownHot = Some(Seq(1L))))
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      "the dimension side must not force a corpus-wide sort-merge")
  }

  test("weighted pagerank iteration: contribution join is key-local, " +
      "no product") {
    import org.apache.spark.sql.functions._
    val e = spark.range(0, 200)
      .select((col("id") % 50).as("src"), ((col("id") * 7) % 50).as("dst"),
        (col("id") % 9 + 1).as("w"))
      .filter(col("src") =!= col("dst"))
    val p = plan(graft.ext.Graph.pageRankWeighted(e, "src", "dst", "w",
      iters = 1))
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(400))
  }

  test("stupid backoff scoring: key-local count joins, no product, " +
      "partial-aggregated training") {
    val docs = graft.Tables(spark, dir, "documents")
    val p = plan(graft.ext.TextAnalysis.stupidBackoff(docs, "doc_id"))
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(400))
    assert(p.contains("HashAggregate"),
      "count-table training must be hash-aggregated (map-side combine)")
  }

  test("uniMax: alloc broadcasts; corpus never range-shuffles") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables(spark, dir, "documents")
    val toks = graft.ext.TextAnalysis.tokenCount(col("text")).cast("long")
    val p = plan(graft.ext.Sampling.uniMax(docs, "doc_id", "lang",
      toks, budget = 1000L))
    assert(!p.contains("rangepartitioning"),
      "running totals come from the bucket histogram, not a sort")
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(p.contains("BroadcastHashJoin"),
      "the strata-bounded alloc frame must broadcast")
  }

  test("labelPropagate: knn reduces via aggregate; vote join broadcasts") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables(spark, dir, "embeddings")
    val p = plan(graft.ext.Similarity.labelPropagate(
      emb.filter(col("vec_id") % 17 === 0),
      emb.filter(col("vec_id") % 17 =!= 0),
      "vec_id", "vec_id", "label", k = 5))
    assert(!p.contains("CartesianProduct"), p.take(400))
    assert(!p.contains("SortMergeJoin"),
      "the |Q|·k winner rows broadcast back to the label lookup; " +
        "an SMJ means the corpus is being shuffled")
  }

  test("materialized near-dup consumers read stored tables, never " +
      "re-run MinHash/LSH/verify") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
    val out = QueryDef.scratchDir("plan_neardup")
    graft.ext.Dedup.writeNearDupResult(
      graft.ext.Dedup.near(docs, "text", "doc_id"), out)
    val res = graft.ext.Dedup.readNearDupResult(spark, out, docs,
      "doc_id")
    for ((label, df) <- Seq(
      "canonical" -> graft.ext.Dedup.canonicalByQuality(res, docs,
        "doc_id", "n_chars"),
      "positives" -> graft.ext.Dedup.positivePairs(res),
      "split" -> graft.ext.Sampling.clusterSplit(
        docs.select(col("doc_id")), "doc_id", res.components))) {
      val p = plan(df)
      assert(!p.contains("minhash_sig") && !p.contains("shingle_ids"),
        s"$label must consume the STORED result, not re-run the " +
          s"pipeline:\n${p.take(500)}")
    }
  }

  test("chrF: pair-touched docs only, no cartesian, broadcast joins " +
      "for the pair frame") {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id")
    val p = plan(graft.ext.TextAnalysis.chrF(docs, pairs, "doc_id"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(500))
    assert(p.contains("BroadcastHashJoin"),
      "the bounded pair frame must broadcast")
  }

  test("incremental profile read: the corpus is never scanned") {
    val tbl = tmpDir("plan_profidx")
    graft.ext.Profile.profileAppend(
      graft.Tables(spark, dir, "documents"), tbl,
      Seq("doc_id", "lang"))
    val p = plan(graft.ext.Profile.profileRead(spark, tbl))
    assert(!p.contains("documents"),
      s"profileRead must serve from stored partials only:\n" +
        p.take(500))
  }

  test("kmv sketch: one shuffle, map-side partial aggregation, no join") {
    val li = graft.Tables(spark, dir, "lineitem")
    val p = plan(graft.ext.Sketch.kmvSketch(li, "l_partkey", 256,
      Seq("l_returnflag")))
    assert(!p.contains("Join"), "the sketch is a pure aggregation")
    assert(p.contains("ObjectHashAggregate"),
      "kmv_hashes must partial-aggregate (k-bounded map-side state)")
    assert(p.split("Exchange").length - 1 == 1,
      "exactly one shuffle: the k-bounded partials on the group key\n" +
        p.take(600))
  }

  test("funnel: one user_id shuffle feeds all three window passes") {
    val p = plan(EventsQ.q188(spark, dir))
    assert(!p.contains("Join"), "the funnel is windows + folds, joinless")
    assert(p.split("Exchange hashpartitioning").length - 1 == 1,
      "the three stacked windows and the per-user fold must all ride " +
        "ONE user_id exchange (the singleton/range exchanges on the " +
        "3-row tail are free)\n" + p.take(800))
  }

  test("event paths: user shuffle + path-bounded count, TakeOrdered") {
    val p = plan(EventsQ.q194(spark, dir))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"))
    assert(p.contains("TakeOrderedAndProject"),
      "top-10 paths must be a TakeOrdered, not a global sort")
    assert(p.split("Exchange hashpartitioning").length - 1 <= 2,
      "user_id shuffle + the path-cardinality-bounded count only\n" +
        p.take(800))
  }

  test("rate anomaly: joinless; moments ride the tiny hour frame") {
    val p = plan(EventsQ.q195(spark, dir))
    assert(!p.contains("Join"), "moments come from windows, not joins")
  }

  test("weighted sample: no shuffle at all, just TakeOrdered(k)") {
    val docs = graft.Tables(spark, dir, "documents")
    val p = plan(graft.ext.Sampling
      .weightedSampleK(docs, "doc_id", "n_chars", 10))
    assert(p.contains("TakeOrderedAndProject"),
      "A-Res top-k must reduce via TakeOrdered")
    assert(!p.contains("Exchange hashpartitioning"),
      "the sampler is a narrow projection — nothing repartitions\n" +
        p.take(600))
  }

  test("perceptual-hash pairs: optimizer-blowup budget + pinned hash " +
      "(the q199 multiplicative-inlining guard, ROUND15_NOTES §3)") {
    // total expression-tree size of the OPTIMIZED plan: the staged
    // single-binding lambda form keeps it linear (~10³); a chained
    // withColumn rewrite lets CollapseProject inline the token split
    // into all 72 grid cells and the grid into all 126 bit
    // references — measured at ~10⁷ nodes (a 40-minute optimizer
    // hang at sf0.1). The budget is ~20× the current size, far
    // below one inlining level.
    def exprNodes(e: org.apache.spark.sql.catalyst.expressions
        .Expression): Long = 1L + e.children.map(exprNodes).sum
    def planBudget(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.optimizedPlan
        .collect { case p => p.expressions.map(exprNodes).sum }.sum
    for (name <- Seq("q196_image_dhash", "q199_audio_fingerprint")) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val n = planBudget(df)
      assert(n < 20000,
        s"$name optimized plan carries $n expression nodes — the " +
          "single-binding staging or the localCheckpoint pin " +
          "regressed (multiplicative inlining class)")
      // the pin: the banded self-join must consume a MATERIALIZED
      // hash (LogicalRDD from localCheckpoint) — no md5/hash
      // recompute may survive into the pair path, or every PAIR
      // re-evaluates a per-DOC value on both sides
      val p = df.queryExecution.optimizedPlan.toString
      assert(!p.contains("md5("),
        s"$name pair path recomputes the hash per pair:\n" +
          p.take(800))
    }
  }

}
