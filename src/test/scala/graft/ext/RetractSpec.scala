package graft.ext

import graft.SparkSpec
import graft.sink.CdcTable

/** Index retraction under corpus deletes (the right-to-be-forgotten
  * composition, r12 verdict #2): every kept-only similarity index
  * kind must stop treating deleted content as live duplicates —
  * delete → re-ingest of the same content is KEPT — while surviving
  * history still dedups. One contract test per index kind, the loud
  * rejection for unsubtractable kinds, the SQL surface, and the
  * materialized-artifact composition. */
class RetractSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and " +
    "runs far away into the deep green forest tonight while stars shine"
  private val other = "completely different words describing graphs " +
    "and engines spark catalyst tungsten shuffle partitions exchange"

  test("exact index: retracting the keeper makes its content novel " +
      "again; surviving keepers still dedup") {
    val idx = tmpDir("ret_exact")
    Dedup.exactIncremental(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"),
      "text", "doc_id", idx)
    assert(Dedup.retractIndex(spark, idx, Seq(1L).toDF("doc_id")) == 1L)
    val r = Dedup.exactIncremental(
      Seq((10L, base), (11L, other)).toDF("doc_id", "text"),
      "text", "doc_id", idx)
      .select("doc_id", "keep_id", "is_duplicate")
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> t).toMap
    assert(r(10L) == ((10L, 10L, false)),
      s"retracted content must be KEPT: ${r(10L)}")
    assert(r(11L) == ((11L, 2L, true)),
      s"surviving keeper must still win: ${r(11L)}")
  }

  test("band signature index: retracted docs pair with nothing; " +
      "survivors still match") {
    val idx = tmpDir("ret_band")
    Dedup.nearIncremental(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"),
      "text", "doc_id", idx, maxBandDocFreq = Some(Int.MaxValue))
    val n = Dedup.retractIndex(spark, idx, Seq(1L).toDF("doc_id"))
    assert(n == 4L, s"all 4 band rows of doc 1 removed, got $n")
    val pairs = Dedup.nearIncremental(
      Seq((10L, base + " extra"), (11L, other + " coda"))
        .toDF("doc_id", "text"),
      "text", "doc_id", idx, maxBandDocFreq = Some(Int.MaxValue))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(!pairs.exists(p => p._1 == 1L || p._2 == 1L),
      s"retracted doc must not pair: $pairs")
    assert(pairs.contains((2L, 11L)), s"survivor must still match: $pairs")
  }

  test("winnow fingerprint index: retraction removes the doc's fps") {
    val idx = tmpDir("ret_winnow")
    Dedup.winnowIncremental(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"),
      "text", "doc_id", idx, threshold = 0.5,
      maxFpDocFreq = Some(Int.MaxValue))
    assert(Dedup.retractIndex(spark, idx, Seq(1L).toDF("doc_id")) > 0L)
    val pairs = Dedup.winnowIncremental(
      Seq((10L, base), (11L, other)).toDF("doc_id", "text"),
      "text", "doc_id", idx, threshold = 0.5,
      maxFpDocFreq = Some(Int.MaxValue))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(!pairs.exists(p => p._1 == 1L || p._2 == 1L),
      s"retracted doc must not pair: $pairs")
    assert(pairs.contains((2L, 11L)), s"survivor must still match: $pairs")
  }

  test("dup-substring window index: retraction removes the doc's " +
      "windows so its runs stop flagging new arrivals") {
    val run = (1 to 10).map(i => s"r$i").mkString(" ")
    val idx = tmpDir("ret_wid")
    Dedup.dupSubstringIncremental(
      Seq((1L, s"a1 a2 $run a3")).toDF("doc_id", "text"),
      "text", "doc_id", idx, l = 8)
    // 13 tokens → 6 sliding windows, all distinct
    assert(Dedup.retractIndex(spark, idx, Seq(1L).toDF("doc_id")) == 6L)
    val got = Dedup.dupSubstringIncremental(
      Seq((10L, s"b1 $run")).toDF("doc_id", "text"),
      "text", "doc_id", idx, l = 8)
      .as[(Long, Long, Long, Long, Option[Double])].collect()
    assert(got.head._4 == 0L,
      s"retracted doc's runs must not flag new copies: ${got.head}")
  }

  test("vector index: retraction removes the embedding's bucket rows") {
    val idx = tmpDir("ret_vec")
    Similarity.nearDupIncremental(
      Seq((1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.0f, 1.0f, 0.0f)))
        .toDF("vec_id", "embedding"),
      "vec_id", 0.85, idx)
    assert(Dedup.retractIndex(spark, idx, Seq(1L).toDF("id")) == 1L)
    val pairs = Similarity.nearDupIncremental(
      Seq((10L, Array(0.95f, 0.05f, 0.0f)),
        (11L, Array(0.05f, 0.95f, 0.0f))).toDF("vec_id", "embedding"),
      "vec_id", 0.85, idx)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(!pairs.exists(p => p._1 == 1L || p._2 == 1L),
      s"retracted vector must not pair: $pairs")
    assert(pairs.contains((2L, 11L)), s"survivor must still match: $pairs")
  }

  test("SemDeDup exemplar index: a retracted exemplar's copy is kept " +
      "and becomes the cell's new exemplar") {
    val cents = Seq(0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0f, 1f, 0f, 0f))
    val idx = tmpDir("ret_sem")
    Similarity.semDedupIncremental(
      Seq((1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0f, 1f, 0f, 0f)))
        .toDF("vec_id", "embedding"),
      "vec_id", 0.85, cents, idx)
    assert(Dedup.retractIndex(spark, idx, Seq(1L).toDF("id")) == 1L)
    val p = Similarity.semDedupIncremental(
      Seq((10L, Array(0.98f, 0.02f, 0f, 0f)),
        (11L, Array(0.02f, 0.98f, 0f, 0f))).toDF("vec_id", "embedding"),
      "vec_id", 0.85, cents, idx)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(!p.exists(t => t._1 == 1L || t._2 == 1L),
      s"retracted exemplar must not drop new arrivals: $p")
    assert(p.contains((2L, 11L)), s"surviving exemplar still dedups: $p")
    assert(CdcTable.read(spark, idx).select("id").as[Long]
      .collect().toSet == Set(2L, 10L),
      "the re-ingested copy takes the retracted exemplar's slot")
  }

  test("exact index keeper re-election: a retracted keeper with " +
      "surviving duplicates hands its slot to the min survivor") {
    val idx = tmpDir("ret_reelect")
    // 1 and 2 and 5 share content; 3 is unique; 1 (the keeper) and
    // 3 get deleted — content of 1 survives via 2/5, content of 3
    // leaves the corpus entirely
    val docs = Seq((1L, base), (2L, base), (3L, other), (5L, base))
      .toDF("doc_id", "text")
    Dedup.exactIncremental(docs, "text", "doc_id", idx)
    val survivors = docs.filter($"doc_id" =!= 1L && $"doc_id" =!= 3L)
    assert(Dedup.retractIndex(spark, idx, Seq(1L, 3L).toDF("doc_id"),
      reelectFrom = Some((survivors, "doc_id", "text"))) == 2L)
    // the index is exactly the recreate-from-current-state index
    assert(CdcTable.read(spark, idx).select("keep_id").as[Long]
      .collect().toSet == Set(2L),
      "fingerprint of surviving content re-elects min survivor (2); " +
        "fully-deleted content leaves the index")
    // re-ingest: surviving content DROPS against the re-elected
    // keeper, fully-deleted content is novel again
    val r = Dedup.exactIncremental(
      Seq((10L, base), (11L, other)).toDF("doc_id", "text"),
      "text", "doc_id", idx)
      .select("doc_id", "keep_id", "is_duplicate")
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> t).toMap
    assert(r(10L) == ((10L, 2L, true)),
      s"still-duplicated content must DROP against the re-elected " +
        s"keeper: ${r(10L)}")
    assert(r(11L) == ((11L, 11L, false)),
      s"fully-deleted content must be KEPT: ${r(11L)}")
    // per-doc index kinds reject the parameter loudly
    val bidx = tmpDir("ret_reelect_band")
    Dedup.nearIncremental(docs, "text", "doc_id", bidx,
      maxBandDocFreq = Some(Int.MaxValue))
    val e = intercept[IllegalArgumentException] {
      Dedup.retractIndex(spark, bidx, Seq(1L).toDF("doc_id"),
        reelectFrom = Some((survivors, "doc_id", "text")))
    }
    assert(e.getMessage.contains("exact fingerprint index"),
      e.getMessage)
  }

  test("GRAFT RETRACT INDEX … REELECT FROM: the SQL surface of " +
      "keeper re-election, both literal and tombstone forms") {
    val docs = Seq((1L, base), (2L, base), (3L, other))
      .toDF("doc_id", "text")
    val corpus = tmpDir("ret_sql_corpus")
    CdcTable.append(docs.filter($"doc_id" =!= 1L), corpus,
      partitionBy = Nil)
    val idx = tmpDir("ret_sql_reelect")
    Dedup.exactIncremental(docs, "text", "doc_id", idx)
    assert(spark.sql(s"GRAFT RETRACT INDEX '$idx' IDS (1) " +
        s"REELECT FROM '$corpus' ID doc_id TEXT text")
      .as[Long].head() == 1L)
    assert(CdcTable.read(spark, idx).select("keep_id").as[Long]
      .collect().toSet == Set(2L, 3L))
    // tombstone form with re-election
    val idx2 = tmpDir("ret_sql_reelect2")
    Dedup.exactIncremental(docs, "text", "doc_id", idx2)
    val tomb = tmpDir("ret_sql_reelect_tomb")
    CdcTable.append(Seq(1L).toDF("doc_id"), tomb, partitionBy = Nil)
    assert(spark.sql(s"GRAFT RETRACT INDEX '$idx2' FROM '$tomb' " +
        s"ID doc_id REELECT FROM '$corpus' ID doc_id TEXT text")
      .as[Long].head() == 1L)
    assert(CdcTable.read(spark, idx2).select("keep_id").as[Long]
      .collect().toSet == Set(2L, 3L))
  }

  test("lexical index: retraction removes the doc from BM25 probes " +
      "AND fixes df/totals — ranks equal a recreate from survivors") {
    val idx = tmpDir("ret_lex")
    val docs = Seq(
      (1L, "spark shuffle exchange " + base),
      (2L, "spark catalyst " + other),
      (3L, "spark shuffle partitions wide and narrow transforms"))
      .toDF("doc_id", "text")
    TextAnalysis.lexicalIndexAppend(docs, idx, "doc_id",
      txn = Some(("t", 1L)))
    val n = Dedup.retractIndex(spark, idx, Seq(1L).toDF("doc_id"))
    assert(n > 0L, "posting rows must be removed")
    val got = TextAnalysis
      .probeLexicalTable(spark, idx, "spark shuffle", k = 10)
      .select("id", "n_terms_hit", "score_fp")
      .as[(Long, Long, Long)].collect().toSeq
    assert(!got.exists(_._1 == 1L),
      s"retracted doc must never surface in retrieval: $got")
    // bit-identical to an index recreated from the SURVIVING corpus:
    // df and avgdl reflect the post-delete state, not just a filter
    val fresh = tmpDir("ret_lex_fresh")
    TextAnalysis.lexicalIndexAppend(
      docs.filter($"doc_id" =!= 1L), fresh, "doc_id",
      txn = Some(("t", 1L)))
    val want = TextAnalysis
      .probeLexicalTable(spark, fresh, "spark shuffle", k = 10)
      .select("id", "n_terms_hit", "score_fp")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == want, s"$got vs recreate $want")
    // retracting ids with no postings is a no-op, not an error
    assert(Dedup.retractIndex(spark, idx, Seq(99L).toDF("doc_id")) == 0L)
    // crash-heal: a clobbered totals table rebuilds exactly from
    // the postings facts
    CdcTable.append(Seq((5L, 5L)).toDF("n_docs", "tot_len"),
      s"$idx/totals", partitionBy = Nil)
    TextAnalysis.rebuildLexicalTotals(spark, idx)
    val healed = TextAnalysis
      .probeLexicalTable(spark, idx, "spark shuffle", k = 10)
      .select("id", "n_terms_hit", "score_fp")
      .as[(Long, Long, Long)].collect().toSeq
    assert(healed == want, s"healed $healed vs $want")
  }

  test("a non-castable id rejects loudly instead of silently " +
      "no-oping the compliance delete") {
    val idx = tmpDir("ret_cast")
    Dedup.exactIncremental(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"),
      "text", "doc_id", idx)
    val e = intercept[IllegalArgumentException] {
      Dedup.retractIndex(spark, idx,
        Seq("not-a-long").toDF("doc_id"))
    }
    assert(e.getMessage.contains("do not cast"), e.getMessage)
    // nothing was deleted by the failed call
    assert(CdcTable.read(spark, idx).count() == 2L)
  }

  test("unsubtractable kinds reject loudly") {
    val idx = tmpDir("ret_prof")
    Profile.profileAppend(Seq((1L, "a")).toDF("id", "s"), idx,
      Seq("id", "s"))
    val e = intercept[IllegalArgumentException] {
      Dedup.retractIndex(spark, idx, Seq(1L).toDF("id"))
    }
    assert(e.getMessage.contains("not") &&
      e.getMessage.contains("subtractable"), e.getMessage)
  }

  test("GRAFT RETRACT INDEX: SQL surface with literal ids (cast to " +
      "the stored key type) returns the removed row count") {
    val idx = tmpDir("ret_sql")
    Dedup.exactIncremental(
      Seq((1L, base), (2L, other), (3L, base + " x"))
        .toDF("doc_id", "text"), "text", "doc_id", idx)
    val n = spark.sql(s"GRAFT RETRACT INDEX '$idx' IDS (1, 3)")
      .as[Long].head()
    assert(n == 2L, s"two keeper rows removed, got $n")
    assert(CdcTable.read(spark, idx).select("keep_id").as[Long]
      .collect().toSeq == Seq(2L))
    // string-id form round-trips through quotes
    val sidx = tmpDir("ret_sql_str")
    Dedup.exactIncremental(
      Seq(("a", base), ("b", other)).toDF("doc_id", "text"),
      "text", "doc_id", sidx)
    assert(spark.sql(s"GRAFT RETRACT INDEX '$sidx' IDS ('a')")
      .as[Long].head() == 1L)
    // FROM-table form: ids come from a graft table (the tombstone
    // shape) — millions of ids never round-trip through SQL text
    val fidx = tmpDir("ret_sql_from")
    Dedup.exactIncremental(
      Seq((1L, base), (2L, other), (3L, base + " y"))
        .toDF("doc_id", "text"), "text", "doc_id", fidx)
    val tomb = tmpDir("ret_tomb")
    CdcTable.append(Seq(1L, 3L).toDF("_id"), tomb, partitionBy = Nil)
    assert(spark.sql(s"GRAFT RETRACT INDEX '$fidx' FROM '$tomb'")
      .as[Long].head() == 2L)
    assert(CdcTable.read(spark, fidx).select("keep_id").as[Long]
      .collect().toSeq == Seq(2L))
  }

  test("retractNearDupResult: no consumer can reference a retracted " +
      "doc; its content re-ingests as novel") {
    val docs = Seq(
      (10L, base, 60L), (11L, base + " extra", 66L),
      (12L, base.replace("quick", "rapid"), 60L),
      (13L, other, 50L)).toDF("doc_id", "text", "n_chars")
    val dir = tmpDir("ret_artifact")
    Dedup.appendNearDupResult(docs, "text", "doc_id", dir,
      estThreshold = 0.5, txn = Some(("t", 1L)),
      maxBandDocFreq = Some(Int.MaxValue))
    // 10 is the cluster keeper; retract it (right-to-be-forgotten)
    Dedup.retractNearDupResult(spark, dir, Seq(10L).toDF("doc_id"))
    val live = docs.filter($"doc_id" =!= 10L)
    val res = Dedup.readNearDupResult(spark, dir, live, "doc_id")
    val decisions = res.decisions
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> t).toMap
    assert(!decisions.values.exists(_._2 == 10L),
      s"keep_id must never point at a retracted doc: $decisions")
    // labeling equals CC over the REMAINING pairs (edge removal can
    // split components — patching labels in place would be wrong)
    val ccRef = Dedup.connectedComponents(spark, res.pairs)
      .as[(Long, Long)].collect().toMap
    val stored = res.components.select("id", "component")
      .as[(Long, Long)].collect().toMap
    assert(stored == ccRef,
      s"components must equal CC over remaining pairs: $stored vs $ccRef")
    assert(!stored.contains(10L) && !stored.values.toSet.contains(10L))
    val pairIds = res.pairs.select("a_id", "b_id")
      .as[(Long, Long)].collect().flatMap(p => Seq(p._1, p._2)).toSet
    assert(!pairIds.contains(10L), "pairs touching 10 must be gone")
    // re-ingest of the retracted content: novel again, pairs only
    // against the surviving near-dups
    Dedup.appendNearDupResult(
      Seq((20L, base, 60L)).toDF("doc_id", "text", "n_chars"),
      "text", "doc_id", dir, estThreshold = 0.5,
      txn = Some(("t", 2L)), maxBandDocFreq = Some(Int.MaxValue))
    val res2 = Dedup.readNearDupResult(spark, dir,
      live.unionByName(Seq((20L, base, 60L))
        .toDF("doc_id", "text", "n_chars")), "doc_id")
    val d2 = res2.decisions.as[(Long, Long, Boolean)].collect()
      .map(t => t._1 -> t).toMap
    assert(d2(20L)._2 == 11L && d2(20L)._3,
      s"the copy joins the SURVIVING cluster, not the absent doc: $d2")
  }
}
