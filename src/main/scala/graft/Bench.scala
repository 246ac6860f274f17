package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints the full JSON record
  * {"metric":…,"value":…,"unit":"sec","queries":{…},"sf":…,
  * "loadavg":[…],…} followed by a compact one-line summary (the
  * driver captures only a stdout tail — the short LAST line always
  * parses even when the big line's head is cut). The full record is
  * also written to SPARK_GRAFT_BENCH_OUT (default ./BENCH_LOCAL.json)
  * so a truncated stdout capture never loses the artifact. Timing
  * forces full execution via count() on the query result; per-query
  * values are min-of-3 interleaved passes (both sections) with
  * per-pass 1-min load averages recorded alongside.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // Total-wall deadline (r14 lesson: the driver killed the bench at
    // its budget mid-streaming-section and the WHOLE artifact was lost
    // because nothing parseable had printed yet). Two defenses now:
    // (1) the compact parseable summary prints IMMEDIATELY after the
    //     main query section and is re-printed (updated, last-line-
    //     wins) after every extra section — a mid-section kill keeps
    //     everything completed so far;
    // (2) each extra section is skipped outright (stamped
    //     "skipped":"deadline") when the remaining wall budget is
    //     below its estimated cost. SPARK_GRAFT_BENCH_DEADLINE_S
    //     overrides the default 3000 s.
    val benchT0 = System.currentTimeMillis()
    val deadlineS = sys.env.get("SPARK_GRAFT_BENCH_DEADLINE_S")
      .map(_.toLong).getOrElse(3000L)
    def remainingS: Long =
      deadlineS - (System.currentTimeMillis() - benchT0) / 1000L
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Self-defending against co-tenant noise (r12/r13 artifacts both
    // absorbed ~10% uniform host noise from loadavg-4–7 windows): poll
    // the 1-min loadavg BEFORE Spark comes up — the only moment it
    // reflects co-tenant load, not this bench's own 32 threads — and
    // delay the run until it drops under SPARK_GRAFT_LOAD_MAX
    // (default 2.0) or the wait cap (default 900 s, now ALSO capped at
    // deadline/6 so a noisy host can never eat the budget the query
    // passes need) elapses. Both the wait and the load the run started
    // under are stamped in the JSON, so a still-noisy artifact is
    // explicitly flagged ("quiet":false) instead of silently read as a
    // regression.
    val (quietWaitSec, loadAtStart, quiet) = waitForQuietHost(deadlineS / 6)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm the JVM + parquet footers once so the timed pass measures
    // steady-state query execution, not first-touch JIT/IO.
    Tables.all.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    // Build the write-time ANN index once here so q58 times the
    // partition-pruned PROBE, not the one-off index write.
    try { queries.EmbeddingQ.ensureIndex(spark, sfDir); () }
    catch { case _: Throwable => () }

    // failed queries record -1.0, not a fake elapsed time. Each query
    // runs three times and reports the min: the box this runs on shows
    // ±40% CPU-steal noise between runs (BENCH_r07 read 1.3-1.7×
    // slower than r6 purely from a noisy host window), and min-of-3
    // recovers the steady-state cost (the thing that scales) at ~3×
    // bench wall time. The timings come from INTERLEAVED full passes,
    // not back-to-back runs: a multi-second CPU-steal spike then lands
    // on different queries in each pass and the per-query min discards
    // it, whereas back-to-back runs let one spike poison every sample
    // of a query. Per-pass /proc/loadavg lands in the JSON so a
    // noise-poisoned artifact is self-diagnosing.
    // dev loop: SPARK_GRAFT_SF1_ONLY=1 skips the 80-query pass and
    // times only the data-bound sf1 section (the driver never sets it)
    val sf1Only = sys.env.get("SPARK_GRAFT_SF1_ONLY").contains("1")
    def pass(): Map[String, Double] =
      if (sf1Only) Map.empty
      else (SparkEntry.allDefs.map { d =>
        val t0 = System.nanoTime()
        d.name -> (
          try { d.fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case _: Throwable => -1.0 })
      } :+ ingestBench(spark)).toMap
    val loads = scala.collection.mutable.ArrayBuffer[Double]()
    def sampledPass(): Map[String, Double] = {
      loads += loadavg()
      pass()
    }
    val passes = Seq(sampledPass(), sampledPass(), sampledPass())
    loads += loadavg()
    val results =
      if (sf1Only) Seq.empty[(String, Double)]
      else (SparkEntry.allDefs.map(_.name) :+ "ingest_100k_events")
        .map { n => n -> minOf(passes.map(_(n))) }
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val loadsJson = loads.map(l => f"$l%.2f").mkString("[", ",", "]")
    val quietJson = f""""quiet":$quiet,"load_at_start":$loadAtStart%.2f,"quiet_wait_sec":$quietWaitSec%.0f"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_LOCAL.json")

    // Sections accumulate here; after EACH one completes the full
    // record is rewritten to the file and an updated compact summary
    // line is printed. The driver parses the LAST stdout line
    // (last-line-wins), and keeps only a ~2 KB tail — so the compact
    // line must stay short (no per-query maps; those live in the big
    // line + the file) and must be re-printed after every section so
    // a deadline kill mid-section still leaves everything completed
    // so far parseable.
    val sections = scala.collection.mutable.LinkedHashMap[String, String]()
    def fullRecord(): String = {
      val tail =
        if (sections.isEmpty) "" else "," + sections.values.mkString(",")
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","loadavg":$loadsJson,$quietJson,"deadline_s":$deadlineS$tail}"""
    }
    def compactLine(): String = {
      // lag/sustained are small objects — inline whole; sf1's
      // per-query map would blow the 2 KB tail, so only its file/big-
      // line record carries it and the compact line notes its status
      val sf1Note = sections.get("sf1").map { s =>
        if (s.length <= 200) s else """"sf1":"in_full_record""""
      }.getOrElse(""""sf1":"pending"""")
      val rest = (sections.filter(_._1 != "sf1").values.toSeq :+ sf1Note)
        .mkString(",")
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.length},"sf":"$sfDir","loadavg":$loadsJson,$quietJson,$rest,"full_record":"$outFile"}"""
    }
    def emit(): Unit = {
      try {
        val w = new java.io.PrintWriter(outFile)
        try w.println(fullRecord()) finally w.close()
      } catch { case _: Throwable => () }
      println(compactLine())
      System.out.flush()
    }
    // run an extra section only if the remaining wall budget covers
    // its estimated cost; otherwise stamp it skipped — a partial
    // artifact beats a killed one
    def section(name: String, estS: Long)(f: => String): Unit = {
      sections(name) =
        if (remainingS < estS) s""""$name":{"skipped":"deadline"}"""
        else try f catch {
          case t: Throwable =>
            s""""$name":{"error":"${t.getClass.getSimpleName}"}"""
        }
      emit()
    }

    // the main result is safe from this point on: big line (forensic,
    // head may be cut in the tail capture), file, compact line
    println(fullRecord())
    emit()
    section("lag", 60L) { lagSection(spark) }
    section("sustained", 120L) { sustainedSection(spark) }
    section("sf1", 600L) { sf1Section(spark, sfDir) }
    // final full line so the file and the stdout big line agree
    println(fullRecord())
    println(compactLine())
    spark.stop()
  }

  /** Verdict r13 #8 — block until the host is quiet (or the wait cap
    * elapses). Returns (seconds waited, the 1-min loadavg the run
    * proceeded under, whether that met the threshold). Runs before
    * SparkSession creation so the sampled load is co-tenant noise,
    * not this process's own executor threads. */
  private def waitForQuietHost(capS: Long): (Double, Double, Boolean) = {
    val maxLoad = sys.env.get("SPARK_GRAFT_LOAD_MAX")
      .map(_.toDouble).getOrElse(2.0)
    // flat default 900 s, but never more than the caller's cap (a
    // fraction of the total-wall deadline): a noisy host must degrade
    // to a "quiet":false artifact, not eat the query passes' budget
    val maxWaitS = math.min(capS, sys.env.get("SPARK_GRAFT_LOAD_WAIT_S")
      .map(_.toLong).getOrElse(900L))
    val t0 = System.currentTimeMillis()
    var l = loadavg()
    while (l > maxLoad &&
        (System.currentTimeMillis() - t0) / 1000L < maxWaitS) {
      System.err.println(
        f"[bench] host loadavg $l%.2f > $maxLoad%.2f — waiting for a quiet window")
      Thread.sleep(15000L)
      l = loadavg()
    }
    val waited = (System.currentTimeMillis() - t0) / 1000.0
    // loadavg() returns -1 when /proc is unreadable — treat as quiet
    // (nothing to defend against) rather than flagging every artifact
    (waited, l, l <= maxLoad)
  }

  /** 1-minute load average (first /proc/loadavg field); -1 when
    * unreadable. Recorded before every pass and once after the last,
    * so the artifact carries its own host-noise context. */
  private def loadavg(): Double =
    try java.nio.file.Files
      .readString(java.nio.file.Path.of("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Min over successful samples; -1 only when every pass failed (a
    * transient single-pass failure must not erase the two good
    * timings). */
  private def minOf(samples: Seq[Double]): Double = {
    val ok = samples.filter(_ >= 0)
    if (ok.isEmpty) -1.0 else ok.min
  }

  /** Data-bound section: the 80-query loop above is dominated by
    * fixed per-query overhead at sf0.1, so the headline queries also
    * run against a deterministic 10× scale-up (generated once into
    * /tmp and cached — see [[tools.ScaleData]]). Opt out with
    * SPARK_GRAFT_SF1=0. Failures degrade to an error note, never the
    * whole bench. */
  private def sf1Section(spark: SparkSession, sfDir: String): String = {
    if (sys.env.get("SPARK_GRAFT_SF1").contains("0"))
      return "\"sf1\":{\"skipped\":true}"
    try {
      val out = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft-sf1")
      // default 10×; SPARK_GRAFT_SF1_FACTOR lifts it for one-off
      // scale probes (e.g. 100× ≈ sf10 — the driver never sets it)
      val factor = sys.env.get("SPARK_GRAFT_SF1_FACTOR")
        .map(_.toInt).getOrElse(10)
      val genSec = tools.ScaleData.ensure(spark, sfDir, out, factor)
      // ≥15 queries spanning every family whose scaling story matters
      // (r9 verdict #7): scans/joins/aggs, text + vector dedup, AND
      // the ACID paths — MERGE, reconciliation, sessionization,
      // current-state — which were previously asserted sublinear but
      // never measured at 10×.
      val headline = Set("q01_pricing_summary", "q04_join_region_revenue",
        "q17_fact_join", "q33_ngram_jaccard", "q59_ngram_jaccard_capped",
        "q74_bloom_decontaminate", "q75_kmeans_train",
        "q82_incremental_neardup", "q83_incremental_vec_neardup",
        "q84_banded_vec_neardup",
        "q21_cdc_current_state", "q25_recon_missing_extra",
        "q27_recon_bucket_digest", "q45_merge_upsert",
        "q85_session_window", "q86_stream_agg",
        "q88_knn_join_lsh", "q89_bigram_coverage",
        "q90_knn_join_partitioned",
        // round-10 curation family: canonical selection (forces the
        // full near-dup pipeline + CC), importance resample (forces
        // the DSIR scoring pipeline — q95's count() would be
        // column-pruned to a skeleton, q96's filter forces it),
        // temperature sampling
        "q94_canonical_neardup", "q96_importance_resample",
        "q97_temperature_sample",
        // PQ encode+ADC is a corpus-wide scan (the compression path's
        // scaling row); the point probes q98/q99 are fixed-cost
        "q100_pq_adc",
        // perplexity filtering (two corpus scans + bounded-histogram
        // thresholds) and SemDeDup (cell-blocked pairs + CC over the
        // duplicate subset) — both corpus-scaling curation paths
        "q103_perplexity_buckets", "q104_semdedup",
        // incremental SemDeDup: id-split batches against the
        // kept-exemplar cell index — the streaming-dedup scaling row
        // (q110 = the large-k assignment that keeps it sub-quadratic)
        "q107_semdedup_incremental", "q110_semdedup_incr_join",
        // exact top-fraction cut: distinct-score histogram + literal
        // threshold filter — the sortless selection's scaling row
        "q106_top_fraction",
        // BPE training: 4 iterative corpus-scan rounds, state bounded
        // by the live bigram vocabulary — the trainer's scaling row
        "q108_bpe_train",
        // round-10 session additions: classifier training (3 GD
        // iterations over the id-partitioned pair frame — the
        // model-fit scaling row), budget mix (bucket-histogram
        // apportionment fill), LSH-blocked hard negatives (the
        // blocked miner; the brute baseline q116 is deliberately NOT
        // here — 194 s at 100× is the wrong configuration at scale),
        // rank normalization (score-histogram calibration)
        "q112_classifier_train", "q114_budget_mix",
        "q119_hard_negatives_lsh", "q118_rank_normalize",
        // round-10 continuation: the as-of operator (union+window
        // merge over events — one keyed shuffle), the salted join
        // (lineitem×part at 10× shows the salt replication cost stays
        // bounded), token entropy (scan + two key-local aggs). The
        // label-propagation brute baseline q127 is deliberately NOT
        // here — same O(|Q|·|C|) class as q116; its scale path is the
        // LSH-blocked neighbor stage already measured by q119.
        "q125_asof_operator", "q126_salted_join", "q128_token_entropy",
        // late continuation: novelty (shingle-df join), skip-gram
        // extraction (array-local emission), self-span dedup (fully
        // array-local — should stay flat), the lexical index
        // (write-dominated — the maintenance cost scaling row)
        "q131_ngram_novelty", "q132_skipgram_pairs",
        "q133_self_span_dedup", "q135_bm25_indexed",
        // graph centrality at scale: LSH-blocked edges (the brute
        // q129/q134 edge build is the 1×-baseline configuration);
        // same split for weak labeling (q127 brute is the baseline)
        "q139_pagerank_lsh", "q140_label_propagate_lsh",
        // round 11: the compacted lexical index (fold + probe — the
        // maintenance win row) and hot-only salting (replication cost
        // should stay near the plain join, unlike q126's wholesale
        // salts×). q143 weighted PageRank is deliberately NOT here —
        // its brute 3-NN edge build is the same O(n²) 1×-baseline
        // class as q129; the LSH-edge scale path is q139's row.
        "q141_bm25_compacted", "q142_salted_join_skew_aware",
        // winnowing: fingerprint selection is scan-bound (native
        // one-pass), the overlap pairs run the df-capped pair core
        // over ~2/(w+1) of the shingle volume
        "q144_winnow_fingerprints", "q145_winnow_overlap_pairs",
        // incremental winnow index: three probes + appends per run —
        // per-batch cost bounded by batch + touched-fp volume
        "q147_winnow_incremental",
        // round 11 continuation: Stupid Backoff LM (three key-local
        // joins over the positions frame — the sharded-count-table
        // serving shape), UniMax (scan + bounded windows — should be
        // flat), incremental LM counts (maintenance: per-batch count +
        // append + SQL fold), bloom point lookup (maintenance: the
        // per-append bloom read-back over orders at 10×; the probe
        // itself is fixed-cost)
        "q148_stupid_backoff", "q149_unimax_sample",
        "q151_lm_incremental", "q150_bloom_point_lookup",
        // PII scrub is pure per-row regex (should stay flat); trained
        // langid explodes positions × |langs| against a broadcast
        // model — the char-level scan shape
        "q153_pii_scrub", "q154_langid_trained",
        // KMV distinct sketch: one scan with k-bounded per-group
        // state + the k-min merge — should scale with the scan alone;
        // the incremental row is maintenance-shaped (three appends +
        // the SQL fold + read), ≤ k rows per group per batch stored
        "q156_kmv_distinct", "q157_kmv_incremental",
        // per-source winnowed MOSS pairs (q155: q145's volume with
        // q59's per-source candidate splitting) and the dataset card
        // (scan + bounded fingerprint agg — should be near-flat)
        "q155_winnow_per_source", "q152_dataset_card",
        // sketch-only pairwise overlap reads S*k longs (flat by
        // design); the one-pass profiler is scan-bound; the clipped
        // n-gram metric is bounded by the candidate-pair volume
        "q158_source_overlap_kmv", "q159_profile",
        "q160_clipped_ngram",
        // count-min: vocabulary-bounded build + d·w-long broadcast
        // probe — should scale with the token-count aggregation alone
        "q161_countmin_freq",
        // round 12: ONE near-dup pipeline + materialize + all three
        // curation consumers — compare against q94+q130+q137, which
        // each re-run the pipeline; this row should cost ~one
        // pipeline, not three
        "q162_curation_materialized",
        // round 13: file-keyed profile maintenance (two syncs + a DML
        // rewrite + the manifest-join read), exact duplicated-
        // substring stats (strictly linear — the no-pairs scaling
        // row) and its destructive rewrite (adds the per-doc
        // reassembly aggregation)
        "q169_profile_files", "q171_dup_substrings",
        "q172_dup_substring_rewrite",
        // round 14: Kneser–Ney scoring (model-sized stat joins + the
        // corpus positions frame — the smoothing-LM serving shape)
        // and BPE fertility (trainer dict build + 16 chained
        // replace projections over the corpus — segmentation is
        // scan-bound and should scale with the scan)
        "q180_kneser_ney", "q183_bpe_fertility",
        // round 14 (session 2): the funnel is ONE user_id shuffle +
        // three stacked window passes (the event-analytics scan
        // shape — should scale with the shuffle alone); Moore–Lewis
        // is exactly twice q180's serving cost (two model builds +
        // six key-local joins over one shared positions frame)
        "q188_funnel", "q193_moore_lewis",
        // round 16 (r15 verdict #4 — the newest families had no
        // committed scale evidence): perceptual hashes are scan +
        // banded self-join (q196 image, q199 audio — the hash is
        // computed once per doc behind the checkpoint pin, so both
        // should scale with the scan + pair volume); q198 adds the
        // incremental index lifecycle (broadcast-semi probes, never
        // an index shuffle); q201 is three funnelFold batches + the
        // report (state restricted to batch users — per-batch cost,
        // not per-history); weighted sampling is a narrow projection
        // + TakeOrdered(k) and should be the flattest row here (q192
        // batch, q202 the 3-fold incremental form); q203/q204 are
        // the DML table ops at 10× — CDF change-file cost scales
        // with matched rows, the DV sidecar with tombstones, both
        // far below the touched-file bytes they replace
        "q196_image_dhash", "q198_dhash_incremental",
        "q199_audio_fingerprint", "q201_funnel_streamed",
        "q192_weighted_sample", "q202_weighted_sample_incr",
        "q203_change_feed_dml", "q204_deletion_vectors",
        "q206_lm_cdf_sync", "q207_merge_on_read")
      val defs = SparkEntry.allDefs.filter(d => headline(d.name))
      def pass(): Map[String, Double] = defs.map { d =>
        val t0 = System.nanoTime()
        d.name -> (
          try { d.fn(spark, out).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case _: Throwable => -1.0 })
      }.toMap
      // min-of-3 interleaved passes, same as the main section — and
      // per-pass loadavg recorded HERE too (r11 showed 18–47% phantom
      // regressions on untouched sf1 rows under loadavg 3.4–9.1; with
      // the samples in the section, noise is self-evident per-row)
      val loads = scala.collection.mutable.ArrayBuffer[Double]()
      def sampledPass(): Map[String, Double] = { loads += loadavg(); pass() }
      val passes = Seq(sampledPass(), sampledPass(), sampledPass())
      loads += loadavg()
      val qs = defs.map { d =>
        "\"" + d.name + f"""\":${minOf(passes.map(_(d.name)))}%.3f"""
      }.mkString("{", ",", "}")
      val loadsJson = loads.map(l => f"$l%.2f").mkString("[", ",", "]")
      f""""sf1":{"factor":$factor,"gen_sec":$genSec%.1f,"loadavg":$loadsJson,"queries":$qs}"""
    } catch {
      case t: Throwable =>
        s""""sf1":{"error":"${t.getClass.getSimpleName}"}"""
    }
  }

  /** Replication-lag SLO section (BASELINE.md headline: lag P50 < 10 s
    * / P95 < 60 s, reference spec.md:331-332): a sustained
    * MemoryStream of Debezium envelopes stamped at ENQUEUE time drives
    * the full streaming ingest (foreachBatch under the reference's 5 s
    * trigger) for ~20 s at the reference's NORMAL-LOAD BOUNDARY —
    * 5k events/s PER COLLECTION (spec.md:283-288) across 4 collections
    * demuxing through one foreachBatch, ~20k ev/s total, so
    * per-collection append contention is exercised, not just volume.
    * Per-event lag = the manifest commit timestamp of the file the
    * event landed in minus its ts_ms — commit-VISIBLE latency, not
    * processing time. Reported once per bench (a latency distribution
    * under a fixed trigger, not a throughput min); failures degrade to
    * an error note. Opt out with SPARK_GRAFT_LAG=0. */
  private def lagSection(spark: SparkSession): String = {
    if (sys.env.get("SPARK_GRAFT_LAG").contains("0"))
      return "\"lag\":{\"skipped\":true}"
    try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      import spark.implicits._
      val mem = MemoryStream[String]
      // scratchDir registers a delete-on-exit hook: repeated bench
      // runs must not accumulate 400k-event parquet trees in /tmp
      val base = graft.queries.QueryDef.scratchDir("graft_lag_bench")
      val cfg = graft.streaming.CdcIngest.Config(base,
        checkpointDir = s"$base/_ckpt", triggerMillis = 5000L)
      val q = graft.streaming.CdcIngest.start(
        mem.toDF().toDF("value"), cfg)
      val durationMs = 20000L
      val chunk = 5000 // × 4 feeds/s = 20k ev/s = 5k per collection
      var id = 0L
      val t0 = System.currentTimeMillis()
      while (System.currentTimeMillis() - t0 < durationMs) {
        val now = System.currentTimeMillis()
        val rows = (0 until chunk).map { _ =>
          id += 1
          s"""{"payload":{"_id":"e$id","before":null,"after":""" +
            s""""{\\"_id\\":\\"e$id\\",\\"x\\":${id % 1000}}",""" +
            s""""op":"c","ts_ms":$now,"source":{"version":"2.5",""" +
            s""""connector":"mongodb","name":"m","ts_ms":$now,""" +
            s""""snapshot":"false","db":"lag","rs":"rs0",""" +
            s""""collection":"c${id % 4}","ord":1}}}"""
        }
        mem.addData(rows: _*)
        Thread.sleep(250L)
      }
      val feedSec = (System.currentTimeMillis() - t0) / 1000.0
      q.processAllAvailable()
      q.stop()
      val lagFrames = (0 until 4).map { c =>
        val dir = s"$base/lag_c$c"
        val f2ts = graft.sink.CdcTable.log(dir)
          .flatMap(cm => cm.files.map(_ -> cm.ts))
        val fmap = spark.createDataFrame(f2ts).toDF("rel", "commit_ts")
        graft.sink.CdcTable.read(spark, dir)
          .select(expr("unix_millis(_cdc_timestamp)").as("ets"),
            // the manifest's rel-path keying
            graft.sink.CdcTable.relPathCol().as("rel"))
          .join(broadcast(fmap), Seq("rel"))
          .select((col("commit_ts") - col("ets")).as("lag_ms"))
      }
      val pct = lagFrames.reduce(_ unionByName _)
        .agg(count(lit(1)).as("n"),
          expr("percentile(lag_ms, array(0.5, 0.95, 0.99))").as("p"),
          max(col("lag_ms")).as("mx"))
        .select(col("n"), expr("p[0]").as("p50"),
          expr("p[1]").as("p95"), expr("p[2]").as("p99"), col("mx"))
        .head()
      require(pct.getLong(0) == id,
        s"lag bench lost events: landed ${pct.getLong(0)} of $id")
      f""""lag":{"events":$id,"rate_ev_s":${id / feedSec}%.0f,""" +
        """"collections":4,""" +
        f""""trigger_ms":5000,"p50_ms":${pct.getDouble(1)}%.0f,""" +
        f""""p95_ms":${pct.getDouble(2)}%.0f,""" +
        f""""p99_ms":${pct.getDouble(3)}%.0f,"max_ms":${pct.getLong(4)}}"""
    } catch {
      case t: Throwable =>
        s""""lag":{"error":"${t.getClass.getSimpleName}"}"""
    }
  }

  /** SUSTAINED-rate ingest probe (BASELINE.md:9-11 — the reference's
    * 10k ev/s target is SUSTAINED per worker with schema evolution
    * in-stream, which the burst-shaped ingest_100k_events row cannot
    * grade): a 60 s MemoryStream feed at ~10k ev/s through the full
    * streaming ingest (5 s trigger, 4 collections), with a NOVEL
    * field introduced every ~10 s so the schema-merge fixed cost
    * (inference + generation bump + manifest write) is paid repeatedly
    * UNDER load. Reports the end-to-end rate (events / feed+drain
    * wall time — the honest sustained number) and the schema
    * generations each collection table ended at. Opt out with
    * SPARK_GRAFT_SUSTAINED=0. */
  private def sustainedSection(spark: SparkSession): String = {
    if (sys.env.get("SPARK_GRAFT_SUSTAINED").contains("0"))
      return "\"sustained\":{\"skipped\":true}"
    try {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      import spark.implicits._
      val mem = MemoryStream[String]
      val base = graft.queries.QueryDef.scratchDir("graft_sustained")
      val cfg = graft.streaming.CdcIngest.Config(base,
        checkpointDir = s"$base/_ckpt", triggerMillis = 5000L)
      val q = graft.streaming.CdcIngest.start(
        mem.toDF().toDF("value"), cfg)
      val durationMs = 60000L
      val chunk = 2500 // × 4 feeds/s = 10k ev/s target
      var id = 0L
      val t0 = System.currentTimeMillis()
      while (System.currentTimeMillis() - t0 < durationMs) {
        val now = System.currentTimeMillis()
        // one schema evolution every ~10 s: envelopes gain field f<g>
        val gen = ((now - t0) / 10000L).toInt
        val rows = (0 until chunk).map { _ =>
          id += 1
          s"""{"payload":{"_id":"s$id","before":null,"after":""" +
            s""""{\\"_id\\":\\"s$id\\",\\"x\\":${id % 1000}""" +
            s""",\\"f$gen\\":${gen}}","op":"c","ts_ms":$now,""" +
            s""""source":{"version":"2.5","connector":"mongodb",""" +
            s""""name":"m","ts_ms":$now,"snapshot":"false",""" +
            s""""db":"sus","rs":"rs0","collection":"c${id % 4}",""" +
            s""""ord":1}}}"""
        }
        mem.addData(rows: _*)
        Thread.sleep(250L)
      }
      val feedSec = (System.currentTimeMillis() - t0) / 1000.0
      q.processAllAvailable()
      q.stop()
      // end-to-end wall includes the drain tail (≈ one trigger +
      // final commit) — the honest sustained number; the feed rate
      // shows the offered load the pipeline kept up with
      val wallSec = (System.currentTimeMillis() - t0) / 1000.0
      val landed = (0 until 4).map(c => graft.sink.CdcTable
        .read(spark, s"$base/sus_c$c").count()).sum
      require(landed == id,
        s"sustained bench lost events: landed $landed of $id")
      val svs = (0 until 4).map(c => graft.sink.CdcTable
        .currentVersion(s"$base/sus_c$c"))
      f""""sustained":{"events":$id,"wall_sec":$wallSec%.1f,""" +
        f""""rate_ev_s":${id / wallSec}%.0f,""" +
        f""""feed_rate_ev_s":${id / feedSec}%.0f,""" +
        s""""target_ev_s":10000,""" +
        s""""schema_evolutions":${svs.min}}"""
    } catch {
      case t: Throwable =>
        s""""sustained":{"error":"${t.getClass.getSimpleName}"}"""
    }
  }

  /** CDC ingest throughput: 100k synthetic Debezium envelopes through
    * the full decode→normalize→demux→schema-infer→append pipeline
    * (BASELINE.md targets ≥10k events/s per worker; the timing below
    * is seconds for 100k events, so <10 s beats the target). */
  private def ingestBench(spark: org.apache.spark.sql.SparkSession)
      : (String, Double) = {
    import org.apache.spark.sql.functions._
    val n = 100000L
    val base = java.nio.file.Files
      .createTempDirectory("graft_ingest_bench").toString
    // event-times anchored at NOW so events are NOT stale-routed to the
    // DLQ — otherwise this would time the wrong (reject) path
    val t0ms = System.currentTimeMillis() - n
    val envelopes = spark.range(n).select(concat(
      lit("""{"payload":{"_id":"id"""), col("id"),
      lit("""","before":null,"after":"{\"_id\":\"id"""), col("id"),
      lit("""\",\"x\":"""), col("id") % 1000,
      lit(""",\"name\":\"user"""), col("id") % 997,
      lit("""\"}","op":"c","ts_ms":"""),
      lit(t0ms) + col("id"),
      lit(""","source":{"version":"2.5","connector":"mongodb","name":"m","ts_ms":"""),
      lit(t0ms) + col("id"),
      lit(""","snapshot":"false","db":"bench","rs":"rs0","collection":"c"""),
      col("id") % 4,
      lit("""","ord":1}}}""")).as("value"))
    val cfg = graft.streaming.CdcIngest.Config(
      base, checkpointDir = s"$base/_ckpt")
    val t0 = System.nanoTime()
    val ok = try {
      graft.streaming.CdcIngest.processBatch(envelopes, cfg)
      // the run only counts if the VALID path actually wrote the rows
      (0 until 4).map(i => graft.sink.CdcTable
        .read(spark, s"$base/bench_c$i").count()).sum == n
    } catch { case _: Throwable => false }
    "ingest_100k_events" ->
      (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
  }
}
