package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus splitting and sequence packing — the
  * training-data plumbing next to dedup/quality (SURVEY.md §2 north
  * star): train/val/test assignment must be STABLE across runs,
  * engines and cluster sizes (re-sampling a 100 TB corpus because
  * `rand()` reseeded is not an option), so both ops derive everything
  * from content hashes / orderings, never from RNG or partition ids.
  * Both are single-pass: the split is a per-row projection
  * (scan-speed), the packing one window aggregation per group key.
  */
object Sampling {

  /** Stable bucket in [0, m) from a key column: md5-prefix hash (28
    * bits), portable bit-for-bit across engines (the same trick as the
    * dedup token ids — xxhash64 differs between engines). */
  def stableBucket(keyCol: String, m: Int): Column =
    expr("CAST(conv(substring(md5(CAST(`" + keyCol +
      "` AS STRING)), 1, 7), 16, 10) AS BIGINT)") % m

  /** Deterministic train/val/test assignment: adds `bucket` (0-99)
    * and `split`. A document's split never changes when the corpus
    * grows or the job re-runs — it is a pure function of the key. */
  def hashSplit(df: DataFrame, keyCol: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    df.withColumn("bucket", stableBucket(keyCol, 100))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** Leakage-safe GROUP-aware split: documents are assigned
    * train/val/test by their near-dup CLUSTER, not their own id, so
    * near-duplicates can never straddle the cut — the train/test
    * contamination a row-keyed split silently creates whenever the
    * corpus contains duplicates (the effect Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022 measure).
    * `components` is a (id, component) labeling of the DUPLICATE
    * subset (e.g. [[Dedup.NearDupResult.components]]); unlabeled rows
    * group as themselves. Assignment is the same stable md5 bucket as
    * [[hashSplit]] on the group key — a pure function of the
    * labeling. Scale shape: one left join against the duplicate
    * subset (broadcastable — the dup labeling is far smaller than the
    * corpus), then the scan-speed split projection. Adds `group_id`,
    * `bucket`, `split`. */
  def clusterSplit(df: DataFrame, idCol: String, components: DataFrame,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val grp = df
      .join(broadcast(components.select(col("id").as(idCol),
        col("component"))), Seq(idCol), "left")
      .withColumn("group_id", coalesce(col("component"), col(idCol)))
      .drop("component")
    hashSplit(grp, "group_id", trainPct, valPct)
  }

  /** Deterministic stratified sampling: keep `pct(stratum)` percent of
    * each stratum (language, source, domain …), selected by the same
    * stable md5 bucket as [[hashSplit]] — re-runs, engine changes and
    * corpus growth never change a kept document's fate, and the rates
    * rebalance a skewed corpus (the "downsample over-represented
    * sources" mixing op). Per-row projection + filter: scan-speed, no
    * shuffle, no RNG. */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
      pct: Map[String, Int], defaultPct: Int = 100): DataFrame = {
    require((pct.values.toSeq :+ defaultPct).forall(p => p >= 0 && p <= 100),
      s"sampling percentages must be in [0,100]: $pct default=$defaultPct")
    val rate = pct.foldLeft(lit(defaultPct)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.withColumn("bucket", stableBucket(keyCol, 100))
      .filter(col("bucket") < rate)
  }

  /** Deterministic importance resampling — the SELECTION step of DSIR
    * (the scoring step is [[TextAnalysis.importanceScores]]): keep
    * each row with probability equal to its importance, decided by
    * the same stable md5 bucket as [[hashSplit]] instead of an RNG,
    * so a document's fate is a pure function of its key and score —
    * stable across re-runs, engines, and corpus growth. Accept iff
    * `bucket(key, 1e6) < floor(1e6 · min(1, boost · importance))`:
    * `importanceCol` is expected in [0,1] and `boost` rescales
    * acceptance so a thin target distribution doesn't decimate the
    * corpus (boost 2 ≈ keep at twice the raw rate, capped at 1). The
    * threshold arithmetic is one IEEE multiply + floor from the
    * already-deterministic score, so Spark and SQL oracles agree
    * bit-for-bit. Adds `bucket` and `accept_cut`; per-row projection
    * + filter — scan-speed, no shuffle, no RNG, no driver state. */
  def importanceResample(df: DataFrame, keyCol: String,
      importanceCol: String, boost: Double = 1.0): DataFrame = {
    require(boost > 0, s"boost must be positive: $boost")
    df.withColumn("bucket", stableBucket(keyCol, 1000000))
      .withColumn("accept_cut",
        floor(lit(1000000.0) *
          least(lit(1.0), lit(boost) * col(importanceCol))).cast("long"))
      .filter(col("bucket") < col("accept_cut"))
  }

  /** Temperature-flattened stratum sampling — the multilingual
    * pretraining "alpha-sampling" op (mT5 / XLM-R style): strata
    * (languages, sources, domains) are kept at rates that flatten the
    * head and boost the tail, selected-share ∝ n^α. The keep rate is
    * `r = headRate · (n_max/n)^(1−α)` (the LARGEST stratum keeps
    * exactly `headRate`, smaller strata keep proportionally more,
    * capped at 1). α is parameterized as `1 − 2^-halvings` so the
    * exponent is computed by `halvings` nested `sqrt`s — IEEE requires
    * sqrt correctly rounded, so the rate arithmetic is bit-portable
    * across engines with NO libm pow and NO double summation anywhere
    * (the only cross-stratum reduction is an integer max):
    * halvings 1 → α = 0.5 (the common choice), 2 → 0.75, 3 → 0.875.
    * Selection reuses the stable md5 bucket: accept iff
    * `bucket(key, 1e6) < floor(1e6 · r)` — deterministic, re-run and
    * growth stable per (key, rates).
    *
    * Scale shape: stratum counts are one map-side-combined
    * aggregation (state = stratum count, tiny), the rate table
    * BROADCASTS back onto the corpus, and acceptance is a scan-speed
    * filter — no corpus shuffle at all. Adds `n_l`, `accept_cut`,
    * `bucket`. */
  def temperatureSample(df: DataFrame, strataCol: String, keyCol: String,
      halvings: Int = 1, headRate: Double = 1.0): DataFrame = {
    require(halvings >= 1 && halvings <= 6,
      s"halvings must be in [1,6]: $halvings")
    require(headRate > 0 && headRate <= 1,
      s"headRate must be in (0,1]: $headRate")
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n_l"))
    val nmax = counts.agg(max(col("n_l")).as("n_max"))
    val ratioK = (1 to halvings).foldLeft(
      col("n_max").cast("double") / col("n_l").cast("double"))(
      (c, _) => sqrt(c))
    val rates = counts.crossJoin(broadcast(nmax))
      .withColumn("accept_cut",
        least(lit(1000000L),
          floor(lit(1000000.0) * lit(headRate) * ratioK).cast("long")))
      .select(col(strataCol), col("n_l"), col("accept_cut"))
    df.join(broadcast(rates), Seq(strataCol))
      .withColumn("bucket", stableBucket(keyCol, 1000000))
      .filter(col("bucket") < col("accept_cut"))
  }

  /** Weighted dataset mixing (the pretraining "mixture weights" op):
    * a deterministic interleave position per document such that
    * reading the corpus in `mix_pos` order consumes sources
    * proportionally to their weights (weight 4 source appears 4× as
    * often as weight 1 in every prefix until it exhausts) — stream
    * interleaving without RNG: the k-th document of a source sits at
    * position (k - 0.5) / weight, the standard deterministic
    * low-discrepancy schedule.
    *
    * Scale shape: one per-group window (rank within source) — no
    * global window; consuming "the first N of the mix" is a
    * distributed ORDER BY mix_pos LIMIT N (TakeOrdered), never a
    * global row_number. */
  def mixOrder(df: DataFrame, groupCol: String, orderCol: String,
      weights: Map[String, Double], defaultWeight: Double = 1.0)
      : DataFrame = {
    require(defaultWeight > 0 && weights.values.forall(_ > 0),
      "mixture weights must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(orderCol))
    val weight = weights.foldLeft(lit(defaultWeight)) {
      case (acc, (k, v)) => when(col(groupCol) === k, lit(v))
        .otherwise(acc)
    }
    df.withColumn("mix_pos",
      (row_number().over(w).cast("double") - 0.5) / weight)
  }

  /** Concatenation-order sequence packing (the pretraining "pack
    * documents into fixed token windows" op): documents are laid out
    * per `groupCol` in `orderCol` order and chunked every `budget`
    * tokens; a document belongs to the pack where it STARTS (GPT-style
    * packing splits documents across boundaries — the pack id of the
    * start is the deterministic assignment). Adds `cum_before` (tokens
    * preceding the document in its group) and `pack_id`.
    *
    * One window aggregation per group — at scale the shuffle is keyed
    * by `groupCol`, so group count bounds parallelism; pack corpora
    * under a composite group key (e.g. source, shard) to keep groups
    * bounded. The division goes through an exact double (token totals
    * ≪ 2^53), identical in every engine. */
  def sequencePack(df: DataFrame, groupCol: String, orderCol: String,
      tokensCol: String, budget: Int): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    df.withColumn("cum_before",
        coalesce(sum(col(tokensCol)).over(w), lit(0L)).cast("long"))
      .withColumn("pack_id",
        floor(col("cum_before").cast("double") / budget).cast("long"))
  }

  /** Exact global top-fraction selection — the "keep the top f of the
    * corpus by quality/classifier score" curation cut (the FineWeb-Edu
    * shape: score everything, train on the best decile) — WITHOUT a
    * global sort: keeps exactly `k = ⌈n · keepNum / keepDen⌉` rows,
    * the k highest by (`scoreCol` desc, md5(key) asc, key asc). The
    * fraction is a RATIONAL so k is exact integer arithmetic, and
    * ties at the threshold score break by the same stable md5 order
    * as [[hashSplit]] — the kept SET is a pure deterministic function
    * of (corpus, fraction): re-runs, engines and cluster sizes agree
    * row for row.
    *
    * Scale shape — the naive formulation is `row_number() OVER
    * (ORDER BY score DESC) <= k`: one total sort of the corpus. This
    * runs in bounded state instead:
    *  1. one map-side-combined per-score count (`scoreCol` must be an
    *     INTEGRAL fixed-point score — the DISTINCT-score count, not
    *     the corpus, bounds all selection state; a 1e6-scale quality
    *     score has ≤ 1e6+1 distinct values at any corpus size),
    *  2. a cumulative sum over that distinct-score frame (the
    *     single-partition window runs over ≤ |score domain| rows,
    *     never the corpus) yielding the exact k-th-largest score,
    *  3. a scan-speed `score > threshold` LITERAL filter (pushable
    *     when the score is stored), plus a row_number over ONLY the
    *     rows tied AT the threshold score (bounded by that one
    *     score's multiplicity) to fill the remaining slots.
    * Two metadata-scale driver actions against the persisted
    * distinct-score frame (the k-means-sums precedent); the corpus is
    * scanned, never globally sorted or shuffled. NULL scores are
    * excluded up front (they cannot rank). */
  def topFraction(df: DataFrame, scoreCol: String, keyCol: String,
      keepNum: Long, keepDen: Long): DataFrame = {
    require(keepDen > 0 && keepNum >= 0 && keepNum <= keepDen,
      s"fraction must be a rational in [0,1]: $keepNum/$keepDen")
    val rows = df.filter(col(scoreCol).isNotNull)
    val counts = rows.groupBy(col(scoreCol).cast("long").as("__s"))
      .agg(count(lit(1)).as("__c")).persist()
    try {
      val nRow = counts.agg(sum(col("__c")).as("n")).head()
      val n = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
      val k = if (n == 0) 0L else (n * keepNum + keepDen - 1) / keepDen
      if (k == 0) rows.limit(0)
      else {
        // boundary row: the k-th-largest score with its own count and
        // its descending cumulative count (rows at-or-above it)
        val b = counts
          .withColumn("__cum", sum(col("__c")).over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("__s").desc)))
          .filter(col("__cum") >= k)
          .orderBy(col("__s").desc).limit(1).head()
        val thr = b.getLong(0)
        val tieSlots = k - (b.getLong(2) - b.getLong(1))
        val above = rows.filter(col(scoreCol).cast("long") > lit(thr))
        if (tieSlots == 0) above
        else above.unionByName(
          rows.filter(col(scoreCol).cast("long") === lit(thr))
            .withColumn("__rn", row_number().over(
              org.apache.spark.sql.expressions.Window.orderBy(
                expr(s"md5(CAST(`$keyCol` AS STRING))").asc,
                col(keyCol).asc)))
            .filter(col("__rn") <= tieSlots).drop("__rn"))
      }
    } finally counts.unpersist(blocking = true)
  }

  /** EXACT-k deterministic stratified sample — "exactly k docs per
    * language" eval/holdout construction ([[stratifiedSample]] is the
    * RATE-based sibling; rates drift with corpus growth, eval sets
    * must not): per stratum, the k rows with the HIGHEST stable
    * md5-bucket (ties to smallest key) — a pure function of content,
    * so re-runs and engine swaps pick the identical set, and a grown
    * corpus only swaps members at the bucket boundary. Reduces
    * through the k-bounded `topk_by` aggregate (≤ k rows of state per
    * stratum per partition), NOT a per-stratum row_number window —
    * at 100 TB a handful of strata would funnel the corpus through a
    * handful of reducers. `keyCol` must be integral (the id travels
    * through the aggregate as a long, like the retrieval family). */
  def sampleExactK(df: DataFrame, stratumCol: String, keyCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be > 0: $k")
    df.select(col(stratumCol).as("stratum"),
        col(keyCol).cast("long").as("id"),
        stableBucket(keyCol, 1000000).as("bucket"))
      .groupBy("stratum")
      .agg(expr(s"topk_by(bucket, id, $k)").as("tk"))
      .select(col("stratum"), explode(col("tk")).as("e"))
      .select(col("stratum"), col("e.id").as("id"),
        col("e.score").as("bucket"))
  }

  /** Per-stratum score CALIBRATION — rank-normalize an integral
    * fixed-point score within each stratum so a single cut fraction
    * is fair across sources with different score distributions (the
    * FineWeb-style per-source threshold, as a reusable op): returns
    * every row with `rank_norm` = PERCENT_RANK within its stratum
    * (count of strictly-lower-scoring rows / (n−1); 0 for a 1-row
    * stratum), computed WITHOUT a per-stratum corpus sort — the
    * [[topFraction]] histogram move: per-(stratum, score) counts,
    * a cumsum over the bounded distinct-score frame, and a join back
    * keyed on (stratum, score). The corpus is scanned and
    * hash-joined, never range-partitioned; ties share the rank of
    * their group's first row exactly as PERCENT_RANK defines.
    * NULL scores are excluded up front (they cannot rank — the
    * [[topFraction]] rule). */
  def rankNormalize(df0: DataFrame, stratumCol: String,
      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = df0.filter(col(scoreCol).isNotNull)
    val hist = df.groupBy(col(stratumCol).as("__st"),
        col(scoreCol).cast("long").as("__sc"))
      .agg(count(lit(1)).as("__c"))
    val below = hist
      .withColumn("__below", coalesce(
        sum("__c").over(Window.partitionBy("__st").orderBy("__sc")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", sum("__c").over(Window.partitionBy("__st")))
      .select(col("__st"), col("__sc"), col("__below"), col("__n"))
    df.join(below,
        col(stratumCol) <=> col("__st") &&
          col(scoreCol).cast("long") === col("__sc"))
      .withColumn("rank_norm",
        when(col("__n") > 1,
          col("__below").cast("double") / (col("__n") - 1).cast("double"))
          .otherwise(lit(0.0)))
      .drop("__st", "__sc", "__below", "__n")
  }

  /** Deterministic training-shard assignment — the last step of every
    * pretraining data pipeline: a content-stable global "shuffle" into
    * `numShards` shards. shard = md5-bucket of the key (so a doc's
    * shard never changes when the corpus grows or the job re-runs),
    * `pos` = its rank within the shard under the (md5(key), key)
    * order — a deterministic permutation with no RNG, so two engines
    * (and two runs) produce byte-identical shard files.
    *
    * Scale shape: one hash projection plus a per-shard window;
    * `numShards` is chosen so a shard is file-sized (thousands at
    * 100 TB), so the window parallelism IS the shard count and no
    * single reducer sees more than corpus/numShards rows. */
  def shardAssign(df: DataFrame, keyCol: String, numShards: Int)
  : DataFrame = {
    require(numShards > 0, s"numShards must be > 0: $numShards")
    df.withColumn("shard", stableBucket(keyCol, numShards))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("shard")
          .orderBy(expr(s"md5(CAST(`$keyCol` AS STRING))").asc,
            col(keyCol).asc)))
  }

  /** Physical form of [[shardAssign]]: write shard-partitioned parquet
    * with the in-shard order pinned (repartition by shard, sort within
    * partitions by the same (md5, key) order the `pos` column ranks).
    * Re-running over the same corpus rewrites identical shards. */
  def writeShards(df: DataFrame, keyCol: String, numShards: Int,
      outDir: String): Unit =
    shardAssign(df, keyCol, numShards)
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)

  /** Token-budget mixture fill — the "assemble a B-token training set
    * at these mixture weights" op every pretraining run ends with:
    * per-stratum integer token allocations by LARGEST-REMAINDER
    * apportionment (Σ alloc = budget exactly, no floats), then within
    * each stratum the greedy prefix of the deterministic md5-bucket
    * order (a content-stable "shuffle" — re-runs and engine swaps
    * pick the identical set) until the allocation is crossed: a doc
    * is kept iff the tokens BEFORE it are under the allocation, so
    * the crossing doc is included and per-stratum kept tokens land in
    * [alloc, alloc + max_doc_tokens).
    *
    * Scale shape: NO per-stratum global sort or single-reducer
    * cumsum over the corpus — the running totals come from a
    * per-(stratum, md5-bucket) histogram (bounded by strata × 1e6
    * rows regardless of corpus size) cumsum'd per stratum, and the
    * only per-DOC window runs inside one (stratum, bucket) tie group
    * (~corpus/1e6 rows each, well-distributed) — the same
    * histogram-threshold move as [[topFraction]]. The weights frame
    * is strata-bounded; its apportionment windows are driver-scale.
    *
    * `weights`: (stratum, wt) with positive integer weights; strata
    * absent from it are dropped (allocation 0). Returns kept docs as
    * (id, stratum, n_tokens, alloc, cum_before). */
  def budgetMix(df: DataFrame, idCol: String, stratumCol: String,
      tokens: Column, weights: DataFrame, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0: $budget")
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy() // strata-bounded frame, not corpus
    val alloc = weights
      .select(col("stratum"), col("wt").cast("long").as("wt"))
      // fail loudly on a null/zero/negative weight instead of silently
      // producing negative allocations that break Σalloc = budget
      .withColumn("wt", when(col("wt").isNull || col("wt") <= 0,
        raise_error(concat(lit("budgetMix: weights must be positive; "
          + "got wt="), coalesce(col("wt").cast("string"), lit("null")),
          lit(" for stratum "), col("stratum").cast("string")))
          .cast("long"))
        .otherwise(col("wt")))
      .withColumn("wsum", sum("wt").over(wAll))
      .withColumn("base", expr(s"(${budget}L * wt) div wsum"))
      .withColumn("rem", expr(s"(${budget}L * wt) % wsum"))
      .withColumn("leftover", lit(budget) - sum("base").over(wAll))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("stratum").asc)))
      .select(col("stratum"),
        (col("base") + when(col("rk") <= col("leftover"), 1L)
          .otherwise(0L)).as("alloc"))
    val docs = df.select(col(idCol).cast("long").as("id"),
      col(stratumCol).as("stratum"), tokens.cast("long").as("tok"))
      .withColumn("bucket", stableBucket("id", 1000000))
    greedyTokenPrefix(docs, alloc)
  }

  /** Shared selection tail of [[budgetMix]] / [[uniMax]]: each
    * stratum's greedy md5-bucket-order prefix up to its allocation —
    * a doc is kept while the running token total BEFORE it is under
    * `alloc`. Two-level running totals (bucket histogram first, then
    * within surviving buckets only) keep the window sort off the
    * corpus: the per-stratum ORDER BY runs over the 1M-bounded bucket
    * histogram, and the within-bucket window touches only buckets
    * whose cumulative start is inside the budget. */
  private def greedyTokenPrefix(docs: DataFrame,
      alloc: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bcum = docs.groupBy("stratum", "bucket")
      .agg(sum("tok").as("btok"))
      .withColumn("cumb", coalesce(
        sum("btok").over(Window.partitionBy("stratum").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val cut = bcum.join(broadcast(alloc), Seq("stratum"))
      .filter(col("cumb") < col("alloc"))
      .select("stratum", "bucket", "cumb", "alloc")
    docs.join(cut, Seq("stratum", "bucket"))
      .withColumn("cum_before", col("cumb") + coalesce(
        sum("tok").over(Window.partitionBy("stratum", "bucket")
          .orderBy("id").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .filter(col("cum_before") < col("alloc"))
      .select(col("id"), col("stratum"), col("tok").as("n_tokens"),
        col("alloc"), col("cum_before"))
  }

  /** UniMax language sampling (Chung et al., "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual
    * Pretraining", ICLR 2023): allocate a total token `budget` across
    * strata by WATER-FILLING under a per-stratum epoch cap — visit
    * strata by ascending corpus size; each receives
    * `min(cap, remaining div strataLeft)` tokens where
    * `cap = (epochsNum·n_l) div epochsDen` — so low-resource strata
    * get as close to a uniform share as their size (× epochs) allows
    * and the surplus waterfalls to larger ones. The temperature-free
    * alternative to [[temperatureSample]]: no stratum is ever
    * repeated past the epoch cap, and allocations are exact integers
    * (a pure function of the stratum totals — replayable as a
    * recursive SQL over the sorted stratum list).
    *
    * Selection within a stratum is the same deterministic greedy
    * md5-bucket-order prefix as [[budgetMix]] (a doc is kept while
    * the running total before it is under the allocation).
    *
    * Scale shape: stratum totals are strata-bounded metadata
    * (driver-held, the BPE-argmax pattern); the corpus sees one
    * map-side-combinable total aggregation + the two-level prefix
    * windows (bucket histogram first — never a corpus sort); the
    * allocation frame broadcasts. Ties in stratum size break by
    * stratum name; strata are compared as strings (cast up front) so
    * the visit order is engine-portable. */
  def uniMax(df: DataFrame, idCol: String, stratumCol: String,
      tokens: Column, budget: Long, epochsNum: Long = 1L,
      epochsDen: Long = 1L): DataFrame = {
    require(budget >= 0, s"budget must be >= 0: $budget")
    require(epochsNum > 0 && epochsDen > 0,
      s"epoch cap must be positive: $epochsNum/$epochsDen")
    val docs = df.select(col(idCol).cast("long").as("id"),
      col(stratumCol).cast("string").as("stratum"),
      tokens.cast("long").as("tok"))
      .withColumn("bucket", stableBucket("id", 1000000))
    val totals = docs.groupBy("stratum").agg(sum("tok").as("nl"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (s, n) => (n, s) }
    var rem = budget
    var m = totals.length
    val allocRows = totals.map { case (s, n) =>
      require(n >= 0, s"negative token total for stratum $s: $n")
      val cap = epochsNum * n / epochsDen
      val a = math.min(cap, rem / m)
      rem -= a; m -= 1
      (s, a)
    }
    val spark = df.sparkSession
    import spark.implicits._
    greedyTokenPrefix(docs,
      allocRows.toSeq.toDF("stratum", "alloc"))
  }

  /** Weighted sampling WITHOUT replacement, k items — Efraimidis &
    * Spirakis 2006 algorithm A-Res, the standard one-pass reservoir
    * form (each item i gets key uᵢ^(1/wᵢ), u uniform; the k largest
    * keys are a weighted sample without replacement). Like every
    * sampler in this module the "random" draw is RNG-FREE: uᵢ derives
    * from the md5-prefix of the key column (the [[stableBucket]]
    * trick), so the sample is a pure function of content — re-runs,
    * engine changes and cluster sizes cannot re-draw it.
    *
    * Exactness: ranking by uᵢ^(1/wᵢ) descending is equivalent to
    * ranking by log2(uᵢ)/wᵢ descending (log2 is monotone), and with
    * uᵢ = u28ᵢ/2²⁸ that is `(28·2¹⁶ − fixed_log2(u28ᵢ))·10¹² div
    * wµᵢ` ASCENDING, with wµᵢ = ROUND(wᵢ·10⁶) the µ-scaled
    * fixed-point weight — pure non-negative integer arithmetic
    * (truncating division agrees between engines on non-negative
    * operands, and ROUND half-away agrees on positive doubles), so a
    * DuckDB oracle replays the `fixed_log2` recurrence and
    * hash-matches the selected set bit for bit. Ties break by
    * (md5(key), key). The numerator peaks at 28·2¹⁶·10¹² ≈ 1.8e18 —
    * inside BIGINT on both engines.
    *
    * Weight domain: FRACTIONAL weights participate at micro
    * precision (w = 0.5 ranks exactly half of w = 1, not zero — the
    * r15 truncation semantics are gone); rows with NULL weight or
    * wµ ≤ 0 (w < 5e-7, sub-representable inclusion probability) are
    * excluded; weights above ~9e9 lose double µ-exactness — rescale
    * such domains yourself (A-Res ranks are invariant under uniform
    * positive scaling of the u-to-weight ratio ordering).
    * At scale: one narrow projection + a TakeOrdered(k) — no shuffle
    * of the data, no per-partition reservoir state; k is
    * driver-bounded by contract.
    * Output: (keyCol, weightCol, ares_fp), the k smallest ares_fp. */
  def weightedSampleK(df: DataFrame, keyCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"sample size must be positive: $k")
    val maxLg = 28L << 16 // fixed_log2(2^28), the u28 domain top
    // µ-scaled fixed-point weight: filter on the POST-ROUND value the
    // div below actually uses — a weight that rounds to 0 must be
    // excluded, or its NULL/absurd ares_fp would steal the top-k
    val wFp =
      s"CAST(ROUND(CAST(`$weightCol` AS DOUBLE) * 1e6) AS BIGINT)"
    df.filter(col(s"`$weightCol`").isNotNull && expr(wFp) > 0)
      .withColumn("__u28", expr(
        "CAST(conv(substring(md5(CAST(`" + keyCol +
          "` AS STRING)), 1, 7), 16, 10) AS BIGINT) + 1"))
      .withColumn("__lg", TextAnalysis.fixedLog2(col("__u28")))
      .withColumn("ares_fp", expr(
        s"($maxLg - __lg) * 1000000 * 1000000 div ($wFp)"))
      .orderBy(col("ares_fp").asc,
        expr(s"md5(CAST(`$keyCol` AS STRING))").asc,
        col(s"`$keyCol`").asc)
      .limit(k)
      .select(col(s"`$keyCol`"), col(s"`$weightCol`"), col("ares_fp"))
  }

  /** INCREMENTAL weighted sampling without replacement — the
    * streaming-ingest form of [[weightedSampleK]]: the state table (a
    * graft table, atomic commits + replay markers) holds the CURRENT
    * top-k rows (k rows total, ~nothing); each batch contributes its
    * own top-k and the union re-ranks. EXACT, not approximate: A-Res
    * keys are pure content functions (RNG-free md5-derived u), and
    * bounded top-k is a MERGEABLE monoid — top-k(A ∪ B) =
    * top-k(top-k(A) ∪ top-k(B)) — so after any batch split the state
    * equals the batch-global sample bit for bit (q202's gate, the
    * q82/q163 convention). Per batch: one TakeOrdered(k) over the
    * batch (zero shuffles), a 2k-row merge, one replace commit.
    * Batches must be key-disjoint (replays are handled by the txn
    * high-water; feeding the SAME key in two different batches would
    * rank it twice). */
  def weightedSampleIncremental(batch: DataFrame, keyCol: String,
      weightCol: String, k: Int, stateDir: String,
      txn: Option[(String, Long)] = None): Unit = {
    import graft.sink.CdcTable
    val spark = batch.sparkSession
    val top = weightedSampleK(batch, keyCol, weightCol, k)
    if (CdcTable.log(stateDir).isEmpty) {
      CdcTable.append(top, stateDir, partitionBy = Nil, txn = txn)
      ()
    } else {
      val merged = CdcTable.read(spark, stateDir)
        .select(col(s"`$keyCol`"), col(s"`$weightCol`"), col("ares_fp"))
        .unionByName(top)
        .orderBy(col("ares_fp").asc,
          expr(s"md5(CAST(`$keyCol` AS STRING))").asc,
          col(s"`$keyCol`").asc)
        .limit(k)
      CdcTable.replaceWith(spark, stateDir, merged,
        partitionBy = Nil, txn = txn)
      ()
    }
  }
}
