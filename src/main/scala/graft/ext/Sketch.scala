package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Portable distinct-count sketching: the KMV / bottom-k estimator
  * (Bar-Yossef et al. RANDOM 2002) over the repo's stable md5-prefix
  * hash, so the sketch — and therefore the ESTIMATE — is a pure
  * function of the input set, bit-identical across engines and runs.
  * The reference ships DuckDB's `approx_count_distinct` for this job
  * (research.md's analytics surface); q55 gates Spark's HLL pair the
  * only way engine-private sketches can be gated (an error bound).
  * This operator is the gateable-by-value alternative, and its merge
  * law is the 100 TB story: the k smallest distinct hashes of a UNION
  * are computable from the k smallest of each part, so per-partition /
  * per-day / per-source sketches combine into corpus-level distinct
  * counts without re-reading data.
  *
  * Estimator: with hashes uniform on [0, 2^60), after k distinct
  * minima the k-th smallest h_k estimates k/n of the domain, so
  * `est = (k−1)·2^60 div h_k` (the −1 makes it unbiased); with fewer
  * than k distinct inputs the sketch IS the distinct set and the
  * estimate is exact. Relative error ≈ 1/√(k−2) (≈6% at k = 256).
  * All arithmetic is integral (DECIMAL(38,0) product, truncating
  * div), so DuckDB replays it exactly in HUGEINT. The estimate
  * overflows BIGINT only if h_k < (k−1)·2^60/2^63 — i.e. ~2^55
  * distinct values, past any real corpus.
  */
object Sketch {

  /** Hash domain: 60-bit md5 prefix (15 hex chars) — positive in
    * BIGINT on both engines, same idiom as the dedup token ids. */
  val HashDomain: Long = 1L << 60

  /** Portable 60-bit hash of a column's canonical string form. */
  def hash60(valueCol: String): Column =
    expr("CAST(conv(substring(md5(CAST(`" + valueCol +
      "` AS STRING)), 1, 15), 16, 10) AS BIGINT)")

  /** Per-group KMV sketch: `groupCols* , kmv array<bigint>` (the ≤k
    * smallest distinct hashes, ascending). One map-side-combinable
    * aggregation — ≤k longs per group per partition cross the wire. */
  def kmvSketch(df: DataFrame, valueCol: String, k: Int,
      groupCols: Seq[String]): DataFrame = {
    require(k >= 2, s"kmv k must be at least 2: $k")
    require(!groupCols.exists(Set("_h", "kmv")),
      s"group columns collide with sketch internals: $groupCols")
    df.select(groupCols.map(col) :+ hash60(valueCol).as("_h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(expr(s"kmv_hashes(_h, $k)").as("kmv"))
  }

  /** The estimate column for a sketch built with this k. */
  def estimate(kmvCol: String, k: Int): Column =
    when(size(col(kmvCol)) < k, size(col(kmvCol)).cast("long"))
      .otherwise(expr(
        s"CAST((CAST(${k - 1} AS DECIMAL(38,0)) * $HashDomain)" +
          s" div element_at(`$kmvCol`, $k) AS BIGINT)"))

  /** Per-group distinct estimate: `groupCols*, est_distinct`. */
  def kmvDistinct(df: DataFrame, valueCol: String, k: Int,
      groupCols: Seq[String]): DataFrame =
    kmvSketch(df, valueCol, k, groupCols)
      .withColumn("est_distinct", estimate("kmv", k))
      .drop("kmv")

  /** Merge sketches to a coarser grain (or to one global row when
    * `groupCols` is empty): exact by the k-min-of-union law — the
    * merged sketch equals the sketch that a single pass over the
    * union would have built. Input rows are sketches (≤k longs
    * each), so this never touches the corpus. */
  def kmvMerge(df: DataFrame, sketchCol: String, k: Int,
      groupCols: Seq[String]): DataFrame =
    df.select(groupCols.map(col) :+
        explode(col(sketchCol)).as("_h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(expr(s"kmv_hashes(_h, $k)").as(sketchCol))

  // ----------------------------------------------------------------
  // INCREMENTAL distinct sketching — the index-freshness story
  // applied to cardinality: per-batch sketches land in a graft table
  // as (groupCols*, kmv_h) rows (≤ k per group per batch) and the
  // k-min-of-union law makes the read-time re-aggregation EXACTLY the
  // full-scan sketch no matter how arrival was sliced. Per batch: one
  // k-bounded aggregation over the batch + one bounded exactly-once
  // append; history is never re-read. The same shape as the LM count
  // tables (counts are additive; k-mins are union-combinable) — this
  // is the seventh index kind under `GRAFT COMPACT INDEX`, whose fold
  // collapses the per-batch commits to ≤ k rows per group.
  // ----------------------------------------------------------------

  /** The sketch table's k, pinned at creation in the race-free
    * sidecar ([[IndexMeta]]): stored rows are only meaningful under
    * one k — a batch sketched at smaller k would be missing hashes a
    * larger-k read needs. */
  private[graft] def storedK(tableDir: String): Int =
    IndexMeta.stored(tableDir).flatMap(_.get("kmv_k")).map(_.trim.toInt)
      .getOrElse(sys.error(
        s"no kmv_k sidecar at $tableDir — not a kmv sketch table"))

  /** Sketch a batch and land it exactly-once: ≤ k rows per group.
    * `txn` makes replays idempotent (a doubled batch would be
    * harmless for the sketch — set semantics — but would still bloat
    * the table; the marker keeps appends exactly-once like every
    * other incremental index). */
  def kmvAppend(batch: DataFrame, tableDir: String, valueCol: String,
      groupCols: Seq[String], k: Int = 256,
      txn: Option[(String, Long)] = None): Unit = {
    require(k >= 2, s"kmv k must be at least 2: $k")
    require(!groupCols.contains("kmv_h"),
      "group columns collide with the stored hash column kmv_h")
    val won = IndexMeta.ensureInt(tableDir, "kmv_k", k)
    require(won == k,
      s"kmv sketch table at $tableDir was created with k=$won, got k=$k")
    val rows = kmvSketch(batch, valueCol, k, groupCols)
      .select(groupCols.map(col) :+ explode(col("kmv")).as("kmv_h"): _*)
    graft.sink.CdcTable.append(rows, tableDir, partitionBy = Nil,
      txn = txn)
    ()
  }

  /** The effective sketch from a [[kmvAppend]] table: per-group
    * `kmv` + `est_distinct`, bit-identical to a single-pass sketch of
    * the concatenated batches. One k-bounded aggregation over ≤
    * batches·k rows per group; the corpus is never touched. */
  def kmvRead(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, groupCols: Seq[String]): DataFrame = {
    val k = storedK(tableDir)
    graft.sink.CdcTable.read(spark, tableDir)
      .groupBy(groupCols.map(col): _*)
      .agg(expr(s"kmv_hashes(kmv_h, $k)").as("kmv"))
      .withColumn("est_distinct", estimate("kmv", k))
  }

  /** `GRAFT COMPACT INDEX` fold for a sketch table: ≤ k rows per
    * group after the fold (the per-group k smallest distinct stored
    * hashes — exactly what any read would have computed, so probe
    * results are invariant across the compaction). */
  private[graft] def foldKmv(spark: org.apache.spark.sql.SparkSession,
      tableDir: String): DataFrame = {
    val k = storedK(tableDir)
    val all = graft.sink.CdcTable.read(spark, tableDir)
    val groupCols = all.columns.filterNot(_ == "kmv_h").toSeq
    all.groupBy(groupCols.map(col): _*)
      .agg(expr(s"kmv_hashes(kmv_h, $k)").as("_kmv"))
      .select(groupCols.map(col) :+ explode(col("_kmv")).as("kmv_h"): _*)
  }

  /** Pairwise Jaccard similarity between groups' value SETS,
    * estimated from the sketches alone (Broder's classic min-hash
    * argument specialized to bottom-k): for each unordered group
    * pair, take the k smallest hashes of the UNION of the two
    * sketches — every member that belongs to a group is necessarily
    * in that group's own sketch (h among the k smallest of A∪B and
    * h ∈ A ⇒ h among the k smallest of A), so membership is decidable
    * from sketch content with NO false negatives — and estimate
    * J(A,B) ≈ |{h ∈ kmin_k(A∪B) : h ∈ both}| / |kmin_k(A∪B)|. Like
    * the cardinality estimate, the result is a pure function of the
    * input sets: the oracle replays it exactly from the full distinct
    * sets. At 100 TB this is the point — an S×S source-overlap matrix
    * from S·k longs, no corpus pass per pair (q80's exact dup matrix
    * reads the corpus; this reads the sketches).
    *
    * Input: one row per group, `groupCol` + `kmv` (from [[kmvSketch]]
    * or [[kmvRead]]). Output per pair (a < b): `shared`, `m` (union
    * sketch size, = k unless the union is smaller — in which case the
    * estimate is EXACT), `jaccard_fp` = (shared·10^6) div m. The pair
    * frame is |groups|² — groups are sources/datasets/shards by
    * construction (bounded metadata, broadcast). */
  def kmvJaccard(sketches: DataFrame, groupCol: String,
      k: Int): DataFrame = {
    require(groupCol != "kmv",
      "groupCol must name the group column, not the sketch")
    // k must be the sketches' build-time k: a smaller k silently
    // truncates the union slice and biases shared/m/jaccard_fp. A
    // sketch LARGER than k proves that mismatch — fail in-plan. (The
    // other direction — k larger than a build-time k that truncated —
    // is indistinguishable from genuinely small sets on data alone;
    // [[kmvJaccardTable]] derives k from the sidecar and closes it.)
    val guarded = sketches.withColumn("kmv",
      when(size(col("kmv")) > k, expr(
        s"raise_error(concat('kmvJaccard: sketch for group ', " +
          s"CAST(`$groupCol` AS STRING), ' has ', " +
          s"CAST(size(kmv) AS STRING), ' hashes > k=$k — pass the " +
          s"build-time k'))"))
        .otherwise(col("kmv")))
    val a = guarded.select(col(groupCol).as("a"), col("kmv").as("ka"))
    val b = guarded.select(col(groupCol).as("b"), col("kmv").as("kb"))
    a.join(broadcast(b), col("a") < col("b"))
      .withColumn("u",
        expr(s"slice(array_sort(array_distinct(concat(ka, kb))), 1, $k)"))
      .withColumn("m", size(col("u")).cast("long"))
      .withColumn("shared", expr(
        """CAST(size(filter(u,
          |  h -> array_contains(ka, h) AND array_contains(kb, h)))
          |AS BIGINT)""".stripMargin))
      .select(col("a"), col("b"), col("shared"), col("m"),
        expr("(shared * 1000000L) div m").as("jaccard_fp"))
  }

  /** [[kmvJaccard]] over an incremental sketch table with k DERIVED
    * from the table's creation-time sidecar — the k-mismatch bias is
    * impossible by construction. `groupCol` names the single group
    * column the table was sketched by. */
  def kmvJaccardTable(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, groupCol: String): DataFrame =
    kmvJaccard(kmvRead(spark, tableDir, Seq(groupCol))
      .select(col(groupCol), col("kmv")), groupCol, storedK(tableDir))

  // ----------------------------------------------------------------
  // Count-Min frequency sketch (Cormode & Muthukrishnan, J.Alg 2005)
  // — the frequency sibling of the KMV cardinality sketch: d hash
  // rows × w cells of ADDITIVE counts; a point estimate is the min
  // over rows of the probed cells — always ≥ the true count, within
  // εN (ε = e/w) with probability 1−e^-d. Like everything in this
  // file the hashing is the stable md5 (four DISJOINT 7-hex-char
  // slices of one digest), so the sketch and every estimate are pure
  // functions of the input multiset — cross-engine replayable — and
  // the cells are additive, so sketches of partitions/batches/days
  // merge by cell-wise SUM (the same additive law the LM count
  // tables ride). At 100 TB: token/feature frequency answers from
  // d·w longs, no vocabulary-sized state anywhere.
  // ----------------------------------------------------------------

  /** Cell index of `tokCol` for hash row `r` (0-based, r < 4): a
    * disjoint md5 slice per row. */
  private def cmCell(tokCol: String, r: Int, width: Int): String =
    s"CAST(conv(substring(md5(`$tokCol`), ${1 + r * 7}, 7), 16, 10)" +
      s" AS BIGINT) % $width"

  /** Build the sketch from a (token, count) frame — pre-aggregated
    * counts keep the explode ×d on the VOCABULARY, not on every
    * token position. Output: (r, cell, cnt), ≤ d·w rows. */
  private def cmCellCase(tokCol: String, depth: Int,
      width: Int): String =
    "CASE " + (0 until depth).map(r =>
      s"WHEN r = $r THEN ${cmCell(tokCol, r, width)}").mkString(" ") +
      " END"

  def cmSketch(tokenCounts: DataFrame, tokCol: String, cntCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= 4,
      s"cm depth must be 1..4 (disjoint md5 slices): $depth")
    require(width >= 2, s"cm width must be at least 2: $width")
    require(!Set("r", "cell", "c", "cnt")(tokCol) && cntCol != "r" &&
        cntCol != "cell",
      s"token/count columns collide with sketch internals: " +
        s"$tokCol, $cntCol")
    // NULL tokens have no hash (md5(NULL) is NULL) and are skipped;
    // counts are assumed non-negative — deletions would void the
    // ≥-true-count guarantee
    tokenCounts.filter(col(tokCol).isNotNull)
      .select(col(tokCol), col(cntCol).as("c"),
        explode(expr(s"sequence(0, ${depth - 1})")).as("r"))
      .withColumn("cell", expr(cmCellCase(tokCol, depth, width)))
      .groupBy(col("r"), col("cell"))
      .agg(sum(col("c")).as("cnt"))
  }

  /** Point estimates for `probes` (a `t` column): min over the d
    * probed cells. The sketch (≤ d·w rows) broadcasts; probes never
    * shuffle. Unprobed-cell semantics: a cell no token hashed to
    * holds 0. */
  def cmEstimate(sketch: DataFrame, probes: DataFrame,
      tokCol: String = "t", depth: Int = 4,
      width: Int = 1024): DataFrame =
    probes.filter(col(tokCol).isNotNull)
      .select(col(tokCol).as("t"),
        explode(expr(s"sequence(0, ${depth - 1})")).as("r"))
      .withColumn("cell", expr(cmCellCase("t", depth, width)))
      .join(broadcast(sketch), Seq("r", "cell"), "left")
      .groupBy(col("t"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  /** Streaming sketch maintenance: every micro-batch lands
    * exactly-once (batch-id-keyed txn markers); any reader sees the
    * exact full-scan sketch of everything ingested. */
  def kmvStreamToTable(stream: DataFrame, valueCol: String,
      groupCols: Seq[String], tableDir: String, checkpointDir: String,
      k: Int = 256, appId: String = "graft-kmv")
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        kmvAppend(batch, tableDir, valueCol, groupCols, k,
          Some((appId, id)))
      }
      .start()
}
