package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-pass table profiling (the Deequ/dbt-docs data-quality front
  * door): per-column row/null counts, a portable KMV distinct
  * ESTIMATE, and min/max — computed in a SINGLE aggregation over ONE
  * scan, so profiling a 100 TB table costs exactly one pass no matter
  * how many columns are profiled (the naive per-column loop is C
  * scans). The distinct estimates ride [[Sketch]]'s k-bounded
  * `kmv_hashes` state (exact below k, ≈6% rsd at k = 256), so the
  * whole profile is a pure function of the table content — DuckDB
  * replays every cell, estimate included.
  *
  * Min/max are emitted as canonical strings of the column's native
  * ordering; both engines order ASCII strings and numerics
  * identically (the same assumption every ORDER BY oracle in the
  * suite already leans on).
  */
object Profile {

  /** `column, n_rows, n_null, est_distinct, min_s, max_s` — one row
    * per profiled column, one scan total. */
  def profile(df: DataFrame, cols: Seq[String],
      k: Int = 256): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val perCol: Seq[Column] = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"_nn_$c"),
        expr("kmv_hashes(CAST(conv(substring(md5(CAST(`" + c +
          s"` AS STRING)), 1, 15), 16, 10) AS BIGINT), $k)")
          .as(s"_kmv_$c"),
        min(col(c)).cast("string").as(s"_min_$c"),
        max(col(c)).cast("string").as(s"_max_$c"))
    }
    val one = df.agg(count(lit(1)).as("_n"), perCol: _*)
    val rows = cols.map { c =>
      struct(
        lit(c).as("column"),
        col("_n").as("n_rows"),
        (col("_n") - col(s"_nn_$c")).as("n_null"),
        Sketch.estimate(s"_kmv_$c", k).as("est_distinct"),
        col(s"_min_$c").as("min_s"),
        col(s"_max_$c").as("max_s"))
    }
    one.select(explode(array(rows: _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("column"))
  }

  // ----------------------------------------------------------------
  // INCREMENTAL profiling — the index-freshness story applied to the
  // profile itself: per-batch PARTIALS (counts, k-min sketch, typed
  // min/max) land in a graft table as C rows per batch, and because
  // every metric is mergeable (counts additive, k-mins
  // union-combinable, min/max associative), the read-time merge is
  // EXACTLY the single-pass profile of the concatenated batches — so
  // profiling a live 100 TB table costs O(changed commits), not a
  // corpus scan per refresh. The eighth index kind under
  // `GRAFT COMPACT INDEX` (fold = the same merge, ≤ C rows after).
  // Mirrors Delta's auto-computed table stats (the reference reads
  // them through delta_scan metadata, research.md:545-615).
  // ----------------------------------------------------------------

  /** The shared wide-decimal slot every decimal column's per-file
    * min/max stores into EXACTLY (scale ≤ 18, integral digits ≤ 20
    * fit without rounding); the read renders back at the column's
    * own scale. */
  private val DecSlot = "decimal(38,18)"

  /** Partial-row column set (the stored schema): typed min/max slots
    * keep the NATIVE ordering per type family — a string-cast min is
    * only order-preserving for strings/dates/timestamps/booleans, so
    * integrals merge in `_l`, doubles (and, BY FILE, floats — every
    * float is exactly a double) in `_d`, and decimals in a shared
    * `_dec` DECIMAL(38,18) slot. Floats and decimals are FILE-KEYED
    * only: per-file min/max of immutable files are exact, while the
    * batch-keyed form keeps its r12 reject (its partials would feed
    * a cross-batch merge whose rendering drifted from a full scan
    * before the per-file form existed — the contract stands). */
  private def typedSlots(dt: org.apache.spark.sql.types.DataType,
      c: String, byFile: Boolean = false)
  : (Column, Column, Column, Column, Column, Column, Column, Column) = {
    import org.apache.spark.sql.types._
    val nl = lit(null).cast("long"); val nd = lit(null).cast("double")
    val ns = lit(null).cast("string")
    val ndec = lit(null).cast(DecSlot)
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        (min(col(c)).cast("long"), max(col(c)).cast("long"),
          nd, nd, ndec, ndec, ns, ns)
      case DoubleType =>
        (nl, nl, min(col(c)), max(col(c)), ndec, ndec, ns, ns)
      case FloatType if byFile =>
        // float → double is exact, min/max order unchanged; the read
        // casts back to float before rendering
        (nl, nl, min(col(c)).cast("double"),
          max(col(c)).cast("double"), ndec, ndec, ns, ns)
      case d: DecimalType if byFile =>
        require(d.scale <= 18 && d.precision - d.scale <= 20,
          s"profile: decimal column $c (${d.simpleString}) does not " +
            s"fit the shared $DecSlot min/max slot exactly — " +
            "scale <= 18 and precision - scale <= 20 required")
        (nl, nl, nd, nd, min(col(c)).cast(DecSlot),
          max(col(c)).cast(DecSlot), ns, ns)
      case StringType | DateType | BooleanType |
           TimestampType | TimestampNTZType =>
        // ISO date/timestamp strings and 'false' < 'true' order
        // exactly like the native values, so the string slot is safe
        (nl, nl, nd, nd, ndec, ndec,
          min(col(c)).cast("string"), max(col(c)).cast("string"))
      case other => throw new IllegalArgumentException(
        s"profile: column $c has type ${other.simpleString} — " +
          "integral, double, string, date, timestamp and boolean " +
          "columns profile in both forms; float and decimal columns " +
          "profile BY FILE only (per-file min/max of immutable files " +
          "are exact; batch-keyed partials keep their reject)")
    }
  }

  /** Profile a batch and land its PARTIALS exactly-once: one
    * aggregation over the batch, C rows appended (`txn` replays are
    * no-ops, like every incremental index). The column set and k are
    * pinned at creation; later appends must match. */
  def profileAppend(batch: DataFrame, tableDir: String,
      cols: Seq[String], k: Int = 256,
      txn: Option[(String, Long)] = None): Unit = {
    require(cols.nonEmpty, "profileAppend needs at least one column")
    require(k >= 2, s"profile k must be at least 2: $k")
    require(cols.forall(c => !c.contains(",")),
      s"profile column names must be comma-free: ${cols.mkString("|")}")
    // BOTH layout parameters pin at creation in one sidecar write: k
    // (merge width) AND the column set — an append with a different
    // cols list would silently skew per-column n_rows/n_null in the
    // merged profile (each column's counts must cover every batch).
    val meta = IndexMeta.ensureRaw(tableDir,
      Map("profile_k" -> k.toString,
        "profile_cols" -> cols.sorted.mkString(",")))
    val won = meta.get("profile_k").map(_.trim.toInt).getOrElse(
      sys.error(s"index meta at $tableDir has no key 'profile_k'"))
    require(won == k,
      s"profile index at $tableDir was created with k=$won, got k=$k")
    require(!meta.get("profile_by").contains("file"),
      s"index at $tableDir is FILE-keyed (profileSyncFiles) — a " +
        "batch-keyed append would corrupt its manifest join; sync it " +
        "with profileSyncFiles instead")
    val stored = meta.getOrElse("profile_cols", "")
    require(stored == cols.sorted.mkString(","),
      s"profile index at $tableDir pins columns [$stored] but this " +
        s"append carries [${cols.sorted.mkString(",")}] — a " +
        "partial-column append would undercount the merged profile; " +
        "recreate the index to change its column set")
    val perCol: Seq[Column] = cols.flatMap { c =>
      val (minL, maxL, minD, maxD, _, _, minS, maxS) =
        typedSlots(batch.schema(c).dataType, c)
      Seq(
        count(col(c)).as(s"_nn_$c"),
        expr("kmv_hashes(CAST(conv(substring(md5(CAST(`" + c +
          s"` AS STRING)), 1, 15), 16, 10) AS BIGINT), $k)")
          .as(s"_kmv_$c"),
        minL.as(s"_minl_$c"), maxL.as(s"_maxl_$c"),
        minD.as(s"_mind_$c"), maxD.as(s"_maxd_$c"),
        minS.as(s"_mins_$c"), maxS.as(s"_maxs_$c"))
      // the decimal slots are BY FILE-only (typedSlots rejects
      // float/decimal here), so the batch-keyed schema keeps its
      // original 11 columns
    }
    val one = batch.agg(count(lit(1)).as("_n"), perCol: _*)
    val rows = cols.map { c =>
      struct(
        lit(c).as("column"),
        lit(batch.schema(c).dataType.simpleString).as("dtype"),
        col("_n").as("n_rows"),
        (col("_n") - col(s"_nn_$c")).as("n_null"),
        col(s"_kmv_$c").as("kmv"),
        col(s"_minl_$c").as("min_l"), col(s"_maxl_$c").as("max_l"),
        col(s"_mind_$c").as("min_d"), col(s"_maxd_$c").as("max_d"),
        col(s"_mins_$c").as("min_s"), col(s"_maxs_$c").as("max_s"))
    }
    val partials = one.select(explode(array(rows: _*)).as("p"))
      .select(col("p.*"))
    graft.sink.CdcTable.append(partials, tableDir, partitionBy = Nil,
      txn = txn)
    ()
  }

  /** Maintain a profile index FROM a live graft table's commit log —
    * the O(changed commits) refresh: reads ONLY the table commits the
    * index has not yet folded in ([[graft.sink.CdcTable.readChanges]]
    * above the index's high-water mark, tracked by a txn marker keyed
    * to the table) and lands ONE partial append for the whole range,
    * so a `GRAFT PROFILE INDEX` of a 100 TB table stays exact while a
    * refresh touches only new data. APPEND-ONLY contract: partials
    * are not subtractable (min/max, k-mins), so a non-append commit
    * (delete/update/replace/merge) in the unseen range is rejected
    * loudly — recreate the index from the table's current state
    * instead (the same contract Delta's incremental stats have).
    * Returns the number of table commits synced (0 = already fresh). */
  def profileSync(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, indexDir: String, cols: Seq[String],
      k: Option[Int] = None): Int = {
    import graft.sink.CdcTable
    val commits = CdcTable.log(tableDir)
    require(commits.nonEmpty, s"no CdcTable at $tableDir")
    // canonicalize the path: the high-water marker is keyed on the
    // table's identity, and the same table synced via a different
    // SPELLING (trailing slash, relative path) must not reset the
    // mark and double-fold every commit
    val appId = s"profile@${canonicalDir(tableDir)}"
    val idxLog = CdcTable.log(indexDir)
    // an EXISTING index serves its creation-time k from the sidecar —
    // k = None adopts it (the kmvJaccardTable principle: derive,
    // don't trust a default), and an EXPLICIT k that contradicts the
    // stored one rejects loudly instead of silently serving stored
    val useK = if (idxLog.nonEmpty) storedProfileK(indexDir)
               else k.getOrElse(256)
    if (idxLog.nonEmpty) k.foreach(req => require(req == useK,
      s"profile index at $indexDir was created with k=$useK but " +
        s"this sync explicitly asked k=$req — recreate the index to " +
        "change its sketch width"))
    val hw = idxLog.flatMap(_.txn)
      .filter(_._1 == appId).map(_._2).maxOption.getOrElse(0L)
    if (idxLog.nonEmpty) {
      // the creation-time pinned set lives in the sidecar (zero IO)
      val stored = IndexMeta.stored(indexDir).flatMap(_.get("profile_cols"))
        .map(_.split(',').toSet)
        .getOrElse(sys.error(
          s"profile index at $indexDir pins no column set — recreate it"))
      require(stored == cols.toSet,
        s"profile index at $indexDir covers ${stored.mkString(",")} " +
          s"but sync asked for ${cols.mkString(",")} — partial-column " +
          "history would undercount; recreate the index")
    }
    val range = commits.filter(_.commit > hw)
    if (range.isEmpty) return 0
    val nonAppend = range.filter(_.action != "append")
    require(nonAppend.isEmpty,
      s"profileSync: non-append commit(s) " +
        s"${nonAppend.map(c => s"${c.commit}:${c.action}").mkString(",")} " +
        s"at $tableDir — partials cannot subtract; recreate the index " +
        "from the table's current state")
    val batch = CdcTable.readChanges(spark, tableDir, afterCommit = hw)
      .drop("_commit", "_commit_ts", "_change_type")
    profileAppend(batch, indexDir, cols, useK,
      txn = Some((appId, range.last.commit)))
    range.length
  }

  /** One canonical spelling per table path, for identity-keyed txn
    * markers: URI-style paths normalize through Hadoop Path (strips
    * trailing slashes, collapses //); bare local paths additionally
    * absolutize so `./t`, `t` and `/cwd/t` all key the same mark. */
  private[graft] def canonicalDir(dir: String): String =
    if (dir.contains("://"))
      new org.apache.hadoop.fs.Path(dir).toString
    else java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString

  /** The table's k, pinned at creation in the sidecar. */
  private[graft] def storedProfileK(tableDir: String): Int =
    IndexMeta.stored(tableDir).flatMap(_.get("profile_k"))
      .map(_.trim.toInt)
      .getOrElse(sys.error(
        s"no profile_k sidecar at $tableDir — not a profile index"))

  // ----------------------------------------------------------------
  // PER-FILE partials — the manifest-native profile index: one
  // partial row per (data file, column). Files are IMMUTABLE, so a
  // partial never changes once written; DML (DELETE/UPDATE/MERGE),
  // OPTIMIZE and replace commits just swap FILES in the manifest,
  // and the read-time merge joins partials against the manifest of
  // the requested snapshot — dropped files stop contributing, new
  // files sync in, and `GRAFT PROFILE` of ANY time-travel snapshot
  // becomes a manifest join. This closes the batch-keyed index's
  // append-only contract (profileSync rejects non-append commits;
  // this form handles them structurally). Delta keeps its file
  // stats in the log for the same reason.
  // ----------------------------------------------------------------

  /** Sync a FILE-KEYED profile index from a graft table: profile
    * every current-manifest file the index has not yet seen (one
    * scan over exactly those files, grouped by file) and append the
    * partial rows. Freshness derives from a manifest HIGH-WATER
    * txn marker — a fresh index answers 0 with zero index IO, and
    * the unseen-file set never collects driver-side (commits above
    * the mark propose candidates; a distributed anti-join strips
    * carried-by-reference files a replace commit re-lists).
    * Idempotent — replays and crash re-runs re-derive the same
    * missing set and the committed marker short-circuits them;
    * duplicate rows are deterministic per (file, column)
    * and dedupe at read. Zero-row files get explicit zero partials
    * so the read-side completeness check stays exact. The column
    * set, k, and the TABLE PATH pin at creation in the sidecar
    * (reads resolve the manifest through it). Returns the number of
    * files newly profiled (0 = index fresh for the current state). */
  def profileSyncFiles(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, indexDir: String, cols: Seq[String],
      k: Option[Int] = None): Int = {
    import graft.sink.CdcTable
    require(cols.nonEmpty, "profileSyncFiles needs at least one column")
    k.foreach(v => require(v >= 2, s"profile k must be at least 2: $v"))
    require(cols.forall(c => !c.contains(",")),
      s"profile column names must be comma-free: ${cols.mkString("|")}")
    val commits = CdcTable.commitsAsOf(tableDir)
    val canon = canonicalDir(tableDir)
    val meta = IndexMeta.ensureRaw(indexDir,
      Map("profile_k" -> k.getOrElse(256).toString,
        "profile_cols" -> cols.sorted.mkString(","),
        "profile_by" -> "file",
        "profile_table" -> canon))
    require(meta.get("profile_by").contains("file"),
      s"index at $indexDir is a batch-keyed profile index — use " +
        "profileAppend/profileSync with it, or recreate it BY FILE")
    require(meta.get("profile_table").contains(canon),
      s"file profile index at $indexDir tracks table " +
        s"${meta.getOrElse("profile_table", "?")}, not $canon")
    // k = None adopts the stored width; an EXPLICIT k that
    // contradicts it rejects loudly (an explicit request silently
    // served at a different sketch width is a wrong answer)
    val useK = meta("profile_k").trim.toInt
    k.foreach(req => require(req == useK,
      s"profile index at $indexDir was created with k=$useK but this " +
        s"sync explicitly asked k=$req — recreate the index to " +
        "change its sketch width"))
    meta.get("profile_cols").foreach { stored =>
      require(stored == cols.sorted.mkString(","),
        s"profile index at $indexDir pins columns [$stored] but this " +
          s"sync carries [${cols.sorted.mkString(",")}] — recreate " +
          "the index to change its column set")
    }
    // freshness via the manifest high-water mark (the profileSync
    // pattern): candidate files are those introduced by TABLE commits
    // above the last synced commit — a fresh index returns 0 with
    // ZERO index IO. A replace/DML commit can CARRY already-profiled
    // files by reference; a DISTRIBUTED anti-join strips those, so
    // nothing ever collects the full profiled-file set to the driver
    // (a 100 TB table is ~10⁶ live files — only the NEW files land
    // driver-side, bounded by the sync delta)
    val appId = s"profilefiles@$canon"
    val idxLog = CdcTable.log(indexDir)
    val hw = idxLog.flatMap(_.txn).filter(_._1 == appId).map(_._2)
      .maxOption.getOrElse(0L)
    val live = commits.flatMap(_.files).toSet
    val candidates = commits.filter(_.commit > hw)
      .flatMap(_.files).distinct.filter(live)
    if (candidates.isEmpty) return 0
    val toAdd: Seq[String] =
      if (idxLog.isEmpty) candidates
      else {
        import spark.implicits._
        candidates.toDF("file")
          .join(CdcTable.read(spark, indexDir).select(col("file")),
            Seq("file"), "left_anti")
          .collect().map(_.getString(0)).toSeq
      }
    if (toAdd.isEmpty) return 0
    val src = CdcTable.readFilesOf(spark, tableDir, toAdd.toSet)
      .withColumn("__file", CdcTable.relPathCol())
    val perCol: Seq[Column] = cols.flatMap { c =>
      val (minL, maxL, minD, maxD, minDec, maxDec, minS, maxS) =
        typedSlots(src.schema(c).dataType, c, byFile = true)
      Seq(
        count(col(c)).as(s"_nn_$c"),
        expr("kmv_hashes(CAST(conv(substring(md5(CAST(`" + c +
          s"` AS STRING)), 1, 15), 16, 10) AS BIGINT), $useK)")
          .as(s"_kmv_$c"),
        minL.as(s"_minl_$c"), maxL.as(s"_maxl_$c"),
        minD.as(s"_mind_$c"), maxD.as(s"_maxd_$c"),
        minDec.as(s"_mindec_$c"), maxDec.as(s"_maxdec_$c"),
        minS.as(s"_mins_$c"), maxS.as(s"_maxs_$c"))
    }
    val one = src.groupBy(col("__file"))
      .agg(count(lit(1)).as("_n"), perCol: _*)
    val rows = cols.map { c =>
      struct(
        col("__file").as("file"),
        lit(c).as("column"),
        lit(src.schema(c).dataType.simpleString).as("dtype"),
        col("_n").as("n_rows"),
        (col("_n") - col(s"_nn_$c")).as("n_null"),
        col(s"_kmv_$c").as("kmv"),
        col(s"_minl_$c").as("min_l"), col(s"_maxl_$c").as("max_l"),
        col(s"_mind_$c").as("min_d"), col(s"_maxd_$c").as("max_d"),
        col(s"_mindec_$c").as("min_dec"),
        col(s"_maxdec_$c").as("max_dec"),
        col(s"_mins_$c").as("min_s"), col(s"_maxs_$c").as("max_s"))
    }
    val partials = one.select(explode(array(rows: _*)).as("p"))
      .select(col("p.*")).localCheckpoint()
    // a ZERO-ROW file produces no groups above — synthesize explicit
    // zero partials so the manifest join never mistakes it for an
    // unsynced file
    val got = partials.select(col("file")).distinct()
      .collect().map(_.getString(0)).toSet
    val missing = toAdd.filterNot(got)
    val zeros: org.apache.spark.sql.DataFrame =
      if (missing.isEmpty) partials
      else {
        val zrows = new java.util.ArrayList[org.apache.spark.sql.Row]()
        missing.foreach { f =>
          cols.foreach { c =>
            zrows.add(org.apache.spark.sql.Row(f, c,
              src.schema(c).dataType.simpleString, 0L, 0L,
              Seq.empty[Long], null, null, null, null, null, null,
              null, null))
          }
        }
        partials.unionByName(
          spark.createDataFrame(zrows, partials.schema))
      }
    // the txn marker advances the high-water mark atomically with
    // the partial append — a replayed/crashed sync re-derives the
    // same missing set and the committed marker short-circuits it
    graft.sink.CdcTable.append(zeros, indexDir, partitionBy = Nil,
      txn = Some((appId, commits.last.commit)))
    toAdd.size
  }

  /** The profile of a graft table AT a manifest snapshot, served from
    * a [[profileSyncFiles]] index with ZERO table IO: partials of
    * exactly the snapshot's files (resolved through the pinned table
    * path; `commitAsOf` time-travels like [[graft.sink.CdcTable
    * .readAsOf]]) merge to the same six-column result [[profile]]
    * computes from a full scan. Fails loudly when the snapshot holds
    * files the index has not profiled — run [[profileSyncFiles]]. */
  def profileReadFiles(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, commitAsOf: Option[Long] = None,
      timestampAsOf: Option[Long] = None): DataFrame = {
    import graft.sink.CdcTable
    val meta = IndexMeta.stored(indexDir)
      .getOrElse(sys.error(s"no profile sidecar at $indexDir"))
    require(meta.get("profile_by").contains("file"),
      s"index at $indexDir is not a file-keyed profile index")
    val tableDir = meta.getOrElse("profile_table", sys.error(
      s"file profile index at $indexDir pins no table path"))
    val k = meta.getOrElse("profile_k", sys.error(
      s"no profile_k at $indexDir")).trim.toInt
    val rels = CdcTable.commitsAsOf(tableDir, commitAsOf, timestampAsOf)
      .flatMap(_.files).distinct
    import spark.implicits._
    val relsDf = rels.toDF("file")
    val p = CdcTable.read(spark, indexDir)
      .dropDuplicates("file", "column") // idempotent-sync duplicates
      .join(broadcast(relsDf), Seq("file"), "left_semi")
    val covered = p.select(col("file")).distinct().count()
    require(covered == rels.size,
      s"file profile index at $indexDir covers $covered of " +
        s"${rels.size} files in the requested snapshot of $tableDir " +
        "— run profileSyncFiles (a snapshot older than the index's " +
        "first sync cannot be served)")
    serveProfile(mergePartialRows(p.drop("file"), k), k)
  }

  /** Merge stored partials to ONE row per (column, dtype): the exact
    * aggregation [[profileRead]] serves from and the COMPACT INDEX
    * fold stores back — associative/commutative merges, so
    * batched ≡ folded ≡ full-scan holds by construction. */
  private def mergedPartials(spark: org.apache.spark.sql.SparkSession,
      tableDir: String): DataFrame =
    mergePartialRows(graft.sink.CdcTable.read(spark, tableDir),
      storedProfileK(tableDir))

  private def mergePartialRows(all0: DataFrame, k: Int): DataFrame = {
    // batch-keyed partials (and pre-upgrade file-keyed indexes)
    // carry no decimal slots — inject nulls so one merge serves both
    val all =
      if (all0.columns.contains("min_dec")) all0
      else all0
        .withColumn("min_dec", lit(null).cast(DecSlot))
        .withColumn("max_dec", lit(null).cast(DecSlot))
    val counts = all.groupBy(col("column"))
      .agg(countDistinct(col("dtype")).as("_ndt"),
        first(col("dtype")).as("dtype"),
        sum(col("n_rows")).as("n_rows"),
        sum(col("n_null")).as("n_null"),
        min(col("min_l")).as("min_l"), max(col("max_l")).as("max_l"),
        min(col("min_d")).as("min_d"), max(col("max_d")).as("max_d"),
        min(col("min_dec")).as("min_dec"),
        max(col("max_dec")).as("max_dec"),
        min(col("min_s")).as("min_s"), max(col("max_s")).as("max_s"))
      // one dtype per column or the merge semantics are undefined —
      // fail in-plan rather than serve a silently wrong min/max. The
      // guard rides n_rows (present in EVERY consumer's projection);
      // hanging it on dtype would let profileRead's column pruning
      // silently drop the check
      .withColumn("n_rows", when(col("_ndt") > 1, expr(
        "raise_error(concat('profile index: column ', column, " +
          "' was appended under multiple types'))"))
        .otherwise(col("n_rows")))
      .drop("_ndt")
    val sketches = all.select(col("column"),
        explode(col("kmv")).as("_h"))
      .groupBy(col("column"))
      .agg(expr(s"kmv_hashes(_h, $k)").as("kmv"))
    // LEFT join: an all-null column has only EMPTY stored sketches —
    // explode drops its rows entirely, so it merges to the empty
    // sketch here instead of vanishing from the profile
    counts.join(sketches, Seq("column"), "left")
      .withColumn("kmv",
        coalesce(col("kmv"), expr("CAST(array() AS ARRAY<BIGINT>)")))
  }

  /** The effective profile from a [[profileAppend]] table —
    * bit-identical to [[profile]] over the concatenated batches, read
    * from O(batches·C) stored partial rows with ZERO corpus IO. */
  def profileRead(spark: org.apache.spark.sql.SparkSession,
      tableDir: String): DataFrame =
    serveProfile(mergedPartials(spark, tableDir),
      storedProfileK(tableDir))

  /** Merged partials → the six-column served profile. Rendering is
    * dtype-aware where the storage slot widened the native type:
    * floats render back AT float width (the double slot holds them
    * exactly), decimals render at the COLUMN's own scale (the
    * DECIMAL(38,18) slot string is cut after `scale` fractional
    * digits) — both bit-match a full scan's CAST(min AS STRING). */
  private def serveProfile(merged: DataFrame, k: Int): DataFrame = {
    def render(p: String): Column = expr(
      s"""CASE
         |  WHEN dtype LIKE 'decimal%' AND ${p}_dec IS NOT NULL THEN
         |    CASE WHEN CAST(regexp_extract(dtype,
         |        'decimal\\\\(\\\\d+,(\\\\d+)\\\\)', 1) AS INT) = 0
         |      THEN substring(CAST(${p}_dec AS STRING), 1,
         |        instr(CAST(${p}_dec AS STRING), '.') - 1)
         |      ELSE substring(CAST(${p}_dec AS STRING), 1,
         |        instr(CAST(${p}_dec AS STRING), '.') +
         |        CAST(regexp_extract(dtype,
         |          'decimal\\\\(\\\\d+,(\\\\d+)\\\\)', 1) AS INT))
         |    END
         |  WHEN dtype = 'float' THEN
         |    CAST(CAST(${p}_d AS FLOAT) AS STRING)
         |  ELSE coalesce(CAST(${p}_l AS STRING),
         |    CAST(${p}_d AS STRING), ${p}_s)
         |END""".stripMargin)
    merged
      .select(col("column"), col("n_rows"), col("n_null"),
        Sketch.estimate("kmv", k).as("est_distinct"),
        render("min").as("min_s"),
        render("max").as("max_s"))
      .orderBy(col("column"))
  }

  /** `GRAFT COMPACT INDEX` fold: ≤ one partial row per column after
    * the fold, in the STORED schema — reads before and after are
    * identical because the fold is the read-time merge itself. */
  private[graft] def foldProfile(
      spark: org.apache.spark.sql.SparkSession,
      tableDir: String): DataFrame =
    mergedPartials(spark, tableDir)
      .select(col("column"), col("dtype"), col("n_rows"),
        col("n_null"), col("kmv"), col("min_l"), col("max_l"),
        col("min_d"), col("max_d"), col("min_s"), col("max_s"))
}
