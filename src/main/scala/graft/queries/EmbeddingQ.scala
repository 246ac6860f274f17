package graft.queries

import graft.Tables
import graft.ext.{AnnIndex, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim L2-normalized
  * `Array[Float]`): brute-force cosine top-k as the correctness
  * baseline, random-hyperplane LSH bucketing and IVF (centroid
  * partitioning) as the 100 TB scale paths.
  *
  * Dot products are computed in fixed-point (per-element double product
  * rounded at 1e-12, summed as BIGINT) so Spark and the DuckDB oracle
  * produce bit-identical results regardless of summation order; since
  * the vectors are unit-norm the dot product IS the cosine.
  *
  * Scale design: brute-force is one broadcast of the query vector and a
  * single codegen'd scan (no shuffle); the pair query (q37) is
  * LSH-band-blocked — candidates share at least one hyperplane band,
  * never the O(n²) cross product; LSH/IVF prune the candidate set by
  * bucketing, and q58 demonstrates the real 100 TB shape: the bucket
  * as a WRITE-TIME partition column probed with a literal filter
  * (static partition pruning, see [[graft.ext.AnnIndex]]).
  */
object EmbeddingQ {

  private def dot(a: String, b: String): String = Similarity.dotSql(a, b)

  /** Same in DuckDB (1-based indexing). */
  private[queries] def dotD(a: String, b: String) =
    s"""CAST(list_sum(list_transform(range(1, len($a) + 1), i ->
       |  CAST(ROUND(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) * 1e12)
       |    AS BIGINT))) AS BIGINT)""".stripMargin

  /** q36 — brute-force cosine top-k (ANN correctness baseline): query
    * vector broadcast to every partition, one narrow scan, global
    * TakeOrdered(10). */
  def q36(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (expr(dot("embedding", "qe")) / lit(1e12)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  val q36Sql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id,
       |  CAST(${dotD("embedding", "qe")} AS DOUBLE) / 1e12 AS cos_sim
       |FROM embeddings, q WHERE vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  /** q37 — embedding-cosine near-dup pairs (dedup by similarity) via
    * the DEFAULT LSH-bucket-blocked path (`Similarity.nearDupPairs`):
    * rows hash into deterministic hyperplane buckets at the
    * AUTO-DERIVED width (clamp(ceil(log2(n/200)), 4, 20) — candidate
    * volume per row stays bounded as the corpus grows), only
    * same-bucket pairs are candidates (one equi-join keyed on the
    * bucket — never the all-pairs product), then the exact fixed-point
    * cosine verifies ≥ 0.45. The oracle mirrors the derivation AND the
    * bucketing bit-exactly, so both engines compute the identical
    * deterministic candidate set. */
  def q37(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(Tables(s, dir, "embeddings"), "vec_id", 0.45)
      .orderBy(col("a_id"), col("b_id"))

  val q37Sql: String =
    s"""WITH p AS (SELECT LEAST(20, GREATEST(4, CAST(CEIL(LOG2(
       |    GREATEST(COUNT(*), 1) / 200.0)) AS INT))) AS pl
       |  FROM embeddings),
       |e AS (SELECT vec_id, embedding, ${bucketDN("pl")} AS bucket
       |  FROM embeddings, p)
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  CAST(${dotD("a.embedding", "b.embedding")} AS DOUBLE) / 1e12
       |    AS cos_sim
       |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE CAST(${dotD("a.embedding", "b.embedding")} AS DOUBLE) / 1e12
       |  >= 0.45
       |ORDER BY a_id, b_id""".stripMargin

  /** Read-time LSH bucket (4 hyperplanes → 16 buckets): codegen'd
    * native `lsh_bucket`. */
  private def bucketE = Similarity.lshBucketSql("embedding", 4, 0)
  private def bucketD = bucketDN("4")

  /** Same with a parametric plane count (a SQL expression — q83 feeds
    * the auto-derived probe width). */
  private def bucketDN(p: String) = bucketDNO(p, 0)

  /** Same with a plane-family offset (band b of stored width w uses
    * offset b·w — mirrors `lsh_bucket(e, p, off)`). */
  private def bucketDNO(p: String, off: Int) = {
    val m = graft.functions.LshBucket.PlaneMod
    s"""CAST(list_sum(list_transform(range(0, $p), j ->
       |  CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1),
       |    i -> CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1e7) AS BIGINT)
       |      * ((((i - 1) * 31 + (j + $off) * 17) % $m) - ${m / 2}))) > 0
       |  THEN 1 << j ELSE 0 END)) AS BIGINT)""".stripMargin
  }

  /** q38 — LSH-bucketed ANN, read-time bucket: only the query's bucket
    * survives the filter, then exact cosine re-ranks (top-5). The
    * write-time variant of the same search is q58. */
  def q38(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .withColumn("bucket", expr(bucketE))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), col("bucket").as("qbucket"))
    emb.crossJoin(broadcast(q))
      .filter(col("bucket") === col("qbucket") && col("vec_id") =!= 0)
      .select(col("vec_id"), col("bucket"),
        (expr(dot("embedding", "qe")) / lit(1e12)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(5)
  }

  val q38Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding, $bucketD AS bucket
       |  FROM embeddings),
       |q AS (SELECT embedding AS qe, bucket AS qbucket FROM e
       |  WHERE vec_id = 0)
       |SELECT vec_id, bucket,
       |  CAST(${dotD("embedding", "qe")} AS DOUBLE) / 1e12 AS cos_sim
       |FROM e, q WHERE bucket = qbucket AND vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin

  /** q39 — IVF search: vectors 0..7 act as centroids. The 8 centroid
    * vectors are collected driver-side (bounded — they are the
    * broadcast side by construction) and inlined as literals, so the
    * assignment is ONE codegen'd projection per row — 8 native dots +
    * a `greatest(struct(dot, -cid))` argmax — with NO centroid
    * fan-out join and NO shuffle (BENCH_r01's 5.9 s window argmax
    * eliminated). The query probes only its own cluster. At scale the
    * assignment is a write-time partition column (same pattern as
    * q58). Ties break to the smallest cid, matching the oracle's
    * ORDER BY cdot DESC, cid. */
  def q39(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toIndexedSeq
    val assigned = emb
      .withColumn("cid", Similarity.ivfAssignLit("embedding", cents))
      .select(col("vec_id"), col("embedding"), col("cid"))
    val q = assigned.filter(col("vec_id") === 42)
      .select(col("embedding").as("qe"), col("cid").as("qcid"))
    assigned.crossJoin(broadcast(q))
      .filter(col("cid") === col("qcid") && col("vec_id") =!= 42)
      .select(col("vec_id"), col("cid"),
        (expr(dot("embedding", "qe")) / lit(1e12)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(5)
  }

  val q39Sql: String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce
       |  FROM embeddings WHERE vec_id < 8),
       |scored AS (SELECT e.vec_id, e.embedding, c.cid,
       |    ${dotD("e.embedding", "c.ce")} AS cdot,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${dotD("e.embedding", "c.ce")} DESC, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN cent c),
       |assigned AS (SELECT vec_id, embedding, cid FROM scored WHERE rn = 1),
       |q AS (SELECT embedding AS qe, cid AS qcid FROM assigned
       |  WHERE vec_id = 42)
       |SELECT vec_id, cid,
       |  CAST(${dotD("embedding", "qe")} AS DOUBLE) / 1e12 AS cos_sim
       |FROM assigned, q WHERE cid = qcid AND vec_id <> 42
       |ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin

  /** q99 — IVF search with NPROBE ([[graft.ext.Similarity.assignTopN]]
    * — FAISS's nprobe knob): q39's search widened to the query's TWO
    * nearest clusters. A near neighbor whose cluster narrowly lost
    * the coarse argmax is recovered by probing the runner-up — recall
    * rises at linear probe cost with zero index change, the IVF
    * analog of q98's multi-probe. The probed cluster ids are
    * driver-side literals (partition-prunable against
    * [[graft.ext.AnnIndex.writeIvf]]'s layout); the oracle derives
    * the same top-2 clusters with a rank over the centroid dots. */
  def q99(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toIndexedSeq
    val qvec = emb.filter(col("vec_id") === 42)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray
    val qcids = Similarity.assignTopN(qvec, cents, nprobe = 2)
    val qe = Similarity.litFloatArraySql(qvec)
    emb.withColumn("cid", Similarity.ivfAssignLit("embedding", cents))
      .filter(col("cid").isin(qcids: _*) && col("vec_id") =!= 42)
      .select(col("vec_id"), col("cid"),
        (expr(dot("embedding", qe)) / lit(1e12)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(5)
  }

  val q99Sql: String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce
       |  FROM embeddings WHERE vec_id < 8),
       |scored AS (SELECT e.vec_id, e.embedding, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${dotD("e.embedding", "c.ce")} DESC, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN cent c),
       |assigned AS (SELECT vec_id, embedding, cid FROM scored
       |  WHERE rn = 1),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 42),
       |qtop AS (SELECT c.cid FROM cent c, q
       |  ORDER BY ${dotD("qe", "c.ce")} DESC, c.cid LIMIT 2)
       |SELECT vec_id, cid,
       |  CAST(${dotD("embedding", "qe")} AS DOUBLE) / 1e12 AS cos_sim
       |FROM assigned, q
       |WHERE cid IN (SELECT cid FROM qtop) AND vec_id <> 42
       |ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin

  /** q100 — PRODUCT-QUANTIZED search with ADC scoring (Jégou et al.
    * TPAMI 2011 — [[graft.ext.Similarity.pqEncodeLit]] /
    * [[graft.ext.Similarity.pqAdcLit]]): the 64-dim embeddings
    * compress to 4 codebook ids (m = 4 subvectors × 16 sampled
    * codes — rows 0..15 serve as the codebook, the SQL-derivable
    * variant; the k-means-trained path is spec-checked), and the
    * query ranks the corpus from the CODES ALONE — one (4 × 16)
    * exact fixed-point lookup table, score = sum of 4 lookups,
    * integer arithmetic end to end so the oracle hash-matches the
    * approximate scores bit-for-bit. At 100 TB this is the memory
    * story: the scan reads 4 small ints per vector, not 64 floats. */
  def q100(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val books = Similarity
      .pqCodebooksFromRows(emb, "vec_id", "embedding", m = 4, codes = 16)
    val qvec = emb.filter(col("vec_id") === 42)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray
    val lut = Similarity.pqLut(qvec, books)
    emb.filter(col("vec_id") >= 16 && col("vec_id") =!= 42)
      .withColumn("codes", Similarity.pqEncodeLit("embedding", books))
      .withColumn("adc_fp", Similarity.pqAdcLit("codes", lut))
      .select(col("vec_id"), col("adc_fp"),
        (col("adc_fp").cast("double") / lit(1e12)).as("adc_sim"))
      .orderBy(col("adc_fp").desc, col("vec_id"))
      .limit(10)
  }

  val q100Sql: String =
    s"""WITH sub AS (SELECT unnest(range(0, 4)) AS s),
       |cbe AS (SELECT vec_id AS code, s,
       |    embedding[s * 16 + 1 : s * 16 + 16] AS cv
       |  FROM embeddings, sub WHERE vec_id < 16),
       |dsub AS (SELECT vec_id, s,
       |    embedding[s * 16 + 1 : s * 16 + 16] AS dv
       |  FROM embeddings, sub WHERE vec_id >= 16 AND vec_id <> 42),
       |enc AS (SELECT vec_id, s, code FROM (
       |    SELECT d.vec_id, d.s, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.s
       |        ORDER BY ${dotD("d.dv", "c.cv")} DESC, c.code) AS rn
       |    FROM dsub d JOIN cbe c ON d.s = c.s) WHERE rn = 1),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 42),
       |qsub AS (SELECT s, qe[s * 16 + 1 : s * 16 + 16] AS qv
       |  FROM q, sub),
       |lut AS (SELECT c.s, c.code,
       |    CAST(${dotD("qv", "c.cv")} AS BIGINT) AS pd
       |  FROM cbe c JOIN qsub ON c.s = qsub.s),
       |adc AS (SELECT vec_id, CAST(SUM(pd) AS BIGINT) AS adc_fp
       |  FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.code
       |  GROUP BY vec_id)
       |SELECT vec_id, adc_fp, CAST(adc_fp AS DOUBLE) / 1e12 AS adc_sim
       |FROM adc ORDER BY adc_fp DESC, vec_id LIMIT 10""".stripMargin

  /** q101 — two-stage PQ retrieval: ADC SHORTLIST → EXACT RERANK (the
    * standard production pattern over q100): the compressed codes
    * rank the whole corpus cheaply, the top-40 shortlist alone pays
    * the exact fixed-point cosine, and the final top-10 is ordered by
    * the TRUE similarity. At 100 TB the float embeddings are touched
    * for 40 rows, not the corpus. Deterministic end to end (both
    * stages' ties break on vec_id), so the oracle replays shortlist
    * and rerank exactly. */
  def q101(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val books = Similarity
      .pqCodebooksFromRows(emb, "vec_id", "embedding", m = 4, codes = 16)
    val qvec = emb.filter(col("vec_id") === 42)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray
    val lut = Similarity.pqLut(qvec, books)
    val qe = Similarity.litFloatArraySql(qvec)
    emb.filter(col("vec_id") >= 16 && col("vec_id") =!= 42)
      .withColumn("codes", Similarity.pqEncodeLit("embedding", books))
      .withColumn("adc_fp", Similarity.pqAdcLit("codes", lut))
      .orderBy(col("adc_fp").desc, col("vec_id"))
      .limit(40)
      .select(col("vec_id"), col("adc_fp"),
        (expr(dot("embedding", qe)) / lit(1e12)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  val q101Sql: String =
    s"""WITH sub AS (SELECT unnest(range(0, 4)) AS s),
       |cbe AS (SELECT vec_id AS code, s,
       |    embedding[s * 16 + 1 : s * 16 + 16] AS cv
       |  FROM embeddings, sub WHERE vec_id < 16),
       |dsub AS (SELECT vec_id, s,
       |    embedding[s * 16 + 1 : s * 16 + 16] AS dv
       |  FROM embeddings, sub WHERE vec_id >= 16 AND vec_id <> 42),
       |enc AS (SELECT vec_id, s, code FROM (
       |    SELECT d.vec_id, d.s, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.s
       |        ORDER BY ${dotD("d.dv", "c.cv")} DESC, c.code) AS rn
       |    FROM dsub d JOIN cbe c ON d.s = c.s) WHERE rn = 1),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 42),
       |qsub AS (SELECT s, qe[s * 16 + 1 : s * 16 + 16] AS qv
       |  FROM q, sub),
       |lut AS (SELECT c.s, c.code,
       |    CAST(${dotD("qv", "c.cv")} AS BIGINT) AS pd
       |  FROM cbe c JOIN qsub ON c.s = qsub.s),
       |adc AS (SELECT vec_id, CAST(SUM(pd) AS BIGINT) AS adc_fp
       |  FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.code
       |  GROUP BY vec_id),
       |short AS (SELECT vec_id, adc_fp FROM adc
       |  ORDER BY adc_fp DESC, vec_id LIMIT 40)
       |SELECT sh.vec_id, sh.adc_fp,
       |  CAST(${dotD("e.embedding", "qe")} AS DOUBLE) / 1e12 AS cos_sim
       |FROM short sh JOIN embeddings e ON e.vec_id = sh.vec_id, q
       |ORDER BY cos_sim DESC, sh.vec_id LIMIT 10""".stripMargin

  /** q102 — IVF+PQ search (the FAISS-IVFPQ composition,
    * [[graft.ext.AnnIndex.writeIvfPq]]'s read-time mirror): the
    * corpus assigns to centroid clusters (vectors 0..7, q39's
    * convention), the query probes its 2 nearest clusters (q99's
    * nprobe), and candidates rank by ADC over the PQ codes (q100's
    * codebooks — rows 0..15) WITHOUT touching their float vectors.
    * Both levers compose: partition pruning bounds IO, code storage
    * bounds bytes — the 100 TB retrieval shape. Exact integer
    * arithmetic end to end; the oracle replays assignment, probe-set,
    * encode, and ADC in SQL. */
  def q102(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toIndexedSeq
    val books = Similarity
      .pqCodebooksFromRows(emb, "vec_id", "embedding", m = 4, codes = 16)
    val qvec = emb.filter(col("vec_id") === 42)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray
    val qcids = Similarity.assignTopN(qvec, cents, nprobe = 2)
    val lut = Similarity.pqLut(qvec, books)
    emb.filter(col("vec_id") >= 16 && col("vec_id") =!= 42)
      .withColumn("cid", Similarity.ivfAssignLit("embedding", cents))
      .filter(col("cid").isin(qcids: _*))
      .withColumn("codes", Similarity.pqEncodeLit("embedding", books))
      .withColumn("adc_fp", Similarity.pqAdcLit("codes", lut))
      .select(col("vec_id"), col("cid"), col("adc_fp"),
        (col("adc_fp").cast("double") / lit(1e12)).as("adc_sim"))
      .orderBy(col("adc_fp").desc, col("vec_id"))
      .limit(10)
  }

  val q102Sql: String =
    s"""WITH cent AS (SELECT vec_id AS ccid, embedding AS ce
       |  FROM embeddings WHERE vec_id < 8),
       |doc AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id >= 16 AND vec_id <> 42),
       |assigned AS (SELECT vec_id, embedding, ccid AS cid FROM (
       |    SELECT d.vec_id, d.embedding, c.ccid,
       |      ROW_NUMBER() OVER (PARTITION BY d.vec_id
       |        ORDER BY ${dotD("d.embedding", "c.ce")} DESC, c.ccid)
       |        AS rn
       |    FROM doc d CROSS JOIN cent c) WHERE rn = 1),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 42),
       |qtop AS (SELECT c.ccid AS cid FROM cent c, q
       |  ORDER BY ${dotD("qe", "c.ce")} DESC, c.ccid LIMIT 2),
       |cand AS (SELECT vec_id, embedding, cid FROM assigned
       |  WHERE cid IN (SELECT cid FROM qtop)),
       |sub AS (SELECT unnest(range(0, 4)) AS s),
       |cbe AS (SELECT vec_id AS code, s,
       |    embedding[s * 16 + 1 : s * 16 + 16] AS cv
       |  FROM embeddings, sub WHERE vec_id < 16),
       |dsub AS (SELECT vec_id, s,
       |    embedding[s * 16 + 1 : s * 16 + 16] AS dv
       |  FROM cand, sub),
       |enc AS (SELECT vec_id, s, code FROM (
       |    SELECT d.vec_id, d.s, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.s
       |        ORDER BY ${dotD("d.dv", "c.cv")} DESC, c.code) AS rn
       |    FROM dsub d JOIN cbe c ON d.s = c.s) WHERE rn = 1),
       |qsub AS (SELECT s, qe[s * 16 + 1 : s * 16 + 16] AS qv
       |  FROM q, sub),
       |lut AS (SELECT c.s, c.code,
       |    CAST(${dotD("qv", "c.cv")} AS BIGINT) AS pd
       |  FROM cbe c JOIN qsub ON c.s = qsub.s),
       |adc AS (SELECT vec_id, CAST(SUM(pd) AS BIGINT) AS adc_fp
       |  FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.code
       |  GROUP BY vec_id)
       |SELECT a.vec_id, ca.cid, a.adc_fp,
       |  CAST(a.adc_fp AS DOUBLE) / 1e12 AS adc_sim
       |FROM adc a JOIN cand ca ON ca.vec_id = a.vec_id
       |ORDER BY a.adc_fp DESC, a.vec_id LIMIT 10""".stripMargin

  // ------------------------------------------------------------------
  // q58 — write-time bucket partitioning (the real 100 TB ANN shape)
  // ------------------------------------------------------------------

  private def indexDir(sfDir: String): String = indexDirP(sfDir, 4)

  private def indexDirP(sfDir: String, planes: Int): String = {
    val key = java.lang.Integer.toHexString(sfDir.hashCode)
    // the suffix versions the BUCKETING algorithm (h(i,j) family) AND
    // the write width — bump v if lshBucket semantics ever change, or
    // a stale index from a previous build would silently mis-bucket
    // (v2: plane family modulus 13 → 61, round 8)
    s"${sys.props("java.io.tmpdir")}/graft_ann_idx_${key}_p${planes}v2"
  }

  /** Build the bucket-partitioned index once per sf dir (idempotent;
    * Bench calls this during warmup so the timed probe measures the
    * probe, not the one-off write). */
  def ensureIndex(s: SparkSession, sfDir: String): String = {
    val dir = indexDir(sfDir)
    if (!new java.io.File(s"$dir/_SUCCESS").exists())
      AnnIndex.writeBucketed(Tables(s, sfDir, "embeddings"), dir)
    dir
  }

  /** Auto-width variant for the batched probe (q90): the write width
    * derives from the corpus size (`autoPlanes` — the q37/q88 rule),
    * because a FIXED width stops pruning as the corpus grows: at 100×
    * (200k vectors) width 4 leaves 12.5k candidates per query where
    * width 10 leaves ~200. At the graded scales the derivation lands
    * on 4, so the dir coincides with [[ensureIndex]]'s and the index
    * is shared. Returns (dir, planes) — probes must use the SAME
    * width the index was written at. */
  def ensureIndexAuto(s: SparkSession, sfDir: String): (String, Int) = {
    val emb = Tables(s, sfDir, "embeddings")
    val p = Similarity.autoPlanes(emb.count())
    val dir = indexDirP(sfDir, p)
    if (!new java.io.File(s"$dir/_SUCCESS").exists())
      AnnIndex.writeBucketed(emb, dir, planes = p)
    (dir, p)
  }

  /** q58 — same search as q38 but against the bucket-PARTITIONED
    * index: the query's bucket id is computed driver-side and pushed
    * as a literal partition filter, so the scan reads exactly one of
    * the 16 bucket partitions (`PartitionFilters` in the plan —
    * asserted by AnnIndexSpec). Identical results to q38. */
  def q58(s: SparkSession, dir: String): DataFrame = {
    val idx = ensureIndex(s, dir)
    val qvec = Tables(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray
    val qb = Similarity.bucketOf(qvec)
    val qe = Similarity.litFloatArraySql(qvec)
    s.read.parquet(idx)
      .filter(col("bucket") === lit(qb) && col("vec_id") =!= 0)
      .select(col("vec_id"), col("bucket"),
        (expr(dot("embedding", qe)) / lit(1e12)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(5)
  }

  /** q58 computes exactly what q38 computes (bucket + rerank), just
    * from the partitioned layout — one oracle serves both. */
  val q58Sql: String = q38Sql

  /** q98 — MULTI-PROBE LSH search (Lv et al., "Multi-probe LSH",
    * VLDB 2007, single-bit perturbations —
    * [[graft.ext.Similarity.multiProbeBuckets]]): q58's partitioned
    * probe widened to 3 buckets — the query's base bucket plus the
    * two LEAST-CONFIDENT plane flips (smallest |margin|, ties to the
    * lower plane index). All three ids are driver-side literals, so
    * static partition pruning covers the whole probe set; re-rank is
    * the exact fixed-point cosine. Recall rises at linear probe cost
    * with ZERO index change — the read-time recall knob,
    * complementing the write-time band families. The oracle
    * reproduces the probe-set derivation (margins → (|margin|, plane)
    * sort → flips) in SQL, so the knob itself is hash-checked. */
  def q98(s: SparkSession, dir: String): DataFrame = {
    val idx = ensureIndex(s, dir)
    val qvec = Tables(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray
    val qbs = Similarity.multiProbeBuckets(qvec, planes = 4, probes = 3)
    val qe = Similarity.litFloatArraySql(qvec)
    s.read.parquet(idx)
      .filter(col("bucket").isin(qbs: _*) && col("vec_id") =!= 0)
      .select(col("vec_id"), col("bucket"),
        (expr(dot("embedding", qe)) / lit(1e12)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  val q98Sql: String = {
    val m = graft.functions.LshBucket.PlaneMod
    val marginJ =
      s"""list_sum(list_transform(range(1, len(qe) + 1),
         |  i -> CAST(ROUND(CAST(qe[i] AS DOUBLE) * 1e7) AS BIGINT)
         |    * ((((i - 1) * 31 + j * 17) % $m) - ${m / 2})))""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding, $bucketD AS bucket
       |  FROM embeddings),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |mg AS (SELECT qe,
       |    list_transform(range(0, 4), j -> $marginJ) AS ms FROM q),
       |b AS (SELECT qe, ms, CAST(list_sum(list_transform(range(0, 4),
       |    j -> CASE WHEN ms[j + 1] > 0 THEN 1 << j ELSE 0 END))
       |    AS BIGINT) AS qb FROM mg),
       |p AS (SELECT qe, unnest(list_prepend(qb, list_transform(
       |    list_slice(list_sort(list_transform(range(0, 4),
       |      j -> [abs(ms[j + 1]), CAST(j AS BIGINT)])), 1, 2),
       |    f -> xor(qb, CAST(1 << f[2] AS BIGINT))))) AS pb FROM b)
       |SELECT vec_id, bucket,
       |  CAST(${dotD("embedding", "qe")} AS DOUBLE) / 1e12 AS cos_sim
       |FROM e JOIN p ON e.bucket = p.pb WHERE vec_id <> 0
       |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin
  }

  /** q87 — batched k-NN retrieval JOIN, exact baseline
    * ([[graft.ext.Similarity.knnJoinBrute]]): every 7th vector is a
    * query, the rest are the corpus, each query finds its top-5 by
    * exact fixed-point cosine. The reduction is the native k-bounded
    * `topk_by` aggregate — ≤ k entries per partition per query
    * shuffle (map-side discard), never the |corpus| rows per query a
    * window plan moves; the oracle's ROW_NUMBER computes the same
    * total order (score DESC, id ASC). */
  def q87(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    Similarity.knnJoinBrute(
      emb.filter(col("vec_id") % 7 === 0),
      emb.filter(col("vec_id") % 7 =!= 0),
      "vec_id", "vec_id", k = 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  val q87Sql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe
       |    FROM embeddings WHERE vec_id % 7 = 0),
       |c AS (SELECT vec_id AS c_id, embedding AS ce
       |    FROM embeddings WHERE vec_id % 7 <> 0),
       |sc AS (SELECT q_id, c_id, ${dotD("ce", "qe")} AS s FROM c, q),
       |r AS (SELECT q_id, c_id, s, ROW_NUMBER() OVER
       |    (PARTITION BY q_id ORDER BY s DESC, c_id) AS rnk FROM sc)
       |SELECT q_id, c_id, rnk, CAST(s AS DOUBLE) / 1e12 AS cos_sim,
       |  s AS score_fp
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** q88 — the same retrieval join LSH-BLOCKED
    * ([[graft.ext.Similarity.knnJoinLsh]], the 100 TB shape): both
    * sides bucket at the auto-derived width (from |corpus|, the q37
    * rule) and only same-bucket pairs are candidates — an equi-join
    * keyed on the bucket, candidate volume per query ~2^planes lower
    * than q87's cross product. The oracle mirrors the width
    * derivation AND the bucketing bit-exactly, so both engines rank
    * the identical candidate set. */
  def q88(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    Similarity.knnJoinLsh(
      emb.filter(col("vec_id") % 7 === 0),
      emb.filter(col("vec_id") % 7 =!= 0),
      "vec_id", "vec_id", k = 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  val q88Sql: String =
    s"""WITH p AS (SELECT LEAST(20, GREATEST(4, CAST(CEIL(LOG2(
       |    GREATEST(COUNT(*), 1) / 200.0)) AS INT))) AS pl
       |  FROM embeddings WHERE vec_id % 7 <> 0),
       |e AS (SELECT vec_id, embedding, ${bucketDN("pl")} AS bucket
       |  FROM embeddings, p),
       |q AS (SELECT vec_id AS q_id, embedding AS qe, bucket AS qb
       |    FROM e WHERE vec_id % 7 = 0),
       |c AS (SELECT vec_id AS c_id, embedding AS ce, bucket AS cb
       |    FROM e WHERE vec_id % 7 <> 0),
       |sc AS (SELECT q_id, c_id, ${dotD("ce", "qe")} AS s
       |    FROM c JOIN q ON cb = qb),
       |r AS (SELECT q_id, c_id, s, ROW_NUMBER() OVER
       |    (PARTITION BY q_id ORDER BY s DESC, c_id) AS rnk FROM sc)
       |SELECT q_id, c_id, rnk, CAST(s AS DOUBLE) / 1e12 AS cos_sim,
       |  s AS score_fp
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** q90 — the batched retrieval join against the WRITE-TIME
    * partitioned index ([[graft.ext.AnnIndex.knnJoinBucketed]]): the
    * q88 shape, but the bucket is a Hive partition paid once at write,
    * and the broadcast query set becomes a runtime partition filter
    * via dynamic partition pruning — only buckets some query hashes
    * into are read (`dynamicpruning` in PartitionFilters, asserted by
    * AnnIndexSpec). The index's write width auto-derives from the
    * corpus size ([[ensureIndexAuto]] — a fixed width stops pruning
    * as the corpus grows); the oracle mirrors the derivation AND the
    * bucketing bit-exactly. */
  def q90(s: SparkSession, dir: String): DataFrame = {
    val (idx, p) = ensureIndexAuto(s, dir)
    AnnIndex.knnJoinBucketed(
      s.read.parquet(idx).filter(col("vec_id") % 7 =!= 0),
      Tables(s, dir, "embeddings").filter(col("vec_id") % 7 === 0),
      "vec_id", k = 5, planes = p)
      .orderBy(col("q_id"), col("rnk"))
  }

  val q90Sql: String =
    s"""WITH p AS (SELECT LEAST(20, GREATEST(4, CAST(CEIL(LOG2(
       |    GREATEST(COUNT(*), 1) / 200.0)) AS INT))) AS pl
       |  FROM embeddings),
       |e AS (SELECT vec_id, embedding, ${bucketDN("pl")} AS bucket
       |  FROM embeddings, p),
       |q AS (SELECT vec_id AS q_id, embedding AS qe, bucket AS qb
       |    FROM e WHERE vec_id % 7 = 0),
       |c AS (SELECT vec_id AS c_id, embedding AS ce, bucket AS cb
       |    FROM e WHERE vec_id % 7 <> 0),
       |sc AS (SELECT q_id, c_id, ${dotD("ce", "qe")} AS s
       |    FROM c JOIN q ON cb = qb),
       |r AS (SELECT q_id, c_id, s, ROW_NUMBER() OVER
       |    (PARTITION BY q_id ORDER BY s DESC, c_id) AS rnk FROM sc)
       |SELECT q_id, c_id, rnk, CAST(s AS DOUBLE) / 1e12 AS cos_sim,
       |  s AS score_fp
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** q91 — the batched retrieval join IVF-BLOCKED
    * ([[graft.ext.Similarity.knnJoinIvf]]): q39's centroid scheme
    * (vectors 0..7 as centroids, literal-inlined codegen'd argmax
    * assignment — no fan-out join) applied to the many-query shape —
    * every 7th vector retrieves its top-5 among same-cluster corpus
    * vectors. The oracle mirrors the argmax (ROW_NUMBER over centroid
    * dots, ties to smallest cid) and the per-query ranking exactly. */
  def q91(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toIndexedSeq
    Similarity.knnJoinIvf(
      emb.filter(col("vec_id") % 7 === 0),
      emb.filter(col("vec_id") % 7 =!= 0),
      "vec_id", "vec_id", k = 5, cents)
      .orderBy(col("q_id"), col("rnk"))
  }

  val q91Sql: String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce
       |  FROM embeddings WHERE vec_id < 8),
       |scored AS (SELECT e.vec_id, e.embedding, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${dotD("e.embedding", "c.ce")} DESC, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN cent c),
       |assigned AS (SELECT vec_id, embedding, cid FROM scored WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, embedding AS qe, cid AS qc
       |    FROM assigned WHERE vec_id % 7 = 0),
       |c2 AS (SELECT vec_id AS c_id, embedding AS ce, cid AS cc
       |    FROM assigned WHERE vec_id % 7 <> 0),
       |sc AS (SELECT q_id, c_id, ${dotD("ce", "qe")} AS s
       |    FROM c2 JOIN q ON cc = qc),
       |r AS (SELECT q_id, c_id, s, ROW_NUMBER() OVER
       |    (PARTITION BY q_id ORDER BY s DESC, c_id) AS rnk FROM sc)
       |SELECT q_id, c_id, rnk, CAST(s AS DOUBLE) / 1e12 AS cos_sim,
       |  s AS score_fp
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** q69 — int8 embedding quantization quality
    * ([[graft.ext.Similarity.int8QuantStats]]): the 4×-compression /
    * recall trade measured per vector — symmetric scale (max|x|/127)
    * and mean absolute reconstruction error, all in portable
    * fixed-point arithmetic (per-element rounds, exact BIGINT sums).
    * Pure per-row expressions: scan-speed, shuffle-free. */
  def q69(s: SparkSession, dir: String): DataFrame =
    Similarity.int8QuantStats(Tables(s, dir, "embeddings"), "embedding")
      .select(col("vec_id"), col("label"),
        expr("CAST(ROUND(q_scale * 1e6) AS BIGINT)").as("scale_fp"),
        expr("CAST(ROUND(q_err * 1e9) AS BIGINT)").as("err_fp"))
      .orderBy(col("vec_id"))

  val q69Sql: String =
    s"""WITH e AS (SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       |  FROM embeddings),
       |s AS (SELECT vec_id, label, qv,
       |    list_max(list_transform(qv, x -> abs(x))) / 127.0 AS q_scale
       |  FROM e),
       |q AS (SELECT vec_id, label, q_scale,
       |    CASE WHEN q_scale = 0 THEN 0 ELSE
       |      CAST(CAST(list_sum(list_transform(qv, x ->
       |        CAST(ROUND(abs(x - ROUND(x / q_scale) * q_scale) * 1e7)
       |          AS BIGINT))) AS BIGINT) AS DOUBLE) / 1e7 / len(qv)
       |    END AS q_err
       |  FROM s)
       |SELECT vec_id, label,
       |  CAST(ROUND(q_scale * 1e6) AS BIGINT) AS scale_fp,
       |  CAST(ROUND(q_err * 1e9) AS BIGINT) AS err_fp
       |FROM q ORDER BY vec_id""".stripMargin

  /** q72 — semantic decontamination (the SemDeDup/embedding-space
    * variant of q63): corpus vectors whose cosine against ANY eval-set
    * vector reaches 0.35 are contamination suspects. The eval side is
    * tiny by construction → BROADCAST nested-loop against the corpus
    * scan (the corpus never shuffles; per-row work is |eval| codegen'd
    * fixed-point dots), then one map-side-combinable max/count
    * aggregation per corpus vector. At 100 TB the same plan streams
    * the corpus once; the 1e12 fixed-point dot keeps Spark and DuckDB
    * bit-identical. */
  def q72(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val ev = emb.filter(col("vec_id") < 25)
      .select(col("vec_id").as("e_id"), col("embedding").as("ee"))
    val thr = 350000000000L // 0.35 in 1e12 fixed point
    emb.filter(col("vec_id") >= 25)
      .crossJoin(broadcast(ev))
      .withColumn("dfx", expr(dot("embedding", "ee")))
      .groupBy(col("vec_id"))
      .agg(max(col("dfx")).as("max_dot_fx"),
        count(when(col("dfx") >= thr, 1)).as("n_close"))
      .filter(col("max_dot_fx") >= thr)
      .orderBy(col("vec_id"))
  }

  val q72Sql: String = {
    val d = dotD("a.embedding", "b.embedding")
    s"""WITH m AS (
       |  SELECT a.vec_id, max($d) AS max_dot_fx,
       |    CAST(COUNT(*) FILTER ($d >= 350000000000) AS BIGINT)
       |      AS n_close
       |  FROM embeddings a, embeddings b
       |  WHERE a.vec_id >= 25 AND b.vec_id < 25
       |  GROUP BY a.vec_id)
       |SELECT vec_id, max_dot_fx, n_close FROM m
       |WHERE max_dot_fx >= 350000000000
       |ORDER BY vec_id""".stripMargin
  }

  /** q75 — IVF centroid training ([[Similarity.kmeansFit]]): 3
    * Lloyd's iterations at k = 8 over the embeddings. Each iteration
    * is one codegen'd argmax projection (no join/shuffle of the
    * corpus) plus one map-side-combinable (cid, dim) aggregation;
    * fixed-point sums and id-ordered seeding make the fit
    * bit-deterministic.
    *
    * Iterative training itself is not SQL-expressible, so the query
    * emits ORACLE-CHECKABLE INVARIANTS of the fit, folded to values
    * DuckDB can state from the raw table: row counts survive the
    * assignment join, every cluster is non-empty, two INDEPENDENT
    * assignment implementations (centroid-literal `greatest` argmax
    * vs broadcast-join `max_by` argmax) agree on every point's
    * centroid, and every trained centroid lies inside the data's
    * per-dimension convex-hull box (an invariant of mean updates:
    * seeds are data points and every recompute is a mean, so a
    * centroid outside [min, max] of any dimension means broken
    * sum/count arithmetic). Any training/assignment bug flips a flag
    * and fails the hash; detailed semantics stay spec-asserted on
    * planted clusters (SimilaritySpec). */
  def q75(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Similarity
    val emb = Tables(s, dir, "embeddings")
    val cents = Similarity
      .kmeansFit(emb, "vec_id", "embedding", k = 8, iters = 3)
    // per-dimension data bounds (64 rows — metadata-scale collect);
    // 1e-5 slack absorbs the 1e-6 fixed-point rounding of the mean
    val bounds = emb
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .collect()
      .map(r => r.getInt(0) -> ((r.getFloat(1), r.getFloat(2)))).toMap
    val inHull = cents.forall { case (_, vec) =>
      vec.zipWithIndex.forall { case (x, d) =>
        val (lo, hi) = bounds(d)
        x >= lo - 1e-5f && x <= hi + 1e-5f
      }
    }
    val centDf = s.createDataFrame(
      cents.map { case (cid, v) => (cid, v.toSeq) }).toDF("cid", "ce")
    // the broadcast-join argmax keeps every input column, so the
    // literal-path assignment rides the SAME frame — the two
    // implementations compare per row with no corpus self-join
    val alt = Similarity
      .ivfAssign(emb.select(col("vec_id"), col("embedding")), centDf)
      .withColumn("lit_cid",
        Similarity.ivfAssignLit("embedding", cents))
    alt.agg(count(lit(1)).as("n_points"),
        countDistinct(col("lit_cid")).as("ncl"),
        max(when(col("cid") =!= col("lit_cid"), 1)
          .otherwise(0)).as("mismatch"))
      .select(
        lit(8).as("k"),
        col("n_points"),
        (col("ncl") === 8).as("clusters_nonempty"),
        (col("mismatch") === 0).as("argmax_agree"),
        lit(inHull).as("centroids_in_hull"))
  }

  val q75Sql: String =
    """SELECT 8 AS k, COUNT(*) AS n_points,
      |  TRUE AS clusters_nonempty, TRUE AS argmax_agree,
      |  TRUE AS centroids_in_hull
      |FROM embeddings""".stripMargin

  /** q78 — cluster-balanced sampling (the diversity-sampling curation
    * op): assign every vector to its nearest centroid (vec_id < 8
    * as fixed centroids so the assignment is SQL-expressible, same as
    * q39), keep a deterministic 25% per cluster via the stable md5
    * bucket (never RNG — the kept set survives re-runs and growth),
    * and summarize per cluster. The assignment is one codegen'd
    * argmax projection, the sample a scan-speed filter, the summary
    * one map-side-combinable aggregation. */
  def q78(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toIndexedSeq
    emb
      .withColumn("cid", Similarity.ivfAssignLit("embedding", cents))
      .filter(expr("CAST(conv(substring(md5(CAST(vec_id AS STRING)), " +
        "1, 7), 16, 10) AS BIGINT) % 100 < 25"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_kept"),
        min(col("vec_id")).as("first_vec"),
        max(col("vec_id")).as("last_vec"))
      .orderBy(col("cid"))
  }

  val q78Sql: String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce
       |  FROM embeddings WHERE vec_id < 8),
       |scored AS (SELECT e.vec_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${dotD("e.embedding", "c.ce")} DESC, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN cent c),
       |assigned AS (SELECT vec_id, cid FROM scored WHERE rn = 1),
       |kept AS (SELECT vec_id, cid FROM assigned
       |  WHERE CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7))
       |    AS BIGINT) % 100 < 25)
       |SELECT cid, COUNT(*) AS n_kept, MIN(vec_id) AS first_vec,
       |  MAX(vec_id) AS last_vec
       |FROM kept GROUP BY cid ORDER BY cid""".stripMargin

  /** q79 — embedding outlier detection (curation op: drop vectors far
    * from their cluster's center — mislabeled/noise candidates):
    * assign each vector to its nearest fixed centroid (vec_id < 8,
    * q39's SQL-expressible assignment), compute the per-cluster EXACT
    * mean centroid-similarity (BIGINT fixed-point sums — no float
    * aggregation order to disagree on), and flag vectors whose
    * similarity falls below 80% of their cluster mean. The 8-row
    * cluster-stats frame broadcasts back; the corpus pays one argmax
    * projection + one combinable aggregation.
    *
    * The mean comparison runs in DECIMAL(38,0) end to end
    * ([[Similarity.clusterMeanOutliers]]): exact at any cluster size
    * a 100 TB corpus produces (BIGINT fixed-point would overflow at
    * ~9e5 rows/cluster), and still bit-agreeing with DuckDB's
    * int128 arithmetic. */
  def q79(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toIndexedSeq
    val assigned = emb.select(col("vec_id"),
      Similarity.ivfAssignLit("embedding", cents).as("cid"),
      Similarity.ivfAssignDotLit("embedding", cents).as("dot_fx"))
    Similarity.clusterMeanOutliers(assigned)
      .select(col("vec_id"), col("cid"), col("dot_fx"))
      .orderBy(col("vec_id"))
  }

  val q79Sql: String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce
       |  FROM embeddings WHERE vec_id < 8),
       |scored AS (SELECT e.vec_id, c.cid,
       |    ${dotD("e.embedding", "c.ce")} AS dot_fx,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${dotD("e.embedding", "c.ce")} DESC, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN cent c),
       |assigned AS (SELECT vec_id, cid, dot_fx FROM scored WHERE rn = 1),
       |stats AS (SELECT cid, CAST(SUM(dot_fx) AS BIGINT) AS s,
       |    COUNT(*) AS n
       |  FROM assigned GROUP BY cid)
       |SELECT a.vec_id, a.cid, a.dot_fx
       |FROM assigned a JOIN stats USING (cid)
       |WHERE a.dot_fx * 10 * n < s * 8
       |ORDER BY a.vec_id""".stripMargin

  /** q83 — INCREMENTAL embedding near-dup
    * ([[Similarity.nearDupIncremental]]): batch 2 (vec_id ≥ cut)
    * LSH-matches against the bucket index built from batch 1, with
    * EXACT fixed-point cosine verification (vectors live in the
    * index) and the AUTO-DERIVED probe width (planes =
    * clamp(ceil(log2(n/200)), 4, 20) over the index+batch row count —
    * no explicit plane count anywhere). `bands = 1` is pinned — q83
    * is the SINGLE-family baseline the banded default (q84) is
    * measured against. Oracle: the batch-global bucket-blocked pair
    * set at the same derived width, restricted to pairs whose higher
    * id is in batch 2 — identical to the incremental discovery over
    * an id-split corpus. */
  def q83(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables(s, dir, "embeddings")
    val cut = vecs.agg(max(col("vec_id"))).head().getLong(0) / 2
    val idx = QueryDef.scratchDir("graft_q83_idx")
    // index append is eager; batch 1's pair frame is lazy and unread
    Similarity.nearDupIncremental(
      vecs.filter(col("vec_id") < cut), "vec_id", 0.45, idx, bands = 1)
    Similarity.nearDupIncremental(
      vecs.filter(col("vec_id") >= cut), "vec_id", 0.45, idx, bands = 1)
      .orderBy(col("a_id"), col("b_id"))
  }

  val q83Sql: String =
    s"""WITH p AS (SELECT LEAST(20, GREATEST(4, CAST(CEIL(LOG2(
       |    GREATEST(COUNT(*), 1) / 200.0)) AS INT))) AS pl
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |e AS (SELECT vec_id, embedding, ${bucketDN("pl")} AS bucket
       |  FROM embeddings, p),
       |cut AS (SELECT CAST(FLOOR(MAX(vec_id) / 2) AS BIGINT) AS c
       |  FROM embeddings)
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  CAST(${dotD("a.embedding", "b.embedding")} AS DOUBLE) / 1e12
       |    AS cos_sim
       |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id,
       |  cut
       |WHERE b.vec_id >= c
       |  AND CAST(${dotD("a.embedding", "b.embedding")} AS DOUBLE) / 1e12
       |    >= 0.45
       |ORDER BY a_id, b_id""".stripMargin

  /** q84 — BANDED incremental embedding near-dup: q83's id-split
    * incremental discovery probed with the DEFAULT band count — the
    * recall arithmetic's derivation
    * `min(3, bandsFor(0.45, width, 0.9))` ([[Similarity.autoBands]];
    * at θ = 0.45 every realistic width needs far more than the 3
    * stored families, so the default uses all three — offsets
    * 0/20/40 of the mod-61 plane family). Banding is the recall
    * lever: a pair is a candidate when ANY probed family agrees
    * (recall 1 − (1 − r^p)^b vs r^p single-family), every candidate
    * still exact-cosine-verified. The oracle computes the SAME
    * derivation in SQL (ceil(ln(1−0.9)/ln(1−r^pl)) clamped to [1,3],
    * r = 1 − acos(0.45)/π) and ORs over exactly the derived families,
    * so the banded candidate set itself is oracle-pinned —
    * q84 ⊇ q83 by construction. */
  def q84(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables(s, dir, "embeddings")
    val cut = vecs.agg(max(col("vec_id"))).head().getLong(0) / 2
    val idx = QueryDef.scratchDir("graft_q84_idx")
    Similarity.nearDupIncremental(
      vecs.filter(col("vec_id") < cut), "vec_id", 0.45, idx)
    Similarity.nearDupIncremental(
      vecs.filter(col("vec_id") >= cut), "vec_id", 0.45, idx)
      .orderBy(col("a_id"), col("b_id"))
  }

  val q84Sql: String =
    s"""WITH p AS (SELECT LEAST(20, GREATEST(4, CAST(CEIL(LOG2(
       |    GREATEST(COUNT(*), 1) / 200.0)) AS INT))) AS pl
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |bd AS (SELECT LEAST(3, GREATEST(1, CAST(CEIL(
       |    LN(1 - 0.9) / LN(1 - POW(1 - ACOS(0.45) / PI(), pl)))
       |    AS INT))) AS nb FROM p),
       |e AS (SELECT vec_id, embedding, ${bucketDNO("pl", 0)} AS b0,
       |  ${bucketDNO("pl", 20)} AS b1, ${bucketDNO("pl", 40)} AS b2
       |  FROM embeddings, p),
       |cut AS (SELECT CAST(FLOOR(MAX(vec_id) / 2) AS BIGINT) AS c
       |  FROM embeddings)
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |  CAST(${dotD("a.embedding", "b.embedding")} AS DOUBLE) / 1e12
       |    AS cos_sim
       |FROM e a JOIN e b ON a.vec_id < b.vec_id, bd, cut
       |WHERE (a.b0 = b.b0 OR (nb >= 2 AND a.b1 = b.b1)
       |    OR (nb >= 3 AND a.b2 = b.b2))
       |  AND b.vec_id >= c
       |  AND CAST(${dotD("a.embedding", "b.embedding")} AS DOUBLE) / 1e12
       |    >= 0.45
       |ORDER BY a_id, b_id""".stripMargin

  /** q104 — SemDeDup ([[graft.ext.Similarity.semDedup]], Abbas et
    * al. 2023): k-means-cell-blocked semantic deduplication — the
    * literal-inlined codegen'd argmax assignment over the first
    * `clamp(ceil(n/500), 8, 64)` vectors as centroids (cell count
    * GROWS with the corpus so per-cell pair volume stays ~bounded —
    * the blocking knob the paper turns; fixed cells would make the
    * within-cell pair join quadratic in corpus size), within-cell
    * pairs at cosine ≥ 0.40, duplicate groups resolved to the member
    * most central to its cell (highest centroid dot, ties to
    * smallest id). The oracle replays the cell-count derivation →
    * assignment → cell-blocked pairs → RECURSIVE transitive closure →
    * keep rule, so Spark's large-star/small-star CC is hash-checked
    * against an independent formulation (the q94 pattern, here over
    * the embedding graph). */
  def q104(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val k = math.min(64L,
      math.max(8L, math.ceil(emb.count() / 500.0).toLong))
    val cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toIndexedSeq
    Similarity.semDedup(emb, "vec_id", 0.40, cents)
      .orderBy(col("sem_cluster"))
  }

  val q104Sql: String =
    s"""WITH RECURSIVE cent AS (SELECT vec_id AS cid, embedding AS ce
       |  FROM embeddings WHERE vec_id < (SELECT LEAST(64, GREATEST(8,
       |    CAST(CEIL(COUNT(*) / 500.0) AS BIGINT))) FROM embeddings)),
       |scored AS (SELECT e.vec_id, e.embedding, c.cid,
       |    ${dotD("e.embedding", "c.ce")} AS cdot,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${dotD("e.embedding", "c.ce")} DESC, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN cent c),
       |assigned AS (SELECT vec_id AS id, embedding, cid, cdot
       |  FROM scored WHERE rn = 1),
       |pr AS (SELECT a.id AS a_id, b.id AS b_id
       |  FROM assigned a JOIN assigned b
       |  ON a.cid = b.cid AND a.id < b.id
       |  WHERE CAST(${dotD("a.embedding", "b.embedding")} AS DOUBLE)
       |    / 1e12 >= 0.40),
       |sym AS (SELECT a_id AS u, b_id AS v FROM pr
       |  UNION SELECT b_id, a_id FROM pr),
       |reach AS (SELECT u, v FROM sym
       |  UNION
       |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
       |  WHERE s.v <> r.u),
       |lab AS (SELECT u AS id, least(u, min(v)) AS component
       |  FROM reach GROUP BY u),
       |ranked AS (SELECT l.component, l.id, a.cid, a.cdot,
       |    ROW_NUMBER() OVER (PARTITION BY l.component
       |      ORDER BY a.cdot DESC, l.id ASC) AS rn
       |  FROM lab l JOIN assigned a ON a.id = l.id)
       |SELECT component AS sem_cluster,
       |  CAST(MAX(CASE WHEN rn = 1 THEN id END) AS BIGINT) AS kept_id,
       |  COUNT(*) AS n_members,
       |  CAST(MAX(cid) AS BIGINT) AS centroid_id
       |FROM ranked GROUP BY component ORDER BY sem_cluster""".stripMargin

  /** q105 — SemDeDup, LARGE-k path
    * ([[graft.ext.Similarity.semDedupJoin]]): same pipeline as q104
    * but the centroid table BROADCASTS into a fan-out join and the
    * per-vector argmax is a map-side-combinable max(struct) — cell
    * count no longer limited by literal-argmax codegen, so the
    * density knob keeps scaling (here `max(8, ceil(n/250))` cells,
    * uncapped). Assignment semantics identical to the literal path
    * (ties to smallest cid; spec-pinned bit-equal). */
  def q105(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val k = math.max(8L, math.ceil(emb.count() / 250.0).toLong)
    val cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    Similarity.semDedupJoin(emb, "vec_id", 0.40, cents)
      .orderBy(col("sem_cluster"))
  }

  val q105Sql: String =
    s"""WITH RECURSIVE cent AS (SELECT vec_id AS cid, embedding AS ce
       |  FROM embeddings WHERE vec_id < (SELECT GREATEST(8,
       |    CAST(CEIL(COUNT(*) / 250.0) AS BIGINT)) FROM embeddings)),
       |scored AS (SELECT e.vec_id, e.embedding, c.cid,
       |    ${dotD("e.embedding", "c.ce")} AS cdot,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${dotD("e.embedding", "c.ce")} DESC, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN cent c),
       |assigned AS (SELECT vec_id AS id, embedding, cid, cdot
       |  FROM scored WHERE rn = 1),
       |pr AS (SELECT a.id AS a_id, b.id AS b_id
       |  FROM assigned a JOIN assigned b
       |  ON a.cid = b.cid AND a.id < b.id
       |  WHERE CAST(${dotD("a.embedding", "b.embedding")} AS DOUBLE)
       |    / 1e12 >= 0.40),
       |sym AS (SELECT a_id AS u, b_id AS v FROM pr
       |  UNION SELECT b_id, a_id FROM pr),
       |reach AS (SELECT u, v FROM sym
       |  UNION
       |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
       |  WHERE s.v <> r.u),
       |lab AS (SELECT u AS id, least(u, min(v)) AS component
       |  FROM reach GROUP BY u),
       |ranked AS (SELECT l.component, l.id, a.cid, a.cdot,
       |    ROW_NUMBER() OVER (PARTITION BY l.component
       |      ORDER BY a.cdot DESC, l.id ASC) AS rn
       |  FROM lab l JOIN assigned a ON a.id = l.id)
       |SELECT component AS sem_cluster,
       |  CAST(MAX(CASE WHEN rn = 1 THEN id END) AS BIGINT) AS kept_id,
       |  COUNT(*) AS n_members,
       |  CAST(MAX(cid) AS BIGINT) AS centroid_id
       |FROM ranked GROUP BY component ORDER BY sem_cluster""".stripMargin

  /** q107 — INCREMENTAL SemDeDup
    * ([[graft.ext.Similarity.semDedupIncremental]]): q104's cell
    * model (same clamp(⌈n/500⌉, 8, 64) centroid derivation) applied
    * batch-at-a-time over an id-split corpus with a persisted
    * KEPT-ONLY exemplar index — batch 1 deduplicates internally and
    * seeds the index, batch 2 probes the kept exemplars plus its own
    * lower ids. Returns batch 2's duplicate evidence. The oracle
    * replays the whole protocol in SQL: assignment → all within-cell
    * pairs → batch-1 drop set → kept-1 → exactly the pairs whose
    * dropped side is in batch 2 and whose earlier side is a kept-1
    * exemplar or a lower-id batch-2 member — so the kept-only index
    * CONTENT (not just the pair arithmetic) is oracle-pinned: an
    * index that wrongly retained a dropped vector would emit extra
    * pairs and hash-mismatch. */
  def q107(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val k = math.min(64L,
      math.max(8L, math.ceil(emb.count() / 500.0).toLong))
    val cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toIndexedSeq
    val cut = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    val idx = QueryDef.scratchDir("graft_q107_idx")
    // index append is eager; batch 1's pair frame is lazy and unread
    Similarity.semDedupIncremental(
      emb.filter(col("vec_id") < cut), "vec_id", 0.40, cents, idx)
    Similarity.semDedupIncremental(
      emb.filter(col("vec_id") >= cut), "vec_id", 0.40, cents, idx)
      .orderBy(col("a_id"), col("b_id"))
  }

  val q107Sql: String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce
       |  FROM embeddings WHERE vec_id < (SELECT LEAST(64, GREATEST(8,
       |    CAST(CEIL(COUNT(*) / 500.0) AS BIGINT))) FROM embeddings)),
       |scored AS (SELECT e.vec_id, e.embedding, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${dotD("e.embedding", "c.ce")} DESC, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN cent c),
       |assigned AS (SELECT vec_id AS id, embedding, cid
       |  FROM scored WHERE rn = 1),
       |cut AS (SELECT CAST(FLOOR(MAX(vec_id) / 2) AS BIGINT) AS c
       |  FROM embeddings),
       |pr AS (SELECT a.id AS a_id, b.id AS b_id,
       |    CAST(${dotD("a.embedding", "b.embedding")} AS DOUBLE) / 1e12
       |      AS cos_sim
       |  FROM assigned a JOIN assigned b
       |  ON a.cid = b.cid AND a.id < b.id
       |  WHERE CAST(${dotD("a.embedding", "b.embedding")} AS DOUBLE)
       |    / 1e12 >= 0.40),
       |d1 AS (SELECT DISTINCT p.b_id FROM pr p, cut
       |  WHERE p.a_id < c AND p.b_id < c),
       |k1 AS (SELECT id FROM assigned, cut WHERE id < c
       |  AND id NOT IN (SELECT b_id FROM d1))
       |SELECT p.a_id, p.b_id, p.cos_sim FROM pr p, cut
       |WHERE p.b_id >= c
       |  AND (p.a_id >= c OR p.a_id IN (SELECT id FROM k1))
       |ORDER BY a_id, b_id""".stripMargin

  /** q110 — LARGE-k incremental SemDeDup
    * ([[graft.ext.Similarity.semDedupIncrementalJoin]]): q107's
    * protocol under q105's UNCAPPED cell model (max(8, ⌈n/250⌉)
    * centroids, broadcast-join argmax assignment) — the pairing of
    * moves that keeps the incremental path sub-quadratic at scale:
    * the literal argmax caps cells at ~64, so at 100× the corpus
    * within-cell pair volume grows quadratic; the join path lets the
    * blocking knob keep pace with the corpus. Same oracle protocol
    * as q107 with the q105 centroid derivation. */
  def q110(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val k = math.max(8L, math.ceil(emb.count() / 250.0).toLong)
    val cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val cut = emb.agg(max(col("vec_id"))).head().getLong(0) / 2
    val idx = QueryDef.scratchDir("graft_q110_idx")
    // index append is eager; batch 1's pair frame is lazy and unread
    Similarity.semDedupIncrementalJoin(
      emb.filter(col("vec_id") < cut), "vec_id", 0.40, cents, idx)
    Similarity.semDedupIncrementalJoin(
      emb.filter(col("vec_id") >= cut), "vec_id", 0.40, cents, idx)
      .orderBy(col("a_id"), col("b_id"))
  }

  val q110Sql: String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS ce
       |  FROM embeddings WHERE vec_id < (SELECT GREATEST(8,
       |    CAST(CEIL(COUNT(*) / 250.0) AS BIGINT)) FROM embeddings)),
       |scored AS (SELECT e.vec_id, e.embedding, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${dotD("e.embedding", "c.ce")} DESC, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN cent c),
       |assigned AS (SELECT vec_id AS id, embedding, cid
       |  FROM scored WHERE rn = 1),
       |cut AS (SELECT CAST(FLOOR(MAX(vec_id) / 2) AS BIGINT) AS c
       |  FROM embeddings),
       |pr AS (SELECT a.id AS a_id, b.id AS b_id,
       |    CAST(${dotD("a.embedding", "b.embedding")} AS DOUBLE) / 1e12
       |      AS cos_sim
       |  FROM assigned a JOIN assigned b
       |  ON a.cid = b.cid AND a.id < b.id
       |  WHERE CAST(${dotD("a.embedding", "b.embedding")} AS DOUBLE)
       |    / 1e12 >= 0.40),
       |d1 AS (SELECT DISTINCT p.b_id FROM pr p, cut
       |  WHERE p.a_id < c AND p.b_id < c),
       |k1 AS (SELECT id FROM assigned, cut WHERE id < c
       |  AND id NOT IN (SELECT b_id FROM d1))
       |SELECT p.a_id, p.b_id, p.cos_sim FROM pr p, cut
       |WHERE p.b_id >= c
       |  AND (p.a_id >= c OR p.a_id IN (SELECT id FROM k1))
       |ORDER BY a_id, b_id""".stripMargin

  /** q111 — PQ-compressed k-NN JOIN
    * ([[graft.ext.Similarity.knnJoinPq]]): the batched-retrieval
    * shape over the CODES alone — q87's many-queries join where the
    * corpus side is the 4-small-ints PQ encoding and each broadcast
    * query carries its exact fixed-point ADC lookup table as an
    * array column; pair score = 4 lookups summed, integer end to
    * end, so the approximate ranking hash-matches the oracle (which
    * replays codebooks → encode → per-query LUT → ADC → per-query
    * rank in SQL). Completes the retrieval-join matrix: exact (q87) /
    * LSH (q88) / LSH+DPP (q90) / IVF (q91) / PQ-compressed (q111). */
  /** q116 — hard-negative mining
    * ([[graft.ext.Similarity.hardNegatives]]): for every 19th vector,
    * the 5 most-similar vectors with a DIFFERENT label — the
    * contrastive-training negatives near the decision boundary. Exact
    * fixed-point dot products, so ranks hash-match the oracle's
    * label-filtered window formulation. */
  def q116(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    graft.ext.Similarity.hardNegatives(
      emb.filter(col("vec_id") % 19 === 0),
      emb.filter(col("vec_id") % 19 =!= 0),
      "vec_id", "vec_id", "label", k = 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  val q116Sql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, label AS q_lab, embedding AS qe
       |    FROM embeddings WHERE vec_id % 19 = 0),
       |c AS (SELECT vec_id AS c_id, label AS c_lab, embedding AS ce
       |    FROM embeddings WHERE vec_id % 19 <> 0),
       |sc AS (SELECT q_id, c_id, ${dotD("ce", "qe")} AS s
       |  FROM c, q WHERE c_lab <> q_lab),
       |r AS (SELECT q_id, c_id, s, ROW_NUMBER() OVER
       |    (PARTITION BY q_id ORDER BY s DESC, c_id) AS rnk FROM sc)
       |SELECT q_id, c_id, rnk, CAST(s AS DOUBLE) / 1e12 AS cos_sim,
       |  s AS score_fp
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** q119 — LSH-BLOCKED hard-negative mining
    * ([[graft.ext.Similarity.hardNegativesLsh]]): q116's semantics at
    * the q88 candidate volume — both sides bucket at the auto-derived
    * width, only same-bucket different-label pairs are candidates.
    * The oracle mirrors the width derivation, the bucketing, AND the
    * label exclusion. */
  def q119(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    graft.ext.Similarity.hardNegativesLsh(
      emb.filter(col("vec_id") % 19 === 0),
      emb.filter(col("vec_id") % 19 =!= 0),
      "vec_id", "vec_id", "label", k = 5)
      .orderBy(col("q_id"), col("rnk"))
  }

  val q119Sql: String =
    s"""WITH p AS (SELECT LEAST(20, GREATEST(4, CAST(CEIL(LOG2(
       |    GREATEST(COUNT(*), 1) / 200.0)) AS INT))) AS pl
       |  FROM embeddings WHERE vec_id % 19 <> 0),
       |e AS (SELECT vec_id, label, embedding, ${bucketDN("pl")} AS bucket
       |  FROM embeddings, p),
       |q AS (SELECT vec_id AS q_id, label AS q_lab, embedding AS qe,
       |    bucket AS qb FROM e WHERE vec_id % 19 = 0),
       |c AS (SELECT vec_id AS c_id, label AS c_lab, embedding AS ce,
       |    bucket AS cb FROM e WHERE vec_id % 19 <> 0),
       |sc AS (SELECT q_id, c_id, ${dotD("ce", "qe")} AS s
       |    FROM c JOIN q ON cb = qb AND c_lab <> q_lab),
       |r AS (SELECT q_id, c_id, s, ROW_NUMBER() OVER
       |    (PARTITION BY q_id ORDER BY s DESC, c_id) AS rnk FROM sc)
       |SELECT q_id, c_id, rnk, CAST(s AS DOUBLE) / 1e12 AS cos_sim,
       |  s AS score_fp
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  def q111(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val books = Similarity
      .pqCodebooksFromRows(emb, "vec_id", "embedding", m = 4, codes = 16)
    Similarity.knnJoinPq(
      emb.filter(col("vec_id") >= 16 && col("vec_id") % 7 === 0),
      emb.filter(col("vec_id") >= 16 && col("vec_id") % 7 =!= 0),
      "vec_id", "vec_id", k = 5, books)
      .orderBy(col("q_id"), col("rnk"))
  }

  val q111Sql: String =
    s"""WITH sub AS (SELECT unnest(range(0, 4)) AS s),
       |cbe AS (SELECT vec_id AS code, s,
       |    embedding[s * 16 + 1 : s * 16 + 16] AS cv
       |  FROM embeddings, sub WHERE vec_id < 16),
       |dsub AS (SELECT vec_id, s,
       |    embedding[s * 16 + 1 : s * 16 + 16] AS dv
       |  FROM embeddings, sub
       |  WHERE vec_id >= 16 AND vec_id % 7 <> 0),
       |enc AS (SELECT vec_id, s, code FROM (
       |    SELECT d.vec_id, d.s, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.s
       |        ORDER BY ${dotD("d.dv", "c.cv")} DESC, c.code) AS rn
       |    FROM dsub d JOIN cbe c ON d.s = c.s) WHERE rn = 1),
       |qsub AS (SELECT vec_id AS q_id, s,
       |    embedding[s * 16 + 1 : s * 16 + 16] AS qv
       |  FROM embeddings, sub
       |  WHERE vec_id >= 16 AND vec_id % 7 = 0),
       |lut AS (SELECT q_id, c.s, c.code,
       |    CAST(${dotD("qv", "c.cv")} AS BIGINT) AS pd
       |  FROM cbe c JOIN qsub ON c.s = qsub.s),
       |adc AS (SELECT q_id, vec_id AS c_id, CAST(SUM(pd) AS BIGINT) AS sc
       |  FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.code
       |  GROUP BY q_id, vec_id),
       |r AS (SELECT q_id, c_id, sc, ROW_NUMBER() OVER
       |    (PARTITION BY q_id ORDER BY sc DESC, c_id) AS rnk FROM adc)
       |SELECT q_id, c_id, rnk, CAST(sc AS DOUBLE) / 1e12 AS adc_sim,
       |  sc AS score_fp
       |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  /** q127 — k-NN label propagation
    * ([[graft.ext.Similarity.labelPropagate]]): every 17th vector is
    * treated as unlabeled and takes the majority label among its 5
    * nearest labeled neighbors — the weak-labeling move that spreads
    * a small hand-labeled set over a corpus before a curation cut.
    * Exact fixed-point dots + pinned tie rules (neighbor ties by id,
    * vote ties by votes/best-rank/label), so the oracle's
    * window-formulated replay hash-matches the prediction itself. */
  def q127(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    graft.ext.Similarity.labelPropagate(
      emb.filter(col("vec_id") % 17 === 0),
      emb.filter(col("vec_id") % 17 =!= 0),
      "vec_id", "vec_id", "label", k = 5)
      .orderBy(col("q_id"))
  }

  val q127Sql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe
       |    FROM embeddings WHERE vec_id % 17 = 0),
       |c AS (SELECT vec_id AS c_id, label AS c_lab, embedding AS ce
       |    FROM embeddings WHERE vec_id % 17 <> 0),
       |sc AS (SELECT q_id, c_id, c_lab, ${dotD("ce", "qe")} AS s
       |    FROM c, q),
       |r AS (SELECT q_id, c_id, c_lab, ROW_NUMBER() OVER
       |    (PARTITION BY q_id ORDER BY s DESC, c_id) AS rnk FROM sc),
       |v AS (SELECT q_id, c_lab, COUNT(*) AS votes, MIN(rnk) AS best_rnk
       |    FROM r WHERE rnk <= 5 GROUP BY q_id, c_lab),
       |p AS (SELECT q_id, c_lab, votes, best_rnk, ROW_NUMBER() OVER
       |    (PARTITION BY q_id ORDER BY votes DESC, best_rnk, c_lab)
       |    AS pick FROM v)
       |SELECT q_id, c_lab AS pred_label, votes, best_rnk
       |FROM p WHERE pick = 1 ORDER BY q_id""".stripMargin

  /** q129 — PageRank over the k-NN similarity graph
    * ([[graft.ext.Graph.pageRank]]): each vector links to its 3
    * nearest neighbors (exact fixed-point dots, self excluded), then
    * 3 iterations of deterministic integer PageRank rank vectors by
    * semantic centrality — the graph-centrality data-selection
    * signal (central docs = representative; peripheral = outliers).
    * Every division truncates, so the oracle can UNROLL all 3
    * iterations as chained CTEs and hash-match the ranks exactly. */
  def q129(s: SparkSession, dir: String): DataFrame = {
    // spread the single-row-group parquet before the O(n^2) dot scan
    // (the spreadDocs move): one task would otherwise compute every
    // candidate pair
    val emb = Tables(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)
    val edges = graft.ext.Similarity
      .knnJoinBrute(emb, emb, "vec_id", "vec_id", k = 3,
        excludeSelf = true)
      .select(col("q_id").as("src"), col("c_id").as("dst"))
    graft.ext.Graph.pageRank(edges, "src", "dst", iters = 3)
      .select(col("id").as("vec_id"), col("rank_fp"))
      .orderBy(col("vec_id"))
  }

  val q129Sql: String = {
    def iter(prev: String, cur: String) =
      s"""$cur AS (SELECT nodes.id,
         |    (SELECT (15 * r0) // 100 FROM p) + COALESCE(cin, 0) AS r
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS id,
         |      CAST(SUM((85 * $prev.r) // (100 * d.deg)) AS BIGINT)
         |        AS cin
         |    FROM e JOIN $prev ON e.src = $prev.id
         |      JOIN d ON e.src = d.src
         |    GROUP BY e.dst) s USING (id))""".stripMargin
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe
       |    FROM embeddings),
       |c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings),
       |sc AS (SELECT q_id, c_id, ${dotD("ce", "qe")} AS s
       |    FROM c, q WHERE c_id <> q_id),
       |e AS (SELECT q_id AS src, c_id AS dst FROM (
       |    SELECT q_id, c_id, ROW_NUMBER() OVER
       |      (PARTITION BY q_id ORDER BY s DESC, c_id) AS rnk
       |    FROM sc) WHERE rnk <= 3),
       |nodes AS (SELECT DISTINCT id FROM
       |    (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |p AS (SELECT CAST(1000000000000 AS BIGINT) // COUNT(*) AS r0
       |    FROM nodes),
       |d AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |r0t AS (SELECT id, (SELECT r0 FROM p) AS r FROM nodes),
       |${iter("r0t", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT id AS vec_id, r AS rank_fp FROM r3
       |ORDER BY vec_id""".stripMargin
  }

  /** q143 — similarity-WEIGHTED PageRank over the k-NN graph
    * ([[graft.ext.Graph.pageRankWeighted]]): q129's centrality with
    * each node's mass split by edge STRENGTH — w = score_fp + 2·10¹²
    * (the fixed-point cosine shifted positive), so rank flows
    * preferentially toward genuinely-similar neighbors instead of
    * uniformly across the k links. The per-edge term runs in
    * DECIMAL(38,0) (r·w ≈ 10²⁴); the oracle replays it in HUGEINT —
    * two independent 128-bit integer implementations hash-matching
    * all 3 unrolled iterations. */
  def q143(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism) // see q129
    val edges = graft.ext.Similarity
      .knnJoinBrute(emb, emb, "vec_id", "vec_id", k = 3,
        excludeSelf = true)
      .select(col("q_id").as("src"), col("c_id").as("dst"),
        (col("score_fp") + lit(2000000000000L)).as("w"))
    graft.ext.Graph.pageRankWeighted(edges, "src", "dst", "w",
        iters = 3)
      .select(col("id").as("vec_id"), col("rank_fp"))
      .orderBy(col("vec_id"))
  }

  val q143Sql: String = {
    def iter(prev: String, cur: String) =
      s"""$cur AS (SELECT nodes.id,
         |    (SELECT (15 * r0) // 100 FROM p) + COALESCE(cin, 0) AS r
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS id,
         |      CAST(SUM((CAST(85 AS HUGEINT) * $prev.r * e.w) //
         |        (CAST(100 AS HUGEINT) * d.wsum)) AS BIGINT) AS cin
         |    FROM e JOIN $prev ON e.src = $prev.id
         |      JOIN d ON e.src = d.src
         |    GROUP BY e.dst) s USING (id))""".stripMargin
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe
       |    FROM embeddings),
       |c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings),
       |sc AS (SELECT q_id, c_id, ${dotD("ce", "qe")} AS s
       |    FROM c, q WHERE c_id <> q_id),
       |e AS (SELECT q_id AS src, c_id AS dst,
       |    s + 2000000000000 AS w FROM (
       |    SELECT q_id, c_id, s, ROW_NUMBER() OVER
       |      (PARTITION BY q_id ORDER BY s DESC, c_id) AS rnk
       |    FROM sc) WHERE rnk <= 3),
       |nodes AS (SELECT DISTINCT id FROM
       |    (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |p AS (SELECT CAST(1000000000000 AS BIGINT) // COUNT(*) AS r0
       |    FROM nodes),
       |d AS (SELECT src, SUM(w) AS wsum FROM e GROUP BY src),
       |r0t AS (SELECT id, (SELECT r0 FROM p) AS r FROM nodes),
       |${iter("r0t", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT id AS vec_id, r AS rank_fp FROM r3
       |ORDER BY vec_id""".stripMargin
  }

  /** q134 — PERSONALIZED PageRank from a trusted seed set
    * ([[graft.ext.Graph.personalizedPageRank]]): rank every vector by
    * k-NN-graph proximity to the label-0 subset — the seed-expansion
    * curation move (grow a corpus outward from hand-vetted
    * documents). Start mass and teleport concentrate on the seeds;
    * same exact-integer recurrence, so the oracle unrolls all 3
    * iterations and hash-matches. */
  def q134(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism) // see q129
    val edges = graft.ext.Similarity
      .knnJoinBrute(emb, emb, "vec_id", "vec_id", k = 3,
        excludeSelf = true)
      .select(col("q_id").as("src"), col("c_id").as("dst"))
    graft.ext.Graph.personalizedPageRank(edges, "src", "dst",
        emb.filter(col("label") === 0).select(col("vec_id")),
        iters = 3)
      .select(col("id").as("vec_id"), col("rank_fp"))
      .orderBy(col("vec_id"))
  }

  val q134Sql: String = {
    def iter(prev: String, cur: String) =
      s"""$cur AS (SELECT ns.id,
         |    (CASE WHEN ns.is_seed THEN (SELECT (15 * r0) // 100 FROM p)
         |      ELSE 0 END) + COALESCE(cin, 0) AS r
         |  FROM ns LEFT JOIN (
         |    SELECT e.dst AS id,
         |      CAST(SUM((85 * $prev.r) // (100 * d.deg)) AS BIGINT)
         |        AS cin
         |    FROM e JOIN $prev ON e.src = $prev.id
         |      JOIN d ON e.src = d.src
         |    GROUP BY e.dst) s USING (id))""".stripMargin
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe
       |    FROM embeddings),
       |c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings),
       |sc AS (SELECT q_id, c_id, ${dotD("ce", "qe")} AS s
       |    FROM c, q WHERE c_id <> q_id),
       |e AS (SELECT q_id AS src, c_id AS dst FROM (
       |    SELECT q_id, c_id, ROW_NUMBER() OVER
       |      (PARTITION BY q_id ORDER BY s DESC, c_id) AS rnk
       |    FROM sc) WHERE rnk <= 3),
       |nodes AS (SELECT DISTINCT id FROM
       |    (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |sd AS (SELECT DISTINCT vec_id AS id FROM embeddings
       |    WHERE label = 0),
       |ns AS (SELECT nodes.id, (sd.id IS NOT NULL) AS is_seed
       |    FROM nodes LEFT JOIN sd ON nodes.id = sd.id),
       |p AS (SELECT CAST(1000000000000 AS BIGINT) // COUNT(*) AS r0
       |    FROM ns WHERE is_seed),
       |d AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |r0t AS (SELECT id, CASE WHEN is_seed
       |    THEN (SELECT r0 FROM p) ELSE 0 END AS r FROM ns),
       |${iter("r0t", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT id AS vec_id, r AS rank_fp FROM r3
       |ORDER BY vec_id""".stripMargin
  }

  /** q139 — PageRank over LSH-BLOCKED k-NN edges: q129's centrality
    * at the 100 TB candidate volume — neighbors come from
    * [[graft.ext.Similarity.knnJoinLsh]]'s same-bucket equi-join
    * (auto-derived width) instead of the brute all-pairs scan, so the
    * edge construction divides by 2^planes exactly as the retrieval
    * family does. The oracle mirrors the width derivation, the
    * bucketing, the blocked ranking AND the 3 unrolled PageRank
    * iterations. Nodes in singleton buckets have no neighbors and
    * drop from the graph (both engines). */
  def q139(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism) // see q129
    val edges = graft.ext.Similarity
      .knnJoinLsh(emb, emb, "vec_id", "vec_id", k = 3,
        excludeSelf = true)
      .select(col("q_id").as("src"), col("c_id").as("dst"))
    graft.ext.Graph.pageRank(edges, "src", "dst", iters = 3)
      .select(col("id").as("vec_id"), col("rank_fp"))
      .orderBy(col("vec_id"))
  }

  val q139Sql: String = {
    def iter(prev: String, cur: String) =
      s"""$cur AS (SELECT nodes.id,
         |    (SELECT (15 * r0) // 100 FROM pp) + COALESCE(cin, 0) AS r
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS id,
         |      CAST(SUM((85 * $prev.r) // (100 * d.deg)) AS BIGINT)
         |        AS cin
         |    FROM e JOIN $prev ON e.src = $prev.id
         |      JOIN d ON e.src = d.src
         |    GROUP BY e.dst) s USING (id))""".stripMargin
    s"""WITH p AS (SELECT LEAST(20, GREATEST(4, CAST(CEIL(LOG2(
       |    GREATEST(COUNT(*), 1) / 200.0)) AS INT))) AS pl
       |  FROM embeddings),
       |eb AS (SELECT vec_id, embedding, ${bucketDN("pl")} AS bucket
       |  FROM embeddings, p),
       |q AS (SELECT vec_id AS q_id, embedding AS qe, bucket AS qb
       |    FROM eb),
       |c AS (SELECT vec_id AS c_id, embedding AS ce, bucket AS cb
       |    FROM eb),
       |sc AS (SELECT q_id, c_id, ${dotD("ce", "qe")} AS s
       |    FROM c JOIN q ON cb = qb AND c_id <> q_id),
       |e AS (SELECT q_id AS src, c_id AS dst FROM (
       |    SELECT q_id, c_id, ROW_NUMBER() OVER
       |      (PARTITION BY q_id ORDER BY s DESC, c_id) AS rnk
       |    FROM sc) WHERE rnk <= 3),
       |nodes AS (SELECT DISTINCT id FROM
       |    (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |pp AS (SELECT CAST(1000000000000 AS BIGINT) // COUNT(*) AS r0
       |    FROM nodes),
       |d AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |r0t AS (SELECT id, (SELECT r0 FROM pp) AS r FROM nodes),
       |${iter("r0t", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT id AS vec_id, r AS rank_fp FROM r3
       |ORDER BY vec_id""".stripMargin
  }

  /** q140 — LSH-blocked label propagation
    * ([[graft.ext.Similarity.labelPropagateLsh]]): q127's weak
    * labeling at the q119 candidate volume — neighbors from the
    * same-bucket equi-join at the auto-derived width, identical vote
    * and tie rules. The oracle mirrors the width derivation, the
    * bucketing, the blocked ranking AND the vote window. */
  def q140(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    graft.ext.Similarity.labelPropagateLsh(
      emb.filter(col("vec_id") % 17 === 0),
      emb.filter(col("vec_id") % 17 =!= 0),
      "vec_id", "vec_id", "label", k = 5)
      .orderBy(col("q_id"))
  }

  val q140Sql: String =
    s"""WITH p AS (SELECT LEAST(20, GREATEST(4, CAST(CEIL(LOG2(
       |    GREATEST(COUNT(*), 1) / 200.0)) AS INT))) AS pl
       |  FROM embeddings WHERE vec_id % 17 <> 0),
       |e AS (SELECT vec_id, label, embedding, ${bucketDN("pl")} AS bucket
       |  FROM embeddings, p),
       |q AS (SELECT vec_id AS q_id, embedding AS qe, bucket AS qb
       |    FROM e WHERE vec_id % 17 = 0),
       |c AS (SELECT vec_id AS c_id, label AS c_lab, embedding AS ce,
       |    bucket AS cb FROM e WHERE vec_id % 17 <> 0),
       |sc AS (SELECT q_id, c_id, c_lab, ${dotD("ce", "qe")} AS s
       |    FROM c JOIN q ON cb = qb),
       |r AS (SELECT q_id, c_id, c_lab, ROW_NUMBER() OVER
       |    (PARTITION BY q_id ORDER BY s DESC, c_id) AS rnk FROM sc),
       |v AS (SELECT q_id, c_lab, COUNT(*) AS votes, MIN(rnk) AS best_rnk
       |    FROM r WHERE rnk <= 5 GROUP BY q_id, c_lab),
       |pk AS (SELECT q_id, c_lab, votes, best_rnk, ROW_NUMBER() OVER
       |    (PARTITION BY q_id ORDER BY votes DESC, best_rnk, c_lab)
       |    AS pick FROM v)
       |SELECT q_id, c_lab AS pred_label, votes, best_rnk
       |FROM pk WHERE pick = 1 ORDER BY q_id""".stripMargin

  /** q181 — MMR diversified re-ranking
    * ([[graft.ext.Similarity.mmrRerank]], Carbonell & Goldstein SIGIR
    * 1998): brute top-20 cosine recall for the query vector, then the
    * greedy λ = 0.7 marginal-relevance pass selects 10 — each step
    * maximizing `7·rel_fp − 3·max_sim_fp` over the unchosen residue
    * in exact BIGINT fixed point. The oracle replays the greedy loop
    * as a RECURSIVE CTE with a LATERAL per-step argmax carrying the
    * chosen set as a list, so the selection ORDER, every winner's
    * similarity ceiling, and the objective values all hash-match. */
  def q181(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    val cand = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("id"), col("embedding"),
        expr(dot("embedding", "qe")).as("rel_fp"))
      .orderBy(col("rel_fp").desc, col("id")).limit(20)
    Similarity.mmrRerank(cand, k = 10, lambdaTenths = 7)
      .orderBy(col("step"))
  }

  /** Unrolled greedy-selection oracle chain (MMR): DuckDB's
    * correlated-subquery-inside-LATERAL-inside-RECURSIVE path proved
    * NON-DETERMINISTIC (q184 returned different rows across runs of
    * the identical query in one process), so both greedy oracles use
    * the repo's proven unrolled-CTE-argmax pattern (the BPE chain):
    * one MATERIALIZED step per pick, the argmax as `MIN(struct(...))`
    * — struct comparison is lexicographic, so (neg-objective, id)
    * encodes "objective DESC, id ASC" exactly. */
  val q181Sql: String = {
    val sb = new StringBuilder(
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings
         |  WHERE vec_id = 0),
         |cand AS MATERIALIZED (SELECT vec_id AS id, embedding,
         |    ${dotD("embedding", "qe")} AS rel_fp
         |  FROM embeddings, q WHERE vec_id <> 0
         |  ORDER BY rel_fp DESC, vec_id LIMIT 20),
         |sim AS MATERIALIZED (SELECT a.id AS ai, b.id AS bi,
         |    ${dotD("a.embedding", "b.embedding")} AS s
         |  FROM cand a JOIN cand b ON a.id <> b.id),
         |p1 AS MATERIALIZED (SELECT MIN(struct_pack(
         |    negrel := -rel_fp, id := id)) AS w FROM cand),
         |st1 AS MATERIALIZED (SELECT [(SELECT w.id FROM p1)]
         |  AS chosen)""".stripMargin)
    for (k <- 2 to 10) {
      val p = k - 1
      sb.append(s""",
        |p$k AS MATERIALIZED (
        |  SELECT MIN(struct_pack(
        |      negmmr := -(7 * c.rel_fp - 3 * m.ms), id := c.id,
        |      rel_fp := c.rel_fp, ms := m.ms)) AS w
        |  FROM cand c JOIN (
        |    SELECT sim.ai AS id, MAX(sim.s) AS ms FROM sim, st$p
        |    WHERE list_contains(st$p.chosen, sim.bi)
        |      AND NOT list_contains(st$p.chosen, sim.ai)
        |    GROUP BY sim.ai) m ON c.id = m.id),
        |st$k AS MATERIALIZED (SELECT list_append(st$p.chosen,
        |  (SELECT w.id FROM p$k)) AS chosen FROM st$p)""".stripMargin)
    }
    val picks = Seq(
      """SELECT 1 AS step, (SELECT w.id FROM p1) AS id,
        |  (SELECT -w.negrel FROM p1) AS rel_fp,
        |  CAST(0 AS BIGINT) AS max_sim_fp,
        |  (SELECT -7 * w.negrel FROM p1) AS mmr_fp""".stripMargin) ++
      (2 to 10).map(k =>
        s"""SELECT $k AS step, (SELECT w.id FROM p$k) AS id,
           |  (SELECT w.rel_fp FROM p$k) AS rel_fp,
           |  (SELECT w.ms FROM p$k) AS max_sim_fp,
           |  (SELECT -w.negmmr FROM p$k) AS mmr_fp""".stripMargin)
    sb.append("\nSELECT step, id, rel_fp, max_sim_fp, mmr_fp FROM (" +
      picks.mkString(" UNION ALL ") + ") ORDER BY step")
    sb.toString
  }

  /** q182 — margin-based bitext mining
    * ([[graft.ext.Similarity.bitextMine]], Artetxe & Schwenk ACL
    * 2019 — the LASER/CCMatrix parallel-corpus miner): label-0
    * vectors mine their best label-1 counterpart by the RATIO margin
    * (cosine over the mean of both directions' k-NN neighborhood
    * mass, k = 8), keeping pairs with margin ≥ 1.2 in 10^6 fixed
    * point. The oracle replays both k-NN directions as windows, the
    * union-dedup of candidates, the 38-digit-integer margin, and the
    * per-source argmax — selection AND scores hash-match. */
  def q182(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    Similarity.bitextMine(
        emb.filter(col("label") === 0), emb.filter(col("label") === 1),
        "vec_id", "vec_id", k = 8, thresholdFp = 1200000L)
      .orderBy(col("src_id"))
  }

  val q182Sql: String =
    s"""WITH s0 AS (SELECT vec_id AS id, embedding FROM embeddings
       |  WHERE label = 0),
       |s1 AS (SELECT vec_id AS id, embedding FROM embeddings
       |  WHERE label = 1),
       |sc AS (SELECT a.id AS x, b.id AS y,
       |    ${dotD("a.embedding", "b.embedding")} AS s FROM s0 a, s1 b),
       |fwd AS (SELECT x, y, s FROM (SELECT x, y, s, ROW_NUMBER() OVER
       |    (PARTITION BY x ORDER BY s DESC, y) AS r FROM sc)
       |  WHERE r <= 8),
       |bwd AS (SELECT x, y, s FROM (SELECT x, y, s, ROW_NUMBER() OVER
       |    (PARTITION BY y ORDER BY s DESC, x) AS r FROM sc)
       |  WHERE r <= 8),
       |sx AS (SELECT x, CAST(SUM(s) AS BIGINT) AS sx FROM fwd
       |  GROUP BY x),
       |sy AS (SELECT y, CAST(SUM(s) AS BIGINT) AS sy FROM bwd
       |  GROUP BY y),
       |cand AS (SELECT x, y, MAX(s) AS s FROM
       |  (SELECT * FROM fwd UNION ALL SELECT * FROM bwd) GROUP BY x, y),
       |m AS (SELECT cand.x, cand.y, cand.s,
       |    CAST((CAST(cand.s AS HUGEINT) * 16 * 1000000)
       |      // (sx.sx + sy.sy) AS BIGINT) AS margin_fp
       |  FROM cand JOIN sx ON cand.x = sx.x JOIN sy ON cand.y = sy.y
       |  WHERE sx.sx + sy.sy > 0),
       |pick AS (SELECT x, y, s, margin_fp, ROW_NUMBER() OVER
       |    (PARTITION BY x ORDER BY margin_fp DESC, y) AS rn FROM m)
       |SELECT x AS src_id, y AS tgt_id, CAST(s AS BIGINT) AS score_fp,
       |  margin_fp
       |FROM pick WHERE rn = 1 AND margin_fp >= 1200000
       |ORDER BY src_id""".stripMargin

  /** q184 — k-center greedy coreset
    * ([[graft.ext.Similarity.kCenterGreedy]], Sener & Savarese ICLR
    * 2018 / the classic k-center 2-approximation): 16 farthest-point
    * picks over the label-0 vectors, seeded at the subset's min id —
    * each step takes the point least covered (smallest max-cosine) by
    * the chosen set, ties by id. The oracle replays the greedy loop
    * as a recursive CTE with a LATERAL per-step argmin over a
    * materialized pairwise-sim table, so the selection order AND
    * every winner's coverage value hash-match. */
  def q184(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings").filter(col("label") === 0)
    val seed = emb.agg(min(col("vec_id"))).head.getLong(0)
    Similarity.kCenterGreedy(emb, "vec_id", k = 16, seedId = seed)
      .orderBy(col("step"))
  }

  /** Unrolled chain, same pattern as [[q181Sql]] — `MIN(struct(cov,
    * id))` IS "cov ASC, id ASC". */
  val q184Sql: String = {
    val sb = new StringBuilder(
      s"""WITH pts AS MATERIALIZED (SELECT vec_id AS id, embedding
         |  FROM embeddings WHERE label = 0),
         |sim AS MATERIALIZED (SELECT a.id AS ai, b.id AS bi,
         |    ${dotD("a.embedding", "b.embedding")} AS s
         |  FROM pts a JOIN pts b ON a.id <> b.id),
         |st1 AS MATERIALIZED (SELECT [(SELECT MIN(id) FROM pts)]
         |  AS chosen)""".stripMargin)
    for (k <- 2 to 16) {
      val p = k - 1
      sb.append(s""",
        |p$k AS MATERIALIZED (
        |  SELECT MIN(struct_pack(cov := cov, id := id)) AS w FROM (
        |    SELECT sim.ai AS id, MAX(sim.s) AS cov FROM sim, st$p
        |    WHERE list_contains(st$p.chosen, sim.bi)
        |      AND NOT list_contains(st$p.chosen, sim.ai)
        |    GROUP BY sim.ai)),
        |st$k AS MATERIALIZED (SELECT list_append(st$p.chosen,
        |  (SELECT w.id FROM p$k)) AS chosen FROM st$p)""".stripMargin)
    }
    val picks = Seq(
      """SELECT 1 AS step, (SELECT MIN(id) FROM pts) AS id,
        |  CAST(0 AS BIGINT) AS cov_fp""".stripMargin) ++
      (2 to 16).map(k =>
        s"""SELECT $k AS step, (SELECT w.id FROM p$k) AS id,
           |  (SELECT w.cov FROM p$k) AS cov_fp""".stripMargin)
    sb.append("\nSELECT step, id, cov_fp FROM (" +
      picks.mkString(" UNION ALL ") + ") ORDER BY step")
    sb.toString
  }

  /** q185 — Matryoshka prefix-dimension recall (Kusupati et al.
    * NeurIPS 2022's MRL serving trade, as a measurable diagnostic):
    * the top-10 neighbors of the query under the FIRST-16-DIM dot
    * vs the full-64-dim top-10 — per prefix-rank row: both scores
    * and whether the full list contains the hit. The 100 TB
    * relevance: prefix-dim scan + full-dim rerank is the standard
    * memory-bandwidth trade, and this row measures exactly what that
    * first stage loses. Same broadcast-query scan shape as q36. */
  def q185(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    val scored = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        expr(dot("embedding", "qe")).as("s_full"),
        expr(dot("slice(embedding, 1, 16)", "slice(qe, 1, 16)"))
          .as("s_pre"))
    val full10 = scored
      .orderBy(col("s_full").desc, col("vec_id")).limit(10)
      .select(col("vec_id").as("fid"))
    val pre10 = scored
      .orderBy(col("s_pre").desc, col("vec_id")).limit(10)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("s_pre").desc, col("vec_id"))))
    pre10.join(full10, pre10("vec_id") === full10("fid"), "left")
      .select(col("rnk").cast("long").as("rnk"), col("vec_id"),
        col("s_pre").as("cos_prefix_fp"),
        col("s_full").as("cos_full_fp"),
        when(col("fid").isNotNull, 1L).otherwise(0L).as("in_full_top10"))
      .orderBy(col("rnk"))
  }

  val q185Sql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings
       |  WHERE vec_id = 0),
       |sc AS (SELECT vec_id,
       |    ${dotD("embedding", "qe")} AS s_full,
       |    ${dotD("embedding[1:16]", "qe[1:16]")} AS s_pre
       |  FROM embeddings, q WHERE vec_id <> 0),
       |f AS (SELECT vec_id FROM sc
       |  ORDER BY s_full DESC, vec_id LIMIT 10),
       |p AS (SELECT vec_id, s_pre, s_full, ROW_NUMBER() OVER
       |    (ORDER BY s_pre DESC, vec_id) AS rnk
       |  FROM sc ORDER BY s_pre DESC, vec_id LIMIT 10)
       |SELECT p.rnk, p.vec_id, p.s_pre AS cos_prefix_fp,
       |  p.s_full AS cos_full_fp,
       |  CASE WHEN f.vec_id IS NOT NULL THEN CAST(1 AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS in_full_top10
       |FROM p LEFT JOIN f ON p.vec_id = f.vec_id
       |ORDER BY p.rnk""".stripMargin

  /** q186 — k-occurrence HUBNESS diagnostic (Radovanović et al. JMLR
    * 2010): how often each vector appears in other vectors' 5-NN
    * lists, reported as the occurrence histogram. High-dimensional
    * corpora grow "hub" vectors that dominate every neighbor list —
    * the pathology the bitext margin (q182) normalizes away; this
    * measures it directly. Shape: one brute 5-NN join over the
    * label-0/1 subset (the LSH/IVF joins replace it at 100 TB), a
    * per-neighbor count, and a bounded histogram. */
  def q186(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
      .filter(col("label") <= 1)
    val nn = Similarity.knnJoinBrute(emb, emb, "vec_id", "vec_id",
      k = 5, excludeSelf = true)
    val occ = nn.groupBy(col("c_id")).agg(count(lit(1)).as("occ"))
    // vectors never appearing in any 5-NN list are occ = 0
    emb.select(col("vec_id").as("c_id"))
      .join(occ, Seq("c_id"), "left")
      .select(coalesce(col("occ"), lit(0L)).as("occ"))
      .groupBy("occ").agg(count(lit(1)).as("n_points"))
      .orderBy(col("occ"))
  }

  val q186Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE label <= 1),
       |sc AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id,
       |    ${dotD("b.embedding", "a.embedding")} AS s
       |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
       |nn AS (SELECT q_id, c_id FROM (SELECT q_id, c_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY s DESC, c_id) AS rnk FROM sc)
       |  WHERE rnk <= 5),
       |occ AS (SELECT e.vec_id,
       |    CAST(COALESCE(o.c, 0) AS BIGINT) AS occ
       |  FROM e LEFT JOIN (SELECT c_id, COUNT(*) AS c FROM nn
       |    GROUP BY c_id) o ON e.vec_id = o.c_id)
       |SELECT occ, COUNT(*) AS n_points FROM occ GROUP BY occ
       |ORDER BY occ""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q181_mmr_rerank", q181, Some(q181Sql)),
    QueryDef("q182_bitext_margin", q182, Some(q182Sql)),
    QueryDef("q184_kcenter_coreset", q184, Some(q184Sql)),
    QueryDef("q185_matryoshka_recall", q185, Some(q185Sql)),
    QueryDef("q186_hubness", q186, Some(q186Sql)),
    QueryDef("q83_incremental_vec_neardup", q83, Some(q83Sql)),
    QueryDef("q84_banded_vec_neardup", q84, Some(q84Sql)),
    QueryDef("q36_knn_brute", q36, Some(q36Sql)),
    QueryDef("q37_cosine_pairs", q37, Some(q37Sql)),
    QueryDef("q38_ann_lsh", q38, Some(q38Sql)),
    QueryDef("q39_ivf_search", q39, Some(q39Sql)),
    QueryDef("q58_ann_lsh_partitioned", q58, Some(q58Sql)),
    QueryDef("q98_multiprobe_ann", q98, Some(q98Sql)),
    QueryDef("q99_ivf_nprobe", q99, Some(q99Sql)),
    QueryDef("q100_pq_adc", q100, Some(q100Sql)),
    QueryDef("q101_pq_rerank", q101, Some(q101Sql)),
    QueryDef("q102_ivfpq", q102, Some(q102Sql)),
    QueryDef("q87_knn_join", q87, Some(q87Sql)),
    QueryDef("q88_knn_join_lsh", q88, Some(q88Sql)),
    QueryDef("q90_knn_join_partitioned", q90, Some(q90Sql)),
    QueryDef("q91_knn_join_ivf", q91, Some(q91Sql)),
    QueryDef("q75_kmeans_train", q75, Some(q75Sql)),
    QueryDef("q78_cluster_sample", q78, Some(q78Sql)),
    QueryDef("q79_embedding_outliers", q79, Some(q79Sql)),
    QueryDef("q69_vec_quantize", q69, Some(q69Sql)),
    QueryDef("q72_semantic_decon", q72, Some(q72Sql)),
    QueryDef("q104_semdedup", q104, Some(q104Sql)),
    QueryDef("q105_semdedup_join", q105, Some(q105Sql)),
    QueryDef("q107_semdedup_incremental", q107, Some(q107Sql)),
    QueryDef("q110_semdedup_incr_join", q110, Some(q110Sql)),
    QueryDef("q111_knn_join_pq", q111, Some(q111Sql)),
    QueryDef("q116_hard_negatives", q116, Some(q116Sql)),
    QueryDef("q119_hard_negatives_lsh", q119, Some(q119Sql)),
    QueryDef("q127_label_propagate", q127, Some(q127Sql)),
    QueryDef("q129_pagerank_knn", q129, Some(q129Sql)),
    QueryDef("q143_pagerank_weighted", q143, Some(q143Sql)),
    QueryDef("q134_personalized_pagerank", q134, Some(q134Sql)),
    QueryDef("q139_pagerank_lsh", q139, Some(q139Sql)),
    QueryDef("q140_label_propagate_lsh", q140, Some(q140Sql)))
}
