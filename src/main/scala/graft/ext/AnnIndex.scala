package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-time ANN index: the deterministic LSH bucket materialized as
  * a PARTITION column at write time, so the 100 TB probe path is
  *
  *   static partition pruning (literal bucket id computed driver-side)
  *   → one bucket scan → codegen'd fixed-point re-rank → TakeOrdered.
  *
  * This is the scale shape the read-time q38 only simulates: there the
  * bucket is recomputed per row per read; here it is paid once at
  * write time and every probe touches 1/2^planes of the files. The
  * probe plan shows the bucket in `PartitionFilters` (asserted by
  * AnnIndexSpec) — no data files outside the query's bucket are read.
  */
object AnnIndex {

  /** Materialize the bucket column and write partitioned by it.
    * Scale `planes` with the corpus — probe cost is one bucket's
    * size, so planes ≈ log2(n / targetBucketSize)
    * ([[Similarity.autoPlanes]] computes exactly this; pass
    * `planes = Similarity.autoPlanes(df.count())` to size from data).
    * Unlike the incremental index (which stores full-width bvals and
    * masks at probe time), the bucket is a WRITE-TIME Hive partition
    * here, so the width is fixed at write: pick it for the corpus you
    * are writing, and keep directory-count sanity in mind (2^planes
    * partitions — ≤ ~2^12 is comfortable on object stores; beyond
    * that prefer the incremental index layout). */
  def writeBucketed(df: DataFrame, dir: String,
      embCol: String = "embedding", planes: Int = 4): Unit =
    df.withColumn("bucket", Similarity.lshBucket(embCol, planes))
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)

  /** Top-k cosine probe for `queryVec`: scans ONLY the query's probe
    * buckets. Bucket ids are computed driver-side so the filter is a
    * literal (IN-list) — Spark prunes partitions at planning time,
    * not run time. `probes > 1` turns on multi-probe LSH
    * ([[Similarity.multiProbeBuckets]]): the base bucket plus the
    * least-confident single-plane flips — the read-time recall knob
    * (probe cost grows linearly, the index is untouched). */
  def probe(spark: SparkSession, dir: String, queryVec: Array[Float],
      k: Int, idCol: String = "vec_id", embCol: String = "embedding",
      planes: Int = 4, probes: Int = 1): DataFrame = {
    val qbs = Similarity.multiProbeBuckets(queryVec, planes,
      probes = probes)
    val qe = Similarity.litFloatArraySql(queryVec)
    spark.read.parquet(dir)
      .filter(if (qbs.size == 1) col("bucket") === lit(qbs.head)
              else col("bucket").isin(qbs: _*))
      .select(col(idCol), col("bucket"),
        (expr(Similarity.dotSql(embCol, qe)) / lit(1e12))
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Batched top-k probe — MANY queries against the bucketed index in
    * one pass (the multi-query face of [[probe]], and the index-backed
    * form of [[Similarity.knnJoinLsh]]). `index` is the partitioned
    * scan (`spark.read.parquet(dir)`, optionally pre-filtered on data
    * columns); each query joins only its own bucket: the equi-join key
    * IS the partition column, so Spark's dynamic partition pruning
    * turns the broadcast query set into a RUNTIME partition filter —
    * of the 2^planes bucket directories, only those some query hashes
    * into are read at all (`dynamicpruning` lands in the scan's
    * PartitionFilters — asserted by AnnIndexSpec). Reduction is the
    * k-bounded `topk_by` aggregate, so ≤ k rows per partition per
    * query shuffle. `planes` must match the width the index was
    * written at. */
  def knnJoinBucketed(index: DataFrame, queries: DataFrame,
      qIdCol: String, k: Int, idCol: String = "vec_id",
      embCol: String = "embedding", planes: Int = 4,
      probes: Int = 1): DataFrame = {
    val q0 = queries.select(col(qIdCol).cast("long").as("q_id"),
      col(embCol).as("qe"))
    // probes = 1 keeps the single-bucket fast path; > 1 explodes each
    // query into its multi-probe bucket set (base + least-confident
    // single-plane flips, [[Similarity.probeSetSql]]) — the query side
    // stays bounded (× probes) and broadcast, and the equi-join still
    // keys on the index's partition column, so dynamic partition
    // pruning covers the UNION of probe buckets
    val q = broadcast(
      if (probes == 1)
        q0.withColumn("qb", Similarity.lshBucket("qe", planes))
      else {
        require(probes >= 1 && probes <= planes + 1,
          s"probes must be in [1, planes+1 = ${planes + 1}]: $probes")
        q0.withColumn("ms",
            expr(Similarity.marginsSql("qe", planes)))
          .withColumn("qb",
            explode(expr(Similarity.probeSetSql("ms", planes, probes))))
          .drop("ms")
      })
    val scored = index.join(q, col("bucket") === col("qb"))
      .select(col("q_id"), col(idCol).cast("long").as("c_id"),
        expr(Similarity.dotSql(embCol, "qe")).as("s"))
    Similarity.topkReduce(scored, k)
  }

  /** Streaming retrieval glue: a STREAM of query vectors probed
    * against the bucketed index, one [[knnJoinBucketed]] per
    * micro-batch, results landing exactly-once in a graft table
    * (batch-id-keyed txn — a replayed batch is a no-op, same contract
    * as the streaming dedup glues). The per-batch cost is the batch's
    * touched buckets only (dynamic partition pruning), so a steady
    * query stream against a 100 TB index reads a sliver per trigger.
    * The index is re-resolved from `indexDir` each batch, so an index
    * rebuild between triggers is picked up without restarting. */
  def knnStreamToTable(stream: DataFrame, qIdCol: String,
      indexDir: String, outDir: String, checkpointDir: String,
      k: Int = 10, embCol: String = "embedding", planes: Int = 4,
      appId: String = "graft-knn", probes: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val res = knnJoinBucketed(
          batch.sparkSession.read.parquet(indexDir), batch, qIdCol, k,
          embCol = embCol, planes = planes, probes = probes)
        graft.sink.CdcTable.append(res, outDir, txn = Some((appId, id)))
        ()
      }
      .start()

  /** IVF variant: the centroid ASSIGNMENT as the write-time partition
    * column (q39's read-time assignment paid once at write). One
    * codegen'd argmax projection, then a partitioned write. */
  def writeIvf(df: DataFrame, dir: String,
      centroids: Seq[(Long, Array[Float])],
      embCol: String = "embedding"): Unit =
    df.withColumn("cid",
        Similarity.ivfAssignLit(embCol, centroids))
      .write.mode("overwrite").partitionBy("cid").parquet(dir)

  /** Train-then-write IVF: Lloyd's k-means ([[Similarity.kmeansFit]])
    * learns the centroids from the data, then the assignment becomes
    * the write-time partition column. Returns the trained centroids
    * (feed them to [[probeIvf]]). */
  def writeIvfTrained(df: DataFrame, dir: String, k: Int,
      iters: Int = 5, idCol: String = "vec_id",
      embCol: String = "embedding"): Seq[(Long, Array[Float])] = {
    val cents = Similarity.kmeansFit(df, idCol, embCol, k, iters)
    writeIvf(df, dir, cents, embCol)
    cents
  }

  /** Incremental IVF maintenance: assign NEW vectors to the EXISTING
    * centroids and append them into the partitioned index — no
    * retrain, no rewrite of resident data (the standard
    * grow-online / retrain-offline cadence of a production vector
    * store). Appended files land inside their cluster's partition
    * directory, so probes keep pruning to one cluster. */
  def appendIvf(df: DataFrame, dir: String,
      centroids: Seq[(Long, Array[Float])],
      embCol: String = "embedding"): Unit =
    df.withColumn("cid",
        Similarity.ivfAssignLit(embCol, centroids))
      .write.mode("append").partitionBy("cid").parquet(dir)

  /** Top-k probe of the query's own cluster only (literal cluster id →
    * static partition pruning, exact rerank inside the cluster). */
  /** IVF+PQ index (the FAISS IVFPQ shape): rows partition by their
    * nearest-centroid id AND store only (id, PQ codes) — the float
    * embedding column is NOT written, so the index is ~64× smaller
    * than the raw vectors and a probe reads a few small-int columns
    * from nprobe partitions. This is the 100 TB shape where both
    * levers compose: partition pruning bounds IO, code storage bounds
    * bytes-per-row. */
  def writeIvfPq(df: DataFrame, dir: String,
      centroids: Seq[(Long, Array[Float])],
      books: IndexedSeq[IndexedSeq[Array[Float]]],
      idCol: String = "vec_id", embCol: String = "embedding"): Unit = {
    df.withColumn("cid", Similarity.ivfAssignLit(embCol, centroids))
      .withColumn("codes", Similarity.pqEncodeLit(embCol, books))
      .select(col(idCol), col("codes"), col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(dir)
  }

  /** ADC top-k against an [[writeIvfPq]] index: the query's `nprobe`
    * nearest clusters (literal IN-list → static partition pruning)
    * scored from the CODES alone via the (m × k) exact fixed-point
    * lookup table. For the exact-rerank production pattern, join the
    * returned shortlist back to the raw vectors (q101's shape). */
  def probeIvfPq(spark: SparkSession, dir: String,
      queryVec: Array[Float], centroids: Seq[(Long, Array[Float])],
      books: IndexedSeq[IndexedSeq[Array[Float]]], k: Int,
      nprobe: Int = 1, idCol: String = "vec_id"): DataFrame = {
    val qcids = Similarity.assignTopN(queryVec, centroids, nprobe)
    val lut = Similarity.pqLut(queryVec, books)
    spark.read.parquet(dir)
      .filter(if (qcids.size == 1) col("cid") === lit(qcids.head)
              else col("cid").isin(qcids: _*))
      .withColumn("adc_fp", Similarity.pqAdcLit("codes", lut))
      .select(col(idCol), col("cid"), col("adc_fp"),
        (col("adc_fp").cast("double") / lit(1e12)).as("adc_sim"))
      .orderBy(col("adc_fp").desc, col(idCol))
      .limit(k)
  }

  def probeIvf(spark: SparkSession, dir: String, queryVec: Array[Float],
      centroids: Seq[(Long, Array[Float])], k: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      nprobe: Int = 1): DataFrame = {
    val qcids = Similarity.assignTopN(queryVec, centroids, nprobe)
    val qe = Similarity.litFloatArraySql(queryVec)
    spark.read.parquet(dir)
      .filter(if (qcids.size == 1) col("cid") === lit(qcids.head)
              else col("cid").isin(qcids: _*))
      .select(col(idCol), col("cid"),
        (expr(Similarity.dotSql(embCol, qe)) / lit(1e12))
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }
}
