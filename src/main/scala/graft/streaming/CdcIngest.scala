package graft.streaming

import graft.core.SchemaMerge
import graft.core.SchemaMerge.MergeMode
import graft.ingest.{CdcNormalize, Envelope}
import graft.sink.CdcTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming CDC ingest: the whole reference delta-writer
  * hot path (`main.py:46-92` → `event_consumer.py` →
  * `delta_writer.py`, SURVEY.md §3.1) as one declarative pipeline:
  *
  *   source (kafka | any streaming DF) → envelope decode → normalize
  *   (classify/extract/enrich) → foreachBatch { per-collection schema
  *   merge + parquet append, DLQ table for rejects }.
  *
  * The reference's hand-rolled machinery collapses into built-ins:
  * micro-batching → Trigger.ProcessingTime; checkpoint/resume →
  * checkpointLocation; retries/backpressure → Spark task retries +
  * maxOffsetsPerTrigger; graceful shutdown → query.stop(). Per-event
  * Python loops become one codegen'd projection.
  *
  * Scale: normalize is shuffle-free; the only wide operation is the
  * optional per-collection demux, which lists distinct collection keys
  * per micro-batch (bounded by collection count, not row count) and
  * writes each group with a partition-pruned filter.
  */
object CdcIngest {

  final case class Config(
      baseDir: String,
      checkpointDir: String,
      triggerMillis: Long = 5000L, // reference batch timeout 5 s
      mergeMode: MergeMode = SchemaMerge.Auto,
      staleDays: Int = 7,
      inferDocSchema: Boolean = true,
      /** Rewrite Mongo extended-JSON wrappers ($oid/$date/$number*)
        * into plain scalars before inference (ExtJson). */
      normalizeExtJson: Boolean = true,
      /** Nested-struct width cap (SURVEY §1.2 MapType overflow): a
        * merged NESTED struct exceeding this many fields spills to
        * map<string,V>, so documents with unbounded key sets (per-user
        * attribute bags) keep the table schema bounded instead of
        * widening by one column per novel key. Int.MaxValue = off. */
      maxStructFields: Int = Int.MaxValue)

  /** Kafka source options matching the reference consumer config
    * (`consumer/event_consumer.py:58-67`): pattern subscription,
    * read_committed isolation (transactional Debezium producers),
    * bounded per-trigger poll (backpressure, T7), earliest reset. */
  private[graft] def kafkaOptions(bootstrap: String, pattern: String,
      maxOffsetsPerTrigger: Long): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribePattern" -> pattern,
    "kafka.isolation.level" -> "read_committed",
    "maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString,
    "startingOffsets" -> "earliest")

  /** Kafka source (S1). Requires the spark-sql-kafka connector jar on
    * the classpath at runtime — NOT present in this build environment
    * (no kafka artifacts under /opt/spark/jars and no egress to fetch
    * them), so this surface is exercised by KafkaSurfaceSpec only up
    * to the option wiring + the connector-missing error; memory/file
    * streams stand in for end-to-end streaming tests (StreamingSpec). */
  def kafkaSource(spark: SparkSession, bootstrap: String,
      pattern: String = "mongodb.*",
      maxOffsetsPerTrigger: Long = 2000L): DataFrame =
    spark.readStream.format("kafka")
      .options(kafkaOptions(bootstrap, pattern, maxOffsetsPerTrigger))
      .load()

  /** Process one (micro-)batch of raw envelope JSON: decode, normalize,
    * demux per collection, append each to its table + the DLQ table.
    * Also the batch-mode entry (the same code path serves backfill). */
  def processBatch(batch: DataFrame, cfg: Config,
      batchId: Option[Long] = None): Unit = {
    // Several actions run against this one micro-batch (DLQ check,
    // collection listing, per-table writes, doc-schema inference).
    // Persist the single NORMALIZED stream (valid + dlq are filters
    // over it): caching the raw batch instead would re-run the
    // envelope from_json decode on every action, and persisting the
    // two branches separately would read the source twice per batch.
    val normalized = CdcNormalize(Envelope.decode(batch), cfg.staleDays)
    val all = normalized.all.persist()
    try {
      // ONE summary job over the cached batch replaces three separate
      // driver actions (dlq.isEmpty + valid.isEmpty + distinct-keys
      // collect): per-batch fixed cost matters at streaming cadence
      val s = all.agg(
        count(when(col("_dlq_reason").isNotNull, 1)).as("n_dlq"),
        collect_set(when(col("_dlq_reason").isNull,
          col("_collection_key"))).as("keys")).collect()(0)
      processNormalized(normalized.valid, normalized.dlq, cfg, batchId,
        hasDlq = s.getLong(0) > 0, keys = s.getSeq[String](1))
    } finally { all.unpersist(); () }
  }

  /** Standard DLQ row shape (reference `dlq_writer.py:24-57`):
    * original event + reason + per-reason error detail + retry_count +
    * a stable `dlq_id` for replay resolution + source coords. */
  private def dlqProjection(flagged: DataFrame): DataFrame = {
    import graft.ingest.CdcNormalize.DlqReason
    val original = col("value").cast("string")
    flagged.select(
      original.as("original_value"),
      col("_dlq_reason").as("reason"),
      when(col("_dlq_reason") === DlqReason.UnknownOp,
        col("_envelope.payload.op"))
        .when(col("_dlq_reason") === DlqReason.Oversized,
          octet_length(col("_doc")).cast("string"))
        .when(col("_dlq_reason") === DlqReason.Stale,
          col("_cdc_timestamp").cast("string"))
        .when(col("_dlq_reason") === DlqReason.ConstraintViolation,
          if (flagged.columns.contains("_cons_detail"))
            col("_cons_detail") else lit(null).cast("string"))
        .as("error_detail"),
      coalesce(col("retry_count"), lit(0)).as("retry_count"),
      coalesce(col("dlq_id"), md5(concat_ws("|",
        coalesce(original, lit("")),
        coalesce(col("_kafka_topic"), lit("")),
        coalesce(col("_kafka_partition").cast("string"), lit("")),
        coalesce(col("_kafka_offset").cast("string"), lit("")),
        col("_dlq_reason")))).as("dlq_id"),
      col("_kafka_topic"), col("_kafka_partition"), col("_kafka_offset"),
      col("_ingestion_timestamp"), col("_ingestion_date"))
  }

  /** Null passenger columns for frames that don't carry replay state. */
  private def withReplayCols(df: DataFrame): DataFrame = {
    val cols = df.columns.toSet
    val d = if (cols("dlq_id")) df
      else df.withColumn("dlq_id", lit(null).cast("string"))
    if (cols("retry_count")) d
    else d.withColumn("retry_count", lit(null).cast("int"))
  }

  private def processNormalized(valid: DataFrame, dlqAll: DataFrame,
      cfg: Config, batchId: Option[Long], hasDlq: Boolean,
      keys: Seq[String]): Unit = {
    // appId scoped to the checkpoint: replays of a committed batchId
    // become idempotent no-ops per table (T2 exactly-once).
    val txnOf: Long => Option[(String, Long)] =
      v => Some((cfg.checkpointDir, v))

    if (hasDlq)
      CdcTable.append(dlqProjection(withReplayCols(dlqAll)),
        s"${cfg.baseDir}/_dlq", cfg.mergeMode,
        txn = batchId.flatMap(txnOf))

    if (keys.isEmpty) return
    writeCollections(valid, cfg, keys,
      tableTxn = _ => batchId.flatMap(txnOf),
      coerceTxn = key => batchId.map(v =>
        (s"${cfg.checkpointDir}#coerce:$key", v)),
      consTxn = key => batchId.map(v =>
        (s"${cfg.checkpointDir}#cons:$key", v)),
      dlqConstraints = true)
  }

  /** `keys` is the batch's distinct collection list — bounded by the
    * number of collections, not rows; callers derive it from their
    * batch-summary aggregation (the one intentionally driver-visible
    * list). Per-table writes run concurrently (SURVEY.md §7.4: a
    * sequential loop serializes N independent Spark jobs); each
    * writes its own directory, so there is no write conflict. */
  private def writeCollections(valid: DataFrame, cfg: Config,
      keys: Seq[String],
      tableTxn: String => Option[(String, Long)],
      coerceTxn: String => Option[(String, Long)],
      consTxn: String => Option[(String, Long)] = _ => None,
      dlqConstraints: Boolean = false): Unit = {
    val spark = valid.sparkSession
    implicit val ec: scala.concurrent.ExecutionContext = writeEc
    val futures = keys.toSeq.map { key => scala.concurrent.Future {
      val rows = valid.filter(col("_collection_key") === key)
      val table = rows.select(
        col("_envelope.payload._id").as("_id"),
        (if (cfg.normalizeExtJson)
          graft.ingest.ExtJson.normalize(col("_doc"))
        else col("_doc")).as("_doc"),
        col("_cdc_timestamp"), col("_cdc_operation"),
        col("_ingestion_timestamp"), col("_kafka_offset"),
        col("_kafka_partition"), col("_kafka_topic"),
        col("_ingestion_date"), col("_source_database"),
        col("_source_collection"))
      val out =
        if (cfg.inferDocSchema) expandDoc(spark, table) else table
      val tableDir = s"${cfg.baseDir}/${CdcNormalize.tableName(key)}"
      // Coercion mode: keep the table's typed columns and convert
      // incoming strings per VALUE; rows that fail conversion go to
      // the DLQ (schema_validation_error) instead of degrading the
      // whole column to string (SchemaMerge.Coercion; reference
      // spec.md:297-300 third conflict policy).
      val (toWrite, rejects) =
        if (cfg.mergeMode == SchemaMerge.Coercion)
          CdcTable.currentSchema(tableDir) match {
            case Some(e) =>
              SchemaMerge.coerceSplit(out,
                SchemaMerge.merge(e, out.schema, SchemaMerge.Coercion,
                  cfg.maxStructFields))
            case None => (out, out.limit(0))
          }
        else (out, out.limit(0))
      // CHECK constraints (the table's writer invariants): in the
      // unattended streaming path, violating rows route to the DLQ
      // (constraint_violation) instead of failing the stream — the
      // reference's dirty-data policy (spec.md:261-295) applied to
      // the engine's own invariant surface. Violation iff FALSE (NULL
      // passes). Referenced columns the batch doesn't carry are
      // null-filled in a PROBE frame so the split judges EXACTLY what
      // append's in-write guard will see — an expression that is
      // FALSE on a null-filled column (e.g. `v IS NOT NULL` under
      // schema drift) must dead-letter its rows here, never crash
      // the stream downstream. Replay keeps the loud in-write guard
      // instead (dlqConstraints = false): it is operator-driven, and
      // silently re-queueing a row the operator just tried to resolve
      // would mask the fix.
      val resolver = spark.sessionState.analyzer.resolver
      val cons =
        if (!dlqConstraints) Nil
        else CdcTable.constraints(tableDir)
      val (clean, consRejects) =
        if (cons.isEmpty) (toWrite, toWrite.limit(0))
        else {
          val tblSchema = CdcTable.currentSchema(tableDir)
          val missing = cons.flatMap(_.cols).distinct
            .filterNot(n => toWrite.columns.exists(resolver(_, n)))
          val probe = missing.foldLeft(toWrite)((df, c) =>
            df.withColumn(c, lit(null).cast(
              tblSchema.flatMap(_.fields.find(f => resolver(f.name, c)))
                .map(_.dataType)
                .getOrElse(org.apache.spark.sql.types.StringType))))
          val passAll = cons.map(c =>
            coalesce(expr(c.expr), lit(true))).reduce(_ && _)
          (probe.filter(passAll).drop(missing: _*),
            probe.filter(!passAll).withColumn("_cons_detail",
              concat_ws(",", cons.map(c =>
                when(!coalesce(expr(c.expr), lit(true)),
                  lit(c.name))): _*)).drop(missing: _*))
        }
      // transient IO failures retry with backoff (T9); schema
      // conflicts are deterministic and fail fast
      Retry.withBackoff() {
        CdcTable.append(clean, tableDir, cfg.mergeMode,
          txn = tableTxn(key), maxStructFields = cfg.maxStructFields)
      }
      // typed rejects lost the raw envelope in the demux select;
      // serialize the typed row back to JSON as the original_value
      // and fill the envelope/doc passengers dlqProjection expects
      def toDlq(rows: DataFrame, reason: String,
          txn: Option[(String, Long)]): Unit = if (!rows.isEmpty) {
        var dlqRows = rows
          .withColumn("value", to_json(struct(rows.columns
            .filterNot(_ == "_cons_detail").map(col).toIndexedSeq: _*)))
          .withColumn("_dlq_reason", lit(reason))
        if (!dlqRows.columns.contains("_envelope"))
          dlqRows = dlqRows.withColumn("_envelope", lit(null).cast(
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("payload",
                graft.ingest.Envelope.payloadSchema)))))
        if (!dlqRows.columns.contains("_doc"))
          dlqRows = dlqRows.withColumn("_doc", lit(null).cast("string"))
        Retry.withBackoff() {
          // distinct txn appId per table+reason: the batch-level DLQ
          // append already committed this batchId under the
          // checkpoint appId
          CdcTable.append(dlqProjection(withReplayCols(dlqRows)),
            s"${cfg.baseDir}/_dlq", cfg.mergeMode, txn = txn)
        }
      }
      toDlq(rejects, CdcNormalize.DlqReason.SchemaValidation,
        coerceTxn(key))
      toDlq(consRejects, CdcNormalize.DlqReason.ConstraintViolation,
        consTxn(key))
    }}
    // Await EVERY write's outcome before returning (a fail-fast
    // Future.sequence would rethrow while sibling writes were still
    // in flight — a replay of the batch could then race them on the
    // non-atomic version/schema/txn files), then surface the first
    // failure so the stream restarts and replays the batch.
    import scala.concurrent.duration.Duration
    val outcomes = futures.map(f =>
      scala.concurrent.Await.ready(f, Duration.Inf).value.get)
    outcomes.collectFirst { case scala.util.Failure(e) => throw e }
    ()
  }

  /** Replay dead-lettered events (reference `dlq_writer.py:37-57`
    * retry metadata + replay surface): re-normalize each DLQ row's
    * original event — optionally repaired via `fixes` (dlq_id,
    * original_value) — and append the now-valid ones to their tables;
    * still-failing events stay queued with `retry_count` + 1, flipping
    * to `max_retries_exceeded` at the cap; resolved ones leave the
    * queue via one atomic `replace` rewrite (so a crashed replay never
    * loses or duplicates dead letters). Returns (resolved, stillDead). */
  def replayDlq(spark: SparkSession, cfg: Config,
      fixes: Option[DataFrame] = None, maxRetries: Int = 3): (Long, Long) = {
    import graft.ingest.CdcNormalize.DlqReason
    val dlqDir = s"${cfg.baseDir}/_dlq"
    if (CdcTable.currentVersion(dlqDir) == 0) return (0L, 0L)
    // snapshot base BEFORE reading: the final queue rewrite validates
    // against it, so a DLQ append landing mid-replay aborts the
    // replace instead of being silently dropped from the queue
    val baseCommit = CdcTable.log(dlqDir).last.commit
    val all = CdcTable.read(spark, dlqDir)
    val patched = fixes match {
      case Some(fx) =>
        all.join(fx.select(col("dlq_id"),
            col("original_value").as("__fixed")), Seq("dlq_id"), "left")
          .withColumn("original_value",
            coalesce(col("__fixed"), col("original_value")))
          .drop("__fixed")
      case None => all
    }
    val replayable = patched.filter(col("retry_count") < maxRetries &&
      col("reason") =!= DlqReason.MaxRetries)
    if (replayable.isEmpty) return (0L, patched.count())
    val raw = replayable.select(col("dlq_id"),
      col("original_value").as("value"))
    val normalized = CdcNormalize(Envelope.decode(raw), cfg.staleDays)
    val persisted = normalized.all.persist()
    try {
      val valid = normalized.valid
      val replayKeys = valid.select(col("_collection_key")).distinct()
        .collect().map(_.getString(0)).toSeq
      if (replayKeys.nonEmpty)
        writeCollections(valid, cfg, replayKeys, _ => None, _ => None)
      val okIds = valid.select(col("dlq_id"))
      val failedIds = normalized.dlq.select(col("dlq_id"),
        col("_dlq_reason").as("__new_reason"))
      val remaining = patched
        .join(okIds, Seq("dlq_id"), "left_anti")
        .join(failedIds, Seq("dlq_id"), "left")
        .withColumn("retry_count",
          when(col("__new_reason").isNotNull, col("retry_count") + 1)
            .otherwise(col("retry_count")))
        .withColumn("reason",
          when(col("retry_count") >= maxRetries,
            lit(DlqReason.MaxRetries))
            .otherwise(coalesce(col("__new_reason"), col("reason"))))
        .drop("__new_reason")
      val stillDead = remaining.count()
      CdcTable.replaceWith(dlqDir, remaining,
        expectedLastCommit = Some(baseCommit))
      (patched.count() - stillDead, stillDead)
    } finally { persisted.unpersist(); () }
  }

  /** Shared bounded pool for per-table writes (daemon threads; reused
    * across micro-batches instead of churning a pool per batch). */
  private lazy val writeEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(8,
        (r: Runnable) => {
          val t = new Thread(r, "graft-cdc-write")
          t.setDaemon(true)
          t
        }))

  /** Expand the raw `_doc` JSON into typed columns: per-batch schema
    * inference (reference `schema_inferrer.py:93-125` — there per-doc
    * Python; here one distributed `schema_of_json`-style pass via the
    * JSON datasource inference, then a single from_json projection). */
  private[graft] def expandDoc(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    val docSchema = spark.read.json(
      df.select("_doc").as[String]).schema
    if (docSchema.isEmpty) df.drop("_doc")
    else {
      val clean = StructType(docSchema.fields.filterNot(
        _.name == "_corrupt_record"))
      // Name collisions: the document wins ONLY for `_id` (the
      // converted document IS the record; the envelope `_id` is just
      // its routing copy). For the reserved CDC metadata columns the
      // envelope-derived values must win — the reference assigns
      // metadata AFTER document conversion (`event_handler.py`
      // _add_cdc_metadata), so a doc field named `_cdc_operation` or
      // `_ingestion_date` must not shadow ordering / soft-delete /
      // partition semantics. Colliding doc fields are kept, renamed
      // with a `doc_` prefix, so no payload data is lost.
      val reserved = df.columns.toSet - "_doc" - "_id"
      val outName: String => String =
        n => if (reserved(n)) s"doc_$n" else n
      val docNames = clean.fieldNames.map(outName).toSet
      df.withColumn("_parsed", from_json(col("_doc"), clean))
        .select((clean.fieldNames.map(n =>
          col(s"_parsed.`$n`").as(outName(n))) ++
          df.columns.filter(c => c != "_doc" && !docNames(c)).map(col))
          .toIndexedSeq: _*)
    }
  }

  /** Start the streaming ingest from a streaming DataFrame with a raw
    * `value` column (kafka or memory/file source in tests). */
  def start(source: DataFrame, cfg: Config): StreamingQuery =
    source.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(batch, cfg, Some(id))
      }
      .trigger(Trigger.ProcessingTime(cfg.triggerMillis))
      .option("checkpointLocation", cfg.checkpointDir)
      .start()
}
