package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.lakehouse.LakehouseTable

/** CDC change-event envelope for the file-based stream (stand-in for
  * the Kafka transport — no kafka connector jar ships in this env;
  * SURVEY.md §2.1 S1). Shape mirrors the Debezium-style record the
  * reference moves end-to-end (`tests/benchmark/helpers.py:103-154`):
  * op (c/u/d), ts_ms, before/after as JSON text (schema-dynamic, like
  * the reference's dict payloads), plus transport coordinates.
  */
object ChangeEnvelope {
  val schema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("op", StringType, nullable = false), // c | u | d
    StructField("ts_ms", LongType, nullable = true),
    StructField("key", StringType, nullable = true), // JSON text
    StructField("before", StringType, nullable = true), // JSON text
    StructField("after", StringType, nullable = true) // JSON text
  ))

  /** Open the change stream (micro-batch admission = maxFilesPerTrigger,
    * the backpressure analogue of the reference's bounded queues, §2.9 T1).
    */
  def readStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)
      // DLQ topics are never consumed (`sources/factory.py:25,40,58`)
      .filter(!col("topic").endsWith(".dlq"))
}

/** Sink protocol — Spark-native form of the reference `SinkConnector`
  * (`sinks/base.py:12-50`): a sink durably writes a micro-batch and the
  * pipeline records flushed offsets per (topic, partition) afterwards.
  */
trait Sink {
  def sinkId: String
  /** Durably write one micro-batch; throw to route the batch to the DLQ. */
  def write(batch: DataFrame, batchId: Long): Unit
}

/** Lakehouse sink: value columns ∪ `_cdc_topic/_cdc_partition/_cdc_offset`
  * metadata (`sinks/iceberg.py:124-129`); append or key-upsert mode.
  * Deletes (null `after`) are tombstones: in upsert mode they remove the
  * key from the table in the SAME snapshot that lands the batch's
  * upserts (one [[LakehouseTable.applyChanges]] commit, copy-on-write
  * over only the files holding touched keys); in append mode they
  * append with null payload (tombstone pass-through, §2.2 P4).
  *
  * `payloadSchema = None` → schema is INFERRED from the first non-empty
  * micro-batch's `after` JSON and frozen for the table's lifetime —
  * the reference's iceberg auto-create-from-first-batch behavior
  * (`sinks/iceberg.py:160-167`, §1.3).
  */
final class LakehouseSink private (
    val sinkId: String,
    table: LakehouseTable,
    schemaOrInfer: Option[StructType],
    upsertKeys: Seq[String]) extends Sink {

  def this(sinkId: String, table: LakehouseTable, payloadSchema: StructType,
      upsertKeys: Seq[String] = Nil) =
    this(sinkId, table, Some(payloadSchema), upsertKeys)

  /** Auto-create mode: infer the payload schema from the first batch. */
  def this(sinkId: String, table: LakehouseTable, upsertKeys: Seq[String]) =
    this(sinkId, table, None, upsertKeys)

  private var inferred: Option[StructType] = None

  private def resolveSchema(batch: DataFrame): Option[StructType] =
    schemaOrInfer.orElse(inferred).orElse {
      import batch.sparkSession.implicits._
      val sample = batch.select(col("after")).filter(col("after").isNotNull)
        .as[String]
      if (sample.isEmpty) None
      else {
        val s = batch.sparkSession.read.json(sample).schema
        inferred = Some(s)
        inferred
      }
    }

  override def write(batch: DataFrame, batchId: Long): Unit = {
    val payloadSchema = resolveSchema(batch).getOrElse(return)
    val parsed = batch.withColumn("_payload", from_json(col("after"), payloadSchema))
    val rows = parsed
      .select((payloadSchema.fieldNames.toIndexedSeq.map(f => col(s"_payload.$f").as(f)) ++ Seq(
        col("topic").as("_cdc_topic"),
        col("partition").cast(LongType).as("_cdc_partition"),
        col("offset").as("_cdc_offset"),
        col("op").as("_cdc_op"),
        col("key").as("_cdc_key"))): _*)
    if (upsertKeys.nonEmpty) {
      // CDC apply: a batch may carry several events for one key — only
      // the LATEST (by offset; per-partition order is the stream order,
      // §2.6) takes effect. The key identity comes from the event key,
      // not the payload, so tombstones (null payload) group correctly.
      import org.apache.spark.sql.expressions.Window
      val keySchema = StructType(upsertKeys.map(k => payloadSchema(k)))
      val keyed = rows.withColumn("_key", from_json(col("_cdc_key"), keySchema))
      val latest = keyed
        .withColumn("_rn", row_number().over(
          Window.partitionBy(upsertKeys.map(k => col(s"_key.$k")): _*)
            .orderBy(col("_cdc_offset").desc)))
        .filter(col("_rn") === 1).drop("_rn")
      // ONE applyChanges commit: d events land as deletes, the rest as
      // inserts (replace in place), so no reader ever sees a batch's
      // upserts without its deletes. Key columns come from the event
      // key — a delete's payload is null. No txn mark: batch ids restart
      // with every fresh checkpoint, so a (sinkId, batchId) mark would
      // absorb a later pipeline's batches; a redelivered batch simply
      // re-applies the same latest-wins state.
      val changes = latest.select(
        (latest.columns.filterNot(c => c == "_key" || c == "_cdc_key").toIndexedSeq.map(c =>
          if (upsertKeys.contains(c)) coalesce(col(s"_key.$c"), col(c)).as(c) else col(c)) :+
          when(col("_cdc_op") === "d", lit("delete")).otherwise(lit("insert"))
            .as("_change")): _*)
      table.applyChanges(changes, upsertKeys)
    } else table.append(rows.drop("_cdc_key"))
    // (no isEmpty pre-check in append mode: the pipeline only calls
    // write() for non-empty batches, and the check was an extra Spark
    // job per batch per sink on the hot path)
  }
}

/** Dead-letter side-output with the reference's 8 diagnostic headers as
  * columns (`streaming/dlq.py:25-93`, `pipeline/runner.py:231-248`),
  * honoring the `DLQConfig` knobs (`config/models.py:207-214`):
  *  - `enabled=false` → `route` is a no-op (`dlq.py:37-38`);
  *  - `topicSuffix` names the destination topic per source topic
  *    (`dlq_topic` column, `streaming/topics.py:26`);
  *  - `includeHeaders=false` → only key/value/coords travel, no
  *    diagnostic columns (`dlq.py:43-55`);
  *  - `flushIntervalSeconds <= 0` → every routed batch is durably
  *    appended immediately (the reference's per-message
  *    `producer.flush`, `dlq.py:68-71`); `> 0` → routed rows buffer
  *    driver-side (the producer-queue analogue; DLQ is exception
  *    traffic, bounded by [[DlqWriter.MaxPendingRows]]) and a daemon
  *    timer appends them every interval — delivery never waits for
  *    the NEXT failure the way a route()-only elapsed check would
  *    (librdkafka likewise delivers queued messages from its own
  *    background thread). [[close]] stops the timer and drains
  *    (pipeline shutdown, `dlq.py:92-94`).
  */
final class DlqWriter(
    table: LakehouseTable,
    enabled: Boolean = true,
    topicSuffix: String = "dlq",
    includeHeaders: Boolean = true,
    flushIntervalSeconds: Double = 0.0) {

  private val pending = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
  private var pendingSchema: Option[StructType] = None
  private var pendingSpark: Option[SparkSession] = None
  private var lastFlushMs: Long = System.currentTimeMillis()

  // interval mode: buffered rows must reach the table even when no
  // further batch ever fails — without this thread they'd sit in
  // driver memory until shutdown (and be lost on a crash AFTER the
  // streaming checkpoint already advanced past their batch)
  private val ticker: Option[java.util.concurrent.ScheduledExecutorService] =
    if (enabled && flushIntervalSeconds > 0) {
      val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
        val t = new Thread(r, "dlq-flush-timer"); t.setDaemon(true); t
      }
      val periodMs = math.max(1L, (flushIntervalSeconds * 1000).toLong)
      ex.scheduleWithFixedDelay(
        () => try flush() catch {
          // keep the timer alive across ANY throwable — an escaping
          // Error would make scheduleWithFixedDelay silently cancel all
          // future ticks, reintroducing the sit-until-shutdown bug this
          // thread exists to prevent; rows stay buffered and the next
          // tick retries
          case t: Throwable =>
            Console.err.println(s"[dlq] interval flush failed, will retry: $t")
        },
        periodMs, periodMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      Some(ex)
    } else None

  def route(batch: DataFrame, sinkId: String, error: Throwable): Unit = {
    if (!enabled) return
    val stack = error.getStackTrace.take(5).mkString("\n")
    val diagnostic: Seq[org.apache.spark.sql.Column] = if (includeHeaders) Seq(
      lit(Option(error.getMessage).getOrElse("")).as("dlq_error_message"),
      lit(error.getClass.getName).as("dlq_error_type"),
      lit(stack).as("dlq_error_stacktrace"),
      lit(System.currentTimeMillis()).as("dlq_timestamp"),
      lit(sinkId).as("dlq_sink_id")) else Nil
    val dlqRows = batch.select((Seq(
      concat(col("topic"), lit(s".$topicSuffix")).as("dlq_topic"),
      col("topic").as("dlq_source_topic"),
      col("partition").as("dlq_source_partition"),
      col("offset").as("dlq_source_offset")) ++ diagnostic ++ Seq(
      col("key"), col("before"), col("after"), col("op"))): _*)
    if (flushIntervalSeconds <= 0) {
      table.append(dlqRows)
    } else {
      // the MaxPendingRows bound must apply BEFORE the batch lands in
      // driver memory, not only across batches: one bounded collect
      // both probes the size (at most Max+1 rows ever reach the
      // driver) and yields the rows for the common small-batch case —
      // no separate count job re-executing the batch lineage
      val rows = dlqRows.limit(DlqWriter.MaxPendingRows + 1).collect()
      if (rows.length > DlqWriter.MaxPendingRows) {
        // oversized: drain first so earlier buffered rows don't land
        // after this batch's rows (best-effort ordering, same as the
        // reference's queue-then-flush), then write the full batch
        // executor-side, never through the driver buffer
        flush()
        table.append(dlqRows)
      } else {
        // micro-batch frames are only valid inside the current
        // foreachBatch call — buffer materialized rows, not the frame.
        // Collect outside the lock (it's a Spark job); mutate under the
        // same monitor flush() takes — flush() is public shutdown/tick
        // API and may run from a different thread than the batch loop.
        synchronized {
          pending ++= rows
          pendingSchema = Some(dlqRows.schema)
          pendingSpark = Some(batch.sparkSession)
          if (pending.size >= DlqWriter.MaxPendingRows ||
              System.currentTimeMillis() - lastFlushMs >= (flushIntervalSeconds * 1000).toLong)
            flush()
        }
      }
    }
  }

  /** Durably append any buffered rows (shutdown path / interval tick). */
  def flush(): Unit = synchronized {
    if (pending.nonEmpty) {
      import scala.jdk.CollectionConverters._
      for (s <- pendingSpark; sch <- pendingSchema)
        table.append(s.createDataFrame(pending.toList.asJava, sch))
      pending.clear()
    }
    lastFlushMs = System.currentTimeMillis()
  }

  /** Shutdown: stop the interval timer, then drain the buffer. */
  def close(): Unit = {
    ticker.foreach(_.shutdownNow())
    flush()
  }
}

object DlqWriter {
  /** Buffer bound: a burst beyond this flushes early regardless of the
    * interval, so a failing sink can't grow driver memory unbounded.
    */
  val MaxPendingRows = 10000
}

/** The pipeline: one streaming query fanning each micro-batch out to N
  * sinks, with per-sink failure isolation → DLQ (a failed sink never
  * blocks the others, `pipeline/runner.py:210-250`) and the
  * min-watermark ledger gating transport commits (§2.4 A2).
  *
  * Spark's checkpoint gives at-least-once micro-batch replay; sinks
  * absorb duplicates via key-upserts / `_cdc_offset` dedup — together:
  * exactly-once effect (`README.md:411-419` contract, re-expressed).
  */
final class ChangePipeline(
    spark: SparkSession,
    sourceDir: String,
    sinks: Seq[Sink],
    dlq: DlqWriter,
    checkpointDir: String,
    onCommit: Map[(String, Int), Long] => Unit = _ => (),
    includeTopics: Seq[String] = Nil,
    maxFilesPerTrigger: Int = 10,
    dlqMaxRetries: Int = 0) {

  val ledger = new CommitLedger(sinks.map(_.sinkId))

  /** Shutdown path: stop the DLQ interval timer and durably append any
    * buffered rows (the reference flushes the DLQ producer on pipeline
    * stop, `pipeline/runner.py:332`).
    */
  def flushDlq(): Unit = dlq.close()

  /** Live consumer-lag snapshot per (topic, partition) — the
    * `consumer_lag` block of the reference's pipeline health
    * (`pipeline/runner.py:408-415`).
    */
  def consumerLag(): Seq[ConsumerLag.PartitionLag] =
    ConsumerLag.compute(spark, sourceDir, ledger.committedSoFar, includeTopics)

  def start(trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream0 = ChangeEnvelope.readStream(spark, sourceDir, maxFilesPerTrigger)
    // configured capture include-list (§2.2 P2): only the topics the
    // config declares are consumed; everything else is dropped at the
    // source (the reference validates + filters the same way,
    // `config/models.py:89-106` + `sources/factory.py`)
    val stream =
      if (includeTopics.isEmpty) stream0
      else stream0.filter(col("topic").isin(includeTopics: _*))
    stream
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId)
      }
      .start()
  }

  /** One micro-batch: fan-out → record flushes → min-watermark commit.
    *
    * The batch is cached only when MORE than one consumer re-scans it
    * (N sinks + the offset agg): with a single sink, a cache write +
    * two cached reads costs more than just scanning the source twice,
    * and the cache was ~20% of e2e wall time in the single-sink bench.
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val b = if (sinks.size > 1) batch.cache() else batch
    try {
      val maxOffsets = b.groupBy(col("topic"), col("partition"))
        .agg(max(col("offset")).as("max_offset"))
        .collect()
        .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2)))
      if (maxOffsets.isEmpty) return

      sinks.foreach { sink =>
        // a batch gets 1 + dlqMaxRetries write attempts before routing
        // to the DLQ (`DLQConfig.max_retries`, config/models.py:212);
        // sinks stay responsible for their own finer-grained retry
        // (e.g. the webhook per-request backoff)
        var attempt = 0
        var done = false
        while (!done) {
          try {
            sink.write(b, batchId)
            maxOffsets.foreach { case (tp, off) => ledger.recordFlush(sink.sinkId, tp, off) }
            done = true
          } catch {
            case e: Exception =>
              attempt += 1
              if (attempt > dlqMaxRetries) {
                dlq.route(b, sink.sinkId, e)
                done = true
                // flushed offsets deliberately NOT advanced on failure
                // (`test_iceberg_sink.py:373-395` semantics)
              }
          }
        }
      }
      val commits = ledger.commitableNextToFetch()
      if (commits.nonEmpty) onCommit(commits)
    } finally if (sinks.size > 1) b.unpersist()
  }
}
