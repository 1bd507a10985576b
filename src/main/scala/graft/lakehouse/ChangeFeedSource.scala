package graft.lakehouse

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** Structured Streaming V1 `Source` over a lakehouse table's change
  * feed — `spark.readStream.format("graft-changefeed").option("path",
  * root).load()` yields the Delta CDF-style stream (`_change` ∈
  * insert|delete) with the engine's own checkpointed exactly-once
  * offset tracking (reference scope: the iceberg sink's downstream
  * subscribers; `ChangeFeedReader` is the in-process poll form of the
  * same contract).
  *
  * Offset = snapshot id. The engine drives the two-phase cycle the
  * reader exposes manually: `getOffset` lists the manifest head (no
  * Spark job), `getBatch(start, end)` is a pure function of the
  * snapshot range — `changesBetween` for a committed start, the
  * initial snapshot as inserts for a cold start — so a batch REPLAYS
  * identically after a crash (files are immutable, the range is
  * pinned in the checkpoint); `commit` is the durably-consumed
  * signal. A batch costs the change volume, never the table size.
  *
  * `getBatch`'s plan must be flagged `isStreaming`; the DataFrame is
  * rebuilt from the batch plan's `toRdd` via the engine's
  * internal-streaming constructor (reflective — the one hop the
  * public API doesn't expose), which also severs the batch plan so
  * the micro-batch optimizer never re-touches manifest state.
  *
  * `.option("maxSnapshotsPerTrigger", N)` bounds each micro-batch to
  * N snapshots of backlog (admission control — the Delta
  * maxFilesPerTrigger analogue); unset, a batch takes everything up
  * to the head.
  *
  * `.option("maxFilesPerTrigger", M)` additionally bounds the
  * BOOTSTRAP: a cold start against a table whose initial snapshot is
  * the whole dataset (the bulk-load norm) would otherwise arrive as
  * ONE micro-batch no matter what the snapshot cap says — at 100 TB
  * that means no incremental checkpoint progress and a failure
  * anywhere replays everything. With M set, the bootstrap snapshot's
  * file list (immutable, manifest-ordered) drains as ⌈files/M⌉
  * checkpointed batches through mid-bootstrap offsets
  * (`{"s":snapshot,"f":filesDelivered}`), each a pure function of its
  * pinned range — a restart resumes at the recorded file index, never
  * from zero. Incremental batches stay snapshot-granular (they cost
  * change volume, not table size).
  *
  * `.option("maxBytesPerTrigger", B)` is the byte-denominated form
  * (the Delta analogue), answered ENTIRELY from manifest-recorded file
  * sizes — zero I/O: bootstrap slices stop growing at B bytes, and an
  * incremental batch takes the furthest snapshot range whose
  * cumulative added-file bytes fit. Both caps compose (whichever
  * binds first); each batch always makes at least one file / one
  * snapshot of progress so the stream can't stall.
  */
final class ChangeFeedSource(sqlContext: SQLContext, root: String,
    maxSnapshotsPerTrigger: Option[Long] = None,
    maxFilesPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    /** `.option("emitSchemaChanges", true)`: ship upstream DDL through
      * the feed as `_change = 'schema'` rows carrying a `_ddl` record
      * ([[LakehouseTable.schemaChangesBetween]]) — the Debezium
      * schema-history-topic shape. The lakehouse SINK applies them
      * idempotently before each data batch, so RENAME/WIDEN/ADD
      * replicate end-to-end with no manual downstream DDL. Off by
      * default (the plain feed's schema is unchanged).
      */
    emitSchemaChanges: Boolean = false,
    /** Stream-start pins, raw option strings (the readStream.table
      * triple, q144, on the changefeed face — with the CHANGEFEED's own
      * semantics): a FRESH checkpoint starts at the pinned snapshot and
      * delivers CHANGES after it — no head-state bootstrap — exactly
      * what `startingSnapshot` means on this provider's batch face, and
      * the "replica already holds release X, stream me everything
      * since" replication shape (the state-bootstrap form lives on
      * readStream.table's startingTag). Resolved LAZILY — a committed
      * offset always wins, so a tag dropped after the stream first
      * started can never wedge a restart.
      */
    startingVersionOpt: Option[String] = None,
    startingTimestampOpt: Option[String] = None,
    startingTagOpt: Option[String] = None)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  /** Admission control, shared with `readStream.table` ([[TriggerCaps]]). */
  private val caps = TriggerCaps(maxSnapshotsPerTrigger, maxFilesPerTrigger, maxBytesPerTrigger)

  private val table = new LakehouseTable(sqlContext.sparkSession, root)

  /** The pinned start snapshot (see the constructor doc). */
  @transient private lazy val startSnapshot: Option[Long] =
    LakehouseSource.streamStartSnapshot(table, startingVersionOpt,
      startingTimestampOpt, startingTagOpt)

  override val schema: StructType =
    ChangeFeedSource.feedSchema(table, withDdl = emitSchemaChanges)

  // Trigger.AvailableNow: pin the head at prepare time so the run
  // drains exactly the snapshots that existed when it started, then
  // stops — a mid-run append belongs to the NEXT invocation. Without
  // this the engine falls back to single-batch execution (the
  // wrapper is off by default), which happens to coincide here but
  // loses the pinned-endpoint contract.
  @volatile private var availableNowHead: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowHead = table.currentSnapshot().map(_.snapshotId)

  private def filesOf(s: Long): Seq[String] = table.snapshotOrThrow(s).files

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val head = availableNowHead.orElse(table.currentSnapshot().map(_.snapshotId))
      .getOrElse(return null)
    Option(start).map(o => ChangeFeedSource.parsePos(o.json)) match {
      case None if startSnapshot.isDefined =>
        // pinned cold start: behave as if the pin were the committed
        // offset — the first batch is changesBetween(pin, clamped end),
        // never a state bootstrap (the batch face's startingSnapshot
        // contract; the state-bootstrap pin is readStream.table's)
        val pin = startSnapshot.get
        LongOffset(math.max(caps.incrementalEnd(table, pin, head), pin))
      case None =>
        // cold start: with a snapshot cap, bootstrap from the earliest
        // retained snapshot and drain forward N at a time; otherwise
        // bootstrap the head state directly
        val bootEnd = caps.bootSnapshot(table, head)
        val cut = caps.sliceEnd(table, bootEnd, 0L)
        if (cut < filesOf(bootEnd).size) FileSliceOffset(bootEnd, cut)
        else LongOffset(bootEnd)
      case Some(Right((s, k))) =>
        // mid-bootstrap: advance the file cursor; the final slice lands
        // on the plain snapshot offset, ending the bootstrap phase (if
        // the caps were removed across a restart, the remainder is one
        // batch)
        val cut = caps.sliceEnd(table, s, k)
        if (cut < filesOf(s).size) FileSliceOffset(s, cut) else LongOffset(s)
      case Some(Left(s)) =>
        // the head never regresses below a committed offset
        LongOffset(math.max(caps.incrementalEnd(table, s, head), s))
    }
  }

  override def reportLatestOffset(): org.apache.spark.sql.connector.read.streaming.Offset =
    table.currentSnapshot().map(s => LongOffset(s.snapshotId)).orNull

  override def getOffset: Option[Offset] =
    table.currentSnapshot().map(s => LongOffset(s.snapshotId))

  /** Bootstrap file slice [from, until) of snapshot `s`, as inserts —
    * the manifest-ordered immutable file list makes every slice a pure
    * function of its offsets (tombstones, if any, mask per-row, so
    * slicing commutes with masking).
    */
  private def bootSlice(s: Long, from: Long, until: Long): DataFrame = {
    val snap = table.snapshotOrThrow(s)
    table.scanFiles(snap, snap.files.slice(from.toInt, until.toInt))
      .withColumn("_change", lit("insert"))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    import ChangeFeedSource.parsePos
    val (parts, ddlRange): (Seq[DataFrame], Option[(Long, Long)]) =
      (start.map(o => parsePos(o.json)), parsePos(end.json)) match {
        case (None, Right((s, k))) => (Seq(bootSlice(s, 0L, k)), None)
        case (None, Left(e)) if startSnapshot.isDefined =>
          // pinned cold start: the first batch is the changes AFTER the
          // pin (empty when the head hasn't moved past it yet)
          val pin = startSnapshot.get
          if (e > pin) (Seq(table.changesBetween(pin, e)), Some((pin, e)))
          else (Seq(table.read().filter(lit(false)).withColumn("_change", lit(""))), None)
        case (None, Left(e)) =>
          (Seq(table.scanAtSnapshot(e).withColumn("_change", lit("insert"))), None)
        case (Some(Right((s1, k1))), Right((s2, k2))) =>
          require(s1 == s2 && k1 < k2,
            s"non-monotone bootstrap range ($s1,$k1) -> ($s2,$k2)")
          (Seq(bootSlice(s1, k1, k2)), None)
        case (Some(Right((s, k))), Left(e)) =>
          // the bootstrap's final slice; a same-batch head advance
          // (e > s) appends the incremental diff — still a pure
          // function of range. The two sides may SPEAK DIFFERENT
          // SCHEMAS (a rename/drop between them), so each conforms
          // separately below before the union.
          val rest = bootSlice(s, k, filesOf(s).size.toLong)
          if (e > s) (Seq(rest, table.changesBetween(s, e)), Some((s, e)))
          else (Seq(rest), None)
        case (Some(Left(s)), Left(e)) if s >= e =>
          (Seq(table.read().filter(lit(false)).withColumn("_change", lit(""))), None)
        case (Some(Left(s)), Left(e)) => (Seq(table.changesBetween(s, e)), Some((s, e)))
        case (Some(Left(s)), Right((s2, _))) => throw new IllegalStateException(
          s"bootstrap offset ($s2) cannot follow a committed snapshot offset ($s)")
      }
    // conform to the declared stream schema (widen-only evolution may
    // have grown the table since the stream started; late columns
    // surface when the consumer restarts with a fresh checkpoint). A
    // column RENAMED since the stream pinned its schema maps back to
    // the pinned name through the alias lineage — metadata-only, the
    // sink's write path resolves former names forward again — and a
    // WIDENED column casts back to the pinned width (under ANSI an
    // overflowing post-widen value fails loudly; a restart re-pins
    // the wide schema and resumes from the checkpointed snapshot).
    // Each side of a union conforms SEPARATELY (a mid-bootstrap final
    // slice speaks its snapshot's names while the same-batch diff
    // speaks current names — a raw union of the two would throw).
    def lk(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val aliasOf: Map[String, String] = table.currentSnapshot()
      .map(_.aliases.flatMap { case (curName, olds) =>
        olds.map(a => lk(a.name) -> curName) })
      .getOrElse(Map.empty)
    def conform(df0: DataFrame): DataFrame = {
      val filled = schema.fields.foldLeft(df0) { (d, f) =>
        val have = d.columns.map(lk).toSet
        if (have(lk(f.name))) d
        else aliasOf.get(lk(f.name)).filter(c => have(lk(c))) match {
          case Some(c) => d.withColumnRenamed(c, f.name)
          case None => d.withColumn(f.name, lit(null).cast(f.dataType))
        }
      }
      // the loud-failure contract for a post-widen value that cannot
      // round-trip to the pinned width is ANSI's overflow error; with
      // ANSI off (non-default on Spark 4, but a session conf) the cast
      // would silently WRAP the value into the replication feed — guard
      // integral narrowing casts explicitly with a round-trip check
      // (exactly the pairs ANSI itself throws on; float→double never
      // narrows back here because widening is the only evolution)
      val ansi = sqlContext.sparkSession.sessionState.conf.ansiEnabled
      val integral: Set[DataType] = Set(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType)
      filled.select(schema.fields.map { f =>
        val srcType = filled.schema.fields
          .find(x => lk(x.name) == lk(f.name)).map(_.dataType).getOrElse(f.dataType)
        val casted = col(f.name).cast(f.dataType)
        val guarded =
          if (ansi || srcType == f.dataType ||
              !integral(srcType) || !integral(f.dataType)) casted
          else when(col(f.name).isNotNull && casted.cast(srcType) =!= col(f.name),
            raise_error(concat(
              lit(s"change-feed: value of widened column '${f.name}' overflows " +
                s"the stream's pinned ${f.dataType.simpleString} — restart the " +
                "stream (the checkpoint resumes here and re-pins the evolved " +
                "schema); value: "),
              col(f.name).cast(org.apache.spark.sql.types.StringType))))
            .otherwise(casted)
        guarded.as(f.name)
      }.toIndexedSeq: _*)
    }
    val conformed = parts.map(conform).reduce(_.unionByName(_))
    // the schema-history side channel: DDL records for the range, as
    // `_change = 'schema'` rows (all data columns NULL); the sink
    // applies them before the batch's data rows
    val withDdl =
      if (!emitSchemaChanges) conformed
      else {
        val ddl = ddlRange.map { case (s, e) => table.schemaChangesBetween(s, e) }
          .getOrElse(Nil)
        // an ADD mid-stream is the one shape the pinned schema cannot
        // carry: the new column's VALUES have no slot, so delivering
        // the batch would silently null them downstream forever (the
        // checkpoint advances past them). Fail LOUDLY instead — the
        // offset is uncommitted, a restart re-pins the wide schema and
        // redelivers this exact range with the column. (If the column
        // was dropped again by head, restart can't fix it and the
        // values are moot — deliver without it.)
        val pinned = schema.fieldNames.map(lk).toSet
        val headSchema = table.currentSnapshot().map(s =>
          DataType.fromJson(s.schemaJson).asInstanceOf[StructType]
            .fieldNames.map(lk).toSet).getOrElse(Set.empty)
        ddl.map(DdlRecord.parse).filter(_.op == "add")
          .flatMap(_.column).foreach { c =>
          // "still alive at head" must look THROUGH the alias lineage:
          // an add-then-rename within one range would otherwise slip
          // past the guard (headSchema holds the new name) and lose
          // the column's values silently
          val aliveAtHead = headSchema(lk(c)) || aliasOf.contains(lk(c))
          if (!pinned(lk(c)) && aliveAtHead)
            throw new IllegalStateException(
              s"upstream added column '$c' mid-stream: the stream's pinned " +
                "schema cannot carry its values — restart the stream (the " +
                "checkpoint resumes here and re-pins the evolved schema)")
        }
        if (ddl.isEmpty) conformed
        else {
          val rows: java.util.List[org.apache.spark.sql.Row] =
            new java.util.ArrayList[org.apache.spark.sql.Row]()
          ddl.foreach { j =>
            rows.add(org.apache.spark.sql.Row.fromSeq(schema.fields.toSeq.map {
              case f if f.name == "_change" => "schema"
              case f if f.name == "_ddl" => j
              case _ => null
            }))
          }
          conformed.unionByName(
            sqlContext.sparkSession.createDataFrame(rows, schema))
        }
      }
    ChangeFeedSource.asStreaming(withDdl)
  }

  /** The engine checkpoint has durably recorded everything ≤ `end` —
    * nothing to persist here (offsets are snapshot ids, reproducible
    * from the manifest), which is exactly why replay is safe.
    */
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** Mid-bootstrap position: snapshot `snap`'s first `files` manifest
  * files have been delivered. Ends at the plain snapshot offset.
  */
private[lakehouse] final case class FileSliceOffset(snap: Long, files: Long)
    extends Offset {
  override val json: String = s"""{"s":$snap,"f":$files}"""
}

object ChangeFeedSource {
  private val slicePattern = """\{"s":(\d+),"f":(\d+)\}""".r

  /** Offset positions: `Left(snapshotId)` for the committed-snapshot
    * form (plain long json, the only form pre-chunked-bootstrap
    * checkpoints contain), `Right((snapshot, filesDelivered))` for a
    * mid-bootstrap cursor. Restart hands back checkpointed json as
    * `SerializedOffset`; live cycles hand the typed offsets — parsing
    * the json covers both.
    */
  private[lakehouse] def parsePos(json: String): Either[Long, (Long, Long)] =
    json.trim match {
      case slicePattern(s, f) => Right((s.toLong, f.toLong))
      case t => Left(t.toLong)
    }

  /** Table schema + the `_change` tag, fixed at stream start; with the
    * schema-history channel on, also the nullable `_ddl` record column
    * — and every DATA column declared nullable, because the channel's
    * `_change='schema'` rows carry NULL there (a non-nullable
    * declaration would let consumer codegen read garbage primitives).
    */
  private[lakehouse] def feedSchema(
      table: LakehouseTable, withDdl: Boolean = false): StructType = {
    val snap = table.currentSnapshot().getOrElse(throw new IllegalStateException(
      "change-feed stream requires a table with at least one snapshot"))
    val base0 = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    // the feed RESERVES its marker columns: a user column under either
    // name would duplicate the stream schema (or misroute user rows
    // into the sink's schema-application path) — fail at stream start
    val reserved = if (withDdl) Seq("_change", "_ddl") else Seq("_change")
    reserved.foreach { r =>
      require(!base0.fieldNames.exists(_.equalsIgnoreCase(r)),
        s"change-feed: the source table already declares a column named " +
          s"'$r', which the feed reserves" +
          (if (r == "_ddl") " when emitSchemaChanges is on" else "") +
          " — rename the column before streaming")
    }
    val base = if (withDdl) base0.fields.map(_.copy(nullable = true)) else base0.fields
    val fixed = base :+ StructField("_change", StringType, nullable = false)
    StructType(if (withDdl) fixed :+ StructField("_ddl", StringType) else fixed)
  }

  /** Rebuild `df` as an isStreaming DataFrame: evaluate its plan to an
    * InternalRow RDD and wrap it through the session's internal
    * streaming constructor (private[sql], hence the single reflective
    * call — the same path every V1 file/socket source takes).
    *
    * Why this source stays V1 rather than a DSv2 `MicroBatchStream`:
    * a change batch is a DataFrame-level computation (`changesBetween`
    * is a multiset diff — a shuffle), while DSv2 `planInputPartitions`
    * must hand Spark fixed partition readers, which would force either
    * a driver-side collect of the batch or a staging double-write.
    * Delta Lake's own streaming source makes the same call and remains
    * a V1 `Source` for the same reason. The reflective hop is pinned
    * by [[reflectionHealthy]], asserted at spec setup, so a Spark
    * upgrade that removes the method fails loudly, not silently.
    */
  private[graft] def reflectionHealthy(spark: org.apache.spark.sql.SparkSession): Boolean = {
    spark.getClass.getMethod("internalCreateDataFrame",
      classOf[org.apache.spark.rdd.RDD[_]], classOf[StructType], java.lang.Boolean.TYPE)
    true
  }

  private def asStreaming(df: DataFrame): DataFrame = {
    val ss = df.sparkSession
    val m = ss.getClass.getMethod("internalCreateDataFrame",
      classOf[org.apache.spark.rdd.RDD[_]], classOf[StructType], java.lang.Boolean.TYPE)
    m.invoke(ss, df.queryExecution.toRdd, df.schema, java.lang.Boolean.TRUE)
      .asInstanceOf[DataFrame]
  }
}

/** `format("graft-changefeed")` registration (service-loaded via
  * DataSourceRegister; the fully-qualified class name works too).
  *
  * Also the BATCH change-data-feed face (the Delta `table_changes`
  * analogue):
  *
  * {{{
  *   spark.read.format("graft-changefeed").load(root)            // head state as inserts
  *     .option("startingSnapshot", 2)                            // changes AFTER snapshot 2
  *     .option("endingSnapshot", 5)                              // ... up to snapshot 5
  * }}}
  *
  * Semantics match the streaming source batch-for-batch: with a
  * starting snapshot, rows are `changesBetween(start, end)` (an
  * upsert shows delete(old)+insert(new), compaction cancels to
  * nothing); without one, the ending state arrives as pure inserts
  * (the bootstrap shape). Cost is the change volume, never the table
  * size.
  */
final class ChangeFeedSourceProvider extends StreamSourceProvider with DataSourceRegister
    with org.apache.spark.sql.sources.RelationProvider {

  override def shortName(): String = "graft-changefeed"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .orElse(parameters.collectFirst {
        // changefeed-by-name: resolve through the session's catalogs
        case (k, v) if k.equalsIgnoreCase("table") =>
          LakehouseSource.resolveTableName(v) })
      .getOrElse(throw new IllegalArgumentException(
        "graft-changefeed requires .option(\"path\", <table root>) " +
          "or .option(\"table\", \"<catalog>.<ns>.<name>\")"))

  private def longOpt(parameters: Map[String, String], name: String): Option[Long] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v.toLong }

  private def boolOpt(parameters: Map[String, String], name: String): Boolean =
    LakehouseSource.boolOpt(parameters, name)

  private def strOpt(parameters: Map[String, String], name: String): Option[String] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }

  /** The batch face's starting pin: `startingSnapshot` (id), or —
    * round-14 symmetry with the stream pins — `startingTag` /
    * `startingTimestamp`, each resolved to the snapshot it names so
    * `changesBetween(pin, end)` reads "everything since that release".
    */
  private def startingIdOf(t: LakehouseTable,
      parameters: Map[String, String]): Option[Long] = {
    val sid = longOpt(parameters, "startingSnapshot")
    val tag = strOpt(parameters, "startingTag")
    val ts = strOpt(parameters, "startingTimestamp")
    require(Seq(sid, tag, ts).count(_.isDefined) <= 1,
      "startingSnapshot / startingTag / startingTimestamp are mutually exclusive")
    sid.orElse(tag.map(g => t.snapshotForTag(g).snapshotId))
      .orElse(ts.map(x => t.snapshotAsOf(LakehouseSource.parseTsMillis(x)).snapshotId))
  }

  /** The batch face's ending pin: `endingSnapshot` (id), `endingTag`,
    * or `endingTimestamp` — so "the changes between release tags"
    * (`startingTag` → `endingTag`) is expressible without snapshot-id
    * bookkeeping.
    */
  private def endingIdOf(t: LakehouseTable,
      parameters: Map[String, String]): Option[Long] = {
    val sid = longOpt(parameters, "endingSnapshot")
    val tag = strOpt(parameters, "endingTag")
    val ts = strOpt(parameters, "endingTimestamp")
    require(Seq(sid, tag, ts).count(_.isDefined) <= 1,
      "endingSnapshot / endingTag / endingTimestamp are mutually exclusive")
    sid.orElse(tag.map(g => t.snapshotForTag(g).snapshotId))
      .orElse(ts.map(x => t.snapshotAsOf(LakehouseSource.parseTsMillis(x)).snapshotId))
  }

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): org.apache.spark.sql.sources.BaseRelation = {
    val t = new LakehouseTable(sqlContext.sparkSession, rootOf(parameters))
    val endId = endingIdOf(t, parameters)
      .orElse(t.currentSnapshot().map(_.snapshotId))
      .getOrElse(throw new IllegalStateException(
        s"change-feed read requires a table with at least one snapshot"))
    val changes = startingIdOf(t, parameters) match {
      case Some(s) if s >= endId =>
        t.scanAtSnapshot(endId).filter(lit(false)).withColumn("_change", lit(""))
      case Some(s) => t.changesBetween(s, endId)
      case None => t.scanAtSnapshot(endId).withColumn("_change", lit("insert"))
    }
    val ctx = sqlContext
    new org.apache.spark.sql.sources.BaseRelation
        with org.apache.spark.sql.sources.TableScan {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = changes.schema
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        changes.rdd
    }
  }

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), ChangeFeedSource.feedSchema(
      new LakehouseTable(sqlContext.sparkSession, rootOf(parameters)),
      withDdl = boolOpt(parameters, "emitSchemaChanges")))

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new ChangeFeedSource(sqlContext, rootOf(parameters),
      maxSnapshotsPerTrigger = longOpt(parameters, "maxSnapshotsPerTrigger"),
      maxFilesPerTrigger = longOpt(parameters, "maxFilesPerTrigger"),
      maxBytesPerTrigger = longOpt(parameters, "maxBytesPerTrigger"),
      emitSchemaChanges = boolOpt(parameters, "emitSchemaChanges"),
      startingVersionOpt = strOpt(parameters, "startingVersion"),
      startingTimestampOpt = strOpt(parameters, "startingTimestamp"),
      startingTagOpt = strOpt(parameters, "startingTag"))
}
