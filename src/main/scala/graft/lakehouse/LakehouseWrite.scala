package graft.lakehouse

import scala.collection.mutable

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, UnsafeProjection, XxHash64Function}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** One task's contribution to a DSv2 lakehouse write: the root-relative
  * parquet files it produced (written EXECUTOR-SIDE, straight into the
  * table's claimed data dir) plus any schema-channel DDL records its
  * rows carried (`_change = 'schema'` rows — a handful per batch, never
  * data volume). KEYED writes additionally ship two executor-written
  * KEY file sets: `tombFiles` (the distinct key tuples of every touched
  * row — the MoR tombstone / CoW probe side) and `delFiles` (the
  * delete-tagged keys alone — commit transport for the rare DDL-epoch
  * driver fallback, never referenced by a manifest).
  * `stats` holds each closed file's [[FileStats]], converted from the
  * footer the writer just wrote, so the commit opens no footer for it.
  * `replaced` names the table files a keyed rewrite task replaced with
  * the rows it wrote (a replaced file may leave no row behind).
  */
final case class LakehouseWriteMessage(files: Seq[String], ddl: Seq[String],
    tombFiles: Seq[String] = Nil, delFiles: Seq[String] = Nil,
    stats: Map[String, FileStats] = Map.empty, replaced: Seq[String] = Nil)
    extends WriterCommitMessage

/** What one write's tasks produced, merged and sorted: data files, and
  * for a keyed write its tomb and del key files, or for a keyed rewrite
  * the table files it replaced ([[LakehouseWriteMessage]]). `all` is
  * what the write itself put on disk.
  */
private[lakehouse] final case class WrittenFiles(data: Seq[String],
    tombs: Seq[String] = Nil, dels: Seq[String] = Nil, replaced: Seq[String] = Nil) {
  def all: Seq[String] = data ++ tombs ++ dels
}

private[lakehouse] object WrittenFiles {
  def of(messages: Array[WriterCommitMessage]): WrittenFiles = {
    val ms = messages.toSeq.collect { case m: LakehouseWriteMessage => m }
    WrittenFiles(ms.flatMap(_.files).sorted, ms.flatMap(_.tombFiles).sorted,
      ms.flatMap(_.delFiles).sorted, ms.flatMap(_.replaced).sorted)
  }
}

/** One query column's canonical landing spot in the table: input
  * ordinal, canonical (declared-case / alias-resolved) name, the
  * query-side type and the declared type it casts UP to (lossless
  * widening only), and the head-confirmed field id to stamp
  * (`parquet.field.id`) — the same rules [[LakehouseTable]]'s
  * DataFrame-level canonicalization applies, expressed as a plan the
  * executors can run without a DataFrame.
  */
final case class WriteColPlan(inputIdx: Int, name: String,
    from: DataType, to: DataType, fieldId: Option[Int])

object WriteColPlan {
  /** A batch written VERBATIM (no declared-type casts, no alias
    * canonicalization), stamping the field ids `head` already assigned,
    * by name (the Iceberg REPLACE TABLE identity rule): a full
    * overwrite's plan, and every table-API write's.
    */
  def verbatim(head: Option[Snapshot], schema: StructType): Seq[WriteColPlan] = {
    def key(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val ids = head.flatMap(_.fieldIds).map(_.ids.map { case (n, i) => key(n) -> i })
      .getOrElse(Map.empty)
    schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      WriteColPlan(i, f.name, f.dataType, f.dataType, ids.get(key(f.name)))
    }
  }
}

/** A partition-spec entry resolved against the column plan: identity
  * (`col=value` dir, column stripped from the file) or bucket
  * (`col_bucket=<pmod(xxhash64(col),n)>` dir, source column kept).
  */
final case class WritePartCol(planIdx: Int, bucketN: Option[Int])

/** How a DSv2 write's executor-written files land in the table. */
sealed trait Dsv2CommitMode
object Dsv2CommitMode {
  /** Plain append: files add, rebase past racing commits. */
  case object Append extends Dsv2CommitMode
  /** Full INSERT OVERWRITE: files REPLACE the table content. */
  case object Truncate extends Dsv2CommitMode
  /** INSERT OVERWRITE ... PARTITION / filter overwrite: matching rows
    * out (pruned candidates rewrite), files in — one snapshot.
    */
  final case class OverwriteBy(filters: Seq[org.apache.spark.sql.sources.Filter])
      extends Dsv2CommitMode
  /** Keyed upsert (writeTo .option("keys", ...)) or keyed stream epoch:
    * the writers split the batch into data, tomb and del files, which
    * land through [[LakehouseTable.commitKeyed]].
    */
  final case class Keyed(keys: Seq[String], mergeOnRead: Boolean)
      extends Dsv2CommitMode
  /** A table-API data write (`LakehouseTable.writeDataFiles`): the
    * batch lands verbatim under claim dir `s<id>[-suffix]-w<nonce>`,
    * ids stamped and bins sized from `head`. Nothing publishes: the
    * files come back through `written`. With `keys` the writers split
    * the batch as a keyed write's do (`cdc`: the `_change` column tags
    * each row insert|delete), and the table API's upsert/applyChanges
    * commit the three file sets through [[LakehouseTable.commitKeyed]].
    * `nullFilled` names the layout columns the caller added as NULL
    * because its batch lacked them: the tomb files skip their dirs.
    */
  final case class Stage(table: LakehouseTable, id: Long, suffix: String,
      partitionCols: Seq[String], head: Option[Snapshot],
      keys: Seq[String] = Nil, cdc: Boolean = false,
      nullFilled: Seq[String] = Nil) extends Dsv2CommitMode {
    @volatile private[lakehouse] var written: WrittenFiles = WrittenFiles(Nil)
    override def toString: String = s"Stage(${table.root}, $id, $suffix)"
  }
}

/** The DSv2 WRITE FACE: executor-side parquet writers + a
  * metadata-only driver commit — the ONE data-file writer, table-API
  * writes included ([[Dsv2CommitMode.Stage]]).
  *
  *  - BATCH (`INSERT INTO` a catalog table, `df.writeTo(...).append()`):
  *    [[createBatchWriterFactory]] claims a data dir against the head,
  *    each task writes its partitions' rows DIRECTLY as parquet (Spark's
  *    own `ParquetWriteSupport`, field-id stamps included; sorted by
  *    identity partition value, [[requiredOrdering]]), and
  *    [[commit(Array*]] publishes ONE snapshot referencing the
  *    executor-written files, with the same cross-process rebase loop
  *    as every other append. N partitions = N writers in parallel, one
  *    commit; the driver never touches row data.
  *  - STREAMING (`writeStream.format("graft-lakehouse")`, keyless):
  *    the same writers per epoch; [[commit(Long*]] is OFFSET-AWARE —
  *    the epoch id lands as the snapshot's `(txnAppId, epochId)`
  *    transaction mark, so a crash-replayed epoch is absorbed (its
  *    files discarded) — the table's txn-ledger contract.
  *    The schema-history channel (`_change='schema'` rows carrying
  *    `_ddl` records) rides the COMMIT MESSAGES: writers divert the
  *    handful of DDL rows instead of caching the whole batch for a
  *    second driver pass (the round-11 trade this face retires), the
  *    driver applies them idempotently before the data commit, and a
  *    DDL-carrying epoch's data lands through the driver-side append
  *    (re-canonicalized against the POST-DDL schema — see the commit
  *    doc), so era resolution stays exact whichever side of a rename
  *    the batch's names speak.
  *
  * KEYED writes — every face: a keyed stream epoch, a keyed
  * `writeTo`/`INSERT`, and the table API's upsert/applyChanges through
  * a keyed [[Dsv2CommitMode.Stage]] — ride the same executor writers
  * with a per-task SPLIT: data rows to the data files, every touched
  * row's deduped key tuple to a `-tomb` key file, delete-tagged keys to
  * a `-del` file. The batch is written once, and the one keyed commit
  * ([[LakehouseTable.commitKeyed]]) is then pure metadata for
  * merge-on-read (data files add, the tomb files ARE the tombstone) and
  * a probe + touched-file rewrite for copy-on-write. The `_change` tag
  * check, the tombstone layout, the key ranges and strictly-older
  * masking each have one definition. Only a DDL-CARRYING keyed epoch
  * reconstructs the batch driver-side — the same bounded trade as the
  * keyless face. Snapshot-less roots ride this face from the first
  * epoch (the write seeds the table from the query schema).
  */
private[lakehouse] final class LakehouseDsv2Write(
    root: String, writeOpts: Map[String, String], querySchema: StructType,
    mode: Dsv2CommitMode = Dsv2CommitMode.Append)
    extends Write with BatchWrite with StreamingWrite
    with RequiresDistributionAndOrdering {

  override def description(): String = s"graft-lakehouse $mode $root"
  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite = {
    require(mode == Dsv2CommitMode.Append ||
      mode.isInstanceOf[Dsv2CommitMode.Keyed],
      s"graft-lakehouse streaming writes are append- or keyed-shaped, got $mode")
    this
  }

  // both parents default it true; Scala requires the diamond resolved
  // explicitly — and true is what we want (exactly one commit message
  // per partition, speculative duplicates aborted)
  override def useCommitCoordinator(): Boolean = true

  private def spark = SparkSession.active

  private def table() = mode match {
    case s: Dsv2CommitMode.Stage => s.table
    case _ => new LakehouseTable(spark, root,
      optimizeWrite = LakehouseSource.boolOpt(writeOpts, "optimizeWrite"),
      optimizeWriteTargetBytes =
        LakehouseSource.longOptOf(writeOpts, "optimizeWriteTargetBytes"))
  }

  private val partSpec: Seq[String] = mode match {
    case s: Dsv2CommitMode.Stage => s.partitionCols
    case _ => LakehouseSource.colListOf(writeOpts, "partitionBy")
  }

  // a nested merge-on-read key fails here, at planning — before any
  // executor writes a staged file
  mode match {
    case Dsv2CommitMode.Keyed(keys, true) => LakehouseMor.requireMaskableKeys(querySchema, keys)
    case _ => ()
  }

  /** Schema-channel detection, from the QUERY schema (both marker
    * columns present — same rule as the V1 sink). Effective ONLY on the
    * streaming face: a BATCH write carrying `_ddl`+`_change` columns
    * (e.g. materializing a raw changefeed) writes them as ordinary data
    * — the batch commit has no DDL channel, so diverting rows there
    * would silently drop them (ADVICE r14).
    */
  private val schemaChannel =
    querySchema.fieldNames.exists(_.equalsIgnoreCase("_ddl")) &&
      querySchema.fieldNames.exists(_.equalsIgnoreCase("_change"))

  /** optimize-write as a DSv2 required distribution: cluster the write
    * by its partition columns (bucket entries cluster by their SOURCE
    * column) so each partition value lands from one task — the
    * declarative form of the table API's repartition.
    */
  override def requiredDistribution(): Distribution =
    if (LakehouseSource.boolOpt(writeOpts, "optimizeWrite") && partSpec.nonEmpty)
      Distributions.clustered(partSpec.map {
        case LakehouseTable.BucketSpecRe(_, c) => Expressions.identity(c)
        case c => Expressions.identity(c)
      }.toArray)
    else Distributions.unspecified()

  override def requiredOrdering(): Array[SortOrder] = mode match {
    // a bucket id has no catalog-free sort key here: a staged batch
    // arrives sorted by every dir instead ([[LakehouseTable
    // .writeDataFiles]]), and Spark would drop that sort under its own
    case _: Dsv2CommitMode.Stage => Array.empty
    case _ => LakehouseDsv2Write.layoutOrdering(partSpec)
  }

  /** (claimed snapshot id, the batch's canonical logical schema, claim
    * dir) of the factory most recently created — commit and abort
    * consume it. Streaming creates one factory per epoch and the engine
    * serializes epochs, so the slot is never contended.
    */
  @volatile private var staged: (Long, StructType, String) = _

  private[lakehouse] def makeFactory(streaming: Boolean): LakehouseWriterFactory = {
    val ddlMode = schemaChannel && streaming
    val keyedStream = streaming && mode.isInstanceOf[Dsv2CommitMode.Keyed]
    // the keyed faces' key columns, and whether `_change` is their op
    // channel: a keyed stream whose query carries it, or a staged
    // applyChanges — on every upsert face it stays data
    val (keys, cdc) = mode match {
      case Dsv2CommitMode.Keyed(ks, _) =>
        (ks, keyedStream && querySchema.fieldNames.exists(_.equalsIgnoreCase("_change")))
      case s: Dsv2CommitMode.Stage => (s.keys, s.cdc)
      case _ => (Nil, false)
    }
    val t = table()
    // round 16: the DSv2 face serves EVERY stream epoch, the FIRST
    // included — a snapshot-less root seeds an empty table from the
    // query schema before the epoch plans (channel columns stripped
    // exactly as the writers strip them from files: keyed drops
    // `_change`/`_ddl`, the keyless schema channel drops `_ddl` and
    // keeps `_change` declared — the round-14 bootstrap rule). This
    // retires the V1 sink's auto-create: one write path, one set of
    // semantics, for batch 1 and every batch after.
    if (streaming && t.currentSnapshot().isEmpty) {
      val keyed = mode.isInstanceOf[Dsv2CommitMode.Keyed]
      val seed = StructType(querySchema.fields.toSeq
        .filterNot(f => f.name.equalsIgnoreCase("_ddl") && (ddlMode || keyed))
        .filterNot(f => f.name.equalsIgnoreCase("_change") && keyed)
        .map(_.copy(nullable = true)))
      require(seed.nonEmpty, "cannot auto-create a table with no data columns")
      t.createEmpty(seed)
      ()
    }
    // declare the op column at KEYLESS stream BOOTSTRAP so its
    // declaration never depends on which commit path the first epochs
    // take: executor-file epochs pin the target schema (additions
    // invisible) while a DDL-carrying epoch's driver-side append
    // evolves additively — without this, `_change` became readable
    // only after the first unrelated DDL epoch (round-14 what's-wrong
    // #2). KEYED streams never declare it: the apply drops the op
    // column before writing (the V1 applyChanges contract).
    if (ddlMode && !keyedStream) t.currentSnapshot().foreach { s =>
      val declared = DataType.fromJson(s.schemaJson).asInstanceOf[StructType]
      if (!declared.fieldNames.exists(_.equalsIgnoreCase("_change")))
        t.addColumns(Seq(StructField("_change", StringType, nullable = true)))
    }
    val head = mode match {
      case s: Dsv2CommitMode.Stage => s.head
      case _ => t.currentSnapshot()
    }
    val plan = mode match {
      // a full overwrite REPLACES content and schema, and a staged
      // table-API batch arrives canonicalized: both write verbatim
      case Dsv2CommitMode.Truncate | _: Dsv2CommitMode.Stage =>
        WriteColPlan.verbatim(head, querySchema)
      case _ =>
        t.writeColumnPlan(head, querySchema,
          // DDL-mode files skip id stamps: a drop-then-re-add DDL in
          // the SAME epoch would leave this batch's files stamped with
          // the retired id — name-resolution handles them; stale
          // stamps would poison a future stamped-id read
          stampIds = !ddlMode)
    }
    val batchSchema = StructType(plan.map(p =>
      StructField(p.name, p.to, nullable = true)))
    mode match {
      // replace: any schema is legal; staged: the caller checked it
      case Dsv2CommitMode.Truncate | _: Dsv2CommitMode.Stage => ()
      case Dsv2CommitMode.OverwriteBy(_) =>
        // a row-set overwrite keeps the snapshot schema, so the batch
        // must CONFORM exactly (the V1 requireDeclaredTypes rule; the
        // SQL analyzer always casts, this guards programmatic writeTo)
        head.foreach { cur =>
          val declared = DataType.fromJson(cur.schemaJson)
            .asInstanceOf[StructType].fields.map(f =>
              f.name.toLowerCase(java.util.Locale.ROOT) -> f.dataType).toMap
          plan.foreach { p =>
            declared.get(p.name.toLowerCase(java.util.Locale.ROOT)).foreach { dt =>
              require(dt == p.to, s"overwrite batch column '${p.name}' is " +
                s"${p.to.simpleString} but the table declares ${dt.simpleString}" +
                " — cast the batch (partial overwrites never evolve the schema)")
            }
          }
        }
      case _ =>
        t.requireCompatibleSchemaFor(head, batchSchema) // fail at job start, not commit
    }
    val (claimed, dirName) = mode match {
      case s: Dsv2CommitMode.Stage => (s.id, LakehouseTable.claimDirName(s.id, s.suffix))
      case _ => t.claimWriteDir("dsv2")
    }
    staged = (claimed, batchSchema, dirName)
    // keyed: the writers split — data rows to data files, key tuples to
    // a -tomb key file, delete keys to -del — so the keyed commit is
    // pure metadata (MoR) or probe+rewrite (CoW) over executor-written
    // halves. The `_change` slot index routes delete tags even without
    // the full schema channel; a keyed stream never writes `_ddl`. The
    // one check that every key column is present, for every keyed face.
    val keyIdxs: Seq[Int] = keys.map { k =>
      val i = plan.indexWhere(_.name.equalsIgnoreCase(k))
      require(i >= 0, s"keys column '$k' not in the write schema " +
        querySchema.simpleString)
      i
    }
    val nullFilled: Set[Int] = mode match {
      case s: Dsv2CommitMode.Stage =>
        s.nullFilled.map(c => plan.indexWhere(_.name.equalsIgnoreCase(c))).toSet
      case _ => Set.empty
    }
    def keyOf(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val byKey = plan.zipWithIndex.map { case (p, i) => keyOf(p.name) -> i }.toMap
    val partCols = partSpec.map {
      case LakehouseTable.BucketSpecRe(n, c) =>
        WritePartCol(byKey.getOrElse(keyOf(c), throw new IllegalArgumentException(
          s"bucket source column '$c' not in the write schema")), Some(n.toInt))
      case c =>
        WritePartCol(byKey.getOrElse(keyOf(c), throw new IllegalArgumentException(
          s"partition column '$c' not in the write schema")), None)
    }
    val conf = spark.sessionState.conf
    val parquetConf = Map(
      SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key ->
        conf.getConf(SQLConf.PARQUET_WRITE_LEGACY_FORMAT).toString,
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key ->
        conf.getConf(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE).toString,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key -> "true",
      // the write-side schema converter asserts this one too
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key ->
        conf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString,
      SQLConf.SESSION_LOCAL_TIMEZONE.key -> conf.sessionLocalTimeZone)
    def idxOf(n: String): Int =
      querySchema.fieldNames.indexWhere(_.equalsIgnoreCase(n))
    new LakehouseWriterFactory(t.rootAbsPath, dirName, plan, partCols,
      conf.sessionLocalTimeZone, parquetConf,
      conf.getConfString("spark.sql.parquet.compression.codec", "snappy"),
      ddlMode, if (ddlMode || cdc) idxOf("_change") else -1,
      if (ddlMode || keyedStream) idxOf("_ddl") else -1,
      // size-targeted optimize-write: roll files at ≈targetBytes
      maxRecordsPerFile = t.writeRecordCap(head),
      keyIdxs = keyIdxs, nullFilled = nullFilled,
      // a staged batch arrives sorted by every dir, bucket ids included
      // ([[LakehouseTable.writeDataFiles]])
      sortedByDir = mode.isInstanceOf[Dsv2CommitMode.Stage],
      caseSensitive = conf.caseSensitiveAnalysis)
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    makeFactory(streaming = false)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    makeFactory(streaming = true)

  private def ddlOf(messages: Array[WriterCommitMessage]): Seq[String] =
    messages.toSeq.collect { case m: LakehouseWriteMessage => m.ddl }
      .flatten.distinct.sortBy(DdlRecord.seqOf)

  /** Hand the writers' file stats to the table before it commits. */
  private def recordStats(t: LakehouseTable, messages: Array[WriterCommitMessage]): Unit =
    t.recordWrittenStats(messages.toSeq.collect {
      case m: LakehouseWriteMessage => m.stats }.flatten.toMap)

  /** BATCH commit: one snapshot over the executor-written files,
    * through the table's commit for the mode's shape — append (rebase
    * loop inside: a racing writer costs a metadata retry, the files are
    * written once), full overwrite, filter overwrite (the overwriteWhere
    * statement with the files as its insert side), or keyed (the
    * stream epoch's commit without a txn mark). An all-empty append
    * still commits, so `INSERT INTO t SELECT ... WHERE false` records a
    * version.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val (claimed, batchSchema, _) = staged
    val written = WrittenFiles.of(messages)
    val files = written.data
    val t = table()
    recordStats(t, messages)
    mode match {
      case s: Dsv2CommitMode.Stage => s.written = written
      case Dsv2CommitMode.Append =>
        t.commitWrittenFiles(files, batchSchema, claimed,
          mark = None, targetAuthoritative = false)
      case Dsv2CommitMode.Truncate =>
        val (head, id) = t.MainLine.resolve()
        t.commitOverwriteFiles(head, id, files, batchSchema)
      case Dsv2CommitMode.OverwriteBy(filters) =>
        t.overwriteMatching(filters, inserts = None, written = files)
      case Dsv2CommitMode.Keyed(keys, mor) =>
        t.commitKeyed(t.MainLine, claimed, written, batchSchema, keys,
          mergeOnRead = mor, cdc = false, mark = None)
    }
    ()
  }

  /** Drop every file the write staged, and its claim dirs with what a
    * failed task left there (checksums of the files it deleted). Key
    * files are written only in a task's commit, so the messages name
    * every one that exists.
    */
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val t = table()
    t.discardWrittenFiles(WrittenFiles.of(messages).all)
    Option(staged).foreach { case (_, _, dir) => t.discardWrittenFiles(Seq(s"data/$dir/")) }
  }

  /** The batch reconstructed from staged parquet halves (driver
    * fallback for DDL-carrying epochs): basePath restores identity-
    * partition columns, explicit casts pin path-inferred types to the
    * staged schema. Empty file sets read as an empty frame.
    */
  private def readStaged(t: LakehouseTable, fs: Seq[String],
      schema: StructType): org.apache.spark.sql.DataFrame =
    if (fs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      val dir = fs.head.split('/').take(2).mkString("/")
      val types = schema.fields.map(f =>
        f.name.toLowerCase(java.util.Locale.ROOT) -> f).toMap
      // explicit read schema from ONE footer (driver-side, no Spark job)
      // + the hive path columns typed from the staged schema — the
      // uninferred read paid a mergeSchemasInParallel job over the
      // staged files on EVERY DDL-carrying epoch (guide §1.2/§6).
      // Identity-partition types come straight from the staged schema
      // (castPartValueToDesiredType), which is exactly where the old
      // infer-then-cast projection pinned them. Unreadable footer →
      // the original inference.
      val readSchema = t.footerSchemaOf(fs.head).map { fileSch =>
        val inFile = fileSch.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        val partFields = LakehouseTable.hiveSegsOf(fs.head)
          .map(_.split("=", 2)(0))
          .filterNot(k => inFile(k.toLowerCase(java.util.Locale.ROOT)))
          .map(k => types.get(k.toLowerCase(java.util.Locale.ROOT))
            .getOrElse(org.apache.spark.sql.types.StructField(k,
              org.apache.spark.sql.types.StringType)))
        StructType(fileSch.fields ++ partFields)
      }
      val rd0 = spark.read
        .option("basePath", java.nio.file.Paths.get(t.rootAbsPath, dir).toString)
      val df0 = readSchema.fold(rd0)(rd0.schema)
        .parquet(fs.map(f =>
          java.nio.file.Paths.get(t.rootAbsPath, f).toString): _*)
      df0.select(df0.columns.map { c =>
        types.get(c.toLowerCase(java.util.Locale.ROOT)) match {
          case Some(f) => org.apache.spark.sql.functions.col(c)
            .cast(f.dataType).as(f.name)
          case None => org.apache.spark.sql.functions.col(c)
        }
      }.toSeq: _*)
    }

  /** The target-authoritative column rule (the V1 sink's): a batch
    * column the target's head doesn't declare — and no alias explains —
    * was dropped by the history; additive re-entry would diverge the
    * replica. `_change` always survives (op channel); a snapshot-less
    * target keeps every column.
    */
  private def targetKeeps(t: LakehouseTable): String => Boolean =
    t.currentSnapshot() match {
      case Some(s) =>
        def lc(n: String) = n.toLowerCase(java.util.Locale.ROOT)
        val declared = DataType.fromJson(s.schemaJson).asInstanceOf[StructType]
          .fieldNames.map(lc).toSet
        val aliases = s.aliases.flatMap { case (_, olds) => olds.map(o => lc(o.name)) }.toSet
        c => c == "_change" || declared(lc(c)) || aliases(lc(c))
      case None => _ => true
    }

  private def conformToTarget(t: LakehouseTable,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.drop(df.columns.filterNot(targetKeeps(t)).toSeq: _*)

  /** Does any schema-channel record rename/drop/retype/add a column
    * name the staged files carry? When NOT (the common rename-
    * elsewhere case), the executor-written halves are already
    * post-DDL-correct and commit directly; a touching record sends the
    * epoch to the driver-side re-canonicalization. Conservative for
    * set_spec / future ops.
    */
  private def ddlTouches(ddl: Seq[String], batchSchema: StructType): Boolean = {
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val batchNames = batchSchema.fieldNames.map(lc).toSet
    ddl.map(DdlRecord.parse).exists { r =>
      r.op match {
        case "rename" => (r.from.toSeq ++ r.to.toSeq).exists(n => batchNames(lc(n)))
        case "drop" | "widen" | "add" => r.column.exists(n => batchNames(lc(n)))
        case _ => true
      }
    }
  }

  /** KEYED streaming epoch: the staged executor halves — data files,
    * deduped `-tomb` key files, `-del` delete keys — commit through
    * [[LakehouseTable.commitKeyed]] under the epoch's txn mark: MoR is
    * a pure metadata commit (data files add, tomb files become THE
    * tombstone), CoW probes with the tomb keys and rewrites only
    * touched files. A DDL-carrying epoch falls back to the driver-side
    * apply (the batch reconstructed from the staged halves,
    * re-canonicalized post-DDL) — rare, bounded by schema-change
    * frequency, the same trade as the keyless face.
    */
  private def commitKeyedEpoch(t: LakehouseTable, keys: Seq[String],
      mor: Boolean, claimed: Long, batchSchema: StructType,
      ddl: Seq[String], written: WrittenFiles, appId: String,
      epochId: Long): Option[Snapshot] = {
    val WrittenFiles(files, tombs, dels, _) = written
    val dataSchema0 = StructType(batchSchema.filterNot(f =>
      f.name.equalsIgnoreCase("_change") || f.name.equalsIgnoreCase("_ddl")))
    // under the SCHEMA CHANNEL the target is authoritative on DDL-free
    // epochs too: a batch column the target doesn't declare (and no
    // alias explains) was dropped by the history — the pinned upstream
    // keeps sending it as NULL, and even after a downstream compaction
    // cleared the dropped registry it must NOT re-enter additively and
    // diverge the replica (the V1 sink conformed every batch this way)
    val dataSchema =
      if (!schemaChannel) dataSchema0
      else {
        val keep = targetKeeps(t)
        StructType(dataSchema0.filter(f => keep(f.name)))
      }
    val cdcShape = querySchema.fieldNames.exists(_.equalsIgnoreCase("_change"))
    // ORTHOGONAL DDL epochs (no record touches a column the staged
    // halves carry) apply the records and commit the executor files
    // directly — the same one-write shortcut as the keyless face; the
    // pre-DDL dataSchema stays valid because orthogonal records can't
    // change a batch column's name, type, or conformance verdict
    if (ddl.isEmpty || !ddlTouches(ddl, batchSchema)) {
      ddl.foreach(t.applySchemaChange)
      t.commitKeyed(t.MainLine, claimed, written, dataSchema, keys,
        mergeOnRead = mor, cdc = cdcShape, mark = Some(TxnMark(appId, epochId)))
    } else {
      ddl.foreach(t.applySchemaChange)
      val keyFields = StructType(keys.map(k =>
        dataSchema.fields.find(_.name.equalsIgnoreCase(k)).getOrElse(
          throw new IllegalArgumentException(
            s"keys column '$k' not in the staged schema ${dataSchema.simpleString}"))))
      import org.apache.spark.sql.functions.lit
      val ch0 = readStaged(t, files, dataSchema)
        .withColumn("_change", lit("insert"))
        .unionByName(
          readStaged(t, dels, keyFields).withColumn("_change", lit("delete")),
          allowMissingColumns = true)
      val r = t.applyChanges(conformToTarget(t, ch0), keys,
        txn = Some((appId, epochId)), mergeOnRead = mor)
      t.discardWrittenFiles(written.all)
      r
    }
  }

  /** STREAMING commit — the offset-aware half: the data files commit
    * UNDER the epoch's transaction mark, an absorbed replay (crash
    * between the table commit and the checkpoint commit) discards its
    * files and warns on the reset-checkpoint shape — exactly the V1
    * sink's contract.
    *
    * A DDL-CARRYING epoch (the schema-channel records rode the commit
    * messages — one pass, no whole-batch cache) applies the records
    * first, idempotently, then lands its data through the DRIVER-side
    * append: the staged files re-read, re-canonicalized against the
    * POST-DDL schema (a rename record plus data still under the
    * stream's pinned OLD name must land in the renamed column — the
    * alias mapping only exists after the DDL applies, so the
    * executor-written files' names can be stale in either direction),
    * and written once more. DDL epochs are rare (schema changes, not
    * data volume), so the double-write is bounded by change frequency;
    * every DDL-free epoch commits the executor files directly.
    */
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val t = table()
    val (claimed, batchSchema, _) = staged
    val appId = writeOpts.collectFirst {
      case (k, v) if k.equalsIgnoreCase("txnAppId") => v
    }.getOrElse("graft-lakehouse-sink:" +
      java.nio.file.Paths.get(root).toAbsolutePath.normalize.toString)
    val ddl = ddlOf(messages)
    val written = WrittenFiles.of(messages)
    val files = written.data
    recordStats(t, messages)
    mode match {
      case Dsv2CommitMode.Keyed(keys, mor) =>
        // an absorbed epoch's files are already discarded
        if (commitKeyedEpoch(t, keys, mor, claimed, batchSchema, ddl, written,
            appId, epochId).isEmpty)
          warnOnResetCheckpoint(t, appId, epochId)
        return
      case _ => ()
    }
    val applied =
      if (ddl.isEmpty)
        t.commitWrittenFiles(files, batchSchema, claimed,
          mark = Some(TxnMark(appId, epochId)), targetAuthoritative = schemaChannel)
      else {
        ddl.foreach(t.applySchemaChange)
        // ORTHOGONALITY ([[ddlTouches]]): a non-touching epoch commits
        // its executor files directly and skips the driver re-write
        if (files.isEmpty || !ddlTouches(ddl, batchSchema))
          t.commitWrittenFiles(files, batchSchema, claimed,
            mark = Some(TxnMark(appId, epochId)), targetAuthoritative = true)
        else {
          // readStaged pins path-inferred identity-partition types
          // back to the staged batch schema (a digit-only string
          // partition value re-infers numeric, and appendIdempotent's
          // compatibility check would then wedge the epoch on every
          // retry); conformToTarget applies the V1 sink's target-
          // authoritative column drop over the post-DDL head
          val conformed = conformToTarget(t, readStaged(t, files, batchSchema))
          val res = t.appendIdempotent(conformed, appId, epochId,
            partitionBy = partSpec)
          t.discardWrittenFiles(files)
          res
        }
      }
    if (applied.isEmpty) {
      t.discardWrittenFiles(files)
      warnOnResetCheckpoint(t, appId, epochId)
    }
  }

  private def warnOnResetCheckpoint(t: LakehouseTable, appId: String,
      epochId: Long): Unit =
    t.lastTxnVersion(appId).filter(_ > epochId + 1).foreach { last =>
      System.err.println(
        s"[graft-lakehouse sink] WARNING: batch $epochId absorbed but ledger for " +
          s"'$appId' is at version $last — this looks like a RESET CHECKPOINT " +
          s"over a live ledger; data in skipped batches does NOT reach $root. " +
          "Restore the original checkpointLocation or use a fresh txnAppId.")
    }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    abort(messages)
}

private[lakehouse] object LakehouseDsv2Write {
  /** A write's layout order, ascending on each IDENTITY spec entry:
    * Spark sorts each SQL/`writeTo` and stream task by it, so
    * [[LakehouseDataWriter]] meets each value's rows together.
    */
  def layoutOrdering(partSpec: Seq[String]): Array[SortOrder] =
    partSpec.filterNot(LakehouseTable.BucketSpecRe.matches).map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
}

/** A table-API write as a DSv2 table: [[LakehouseTable.writeDataFiles]]
  * plans an `AppendData` over it (by position, no cast: the schema is
  * the batch's), so the batch runs the executor writers in the `stage`
  * mode under Spark's commit coordinator, like any V2 write.
  */
private[lakehouse] final class LakehouseStagingTable(
    batchSchema: StructType, stage: Dsv2CommitMode.Stage)
    extends Table with SupportsWrite {
  override def name(): String = s"graft_lakehouse_stage:${stage.table.root}@${stage.id}"
  override def schema(): StructType = batchSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new LakehouseDsv2Write(stage.table.root, Map.empty, info.schema(), stage)
    }
}

/** Serializable task-side writer factory: everything a task needs to
  * write canonical parquet into the claimed dir with zero driver
  * round-trips.
  */
private[lakehouse] final class LakehouseWriterFactory(
    rootAbs: String, dirName: String,
    plan: Seq[WriteColPlan], partCols: Seq[WritePartCol],
    tz: String, parquetConf: Map[String, String], codec: String,
    ddlMode: Boolean, changeIdx: Int, ddlIdx: Int,
    maxRecordsPerFile: Option[Long] = None,
    keyIdxs: Seq[Int] = Nil,
    nullFilled: Set[Int] = Set.empty,
    sortedByDir: Boolean = false,
    caseSensitive: Boolean = false)
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): LakehouseDataWriter = {
    LakehouseWriteStats.writersCreated.incrementAndGet()
    new LakehouseDataWriter(rootAbs, dirName, plan, partCols, tz,
      parquetConf, codec, ddlMode, changeIdx, ddlIdx, partitionId, taskId,
      maxRecordsPerFile, keyIdxs, nullFilled, sortedByDir, caseSensitive)
  }

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = createWriter(partitionId, taskId)
}

/** Spec seam: counts executor-side writer instantiations (local-mode
  * tests share the JVM, so a static counter observes task-side work).
  */
object LakehouseWriteStats {
  val writersCreated = new java.util.concurrent.atomic.AtomicLong
  /** The most data files any one writer has held open at once. */
  val peakOpenFiles = new java.util.concurrent.atomic.AtomicLong
}

/** The per-task writer: routes each row to its hive partition dir
  * (identity values rendered exactly as Spark's own file writer —
  * session-timezone string cast + path escaping, NULL to the default
  * partition name; bucket dirs via THE layout hash), projects the
  * canonical file columns (case-canonical names, widening casts,
  * field-id stamps), and streams them through Spark's
  * `ParquetWriteSupport`. A file opens on its first row, so an empty
  * task writes none. Rows arrive grouped by identity value
  * ([[LakehouseDsv2Write.layoutOrdering]]), so only the current
  * value's files are open, one per bucket dir under it; the value
  * changing closes them. A staged batch (`sortedByDir`) also arrives
  * grouped by bucket id, so it keeps ONE file open: any dir change
  * closes it. Each closed file's stats ride the commit message.
  * DDL-channel rows divert into the commit message.
  */
private[lakehouse] final class LakehouseDataWriter(
    rootAbs: String, dirName: String,
    plan: Seq[WriteColPlan], partCols: Seq[WritePartCol],
    tz: String, parquetConf: Map[String, String], codec: String,
    ddlMode: Boolean, changeIdx: Int, ddlIdx: Int,
    partitionId: Int, taskId: Long,
    maxRecordsPerFile: Option[Long] = None,
    keyIdxs: Seq[Int] = Nil,
    nullFilled: Set[Int] = Set.empty,
    sortedByDir: Boolean = false,
    caseSensitive: Boolean = false)
    extends DataWriter[InternalRow] {

  /** Keyed split mode (every keyed face): data rows land in the data
    * files, every touched row's key tuple lands (deduped per task) in
    * a `-tomb` key file, and with a CDC `_change` column delete-tagged
    * rows land ONLY their keys (`-del` file too) — the executor-side
    * halves of [[LakehouseTable.commitKeyed]].
    */
  private val keyed = keyIdxs.nonEmpty
  private val cdc = keyed && changeIdx >= 0

  private val identityPlanIdx: Set[Int] =
    partCols.collect { case WritePartCol(i, None) => i }.toSet

  // the spec positions whose dirs stay together in the input: the
  // identity entries, or every entry of a staged (fully sorted) batch
  private val groupedEntries: Seq[Int] =
    partCols.indices.filter(j => sortedByDir || partCols(j).bucketN.isEmpty)

  /** Channel marker columns never enter KEYED data files: `_change`
    * when it is the op channel, `_ddl` on a keyed stream (its factory
    * passes the slot). The keyed commit's schema drops them too; on an
    * upsert face `_change` is data.
    */
  private def isChannelCol(p: WriteColPlan): Boolean =
    (cdc && p.name.equalsIgnoreCase("_change")) ||
      (keyed && ddlIdx >= 0 && p.name.equalsIgnoreCase("_ddl"))

  /** File columns = the plan minus identity partition columns (their
    * values live in the path, the hive layout).
    */
  private val fileCols: Seq[WriteColPlan] =
    plan.zipWithIndex.collect {
      case (p, i) if !identityPlanIdx(i) && !isChannelCol(p) => p
    }
  require(fileCols.nonEmpty,
    "cannot write files with every column consumed by the partition spec")

  private val keySchema: StructType = StructType(keyIdxs.map { i =>
    StructField(plan(i).name, plan(i).to, nullable = true)
  })

  private lazy val keyProj: UnsafeProjection = UnsafeProjection.create(
    keyIdxs.map { i =>
      val p = plan(i)
      val br: Expression = BoundReference(p.inputIdx, p.from, nullable = true)
      if (p.from == p.to) br else Cast(br, p.to, Option(tz))
    })

  // per-task key dedup (insertion-ordered for deterministic files):
  // batch-sized key tuples, tomb keys per tomb partition dir
  private val tombKeys =
    mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[InternalRow]]
  private val delKeys = mutable.LinkedHashSet.empty[InternalRow]

  /** The `-tomb` key files' hive layout: the partition entries whose
    * source column is neither a key nor one the caller filled NULL
    * (`nullFilled`: the batch named no value for it).
    */
  private val tombPartIdx: Seq[Int] = partCols.indices.filterNot { j =>
    keyIdxs.contains(partCols(j).planIdx) || nullFilled(partCols(j).planIdx)
  }

  private val fileSchema: StructType = StructType(fileCols.map { p =>
    val md = p.fieldId.fold(org.apache.spark.sql.types.Metadata.empty) { id =>
      new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", id.toLong).build()
    }
    StructField(p.name, p.to, nullable = true, metadata = md)
  })

  private lazy val proj: UnsafeProjection = UnsafeProjection.create(
    fileCols.map { p =>
      val br: Expression = BoundReference(p.inputIdx, p.from, nullable = true)
      if (p.from == p.to) br else Cast(br, p.to, Option(tz))
    })

  /** Per-partition-column string renderers (identity) / bucket ids. */
  private lazy val partRender: Seq[InternalRow => String] = partCols.map {
    case WritePartCol(i, Some(n)) =>
      val p = plan(i)
      val dir = s"${p.name}_bucket"
      // CAST-then-hash, [[LakehouseTable.bucketId]]: the input row holds the
      // QUERY type, so reading it with the widened declared type would
      // zero-extend negative ints (UnsafeRow) or throw (generic rows)
      // and land rows in the wrong bucket dir (ADVICE r14)
      val widen = UnsafeProjection.create(Seq[Expression]({
        val br = BoundReference(p.inputIdx, p.from, nullable = true)
        if (p.from == p.to) br else Cast(br, p.to, Option(tz))
      }))
      row => {
        // xxhash64(NULL) leaves the seed untouched — the exact
        // pmod(xxhash64(col), n) of the SQL bucket function
        val w = widen(row)
        val h = if (w.isNullAt(0)) 42L
          else XxHash64Function.hash(w.get(0, p.to), p.to, 42L)
        ExternalCatalogUtils.getPartitionPathString(dir, (((h % n) + n) % n).toString)
      }
    case WritePartCol(i, None) =>
      val p = plan(i)
      val toStr = UnsafeProjection.create(Seq[Expression](
        Cast(BoundReference(p.inputIdx, p.from, nullable = true), StringType, Option(tz))))
      row => {
        val s = toStr(row)
        ExternalCatalogUtils.getPartitionPathString(p.name,
          if (s.isNullAt(0)) null else s.getUTF8String(0).toString)
      }
  }

  private val ddl = mutable.ArrayBuffer.empty[String]
  private val replacedFiles = mutable.ArrayBuffer.empty[String]
  private val nonce = java.util.UUID.randomUUID().toString.take(8)
  private var fileSeq = 0
  // files already shut: their value ended, or they hit the record cap
  private val closed = mutable.ArrayBuffer.empty[String]
  private val stats = mutable.HashMap.empty[String, FileStats]
  // an open data file: root-relative path, record writer, rows written
  private final class OpenFile(val rel: String,
      val w: org.apache.hadoop.mapreduce.RecordWriter[Void, InternalRow]) {
    var rows = 0L
  }
  // the current identity value's files, by dir suffix
  private val open = mutable.HashMap.empty[String, OpenFile]
  private var currentValue: Seq[String] = Nil

  private def closeOpen(): Unit = {
    open.values.foreach { f => finish(f.rel, f.w); closed += f.rel }
    open.clear()
  }

  /** Close a parquet file and keep its stats, from the footer it wrote. */
  private def finish(rel: String,
      w: org.apache.hadoop.mapreduce.RecordWriter[Void, InternalRow]): Unit = {
    w.close(null)
    try {
      val footer = LakehouseDataWriter.footerOf(w)
      stats(rel) = LakehouseTable.footerStats(LakehouseTable.footerAsRead(footer),
        Some(java.nio.file.Files.size(java.nio.file.Paths.get(rootAbs, rel))),
        n => if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT))
    } catch {
      // no stats is no evidence: the commit reads this file's footer
      case scala.util.control.NonFatal(_) => ()
    }
  }

  private def openWriter(suffix: String): OpenFile = {
    val rel = "data/" + dirName +
      (if (suffix.isEmpty) "" else "/" + suffix) +
      f"/part-$partitionId%05d-$taskId-$nonce-$fileSeq.parquet"
    fileSeq += 1
    new OpenFile(rel, openParquet(rel, fileSchema))
  }

  private def openParquet(rel: String, schema: StructType)
      : org.apache.hadoop.mapreduce.RecordWriter[Void, InternalRow] = {
    val conf = new org.apache.hadoop.conf.Configuration(LakehouseDataWriter.hadoopDefaults)
    parquetConf.foreach { case (k, v) => conf.set(k, v) }
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set(ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[ParquetWriteSupport].getName)
    val codecName =
      try CompressionCodecName.valueOf(codec.toUpperCase(java.util.Locale.ROOT))
      catch { case _: IllegalArgumentException => CompressionCodecName.SNAPPY }
    new ParquetOutputFormat[InternalRow]().getRecordWriter(
      conf, new HPath(rootAbs + "/" + rel), codecName)
  }

  /** Flush a deduped key set to ONE parquet key file under partition
    * dir `dir` of a SIBLING claim dir (`<dirName>-<kind>` — same
    * path-derived origin id as the data files, so MoR masking stays
    * strictly-older). None for an empty set.
    */
  private def writeKeyFile(kind: String, dir: String,
      rows: Iterable[InternalRow]): Option[String] = {
    if (rows.isEmpty) None
    else {
      val rel = s"data/$dirName-$kind" + (if (dir.isEmpty) "" else "/" + dir) +
        f"/part-$partitionId%05d-$taskId-$nonce-k.parquet"
      val rw = openParquet(rel, keySchema)
      rows.foreach(rw.write(null, _))
      finish(rel, rw)
      Some(rel)
    }
  }

  override def write(row: InternalRow): Unit = {
    if (ddlMode && !row.isNullAt(changeIdx) &&
        row.getUTF8String(changeIdx).toString == "schema") {
      if (!row.isNullAt(ddlIdx)) ddl += row.getUTF8String(ddlIdx).toString
      return
    }
    // the applyChanges tag contract, enforced at the row: unknown tags
    // (a typo, another dialect's "update_postimage") and NULL must fail
    // LOUDLY — falling through would silently corrupt the replica (this
    // feed speaks insert|delete; updates arrive as delete(old)+insert(new))
    val tag = if (!cdc || row.isNullAt(changeIdx)) null
      else row.getUTF8String(changeIdx).toString
    require(!cdc || tag == "insert" || tag == "delete",
      s"applyChanges: unsupported _change tag '${if (tag == null) "NULL" else tag}' " +
        "(this feed speaks insert|delete; updates arrive as delete(old)+insert(new))")
    val dirs = partRender.map(_(row))
    if (keyed) {
      // contains() probes with the projection's REUSED row (value-based
      // UnsafeRow equality); only a fresh tuple pays the copy
      val k0 = keyProj(row)
      val set = tombKeys.getOrElseUpdate(tombPartIdx.map(dirs).mkString("/"),
        mutable.LinkedHashSet.empty[InternalRow])
      val k = if (set.contains(k0)) k0 else {
        val c = k0.copy(); set += c; c
      }
      if (tag == "delete") {
        if (!delKeys.contains(k)) delKeys += (if (k eq k0) k.copy() else k)
        return // delete rows carry keys only — never data
      }
    }
    // the write's required ordering (a staged batch: its own sort)
    // groups these dirs' rows, so a value that ends never comes back:
    // its files close for good
    val value = groupedEntries.map(dirs)
    if (value != currentValue) {
      closeOpen()
      currentValue = value
    }
    val suffix = dirs.mkString("/")
    val f = open.getOrElseUpdate(suffix, {
      val o = openWriter(suffix)
      LakehouseWriteStats.peakOpenFiles.accumulateAndGet(open.size + 1L, math.max(_, _))
      o
    })
    // the record consumer serializes the row into parquet buffers
    // immediately, so the projection's reused row needs no copy
    f.w.write(null, proj(row))
    f.rows += 1
    // size-targeted optimize-write: roll the file shut at the record
    // cap so a skewed partition value bins into ≈targetBytes files
    if (maxRecordsPerFile.exists(f.rows >= _)) {
      finish(f.rel, f.w)
      closed += f.rel
      open.remove(suffix)
    }
  }

  /** Record that table file `rel` is replaced by the rows this task
    * writes (the keyed rewrite: its survivors, possibly none).
    */
  def replaced(rel: String): Unit = replacedFiles += rel

  override def commit(): WriterCommitMessage = {
    closeOpen()
    val tombFiles = tombKeys.toSeq.flatMap { case (dir, ks) => writeKeyFile("tomb", dir, ks) }
    val delFiles = writeKeyFile("del", "", delKeys).toSeq
    LakehouseWriteMessage(closed.toSeq, ddl.toSeq, tombFiles, delFiles, stats.toMap,
      replacedFiles.toSeq)
  }

  override def abort(): Unit = {
    open.values.foreach { f =>
      try f.w.close(null) catch { case _: Exception => () }
    }
    (closed.toSeq ++ open.values.map(_.rel)).foreach { rel =>
      try { java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(rootAbs, rel)); () }
      catch { case _: Exception => () }
    }
  }

  override def close(): Unit = ()
}

private[lakehouse] object LakehouseDataWriter {
  /** Hadoop's default configuration, loaded once: every file a writer
    * opens copies it, where a fresh `Configuration` re-parses the default
    * XML resources (a measurable share of a small rewrite task).
    */
  lazy val hadoopDefaults: org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration()
    c.size() // loads the resources before any copy is taken
    c
  }

  // parquet-mr keeps the footer a closed file wrote on its internal
  // writer, which ParquetRecordWriter does not expose
  private lazy val internalWriter = {
    val f = classOf[org.apache.parquet.hadoop.ParquetRecordWriter[_]]
      .getDeclaredField("internalWriter")
    f.setAccessible(true)
    f
  }
  private lazy val getFooter = {
    val m = Class.forName("org.apache.parquet.hadoop.InternalParquetRecordWriter")
      .getDeclaredMethod("getFooter")
    m.setAccessible(true)
    m
  }

  /** The footer a closed parquet record writer wrote. */
  def footerOf(w: org.apache.hadoop.mapreduce.RecordWriter[Void, InternalRow])
      : org.apache.parquet.hadoop.metadata.ParquetMetadata =
    getFooter.invoke(internalWriter.get(w))
      .asInstanceOf[org.apache.parquet.hadoop.metadata.ParquetMetadata]
}
