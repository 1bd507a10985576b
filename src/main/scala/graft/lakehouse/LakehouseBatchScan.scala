package graft.lakehouse

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile, PartitioningUtils}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.paths.SparkPath
import org.apache.spark.util.SerializableConfiguration

/** The native DSv2 batch scan over a lakehouse snapshot: the pruned
  * file list feeds Spark's own vectorized parquet reader factory
  * directly — columnar batches flow into whole-stage codegen with no
  * per-action inner-plan build — and, because this is a real `Batch`,
  * the scan participates in RUNTIME filtering: a fact⋈dim join hands
  * the dim side's join keys to [[filter]] at execution time and the
  * manifest (stats ranges,
  * bloom sidecars, partition paths) drops every fact file that cannot
  * hold a matching key — dynamic file pruning, the 100 TB star-join
  * shape. [[estimateStatistics]] reports manifest-exact bytes/rows of
  * the pruned set, so small lakehouse tables auto-broadcast without a
  * hint.
  *
  * Layout handling: a snapshot may mix flat files and hive-partitioned
  * files (possibly with different partition column sets across its
  * lineage). Files are grouped by the set of path-derived columns that
  * appear in the projection; each group gets its own parquet reader
  * factory (path columns materialize from `partitionValues`, exactly
  * as Spark's file sources do) and a zero-copy column permutation
  * aligns every group to the one projected schema. Schema evolution
  * (widen-only ADD COLUMNS) rides on the vectorized reader's
  * missing-column-as-null handling.
  *
  * Merge-on-read snapshots read here too: the tombstone key sets load
  * once at plan time into broadcast hash maps ([[MorMaskData]]), files
  * that could hold a masked key (manifest-stats probe + origin compare)
  * land in per-origin "masked" partitions whose readers drop masked
  * tuples, and every UNAFFECTED partition keeps pure columnar reads.
  * Runtime file pruning, SPJ, and manifest statistics all stay on —
  * the MoR norm (tombstones present between compactions on a busy CDC
  * target) keeps the vectorized path.
  *
  * This is the ONE read path: user scans (`format("graft-lakehouse")`,
  * catalog tables), the append-only micro-batch stream, and every
  * engine-internal read ([[LakehouseTable.scanFiles]] — keyed rewrites,
  * compaction, time travel, the change feed) all plan this scan.
  * Internal reads pass the already-resolved table and snapshot
  * (`pinned`) and never record [[ScanEvents]]; raw reads (key probes,
  * sidecar builds, the change feed's file diff) pass `masked = false`.
  */
final class LakehouseBatchScan private[lakehouse] (
    options: Map[String, String],
    required: StructType,
    accepted: Array[Filter],
    /** Restrict the scan to this manifest-relative file subset (the
      * micro-batch stream's per-batch added-file slice); None = the
      * whole snapshot.
      */
    fileSubset: Option[Set[String]] = None,
    /** Apply the snapshot's MoR tombstone masks (false = read the
      * stored rows as committed: the micro-batch stream's incremental
      * slices and the engine's raw file reads).
      */
    masked: Boolean = true,
    /** The already-resolved (table, snapshot) of an engine-internal
      * read; None resolves from `options` (user scans).
      */
    pinned: Option[(LakehouseTable, Snapshot)] = None,
    /** Masks applied beside the snapshot's own (a keyed batch's key
      * set, [[LakehouseMor.batchKeys]]): every file they could mask
      * reads through the mask probe.
      */
    extraMasks: Seq[org.apache.spark.broadcast.Broadcast[MorMaskData]] = Nil)
  extends Scan with Batch with SupportsRuntimeFiltering with SupportsReportStatistics
  with SupportsReportPartitioning {

  @transient private lazy val spark = SparkSession.active
  @transient private lazy val resolved: (LakehouseTable, Snapshot) =
    pinned.getOrElse {
      try LakehouseSource.snapshotFor(spark, options)
      catch {
        case e: IllegalArgumentException =>
          // the isolation tradeoff surfaced: this DataFrame pinned its
          // snapshot at load, and retention has since expired the
          // manifest — the fix is a reload, not a mystery
          throw new IllegalStateException(
            s"the snapshot this DataFrame pinned at load time no longer exists " +
              s"(snapshot retention likely expired it) — re-run spark.read.load " +
              s"to pin the current snapshot. Cause: ${e.getMessage}", e)
      }
    }
  private def t: LakehouseTable = resolved._1
  private def snap: Snapshot = resolved._2

  /** Append-only micro-batch streaming over the catalog table
    * (`spark.readStream.table("graft.db.t")`): each batch reads the
    * files ADDED by its snapshot range through this same native scan
    * machinery. Change-shaped commits (rewrites/deletes/tombstones)
    * fail loudly, or skip under `.option("skipChangeCommits", true)` —
    * CHANGEFEED semantics stay with `format("graft-changefeed")`,
    * whose diff batches aren't partition-hostable.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LakehouseMicroBatchStream(options, required, accepted)

  /** The table's declared bucket layout (pruning uses it regardless of
    * the SPJ opt-in conf — a point lookup on a bucketed key always
    * skips to its bucket's files).
    */
  @transient private lazy val declaredBucket: Option[(Int, String)] =
    LakehouseSource.bucketSpecOf(options)

  /** Files surviving the STATICALLY pushed filters (planning time),
    * intersected with the micro-batch subset when one is set.
    */
  @transient private lazy val staticFiles: Seq[String] = {
    val pruned = LakehouseSource.pruneForFilters(t, snap, accepted.toSeq, declaredBucket)
    fileSubset.fold(pruned)(sub => pruned.filter(sub))
  }

  /** Keep-set from runtime (join-driven) filters; None until/unless
    * [[filter]] runs. Volatile: set on the driver between the two
    * planInputPartitions calls BatchScanExec makes.
    */
  @volatile private var runtimeKeep: Option[Set[String]] = None
  @volatile private var runtimeDesc: Seq[String] = Nil

  private def currentFiles: Seq[String] =
    runtimeKeep.fold(staticFiles)(keep => staticFiles.filter(keep))

  // ---------------- merge-on-read masking (native path) ----------------

  /** Tombstone masks of this snapshot, one per key set — plan-time
    * driver collect of the batch-sized key tombstones (empty for plain
    * copy-on-write snapshots and all-null-key tombstones).
    */
  @transient private lazy val ownMasks: Seq[MorMaskData] =
    // unmasked: the micro-batch stream's INCREMENTAL batches plan
    // tombstone-free — appended files deliver as-committed, so a
    // skipChangeCommits batch spanning append-then-MoR-apply can't let
    // the later masks retro-filter the earlier rows (delivered content
    // must not depend on trigger boundaries)
    if (snap.tombstones.isEmpty || !masked) Nil
    else LakehouseMor.build(spark, t, snap)

  @transient private lazy val morMasks: Seq[MorMaskData] =
    ownMasks ++ extraMasks.map(_.value)

  @transient private lazy val maskBcs
      : Seq[org.apache.spark.broadcast.Broadcast[MorMaskData]] =
    ownMasks.map(spark.sparkContext.broadcast(_)) ++ extraMasks

  /** Files a tombstone could actually mask rows in
    * ([[LakehouseMor.affectedFiles]]) → their origin id. Everything
    * else reads columnar with zero masking work.
    */
  @transient private lazy val affectedOrigin: Map[String, Long] =
    LakehouseMor.affectedFiles(t, snap, morMasks, staticFiles)
      .map(f => f -> t.originOfFile(f)).toMap

  /** Snapshot-schema fields backing every mask key column (the reader
    * schemas widen with these when the projection lacks them).
    */
  @transient private lazy val maskKeyFieldsAll: Array[StructField] = {
    val schema = DataType.fromJson(snap.schemaJson)
      .asInstanceOf[StructType]
    val wanted = morMasks.flatMap(_.keyNames).map(t.resolvedNameKey).toSet
    schema.fields.filter(f => wanted(t.resolvedNameKey(f.name)))
  }

  // ---------------- rename lineage (native path) ----------------

  /** Current-name-key → former names with their rename points. A data
    * file whose origin snapshot predates a rename physically carries
    * the OLD column name; the scan groups files by rename epoch and
    * gives each group a reader schema in its epoch's physical names,
    * relabelled positionally to current names — vectorized reads, no
    * waiting for compaction.
    */
  @transient private lazy val renameCuts: Map[String, List[AliasEntry]] =
    snap.aliases.map { case (k, v) => t.resolvedNameKey(k) -> v }

  /** Does any identity need per-era resolution at all? (Renamed
    * lineages AND reborn floors — [[LakehouseTable.physNameAt]].)
    */
  private def epochsActive: Boolean =
    renameCuts.nonEmpty || snap.rebornFloors.nonEmpty

  /** The physical name `field` had at snapshot `origin`
    * ([[LakehouseTable.physNameAt]] — identity resolution). A FLOORED
    * identity (reborn column, file older than its floor) maps to a
    * reserved impossible name: the parquet readers null-fill requested
    * columns absent from a file, which serves the column as NULL with
    * the vectorized path fully on — retired same-named bytes are never
    * requested.
    */
  private def physNameOf(field: StructField, origin: Long): String =
    t.physNameAt(snap, field.name, origin).getOrElse(
      "__graft_absent__" + t.resolvedNameKey(field.name))

  /** Resolution-epoch signature of a file (grouping key component;
    * empty when the table never renamed or rebirthed a column).
    */
  private def renameEpochOf(relFile: String): Seq[String] =
    if (!epochsActive) Nil
    else {
      val o = t.originOfFile(relFile)
      (required.fields ++ maskKeyFieldsAll).map(physNameOf(_, o)).toSeq
    }

  // ---------------- stamped field-id resolution (FIELD_IDS.md final step) ----------------

  /** The snapshot's field ids for every column this scan touches —
    * Some iff complete. ID-keyed resolution needs an id per requested
    * column (every committed snapshot assigns them; None only for a
    * pre-round-12 head).
    */
  @transient private lazy val idsForRead: Option[Map[String, Int]] =
    snap.fieldIds.map(_.ids.map { case (n, i) => t.resolvedNameKey(n) -> i })
      .filter(ids => (required.fields ++ maskKeyFieldsAll)
        .forall(f => ids.contains(t.resolvedNameKey(f.name))))

  /** Route `relFile` to STAMPED-ID resolution — the PRIMARY resolution
    * for fully-stamped files (FIELD_IDS.md final step): the file must
    * be fully stamped (manifest flag, zero plan-time I/O) and every
    * PATH-derived column era-stable for it (dirs carry names, not ids
    * — a renamed or floored partition column keeps the era path). Data
    * columns resolve BY ID in the parquet readers — a renamed column's
    * old physical name matches through its unchanged id, and a reborn
    * identity's fresh id is simply absent from pre-floor files (nulls)
    * — with NO registry consulted, which makes resolution independent
    * of registry reconstruction; unstamped lineages keep the exact
    * era-name fallback ([[physNameOf]]), and compaction — one rewrite
    * stamping every live file — is the per-table cutover lever.
    */
  private def idRouteOf(relFile: String): Boolean =
    idsForRead.isDefined && t.fileFullyStamped(snap, relFile) && {
      !epochsActive || {
        val o = t.originOfFile(relFile)
        val pathKeys = pathColKeys(relFile).toSet
        (required.fields ++ maskKeyFieldsAll).forall { f =>
          val pn = physNameOf(f, o)
          pn == f.name || !pathKeys(t.resolvedNameKey(pn))
        }
      }
    }

  /** The requested fields with their `parquet.field.id` metadata — what
    * flips the parquet readers into id-keyed column matching.
    */
  private def withReadIds(fields: Array[StructField]): Array[StructField] = {
    val ids = idsForRead.getOrElse(
      throw new IllegalStateException("id routing without complete field ids"))
    fields.map(f => f.copy(metadata =
      new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
        .putLong("parquet.field.id", ids(t.resolvedNameKey(f.name)).toLong)
        .build()))
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-lakehouse native batch scan of ${LakehouseSource.rootOf(options)}, " +
      s"PushedFilters: [${accepted.mkString(", ")}]" +
      (if (snap.tombstones.isEmpty || !masked) "" else ", MoR: masked")

  // ---------------- runtime filtering (dynamic file pruning) ----------------

  /** Every PROJECTED column is a runtime-pruning candidate: equality/IN
    * probes consult manifest min/max ranges, bloom sidecars, and hive
    * path values — there is no separate "partition column" class the
    * way file sources have (with reuseBroadcastOnly, Spark only injects
    * a runtime filter when the dim side is broadcast anyway, so
    * over-reporting costs nothing). Restricted to the scan's output:
    * Spark resolves these against the pruned relation, and a join key
    * is necessarily projected. Each name is one verbatim reference:
    * Spark asks for these on every join over the scan, so a column
    * name that is no SQL identifier must not fail a keyed rewrite.
    */
  override def filterAttributes(): Array[NamedReference] =
    required.fieldNames.map(org.apache.spark.sql.GraftColumnAccess.fieldRef)

  override def filter(filters: Array[Filter]): Unit = {
    // Under storage-partitioned-join reporting Spark REQUIRES runtime
    // filtering to preserve the set of partition keys (BatchScanExec
    // re-groups and refuses a changed key set), so the scan skips
    // file-level runtime pruning there — SPJ already removed the
    // shuffle, which is the bigger win; row-group/row filtering still
    // applies inside the readers.
    if (spjFields.nonEmpty || bucketSpj.isDefined) return
    runtimeKeep = Some(
      LakehouseSource.pruneForFilters(t, snap, filters.toSeq, declaredBucket).toSet)
    runtimeDesc = filters.map(f => s"runtime: $f").toSeq
  }

  // ---------------- storage-partitioned joins ----------------

  /** Projected fields backing the hive partition columns, in path
    * order — non-empty iff this scan can report
    * [[KeyGroupedPartitioning]]: the session opted in
    * (`spark.sql.sources.v2.bucketing.enabled`), EVERY snapshot file is
    * hive-partitioned under the SAME column set, and all of those
    * columns are projected (the clustering expressions must resolve
    * against the scan output). Two lakehouse tables laid out on the
    * same keys then JOIN WITHOUT A SHUFFLE — each task reads one
    * matching partition-value group from each side (the Iceberg SPJ
    * shape, the 100 TB fact⋈fact story where broadcast can't help).
    */
  @transient private lazy val spjFields: Array[StructField] = {
    if (!spark.sessionState.conf.v2BucketingEnabled || bucketSpj.isDefined) Array.empty
    else {
      val perFile = staticFiles.map(pathColKeys).distinct
      perFile match {
        case Seq(cols) if cols.nonEmpty =>
          val byKey = required.fields.map(f => t.resolvedNameKey(f.name) -> f).toMap
          val fields = cols.flatMap(byKey.get)
          // a REBORN partition column stands SPJ down while pre-floor
          // files are live: their dir values belong to the retired
          // namesake while their rows serve NULL — a key-grouped join
          // on the stale dir value would co-locate rows wrongly
          val floored = fields.exists(f =>
            snap.rebornFloors.exists { case (n, b) =>
              t.resolvedNameKey(n) == t.resolvedNameKey(f.name) &&
                staticFiles.exists(t.originOfFile(_) < b)
            })
          if (fields.size == cols.size && !floored) fields.toArray
          else Array.empty[StructField]
        case _ => Array.empty[StructField]
      }
    }
  }

  /** `bucket(N, col)` SPJ reporting: the table's declared bucket spec
    * (catalog metadata, travels in the scan options), live iff the
    * session opted into v2 bucketing, the bucket SOURCE column is
    * projected, and EVERY snapshot file carries its `<col>_bucket=`
    * path segment. Two tables bucketed the same way then join with
    * zero shuffle — the high-cardinality fact⋈fact shape identity
    * partitioning can't serve (the Iceberg SPJ norm). The transform
    * resolves through [[LakehouseCatalog.loadFunction]]'s `bucket`.
    */
  @transient private lazy val bucketSpj: Option[(Int, StructField)] = {
    if (!spark.sessionState.conf.v2BucketingEnabled) None
    else declaredBucket.flatMap { case (n, c) =>
      val field = required.fields.find(f =>
        t.resolvedNameKey(f.name) == t.resolvedNameKey(c))
      // spec evolution: a pre-evolution file's bucket dir may encode a
      // DIFFERENT N — SPJ stands down until compaction rewrites the
      // lineage under the current spec (all origins past the change)
      val since = t.partitionSpecSince
      field.filter { _ =>
        staticFiles.nonEmpty &&
          staticFiles.forall(f => bucketIdOfFile(f, c).isDefined &&
            t.originOfFile(f) > since)
      }.map((n, _))
    }
  }

  /** Bucket id from a file's `<col>_bucket=` path segment. */
  private def bucketIdOfFile(relFile: String, c: String): Option[Int] = {
    val dirKey = t.resolvedNameKey(s"${c}_bucket")
    LakehouseTable.hiveSegsOf(relFile).map(_.split("=", 2)).collectFirst {
      case Array(k, v) if t.resolvedNameKey(k) == dirKey =>
        scala.util.Try(v.toInt).toOption
    }.flatten
  }

  override def outputPartitioning(): Partitioning = bucketSpj match {
    case Some((n, f)) =>
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(n, f.name): org.apache.spark.sql.connector.expressions.Expression),
        staticFiles.flatMap(bucketIdOfFile(_, f.name)).distinct.size)
    case None if spjFields.isEmpty => new UnknownPartitioning(0)
    case None => new KeyGroupedPartitioning(
      spjFields.map(f => Expressions.identity(f.name): org.apache.spark.sql.connector.expressions.Expression),
      spjKeyOf.values.toSet.size)
  }

  /** raw path-segment partition values of a file for the SPJ columns,
    * keyed per file (grouping signature; decoded values become the
    * partition key row).
    */
  @transient private lazy val spjKeyOf: Map[String, Seq[String]] = {
    if (spjFields.isEmpty) Map.empty
    else {
      val wanted = spjFields.map(f => t.resolvedNameKey(f.name))
      staticFiles.map { f =>
        val segs = LakehouseTable.hiveSegsOf(f).map(_.split("=", 2))
          .map { case Array(k, v) => t.resolvedNameKey(k) -> v }.toMap
        f -> wanted.map(segs(_)).toSeq
      }.toMap
    }
  }

  // ---------------- statistics (manifest-exact) ----------------

  override def estimateStatistics(): Statistics = {
    val files = currentFiles
    val bytes = files.map(t.fileSizeOf(snap, _)).sum
    // under MoR the per-file counts over-estimate (masked rows still
    // counted) — report bytes only, never a wrong exact row count
    val rowsOpt =
      if (masked && snap.tombstones.nonEmpty) None
      else files.foldLeft(Option(0L)) { (acc, f) =>
        for (a <- acc; r <- t.fileRowsOf(snap, f)) yield a + r
      }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): java.util.OptionalLong =
        rowsOpt.fold(java.util.OptionalLong.empty)(java.util.OptionalLong.of)
    }
  }

  // ---------------- partition planning ----------------

  /** `col=` keys of a file's path, in path order, restricted to
    * projected columns — the group signature.
    */
  private def pathColKeys(relFile: String): Seq[String] =
    LakehouseTable.hiveSegsOf(relFile).toSeq
      .map(seg => t.resolvedNameKey(seg.split("=", 2)(0)))

  override def planInputPartitions(): Array[InputPartition] = {
    val files = currentFiles
    // the audit surface shows USER scans: an engine-internal read (a
    // keyed write's probe, compaction) must not overwrite the record
    if (pinned.isEmpty) ScanEvents.record(LakehouseSource.rootOf(options), ScanInfo(
      filesPlanned = files.size,
      filesTotal = snap.files.size,
      columnsRead = required.fieldNames.toSeq,
      pushed = accepted.map(_.toString).toSeq ++ runtimeDesc))
    if (files.isEmpty) return Array.empty
    val groups = layoutGroups(files)
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark,
      groups.flatMap(_._3).map(_._2.length + openCost).sum)
    var globalIdx = 0
    groups.flatMap { case (spec, keyRow, whole) =>
      val pfs = whole.flatMap { case (_, pf) =>
        if (pf.length <= 0L) Seq(pf)
        else (0L until pf.length by maxSplit).map(off =>
          pf.copy(start = off, length = math.min(maxSplit, pf.length - off)))
      }
      FilePartition.getFilePartitions(spark, pfs.sortBy(-_.length), maxSplit).map { fp =>
        val p = LakehouseGroupedPartition(spec, fp.copy(index = globalIdx),
          fp.preferredLocations(), keyRow)
        globalIdx += 1
        p
      }
    }.toArray
  }

  /** One unsplit single-file partition per planned file, by manifest
    * path: an engine pass that must see each file whole (the keyed
    * rewrite's per-file key gate) packs these into its own tasks.
    */
  private[lakehouse] def wholeFilePartitions(): Map[String, LakehouseGroupedPartition] =
    layoutGroups(currentFiles).flatMap { case (spec, keyRow, whole) =>
      whole.map { case (f, pf) =>
        f -> LakehouseGroupedPartition(spec, FilePartition(0, Array(pf)), Array.empty, keyRow)
      }
    }.toMap

  /** `files` in their read groups: each group's reader spec, its SPJ
    * key row (null outside SPJ), and every file as one whole
    * [[PartitionedFile]] beside its manifest path.
    */
  private def layoutGroups(files: Seq[String])
      : Seq[(LakehouseGroupSpec, InternalRow, Seq[(String, PartitionedFile)])] = {
    // under SPJ each group is ONE partition-value tuple (tasks align
    // value-for-value across the join); otherwise groups are layout
    // signatures only and files pack freely. MoR-affected files
    // additionally group per ORIGIN snapshot (the mask compare is
    // origin-vs-tombstone, uniform per partition) and their partitions
    // read row-based with the mask probe; unaffected files keep pure
    // columnar reads.
    val grouped = files
      .groupBy { f =>
        val idr = idRouteOf(f)
        (pathColKeys(f), spjKeyOf.get(f).getOrElse(Nil), affectedOrigin.get(f),
          bucketSpj.flatMap { case (_, bf) => bucketIdOfFile(f, bf.name) },
          // id-routed files MERGE across rename eras: their resolution
          // is registry-free (stamped ids), so era signatures don't
          // split them into per-era reads
          if (idr) Nil else renameEpochOf(f), idr)
      }
      .toSeq
      .sortBy { case ((sig, key, mo, bid, ep, idr), _) =>
        (sig.mkString(","), key.mkString(","), mo.getOrElse(-1L), bid.getOrElse(-1),
          ep.mkString(","), idr) }
      .map { case ((sig, _, mo, bid, _, idr), fs) => (sig, mo, bid, idr, fs) }

    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)

    grouped.map { case (pathKeys, maskOrigin, bucketId, idRouted, groupFiles) =>
      if (idRouted) LakehouseBatchScan.idRoutedFiles.addAndGet(groupFiles.size)
      val inPath = pathKeys.toSet
      def nk(f: StructField): String = t.resolvedNameKey(f.name)
      // this group's PHYSICAL name per field (rename epoch, uniform by
      // grouping): path membership, reader schemas, and partition-value
      // extraction all speak the epoch's names; outFields keep CURRENT
      // names (alignment is positional, so perm/masks are unaffected).
      // An ID-ROUTED group keeps current names — the readers match
      // columns by the stamped parquet.field.id, no registry consulted
      val phys: StructField => StructField =
        if (!epochsActive || idRouted) identity
        else {
          val origin = t.originOfFile(groupFiles.head)
          f => f.copy(name = physNameOf(f, origin))
        }
      def inPathPhys(f: StructField): Boolean = inPath(nk(phys(f)))
      val dataFields0 = required.fields.filterNot(inPathPhys)
      val partFields0 = required.fields.filter(inPathPhys)
      // masked groups widen the reader schemas with any mask key column
      // the projection lacks: path columns materialize from the dir
      // values, everything else reads from the data files (a key column
      // a file predates arrives as NULL = masks nothing there)
      val maskExtra: Array[StructField] =
        if (maskOrigin.isEmpty) Array.empty
        else {
          val projected = required.fields.map(nk).toSet
          maskKeyFieldsAll.filterNot(f => projected(nk(f)))
        }
      val (maskPartExtra, maskDataExtra) = maskExtra.partition(inPathPhys)
      val dataFields = dataFields0 ++ maskDataExtra
      val partFields = partFields0 ++ maskPartExtra
      val outFields = dataFields ++ partFields
      val outNames = outFields.map(_.name)
      val perm0 = required.fieldNames.map(n => outNames.indexOf(n))
      val perm =
        if (perm0.length == outNames.length &&
          perm0.zipWithIndex.forall { case (s, i) => s == i }) null
        else perm0
      val masks: Array[MorMaskSpec] =
        if (maskOrigin.isEmpty) Array.empty
        else morMasks.zip(maskBcs).map { case (m, bc) =>
          val ords = m.keyNames.map(k0 =>
            outFields.indexWhere(f => nk(f) == t.resolvedNameKey(k0)))
          require(ords.forall(_ >= 0),
            s"mask key ${m.keyNames.mkString(",")} missing from reader schema")
          MorMaskSpec(bc, ords.toArray, ords.map(o => outFields(o).dataType).toArray)
        }.toArray

      val dataFieldsPhys = dataFields.map(phys)
      val partFieldsPhys = partFields.map(phys)
      val whole = groupFiles.map { f =>
        val len = t.fileSizeOf(snap, f)
        f -> PartitionedFile(partitionValuesFor(f, partFieldsPhys, zone),
          SparkPath.fromPathString(t.absDataPath(f)), 0L, len, Array.empty, 0L, len)
      }
      // each partition carries its group's reader spec, so a runtime
      // re-plan can never pair stale group state with fresh partitions
      val readSchema =
        if (idRouted) StructType(withReadIds(dataFieldsPhys))
        else StructType(dataFieldsPhys)
      val spec = LakehouseGroupSpec(
        readerFactoryFor(readSchema, StructType(partFieldsPhys),
          useFieldIds = idRouted),
        perm, required.fields.map(_.dataType), masks, maskOrigin.getOrElse(-1L),
        StructType(outFields))
      // SPJ key row (decoded partition values in clustering order, or
      // the bucket id under bucket clustering); same-key partitions
      // merge into one task group in BatchScanExec
      val keyRow =
        if (bucketSpj.isDefined)
          new GenericInternalRow(Array[Any](bucketId.getOrElse(
            throw new IllegalStateException(
              s"bucket id lost during grouping for ${groupFiles.head}"))))
        else if (spjFields.isEmpty) null
        else partitionValuesFor(groupFiles.head, spjFields, zone)
      (spec, keyRow, whole)
    }
  }

  /** Internal partition values of one file, in `partFields` order:
    * hive path segments decoded with Spark's own unescape + cast
    * (null partition → SQL null).
    */
  private def partitionValuesFor(relFile: String, partFields: Array[StructField],
      zone: java.time.ZoneId): InternalRow = {
    if (partFields.isEmpty) return InternalRow.empty
    val segs = LakehouseTable.hiveSegsOf(relFile).map(_.split("=", 2))
    val vals: Array[Any] = partFields.map { f =>
      val raw = segs.collectFirst {
        case Array(k, v) if t.resolvedNameKey(k) == t.resolvedNameKey(f.name) => v
      }.getOrElse(throw new IllegalStateException(
        s"file $relFile lost its ${f.name}= path segment during grouping"))
      // raw segment: castPartValueToDesiredType applies Spark's (single)
      // path-unescape itself for escape-sensitive types — pre-unescaping
      // would double-decode literal %XX sequences (ADVICE r12)
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else PartitioningUtils.castPartValueToDesiredType(f.dataType, raw, zone)
    }
    new GenericInternalRow(vals)
  }

  /** One parquet reader factory for a (data, partition) schema split —
    * the exact conf recipe of Spark's own ParquetScan.createReaderFactory,
    * so vectorization, timestamp semantics, and case sensitivity match
    * the built-in source. Pushed filters whose columns live in the data
    * schema ride along for row-group pruning (exactness is enforced by
    * the residual Filter node Spark keeps above the scan).
    */
  private def readerFactoryFor(
      readDataSchema: StructType, partSchema: StructType,
      useFieldIds: Boolean = false): ParquetPartitionReaderFactory =
    // MEMOIZED per (schemas, id-routing): planInputPartitions calls this
    // once per LAYOUT GROUP — under SPJ that is one group per partition
    // key, and the scan can re-plan under a runtime filter — and every
    // uncached call clones the session Hadoop conf AND broadcasts it
    // (~30-50 ms of driver work each; measured ~1 s/rep on the SPJ
    // gate). Groups that differ only in partition values / mask origin /
    // bucket id share schemas, so one factory serves them all — the
    // factory holds schemas and filters, never per-file state.
    factoryCache.computeIfAbsent(
      (readDataSchema.json, partSchema.json, useFieldIds),
      _ => buildReaderFactory(readDataSchema, partSchema, useFieldIds))

  @transient private lazy val factoryCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Boolean),
      ParquetPartitionReaderFactory]

  private def buildReaderFactory(
      readDataSchema: StructType, partSchema: StructType,
      useFieldIds: Boolean): ParquetPartitionReaderFactory = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    // stamped-id routing: the readers match requested columns by their
    // parquet.field.id metadata instead of names (the conf gates it;
    // the ids ride readDataSchema's field metadata)
    hadoopConf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, useFieldIds)
    val readDataSchemaAsJson = readDataSchema.json
    hadoopConf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, readDataSchemaAsJson)
    hadoopConf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, readDataSchemaAsJson)
    hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, conf.sessionLocalTimeZone)
    hadoopConf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      conf.nestedSchemaPruningEnabled)
    hadoopConf.setBoolean(SQLConf.CASE_SENSITIVE.key, conf.caseSensitiveAnalysis)
    ParquetWriteSupport.setSchema(readDataSchema, hadoopConf)
    hadoopConf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, conf.isParquetBinaryAsString)
    hadoopConf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      conf.isParquetINT96AsTimestamp)
    hadoopConf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      conf.parquetInferTimestampNTZEnabled)
    hadoopConf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      conf.legacyParquetNanosAsLong)
    hadoopConf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      conf.parquetReaderRespectUnknownTypeAnnotation)
    val bc = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    val dataKeys = readDataSchema.fieldNames.map(t.resolvedNameKey).toSet
    val rowGroupFilters = accepted.filter(
      _.references.forall(r => dataKeys(t.resolvedNameKey(r))))
    ParquetPartitionReaderFactory(conf, bc, readDataSchema, readDataSchema,
      partSchema, rowGroupFilters, None, new ParquetOptions(Map.empty[String, String], conf))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakehouseReaderFactory
}

object LakehouseBatchScan {
  /** Spec seam: cumulative count of data files planned through
    * STAMPED-ID resolution (vs era-name groups).
    */
  val idRoutedFiles = new java.util.concurrent.atomic.AtomicLong
}

/** An input partition carrying its layout group's reader spec, plus —
  * when the scan reports storage-partitioned-join clustering — the
  * decoded partition-value key Spark groups tasks by (`key` is null
  * outside SPJ, where `partitionKey` is never consulted: Spark only
  * calls it when the scan reported [[KeyGroupedPartitioning]]).
  */
private[lakehouse] final case class LakehouseGroupedPartition(
    spec: LakehouseGroupSpec, fp: FilePartition,
    locations: Array[String], key: InternalRow = null)
  extends InputPartition with HasPartitionKey {
  override def preferredLocations(): Array[String] = locations
  override def partitionKey(): InternalRow = {
    require(key != null, "partitionKey consulted outside SPJ reporting")
    key
  }
}

private[lakehouse] final case class LakehouseGroupSpec(
    factory: ParquetPartitionReaderFactory,
    perm: Array[Int], // null = identity
    types: Array[DataType],
    /** MoR masks to probe per row (empty = no masking; reader schemas
      * were widened with the mask key columns when non-empty). */
    masks: Array[MorMaskSpec] = Array.empty,
    /** Origin snapshot of every file in this partition (uniform by
      * grouping); only consulted when `masks` is non-empty. */
    maskOrigin: Long = -1L,
    /** The reader's natural (data ++ partition) output schema — what a
      * masked partition's survivor-copy vectors allocate as. */
    outSchema: StructType = new StructType())

/** Stateless dispatcher: each partition names its own parquet factory,
  * column permutation, and (for MoR-affected partitions) tombstone
  * mask (mixed layouts in one scan).
  *
  * Columnar handling under MoR: Spark's PARTITION_DEFINED mode requires
  * EVERY partition of a scan to agree on columnar-vs-row, so masked
  * partitions must stay columnar alongside their unaffected siblings.
  * They do — the mask probe runs per BATCH: a batch holding no masked
  * row passes through zero-copy (the overwhelmingly common case, since
  * affected files were already manifest-pruned to those that could hold
  * a masked key), and a batch that does hold one copies only the
  * SURVIVORS into fresh on-heap vectors (Spark's own
  * [[RowToColumnConverter]]). Vectorized parquet decode is never
  * forfeited; the worst case pays one row-copy of the masked batch.
  */
private[lakehouse] final class LakehouseReaderFactory extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = {
    val p = partition.asInstanceOf[LakehouseGroupedPartition]
    p.spec.factory.supportColumnarReads(p.fp)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LakehouseGroupedPartition]
    val g = p.spec
    val in = g.factory.createReader(p.fp)
    if (g.perm == null && g.masks.isEmpty) in
    else keptRows(g, Iterator.continually(in.next()).takeWhile(identity).map(_ => in.get()), in)
  }

  /** The rows `p` serves, as [[createReader]] serves them, decoded by
    * the vectorized reader when `p` supports it and masked per row (no
    * survivor copy): an engine pass that consumes rows in its own task
    * (the keyed rewrite) reads through this.
    */
  def rowsOf(p: LakehouseGroupedPartition): PartitionReader[InternalRow] =
    if (!supportColumnarReads(p)) createReader(p)
    else {
      val in = p.spec.factory.createColumnarReader(p.fp)
      keptRows(p.spec, Iterator.continually(in.next()).takeWhile(identity)
        .flatMap(_ => in.get().rowIterator().asScala), in)
    }

  /** `rows` minus the masked ones, permuted to the scan's output order. */
  private def keptRows(g: LakehouseGroupSpec, rows: Iterator[InternalRow],
      in: PartitionReader[_]): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val kept =
        if (g.masks.isEmpty) rows
        else rows.filterNot(LakehouseMor.masked(_, g.masks, g.maskOrigin))
      private var cur: InternalRow = _
      override def next(): Boolean = kept.hasNext && { cur = kept.next(); true }
      override def get(): InternalRow = {
        if (g.perm == null) cur
        else {
          val vals = new Array[Any](g.perm.length)
          var i = 0
          while (i < g.perm.length) { vals(i) = cur.get(g.perm(i), g.types(i)); i += 1 }
          new GenericInternalRow(vals)
        }
      }
      override def close(): Unit = in.close()
    }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[LakehouseGroupedPartition]
    val g = p.spec
    val in0 = g.factory.createColumnarReader(p.fp)
    val in =
      if (g.masks.isEmpty) in0
      else new MaskingColumnarReader(in0, g.outSchema, g.masks, g.maskOrigin)
    if (g.perm == null) in
    else new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = in.next()
      override def get(): ColumnarBatch = {
        val b = in.get()
        val cols: Array[ColumnVector] = g.perm.map(b.column)
        val out = new ColumnarBatch(cols)
        out.setNumRows(b.numRows)
        out
      }
      override def close(): Unit = in.close()
    }
  }
}

/** Columnar MoR masking: per input batch, probe every row against the
  * broadcast tombstone masks. No hit → the batch flows through
  * UNTOUCHED (zero copy); any hit → the surviving rows copy into fresh
  * on-heap vectors (GC-managed — no off-heap lifecycle to track) via
  * Spark's own row→column converter. A fully-masked batch is skipped.
  */
private[lakehouse] final class MaskingColumnarReader(
    in: PartitionReader[ColumnarBatch],
    outSchema: StructType,
    masks: Array[MorMaskSpec],
    origin: Long) extends PartitionReader[ColumnarBatch] {

  import org.apache.spark.sql.execution.GraftColumnarAccess
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector

  @transient private lazy val converter = GraftColumnarAccess.converter(outSchema)
  private var cur: ColumnarBatch = _

  override def next(): Boolean = {
    while (in.next()) {
      val b = in.get()
      var anyMasked = false
      val probe = b.rowIterator()
      while (!anyMasked && probe.hasNext) {
        if (LakehouseMor.masked(probe.next(), masks, origin)) anyMasked = true
      }
      if (!anyMasked) {
        LakehouseMor.batchesPassedThrough.incrementAndGet()
        cur = b; return true
      }
      LakehouseMor.batchesCopied.incrementAndGet()
      val vectors = OnHeapColumnVector.allocateColumns(b.numRows, outSchema)
      var kept = 0
      val it = b.rowIterator()
      while (it.hasNext) {
        val row = it.next()
        if (!LakehouseMor.masked(row, masks, origin)) {
          converter.convert(row, vectors.asInstanceOf[Array[
            org.apache.spark.sql.execution.vectorized.WritableColumnVector]])
          kept += 1
        }
      }
      if (kept > 0) {
        val out = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]])
        out.setNumRows(kept)
        cur = out
        return true
      }
    }
    false
  }

  override def get(): ColumnarBatch = cur
  override def close(): Unit = in.close()
}
