package graft.lakehouse

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructType}

/** Append-only DSv2 micro-batch stream over a lakehouse table — the
  * `spark.readStream.table("graft.db.t")` face (the Delta
  * `skipChangeCommits` shape):
  *
  *  - Offset = snapshot id, or a mid-bootstrap file cursor
  *    (`{"s":snapshot,"f":filesDelivered}` — [[FileSliceOffset]], the
  *    same composite the changefeed uses); the FIRST batch (from
  *    offset 0) is the stream-start snapshot's full state (the
  *    bootstrap), read through the native scan (MoR masks included).
  *    `startingVersion` / `startingTimestamp` / `startingTag` pin the
  *    bootstrap at a historical snapshot (a release tag's state) and
  *    stream increments from there — ignored once a checkpoint exists.
  *  - Every later batch delivers exactly the files ADDED by its
  *    snapshot range — partition-hostable, which is why the DSv2 face
  *    exists for the ingest-tail case while CHANGEFEED semantics (diff
  *    batches = a shuffle, not fixed partitions) stay with the V1
  *    `format("graft-changefeed")` source.
  *  - A change-shaped commit in the range — files removed (rewrite/
  *    delete/compact) or tombstones changed (MoR apply) — fails the
  *    stream LOUDLY, or is skipped entirely under
  *    `.option("skipChangeCommits", true)` (its added files are NOT
  *    delivered, mirroring Delta). A schema-only alter passes through
  *    UNLESS it ADDs a column that survives at head: the stream's
  *    schema is pinned at start, so the new column's values have no
  *    slot — delivering the batch would silently undeliver them
  *    forever. That shape fails loudly (uncommitted offset: a restart
  *    re-pins the evolved schema and redelivers the range WITH the
  *    column), mirroring the changefeed's contract.
  *
  * Each batch plans through a snapshot-pinned [[LakehouseBatchScan]]
  * restricted to the batch's file slice, so the vectorized readers,
  * layout grouping, and rename-epoch handling are the SAME code the
  * batch face runs; [[LakehouseReaderFactory]] dispatches on the spec
  * each partition carries, so one factory serves every batch.
  * Incremental batches plan MASK-FREE (`masked = false`): appended
  * files must deliver as-committed — under `skipChangeCommits` a batch
  * spanning append(A) then MoR-apply(B) would otherwise let B's
  * tombstones retro-filter A's rows, making delivered content depend
  * on trigger timing. (In loud mode the two plans agree: a mask can
  * only affect files OLDER than itself, and any tombstone change in
  * the range fails the stream anyway.)
  */
private[lakehouse] final class LakehouseMicroBatchStream(
    options: Map[String, String],
    required: StructType,
    accepted: Array[Filter]) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  @transient private lazy val spark = SparkSession.active
  @transient private lazy val table =
    new LakehouseTable(spark, LakehouseSource.rootOf(options))

  private val skipChangeCommits = LakehouseSource.boolOpt(options, "skipChangeCommits")

  /** Admission control: the changefeed's caps ([[TriggerCaps]]); a
    * mid-bootstrap cursor rides a [[FileSliceOffset]].
    */
  private val caps = TriggerCaps.of(options)

  /** Stream-start pin — `.option("startingVersion", 3)` /
    * `.option("startingTimestamp", "2026-01-01 00:00:00")` (UTC; epoch
    * millis and ISO-8601 instants accepted too) /
    * `.option("startingTag", "corpus-v1")`: a FRESH checkpoint
    * bootstraps the PINNED snapshot's full state and follows
    * increments from there, instead of replaying the
    * head-state bootstrap — how a 100 TB corpus table streams from a
    * pinned release tag without rereading history it doesn't want.
    * The Delta option pair plus the tag form q141's refs make natural.
    * Resolved LAZILY (only a cold start consults it): once a
    * checkpoint exists the committed offset wins and the option is
    * ignored — so a tag dropped after the stream first started can
    * never wedge a restart.
    */
  @transient private lazy val startSnapshot: Option[Long] = {
    // case-insensitive like every other option (some option paths
    // lowercase keys through CaseInsensitiveStringMap)
    def opt(name: String): Option[String] =
      options.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
    LakehouseSource.streamStartSnapshot(table, opt("startingVersion"),
      opt("startingTimestamp"), opt("startingTag"))
  }

  /** Column names (lowercased) the stream PINNED at start — the
    * mid-stream-ADD guard's reference. Computed EAGERLY: construction
    * is run start, the same moment the engine resolves the query's
    * schema; a lazy pin could slip past an upstream ADD and let the
    * guard wave the batch through.
    */
  private val pinnedNames: Set[String] =
    table.currentSnapshot().map(s =>
      DataType.fromJson(s.schemaJson).asInstanceOf[StructType]
        .fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet)
      .getOrElse(Set.empty)

  // Trigger.AvailableNow: pin the head at prepare time and cycle
  // batches until the stream reaches it (without the trait Spark
  // falls back to single-batch execution, and a WAL-replayed batch
  // would consume the whole run)
  @volatile private var availableNowHead: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowHead = table.currentSnapshot().map(_.snapshotId)

  override def initialOffset(): Offset = LongOffset(0L)

  override def latestOffset(): Offset =
    availableNowHead.orElse(table.currentSnapshot().map(_.snapshotId))
      .map(LongOffset(_)).orNull

  /** SupportsAdmissionControl face (required by the AvailableNow
    * trait): honors the source-option caps; the engine-side ReadLimit
    * arg is unused (Delta's shape — caps are source options).
    */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val head = availableNowHead.orElse(table.currentSnapshot().map(_.snapshotId))
      .getOrElse(return null)
    val pos = Option(start).map(o => ChangeFeedSource.parsePos(o.json))
    val cold = pos.forall(_ == Left(0L))
    if (caps.isEmpty && !(cold && startSnapshot.isDefined))
      return LongOffset(head)
    pos match {
      case None | Some(Left(0L)) =>
        // cold start: bootstrap snapshot — the explicit stream-start
        // pin when given (the pin wins over the snapshot cap; the
        // file/byte caps still slice its file list), else the earliest
        // retained snapshot clamped forward under the snapshot cap
        val bootEnd = startSnapshot.map(math.min(_, head))
          .getOrElse(caps.bootSnapshot(table, head))
        val cut = caps.sliceEnd(table, bootEnd, 0L)
        if (cut < table.snapshotOrThrow(bootEnd).files.size) FileSliceOffset(bootEnd, cut)
        else LongOffset(bootEnd)
      case Some(Right((s, k))) =>
        // mid-bootstrap: advance the file cursor; the final slice lands
        // on the plain snapshot offset, ending the bootstrap phase (if
        // the caps were removed across a restart, the remainder is one
        // batch)
        val cut = caps.sliceEnd(table, s, k)
        if (cut < table.snapshotOrThrow(s).files.size) FileSliceOffset(s, cut)
        else LongOffset(s)
      case Some(Left(s)) =>
        // the head never regresses below a committed offset
        LongOffset(math.max(caps.incrementalEnd(table, s, head), s))
    }
  }

  override def deserializeOffset(json: String): Offset =
    ChangeFeedSource.parsePos(json) match {
      case Left(s) => LongOffset(s)
      case Right((s, k)) => FileSliceOffset(s, k)
    }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  /** Files ADDED in (start, end] under the append-only contract. */
  private def deliveredFiles(start: Long, end: Long): Set[String] = {
    val snaps = table.listSnapshots()
    val byId = snaps.map(s => s.snapshotId -> s).toMap
    snaps.filter(s => s.snapshotId > start && s.snapshotId <= end &&
        s.branch.isEmpty).flatMap { s =>
      s.parentId.flatMap(byId.get) match {
        case None if s.parentId.isDefined =>
          // the parent expired out of retention: the diff is
          // unreconstructable — a stale checkpoint must fail loudly
          throw new IllegalStateException(
            s"snapshot ${s.snapshotId}'s parent ${s.parentId.get} has been " +
              "expired: the stream's checkpoint is older than the table's " +
              "retention — restart from a fresh checkpoint")
        case parent =>
          val pf = parent.map(_.files.toSet).getOrElse(Set.empty[String])
          val pt = parent.map(_.tombstones.toSet).getOrElse(Set.empty[String])
          val removed = pf.diff(s.files.toSet)
          val changeShaped = removed.nonEmpty || s.tombstones.toSet != pt
          if (!changeShaped) s.files.filterNot(pf)
          else if (skipChangeCommits) Nil
          else throw new UnsupportedOperationException(
            s"snapshot ${s.snapshotId} (${s.operation}) rewrites or deletes " +
              "data: readStream.table serves APPEND-ONLY lineages — set " +
              ".option(\"skipChangeCommits\", true) to skip such commits, or " +
              "consume row-level changes via format(\"graft-changefeed\")")
      }
    }.toSet
  }

  /** The mid-stream-ADD guard (the changefeed's contract, ported): an
    * `alter` in the range that ADDs a column still alive at head — the
    * alias lineage counts, or an add-then-rename would slip past — is
    * the one shape the pinned schema cannot carry; fail LOUDLY so the
    * uncommitted offset redelivers the range with the column after a
    * restart re-pins. (Dropped again by head → values are moot →
    * deliver without it.)
    */
  private def guardMidStreamAdd(start: Long, end: Long): Unit = {
    if (pinnedNames.isEmpty) return
    def lk(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    lazy val headSnap = table.currentSnapshot()
    lazy val headNames = headSnap.map(s =>
      DataType.fromJson(s.schemaJson).asInstanceOf[StructType]
        .fieldNames.map(lk).toSet).getOrElse(Set.empty)
    lazy val aliasNames = headSnap.map(_.aliases.values.flatten.map(a => lk(a.name)).toSet)
      .getOrElse(Set.empty[String])
    table.schemaChangesBetween(start, end).map(DdlRecord.parse)
      .filter(_.op == "add").flatMap(_.column).foreach { c =>
        val aliveAtHead = headNames(lk(c)) || aliasNames(lk(c))
        if (!pinnedNames(lk(c)) && aliveAtHead)
          throw new IllegalStateException(
            s"upstream added column '$c' mid-stream: the stream's pinned " +
              "schema cannot carry its values — restart the stream (the " +
              "checkpoint resumes here and re-pins the evolved schema)")
      }
  }

  /** The PINNED schema re-expressed in the pin snapshot's CURRENT
    * names (same types, same positions — the engine consumes rows
    * positionally, so the stream's output keeps the pinned names).
    * A pinned column RENAMED inside the stream's range would otherwise
    * ask the scan for a name the pin snapshot no longer declares and
    * silently null-fill the values (the changefeed face maps through
    * the alias lineage; this is the DSv2 face's equivalent). Chains
    * come from the current head — the one manifest that knows every
    * rename ever — and resolve to the name as-of the pin snapshot.
    * Width guard: a pin-snapshot type WIDER than the pinned one is a
    * live mid-stream widen — the pinned slot cannot carry the wide
    * values (the parquet readers refuse a narrowing request), so fail
    * LOUDLY with the restart contract (the uncommitted offset means a
    * restart re-pins the widened schema and redelivers the range).
    * The inverse (pin narrower — a bootstrap slice predating a later
    * widen) reads fine: parquet upcasts natively.
    */
  private def requiredAt(pinSnapshot: Long): StructType = {
    def lk(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val pinSnap = table.snapshotOrThrow(pinSnapshot)
    val pinByKey = DataType.fromJson(pinSnap.schemaJson).asInstanceOf[StructType]
      .fields.map(f => lk(f.name) -> f).toMap
    val chains: Seq[(List[AliasEntry], String)] =
      table.currentSnapshot().map(_.aliases.toSeq.map {
        case (cur, lineage) => (lineage, cur)
      }).getOrElse(Nil)
    // a column's name as-of the pin: the first lineage entry renamed
    // away AFTER the pin still named it then; otherwise the current name
    def nameAt(lineage: List[AliasEntry], cur: String): String =
      lineage.find(_.renamedAt > pinSnapshot).map(_.name).getOrElse(cur)
    StructType(required.fields.map { f =>
      val k = lk(f.name)
      val resolved =
        if (pinByKey.contains(k)) f.name
        else chains.collectFirst {
          case (lineage, cur) if lk(cur) == k || lineage.exists(a => lk(a.name) == k) =>
            nameAt(lineage, cur)
        }.getOrElse(f.name) // added-after-pin / dropped: null-fills
      pinByKey.get(lk(resolved)).foreach { pf =>
        if (pf.dataType != f.dataType && !table.canWiden(pf.dataType, f.dataType))
          throw new IllegalStateException(
            s"upstream widened column '${f.name}' to ${pf.dataType.simpleString} " +
              s"mid-stream: the stream's pinned ${f.dataType.simpleString} cannot " +
              "carry its values — restart the stream (the checkpoint resumes " +
              "here and re-pins the evolved schema)")
      }
      f.copy(name = resolved)
    })
  }

  /** Partitions for one snapshot-pinned slice; `masked=false` plans
    * tombstone-free (incremental appended files — see class doc).
    */
  private def partitionsFor(pinSnapshot: Long, files: Set[String],
      masked: Boolean): Array[InputPartition] = {
    if (files.isEmpty) return Array.empty
    new LakehouseBatchScan(options + ("snapshotId" -> pinSnapshot.toString),
      requiredAt(pinSnapshot), accepted, fileSubset = Some(files),
      masked = masked).planInputPartitions()
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // handles live offsets and checkpoint-restored serialized forms
    // (both parse from json); replays after a crash read the identical
    // immutable range — every case is a pure function of its offsets
    import ChangeFeedSource.parsePos
    (parsePos(start.json), parsePos(end.json)) match {
      case (Left(0L), Left(e)) =>
        if (e <= 0L) Array.empty
        // bootstrap = the snapshot's full state, MoR masks included
        else partitionsFor(e, table.snapshotOrThrow(e).files.toSet, masked = true)
      case (Left(0L), Right((bs, k))) =>
        // bootstrap's first file slice (tombstones mask per-row, so
        // slicing commutes with masking)
        partitionsFor(bs,
          table.snapshotOrThrow(bs).files.take(k.toInt).toSet, masked = true)
      case (Right((s1, k1)), Right((s2, k2))) =>
        require(s1 == s2 && k1 < k2,
          s"non-monotone bootstrap range ($s1,$k1) -> ($s2,$k2)")
        partitionsFor(s1, table.snapshotOrThrow(s1)
          .files.slice(k1.toInt, k2.toInt).toSet, masked = true)
      case (Right((s, k)), Left(e)) =>
        // the bootstrap's final slice; a same-batch head advance
        // (e > s) appends the incremental files — still pure functions
        // of the range, each pinned at its own snapshot
        val snap = table.snapshotOrThrow(s)
        val rest = partitionsFor(s,
          snap.files.drop(k.toInt).toSet, masked = true)
        if (e <= s) rest
        else {
          guardMidStreamAdd(s, e)
          rest ++ partitionsFor(e, deliveredFiles(s, e), masked = false)
        }
      case (Left(s), Left(e)) =>
        if (e <= s) Array.empty
        else {
          guardMidStreamAdd(s, e)
          partitionsFor(e, deliveredFiles(s, e), masked = false)
        }
      case (Left(s), Right((s2, _))) => throw new IllegalStateException(
        s"bootstrap offset ($s2) cannot follow a committed snapshot offset ($s)")
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakehouseReaderFactory
}
