package graft.lakehouse

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.sources
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/** Per-column file statistics recorded in the snapshot manifest at
  * data-file write time (the Iceberg/Delta stats-in-metadata pattern).
  * `typ` tags how min/max strings decode: "long" | "double" | "string".
  * Binary columns are recorded ONLY when their parquet logical type is
  * String — Binary also backs DECIMAL (unscaled bytes) and friends,
  * where a UTF-8 compare is meaningless and could wrongly prune.
  * Floats are widened to exact doubles before encoding (Float.toString
  * re-parsed as a Double is a DIFFERENT value near file boundaries —
  * a pruning decision off by one ulp silently drops rows).
  */
final case class ColumnStat(typ: String, min: String, max: String,
    nulls: Option[Long] = None)

/** Manifest stats for one data file: row count + per-column min/max.
  * A file PRESENT in the snapshot's stats map never needs its parquet
  * footer opened at planning time; columns absent from `cols` simply
  * never prune (no evidence → keep).
  */
final case class FileStats(rows: Long, cols: Map[String, ColumnStat],
    // on-disk bytes, recorded at write time: split planning and join-size
    // estimation then run off the manifest alone (no per-file fs calls).
    // Option so pre-round-9 manifests parse as None (fs-size fallback).
    bytes: Option[Long] = None,
    // Some(true) iff EVERY top-level column in the footer carries a
    // `parquet.field.id` stamp — recorded at write time (the one moment
    // the footer is hot), so the read planner can route fully-stamped
    // files to ID-KEYED parquet resolution (FIELD_IDS.md final step)
    // with zero plan-time I/O. Option so older manifests parse as None
    // (those files keep name/era resolution — the safe fallback).
    fids: Option[Boolean] = None)

/** Snapshot manifest: one JSON file per table version (SURVEY.md §7.3).
  * `stats` maps data-file path → write-time footer stats; None only for
  * manifests written before stats existed (footer-open fallback).
  */
/** Streaming-transaction mark recorded in a snapshot (the Delta
  * `SetTransaction` pattern): `(appId, version)` identifies one
  * exactly-once producer batch — foreachBatch passes its query name
  * and batchId. A write guarded by a mark whose version is ≤ the
  * app's last recorded version is a no-op, which is what makes a
  * replayed micro-batch (wrote, then crashed before the checkpoint
  * committed) harmless on restart.
  */
final case class TxnMark(appId: String, version: Long)

/** One FORMER name of a column (`ALTER TABLE … RENAME COLUMN`), with
  * the snapshot that applied the rename: data files whose origin
  * snapshot predates `renamedAt` may physically carry this name, and
  * the read paths resolve it back to the current column (coalesce —
  * a file holds exactly one of the name variants). Once compaction has
  * rewritten every pre-rename file, the entry is inert (the native-scan
  * dispatch checks live file origins, not the entry's existence).
  */
final case class AliasEntry(name: String, renamedAt: Long)

/** One BRANCH ref file's body (`_refs/branches/<name>.json`): the
  * FORK snapshot the branch grew from. The branch HEAD is derived —
  * the newest snapshot carrying `branch = Some(name)` AND this ref's
  * `epoch`, or the fork itself before any branch commit — so the ref
  * never needs to move. `epoch` keys the branch INCARNATION (ADVICE
  * r13): a dropped/published branch's surviving snapshots carry the
  * dead incarnation's epoch, so the standard WAP pattern of a fixed
  * branch name per pipeline run re-forks immediately — the dead
  * lineage can never resolve as the new branch's head. Option so
  * round-13 refs parse unchanged (their snapshots carry no epoch
  * either, and None == None keeps them paired).
  */
final case class BranchRef(fork: Long, createdMs: Long,
    epoch: Option[Long] = None)

/** One snapshot-tag ref file's body (`_refs/<name>.json`).
  * `maxRefAgeMs` is the tag's own retention: once `createdMs +
  * maxRefAgeMs` passes, the next expiry sweep drops the REF (and with
  * it the pin) — how a CI that tags every run keeps `_refs/` bounded.
  * None = the tag lives until dropped (the round-12 default). Option
  * so round-12 ref files parse unchanged.
  */
final case class TagRef(snapshot: Long, createdMs: Long,
    maxRefAgeMs: Option[Long] = None)

/** Provenance of a cloned table root (`_clone.json`, written by
  * [[LakehouseTable.cloneAtTag]]/[[LakehouseTable.cloneAtSnapshot]]):
  * where the seed came from, which source tag PINS the referenced
  * files against source expiry (the GC contract — None for deep
  * clones, which own their bytes), and whether bytes were copied.
  */
final case class CloneInfo(sourceRoot: String, snapshotId: Long,
    pinTag: Option[String], deep: Boolean, createdMs: Long)

/** Spec seam for the DISTRIBUTED clone/deepen byte localization
  * (local-mode tests share the JVM, so static counters observe the
  * executor-side copy work — the [[LakehouseWriteStats]] pattern):
  * `copyTasks` counts Spark tasks that copied at least one file,
  * `filesCopied` the files they moved. Observability only — never
  * read on a decision path.
  */
object CloneCopyStats {
  val copyTasks = new java.util.concurrent.atomic.AtomicLong
  val filesCopied = new java.util.concurrent.atomic.AtomicLong
}

/** Iceberg-style FIELD IDS, assigned at commit time (see FIELD_IDS.md
  * for the design spike): `ids` maps each live column's DECLARED name
  * to its immutable id, `next` is the never-decreasing allocation
  * high-water mark — a dropped column's id is RETIRED forever (re-adding
  * the name after compaction allocates a fresh id), and a rename carries
  * the old name's id to the new name. Round 12 stamps ids on every new
  * snapshot (older manifests parse as None and backfill positionally at
  * their next commit) but resolution stays name-based; the note records
  * the migration path to id-based resolution.
  */
final case class FieldIdState(ids: Map[String, Int], next: Int)

/** Another process published this table version between this writer's
  * head read and its manifest publish — detected by the atomic
  * put-if-absent commit ([[LakehouseTable]]'s `writeSnapshot`).
  * Append-shaped commits absorb it internally by REBASING onto the new
  * head (appends add files and remove nothing, so they can never
  * conflict — the Delta blind-append rule); rewrite-shaped commits
  * (upsert / CDC apply / delete / compact / SQL DML / overwrite /
  * rollback / alter) surface it, because the files they planned to
  * rewrite were chosen against a head that is no longer current — the
  * caller re-runs the operation against the new head (the Delta
  * `ConcurrentModificationException` contract).
  */
final class ConcurrentCommitException(val table: String, val version: Long)
    extends java.util.ConcurrentModificationException(
      s"concurrent commit on '$table': snapshot $version was published by " +
        "another writer between this commit's head read and its publish; " +
        "re-run the operation against the new table head")

final case class Snapshot(
    snapshotId: Long,
    parentId: Option[Long],
    timestampMs: Long,
    operation: String, // append | upsert | overwrite | rollback | compact | apply
    files: Seq[String], // data-file paths relative to the table root
    schemaJson: String,
    stats: Option[Map[String, FileStats]] = None,
    txn: Option[TxnMark] = None,
    // merge-on-read key tombstones (Iceberg-v2 equality-delete shape):
    // parquet files of KEY COLUMNS, each masking matching rows in data
    // files whose origin snapshot is OLDER than the tombstone's — so a
    // CDC apply is a pure append (data + tombstone, zero rewrites) and
    // reads pay one anti-join until compaction folds them. Option so
    // pre-MoR manifests parse as None (the validated json4s
    // compatibility shape).
    deletes: Option[Seq[String]] = None,
    // cumulative column-rename lineage: CURRENT column name → its former
    // names (oldest first), each with the snapshot that renamed it away.
    // Carried on every snapshot (self-contained under snapshot expiry
    // and time travel — no lineage walk needed at read time). Option so
    // pre-rename manifests parse as None.
    renames: Option[Map[String, List[AliasEntry]]] = None,
    // cumulative DROPPED-column registry: former column name → the
    // snapshot that dropped it. Kept while pre-drop files could still
    // carry the column's physical data (alias resolution is by NAME,
    // so re-adding the name would resurrect stale values); compaction
    // — which rewrites every file — clears it. Carried forward like
    // `renames`; Option so older manifests parse as None.
    drops: Option[Map[String, Long]] = None,
    // partition-spec EVOLUTION marker: set only on the `alter` snapshot
    // [[LakehouseTable.setPartitionSpec]] commits, carrying the NEW
    // declared layout — which is how the change makes the schema-history
    // channel (schemaChangesBetween emits a set_spec DdlRecord for it),
    // so replica layouts follow the source instead of silently keeping
    // their own bucket-pruning/SPJ geometry. NOT cumulative (one-shot
    // event, unlike renames/drops); Option so older manifests parse as
    // None.
    specChange: Option[Seq[String]] = None,
    // field-id assignment state ([[FieldIdState]]): stamped by
    // writeSnapshot on every new commit, restored by rollback from its
    // target (with the high-water mark clamped monotone). Option so
    // pre-round-12 manifests parse as None.
    fieldIds: Option[FieldIdState] = None,
    // WRITE-AUDIT-PUBLISH branch membership: Some(name) marks a
    // snapshot committed to a BRANCH — invisible to main reads,
    // streams, TIMESTAMP AS OF, and replication until a fast-forward
    // publish adopts the branch head's state as a main commit. Option
    // so every earlier manifest parses as main.
    branch: Option[String] = None,
    // the branch INCARNATION this commit belongs to — [[BranchRef.epoch]]
    // of the ref that was live when it committed. A later same-named
    // branch (new epoch) never resolves this snapshot as its head.
    // Option so pre-round-14 manifests parse as None (paired with
    // epoch-less refs).
    branchEpoch: Option[Long] = None,
    // set on the MAIN commit a publishBranch produced: "<name>@<epoch>"
    // — the idempotence marker that makes publish crash-atomic (ADVICE
    // r13): a retry that finds its marker already on main completes the
    // ref drop instead of refusing forever. Option: absent on every
    // other commit.
    publishOf: Option[String] = None,
    // REBORN-column floors (FIELD_IDS.md step 2 — id-based resolution):
    // current column name → the alter snapshot that RE-introduced the
    // name over retired bytes (a re-add of a dropped name, or an add of
    // a renamed-away former name). Files whose origin snapshot is older
    // than the floor NEVER serve the column physically — any
    // same-named bytes they hold belong to a retired field id and read
    // as NULL, which is what lets drop-then-re-add and former-name
    // reuse work WITHOUT waiting for compaction. Cumulative like
    // `renames`/`drops` (compact/overwrite reset it explicitly);
    // Option so pre-round-13 manifests parse as None.
    reborn: Option[Map[String, Long]] = None) {
  /** The tombstone file list (empty = plain copy-on-write snapshot). */
  def tombstones: Seq[String] = deletes.getOrElse(Nil)
  /** Current-name → former-names map (empty = never renamed). */
  def aliases: Map[String, List[AliasEntry]] = renames.getOrElse(Map.empty)
  /** Dropped-name → dropping-snapshot map (empty = nothing dropped). */
  def droppedCols: Map[String, Long] = drops.getOrElse(Map.empty)
  /** Reborn-name → floor-snapshot map (empty = no name ever reused). */
  def rebornFloors: Map[String, Long] = reborn.getOrElse(Map.empty)
}

/** Pushed-down scan predicate for the skipping read path
  * ([[LakehouseTable.read(preds*)]]): equality probes consult bloom
  * sidecars AND parquet-footer min/max, ranges consult footer min/max
  * (the z-order payoff), and hive partition directories prune on their
  * path values — all automatically, no per-index opt-in. Skipping is
  * an optimization, never a correctness dependency: files without
  * evidence are read, and the exact predicate re-applies after the
  * scan (false positives die there).
  */
sealed trait ScanPredicate { def column: String }
object ScanPredicate {
  /** `column = value` (value coerced to the column type pre-hash). */
  final case class EqualTo(column: String, value: Any) extends ScanPredicate
  /** `lower <= column <= upper` (either bound optional, inclusive). */
  final case class Range(column: String, lower: Option[Any], upper: Option[Any])
      extends ScanPredicate
  /** `column LIKE 'prefix%'` on a string column: prunes on min/max
    * UTF-8 byte order (a file may hold a prefix match iff max >= prefix
    * and min is below the prefix's successor) and on partition-path
    * values. No byte-increment gymnastics needed: min < successor(p)
    * ⟺ min starts with p OR min < p.
    */
  final case class StartsWith(column: String, prefix: String) extends ScanPredicate
  /** `column IS NULL`: prunes files whose manifest stats record ZERO
    * nulls for the column, and hive partition dirs whose path value is
    * non-null. Files without null counts (pre-round-9 manifests) are
    * always kept.
    */
  final case class IsNull(column: String) extends ScanPredicate
  /** `column IN (values)` at ANY list size: the probe list sorts once,
    * then each file answers with a binary search against its manifest
    * [min, max] — O(log n) per file where per-value equality probes
    * would pay O(n · files) planning. This is what a RUNTIME join
    * filter (dynamic file pruning) sends: the dim side's distinct keys,
    * often thousands of them. Small in-range slices refine through the
    * bloom sidecar; null probes drop (IN never matches on null), and an
    * all-null list prunes every file.
    */
  final case class InSet(column: String, values: Seq[Any]) extends ScanPredicate
}

/** One IN probe list, prepared once per predicate: sorted arrays for
  * range binary-search (per stat type tag), sets for partition-path
  * membership, memoized bloom hashes. None where the values don't all
  * coerce to that stat type (no evidence — files keep).
  */
private[lakehouse] final class InProbes(values: Seq[Any]) {
  val nonNull: Seq[Any] = values.filterNot(_ == null)

  private def asLong(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case s: String => scala.util.Try(s.trim.toLong).toOption
    case _ => None
  }
  private def asDouble(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case l: Long => Some(l.toDouble)
    case i: Int => Some(i.toDouble)
    case s: String => scala.util.Try(s.trim.toDouble).toOption
    case _ => None
  }

  lazy val longs: Option[Array[Long]] = {
    val conv = nonNull.map(asLong)
    if (conv.exists(_.isEmpty)) None else Some(conv.flatten.toArray.sorted)
  }
  lazy val doubles: Option[Array[Double]] = {
    val conv = nonNull.map(asDouble)
    if (conv.exists(_.isEmpty)) None else Some(conv.flatten.toArray.sorted)
  }
  /** UTF-8 byte images, sorted under Spark's string order. */
  lazy val strings: Array[Array[Byte]] =
    nonNull.map(v => String.valueOf(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .toArray.sortWith((a, b) => InProbes.utf8Cmp(a, b) < 0)

  lazy val longSet: Option[Set[Long]] = longs.map(_.toSet)
  lazy val doubleSet: Option[Set[Double]] = doubles.map(_.toSet)
  lazy val stringSet: Set[String] = nonNull.map(String.valueOf).toSet

  /** Memoized xxhash64 per probe value (bloom sidecar refinement) —
    * concurrent because pruneFiles verdicts run in parallel.
    */
  private val hashes = new java.util.concurrent.ConcurrentHashMap[Any, java.lang.Long]()
  def hashOf(v: Any, compute: Any => Long): Long =
    hashes.computeIfAbsent(v, compute(_)).longValue()
}

private[lakehouse] object InProbes {
  /** Probes in a file's [min, max] beyond this count skip the bloom
    * refinement (range evidence already did the heavy pruning).
    */
  val BloomProbeCap = 16

  def utf8Cmp(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Smallest index whose element is >= key (insertion point). */
  def lowerBound[T](arr: Array[T], key: T, cmp: (T, T) => Int): Int = {
    var lo = 0; var hi = arr.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cmp(arr(mid), key) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** "Lakehouse-lite": a snapshot-versioned Parquet table — append/upsert,
  * time travel, rollback, snapshot expiry and partition-scoped
  * compaction with pure Spark + JSON manifests, replacing the
  * reference's Iceberg dependency (no Iceberg jar ships in this env).
  *
  * Semantics ported from the reference (behavior only):
  *  - append / auto-create from first batch — `sinks/iceberg.py:116-212`
  *  - upsert = delete-matching-keys + insert — `sinks/iceberg.py` upsert path
  *  - snapshot listing / point-in-time scan / rollback (with invalid-id
  *    validation listing valid ids) — `lakehouse/time_travel.py:19-58`
  *  - expiry of snapshots older than a cutoff — `lakehouse/maintenance.py:106-124`
  *  - compaction guarded by file-count threshold and row cap —
  *    `lakehouse/maintenance.py:126-244`
  *
  * Layout: `<root>/data/s<snapshotId>/part-*.parquet` (files immutable
  * once written; a snapshot references any subset of live files) +
  * `<root>/_snapshots/<id padded>.json`.
  *
  * Scale notes: the manifest holds file paths only (O(files), not
  * O(rows)); reads prune to exactly the snapshot's files; upsert
  * rewrites only the files that actually contain matching keys (read
  * amplification bounded by key locality, the same trick Iceberg/Delta
  * MERGE uses); compaction is per-partition-directory with a row cap.
  *
  * Concurrency: writers in ONE process serialize on [[writeLock]] (the
  * reference serializes its writers with a lock too); ACROSS processes
  * the commit is optimistic — manifests publish via an atomic
  * put-if-absent, appends rebase past a lost race (data files are
  * never rewritten; the same files re-commit on the new head, with
  * txn marks re-checked so racing replicas of one streaming batch
  * can't double-apply), and rewrite-shaped commits surface
  * [[ConcurrentCommitException]] for the caller to re-run. Data
  * directories carry a per-write nonce so racing claimants of one
  * version can't clobber each other's uncommitted files, and vacuum
  * gives unreferenced files the retention-cutoff grace before deleting
  * (another process's in-flight write looks exactly like an orphan).
  */
final class LakehouseTable(spark: SparkSession, val root: String,
    /** Cluster each partitioned write by its partition columns before
      * writing (the Delta `optimizeWrite` / Iceberg
      * write.distribution-mode=hash shape): a W-task batch into a
      * P-partition layout otherwise writes up to W×P small files —
      * at 1000 executors that is the small-file explosion that kills
      * scan planning; clustered, each partition value lands in ONE
      * task and writes ONE file per batch. Costs one extra shuffle of
      * the batch (batch-sized, never table-sized). Off by default:
      * single-task batches (the micro-batch norm) don't need it, and
      * tests pin exact file layouts.
      */
    val optimizeWrite: Boolean = false,
    /** Target on-disk bytes per file for optimize-write (the Delta
      * bin-packing shape): a SKEWED partition value would otherwise
      * land its whole batch share in one giant file (bad splits, bad
      * compaction units). With a target, the writer caps records per
      * file at target / (manifest-estimated bytes-per-row of the head
      * snapshot) — the estimate costs zero I/O; a fresh table (no
      * estimate yet) writes uncapped and self-corrects from batch 2.
      */
    val optimizeWriteTargetBytes: Option[Long] = None) {
  private implicit val fmts: Formats = DefaultFormats

  private[lakehouse] def session: SparkSession = spark

  private val rootPath = Paths.get(root)
  private val snapsDir = rootPath.resolve("_snapshots")
  private val dataDir = rootPath.resolve("data")

  /** In-process writer exclusion: every snapshot-creating operation
    * (sink writes AND maintenance) serializes on this lock — the
    * engine-side form of the reference's shared asyncio write lock
    * between the iceberg sink and its maintenance loops
    * (`sinks/iceberg.py:93-101`, `lakehouse/maintenance.py:62-104`).
    * It is an OPTIMIZATION, not the safety story: cross-process (and
    * cross-handle) writers are serialized by the atomic put-if-absent
    * manifest publish in [[writeSnapshot]]. Readers never take it:
    * manifests are immutable once written, so a read sees a consistent
    * snapshot regardless of concurrent writes.
    */
  private val writeLock = new Object

  // ---------------- snapshot bookkeeping ----------------

  /** Snapshot manifests are IMMUTABLE once written (expiry deletes,
    * nothing rewrites), so parse each file once per handle and key the
    * cache by file name: a listing still hits the directory every call
    * (cross-process writers stay visible — a cached handle must never
    * miss another writer's txn marks or head advance), but per-commit
    * metadata cost is O(new files), not O(history) JSON re-parsing.
    */
  @transient private lazy val snapshotCache =
    new java.util.concurrent.ConcurrentHashMap[String, Snapshot]()

  def listSnapshots(): Seq[Snapshot] = {
    if (!Files.isDirectory(snapsDir)) return Nil
    graft.Fs.listAll(snapsDir)
      .filter(_.toString.endsWith(".json"))
      .sortBy(_.getFileName.toString)
      .map { p =>
        val key = p.getFileName.toString
        var s = snapshotCache.get(key)
        if (s == null) {
          // second tier: JVM-level parse cache — lifecycle paths build
          // many short-lived handles of the same root (one per stream
          // epoch / catalog resolution), and each re-parsed the whole
          // history without it (guide §1.2 driver work). Keyed by
          // (root, name, size, mtime) so a delete-and-recreate of the
          // same root (fixed temp roots across bench reps) can never
          // serve a stale parse; the attribute probe is one stat vs a
          // full read + JSON parse.
          s = LakehouseTable.parsedManifest(root, p)
          snapshotCache.put(key, s)
        }
        s
      }
  }

  /** The MAIN head: branch commits (write-audit-publish) are invisible
    * until published.
    */
  def currentSnapshot(): Option[Snapshot] =
    listSnapshots().reverseIterator.find(_.branch.isEmpty)

  /** Version ids are GLOBAL across main and branches (one id space,
    * one put-if-absent arbiter per id).
    */
  private def nextId(): Long =
    listSnapshots().lastOption.map(_.snapshotId + 1).getOrElse(1L)

  /** Test seam for the commit protocol: runs after a commit's snapshot
    * body is final but BEFORE its atomic publish attempt, so a spec can
    * inject a concurrent writer at exactly the race window and exercise
    * the rebase/conflict paths deterministically. Production no-op.
    */
  private[graft] var onBeforePublish: () => Unit = () => ()

  /** Test seam for the tag-vs-expiry arbitration: runs at the top of
    * an expiry sweep BEFORE the ref lock is taken, so a spec can land
    * a concurrent tag at exactly the window the round-12 race lived
    * in and prove the locked listing protects it. Production no-op.
    */
  private[graft] var onBeforeExpireSweep: () => Unit = () => ()

  /** Publish a manifest ATOMICALLY with put-if-absent semantics: the
    * body lands in a hidden temp file first, then hard-links to its
    * final `<id>.json` name — a reader can never observe a torn
    * manifest, and of two processes claiming the same version EXACTLY
    * ONE wins the link (the loser gets [[ConcurrentCommitException]]
    * and rebases or surfaces it). This is the filesystem form of a
    * conditional PUT (if-none-match); an object-store port swaps the
    * link for exactly that request.
    */
  private def writeSnapshot(s00: Snapshot): Snapshot = {
    // rename lineage is cumulative: every committed snapshot carries it
    // forward unless the writer set it explicitly (rollback restores the
    // TARGET's lineage, overwrite resets to Some(empty) — the sentinel
    // distinguishing "reset" from "inherit")
    // the registries inherit from the commit's OWN parent — the head
    // its writer read, main or branch alike (a branch commit inheriting
    // main's registries would mis-resolve its eras). The parent was
    // listed moments ago, so this is a cache hit, not a listing.
    val head = s00.parentId.map(pid =>
      Option(snapshotCache.get(f"$pid%09d.json")).getOrElse(snapshotOrThrow(pid)))
    val s0a = if (s00.renames.isEmpty)
      s00.copy(renames = head.flatMap(_.renames)) else s00
    // the dropped-column registry is cumulative the same way (compact
    // and overwrite reset it explicitly with Some(empty))
    val s0b0 = if (s0a.drops.isEmpty)
      s0a.copy(drops = head.flatMap(_.drops)) else s0a
    // reborn floors are cumulative too — same reset sentinel
    val s0b = if (s0b0.reborn.isEmpty)
      s0b0.copy(reborn = head.flatMap(_.reborn)) else s0b0
    // field ids stamp on EVERY commit: same name (or rename lineage)
    // keeps its id, fresh names allocate monotonically, dropped ids
    // retire forever. A writer that set the state explicitly (rollback
    // restoring its target's ids) still gets the high-water mark
    // clamped against the parent — ids must never be re-allocated even
    // across a rollback that rewinds past later ADDs.
    val s0 = s0b.fieldIds match {
      case None => s0b.copy(fieldIds = Some(assignFieldIds(head, s0b)))
      case Some(st) =>
        val headNext = head.flatMap(_.fieldIds).map(_.next).getOrElse(1)
        s0b.copy(fieldIds = Some(st.copy(next = math.max(st.next, headNext))))
    }
    // TOMBSTONE key files get manifest stats too: the tombstone-volume
    // surface ($snapshots, the maintenance budget) must answer from the
    // manifest alone — without this, a lineage listing would need a
    // parquet footer read per tombstone file per snapshot
    val s = s0.copy(stats = Some(manifestStatsFor(s0.files ++ s0.tombstones)))
    Files.createDirectories(snapsDir)
    onBeforePublish()
    val p = snapsDir.resolve(f"${s.snapshotId}%09d.json")
    val tmp = Files.createTempFile(snapsDir, ".commit-", ".tmp")
    try {
      Files.writeString(tmp, Serialization.write(s))
      try Files.createLink(p, tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new ConcurrentCommitException(root, s.snapshotId)
      }
    } finally Files.deleteIfExists(tmp)
    snapshotCache.put(p.getFileName.toString, s)
    s
  }

  /** Field-id assignment for a new snapshot (FIELD_IDS.md): inherit by
    * current name from the parent state, carry a rename committed AT
    * this snapshot through its alias lineage, allocate `next++` for
    * genuinely new names. A parent lineage that predates field ids
    * backfills its declared schema positionally (1..n) first, so
    * existing tables adopt ids deterministically at their next commit.
    * Dropped names simply stop being carried — and because `next` never
    * decreases, their ids are never reused (re-add after compaction
    * gets a FRESH id, which is what makes ids a future-proof identity
    * where names are not).
    */
  private def assignFieldIds(parent: Option[Snapshot], snap: Snapshot): FieldIdState = {
    val fields = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType].fields
    val pState = parent.flatMap(_.fieldIds).getOrElse {
      parent match {
        case Some(p) =>
          val pf = DataType.fromJson(p.schemaJson).asInstanceOf[StructType].fields
          FieldIdState(pf.zipWithIndex.map { case (f, i) => f.name -> (i + 1) }.toMap,
            pf.length + 1)
        case None => FieldIdState(Map.empty, 1)
      }
    }
    val byKey = pState.ids.map { case (n, i) => nameKey(n) -> i }
    var next = pState.next
    val ids = fields.map { f =>
      val inherited = byKey.get(nameKey(f.name)).orElse(
        // renamed at THIS snapshot: the last alias entry carries the
        // old name the parent state knows
        snap.aliases.collectFirst {
          case (cur, lineage) if nameKey(cur) == nameKey(f.name) =>
            lineage.lastOption.filter(_.renamedAt == snap.snapshotId)
              .flatMap(a => byKey.get(nameKey(a.name)))
        }.flatten)
      val id = inherited.getOrElse { val n = next; next += 1; n }
      f.name -> id
    }
    FieldIdState(ids.toMap, next)
  }

  /** Stats map for a snapshot's file set: carried over for files an
    * earlier snapshot already recorded (files are immutable, so stats
    * never go stale), collected from the parquet footer — in parallel,
    * at WRITE time, the one moment the footer is hot — for new files.
    * Planning then never opens a footer (the Iceberg/Delta shape: scan
    * planning is a manifest read, object-store-friendly).
    */
  private def manifestStatsFor(files: Seq[String]): Map[String, FileStats] = {
    val missing = files.filterNot(knownStats.containsKey)
    collectStats(missing).foreach { case (f, st) => knownStats.put(f, st) }
    files.flatMap(f => Option(knownStats.get(f)).map(f -> _)).toMap
  }

  /** Every file-stats entry any manifest of this table has recorded
    * (merged once per table handle, then maintained incrementally).
    */
  @transient private lazy val knownStats: java.util.concurrent.ConcurrentHashMap[String, FileStats] = {
    val m = new java.util.concurrent.ConcurrentHashMap[String, FileStats]()
    listSnapshots().foreach(_.stats.foreach(_.foreach { case (f, st) => m.put(f, st) }))
    m
  }

  // ---------------- write paths ----------------

  /** Append a batch; auto-creates the table from the first batch's
    * schema (mirroring iceberg auto-create). `partitionBy` lays data out
    * hive-style (`col=value/` dirs) — the partition spec of
    * `sinks/iceberg.py` auto-create — enabling partition-pruned reads
    * and partition-scoped compaction.
    *
    * @throws ConcurrentCommitException in two narrow cross-process
    *   races (a blind append otherwise always rebases past a lost
    *   race): a racing MERGE-ON-READ apply published a tombstone NEWER
    *   than this append's claimed origin mid-rebase (re-run resolves),
    *   or [[LakehouseTable.MaxCommitAttempts]] consecutive publish
    *   races were lost (livelock guard under sustained contention; the
    *   loop backs off with jitter between attempts, and the caller
    *   retries).
    */
  def append(df0: DataFrame, partitionBy: Seq[String] = Nil): Snapshot = writeLock.synchronized {
    appendWith(df0, partitionBy, mark = None)
      .getOrElse(sys.error("unreachable: an unmarked append cannot be absorbed"))
  }

  /** Append `df` only if `version` is PAST `appId`'s last recorded
    * transaction mark; None means the batch was already applied (a
    * streaming replay, possibly by a RACING replica of the same app in
    * another process) and nothing was committed. See [[TxnMark]].
    *
    * @throws ConcurrentCommitException same narrow races as [[append]].
    */
  def appendIdempotent(df: DataFrame, appId: String, version: Long,
      partitionBy: Seq[String] = Nil): Option[Snapshot] = writeLock.synchronized {
    // cheap pre-check saves the data write for an already-applied batch;
    // appendWith re-checks the mark against each rebased head anyway
    if (lastTxnVersion(appId).exists(_ >= version)) None
    else appendWith(df, partitionBy, Some(TxnMark(appId, version)))
  }

  /** Append with cross-process rebase (the Delta blind-append rule):
    * the data files are written ONCE; if another process claims the
    * target version between this writer's head read and its publish,
    * the commit REBASES — the same physical files re-commit on top of
    * the new head (an append removes nothing, so it can never
    * conflict). Schema compatibility re-validates against each new head
    * (a racing writer may have evolved it), and a txn-marked append
    * re-checks its mark per attempt: if the racing commit was a replica
    * of the SAME producer batch (two instances of one streaming app),
    * this one is absorbed (None) instead of double-applying.
    * A branch `target` runs the same protocol against the branch head.
    */
  private def appendWith(df0: DataFrame, partitionBy: Seq[String],
      mark: Option[TxnMark], target: WriteTarget = MainLine): Option[Snapshot] = {
    val (head, claimedId) = target.resolve()
    requireCompatibleSchemaFor(head, df0.schema)
    val df = canonicalizedNamesAt(head, df0)
    val baseTombs = head.map(_.tombstones.toSet).getOrElse(Set.empty)
    val newFiles = writeDataFiles(df, claimedId, partitionCols = partitionBy, head = head)
    withCommitRetry {
      if (mark.exists(m => lastTxnVersion(m.appId).exists(_ >= m.version)))
        Right(None) // a racing replica of this exact batch already landed
      else {
        val (parent, id) = target.resolve()
        requireCompatibleSchemaFor(parent, df.schema) // the head (and its schema) may have moved
        // MoR masking sequences on the PATH-derived origin (= claimedId
        // here), so a racing CDC apply whose tombstone is newer than our
        // claimed id would mask this append's rows as if they predated
        // it. That one interleaving is a genuine conflict — surface it;
        // every other racer (append/compact/rewrite) rebases safely.
        val racedTombs = parent.map(_.tombstones.toSet).getOrElse(Set.empty) -- baseTombs
        if (racedTombs.exists(originOf(_) > claimedId))
          Left(new ConcurrentCommitException(root, claimedId))
        else Right(Some(target.publish(Snapshot(id, parent.map(_.snapshotId),
          System.currentTimeMillis(), "append",
          parent.map(_.files).getOrElse(Nil) ++ newFiles,
          evolvedSchemaJsonFor(parent, df.schema), txn = mark,
          deletes = parent.flatMap(_.deletes)))))
      }
    }
  }

  /** Run one optimistic commit attempt, re-running it after every LOST
    * publish race ([[writeSnapshot]]'s put-if-absent) with jittered
    * backoff — under sustained cross-process contention N lock-step
    * retry loops would otherwise keep colliding on every version. The
    * [[LakehouseTable.MaxCommitAttempts]]-th loss surfaces (livelock
    * guard; the caller retries). A genuine conflict the attempt itself
    * detects comes back as `Left` and surfaces at once, unretried.
    */
  private def withCommitRetry[T](attempt: => Either[ConcurrentCommitException, T]): T = {
    var lost = 0
    var outcome: Option[Either[ConcurrentCommitException, T]] = None
    while (outcome.isEmpty) {
      try outcome = Some(attempt)
      catch {
        case e: ConcurrentCommitException =>
          lost += 1
          if (lost >= LakehouseTable.MaxCommitAttempts) throw e
          Thread.sleep(
            java.util.concurrent.ThreadLocalRandom.current()
              .nextLong(1L, math.min(128L, 4L << math.min(lost, 5)) + 1))
      }
    }
    outcome.get.fold(conflict => throw conflict, identity)
  }

  /** Where a main-line write core commits: the MAIN lineage, or the
    * current incarnation of a write-audit-publish branch. The core
    * resolves its head, schema checks, name canonicalisation and
    * registry inheritance from the target alone, so a branch write is
    * the main write against another head — never a copy of it.
    */
  private sealed abstract class WriteTarget {
    protected def headIn(snaps: Seq[Snapshot]): Option[Snapshot]
    /** (head, next global version id) from ONE manifest listing. */
    def resolve(): (Option[Snapshot], Long) = {
      val snaps = listSnapshots()
      (headIn(snaps), snaps.lastOption.map(_.snapshotId + 1).getOrElse(1L))
    }
    /** Publish `s`, stamped with this target's membership. */
    def publish(s: Snapshot): Snapshot
  }

  private object MainLine extends WriteTarget {
    protected def headIn(snaps: Seq[Snapshot]) = snaps.reverseIterator.find(_.branch.isEmpty)
    def publish(s: Snapshot) = writeSnapshot(s)
  }

  /** Branch `name`, incarnation `ref` — the head is the newest commit
    * of this incarnation, or the fork before any landed. Branch commits
    * never carry txn marks: a WAP audit replays by re-forking.
    */
  private final class BranchLine(name: String, ref: BranchRef) extends WriteTarget {
    protected def headIn(snaps: Seq[Snapshot]) = Some(branchHeadIn(snaps, name, ref))
    def publish(s: Snapshot) =
      writeSnapshot(s.copy(branch = Some(name), branchEpoch = ref.epoch))
  }

  private def onBranch(name: String): WriteTarget = new BranchLine(name, branchRef(name))

  // ---------------- DSv2 executor-write primitives ----------------

  /** Absolute table root, for executor-side writers. */
  private[lakehouse] def rootAbsPath: String = rootPath.toAbsolutePath.toString

  /** Claim a data-dir name for a DSv2 write: the next version id (the
    * origin the dir digits record — the same claim-then-maybe-rebase
    * discipline as [[appendWith]]) plus a per-write nonce so two
    * claimants can never clobber each other's uncommitted files.
    */
  private[lakehouse] def claimWriteDir(tag: String): (Long, String) = {
    val id = nextId()
    (id, s"s$id-$tag-w${java.util.UUID.randomUUID().toString.take(8)}")
  }

  /** Size-targeted optimize-write as a per-file record cap (the
    * writeDataFiles maxRecordsPerFile computation, for the DSv2
    * executor writers): None unless the table opted in AND a
    * bytes-per-row estimate exists.
    */
  private[lakehouse] def writeBinRecordsPerFile: Option[Long] =
    (if (optimizeWrite) optimizeWriteTargetBytes else None)
      .flatMap(t => manifestBytesPerRow(currentSnapshot()).map(bpr =>
        math.max(1L, (t / math.max(bpr, 1e-9)).toLong)))

  /** The canonicalization rules of [[canonicalizedNamesAt]] as a COLUMN
    * PLAN the DSv2 executors run without a DataFrame: dropped columns
    * (and their former names) discard, former names land under the
    * current spelling, narrower batch columns cast UP to the declared
    * type, and head-confirmed field ids stamp (`stampIds`).
    */
  private[lakehouse] def writeColumnPlan(head: Option[Snapshot],
      query: StructType, stampIds: Boolean): Seq[WriteColPlan] = head match {
    case None =>
      query.fields.toSeq.zipWithIndex.map { case (f, i) =>
        WriteColPlan(i, f.name, f.dataType, f.dataType, None)
      }
    case Some(cur) =>
      val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
      val canon = schema.fieldNames.map(n => nameKey(n) -> n).toMap
      val aliasCanon = cur.aliases.flatMap { case (current, olds) =>
        olds.map(a => nameKey(a.name) -> current)
      }.filterNot { case (k, _) => canon.contains(k) }
      val droppedKeys = cur.droppedCols.keySet.map(nameKey)
      val declared = schema.fields.map(f => nameKey(f.name) -> f.dataType).toMap
      val ids: Map[String, Int] =
        if (!stampIds) Map.empty
        else cur.fieldIds.map(_.ids.map { case (n, i) => nameKey(n) -> i })
          .getOrElse(Map.empty)
      query.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
        if (droppedKeys(nameKey(f.name))) None
        else {
          val name = canon.getOrElse(nameKey(f.name),
            aliasCanon.getOrElse(nameKey(f.name), f.name))
          val to = declared.get(nameKey(name)) match {
            case Some(t) if canWiden(f.dataType, t) => t
            case _ => f.dataType
          }
          Some(WriteColPlan(i, name, f.dataType, to, ids.get(nameKey(name))))
        }
      }
  }

  /** Commit EXECUTOR-WRITTEN files as one append snapshot — the
    * metadata half of the DSv2 write face. Identical contract to
    * [[appendWith]] minus the data write: cross-process REBASE on a
    * lost publish race (the files re-commit on the new head), schema
    * compatibility re-validated per attempt, a txn `mark` absorbed
    * (None returned, the CALLER discards the files) when a racing
    * replica of the same producer batch already landed, and the one
    * genuine conflict — a raced MoR tombstone newer than this write's
    * claimed origin — surfaced as [[ConcurrentCommitException]].
    * `targetAuthoritative` pins the snapshot schema to the head
    * (schema-channel mode: the DDL records are the only evolution
    * authority) instead of evolving additively from the batch.
    */
  private[lakehouse] def commitWrittenFiles(newFiles: Seq[String],
      batchSchema: StructType, claimedId: Long, mark: Option[TxnMark],
      targetAuthoritative: Boolean): Option[Snapshot] = writeLock.synchronized {
    withCommitRetry {
      if (mark.exists(m => lastTxnVersion(m.appId).exists(_ >= m.version)))
        Right(None) // a racing replica of this exact batch already landed
      else {
        val (parent, id) = MainLine.resolve()
        requireCompatibleSchemaFor(parent, batchSchema)
        // a raced tombstone NEWER than this write's claimed origin would
        // mask the new rows as if they predated it — the appendWith rule
        if (parent.exists(_.tombstones.exists(originOf(_) > claimedId)))
          Left(new ConcurrentCommitException(root, claimedId))
        else {
          val schemaJson =
            if (targetAuthoritative)
              parent.map(_.schemaJson).getOrElse(batchSchema.json)
            else evolvedSchemaJsonFor(parent, batchSchema)
          Right(Some(writeSnapshot(Snapshot(id, parent.map(_.snapshotId),
            System.currentTimeMillis(), "append",
            parent.map(_.files).getOrElse(Nil) ++ newFiles,
            schemaJson, txn = mark, deletes = parent.flatMap(_.deletes)))))
        }
      }
    }
  }

  /** Full-overwrite commit over EXECUTOR-WRITTEN files: the DSv2 form
    * of [[overwrite]] — content replaced, schema reset to the batch's,
    * registries cleared (no pre-overwrite file survives).
    */
  private[lakehouse] def commitOverwriteFiles(newFiles: Seq[String],
      batchSchema: StructType): Snapshot = writeLock.synchronized {
    writeSnapshot(Snapshot(nextId(), currentSnapshot().map(_.snapshotId),
      System.currentTimeMillis(), "overwrite", newFiles, batchSchema.json,
      renames = Some(Map.empty), drops = Some(Map.empty),
      reborn = Some(Map.empty)))
  }

  /** Filter-scoped overwrite over EXECUTOR-WRITTEN files: the DSv2 form
    * of [[overwriteWhere]] — ONE snapshot that rewrites the pruned
    * candidates without their matching rows (NULL-condition rows
    * survive, the DELETE rule) and adopts the staged files as the new
    * data. Declared schema and lineage untouched (a row-set operation);
    * lost cross-process races auto-retry like every SQL statement.
    */
  private[lakehouse] def commitOverwriteWhereFiles(staged: Seq[String],
      filters: Seq[sources.Filter]): Option[Snapshot] = writeLock.synchronized {
    val cond = filters.map(LakehouseSource.toCondition)
      .reduceOption(_ && _).getOrElse(lit(true))
    withCommitRetry {
      val cur = currentSnapshot().getOrElse(throw new IllegalStateException(
        s"table $root has no snapshots"))
      val candidates = LakehouseSource.pruneForFilters(this, cur, filters,
        declaredBucketSpec).filter(cur.files.toSet)
      val id = nextId()
      val partCols = inferPartitionCols(cur.files)
      val rewritten =
        if (candidates.isEmpty) Nil
        else dropEmptyDataFiles(writeDataFiles(
          scanFiles(cur, candidates).filter(not(cond <=> lit(true))),
          id, suffix = "rw", partitionCols = partCols))
      Right(Some(writeSnapshot(Snapshot(id, Some(cur.snapshotId),
        System.currentTimeMillis(), "overwrite",
        cur.files.diff(candidates) ++ rewritten ++ staged,
        cur.schemaJson, deletes = cur.deletes))))
    }
  }

  /** Keyed upsert over EXECUTOR-WRITTEN files: the DSv2 form of
    * [[upsert]]/merge-on-read — the staged files ARE the added side
    * (no second write of the batch), touched existing files discover
    * through the same two-stage probe and either rewrite (copy-on-
    * write) or a key tombstone masks them (merge-on-read; the
    * tombstone writes under the STAGED files' claimed origin so the
    * batch's own rows stay visible — masking is strictly-older).
    */
  private[lakehouse] def commitUpsertFiles(staged: Seq[String],
      batchSchema: StructType, claimedId: Long, keys: Seq[String],
      mergeOnRead: Boolean): Snapshot = writeLock.synchronized {
    require(keys.nonEmpty, "upsert requires key columns")
    val cur = currentSnapshot()
    requireCompatibleSchemaFor(cur, batchSchema)
    cur match {
      case None =>
        writeSnapshot(Snapshot(nextId(), None, System.currentTimeMillis(),
          "upsert", staged, batchSchema.json))
      case Some(c) if staged.isEmpty => // empty batch: schema-only evolution
        writeSnapshot(Snapshot(nextId(), Some(c.snapshotId),
          System.currentTimeMillis(), "upsert", c.files,
          evolvedSchemaJsonFor(Some(c), batchSchema), deletes = c.deletes))
      case Some(c) =>
        // a raced MoR tombstone newer than the staged files' claimed
        // origin would mask this batch's rows — the appendWith rule
        if (c.tombstones.exists(originOf(_) > claimedId))
          throw new ConcurrentCommitException(root, claimedId)
        // read the staged files back for their KEY tuples only —
        // basePath reconstitutes identity-partitioned key columns; the
        // explicit cast pins path-inferred types to the batch's. The
        // batch schema is passed EXPLICITLY: we wrote these files from
        // exactly this schema one call ago, and letting Spark re-infer
        // it costs a footer-reading job per commit (guide §2.4)
        val dir = staged.head.split('/').take(2).mkString("/")
        val stagedDf = spark.read
          .schema(batchSchema)
          .option("basePath", rootPath.resolve(dir).toString)
          .parquet(staged.map(f => rootPath.resolve(f).toString): _*)
        val canon = batchSchema.fields.map(f => nameKey(f.name) -> f).toMap
        val incomingKeys = stagedDf.select(keys.map { k =>
          val f = canon.getOrElse(nameKey(k), throw new IllegalArgumentException(
            s"upsert key '$k' not in the batch schema ${batchSchema.simpleString}"))
          col(f.name).cast(f.dataType).as(f.name)
        }: _*).distinct()
        if (mergeOnRead) {
          val tomb = dropEmptyDataFiles(
            writeDataFiles(incomingKeys, claimedId, suffix = "tomb"))
          writeSnapshot(Snapshot(nextId(), Some(c.snapshotId),
            System.currentTimeMillis(), "apply", c.files ++ staged,
            evolvedSchemaJsonFor(Some(c), batchSchema),
            deletes = Some(c.tombstones ++ tomb).filter(_.nonEmpty)))
        } else {
          // stage-1 prune ranges from the staged files' own footers —
          // zero Spark jobs; the aggregate-job fallback answers when
          // the footers can't (see footerKeyRanges)
          val id = nextId()
          val (touched, rewritten) = rewriteTouched(c, incomingKeys, keys, id,
            inferPartitionCols(c.files), footerKeyRanges(staged, keys, batchSchema))
          writeSnapshot(Snapshot(id, Some(c.snapshotId),
            System.currentTimeMillis(), "upsert",
            c.files.diff(touched) ++ rewritten ++ staged,
            evolvedSchemaJsonFor(Some(c), batchSchema), deletes = c.deletes))
        }
    }
  }

  /** KEYED STREAMING epoch commit over EXECUTOR-WRITTEN halves (round
    * 15 — the DSv2 form of [[applyChanges]]/[[upsert]] for streams):
    * `dataFiles` are the batch's insert rows, `tombFiles` its deduped
    * touched-key tuples — both staged task-side, the driver never
    * touches row data on the MoR path.
    *
    *  - merge-on-read: ONE metadata commit — data files add, the tomb
    *    files become the snapshot's key tombstone (they were written
    *    at the batch's claimed origin, so the batch's own rows stay
    *    visible: masking is strictly-older). The V1 path wrote the
    *    same tombstone driver-side from the batch; here it already
    *    exists.
    *  - copy-on-write: the tomb keys drive the two-stage touched-file
    *    probe; touched files rewrite minus matching keys, the staged
    *    data files land as the added side. The caller discards the
    *    tomb files (transport only).
    *
    * `mark` is the epoch's exactly-once transaction mark: an absorbed
    * replay returns None (caller discards every staged file). An empty
    * epoch still commits so its mark is recorded. `cdc` only names the
    * op lineage (`apply` vs `upsert`) — semantics are identical.
    */
  private[lakehouse] def commitApplyStagedFiles(dataFiles: Seq[String],
      tombFiles: Seq[String], batchSchema: StructType, claimedId: Long,
      keys: Seq[String], mergeOnRead: Boolean, cdc: Boolean,
      mark: Option[TxnMark]): Option[Snapshot] = writeLock.synchronized {
    require(keys.nonEmpty, "keyed commit requires key columns")
    if (mark.exists(m => lastTxnVersion(m.appId).exists(_ >= m.version)))
      return None // a racing replica of this exact epoch already landed
    val op = if (cdc || mergeOnRead) "apply" else "upsert"
    currentSnapshot() match {
      case None =>
        // bootstrap: the staged data files become the table (nothing
        // exists for the keys to touch; a pure-delete batch still
        // commits for its mark). Caller discards the tomb files.
        Some(writeSnapshot(Snapshot(nextId(), None, System.currentTimeMillis(),
          op, dataFiles, batchSchema.json, txn = mark)))
      case Some(c) =>
        requireCompatibleSchemaFor(Some(c), batchSchema)
        // a raced MoR tombstone NEWER than this batch's claimed origin
        // would mask the staged rows as if they predated it (the
        // appendWith rule — V1 applies claimed their id at commit time
        // and never had this window; the staged faces do)
        if (c.tombstones.exists(originOf(_) > claimedId))
          throw new ConcurrentCommitException(root, claimedId)
        if (mergeOnRead) {
          Some(writeSnapshot(Snapshot(nextId(), Some(c.snapshotId),
            System.currentTimeMillis(), op, c.files ++ dataFiles,
            evolvedSchemaJsonFor(Some(c), batchSchema), txn = mark,
            deletes = Some(c.tombstones ++ tombFiles).filter(_.nonEmpty))))
        } else {
          val canon = batchSchema.fields.map(f => nameKey(f.name) -> f).toMap
          val keyFields = StructType(keys.map { k =>
            val f = canon.getOrElse(nameKey(k), throw new IllegalArgumentException(
              s"keys column '$k' not in the batch schema ${batchSchema.simpleString}"))
            org.apache.spark.sql.types.StructField(f.name, f.dataType, nullable = true)
          })
          // explicit schema: the executor writers stamped the tomb key
          // files with exactly these (name, type) pairs ([[LakehouseData
          // Writer.keySchema]]); re-inferring would cost a footer job
          // per epoch commit
          val incoming =
            if (tombFiles.isEmpty) None
            else Some(spark.read.schema(keyFields).parquet(tombFiles.map(f =>
              rootPath.resolve(f).toString): _*)
              .select(keyFields.fields.map(f =>
                col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*).distinct())
          // stage-1 prune ranges from the tomb key files' own footers —
          // zero Spark jobs (footerKeyRanges; the agg-job fallback
          // answers when the footers can't)
          val id = nextId()
          val (touched, rewritten) = incoming.fold((Seq.empty[String], Seq.empty[String]))(
            rewriteTouched(c, _, keys, id, inferPartitionCols(c.files),
              footerKeyRanges(tombFiles, keys, keyFields)))
          Some(writeSnapshot(Snapshot(id, Some(c.snapshotId),
            System.currentTimeMillis(), op,
            c.files.diff(touched) ++ rewritten ++ dataFiles,
            evolvedSchemaJsonFor(Some(c), batchSchema), txn = mark,
            deletes = c.deletes)))
        }
    }
  }

  /** Drop uncommitted executor-written files (aborted job, absorbed
    * replay) and their now-empty claim dirs.
    */
  private[lakehouse] def discardWrittenFiles(files: Seq[String]): Unit = {
    files.foreach { f =>
      try { Files.deleteIfExists(rootPath.resolve(f)); () }
      catch { case _: java.io.IOException => () }
    }
    files.map(_.split('/').take(2).mkString("/")).distinct.foreach { d =>
      try graft.Fs.deleteRecursively(rootPath.resolve(d))
      catch { case _: Exception => () }
    }
  }

  /** Txn-ledger FLOOR: marks folded out of expired manifests so
    * retention can delete any manifest without ever forgetting an
    * app's latest version (the Delta SetTransaction-retention shape,
    * without pinning whole file lists). The floor is a DIRECTORY of
    * write-once files merged max-per-app on read — a racing pair of
    * expiries (two handles, two JVMs) each write their OWN file and
    * GC only the files they actually read, so neither can clobber the
    * other's folded marks (a single read-modify-write file would have
    * exactly that lost-update window, and a lost mark re-opens the
    * replay-double-apply hole the ledger exists to close). Live marks
    * still ride the manifests; the floor only preserves history that
    * maintenance removed.
    */
  private def txnFloorDir: Path = rootPath.resolve("_txn_floor")

  private def txnFloorFiles(): Seq[Path] =
    if (!Files.isDirectory(txnFloorDir)) Nil
    else graft.Fs.listAll(txnFloorDir).filter(_.toString.endsWith(".json"))
      .sortBy(_.getFileName.toString)

  /** List + merge the floor directory as ONE consistent view, retrying
    * when a file vanishes between the listing and its read: that means
    * another process's expiry GC'd it, and that GC only ever runs
    * AFTER the merged successor file is durably written — so a re-list
    * always converges on a view that still contains every mark.
    * (Swallowing the missing file instead would silently drop folded
    * marks, regress `lastTxnVersion`, and re-open the replay
    * double-apply hole the floor exists to close.)
    */
  private def listAndReadFloor(): (Seq[Path], Map[String, Long]) = {
    var lastMiss: java.nio.file.NoSuchFileException = null
    var attempt = 0
    while (attempt < 8) {
      val files = txnFloorFiles()
      try {
        val merged = files.foldLeft(Map.empty[String, Long]) { (acc, p) =>
          Serialization.read[Map[String, Long]](Files.readString(p))
            .foldLeft(acc) { case (a, (app, v)) =>
              a + (app -> math.max(v, a.getOrElse(app, Long.MinValue)))
            }
        }
        return (files, merged)
      } catch {
        case e: java.nio.file.NoSuchFileException => lastMiss = e; attempt += 1
      }
    }
    throw lastMiss
  }

  private def readTxnFloor(): Map[String, Long] = listAndReadFloor()._2

  /** Publish `merged` as a fresh write-once floor file, then GC exactly
    * the files it subsumes (`consumed`). Concurrent writers' files are
    * untouched and survive to the next merge.
    */
  private def writeTxnFloor(merged: Map[String, Long], consumed: Seq[Path]): Unit = {
    Files.createDirectories(txnFloorDir)
    val p = txnFloorDir.resolve(
      f"${System.currentTimeMillis()}%013d-${System.nanoTime() % 1000000}%06d.json")
    Files.writeString(p, Serialization.write(merged))
    consumed.foreach(Files.deleteIfExists(_))
  }

  /** Highest transaction version recorded for `appId` — across the
    * surviving manifests AND the retention floor file. Metadata-only.
    */
  def lastTxnVersion(appId: String): Option[Long] = {
    val live = listSnapshots().iterator.flatMap(_.txn).filter(_.appId == appId)
      .map(_.version).maxOption
    (live.toSeq ++ readTxnFloor().get(appId).toSeq).maxOption
  }

  /** Every app's latest recorded txn version — live manifest marks
    * folded with the retention floor (the `$txns` metadata-table
    * surface; O(snapshots) driver metadata).
    */
  def txnVersions(): Map[String, Long] = {
    val live = listSnapshots().flatMap(_.txn)
      .groupBy(_.appId).view.mapValues(_.map(_.version).max).toMap
    val floor = readTxnFloor()
    (live.keySet ++ floor.keySet).iterator
      .map(a => a -> (live.get(a).toSeq ++ floor.get(a).toSeq).max).toMap
  }

  /** Rename batch columns to the table's canonical spelling under the
    * session's resolution semantics, so a case-variant name ('ID' for
    * an existing 'id') lands in the data files under ONE spelling —
    * parquet schema merging is case-sensitive even when resolution is
    * not, and mixed spellings across files would poison later reads.
    */
  private def canonicalizedNames(df: DataFrame): DataFrame =
    canonicalizedNamesAt(currentSnapshot(), df)

  /** [[canonicalizedNames]] against an explicit head (branch writes
    * canonicalize against the BRANCH head, not main).
    */
  private def canonicalizedNamesAt(head: Option[Snapshot], df: DataFrame): DataFrame =
    head.fold(df) { cur =>
      val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
      val canon = schema.fieldNames.map(n => nameKey(n) -> n).toMap
      // a FORMER name (rename lineage) canonicalizes to the current
      // one too: an upstream CDC feed that lags a rename keeps landing
      // in the right column instead of forking a ghost sibling. A
      // former name RE-INTRODUCED as a live column (reborn) is its
      // own identity now — the current name shadows the alias.
      val aliasCanon = cur.aliases.flatMap { case (current, olds) =>
        olds.map(a => nameKey(a.name) -> current)
      }.filterNot { case (k, _) => canon.contains(k) }
      // a DROPPED column (or any of its former names) still arriving
      // in a batch is discarded — the column no longer exists; an
      // upstream CDC stream pinned pre-drop keeps sending it, and
      // treating it as additive would resurrect stale data under a
      // re-added name
      val droppedKeys = cur.droppedCols.keySet.map(nameKey)
      val pruned =
        if (droppedKeys.isEmpty) df
        else df.columns.filter(c => droppedKeys(nameKey(c)))
          .foldLeft(df)((d, c) => d.drop(c))
      val named = pruned.columns.foldLeft(pruned) { (d, c) =>
        canon.get(nameKey(c)).orElse(aliasCanon.get(nameKey(c))).filter(_ != c)
          .map(t => d.withColumnRenamed(c, t)).getOrElse(d)
      }
      // NARROWER batch columns cast UP to the table's declared type at
      // write time (exact by the lossless-widening lattice) so every
      // file of one snapshot era shares one physical width
      val declared = schema.fields.map(f => nameKey(f.name) -> f.dataType).toMap
      named.columns.foldLeft(named) { (d, c) =>
        declared.get(nameKey(c)) match {
          case Some(t) if canWiden(d.schema(c).dataType, t) =>
            d.withColumn(c, col(c).cast(t))
          case _ => d
        }
      }
    }

  /** The lossless type-widening lattice (the schema-monitor "widen ok"
    * policy, applied at the table): may a value of type `from` flow
    * into a column of type `to` with zero information loss, and may
    * the union schema take `to` where it held `from`? Matches what the
    * parquet readers upcast natively (int32→bigger integral,
    * float→double), so widened lineages keep vectorized reads.
    */
  private[lakehouse] def canWiden(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** Column-name lookup key under the session's resolution semantics.
    * Spark resolves names case-INsensitively unless spark.sql
    * .caseSensitive is set, so the compatibility check must match on
    * the same key — otherwise an append carrying 'ID' against an
    * existing 'id' is accepted as an ADDITIVE column, the union schema
    * holds both spellings, and every later read hits ambiguous-column
    * failures.
    */
  private def nameKey(n: String): String =
    if (spark.conf.get("spark.sql.caseSensitive", "false").toBoolean) n
    else n.toLowerCase(java.util.Locale.ROOT)

  /** Widen-only schema evolution (the schema-monitor policy applied at
    * the table: additive columns flow, type changes stop the writer):
    * a batch may ADD columns — older files read back with nulls there —
    * and may omit existing ones (nulls for the batch's rows), but a
    * column shared with the table must keep its exact type. The
    * snapshot records the union schema so readers and time travel see
    * a single coherent shape per snapshot.
    * Schema-only, against an explicit head: the DSv2 write face
    * validates its column plan without materializing a DataFrame.
    */
  private[lakehouse] def requireCompatibleSchemaFor(
      head: Option[Snapshot], schema: StructType): Unit = {
    val dupes = schema.fieldNames.groupBy(nameKey).filter(_._2.length > 1)
    require(dupes.isEmpty,
      s"batch schema has columns equal under spark.sql.caseSensitive resolution: " +
        dupes.values.map(_.mkString("/")).mkString(", "))
    head.foreach { cur =>
      val curFields = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
        .fields.map(f => nameKey(f.name) -> f.dataType).toMap
      // a current column shadows any alias entry under the same name
      // (a reborn former name is its own identity, type-checked as such)
      val aliasToCurrent = cur.aliases.flatMap { case (current, olds) =>
        olds.map(a => nameKey(a.name) -> nameKey(current))
      }.filterNot { case (k, _) => curFields.contains(k) }
      // computed lazily: one tiny metadata-file read, and only when a
      // batch actually arrives wider than the declared schema
      lazy val bucketSrcs = bucketSourceKeys
      schema.fields.foreach { f =>
        val key = aliasToCurrent.getOrElse(nameKey(f.name), nameKey(f.name))
        curFields.get(key).foreach { t =>
          // nullability-INSENSITIVE equality: an INSERT VALUES array
          // literal arrives as ARRAY<T> with containsNull=false against
          // a declared containsNull=true — semantically identical (the
          // scan alignment already treats them so), never a type change
          require(sameIgnoringNullability(t, f.dataType) ||
              canWiden(t, f.dataType) || canWiden(f.dataType, t),
            s"incompatible type change for column '${f.name}': $t -> ${f.dataType} " +
              "(widen-only evolution: lossless widening flows, narrower batches " +
              "cast up at write; anything else must go through overwrite)")
          // a WIDER batch column would auto-widen the union schema
          // (evolvedSchemaJsonFor) — refused for bucket sources for the
          // same width-sensitive-hash reason widenColumn refuses
          require(!(canWiden(t, f.dataType) && t != f.dataType && bucketSrcs(key)),
            s"batch widens bucket-transform source column '${f.name}' " +
              s"($t -> ${f.dataType}): the bucket hash is width-sensitive; " +
              "cast the batch to the declared type or re-create the table " +
              "with the wide type")
        }
      }
    }
  }

  /** The union schema a batch of `schema` evolves `head` to (additive
    * columns append, lossless widenings widen).
    */
  private[lakehouse] def evolvedSchemaJsonFor(
      head: Option[Snapshot], schema: StructType): String =
    head match {
      case None => schema.json
      case Some(cur) =>
        val curSchema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
        val known = curSchema.fieldNames.map(nameKey).toSet
        val incoming = schema.fields.map(f => nameKey(f.name) -> f.dataType).toMap
        // a shared column arriving WIDER evolves the union schema to the
        // wide type; old files cast on read (the parquet readers upcast
        // natively, so this costs nothing on the scan path)
        val widened = curSchema.fields.map { f =>
          incoming.get(nameKey(f.name)) match {
            case Some(t) if canWiden(f.dataType, t) => f.copy(dataType = t)
            case _ => f
          }
        } ++ schema.fields.filterNot(f => known(nameKey(f.name)))
        StructType(widened).json
    }

  /** Upsert on `keys`: rows in the incoming batch replace existing rows
    * with equal key tuples. Only files that actually contain matching
    * keys are rewritten; untouched files carry over by reference.
    */
  def upsert(df0: DataFrame, keys: Seq[String]): Snapshot =
    upsert(df0, keys, mergeOnRead = false)

  /** Keyed upsert; `mergeOnRead = true` lands it as a pure append
    * (batch keys as a tombstone masking older versions + the batch as
    * new files — an upsert IS an all-inserts change batch), zero
    * existing-file reads or rewrites. See [[applyChanges]].
    */
  def upsert(df0: DataFrame, keys: Seq[String], mergeOnRead: Boolean): Snapshot =
    writeLock.synchronized { upsertOn(MainLine, df0, keys, mergeOnRead) }

  private def upsertOn(target: WriteTarget, df0: DataFrame, keys: Seq[String],
      mergeOnRead: Boolean): Snapshot =
    if (mergeOnRead)
      applyChangesWith(df0.withColumn("_change", lit("insert")), keys,
        mark = None, mergeOnRead = true, target)
    else upsertWith(df0, keys, mark = None, target)

  /** Upsert guarded by the transaction ledger — None means `version`
    * was already applied for `appId` and nothing was written. See
    * [[TxnMark]].
    */
  def upsertIdempotent(df: DataFrame, keys: Seq[String], appId: String,
      version: Long): Option[Snapshot] = writeLock.synchronized {
    if (lastTxnVersion(appId).exists(_ >= version)) None
    else Some(upsertWith(df, keys, Some(TxnMark(appId, version))))
  }

  /** Data files of keyed-write stage-2 collision probes — the exact
    * existing files a keyed write actually had to READ to find key
    * collisions. Spec counter: a disjoint-key batch (the monotone-CDC
    * norm) must add ZERO here — stage 1 proves disjointness from
    * manifest metadata alone.
    */
  private[lakehouse] val keyedWriteProbedFiles = new java.util.concurrent.atomic.AtomicLong

  /** Touched-file discovery for a keyed write (upsert / applyChanges):
    * which of `cur`'s data files hold rows colliding with the batch's
    * key tuples? Two stages, cheapest first — the AnnIndex.append
    * collision discipline generalized to every keyed write:
    *
    *  1. the batch's per-key-column min/max (ONE tiny agg over the
    *     already-cached batch) feeds [[pruneFiles]] as conjunctive
    *     ranges — manifest stats and partition paths answer with zero
    *     data-file I/O and zero jobs, so a key-disjoint batch exits
    *     here having read NOTHING of the existing table;
    *  2. only surviving candidate files pay an exact COLUMN-PRUNED
    *     semi-join over their key columns.
    *
    * At 100 TB this is the difference between a CDC micro-batch paying
    * O(batch) and paying an O(table) key-column scan per commit
    * (reference upsert contract: `sinks/postgres.py:141-146`,
    * `sinks/iceberg.py:184`).
    *
    * Conservative under evolution/unsupported types: a key column whose
    * min/max can't compare against a file's stats simply keeps the file
    * for stage 2. All-null key tuples match nothing under SQL equality,
    * so an all-null (or empty) batch touches no files by definition.
    */
  private[lakehouse] def touchedFilesFor(cur: Snapshot, keyRows: DataFrame,
      keys: Seq[String],
      /** Pre-computed per-key (min, max) ranges, when the caller's own
        * batch aggregate already carries them (applyChanges folds them
        * into its tag-validation pass — one Spark job per CDC batch
        * instead of two). Min/max over the raw batch equals min/max
        * over its distinct keys, so the prune is unchanged.
        */
      knownRanges: Option[Seq[ScanPredicate.Range]] = None): Seq[String] = {
    val ranges = knownRanges.getOrElse {
      val aggs = keys.flatMap(k => Seq(min(col(k)), max(col(k))))
      val r = keyRows.agg(aggs.head, aggs.tail: _*).head()
      keys.zipWithIndex.flatMap { case (k, i) =>
        Option(r.get(2 * i)).map(mn =>
          ScanPredicate.Range(k, Some(mn), Some(r.get(2 * i + 1))))
      }
    }
    // no range ⇒ every key column is all-NULL in the batch (or the
    // batch is empty): a NULL key equals nothing, so nothing is touched
    if (ranges.isEmpty) return Nil
    val candidates = pruneFiles(cur, ranges)._1
    if (candidates.isEmpty) return Nil
    keyedWriteProbedFiles.addAndGet(candidates.size)
    val probed = readFiles(cur, candidates)
      .select(keys.map(col) :+ input_file_name().as("_file"): _*)
      .join(keyRows, keys, "left_semi")
      .select(col("_file")).distinct()
      .collect().map(_.getString(0)).toSet
    // map each probed URI back to its manifest-relative path ONCE and
    // intersect sets — O(candidates + probed) driver work (the r9 form
    // rescanned the probed set per candidate via endsWith: quadratic at
    // a 100k-candidate rewrite, and suffix-match could over-rewrite).
    // Both sides normalize to the CLAIM-RELATIVE path: a foreign
    // manifest entry whose bytes were localized (deepen allHistory)
    // scans through its local copy, so the probed URI resolves
    // root-relative while the manifest key stays absolute — comparing
    // raw keys would silently skip exactly those files' rewrites.
    def normKey(e: String): String =
      if (Paths.get(e).isAbsolute) LakehouseTable.claimDirRelative(e) else e
    val probedRel = probed.map(u => normKey(relDataPathOf(u)))
    candidates.filter(c => probedRel(normKey(c)))
  }

  /** Absolute data-file URI (as `input_file_name()` reports it) →
    * root-relative manifest path. Accepts both the literal table root
    * and its canonical (symlink-resolved) form — Spark may report
    * either — and fails loudly otherwise: a silently-wrong key would
    * desync file bookkeeping from the manifest.
    */
  @transient private lazy val dataRootPair: (String, String) = {
    val lit = dataDir.toUri.getPath
    val real = try dataDir.toRealPath().toString
      catch { case _: java.io.IOException => lit }
    (lit, real)
  }

  private[lakehouse] def relDataPathOf(fileUri: String): String = {
    val p = new java.net.URI(fileUri).getPath
    val (litRoot, realRoot) = dataRootPair
    val i0 = p.indexOf(litRoot)
    val (i, r) = if (i0 >= 0) (i0, litRoot) else (p.indexOf(realRoot), realRoot)
    if (i >= 0) "data/" + p.substring(i + r.length).stripPrefix("/")
    else {
      // not under this root: a shallow CLONE's foreign reference, whose
      // manifest key IS the absolute path. Anything else is the
      // silently-wrong-key hazard — fail loudly, not approximately.
      require(currentSnapshot().exists(s =>
        s.files.contains(p) || s.tombstones.contains(p)),
        s"data file $p not under table data root $litRoot and not a " +
          "foreign reference of the current snapshot")
      p
    }
  }

  private def upsertWith(df0: DataFrame, keys: Seq[String],
      mark: Option[TxnMark], target: WriteTarget = MainLine): Snapshot = {
    require(keys.nonEmpty, "upsert requires key columns")
    val (cur, id) = target.resolve()
    requireCompatibleSchemaFor(cur, df0.schema)
    val df = canonicalizedNamesAt(cur, df0)
    if (cur.isEmpty) {
      val files = writeDataFiles(df, id, head = None)
      return target.publish(Snapshot(id, None, System.currentTimeMillis(),
        "upsert", files, df.schema.json, txn = mark))
    }

    val existingFiles = cur.get.files
    val incoming = df.cache()
    try {
      // preserve the parent's hive layout on rewrite (same discipline
      // as applyChanges): survivors and merged rows land back under
      // the partition scheme, keeping partition-pruned reads sharp
      val partCols = inferPartitionCols(existingFiles)
      // the batch lands FIRST: its freshly written footers then answer
      // the stage-1 key-range prune driver-side (footerKeyRanges), so
      // the per-upsert min/max aggregate job disappears. Order is safe
      // — files only become visible at the manifest commit, and a
      // failed attempt orphans them exactly like a failed rewrite
      // always has (snapshot expiry collects orphans).
      val added = writeDataFiles(incoming, id, head = cur,
        partitionCols = partCols.filter(pc => incoming.columns.contains(specSourceCol(pc))))
      val incomingKeys = incoming.select(keys.map(col): _*).distinct()
      val (touched, rewritten) = rewriteTouched(cur.get, incomingKeys, keys, id,
        partCols, footerKeyRanges(added, keys, incoming.schema))
      target.publish(Snapshot(id, Some(cur.get.snapshotId), System.currentTimeMillis(),
        "upsert", existingFiles.diff(touched) ++ rewritten ++ added,
        evolvedSchemaJsonFor(cur, df.schema), txn = mark, deletes = cur.get.deletes))
    } finally incoming.unpersist()
  }

  /** The copy-on-write half of every keyed write: find `head`'s data
    * files holding any key tuple of `keyRows` (two-stage — manifest
    * prune, then an exact semi-join over the candidates only; see
    * [[touchedFilesFor]]) and rewrite them without those keys, under
    * the table's hive layout `partCols`. Returns (touched, rewritten):
    * the commit swaps the first for the second, every other file
    * carries over by reference.
    */
  private def rewriteTouched(head: Snapshot, keyRows: DataFrame, keys: Seq[String],
      id: Long, partCols: Seq[String],
      knownRanges: Option[Seq[ScanPredicate.Range]]): (Seq[String], Seq[String]) = {
    val touched = touchedFilesFor(head, keyRows, keys, knownRanges)
    val rewritten =
      if (touched.isEmpty) Nil
      else writeDataFiles(
        // effective (tombstone-masked) read: a raw read would copy
        // MoR-deleted rows into a fresh-origin file and resurrect them
        scanFiles(head, touched).join(keyRows, keys, "left_anti"),
        id, suffix = "rw", partitionCols = partCols, head = Some(head))
    (touched, rewritten)
  }

  /** CDC-apply: consume one change-feed batch (rows tagged by a
    * `_change` column, "insert" | "delete") into this table keyed by
    * `keys`, as ONE snapshot — the downstream half of the
    * source→transform→sink replay contract (`pipeline/runner.py:355-383`).
    * An update arrives from the feed as delete(old)+insert(new) and
    * lands as an in-place key replacement; a delete whose key has no
    * accompanying insert removes the key. Only files that actually
    * hold touched keys are rewritten (the upsert discipline), so the
    * write cost scales with the batch, not the table.
    *
    * `txn = (appId, version)` makes the write idempotent under
    * streaming replay: the mark is recorded atomically in the same
    * snapshot manifest as the data change, and a batch at or below
    * the app's last recorded version returns None without writing.
    * An EMPTY batch still commits a snapshot so its mark is recorded
    * — otherwise a crash after an empty batch would replay it forever.
    * [[applyChangesToBranch]] runs this same core against a branch head.
    */
  def applyChanges(ch0: DataFrame, keys: Seq[String],
      txn: Option[(String, Long)] = None,
      mergeOnRead: Boolean = false): Option[Snapshot] = writeLock.synchronized {
    txn match {
      case Some((app, v)) if lastTxnVersion(app).exists(_ >= v) => None
      case _ => Some(applyChangesWith(ch0, keys,
        txn.map { case (a, v) => TxnMark(a, v) }, mergeOnRead, MainLine))
    }
  }

  private def applyChangesWith(ch0: DataFrame, keys: Seq[String],
      mark: Option[TxnMark], mergeOnRead: Boolean, target: WriteTarget): Snapshot = {
    require(keys.nonEmpty, "applyChanges requires key columns")
    require(ch0.columns.contains("_change"),
      "applyChanges input must carry a _change column (insert|delete)")
    val (cur, id) = target.resolve()
    val ch = canonicalizedNamesAt(cur, ch0).cache()
    try {
      requireCompatibleSchemaFor(cur, ch.drop("_change").schema)
      // unknown tags must fail LOUDLY: an unvalidated tag (a typo,
      // or another feed dialect's "update_postimage") would fall
      // into the delete path below and silently destroy the row.
      // NULL needs its own disjunct — under SQL three-valued logic
      // `!isin(...)` is NULL for a null tag and the filter would
      // silently drop exactly the row it exists to catch.
      // ONE aggregate pass answers tag validity AND the emptiness
      // probes the branches below need (nIns/nAll) — the separate
      // distinct-collect + isEmpty actions cost a Spark job each
      // per CDC batch (guide §1.2: don't compute things twice)
      // per-key min/max ride the same pass: the CoW branch's
      // touched-file prune needs exactly these ranges, and a
      // separate agg job per CDC batch paid for them twice
      val statAggs = Seq(
        // bounded sample of bad tags (r16 ADVICE): an unbounded
        // collect_set over a high-cardinality corrupt feed would
        // materialize every distinct bad value on the driver just
        // to fail; five examples diagnose the same
        slice(sort_array(collect_set(when(
          col("_change").isNull || !col("_change").isin("insert", "delete"),
          coalesce(col("_change"), lit("NULL"))))), 1, 5).as("bad"),
        count(when(col("_change") === "insert", lit(1))).as("nins"),
        count(lit(1)).as("nall")) ++
        keys.flatMap(k => Seq(min(col(k)), max(col(k))))
      val chStats = ch.agg(statAggs.head, statAggs.tail: _*).head
      val badTags = chStats.getSeq[String](0).take(5)
      val keyRanges: Seq[ScanPredicate.Range] =
        keys.zipWithIndex.flatMap { case (k, i) =>
          Option(chStats.get(3 + 2 * i)).map(mn =>
            ScanPredicate.Range(k, Some(mn), Some(chStats.get(3 + 2 * i + 1))))
        }
      require(badTags.isEmpty,
        s"applyChanges: unsupported _change tag(s) ${badTags.mkString("'", "', '", "'")} " +
          "(this feed speaks insert|delete; updates arrive as delete(old)+insert(new))")
      val (nIns, nAll) = (chStats.getLong(1), chStats.getLong(2))
      val inserts = ch.filter(col("_change") === "insert").drop("_change")
      cur match {
        case None =>
          target.publish(Snapshot(id, None, System.currentTimeMillis(),
            "apply", writeDataFiles(inserts, id, head = None), inserts.schema.json,
            txn = mark))
        case Some(c) =>
          // preserve the table's hive layout: survivors of a
          // rewritten partition file (and inserts) land back under
          // the same partition scheme, so partition-pruned reads
          // (e.g. the ANN codes table's cell dirs) keep their
          // skipping power across CDC applies
          val partCols = inferPartitionCols(c.files)
          val touchedKeys = ch.select(keys.map(col): _*).distinct()
          val added =
            if (nIns == 0L) Nil
            else writeDataFiles(inserts, id, head = cur,
              partitionCols = partCols.filter(pc => inserts.columns.contains(specSourceCol(pc))))
          val (files, deletes) =
            if (mergeOnRead) {
              // MERGE-ON-READ: no existing file is read OR rewritten —
              // the batch's key set lands as a tombstone that masks
              // older versions (insert = replace, delete = remove),
              // and this batch's own inserts (origin == this id) stay
              // visible. Write amplification is the batch, nothing
              // else; reads pay the anti-join until compaction folds.
              // the tombstone lands under the table's hive layout
              // when the change batch carries the partition columns
              // (beyond the keys): per-partition key-file accounting
              // — e.g. the ANN occupancy probe — then answers from
              // the MANIFEST alone. Masking semantics are unchanged:
              // partition values live in the PATH, not the file, so
              // the mask keys (read from the tomb file's columns)
              // stay exactly `keys`.
              val tombPartSpecs = partCols.filter { pc =>
                val src = specSourceCol(pc)
                ch.columns.exists(_.equalsIgnoreCase(src)) &&
                  !keys.exists(_.equalsIgnoreCase(src))
              }
              val tombKeys =
                if (tombPartSpecs.isEmpty) touchedKeys
                else ch.select((keys ++ tombPartSpecs.map(specSourceCol))
                  .map(col): _*).distinct()
              val tomb =
                if (nAll == 0L) Nil
                else dropEmptyDataFiles(
                  writeDataFiles(tombKeys, id, suffix = "tomb",
                    partitionCols = tombPartSpecs, head = cur))
              (c.files ++ added, Some(c.tombstones ++ tomb).filter(_.nonEmpty))
            } else {
              // copy-on-write; the key ranges come from the chStats pass
              // above, so a key-disjoint CDC batch reads zero existing
              // files. An empty-insert batch (pure deletes, or a
              // compaction-only feed advance) still snapshots for its txn
              // mark, but writes no zero-row part files.
              val (touched, rewritten) = rewriteTouched(c, touchedKeys, keys, id,
                partCols, Some(keyRanges))
              (c.files.diff(touched) ++ rewritten ++ added, c.deletes)
            }
          target.publish(Snapshot(id, Some(c.snapshotId), System.currentTimeMillis(),
            "apply", files, evolvedSchemaJsonFor(cur, inserts.schema), txn = mark,
            deletes = deletes))
      }
    } finally ch.unpersist()
  }

  /** The hive partition scheme every file of a snapshot shares, from
    * its `col=value` path segments — Nil for flat or mixed-layout
    * lineages (where re-imposing any one scheme would be wrong).
    */
  private def inferPartitionCols(files: Seq[String]): Seq[String] = {
    // the DECLARED spec wins when the root carries catalog metadata —
    // dir inference can't reconstruct a bucket(N, col) transform (the
    // dirs only show `col_bucket=`, not N), so a keyed CDC apply into
    // a bucketed catalog table would otherwise land its inserts FLAT
    // (mixed layout, SPJ stood down until compaction)
    val declared = declaredPartitionSpec
    if (declared.nonEmpty) declared
    else {
      def colsOf(f: String): Seq[String] =
        LakehouseTable.hiveSegsOf(f).map(_.takeWhile(_ != '=')).toSeq
      files.headOption.map(colsOf)
        .filter(c => c.nonEmpty && files.forall(f => colsOf(f) == c))
        .getOrElse(Nil)
    }
  }

  /** The DATA column a partition-spec entry consumes: the bucket
    * transform's source column, or the identity column itself.
    */
  private def specSourceCol(spec: String): String = spec match {
    case LakehouseTable.BucketSpecRe(_, c) => c
    case c => c
  }

  /** The declared partition layout from the catalog metadata file
    * (empty for tables created outside the catalog or laid out flat).
    */
  /** The declared `bucket(N, col)` entry, if any — the pruner's
    * bucket-dir evidence input.
    */
  private def declaredBucketSpec: Option[(Int, String)] =
    declaredPartitionSpec.collectFirst {
      case LakehouseTable.BucketSpecRe(n, c) => (n.toInt, c)
    }

  private def declaredPartitionSpec: Seq[String] = {
    val metaP = rootPath.resolve("_catalog.json")
    if (Files.exists(metaP))
      """"partitionBy"\s*:\s*\[([^\]]*)\]""".r
        .findFirstMatchIn(Files.readString(metaP))
        .map(m => LakehouseSource.splitTopLevel(m.group(1))
          .map(_.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty))
        .getOrElse(Nil)
    else Nil
  }

  /** Iceberg-style partition-spec EVOLUTION: declare a NEW layout for
    * future writes. Old files keep their dirs and stay readable (the
    * scan already groups mixed layouts); every spec-version-sensitive
    * optimization — bucket-dir pruning and bucket SPJ, whose hash→dir
    * mapping depends on N — applies only to files written AFTER the
    * change ([[partitionSpecSince]]), so a probe can never mis-prune a
    * pre-evolution file; compaction rewrites everything under the new
    * spec and heals SPJ. This is also the escape hatch the
    * rename/widen layout guards point at: evolve the column OUT of the
    * spec, then rename/widen it.
    */
  def setPartitionSpec(spec: Seq[String]): Unit = writeLock.synchronized {
    val cur = currentSnapshot().getOrElse(
      throw new IllegalStateException(s"table $root has no snapshots"))
    val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
    val cols = schema.fieldNames.map(nameKey).toSet
    spec.foreach {
      case p @ LakehouseTable.BucketSpecRe(n, c) =>
        require(n.toInt > 0, s"bucket count must be positive in '$p'")
        require(cols(nameKey(c)), s"unknown bucket source column '$c' in '$p'")
      case c => require(cols(nameKey(c)), s"unknown partition column '$c'")
    }
    // the evolution is a REAL alter snapshot (same files, same schema,
    // specChange set): that is what puts it on the schema-history
    // channel — schemaChangesBetween emits a set_spec record for it, so
    // replicas adopt the layout instead of silently diverging their
    // bucket-pruning/SPJ geometry. Committed FIRST: a concurrent-commit
    // loss leaves the declared layout untouched (retry cleanly), while
    // the reverse order could declare a layout no snapshot records.
    val snap = writeSnapshot(Snapshot(nextId(), Some(cur.snapshotId),
      System.currentTimeMillis(), "alter", cur.files, cur.schemaJson,
      deletes = cur.deletes, specChange = Some(spec.toList)))
    // declared layout + prune-gating version in _catalog.json, parsed
    // and re-rendered as real JSON (every other catalog key preserved;
    // the former regex surgery corrupted quote-bearing values)
    val metaP = rootPath.resolve("_catalog.json")
    val others = (if (Files.exists(metaP))
        JsonMethods.parse(Files.readString(metaP)) else JObject()) match {
      case JObject(fields) =>
        fields.filterNot(f => f._1 == "partitionBy" || f._1 == "partitionSpecSince")
      case _ => Nil
    }
    val updated = JObject(
      (if (spec.nonEmpty)
         List(JField("partitionBy", JArray(spec.map(JString(_)).toList)))
       else Nil) ++
        List(JField("partitionSpecSince", JLong(snap.snapshotId))) ++ others)
    Files.writeString(metaP, JsonMethods.compact(JsonMethods.render(updated)))
    ()
  }

  /** Snapshot id of the last partition-spec evolution: files whose
    * origin is AFTER this id were written under the current declared
    * spec (0 = the spec never changed; every file qualifies).
    */
  private[lakehouse] def partitionSpecSince: Long = {
    val metaP = rootPath.resolve("_catalog.json")
    if (Files.exists(metaP))
      """"partitionSpecSince"\s*:\s*(\d+)""".r
        .findFirstMatchIn(Files.readString(metaP))
        .map(_.group(1).toLong).getOrElse(0L)
    else 0L
  }

  /** Source columns of `bucket(N, col)` entries in the declared layout,
    * as [[nameKey]]s. Type-widening these is refused everywhere:
    * xxhash64 hashes Int and Long (and Float and Double) to DIFFERENT
    * values, so widening a bucket source would leave pre-widen files in
    * stale `<col>_bucket=` dirs — bucket-dir pruning would silently
    * drop rows and SPJ would report a partitioning the files no longer
    * honor.
    */
  private def bucketSourceKeys: Set[String] =
    declaredPartitionSpec.collect {
      case LakehouseTable.BucketSpecRe(_, c) => nameKey(c)
    }.toSet

  /** SQL DELETE: remove the current snapshot's rows matching `cond`,
    * where `candidates0` is the pre-pruned file set that can hold
    * matches (anything else carries over BY REFERENCE — the skipping
    * indexes prove it holds none). Candidate files rewrite keeping
    * rows where the condition is false OR null (SQL DELETE only
    * removes rows where the predicate IS TRUE), preserving the hive
    * layout. A delete whose predicate pruned to zero candidates
    * commits nothing and returns the current snapshot.
    */
  def deleteWhere(candidates0: Seq[String],
      cond: org.apache.spark.sql.Column): Snapshot = writeLock.synchronized {
    val cur = currentSnapshot().getOrElse(
      throw new IllegalStateException(s"table $root has no snapshots"))
    // intersect with the files still current under the lock — the
    // caller pruned against a snapshot read a moment earlier
    val candidates = cur.files.filter(candidates0.toSet)
    if (candidates.isEmpty) return cur
    val id = nextId()
    val partCols = inferPartitionCols(cur.files)
    val survivors = scanFiles(cur, candidates).filter(coalesce(not(cond), lit(true)))
    val rewritten = writeDataFiles(survivors, id, suffix = "del", partitionCols = partCols)
    writeSnapshot(Snapshot(id, Some(cur.snapshotId), System.currentTimeMillis(),
      "delete", cur.files.diff(candidates) ++ rewritten, cur.schemaJson,
      deletes = cur.deletes))
  }

  /** Copy-on-write commit primitive for the SQL row-mutating verbs
    * (UPDATE / MERGE / full-predicate DELETE — [[LakehouseDml]]):
    * under the write lock, `candidatesOf(head)` names the files that
    * may hold affected rows (anything else carries BY REFERENCE), and
    * `compute(head, candidates, candidateScan)` returns
    * `(survivors, inserts)` — `survivors = Some(df)` rewrites the
    * candidate set to exactly those rows, `None` leaves every file in
    * place (an insert-only merge never rewrites); `inserts` appends
    * new files. `(None, None)` commits nothing and returns None.
    * Mutations always run against the HEAD snapshot (never a read
    * pin), the same discipline as [[deleteWhere]]; the table's hive
    * layout is preserved on both rewrite and insert.
    */
  /** One SQL DML statement (UPDATE / DELETE / MERGE) as one snapshot —
    * with AUTO-RETRY past lost cross-process races (the Delta conflict
    * behavior for SQL statements): unlike the programmatic rewrite
    * faces (upsert / applyChanges / compact), which surface
    * [[ConcurrentCommitException]] to callers that may hold app-level
    * retry logic, a SQL user cannot catch mid-statement — so a lost
    * publish race here RE-RUNS the whole statement against the new
    * head (fresh candidates, fresh compute, fresh files; always
    * serializable because nothing of the failed attempt survives), with
    * the jittered backoff and livelock cap of [[withCommitRetry]]. A
    * failed attempt's data files are unreferenced and age out with
    * vacuum's grace like any orphan.
    */
  private[lakehouse] def sqlMutate(op: String,
      candidatesOf: Snapshot => Seq[String],
      compute: (Snapshot, Seq[String], DataFrame) => (Option[DataFrame], Option[DataFrame]))
      : Option[Snapshot] = writeLock.synchronized {
    withCommitRetry(Right(sqlMutateOnce(op, candidatesOf, compute)))
  }

  private def sqlMutateOnce(op: String,
      candidatesOf: Snapshot => Seq[String],
      compute: (Snapshot, Seq[String], DataFrame) => (Option[DataFrame], Option[DataFrame]))
      : Option[Snapshot] = {
    val cur = currentSnapshot().getOrElse(
      throw new IllegalStateException(s"table $root has no snapshots"))
    val curSet = cur.files.toSet
    val candidates = candidatesOf(cur).filter(curSet)
    val (survivors, inserts) = compute(cur, candidates, scanFiles(cur, candidates))
    if (survivors.isEmpty && inserts.isEmpty) return None
    val id = nextId()
    val partCols = inferPartitionCols(cur.files)
    val rewritten = survivors.map(df =>
      dropEmptyDataFiles(writeDataFiles(df, id, suffix = "rw", partitionCols = partCols))).getOrElse(Nil)
    val added = inserts.map(df =>
      dropEmptyDataFiles(writeDataFiles(df, id, partitionCols = partCols.filter(pc => df.columns.contains(specSourceCol(pc)))))).getOrElse(Nil)
    val kept = if (survivors.isDefined) cur.files.diff(candidates) else cur.files
    Some(writeSnapshot(Snapshot(id, Some(cur.snapshotId), System.currentTimeMillis(),
      op, kept ++ rewritten ++ added, cur.schemaJson, deletes = cur.deletes)))
  }

  /** Writers emit a zero-row part file for empty task partitions of a
    * tiny frame — keep those out of the manifest (the footers are in
    * the write-time stats cache, so this costs no extra I/O; the files
    * themselves fall to snapshot expiry like any unreferenced file).
    */
  private def dropEmptyDataFiles(files: Seq[String]): Seq[String] =
    files.filter(f => footerFileStats(f).forall(_.rows > 0))

  /** Replace the whole table content with `df` (schema AND rename
    * lineage reset — no pre-overwrite file survives, so no alias can
    * ever resolve again).
    */
  /** Create an EMPTY table — schema only, ZERO files (the DSv2 stream
    * bootstrap seed). An empty [[overwrite]] would land a zero-row
    * FLAT part file, and that one file poisons layout inference for
    * every partitioned epoch after it (mixed-scheme evidence stands
    * [[inferPartitionCols]] down); a file-less snapshot carries the
    * schema without touching the layout story.
    */
  private[lakehouse] def createEmpty(schema: StructType): Unit =
    writeLock.synchronized {
      // race-absorbing (two streams bootstrapping one root): a seed
      // that already landed — this thread's check raced another
      // in-process writer, or another PROCESS won the put-if-absent
      // publish — is the desired end state, not an error
      if (currentSnapshot().isDefined) return
      try {
        writeSnapshot(Snapshot(nextId(), None, System.currentTimeMillis(),
          "create", Nil, schema.json))
        ()
      } catch { case _: ConcurrentCommitException => () }
    }

  def overwrite(df: DataFrame): Snapshot = writeLock.synchronized {
    val id = nextId()
    val files = writeDataFiles(df, id)
    writeSnapshot(Snapshot(id, currentSnapshot().map(_.snapshotId),
      System.currentTimeMillis(), "overwrite", files, df.schema.json,
      renames = Some(Map.empty), drops = Some(Map.empty),
      reborn = Some(Map.empty)))
  }

  /** Filter-scoped overwrite — `INSERT OVERWRITE t PARTITION (p='x')`,
    * the daily partition-backfill statement: ONE snapshot that removes
    * every row matching `filters` (candidates from the same pruning
    * grammar as DELETE; partition-scoped filters prune to exactly the
    * partition's files) and lands `df`. Rows where the condition is
    * NULL survive, like DELETE. Declared schema and lineage are
    * UNTOUCHED (unlike full [[overwrite]], this is a row-set
    * operation), so the batch must conform to the declared column
    * types — the SQL path always does (the analyzer casts). Lost
    * cross-process races auto-retry like every SQL statement.
    */
  def overwriteWhere(df: DataFrame, filters: Seq[sources.Filter]): Option[Snapshot] = {
    val cond = filters.map(LakehouseSource.toCondition)
      .reduceOption(_ && _).getOrElse(lit(true))
    val data = requireDeclaredTypes(canonicalizedNames(df), "overwriteWhere")
    sqlMutate("overwrite",
      candidatesOf = snap =>
        LakehouseSource.pruneForFilters(this, snap, filters, declaredBucketSpec),
      compute = (_, cands, scan) =>
        (if (cands.isEmpty) None
         else Some(scan.filter(not(cond <=> lit(true)))),
          Some(data)))
  }

  /** Dynamic partition overwrite — replace EXACTLY the partitions
    * present in the incoming data (`spark.sql.sources.
    * partitionOverwriteMode=dynamic` + INSERT OVERWRITE): candidate
    * files match the batch's distinct partition-value tuples (decoded
    * from hive paths with the same typed cast the readers use), their
    * rows drop wholesale, the batch lands. Identity partitions only —
    * bucket transforms carry no value semantics to key on.
    */
  def overwriteDynamic(df: DataFrame): Option[Snapshot] = {
    val spec = {
      val d = declaredPartitionSpec
      if (d.nonEmpty) d
      else inferPartitionCols(currentSnapshot().map(_.files).getOrElse(Nil))
    }
    require(spec.nonEmpty,
      "dynamic partition overwrite requires a partitioned table " +
        "(declared or hive-inferred layout)")
    require(!spec.exists(p => LakehouseTable.BucketSpecRe.findFirstIn(p).isDefined),
      "dynamic partition overwrite is undefined over bucket transforms " +
        "(a bucket id is layout, not a partition value) — use identity " +
        "partitions or INSERT OVERWRITE ... PARTITION (...)")
    val data = requireDeclaredTypes(canonicalizedNames(df), "overwriteDynamic")
    data.cache()
    try {
      val schema = data.schema
      spec.foreach(c => require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"dynamic overwrite batch lacks partition column '$c'"))
      val fields = spec.map(c => schema.fields.find(_.name.equalsIgnoreCase(c)).get)
      // the batch's partition tuples, as CATALYST values — the same
      // representation the typed path-segment decode produces, so the
      // match can never depend on string formatting
      val conv = fields.map(f =>
        CatalystTypeConverters.createToCatalystConverter(f.dataType))
      val batchRows = data
        .select(fields.map(f => col(f.name)).toIndexedSeq: _*).distinct().collect()
      val tuples: Set[Seq[Any]] = batchRows
        .map(r => fields.indices.map(i => conv(i)(r.get(i))).toSeq).toSet
      val zone = java.time.ZoneId.of(
        spark.sessionState.conf.sessionLocalTimeZone)
      def tupleOf(relFile: String): Option[Seq[Any]] = {
        val segs = LakehouseTable.hiveSegsOf(relFile).map(_.split("=", 2))
        val vals = fields.map { f =>
          segs.collectFirst {
            case Array(k, v) if nameKey(k) == nameKey(f.name) =>
              if (v == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
                null
              // the RAW path segment: castPartValueToDesiredType applies
              // Spark's (single) path-unescape itself for the
              // escape-sensitive types (string/date/timestamp/binary) —
              // pre-unescaping here double-decoded values containing
              // literal %XX sequences, so 'a%25b' never matched its own
              // partition's files and the overwrite duplicated rows
              else org.apache.spark.sql.execution.datasources.PartitioningUtils
                .castPartValueToDesiredType(f.dataType, v, zone)
          }
        }
        if (vals.exists(_.isEmpty)) None else Some(vals.map(_.get))
      }
      // row-level form of the same membership test, for candidate files
      // whose partition tuple is NOT path-decodable (pre-spec files
      // written flat before set_partition_spec declared the layout):
      // `<=>` composed with AND/OR is never null, so `!matches` keeps
      // exactly the rows outside every incoming partition
      val matchesIncoming: org.apache.spark.sql.Column = batchRows.map { r =>
        fields.zipWithIndex.map { case (f, i) =>
          val v = r.get(i)
          col(f.name) <=> (if (v == null) lit(null).cast(f.dataType)
                           else lit(v).cast(f.dataType))
        }.reduce(_ && _)
      }.reduceOption(_ || _).getOrElse(lit(false))
      sqlMutate("overwrite",
        candidatesOf = snap =>
          // files with no decodable tuple may still hold rows of an
          // incoming partition (mixed lineage) — they are candidates
          // whose surviving rows rewrite through the row filter, so a
          // dynamic overwrite can never silently keep old rows of a
          // replaced partition
          snap.files.filter(f => tupleOf(f).fold(true)(tuples.contains)),
        compute = (_, cands, scan) =>
          (if (cands.isEmpty) None
           else if (cands.forall(f => tupleOf(f).isDefined))
             Some(scan.filter(lit(false))) // all-decoded: rows drop wholesale
           else Some(scan.filter(!matchesIncoming)),
            Some(data)))
    } finally { data.unpersist(); () }
  }

  /** A row-set write (partial overwrite) must conform to the declared
    * column types — it keeps the snapshot schema, so a WIDER batch
    * would strand wide physical files under a narrow declared type
    * (the readers refuse narrowing). The SQL path always conforms (the
    * analyzer casts); this guards the programmatic face.
    */
  private def requireDeclaredTypes(df: DataFrame, what: String): DataFrame = {
    currentSnapshot().foreach { cur =>
      val declared = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
        .fields.map(f => nameKey(f.name) -> f.dataType).toMap
      df.schema.fields.foreach { f =>
        declared.get(nameKey(f.name)).foreach { t =>
          require(sameIgnoringNullability(t, f.dataType),
            s"$what batch column '${f.name}' is ${f.dataType.simpleString} but " +
              s"the table declares ${t.simpleString} — cast the batch (partial " +
              "overwrites never evolve the schema)")
        }
      }
    }
    df
  }

  /** `ALTER TABLE ADD COLUMNS`: a schema-only snapshot (same file set,
    * widened schema) — the widen-only evolution contract as DDL.
    * Added columns must be nullable (existing files read them back as
    * NULL via the snapshot-schema alignment in [[scanFiles]]); names
    * must be fresh under case-insensitive resolution.
    */
  def addColumns(cols: Seq[org.apache.spark.sql.types.StructField]): Snapshot =
    writeLock.synchronized {
      require(cols.nonEmpty, "ADD COLUMNS requires at least one column")
      val cur = currentSnapshot().getOrElse(
        throw new IllegalStateException(s"table $root has no snapshots"))
      val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
      val id = nextId()
      // RE-INTRODUCING a name that old files may still carry bytes for
      // (a DROPPED column, or a FORMER name in some column's rename
      // lineage) is legal: the new column is a NEW field id, and a
      // reborn FLOOR pins the boundary — files whose origin predates
      // this alter never serve the name physically (identity-resolved
      // reads return NULL there, so retired bytes can never resurrect).
      // This retires the old compact-first refusals (FIELD_IDS.md
      // step 2/3).
      var drops = cur.droppedCols
      var floors = cur.rebornFloors
      cols.foreach { f =>
        require(f.nullable, s"added column '${f.name}' must be nullable " +
          "(existing rows have no value for it)")
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(f.name)),
          s"column '${f.name}' already exists")
        val wasDropped = drops.keys.exists(d => nameKey(d) == nameKey(f.name))
        val wasFormer = cur.aliases.values.exists(
          _.exists(a => nameKey(a.name) == nameKey(f.name)))
        if (wasDropped)
          drops = drops.filterNot { case (d, _) => nameKey(d) == nameKey(f.name) }
        if (wasDropped || wasFormer)
          floors = floors + (f.name -> id)
      }
      writeSnapshot(Snapshot(id, Some(cur.snapshotId),
        System.currentTimeMillis(), "alter", cur.files,
        StructType(schema.fields ++ cols).json, txn = None,
        deletes = cur.deletes,
        drops = Some(drops), reborn = Some(floors)))
    }

  /** `ALTER TABLE … ALTER COLUMN c COMMENT '…'`: a schema-only snapshot
    * carrying the comment in the column's metadata (every schema-compat
    * and alignment check compares dataTypes only, so comments ride the
    * manifest schema without touching any read or write path).
    */
  def commentColumn(name: String, comment: String): Snapshot = writeLock.synchronized {
    val cur = currentSnapshot().getOrElse(
      throw new IllegalStateException(s"table $root has no snapshots"))
    val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
    require(schema.fields.exists(f => nameKey(f.name) == nameKey(name)),
      s"no such column '$name' in ${schema.fieldNames.mkString("[", ", ", "]")}")
    writeSnapshot(Snapshot(nextId(), Some(cur.snapshotId),
      System.currentTimeMillis(), "alter", cur.files,
      StructType(schema.fields.map(f =>
        if (nameKey(f.name) == nameKey(name)) f.withComment(comment) else f)).json,
      txn = None, deletes = cur.deletes))
  }

  /** `ALTER TABLE … DROP COLUMN c`: a schema-only snapshot — data
    * files never rewrite; old files keep the column's physical bytes,
    * which readers simply never project. The dropped name (and its
    * whole rename lineage) enters the snapshot's dropped registry: a
    * lagging batch still carrying the column writes WITHOUT it
    * (definitionally discarded — the CDC-replication contract: a
    * pinned upstream stream keeps sending it), and re-ADDING the name
    * allocates a FRESH field id with a reborn floor (pre-drop files
    * serve NULL for it — identity resolution, FIELD_IDS.md step 2).
    * Compaction rewrites every file and CLEARS both registries.
    */
  def dropColumn(name: String): Snapshot = writeLock.synchronized {
    val cur = currentSnapshot().getOrElse(
      throw new IllegalStateException(s"table $root has no snapshots"))
    require(cur.tombstones.isEmpty,
      "DROP COLUMN with live merge-on-read tombstones is unsupported " +
        "(tombstone key files may reference it); run compact() or " +
        "foldTombstones() first")
    // guard BOTH layout sources: the declared spec AND — for path-based
    // tables without catalog metadata — the layout the write path
    // INFERS from the surviving hive dirs (dropping that column would
    // brick every later keyed write: writeDataFiles would partition by
    // a column the canonicalized batch no longer carries)
    val layoutSpec = {
      val d = declaredPartitionSpec
      if (d.nonEmpty) d else inferPartitionCols(cur.files)
    }
    require(!layoutSpec.exists(p => nameKey(specSourceCol(p)) == nameKey(name)),
      s"cannot drop '$name': the table's partition layout references it " +
        s"(${layoutSpec.mkString(", ")}) — evolve the layout first " +
        "(setPartitionSpec / CALL <catalog>.system.set_partition_spec), then drop")
    val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
    val field = schema.fields.find(f => nameKey(f.name) == nameKey(name))
      .getOrElse(throw new IllegalArgumentException(
        s"no such column '$name' in ${schema.fieldNames.mkString("[", ", ", "]")}"))
    require(schema.fields.length > 1, "cannot drop the table's last column")
    val id = nextId()
    // the dropped column's FORMER names are equally stale in old files
    val lineage = cur.aliases.collectFirst {
      case (k, v) if nameKey(k) == nameKey(field.name) => v }.getOrElse(Nil)
    val aliases = cur.aliases.filterNot { case (k, _) =>
      nameKey(k) == nameKey(field.name) }
    val dropped = cur.droppedCols ++
      (lineage.map(_.name) :+ field.name).map(n => n -> id)
    // a REBORN column being dropped again: its floor entry retires into
    // the drops registry (a future re-add computes a fresh, higher floor
    // that over-covers every earlier era)
    val floors = cur.rebornFloors.filterNot { case (n, _) =>
      nameKey(n) == nameKey(field.name) }
    writeSnapshot(Snapshot(id, Some(cur.snapshotId),
      System.currentTimeMillis(), "alter", cur.files,
      StructType(schema.fields.filterNot(f =>
        nameKey(f.name) == nameKey(field.name))).json,
      txn = None, deletes = cur.deletes,
      renames = Some(aliases), drops = Some(dropped), reborn = Some(floors)))
  }

  /** `ALTER TABLE … RENAME COLUMN old TO new`: a schema-only snapshot.
    * Data files never rewrite — the snapshot records the former name
    * with the renaming snapshot id ([[AliasEntry]]), reads resolve old
    * physical columns back to the new name, and compaction re-writes
    * files under the current name (after which the native scan treats
    * the table as never renamed). Live MoR tombstones keyed on the
    * renamed column would desync the mask keys, so rename requires a
    * compacted (tombstone-free) table — run `compact()` first.
    */
  def renameColumn(oldName: String, newName: String): Snapshot =
    writeLock.synchronized {
      val cur = currentSnapshot().getOrElse(
        throw new IllegalStateException(s"table $root has no snapshots"))
      require(cur.tombstones.isEmpty,
        "RENAME COLUMN with live merge-on-read tombstones is unsupported " +
          "(tombstone key files carry the old name); run compact() first")
      // a layout (declared in catalog metadata, or INFERRED from hive
      // dirs for path tables) that references the column would break
      // every later write (the spec keeps the old name and the write
      // path resolves it against the batch)
      val declaredSpec = {
        val d = declaredPartitionSpec
        if (d.nonEmpty) d else inferPartitionCols(cur.files)
      }
      require(!declaredSpec.exists(p =>
        nameKey(specSourceCol(p)) == nameKey(oldName)),
        s"cannot rename '$oldName': the table's partition layout references it " +
          s"(${declaredSpec.mkString(", ")}) — evolve the layout first " +
          "(setPartitionSpec / CALL <catalog>.system.set_partition_spec), " +
          "then rename")
      val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
      val field = schema.fields.find(f => nameKey(f.name) == nameKey(oldName))
        .getOrElse(throw new IllegalArgumentException(
          s"no such column '$oldName' in ${schema.fieldNames.mkString("[", ", ", "]")}"))
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
        s"column '$newName' already exists")
      val id = nextId()
      val renamed = StructType(schema.fields.map(f =>
        if (nameKey(f.name) == nameKey(oldName)) f.copy(name = newName) else f))
      // the renamed column inherits its own alias lineage plus the name
      // it is losing; the map re-keys to the new current name
      val lineage = cur.aliases.getOrElse(field.name,
        cur.aliases.collectFirst {
          case (k, v) if nameKey(k) == nameKey(field.name) => v }.getOrElse(Nil))
      val aliases = cur.aliases.filterNot { case (k, _) =>
        nameKey(k) == nameKey(field.name) } +
        (newName -> (lineage :+ AliasEntry(field.name, id)))
      // renaming TO a retired name is legal under identity resolution:
      // the column's alias lineage maps every old era to ITS era name
      // (never the destination name), so retired bytes under `newName`
      // are simply never requested for pre-rename origins. The name
      // leaves the dropped registry (it is live again — append
      // canonicalization must stop discarding it); any reborn floor the
      // column already carries follows it under the new key.
      val drops = cur.droppedCols.filterNot { case (d, _) =>
        nameKey(d) == nameKey(newName) }
      val floors = {
        val carried = cur.rebornFloors.collectFirst {
          case (n, b) if nameKey(n) == nameKey(field.name) => b }
        cur.rebornFloors.filterNot { case (n, _) =>
          nameKey(n) == nameKey(field.name) } ++
          carried.map(newName -> _)
      }
      writeSnapshot(Snapshot(id, Some(cur.snapshotId),
        System.currentTimeMillis(), "alter", cur.files, renamed.json,
        txn = None, deletes = cur.deletes, renames = Some(aliases),
        drops = Some(drops), reborn = Some(floors)))
    }

  /** `ALTER TABLE … ALTER COLUMN c TYPE <wider>`: lossless type
    * widening as a schema-only snapshot — old files keep their narrow
    * physical type and CAST on read (the parquet readers upcast
    * int32→long, float→double natively, so the vectorized path stays
    * on). Anything outside the lossless lattice refuses loudly.
    */
  def widenColumn(name: String, to: DataType): Snapshot = writeLock.synchronized {
    val cur = currentSnapshot().getOrElse(
      throw new IllegalStateException(s"table $root has no snapshots"))
    val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
    val field = schema.fields.find(f => nameKey(f.name) == nameKey(name))
      .getOrElse(throw new IllegalArgumentException(
        s"no such column '$name' in ${schema.fieldNames.mkString("[", ", ", "]")}"))
    require(canWiden(field.dataType, to),
      s"ALTER COLUMN '$name' ${field.dataType.simpleString} -> ${to.simpleString} " +
        "is not a lossless widening (allowed: byte/short/int -> wider integral, " +
        "float -> double); narrowing/retyping must go through overwrite")
    // bucket hashes are width-SENSITIVE (xxhash64(Int) != xxhash64(Long)):
    // widening a bucket-transform source would orphan pre-widen files in
    // stale bucket dirs — pruning and SPJ would silently miss rows
    require(!bucketSourceKeys.contains(nameKey(name)),
      s"cannot widen '$name': it is a bucket-transform source column " +
        s"(${declaredPartitionSpec.mkString(", ")}) and the bucket hash is " +
        "width-sensitive — re-create the table with the wide type (CTAS / " +
        "overwrite) instead")
    writeSnapshot(Snapshot(nextId(), Some(cur.snapshotId),
      System.currentTimeMillis(), "alter", cur.files,
      StructType(schema.fields.map(f =>
        if (nameKey(f.name) == nameKey(name)) f.copy(dataType = to) else f)).json,
      txn = None, deletes = cur.deletes))
  }

  /** Idempotently apply one [[schemaChangesBetween]] record to THIS
    * table — the replication sink's DDL-application half. Replays are
    * absorbed structurally (a rename whose target name already exists,
    * a widen already at the wide type, an add of a present column all
    * SKIP); a record that can apply but hits a guard (live tombstones
    * before a rename) self-heals by folding first; a record that fits
    * neither state throws loudly (the target has diverged — silently
    * continuing would desync every later batch).
    */
  def applySchemaChange(json: String): Unit = {
    val rec = DdlRecord.parse(json)
    val cur = currentSnapshot().getOrElse(
      throw new IllegalStateException(s"table $root has no snapshots"))
    val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
    def field(n: String) = schema.fields.find(f => nameKey(f.name) == nameKey(n))
    def fieldOf(rec: DdlRecord, what: String): String = rec.column.getOrElse(
      throw new IllegalStateException(s"schema change record lacks $what: $json"))
    // IDENTITY key (round 13, FIELD_IDS.md step 3): a record carrying
    // the source's immutable field id resolves its target column BY ID
    // when name resolution fails or misleads — a replica that missed a
    // rename record self-heals from the next identity-keyed record,
    // and a record replayed past a reborn namesake can never hit the
    // wrong (new) column. Name-only records keep the round-12 rules.
    def idOf(f: org.apache.spark.sql.types.StructField): Option[Int] =
      cur.fieldIds.flatMap(_.ids.collectFirst {
        case (n, i) if nameKey(n) == nameKey(f.name) => i })
    def byId: Option[String] = rec.fieldId.flatMap(id =>
      cur.fieldIds.flatMap(_.ids.collectFirst {
        case (n, i) if i == id => n }).flatMap(n => field(n).map(_.name)))
    rec.op match {
      case "rename" =>
        val from = rec.from.getOrElse(
          throw new IllegalStateException(s"schema change record lacks from: $json"))
        val to = rec.to.getOrElse(
          throw new IllegalStateException(s"schema change record lacks to: $json"))
        val toIdConfirmed = field(to).exists(f =>
          rec.fieldId.isDefined && idOf(f) == rec.fieldId)
        if (toIdConfirmed)
          // identity-confirmed replay: the destination column carries
          // the record's id — absorbed even when a REBORN namesake has
          // since re-taken the source name (which the name-only rule
          // below would mis-read as divergence)
          ()
        else if (field(to).isDefined && field(from).isDefined)
          // BOTH names live: not a replay — the target grew its own
          // column under the destination name; absorbing would desync
          // every later batch silently
          throw new IllegalStateException(
            s"cannot replay schema change $json: both '$from' and '$to' exist " +
              s"in ${schema.fieldNames.mkString("[", ", ", "]")} — the " +
              "replication target has diverged from the source lineage")
        else if (field(to).isDefined) () // already applied
        else if (field(from).isDefined) {
          if (cur.tombstones.nonEmpty) foldTombstones()
          renameColumn(from, to)
          ()
        } else byId match {
          case Some(stale) =>
            // the identity lives under a STALE name (the replica missed
            // an earlier rename record): heal by id
            if (cur.tombstones.nonEmpty) foldTombstones()
            renameColumn(stale, to)
            ()
          case None => throw new IllegalStateException(
            s"cannot replay schema change $json: neither '$from' nor '$to' " +
              s"exists in ${schema.fieldNames.mkString("[", ", ", "]")} — the " +
              "replication target has diverged from the source lineage")
        }
      case "drop" =>
        val name = fieldOf(rec, "column")
        field(name) match {
          case None => byId match {
            case Some(stale) =>
              // missed-rename heal: the doomed identity lives under a
              // stale name — drop THAT, not nothing
              if (cur.tombstones.nonEmpty) foldTombstones()
              dropColumn(stale)
              ()
            case None => () // already applied
          }
          case Some(f) if rec.fieldId.isDefined && idOf(f).isDefined &&
              idOf(f) != rec.fieldId =>
            // the name now belongs to a REBORN namesake (different
            // identity): the drop's target is already gone — dropping
            // the new column would destroy data the record never meant
            ()
          case Some(f) =>
            if (cur.tombstones.nonEmpty) foldTombstones()
            dropColumn(f.name)
            ()
        }
      case "set_spec" =>
        val spec = rec.spec.getOrElse(
          throw new IllegalStateException(s"schema change record lacks spec: $json"))
        // idempotent on the DECLARED layout (a replayed record, or a
        // bootstrap replaying the whole lineage, re-applies as a no-op)
        if (declaredPartitionSpec != spec) { setPartitionSpec(spec); () }
      case op @ ("widen" | "add") =>
        val name = fieldOf(rec, "column")
        val to = DataType.fromDDL(rec.`type`.getOrElse(
          throw new IllegalStateException(s"schema change record lacks type: $json")))
        // widen resolves by id when the name misses (missed rename);
        // add is a NEW identity — no id fallback to resolve
        val target = field(name).orElse(
          if (op == "widen") byId.flatMap(field) else None)
        (op, target) match {
          case (_, Some(f)) if f.dataType == to => () // already applied
          case ("widen", Some(f)) if canWiden(f.dataType, to) =>
            widenColumn(f.name, to); ()
          case ("add", None) =>
            addColumns(Seq(org.apache.spark.sql.types.StructField(
              name, to, nullable = true))); ()
          case ("add", Some(f)) => throw new IllegalStateException(
            s"cannot replay schema change $json: column exists as ${f.dataType.simpleString}")
          case ("widen", Some(f)) => throw new IllegalStateException(
            s"cannot replay schema change $json: ${f.dataType.simpleString} -> " +
              s"${to.simpleString} is not a lossless widening")
          case _ => throw new IllegalStateException(
            s"cannot replay schema change $json: no such column '$name'")
        }
      case _ => throw new IllegalStateException(s"unparseable schema change: $json")
    }
  }

  /** Create the table EMPTY with a declared schema (the catalog
    * `CREATE TABLE` shape): a zero-file snapshot that pins the schema,
    * so later writes evolve against it and reads of the fresh table
    * return an empty frame of the right shape. Fails if the table
    * already has snapshots.
    */
  def create(schema: StructType): Snapshot = writeLock.synchronized {
    require(currentSnapshot().isEmpty, s"table $root already exists")
    writeSnapshot(Snapshot(1L, None, System.currentTimeMillis(),
      "create", Nil, schema.json))
  }

  // ---------------- read paths ----------------

  /** Read the current table state (empty-but-created tables read as an
    * empty frame with the declared schema).
    */
  def read(): DataFrame = currentSnapshot() match {
    case Some(s) => scanFiles(s, s.files)
    case None    => throw new IllegalStateException(s"table $root has no snapshots")
  }

  /** Point-in-time scan of snapshot `id` (`time_travel.py:25-31`). */
  def scanAtSnapshot(id: Long, limit: Option[Int] = None): DataFrame = {
    val snap = listSnapshots().find(_.snapshotId == id).getOrElse(
      throw invalidSnapshot(id))
    val df = scanFiles(snap, snap.files)
    limit.map(df.limit).getOrElse(df)
  }

  /** Roll back: a NEW snapshot that re-points at an old file set
    * (history preserved, like Iceberg `set_current_snapshot`;
    * `time_travel.py:33-58` incl. invalid-id error listing valid ids).
    */
  def rollbackToSnapshot(id: Long): Snapshot = writeLock.synchronized {
    val snaps = listSnapshots()
    val target = snaps.find(_.snapshotId == id).getOrElse(throw invalidSnapshot(id))
    require(target.branch.isEmpty,
      s"snapshot $id belongs to branch '${target.branch.get}' — main cannot " +
        "roll back onto a branch state; publish the branch instead")
    writeSnapshot(Snapshot(nextId(), currentSnapshot().map(_.snapshotId),
      System.currentTimeMillis(), "rollback", target.files, target.schemaJson,
      deletes = target.deletes,
      renames = target.renames.orElse(Some(Map.empty)),
      drops = target.drops.orElse(Some(Map.empty)),
      reborn = target.reborn.orElse(Some(Map.empty)),
      // restore the TARGET's field ids (its schema is what reads see);
      // writeSnapshot clamps `next` against the head so ids allocated
      // after the target never get re-issued
      fieldIds = target.fieldIds))
  }

  private def invalidSnapshot(id: Long) = new IllegalArgumentException(
    s"Snapshot $id not found in table '$root'. " +
      s"Valid snapshot IDs: ${listSnapshots().map(_.snapshotId).sorted.mkString("[", ", ", "]")}")

  // ---------------- snapshot tags (named refs) ----------------

  /** Tags live under `_refs/<name>.json` — one write-once-replaceable
    * file per tag (atomic temp+move, so a reader never sees a torn
    * pointer and of two racing SET_TAGs one cleanly wins). A tag pins a
    * snapshot AGAINST RETENTION (expiry keeps tagged snapshots and
    * their files) and resolves through `VERSION AS OF '<tag>'` — the
    * reproducible-corpus-version primitive: tag the snapshot a training
    * run consumed and that exact table state stays addressable.
    */
  private def refsDir: Path = rootPath.resolve("_refs")

  private def refPath(name: String): Path = refsDir.resolve(name + ".json")

  /** Cross-PROCESS mutual exclusion between the two ref-sensitive
    * critical sections: a tag WRITE (validate the snapshot exists,
    * then land the pointer) and an expiry's { authoritative tag
    * listing → manifest delete } pass. Without it, a setTag racing a
    * remote expiry could validate against a manifest the sweep deletes
    * a moment later — a dangling tag with no error anywhere (round-12
    * What's-wrong #2). The lock is a put-if-absent file (`_refs/
    * .lock`, `Files.createFile` — the same conditional-PUT shape the
    * commit protocol uses), held for milliseconds; a crashed holder's
    * lock ages out after [[LakehouseTable.RefLockStaleMs]]. With it,
    * the race has exactly two linearizations: the tag lands first (the
    * sweep's in-lock listing sees it — the snapshot survives) or the
    * sweep deletes first (setTag's in-lock validation fails LOUDLY) —
    * never a silently lost tag.
    */
  /** Stale threshold for THIS handle's ref-lock arbitration — an
    * instance var so a spec can race breakers against a live holder
    * without perturbing other suites. Production value:
    * [[LakehouseTable.RefLockStaleMs]].
    */
  private[graft] var refLockStaleMs: Long = LakehouseTable.RefLockStaleMs

  private def withRefsLock[T](body: => T): T = {
    Files.createDirectories(refsDir)
    val lock = refsDir.resolve(".lock")
    // unique token written into the lock: a breaker re-verifies WHICH
    // lock it renamed aside before discarding it (ADVICE r13 — a bare
    // mtime-check + delete could destroy a lock another process created
    // between the check and the delete)
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + LakehouseTable.RefLockWaitMs
    var held = false
    while (!held) {
      try {
        Files.createFile(lock) // the single atomic arbiter (put-if-absent)
        // content lands right after the claim; a reader seeing the
        // empty window sees a lock milliseconds old, which no breaker
        // ever touches
        Files.writeString(lock, token)
        held = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          tryBreakStaleRefLock(lock)
          if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"could not acquire the ref lock '$lock' within " +
                s"${LakehouseTable.RefLockWaitMs} ms — a concurrent expiry " +
                "or tag write is wedged (a crashed holder ages out after " +
                s"$refLockStaleMs ms)")
          Thread.sleep(
            java.util.concurrent.ThreadLocalRandom.current().nextLong(2L, 16L))
      }
    }
    // heartbeat: a long-running critical section (a slow-storage expiry
    // sweep) refreshes its own lock's mtime, so "mtime older than the
    // stale threshold" really does mean a CRASHED holder — a live one
    // can only look stale across a JVM pause longer than the margin
    val done = new java.util.concurrent.CountDownLatch(1)
    val hb = new Thread(() => {
      val interval = math.max(50L, refLockStaleMs / 6)
      while (!done.await(interval, java.util.concurrent.TimeUnit.MILLISECONDS)) {
        // refresh only OUR OWN lock's mtime: if the slot now holds a
        // different token (a breaker displaced this holder and lost
        // the restore to a third acquirer), touching it would keep a
        // FOREIGN lock artificially fresh; warn once instead — the
        // residual two-holder window is documented at
        // [[tryBreakStaleRefLock]]
        try {
          if (Files.readString(lock) == token)
            Files.setLastModifiedTime(lock,
              java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
          else {
            System.err.println(s"[graft-lakehouse] WARNING: ref lock '$lock' " +
              "was broken from under a live holder (JVM pause longer than " +
              s"the $refLockStaleMs ms stale margin?) — another process may " +
              "be in the refs critical section concurrently; ref writes are " +
              "atomic renames, so the damage bound is a lost tag update")
            done.await() // stop heartbeating a lock that is no longer ours
          }
        } catch { case _: java.io.IOException => () } // broken/raced: acquire arbiter rules
      }
    }, s"graft-ref-lock-heartbeat-${rootPath.getFileName}")
    hb.setDaemon(true)
    hb.start()
    try body finally {
      done.countDown()
      hb.join(1000)
      // delete only OUR lock: if a breaker displaced it (pause longer
      // than the stale margin), the current lock belongs to someone else
      try {
        if (Files.readString(lock) == token) { Files.deleteIfExists(lock); () }
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Test seam: run `body` holding the ref lock (heartbeat active), so
    * specs can pin the live-holder-survives-breakers contract without
    * reaching into the private acquire path.
    */
  private[graft] def refsLockedForTest[T](body: => T): T = withRefsLock(body)

  /** Break `lock` iff it is genuinely stale, without ever destroying a
    * live holder's claim: rename it ASIDE first (atomic — of N racing
    * breakers exactly one wins; the losers see NoSuchFile and simply
    * retry the acquire), then re-verify the renamed file's age. If the
    * rename caught a FRESH lock (the stale one vanished and a new
    * holder claimed between this breaker's mtime read and its rename),
    * the aside file moves straight back — the breaker held the only
    * reference, so the restore can only fail if yet another acquirer
    * claimed meanwhile. The restore RETRIES briefly (the third
    * acquirer's critical sections are short), so the displaced fresh
    * holder gets its claim back in almost every interleaving; if every
    * retry loses, the aside is dropped and a RESIDUAL TWO-HOLDER WINDOW
    * remains: the displaced holder runs its critical section
    * concurrently with the new acquirer until its heartbeat notices the
    * foreign token and warns (its release degrades to a token-mismatch
    * no-op, never a wrong delete). The sections this lock guards are
    * themselves atomic ref-file renames, so the damage bound of that
    * window is a lost tag/ref update, not corruption.
    */
  private def tryBreakStaleRefLock(lock: Path): Unit = {
    val aside = refsDir.resolve(
      s".lock-breaking-${java.util.UUID.randomUUID().toString.take(12)}")
    try {
      val now = System.currentTimeMillis()
      if (Files.getLastModifiedTime(lock).toMillis >= now - refLockStaleMs) return
      Files.move(lock, aside, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // won the break: re-verify the file we actually renamed
      val fresh = try
        Files.getLastModifiedTime(aside).toMillis >=
          System.currentTimeMillis() - refLockStaleMs
      catch { case _: java.io.IOException => false }
      if (fresh) {
        // raced a new holder — restore its claim, retrying briefly past
        // third acquirers that grab the slot mid-restore (see Scaladoc)
        var restored = false
        var tries = 0
        while (!restored && tries < 25) {
          try {
            Files.move(aside, lock, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            restored = true
          } catch {
            case _: java.io.IOException =>
              tries += 1
              Thread.sleep(2)
          }
        }
        if (!restored) { Files.deleteIfExists(aside); () }
      } else { Files.deleteIfExists(aside); () }
    } catch {
      case _: java.io.IOException => () // lost the break race: retry acquire
    }
  }

  /** Point tag `name` at snapshot `snapshotId` (REPLACES an existing
    * tag — tags are movable pointers, the Iceberg ref shape). The
    * validate-then-write pair runs under [[withRefsLock]]: a snapshot
    * a concurrent expiry already swept fails here LOUDLY instead of
    * leaving a dangling pointer.
    */
  def setTag(name: String, snapshotId: Long,
      maxRefAgeMs: Option[Long] = None): Unit = writeLock.synchronized {
    require(name.nonEmpty && !name.startsWith(".") &&
      name.forall(c => c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"illegal tag name '$name' (letters, digits, '-', '_', '.'; no leading dot)")
    require(maxRefAgeMs.forall(_ > 0),
      s"maxRefAgeMs must be positive, got $maxRefAgeMs")
    withRefsLock {
      snapshotOrThrow(snapshotId)
      val tmp = Files.createTempFile(refsDir, ".ref-", ".tmp")
      Files.writeString(tmp, Serialization.write(
        TagRef(snapshotId, System.currentTimeMillis(), maxRefAgeMs)))
      Files.move(tmp, refPath(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    ()
  }

  /** Drop tag `name`; false when it never existed. */
  def dropTag(name: String): Boolean = writeLock.synchronized {
    Files.deleteIfExists(refPath(name))
  }

  /** All tags: name → (snapshot id, created-at millis). */
  def tags: Map[String, (Long, Long)] =
    tagRefs.map { case (n, r) => n -> (r.snapshot, r.createdMs) }

  /** All tags with their full ref bodies (incl. the max-ref-age). */
  def tagRefs: Map[String, TagRef] =
    if (!Files.isDirectory(refsDir)) Map.empty
    else graft.Fs.listAll(refsDir)
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".json") &&
        !p.getFileName.toString.startsWith("."))
      .map { p =>
        p.getFileName.toString.stripSuffix(".json") ->
          Serialization.read[TagRef](Files.readString(p))
      }.toMap

  /** Resolve a tag to its snapshot; unknown tags list what exists. */
  def snapshotForTag(name: String): Snapshot =
    tags.get(name).map { case (id, _) => snapshotOrThrow(id) }.getOrElse(
      throw new IllegalArgumentException(
        s"tag '$name' not found in table '$root'. " +
          s"Available tags: ${tags.keys.toSeq.sorted.mkString("[", ", ", "]")}"))

  // ---------------- snapshot clone / export ----------------

  /** ZERO-COPY SHALLOW CLONE at a tag: a new table root whose seed
    * manifest references this table's data files (and MoR tombstones)
    * BY ABSOLUTE PATH — O(metadata), no byte moves (the Delta
    * `CREATE TABLE … SHALLOW CLONE` shape). The clone is a full,
    * independent table after the fork: its own snapshots, tags,
    * branches, DML, compaction, changefeed; nothing it does ever
    * touches the source (its vacuum walks only its own data dir, its
    * writes land under its own root).
    *
    * Era metadata travels with the seed — schema, rename/drop/reborn
    * registries, field-id state, per-file stats (copied, zero footer
    * reads) and the declared partition layout — so the referenced
    * files resolve in the clone exactly as a time-travel read at the
    * tag resolves them here, stats pruning and SPJ included. The seed's
    * snapshot id EQUALS the source snapshot's, which keeps every
    * referenced file's path-derived origin strictly ≤ the fork id:
    * MoR masking and era resolution stay exact, and the clone's own
    * commits continue from the fork id.
    *
    * GC CONTRACT (expiry-vs-clone arbitration): the TAG is the pin.
    * Tagged snapshots survive the source's retention sweeps, so the
    * clone's foreign references outlive any source expiry while the
    * tag stands. Dropping the tag (or letting its max-ref-age lapse)
    * hands those files back to the source's expiry — call [[deepen]]
    * on the clone FIRST to localize them. A deep clone (`deep = true`)
    * copies bytes at clone time and needs no pin at all.
    */
  def cloneAtTag(destRoot: String, tag: String,
      deep: Boolean = false): LakehouseTable =
    cloneImpl(destRoot, snapshotForTag(tag),
      pinTag = if (deep) None else Some(tag), deep)

  /** [[cloneAtTag]] at a bare snapshot id. A SHALLOW clone creates a
    * protective source tag (`clone-pin-s<id>-<nonce>`, returned via the
    * clone's [[cloneProvenance]]) so the referenced snapshot survives
    * source expiry — the same pin contract, made explicit because no
    * user tag exists to carry it. [[deepen]] drops the auto-pin once
    * the clone owns its bytes.
    */
  def cloneAtSnapshot(destRoot: String, snapshotId: Long,
      deep: Boolean = false): LakehouseTable = writeLock.synchronized {
    val snap = snapshotOrThrow(snapshotId)
    val pin =
      if (deep) None
      else {
        val name = s"clone-pin-s$snapshotId-" +
          java.util.UUID.randomUUID().toString.take(8)
        setTag(name, snapshotId)
        Some(name)
      }
    cloneImpl(destRoot, snap, pin, deep)
  }

  private def cloneImpl(destRoot: String, snap: Snapshot,
      pinTag: Option[String], deep: Boolean): LakehouseTable = {
    require(snap.branch.isEmpty,
      s"snapshot ${snap.snapshotId} is a branch commit — publish the " +
        "branch (or clone a main/tagged state) first")
    val destPath = Paths.get(destRoot).toAbsolutePath.normalize
    require(!Files.isDirectory(destPath.resolve("_snapshots")) ||
      graft.Fs.listAll(destPath.resolve("_snapshots")).isEmpty,
      s"clone destination '$destRoot' already holds a table")
    require(destPath != rootPath.toAbsolutePath.normalize,
      "cannot clone a table onto itself")
    Files.createDirectories(destPath)
    def absOf(rel: String): String = rootPath.resolve(rel).toAbsolutePath.toString
    // deep: byte-copy into the SAME claim-dir-relative path, preserving
    // the path-derived origin id and hive partition dirs — distributed
    // over executors past a handful of files ([[localizeBytes]])
    val mapEntry: String => String =
      if (deep) (rel => LakehouseTable.claimDirRelative(rel)) else absOf
    val fileMap = (snap.files ++ snap.tombstones).map(f => f -> mapEntry(f)).toMap
    val dest = new LakehouseTable(spark, destPath.toString)
    if (deep) dest.localizeBytes(fileMap.toSeq.map { case (rel, local) =>
      (absOf(rel), local)
    })
    // seed the clone's stats cache under the remapped keys: the seed
    // commit then records per-file stats with ZERO footer reads
    snap.stats.getOrElse(Map.empty).foreach { case (k, st) =>
      fileMap.get(k).foreach(nk => dest.knownStats.put(nk, st))
    }
    // the declared partition layout (and prune-gating spec version)
    // travels verbatim — bucket pruning/SPJ behave as at the source
    val metaP = rootPath.resolve("_catalog.json")
    if (Files.exists(metaP)) {
      Files.copy(metaP, destPath.resolve("_catalog.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    dest.writeSnapshot(Snapshot(snap.snapshotId, None,
      System.currentTimeMillis(), "clone",
      snap.files.map(fileMap), snap.schemaJson,
      deletes = Some(snap.tombstones.map(fileMap)).filter(_.nonEmpty),
      renames = Some(snap.aliases), drops = Some(snap.droppedCols),
      reborn = Some(snap.rebornFloors), fieldIds = snap.fieldIds))
    Files.writeString(destPath.resolve("_clone.json"), Serialization.write(
      CloneInfo(rootPath.toAbsolutePath.normalize.toString, snap.snapshotId,
        pinTag, deep, System.currentTimeMillis())))
    dest
  }

  /** Clone provenance of THIS root, if it was created by a clone. */
  def cloneProvenance: Option[CloneInfo] = {
    val p = rootPath.resolve("_clone.json")
    if (Files.exists(p)) Some(Serialization.read[CloneInfo](Files.readString(p)))
    else None
  }

  /** LOCALIZE a shallow clone: copy every foreign (absolute) file and
    * tombstone the CURRENT snapshot references into this root's own
    * data dir — same claim-dir-relative paths, so origins and hive
    * layout carry — and commit ONE `deepen` snapshot over the local
    * entries (stats carry, no footer reads). After it, the clone owns
    * its bytes: the source may expire, vacuum, or vanish. Drops the
    * auto-created pin tag on the source when provenance records one
    * (best effort — an unreachable source just keeps the tag). Returns
    * files localized (0 = nothing foreign: already deep, or deepened
    * before, or every foreign file was rewritten away by DML/compact).
    *
    * Content-neutral for consumers: the deepen snapshot swaps
    * references for identical bytes, so a changefeed across it
    * delivers ZERO row changes (the compaction-cancellation contract).
    * HISTORY note: earlier clone snapshots (the seed included) keep
    * their foreign references — after the source expires those files,
    * only TIME TRAVEL to pre-deepen states breaks; current reads and
    * everything after the deepen are self-contained, and the clone's
    * own snapshot expiry trims the foreign history out. Pass
    * `allHistory = true` to localize EVERY reachable snapshot's
    * foreign references too: history manifests stay immutable, the
    * read path serves their entries from the local copies, and full
    * pre-deepen lineage survives source expiry.
    */
  def deepen(allHistory: Boolean = false): Int = writeLock.synchronized {
    val cur = currentSnapshot().getOrElse(return 0)
    def isForeign(f: String) = Paths.get(f).isAbsolute
    val curForeign = (cur.files ++ cur.tombstones).filter(isForeign).distinct
    // `allHistory` localizes every REACHABLE snapshot's foreign
    // references too (the full-lineage form): pre-deepen time travel
    // keeps working after the source expires, because the read path
    // prefers a file's local copy over a dangling foreign reference
    // ([[localizedGroup]]) — history manifests stay IMMUTABLE (the
    // snapshot-cache contract), only bytes move.
    val histForeign =
      if (!allHistory) Nil
      else listSnapshots().flatMap(s => s.files ++ s.tombstones)
        .filter(isForeign).distinct.filterNot(curForeign.contains)
    if (curForeign.isEmpty && histForeign.isEmpty) return 0
    localizeBytes((curForeign ++ histForeign).map(f =>
      f -> LakehouseTable.claimDirRelative(f)))
    if (curForeign.nonEmpty) {
      val remap = curForeign.map(f =>
        f -> LakehouseTable.claimDirRelative(f)).toMap
      cur.stats.getOrElse(Map.empty).foreach { case (k, st) =>
        remap.get(k).foreach(knownStats.put(_, st))
      }
      writeSnapshot(Snapshot(nextId(), Some(cur.snapshotId),
        System.currentTimeMillis(), "deepen",
        cur.files.map(f => remap.getOrElse(f, f)), cur.schemaJson,
        deletes = Some(cur.tombstones.map(f => remap.getOrElse(f, f)))
          .filter(_.nonEmpty)))
      ()
    }
    // release the auto-pin: the clone no longer depends on the source
    cloneProvenance.filter(_.pinTag.exists(_.startsWith("clone-pin-"))).foreach { ci =>
      try { new LakehouseTable(spark, ci.sourceRoot).dropTag(ci.pinTag.get); () }
      catch { case _: Exception => () }
    }
    curForeign.size + histForeign.size
  }

  /** Localize foreign bytes into their claim-dir-relative local paths.
    * Past a handful of files the copy runs as a SPARK JOB over
    * executors — at the scale the clone machinery targets, byte
    * localization is the one genuinely heavy step, and a sequential
    * driver loop would serialize a 100 TB deepen through one thread.
    * The caller's single metadata commit stays driver-side; per-file
    * the copy is idempotent (exists-check, with the create race
    * absorbed in [[LakehouseTable.copyFileInto]]).
    */
  private def localizeBytes(pairs0: Seq[(String, String)]): Unit = {
    val pairs = pairs0
      .map { case (src, rel) => (src, rootPath.resolve(rel).toString) }
      .filterNot { case (_, dst) => Files.exists(Paths.get(dst)) }
    if (pairs.isEmpty) ()
    else if (pairs.size <= LakehouseTable.DriverCopyMax)
      pairs.foreach { case (s, d) => LakehouseTable.copyFileInto(s, d) }
    else {
      val slices = math.min(pairs.size,
        math.max(1, spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(pairs, slices).foreachPartition {
        (it: Iterator[(String, String)]) =>
          if (it.hasNext) CloneCopyStats.copyTasks.incrementAndGet()
          it.foreach { case (s, d) =>
            LakehouseTable.copyFileInto(s, d)
            CloneCopyStats.filesCopied.incrementAndGet()
          }
      }
    }
  }

  // ---------------- branches (write-audit-publish) ----------------

  private def branchesDir: Path = refsDir.resolve("branches")

  private def branchPath(name: String): Path = branchesDir.resolve(name + ".json")

  /** All branches: name → ref (fork snapshot + creation time). */
  def branches: Map[String, BranchRef] =
    if (!Files.isDirectory(branchesDir)) Map.empty
    else graft.Fs.listAll(branchesDir)
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".json") &&
        !p.getFileName.toString.startsWith("."))
      .map(p => p.getFileName.toString.stripSuffix(".json") ->
        Serialization.read[BranchRef](Files.readString(p)))
      .toMap

  /** Create branch `name` forking from `fromSnapshot` (default: the
    * main head) — the Iceberg write-audit-publish entry point: commits
    * to the branch are invisible to main consumers until
    * [[publishBranch]] fast-forwards them in. The ref write shares the
    * tag machinery's cross-process arbitration ([[withRefsLock]]).
    */
  def forkBranch(name: String, fromSnapshot: Option[Long] = None): Unit =
    writeLock.synchronized {
      require(name.nonEmpty && !name.startsWith(".") &&
        name.forall(c => c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
        s"illegal branch name '$name' (letters, digits, '-', '_', '.'; no leading dot)")
      withRefsLock {
        require(!branches.contains(name), s"branch '$name' already exists")
        // name REUSE is fine (the fixed-branch-name-per-pipeline-run WAP
        // pattern): the fresh incarnation epoch below keys membership,
        // so a dead incarnation's unexpired snapshots can never resolve
        // as the new branch's head (ADVICE r13)
        val fork = fromSnapshot.getOrElse(currentSnapshot().getOrElse(
          throw new IllegalStateException(
            s"cannot branch a snapshot-less table $root")).snapshotId)
        val target = snapshotOrThrow(fork)
        require(target.branch.isEmpty,
          s"snapshot $fork belongs to branch '${target.branch.get}' — branches " +
            "fork from the main lineage")
        Files.createDirectories(branchesDir)
        val tmp = Files.createTempFile(branchesDir, ".ref-", ".tmp")
        Files.writeString(tmp, Serialization.write(
          BranchRef(fork, System.currentTimeMillis(), epoch = Some(
            java.util.concurrent.ThreadLocalRandom.current().nextLong()))))
        Files.move(tmp, branchPath(name),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      ()
    }

  /** Does snapshot `s` belong to the CURRENT incarnation of branch
    * `name` (ref `ref`)? Epochs must pair exactly — a legacy epoch-less
    * ref pairs only with legacy epoch-less markers.
    */
  private def inBranch(s: Snapshot, name: String, ref: BranchRef): Boolean =
    s.branch.contains(name) && s.branchEpoch == ref.epoch

  /** The branch HEAD: the newest snapshot committed to THIS incarnation
    * of the branch, or its fork snapshot before any commit landed.
    */
  def branchHead(name: String): Snapshot =
    branchHeadIn(listSnapshots(), name, branchRef(name))

  private def branchHeadIn(snaps: Seq[Snapshot], name: String, ref: BranchRef): Snapshot =
    snaps.reverseIterator.find(inBranch(_, name, ref))
      .orElse(snaps.find(_.snapshotId == ref.fork))
      .getOrElse(throw invalidSnapshot(ref.fork))

  private def branchRef(name: String): BranchRef =
    branches.getOrElse(name, throw new IllegalArgumentException(
      s"branch '$name' not found in table '$root'. " +
        s"Available branches: ${branches.keys.toSeq.sorted.mkString("[", ", ", "]")}"))

  /** Append `df` to branch `name` — the WRITE of write-audit-publish:
    * [[append]] against the BRANCH head (ordinary snapshot, global
    * version id, put-if-absent commit, every registry inherited from
    * the branch head). Lost races rebase, and a raced merge-on-read
    * tombstone newer than this append surfaces
    * [[ConcurrentCommitException]], exactly as on main.
    */
  def appendToBranch(df0: DataFrame, name: String,
      partitionBy: Seq[String] = Nil): Snapshot = writeLock.synchronized {
    appendWith(df0, partitionBy, mark = None, onBranch(name)).get
  }

  /** Keyed [[upsert]] against branch `name`'s head — a WAP audit flow
    * over a CDC-replicated table wants keyed writes on the branch, not
    * just appends. A branch that rewrote fork files can only publish by
    * fast-forward (publish refuses a rebase — the rewrite's survivor
    * set was computed against the fork, so main advancing makes it
    * stale).
    */
  def upsertToBranch(df0: DataFrame, keys: Seq[String], name: String,
      mergeOnRead: Boolean = false): Snapshot = writeLock.synchronized {
    upsertOn(onBranch(name), df0, keys, mergeOnRead)
  }

  /** [[applyChanges]] against branch `name`'s head. No txn ledger on
    * branches: the WAP audit flow replays by re-forking, not by ledger
    * absorption.
    */
  def applyChangesToBranch(ch0: DataFrame, keys: Seq[String], name: String,
      mergeOnRead: Boolean = false): Snapshot = writeLock.synchronized {
    applyChangesWith(ch0, keys, mark = None, mergeOnRead, onBranch(name))
  }

  /** PUBLISH — the PUBLISH of write-audit-publish: one main commit
    * adopting the branch's state, then the branch ref drops.
    *
    *  - Main still at the fork → FAST-FORWARD: the head's exact state
    *    (files by reference, schema, registries, field ids) becomes a
    *    main commit.
    *  - Main advanced past the fork → REBASE: when the branch lineage
    *    is pure APPEND and main's advance is compatible (schema and
    *    rename/drop/reborn registries unchanged since the fork, no new
    *    tombstones), the branch's added files re-commit on TOP of the
    *    main head — one metadata-only cherry-pick, so a WAP audit on a
    *    busy table publishes instead of starving. Genuine conflicts
    *    (the branch rewrote fork files via keyed writes, either side
    *    changed schema or registries, main landed deletes) refuse with
    *    the re-fork recipe — a rebase there could resurrect deleted
    *    rows or desync era resolution.
    *
    * CRASH-ATOMIC: the publish commit carries a `publishOf` marker
    * ("name@epoch"); a retry that finds its marker already on main
    * (crash between the commit and the ref drop) completes the ref
    * drop idempotently and returns the published snapshot (ADVICE r13).
    */
  def publishBranch(name: String): Snapshot = writeLock.synchronized {
    val ref = branchRef(name)
    val pubKey = s"$name@${ref.epoch.getOrElse(0L)}"
    // already-published detection FIRST: a crash between the publish
    // commit and the ref drop must recover, not refuse forever
    listSnapshots().reverseIterator
      .find(s => s.branch.isEmpty && s.publishOf.contains(pubKey)) match {
      case Some(done) => dropBranch(name); return done
      case None => ()
    }
    val head = branchHead(name)
    val main = currentSnapshot().getOrElse(
      throw new IllegalStateException(s"table $root has no snapshots"))
    val published =
      if (main.snapshotId == ref.fork)
        writeSnapshot(Snapshot(nextId(), Some(main.snapshotId),
          System.currentTimeMillis(), "publish", head.files, head.schemaJson,
          deletes = head.deletes, publishOf = Some(pubKey),
          renames = head.renames.orElse(Some(Map.empty)),
          drops = head.drops.orElse(Some(Map.empty)),
          reborn = head.reborn.orElse(Some(Map.empty)),
          fieldIds = head.fieldIds))
      else rebasePublish(name, ref, pubKey, head, main)
    dropBranch(name)
    published
  }

  /** The rebase half of [[publishBranch]]: cherry-pick a pure-append
    * branch lineage onto a main head that advanced past the fork.
    * Every precondition below guards a REAL corruption vector, not a
    * formality — see the refusal messages.
    */
  private def rebasePublish(name: String, ref: BranchRef, pubKey: String,
      head: Snapshot, main: Snapshot): Snapshot = {
    def refuse(why: String): Nothing = throw new IllegalStateException(
      s"cannot publish branch '$name': main advanced from fork ${ref.fork} " +
        s"to ${main.snapshotId} and $why — re-fork from the current head " +
        "and replay the branch, then publish")
    val fork = snapshotOrThrow(ref.fork)
    val lineage = listSnapshots().filter(inBranch(_, name, ref))
    // keyed branch writes rewrote fork files: their survivor sets were
    // computed against the fork, so stacking them on a moved main could
    // drop main's rows or resurrect the branch's rewritten ones
    if (!lineage.forall(_.operation == "append"))
      refuse("the branch holds keyed writes (upsert/applyChanges), which " +
        "rewrote fork-lineage files against the fork state")
    if ((fork.files.toSet -- head.files.toSet).nonEmpty)
      refuse("the branch removed fork files")
    // STATE-derived guards, not just op evidence: retention may have
    // expired an intermediate branch snapshot (only head + fork are
    // pinned), hiding a keyed write's operation tag — but a rewrite
    // always leaves a fork file missing (caught above) and a
    // merge-on-read apply always leaves a tombstone, which a rebase
    // onto main.deletes would silently DROP (resurrecting the branch's
    // deleted rows in the published state)
    if ((head.tombstones.toSet -- fork.tombstones.toSet).nonEmpty)
      refuse("the branch landed merge-on-read deletes")
    // era resolution ties physical names to origin-vs-registry boundaries;
    // a rename/drop/reborn on EITHER side since the fork would make the
    // branch's files (origins newer than main's DDL) resolve wrongly
    def schemaOf(s: Snapshot) =
      DataType.fromJson(s.schemaJson).asInstanceOf[StructType].fields
        .map(f => (nameKey(f.name), f.dataType)).toSeq.sortBy(_._1)
    if (schemaOf(main) != schemaOf(fork) || schemaOf(head) != schemaOf(fork))
      refuse("the schema changed since the fork (on main or on the branch)")
    if (main.aliases != fork.aliases || main.droppedCols != fork.droppedCols ||
        main.rebornFloors != fork.rebornFloors)
      refuse("main's rename/drop/reborn registries changed since the fork")
    // a tombstone main landed after the fork masks rows in files with
    // OLDER origins — which can include the branch's appends (the same
    // interleaving appendWith surfaces as a conflict)
    if ((main.tombstones.toSet -- fork.tombstones.toSet).nonEmpty)
      refuse("main landed merge-on-read deletes since the fork")
    // files main ALREADY references add nothing: if the publishOf
    // marker expired between a crashed publish and its retry, the
    // branch's files are in main's lineage already — re-adding them
    // would double every row; the filtered re-publish converges to a
    // no-op commit instead
    val added = head.files.filterNot(fork.files.toSet).filterNot(main.files.toSet)
    writeSnapshot(Snapshot(nextId(), Some(main.snapshotId),
      System.currentTimeMillis(), "publish", main.files ++ added,
      main.schemaJson, deletes = main.deletes, publishOf = Some(pubKey),
      renames = main.renames.orElse(Some(Map.empty)),
      drops = main.drops.orElse(Some(Map.empty)),
      reborn = main.reborn.orElse(Some(Map.empty)),
      fieldIds = main.fieldIds))
  }

  /** Abandon branch `name`: the ref drops, its snapshots lose head
    * protection and age out of retention like any unreferenced
    * history. False when the branch never existed.
    */
  def dropBranch(name: String): Boolean = writeLock.synchronized {
    Files.deleteIfExists(branchPath(name))
  }

  // ---------------- maintenance ----------------

  /** Drop snapshot manifests older than `cutoffMs` (keeping the current
    * one regardless) and delete data files no surviving snapshot
    * references (`maintenance.py:106-124`).
    */
  def expireSnapshotsOlderThan(cutoffMs: Long): Int = writeLock.synchronized {
    if (listSnapshots().isEmpty) return 0
    onBeforeExpireSweep()
    // the { authoritative tag listing → manifest delete } pass runs
    // under the cross-process ref lock: a tag landing concurrently is
    // either visible to THIS listing (its snapshot survives) or its
    // setTag fails loudly against the already-deleted manifest — the
    // two legal linearizations, never a silently dangling ref
    val (kept, expiredCount) = withRefsLock {
      val snaps = listSnapshots()
      // the protected "current" is the MAIN head — the newest GLOBAL
      // snapshot may be a branch commit, whose survival is the branch
      // ref's business below
      val current = currentSnapshot().getOrElse(snaps.last)
      // a tag past its own max-ref-age drops FIRST (its pin ends with
      // it): the age sweep and the tagged listing share the lock, so a
      // ref is either young enough to protect its snapshot through
      // this whole sweep or gone before the listing
      val nowMs = System.currentTimeMillis()
      tagRefs.foreach { case (n, r) =>
        if (r.maxRefAgeMs.exists(a => r.createdMs + a <= nowMs)) {
          Files.deleteIfExists(refPath(n)); ()
        }
      }
      // TAGGED snapshots survive retention regardless of age — a tag
      // is a promise that this exact table state stays addressable
      // (drop the tag, or let its max-ref-age lapse, to let it expire).
      // Live BRANCH HEADS (and each branch's fork point) survive the
      // same way: an in-flight write-audit-publish must stay
      // publishable through maintenance; intermediate branch snapshots
      // age out like main history.
      val branchKept = branches.flatMap { case (n, ref) =>
        Seq(branchHead(n).snapshotId, ref.fork)
      }.toSet
      val tagged = tags.values.map(_._1).toSet ++ branchKept
      val (expired, kept0) = snaps.filterNot(_.snapshotId == current.snapshotId)
        .partition(s => s.timestampMs < cutoffMs && !tagged(s.snapshotId))
      // the exactly-once ledger must survive retention (the Delta
      // SetTransaction-retention concern): deleting the manifest that
      // carries an app's LATEST txn mark would let a replayed streaming
      // batch apply twice after maintenance. Fold the expiring marks
      // into the floor file BEFORE deleting — a few bytes per
      // producer — so data files vacuum freely and the ledger still
      // never forgets.
      val expiringMarks = expired.flatMap(_.txn)
      if (expiringMarks.nonEmpty) {
        // one consistent (files, merged) view: the files GC'd below are
        // exactly the ones whose marks the new merged file absorbed
        val (consumed, floor) = listAndReadFloor()
        val merged = expiringMarks.foldLeft(floor) { (m, t) =>
          m + (t.appId -> math.max(t.version, m.getOrElse(t.appId, Long.MinValue)))
        }
        writeTxnFloor(merged, consumed)
      }
      expired.foreach { s =>
        val name = f"${s.snapshotId}%09d.json"
        Files.deleteIfExists(snapsDir.resolve(name))
        // the parsed entry (full file list + stats maps) must go with
        // the manifest, or a long-lived handle under continuous
        // commit+expiry grows driver memory one dead snapshot per cycle
        snapshotCache.remove(name)
      }
      (kept0 :+ current, expired.size)
    }
    // tombstone files are live references too — GC'ing one that a
    // retained snapshot still consults would resurrect its deleted rows
    val live = kept.flatMap(s => s.files ++ s.tombstones).toSet
    if (Files.isDirectory(dataDir)) {
      graft.Fs.walkAll(dataDir)
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .filterNot(p => live.contains(rootPath.relativize(p).toString))
        // a file no manifest references may be ANOTHER PROCESS'S
        // in-flight write (data lands before its manifest publishes) —
        // vacuum it only once it is older than the retention cutoff,
        // the same grace Delta's VACUUM gives uncommitted files
        .filter(p => Files.getLastModifiedTime(p).toMillis < cutoffMs)
        .foreach(Files.deleteIfExists(_))
    }
    // orphaned commit temps (a writer that crashed mid-publish) age out
    // on the same clock; live temps are seconds old and stay — tag-ref
    // temps (a crashed setTag) and branch-ref temps (a crashed
    // forkBranch) ride the same sweep
    Seq(snapsDir, refsDir, branchesDir).filter(Files.isDirectory(_)).foreach { dir =>
      graft.Fs.listAll(dir)
        .filter(_.getFileName.toString.endsWith(".tmp"))
        .filter(p => Files.getLastModifiedTime(p).toMillis < cutoffMs)
        .foreach(Files.deleteIfExists(_))
    }
    pruneBloomSidecars()
    expiredCount
  }

  /** Delete bloom sidecars whose data file no retained snapshot
    * references: compaction and expiry drop data files but their
    * `.bloom` sidecars would otherwise stay on disk forever, so
    * `_index/bloom` grows without bound under the continuous
    * maintenance lifecycle. Returns sidecars removed.
    */
  def pruneBloomSidecars(): Int = writeLock.synchronized {
    val live = listSnapshots().flatMap(_.files).toSet
    // cache entries for dropped files go with them — on a long-lived
    // table under continuous maintenance the maps would otherwise grow
    // one dead entry per rewritten file
    footerCache.keySet.removeIf(k => !live.contains(k))
    bloomCache.keySet.removeIf(k => !live.contains(k._2))
    knownStats.keySet.removeIf(k => !live.contains(k))
    val bd = rootPath.resolve("_index").resolve("bloom")
    if (!Files.isDirectory(bd)) return 0
    val dead = graft.Fs.walkAll(bd)
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".bloom"))
      .filterNot { p =>
        val rel = decodeSidecarName(p.getFileName.toString.stripSuffix(".bloom"))
        live.contains(rel)
      }
    dead.foreach(Files.deleteIfExists(_))
    dead.size
  }

  /** Coalesce the current file set when it exceeds `fileThreshold`,
    * unless the row count exceeds `maxRows` (`maintenance.py:126-244`;
    * the row cap mirrors compaction_max_rows_per_batch). Returns the
    * new snapshot if compaction ran.
    */
  def compact(fileThreshold: Int, maxRows: Long, targetFiles: Int = 1): Option[Snapshot] = writeLock.synchronized {
    val cur = currentSnapshot().getOrElse(return None)
    if (cur.files.size < fileThreshold) return None
    // effective read: a whole-table compaction FOLDS the MoR tombstones
    // (masked rows drop here, the new snapshot carries no deletes) —
    // restoring exact metadata counts and the fast change-feed path
    val df = scanFiles(cur, cur.files)
    val rows = df.count()
    if (rows > maxRows) return None // too large for in-process compaction
    val id = nextId()
    // a DECLARED layout re-imposes on the rewrite: compaction is what
    // HEALS a spec-evolved (or renamed) lineage back to one uniform
    // layout — post-compact every file carries the current spec's dirs
    // (bucket SPJ and bucket-dir pruning resume across the whole table)
    val files = writeDataFiles(df.repartition(targetFiles), id, suffix = "compact",
      partitionCols = declaredPartitionSpec)
    // every pre-drop file is gone after a whole-table rewrite: the
    // dropped-column registry clears (and reborn floors fall inert —
    // every surviving file's origin is past any floor)
    Some(writeSnapshot(Snapshot(id, Some(cur.snapshotId), System.currentTimeMillis(),
      "compact", files, cur.schemaJson, drops = Some(Map.empty),
      reborn = Some(Map.empty))))
  }

  /** Partition-scoped compaction (`maintenance.py:178-244`): only
    * partitions whose file count exceeds `fileThreshold` are rewritten;
    * a partition whose row count exceeds `maxRows` is skipped with a
    * warning (too large for in-process compaction); untouched partitions
    * carry over by reference. Requires a hive-style `col=value` layout
    * (append with `partitionBy`).
    */
  def compactPartitioned(
      partitionCol: String, fileThreshold: Int, maxRows: Long): Option[Snapshot] = writeLock.synchronized {
    val cur = currentSnapshot().getOrElse(return None)
    val marker = s"$partitionCol="
    def partitionValueOf(relPath: String): Option[String] =
      relPath.split('/').find(_.startsWith(marker)).map(_.drop(marker.length))

    val byPartition = cur.files.groupBy(partitionValueOf)
    val candidates = byPartition.collect {
      case (Some(value), files) if files.size >= fileThreshold => value -> files
    }
    if (candidates.isEmpty) return None

    val id = nextId()
    var rewritten = List.empty[String]
    var touched = Set.empty[String]
    candidates.foreach { case (value, files) =>
      val part = scanFiles(cur, files) // effective: MoR-masked rows fold out
      if (part.count() <= maxRows) {
        touched ++= files
        // row cap guarantees the partition fits one write task
        rewritten ++= writeDataFiles(part.coalesce(1), id,
          suffix = s"compact-$partitionCol-$value", partitionCols = Seq(partitionCol))
      } // else: partition too large — skipped, mirroring the reference warning
    }
    if (touched.isEmpty) return None
    val untouchedFiles = cur.files.filterNot(touched)
    // partial rewrite: tombstones must survive (they may mask rows in
    // the untouched partitions); the rewritten rows' fresh origin puts
    // them beyond every existing tombstone
    Some(writeSnapshot(Snapshot(id, Some(cur.snapshotId), System.currentTimeMillis(),
      "compact", untouchedFiles ++ rewritten, cur.schemaJson,
      deletes = cur.deletes)))
  }

  /** Live MoR tombstone volume of `snap` — (tombstone files, total
    * keys, total bytes) from manifest stats (footer fallback for
    * pre-stats manifests; an unreadable/vacuumed file counts zero).
    * Driver-side metadata, zero jobs: the budget input for the
    * maintenance auto-fold and the `$snapshots` / health surface.
    * Masks accumulate across MoR applies with nothing else bounding
    * them — this is what a compaction trigger can finally read.
    */
  def tombstoneVolume(snap: Snapshot): (Int, Long, Long) =
    tombstoneVolume(snap, footerFallback = true)

  /** [[tombstoneVolume]] with the footer fallback optional: a metadata
    * listing over a LONG lineage ($snapshots) must stay zero-I/O even
    * for pre-stats manifests — manifest stats only, missing entries
    * count zero (the budget path keeps the exact fallback form).
    */
  def tombstoneVolume(snap: Snapshot, footerFallback: Boolean): (Int, Long, Long) = {
    var keys = 0L
    var bytes = 0L
    snap.tombstones.foreach { f =>
      val st = if (footerFallback) fileStatsOf(snap, f)
        else snap.stats.flatMap(_.get(f))
      st.foreach { s =>
        keys += s.rows
        bytes += s.bytes.getOrElse(0L)
      }
    }
    (snap.tombstones.size, keys, bytes)
  }

  /** Fold the current snapshot's MoR tombstones WITHOUT a whole-table
    * rewrite: rewrite only the affected-file superset (per mask, files
    * older than its newest tombstone whose manifest stats / partition
    * path admit at least one masked key — the same metadata pre-prune
    * the native scan runs), drop every tombstone from the manifest, and
    * carry everything else by reference. Cost scales with
    * tombstone-TOUCHED data, not table size — the auto-fold a budget
    * trigger can afford to fire between full compactions. Key types
    * outside the mask canon space fold every file older than the newest
    * tombstone (correct, coarser). No-op without tombstones.
    */
  def foldTombstones(): Option[Snapshot] = writeLock.synchronized {
    val cur = currentSnapshot().getOrElse(return None)
    if (cur.tombstones.isEmpty) return None
    val byOrigin = cur.files.map(f => f -> originOf(f)).toMap
    val affected: Seq[String] =
      if (LakehouseMor.typesSupported(spark, this, cur))
        LakehouseMor.build(spark, this, cur).flatMap { m =>
          val preds = m.keyNames.zipWithIndex.map { case (k, i) =>
            ScanPredicate.InSet(k, m.byKey.keysIterator
              .map(tup => LakehouseMor.decanon(m.keyTypes(i), tup(i))).toSeq.distinct)
          }
          val kept = pruneFiles(cur, preds)._1.toSet
          cur.files.filter(f => kept(f) && byOrigin(f) < m.maxOrigin)
        }.distinct
      else {
        val maxOrigin = cur.tombstones.map(originOf).max
        cur.files.filter(byOrigin(_) < maxOrigin)
      }
    val id = nextId()
    // effective read of ONLY the affected files: scanFiles masks per-row
    // by origin, so survivors re-land at a fresh origin beyond every
    // tombstone; untouched files hold no maskable row (the prune is a
    // superset), so dropping ALL tombstones is exact
    val partCols = inferPartitionCols(cur.files)
    val rewritten =
      if (affected.isEmpty) Nil
      else dropEmptyDataFiles(writeDataFiles(
        scanFiles(cur, affected), id, suffix = "fold", partitionCols = partCols))
    Some(writeSnapshot(Snapshot(id, Some(cur.snapshotId),
      System.currentTimeMillis(), "fold",
      cur.files.filterNot(affected.toSet) ++ rewritten, cur.schemaJson)))
  }

  /** SCHEMA changes in the snapshot range (fromId, toId], as ordered
    * JSON records — the schema-history side channel the change feed
    * ships so replication can apply upstream DDL downstream (the
    * Debezium schema-history-topic shape). One [[DdlRecord]] per
    * ALTER-op effect, `seq`-stamped in application order: rename /
    * widen / add / drop, plus `set_spec` for partition-spec evolution
    * (the alter snapshot [[setPartitionSpec]] commits carries the new
    * layout). Driver-side manifest reads only; empty for ranges
    * without alters.
    */
  def schemaChangesBetween(fromId: Long, toId: Long): Seq[String] = {
    val all = listSnapshots()
    var seq = 0
    def next(): Int = { seq += 1; seq }
    all.filter(s => s.snapshotId > fromId && s.snapshotId <= toId &&
        s.operation == "alter" && s.branch.isEmpty).sortBy(_.snapshotId).flatMap { s =>
      all.find(p => s.parentId.contains(p.snapshotId)).toSeq.flatMap { p =>
        val ps = DataType.fromJson(p.schemaJson).asInstanceOf[StructType]
        val cs = DataType.fromJson(s.schemaJson).asInstanceOf[StructType]
        val pByKey = ps.fields.map(f => nameKey(f.name) -> f).toMap
        // renames RECORDED AT this snapshot (alias entries carry it)
        val renames = s.aliases.toSeq.flatMap { case (cur, olds) =>
          olds.filter(_.renamedAt == s.snapshotId).map(a => (a.name, cur))
        }.sortBy(_._2)
        val rIdx = renames.map { case (o, n) => nameKey(n) -> o }.toMap
        // identity key (round 13): rename/widen carry the column's id
        // at THIS snapshot, drop carries the retired id from the
        // parent — replicas resolve by id when names mislead
        val sIds: Map[String, Int] = s.fieldIds
          .map(_.ids.map { case (n, i) => nameKey(n) -> i }).getOrElse(Map.empty)
        val pIds: Map[String, Int] = p.fieldIds
          .map(_.ids.map { case (n, i) => nameKey(n) -> i }).getOrElse(Map.empty)
        val rjson = renames.map { case (o, n) =>
          DdlRecord.rename(next(), o, n, sIds.get(nameKey(n))).json }
        val rest = cs.fields.toSeq.flatMap { f =>
          val oldName = rIdx.getOrElse(nameKey(f.name), f.name)
          pByKey.get(nameKey(oldName)) match {
            case Some(pf) if pf.dataType != f.dataType =>
              Some(DdlRecord.widen(next(), f.name, f.dataType.catalogString,
                sIds.get(nameKey(f.name))).json)
            case Some(_) => None
            case None =>
              Some(DdlRecord.add(next(), f.name, f.dataType.catalogString,
                sIds.get(nameKey(f.name))).json)
          }
        }
        // parent fields gone from the snapshot (and not merely renamed
        // away at it) were DROPPED here
        val csKeys = cs.fields.map(f => nameKey(f.name)).toSet
        val renamedAway = renames.map { case (o, _) => nameKey(o) }.toSet
        val dropsJ = ps.fields.toSeq
          .filterNot(f => csKeys(nameKey(f.name)) || renamedAway(nameKey(f.name)))
          .map(f => DdlRecord.drop(next(), f.name, pIds.get(nameKey(f.name))).json)
        val specJ = s.specChange.map(sp => DdlRecord.setSpec(next(), sp).json)
        rjson ++ rest ++ dropsJ ++ specJ
      }
    }
  }

  /** Row-level changes between two snapshots (the Delta Change-Data-Feed
    * analogue): `insert` rows present at `toId` but not `fromId`,
    * `delete` rows present at `fromId` but not `toId` — an upsert'd row
    * appears as delete(old) + insert(new). Multiset semantics
    * (`exceptAll`), so duplicate rows diff correctly.
    *
    * Scale shape: unchanged files carry across snapshots BY REFERENCE,
    * so the diff reads only files ADDED or REMOVED between the two
    * snapshots — the change volume, not the table. A compaction rewrite
    * contributes both sides and cancels exactly (no phantom changes);
    * incremental consumers pay for what actually changed however large
    * the table is. Schemas may differ across the range (widen-only
    * evolution): both sides align to the union schema with nulls.
    */
  def changesBetween(fromId: Long, toId: Long): DataFrame = {
    val snaps = listSnapshots()
    val fromS = snaps.find(_.snapshotId == fromId).getOrElse(throw invalidSnapshot(fromId))
    val toS = snaps.find(_.snapshotId == toId).getOrElse(throw invalidSnapshot(toId))
    // rename-aware alignment: a column RENAMED between the snapshots is
    // the SAME column — the from side maps to the TO side's current
    // names through the to-snapshot's alias lineage, or a metadata-only
    // rename would diff as a full-table delete+insert churn (a
    // streaming replica would replay the whole table). A rename rolled
    // back OUT of the to-side's lineage can't map and diffs as
    // drop+add — rollback across a rename is a destructive shape.
    def currentNameOf(fromName: String): String =
      toS.aliases.collectFirst {
        case (cur, olds) if olds.exists(a => nameKey(a.name) == nameKey(fromName)) => cur
      }.getOrElse(fromName)
    // the feed speaks the TO side's schema, EXACTLY: from-side frames
    // map their renamed columns forward; a from-side-only column is
    // dropped history (the dropped registry may already have been
    // cleared by a compaction in the range, so the to-side schema —
    // not the registry — is the authority) and carrying it would make
    // every surviving row diff as changed (old value vs NULL),
    // replaying the whole table as churn into every streaming replica
    val unionSchema = DataType.fromJson(toS.schemaJson).asInstanceOf[StructType]
    /** from-side frames rename to the to-side's current names first. */
    def toNames(df: DataFrame): DataFrame =
      df.columns.foldLeft(df) { (d, c) =>
        val cur = currentNameOf(c)
        if (cur == c) d else d.withColumnRenamed(c, cur)
      }
    def side(s: Snapshot, files: Seq[String]): DataFrame = {
      val base =
        if (files.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], unionSchema)
        else toNames(readFiles(s, files))
      val have = base.columns.toSet
      unionSchema.fields.foldLeft(base) { (d, fld) =>
        if (!have(fld.name)) d.withColumn(fld.name, lit(null).cast(fld.dataType))
        // a REBORN column whose floor postdates this side's snapshot:
        // the side's same-named values belong to the RETIRED identity
        // (a range spanning drop → re-add) and must not flow into the
        // reborn column — identity resolution, not name resolution
        else if (toS.rebornFloors.exists { case (n, b) =>
            nameKey(n) == nameKey(fld.name) && s.snapshotId < b })
          d.withColumn(fld.name, lit(null).cast(fld.dataType))
        else d
      }.select(unionSchema.fieldNames.map(col): _*)
    }
    def align(base: DataFrame): DataFrame = {
      val have = base.columns.toSet
      unionSchema.fields.foldLeft(base) { (d, fld) =>
        if (have(fld.name)) d else d.withColumn(fld.name, lit(null).cast(fld.dataType))
      }.select(unionSchema.fieldNames.map(col): _*)
    }
    // MoR snapshots break the plain file-diff shortcut: a new tombstone
    // deletes rows from files PRESENT ON BOTH SIDES. But the MoR norm —
    // pure-append lineage (no file removed) with tombstones only
    // growing — has its own incremental path: added-file rows (masked
    // by the to-side tombstones) are the inserts, and the deletes live
    // ONLY in files the new tombstones' keys can reach, found by the
    // same two-stage probe as the keyed writes; the except-pair over
    // that candidate set yields exactly the rows whose visibility
    // flipped. Cost: change volume + key-local candidates — never the
    // table. Anything else (rollbacks, mixed CoW rewrites mid-lineage)
    // falls back to the effective-content diff.
    val fromSet = fromS.files.toSet
    val fromTombSet = fromS.tombstones.toSet
    // a rename BETWEEN the snapshots sends the MoR-incremental branch
    // to the full-content fallback: its tombstone-key probe would speak
    // to-side names at from-side files (rename + new tombstones in one
    // range is a rare double-event; correctness over the shortcut)
    val renamedBetween = DataType.fromJson(fromS.schemaJson).asInstanceOf[StructType]
      .fieldNames.exists(n => currentNameOf(n) != n)
    if (fromS.tombstones.isEmpty && toS.tombstones.isEmpty) {
      val added = side(toS, toS.files.diff(fromS.files))
      val removed = side(fromS, fromS.files.diff(toS.files))
      added.exceptAll(removed).withColumn("_change", lit("insert"))
        .unionByName(removed.exceptAll(added).withColumn("_change", lit("delete")))
    } else if (!renamedBetween && fromS.files.forall(toS.files.contains) &&
        fromS.tombstones.forall(toS.tombstones.contains)) {
      val addedFiles = toS.files.filterNot(fromSet)
      val newTombs = toS.tombstones.filterNot(fromTombSet)
      val inserts = align(
        if (addedFiles.isEmpty) scanFiles(toS, Nil) else scanFiles(toS, addedFiles))
      val deletes =
        if (newTombs.isEmpty) inserts.filter(lit(false))
        else {
          val cand = newTombs.groupBy(LakehouseTable.claimDirOf)
            .values.toSeq.flatMap { fs =>
              // footer schema (one claim dir = one write = one schema)
              // skips the per-dir schema-inference job; fall back to
              // inference only if the footer is unreadable
              val rd = footerSchemaOf(fs.head)
                .fold(spark.read)(s => spark.read.schema(s))
              val keyRows = rd.parquet(
                fs.map(f => rootPath.resolve(f).toString): _*).distinct()
              touchedFilesFor(fromS, keyRows, keyRows.columns.toSeq)
            }.distinct
          align(toNames(scanFiles(fromS, cand)))
            .exceptAll(align(scanFiles(toS, cand)))
        }
      inserts.withColumn("_change", lit("insert"))
        .unionByName(deletes.withColumn("_change", lit("delete")))
    } else {
      val eff = (s: Snapshot) =>
        if (s.snapshotId == fromS.snapshotId) align(toNames(scanFiles(s, s.files)))
        else align(scanFiles(s, s.files))
      val (a, r) = (eff(toS), eff(fromS))
      a.exceptAll(r).withColumn("_change", lit("insert"))
        .unionByName(r.exceptAll(a).withColumn("_change", lit("delete")))
    }
  }

  /** Z-order clustering compaction (the Delta `OPTIMIZE ZORDER BY`
    * analogue, same lifecycle slot as `compact`): rewrite the current
    * file set ordered along a space-filling curve over `cols`, so each
    * output file's min/max range is selective on EVERY listed column
    * and a point/range scan can prune files on any of them — the
    * multi-column data-skipping story a 100 TB table needs (a plain
    * sort only skips on its leading column).
    *
    * Scale shape: per-column range-bucket ids come from approximate
    * quantiles (one distributed pass, O(buckets) driver metadata — the
    * Delta cube pattern); the bucket lookup and the bit interleave are
    * map-side codegen'd expressions over boundary LITERALS; the only
    * shuffle is the final range partition by z-value.
    */
  /** Numeric surrogate for a z-order column, or a CLEAR error for a
    * type the curve can't handle — validated from the snapshot schema
    * BEFORE the write lock and any data pass, so a bad `zorder_cols`
    * config fails at the call site instead of as an opaque
    * approxQuantile exception inside maintenance. Numerics and
    * timestamps keep their order (range + point skipping); strings and
    * binaries hash to a 64-bit surrogate (Delta-style string z-order
    * here trades range skipping for equality clustering — point
    * predicates still prune files, which is the dominant string
    * filter).
    */
  private def zorderSurrogate(c: String, schema: StructType): org.apache.spark.sql.Column = {
    val field = schema.fields.find(f => nameKey(f.name) == nameKey(c)).getOrElse(
      throw new IllegalArgumentException(
        s"zorder column '$c' not in table schema ${schema.fieldNames.mkString("[", ", ", "]")}"))
    field.dataType match {
      case _: org.apache.spark.sql.types.NumericType => col(field.name).cast("double")
      case org.apache.spark.sql.types.DateType =>
        col(field.name).cast("timestamp").cast("double")
      case org.apache.spark.sql.types.TimestampType => col(field.name).cast("double")
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.BinaryType |
           org.apache.spark.sql.types.BooleanType =>
        xxhash64(col(field.name)).cast("double")
      case other => throw new IllegalArgumentException(
        s"zorder column '$c' has type $other — z-order supports numeric, date/timestamp, " +
          "string, binary and boolean columns")
    }
  }

  // ---------------- bloom file-skipping index ----------------
  //
  // The Delta BLOOMFILTER INDEX analogue: one sidecar bloom per data
  // file over xxhash64(col), so a point lookup prunes the file list
  // BEFORE any scan — the complement of z-order's min/max range
  // skipping (blooms skip on high-cardinality equality predicates
  // where ranges overlap every file). Data files are immutable, so a
  // sidecar never invalidates; files without one (pre-index appends,
  // fresh compaction output) are simply always read — skipping is an
  // optimization, never a correctness dependency (no false negatives:
  // a skipped file provably lacks the key).

  private val bloomDir = rootPath.resolve("_index").resolve("bloom")

  /** Reversible flattening of a data-file path into a sidecar file
    * name: '%' escapes FIRST so paths that themselves contain '%'
    * (Spark %XX-escaped partition dirs like `k=a%3Ab`) round-trip —
    * a lossy encoding made maintenance GC delete live sidecars (their
    * decoded names never matched any snapshot file).
    */
  private[lakehouse] def encodeSidecarName(relFile: String): String =
    relFile.replace("%", "%25").replace("/", "%2F")

  private[lakehouse] def decodeSidecarName(name: String): String =
    name.replace("%2F", "/").replace("%25", "%")

  private def bloomPath(c: String, relFile: String): Path =
    bloomDir.resolve(nameKey(c)).resolve(encodeSidecarName(relFile) + ".bloom")

  /** Build sidecar blooms for every current-snapshot data file that
    * lacks one, in ONE pass: per-file key streams fold into bloom
    * buffers map-side (the shuffle carries sketches, not keys) and the
    * driver persists O(files) sidecars. Returns the number built.
    * `expectedPerFile` sizes each bloom (~0.7 KB per 1k keys at 3%).
    */
  def buildBloomIndex(c: String, expectedPerFile: Long = 100000L,
      fpp: Double = 0.03): Int = {
    val snap = currentSnapshot().getOrElse(
      throw new IllegalStateException(s"table $root has no snapshots"))
    val missing = snap.files.filterNot(f => Files.exists(bloomPath(c, f)))
    if (missing.isEmpty) return 0
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.util.sketch.BloomFilter
    val agg = new Aggregator[(String, Long), BloomFilter, Array[Byte]] {
      override def zero: BloomFilter = BloomFilter.create(expectedPerFile, fpp)
      override def reduce(b: BloomFilter, t: (String, Long)): BloomFilter = {
        b.putLong(t._2); b
      }
      override def merge(a: BloomFilter, b: BloomFilter): BloomFilter =
        a.mergeInPlace(b)
      override def finish(b: BloomFilter): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        b.writeTo(bos); bos.toByteArray
      }
      override def bufferEncoder: Encoder[BloomFilter] =
        Encoders.javaSerialization(classOf[BloomFilter])
      override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    }
    val dataRoot = dataDir.toUri.getPath
    // Spark may report the CANONICAL path (symlinked temp dirs), not
    // the literal one the table was opened with — accept either, and
    // fail loudly on anything else: a silently-garbage key would write
    // sidecars under names that never match snapshot files, so the
    // index would exist but never prune.
    val dataRootReal =
      try dataDir.toRealPath().toString catch { case _: java.io.IOException => dataRoot }
    implicit val str: org.apache.spark.sql.Encoder[String] = Encoders.STRING
    implicit val tup: org.apache.spark.sql.Encoder[(String, Long)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    val perFile = readFiles(snap, missing)
      .select(input_file_name().as("f"), xxhash64(col(c)).as("h"))
      .as[(String, Long)]
      .groupByKey { case (f, _) =>
        // absolute file URI → root-relative path (manifest key space)
        val p = new java.net.URI(f).getPath
        val i0 = p.indexOf(dataRoot)
        val (i, root) = if (i0 >= 0) (i0, dataRoot) else (p.indexOf(dataRootReal), dataRootReal)
        require(i >= 0, s"data file $p not under table data root $dataRoot")
        "data/" + p.substring(i + root.length).stripPrefix("/")
      }
      .agg(agg.toColumn)
      .collect()
    Files.createDirectories(bloomPath(c, "x").getParent)
    perFile.foreach { case (rel, bytes) =>
      Files.write(bloomPath(c, rel), bytes)
    }
    // probes made before this build cached "no sidecar" for these
    // files — drop those entries or the new index would be invisible
    // to this handle (absence caching is otherwise correct: it is
    // conservative, a missing sidecar only ever KEEPS a file)
    bloomCache.keySet.removeIf(_._1 == nameKey(c))
    perFile.length
  }

  /** The probe literal CAST to the column's declared type — xxhash64
    * is type-sensitive, so an uncoerced probe (e.g. the CLI's string
    * "4500" against a BIGINT column) would hash differently than the
    * indexed values and break the no-false-negative guarantee.
    */
  private def probeLit(c: String, value: Any): org.apache.spark.sql.Column = {
    val snap = currentSnapshot().getOrElse(
      throw new IllegalStateException(s"table $root has no snapshots"))
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val field = schema.fields.find(f => nameKey(f.name) == nameKey(c)).getOrElse(
      throw new IllegalArgumentException(
        s"lookup column '$c' not in table schema ${schema.fieldNames.mkString("[", ", ", "]")}"))
    lit(value).cast(field.dataType)
  }

  /** Point-lookup file pruning: (files to read, skipped count) — the
    * [[pruneFiles]] equality path (bloom sidecars + footer min/max +
    * partition dirs; files without evidence always read). One prune
    * implementation serves the CLI `lookup`, `query col=value` and
    * `read(preds)` so the paths cannot drift.
    */
  def pointLookupFiles(c: String, value: Any): (Seq[String], Int) = {
    val snap = currentSnapshot().getOrElse(
      throw new IllegalStateException(s"table $root has no snapshots"))
    pruneFiles(snap, Seq(ScanPredicate.EqualTo(c, value)))
  }

  /** Exact point lookup through the bloom index: scans only files the
    * sidecars cannot rule out, then applies the exact predicate (bloom
    * false positives die here — the result never depends on the index).
    */
  def readPointLookup(c: String, value: Any): DataFrame = {
    val (files, _) = pointLookupFiles(c, value)
    if (files.isEmpty) read().filter(lit(false))
    else {
      val snap = currentSnapshot().getOrElse(
        throw new IllegalStateException(s"table $root has no snapshots"))
      scanFiles(snap, files).filter(col(c) === probeLit(c, value))
    }
  }

  // ---- predicate-pruned reads (the automatic skipping path) ----
  //
  // read(preds)/scanAtSnapshot(id, preds) prune the snapshot's file
  // list BEFORE building the scan: bloom sidecars answer equality,
  // per-file min/max stats (recorded IN THE MANIFEST at write time —
  // planning opens no parquet footer; footers are only a fallback for
  // pre-stats manifests — and made selective per-file by z-order
  // clustering) answer equality and ranges, and hive partition path
  // values answer both. The exact predicate then re-applies on the
  // scanned rows, so pruning can only skip files that PROVABLY hold
  // no match.

  // ---- file statistics: manifest-first, footer fallback ----

  /** Planning-time footer opens (spec counter: a stats-bearing snapshot
    * must plan with ZERO of these — manifest stats make scan planning a
    * metadata read, which at 100 TB file counts is the difference
    * between O(files) object-store round trips and none).
    */
  private[lakehouse] val footerOpens = new java.util.concurrent.atomic.AtomicLong
  /** Bloom sidecar file loads (spec counter: repeated probes must hit
    * the in-memory cache, not re-read sidecars).
    */
  private[lakehouse] val sidecarLoads = new java.util.concurrent.atomic.AtomicLong

  /** Per-file footer stats cache (fallback for pre-stats manifests). */
  @transient private lazy val footerCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[FileStats]]()

  /** Read one parquet footer → FileStats (all top-level primitive
    * columns in one open). Unreadable footer → None (no evidence).
    */
  /** One Hadoop conf for every driver-side footer read of this handle:
    * `newHadoopConf()` copies the whole SparkConf into a fresh
    * Configuration per call, and the footer readers only READ it —
    * a write-time stats collection over N files paid N clones.
    */
  @transient private lazy val footerHadoopConf =
    spark.sessionState.newHadoopConf()

  private def footerFileStats(relFile: String): Option[FileStats] =
    footerCache.computeIfAbsent(relFile, { _ =>
      footerOpens.incrementAndGet()
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(rootPath.resolve(relFile).toString),
          footerHadoopConf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val footer = reader.getFooter
          val rows = footer.getBlocks.asScala.map(_.getRowCount).sum
          val logicalString = footer.getFileMetaData.getSchema.getFields.asScala
            .filter(f => f.isPrimitive && f.getLogicalTypeAnnotation.isInstanceOf[
              org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation])
            .map(f => nameKey(f.getName)).toSet
          val byCol = footer.getBlocks.asScala.flatMap(_.getColumns.asScala)
            .filter(_.getPath.size == 1)
            .groupBy(ch => nameKey(ch.getPath.toDotString))
          val cols = byCol.flatMap { case (ck, chunks) =>
            val stats = chunks.map(_.getStatistics)
            if (stats.exists(s => s == null || !s.hasNonNullValue)) None
            else {
              def pick(worse: Int => Boolean) =
                stats.flatMap(s => Seq(s.genericGetMin, s.genericGetMax)).reduce { (a, b) =>
                  if (worse(a.asInstanceOf[Comparable[Any]].compareTo(b))) b else a
                }
              // null counts power IS NULL skipping; -1 = unknown in any
              // chunk poisons the whole file's count (never mis-prune)
              val nulls =
                if (stats.exists(!_.isNumNullsSet)) None
                else Some(stats.map(_.getNumNulls).sum)
              encodeStat(pick(_ > 0), pick(_ < 0), logicalString(ck))
                .map(st => ck -> st.copy(nulls = nulls))
            }
          }.toMap
          val bytes = try Some(Files.size(rootPath.resolve(relFile)))
            catch { case _: Exception => None }
          // fully-stamped = every top-level column carries a field id
          // (a column THIS commit introduced stays unstamped, so such
          // files route name-based until their next rewrite)
          val fields = footer.getFileMetaData.getSchema.getFields.asScala
          val stamped = fields.nonEmpty && fields.forall(_.getId != null)
          Some(FileStats(rows, cols, bytes, fids = Some(stamped)))
        } finally reader.close()
      } catch { case _: Exception => None } // unreadable footer → no evidence → keep
    })

  /** The parquet FILE schema of a data/key file as Spark types, read
    * driver-side from the footer (NO Spark job — `spark.read.parquet`
    * schema inference launches one even for a single file). Partition
    * path columns are NOT included — callers that need them parse the
    * hive segments themselves. None on any read/convert failure, so
    * callers can fall back to full inference.
    */
  private[lakehouse] def footerSchemaOf(relFile: String): Option[StructType] =
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(rootPath.resolve(relFile).toString),
        footerHadoopConf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val conv = new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(spark.sessionState.conf)
        Some(conv.convert(reader.getFooter.getFileMetaData.getSchema))
      } finally reader.close()
    } catch { case _: Throwable => None }

  /** Encode a (min, max) pair of parquet stat values as a typed
    * ColumnStat; None = a type the pruner must never decide on.
    */
  private def encodeStat(mn: Any, mx: Any, isString: Boolean): Option[ColumnStat] =
    (mn, mx) match {
      case (a: java.lang.Long, b: java.lang.Long) =>
        Some(ColumnStat("long", a.toString, b.toString))
      case (a: java.lang.Integer, b: java.lang.Integer) =>
        Some(ColumnStat("long", a.toString, b.toString))
      case (a: java.lang.Double, b: java.lang.Double) =>
        Some(ColumnStat("double", a.toString, b.toString))
      case (a: java.lang.Float, b: java.lang.Float) =>
        // widen to EXACT doubles first: Float.toString re-parsed as a
        // double is a different value than f.toDouble near boundaries
        Some(ColumnStat("double", a.doubleValue.toString, b.doubleValue.toString))
      case (a: org.apache.parquet.io.api.Binary, b: org.apache.parquet.io.api.Binary)
          if isString => // Binary also backs DECIMAL etc. — String only
        Some(ColumnStat("string", a.toStringUsingUTF8, b.toStringUsingUTF8))
      case _ => None
    }

  /** Collect footer stats for freshly written files, in parallel on the
    * driver (write-time cost, once per file ever).
    */
  private def collectStats(files: Seq[String]): Map[String, FileStats] = {
    import java.util.concurrent.CompletableFuture
    val futs = files.map(f => f -> CompletableFuture.supplyAsync(() => footerFileStats(f)))
    futs.flatMap { case (f, fut) => fut.join().map(f -> _) }.toMap
  }

  /** Compare a decoded stat value to a probe under the stat's type tag;
    * None = incomparable (never prunes). String compares use UTF-8
    * BYTES unsigned — Spark string ordering is UTF8String's binary
    * compare, and Java String.compareTo (UTF-16 code units) disagrees
    * above the BMP; a pruning decision under the wrong ordering
    * silently drops rows. String stats only compare when the DECLARED
    * snapshot type is StringType (the probe coerces to that type).
    */
  private def compareStat(st: ColumnStat, statVal: String, probe: Any,
      declared: Option[DataType]): Option[Int] = {
    def asLong(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: String => scala.util.Try(s.trim.toLong).toOption
      case _ => None
    }
    def asDouble(v: Any): Option[Double] = v match {
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case l: Long => Some(l.toDouble)
      case i: Int => Some(i.toDouble)
      case s: String => scala.util.Try(s.trim.toDouble).toOption
      case _ => None
    }
    st.typ match {
      case "long" => asLong(probe).map(p => java.lang.Long.compare(statVal.toLong, p))
      case "double" => asDouble(probe).map(p => java.lang.Double.compare(statVal.toDouble, p))
      case "string" if declared.contains(org.apache.spark.sql.types.StringType) =>
        Some(utf8Compare(
          statVal.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          String.valueOf(probe).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      case _ => None
    }
  }

  private def utf8Compare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Stats verdict: can `relFile` hold a row with `c` in [lo, hi]?
    * Manifest stats answer first — a file PRESENT in the snapshot's
    * stats map never opens its footer (even if the column is missing
    * there: absence already means "no usable stats"). Only files from
    * pre-stats manifests fall back to a footer open. Missing stats or
    * incomparable types keep the file.
    */
  /** Stats for one snapshot file: manifest-first, footer fallback for
    * pre-stats manifests (a file PRESENT in the stats map never opens
    * its footer — even with the column absent, absence already means
    * "no usable stats").
    */
  /** Absolute filesystem path of a root-relative data file (the native
    * batch scan hands these to the parquet reader factory). A FOREIGN
    * absolute entry (a shallow clone's reference) prefers its LOCAL
    * claim-relative copy when one exists: [[deepen]]`(allHistory =
    * true)` localizes bytes WITHOUT rewriting the immutable history
    * manifests, so pre-deepen time travel resolves through this
    * fallback once the source expires. Identical bytes either way —
    * preference order only changes which filesystem serves them.
    */
  private[lakehouse] def absDataPath(relFile: String): String =
    if (!Paths.get(relFile).isAbsolute) rootPath.resolve(relFile).toString
    else {
      val local = rootPath.resolve(LakehouseTable.claimDirRelative(relFile))
      if (Files.exists(local)) local.toString else relFile
    }

  /** Group form of [[absDataPath]]'s foreign-entry fallback, for reads
    * that share one `basePath` per claim dir (hive partition-value
    * parsing): Some(localized entries) only when the group carries
    * foreign references AND every one has a local copy — a MIXED
    * resolution under one basePath would mis-parse partition values,
    * so a partially-localized group (a deepen interrupted mid-copy)
    * keeps reading the foreign originals until the copy completes.
    */
  private def localizedGroup(fs: Seq[String]): Option[Seq[String]] = {
    val foreign = fs.filter(f => Paths.get(f).isAbsolute)
    if (foreign.isEmpty) None
    else if (foreign.forall(f =>
      Files.exists(rootPath.resolve(LakehouseTable.claimDirRelative(f)))))
      Some(fs.map(f =>
        if (Paths.get(f).isAbsolute) LakehouseTable.claimDirRelative(f) else f))
    else None
  }

  /** On-disk bytes of a data file: manifest-recorded (write-time) when
    * available, one fs stat as the legacy-manifest fallback. Powers
    * split planning and join-size estimation off metadata alone.
    */
  private[lakehouse] def fileSizeOf(snap: Snapshot, relFile: String): Long =
    fileStatsOf(snap, relFile).flatMap(_.bytes).getOrElse(
      try Files.size(Paths.get(absDataPath(relFile)))
      catch { case _: Exception => 0L })

  /** Manifest row count of one file (exactness contract of
    * [[manifestRowCount]], per file). */
  private[lakehouse] def fileRowsOf(snap: Snapshot, relFile: String): Option[Long] =
    fileStatsOf(snap, relFile).map(_.rows)

  private[lakehouse] def resolvedNameKey(n: String): String = nameKey(n)

  /** xxhash64(seed 42) of `value` coerced to `dt` — the write-path
    * bucket hash base ([[LakehouseTable.bucketId]]) and the bloom probe
    * hash, exposed for bucket-dir pruning (the probe's bucket must be
    * computed with EXACTLY the layout hash or pruning would wrongly
    * drop files).
    */
  private[lakehouse] def probeHashOf(value: Any, dt: DataType): Long =
    probeHash(value, dt)

  private def fileStatsOf(snap: Snapshot, relFile: String): Option[FileStats] =
    snap.stats match {
      case Some(m) if m.contains(relFile) => m.get(relFile)
      case _ => footerFileStats(relFile)
    }

  /** Is `relFile` known (from its MANIFEST entry — zero plan-time I/O)
    * to carry `parquet.field.id` stamps on every column? Gates the
    * ID-KEYED read routing; None/absent keeps name/era resolution.
    */
  private[lakehouse] def fileFullyStamped(snap: Snapshot, relFile: String): Boolean =
    snap.stats.exists(_.get(relFile).exists(_.fids.contains(true)))

  private def statsMayMatch(snap: Snapshot, relFile: String, c: String,
      declared: Option[DataType], lo: Option[Any], hi: Option[Any]): Boolean = {
    fileStatsOf(snap, relFile).flatMap(_.cols.get(nameKey(c))) match {
      case None => true
      case Some(st) =>
        // overlap test: file min <= hi AND file max >= lo
        hi.forall(h => compareStat(st, st.min, h, declared).forall(_ <= 0)) &&
          lo.forall(l => compareStat(st, st.max, l, declared).forall(_ >= 0))
    }
  }

  /** Prefix verdict: may `relFile` hold a string starting with
    * `prefix`? Under UTF-8 byte order (Spark's string ordering): the
    * file may match iff max >= prefix AND min < successor(prefix) —
    * the latter without byte-increment gymnastics, because
    * min < successor(p) ⟺ min starts with p OR min < p. Only decides
    * when the declared type is StringType and the stat is a string
    * stat; anything else keeps the file.
    */
  private def statsMayMatchPrefix(snap: Snapshot, relFile: String, c: String,
      declared: Option[DataType], prefix: String): Boolean = {
    if (!declared.contains(org.apache.spark.sql.types.StringType)) return true
    fileStatsOf(snap, relFile).flatMap(_.cols.get(nameKey(c))) match {
      case Some(st) if st.typ == "string" =>
        val p = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val mn = st.min.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val mx = st.max.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        utf8Compare(mx, p) >= 0 &&
          (utf8Compare(mn, p) < 0 ||
            (mn.length >= p.length && java.util.Arrays.equals(
              java.util.Arrays.copyOf(mn, p.length), p)))
      case _ => true
    }
  }

  /** Null-presence verdict: may `relFile` hold a NULL in `c`? A column
    * with a recorded zero null count provably can't; a column absent
    * from the stats (all-null files, schema-evolution gaps, pre-null-
    * count manifests) always keeps the file.
    */
  private def statsMayHaveNull(snap: Snapshot, relFile: String, c: String): Boolean =
    fileStatsOf(snap, relFile).flatMap(_.cols.get(nameKey(c)))
      .forall(_.nulls.forall(_ > 0))

  /** The hive partition value of `relFile` for column `c`:
    * None = not partitioned by c; Some(None) = the null partition;
    * Some(Some(v)) = the decoded value.
    */
  private def partitionValueOf(relFile: String, c: String): Option[Option[String]] =
    LakehouseTable.hiveSegsOf(relFile).map(_.split("=", 2))
      .collectFirst { case Array(k, pv) if nameKey(k) == nameKey(c) =>
        if (pv == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
          None
        else
          Some(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(pv))
      }

  /** Hive partition-path verdict for `data/sN/a=1/b=2/part-*`: EVERY
    * `col=` segment is consulted (multi-level partitioning), and the
    * comparison semantics come from the column's DECLARED type in the
    * snapshot schema — never from whether the path value happens to
    * parse as a number (a StringType column holding "9"/"10" compares
    * lexically in the residual filter, so pruning it numerically would
    * silently drop matching rows). String columns prune on EQUALITY
    * only (range pruning would need Spark's exact UTF8 ordering on the
    * raw dir name — not worth the risk); unknown types never prune.
    */
  private def partitionMayMatch(relFile: String, c: String, dt: Option[DataType],
      lo: Option[Any], hi: Option[Any]): Boolean = {
    val raw = LakehouseTable.hiveSegsOf(relFile).map(_.split("=", 2))
      .collectFirst { case Array(k, pv) if nameKey(k) == nameKey(c) => pv }
      .getOrElse(return true)
    // Spark writes hive partition dirs with path-escaping (':' → %3A
    // etc.) and nulls as __HIVE_DEFAULT_PARTITION__ — compare the
    // DECODED value or a string like "a:b" would never equal its own
    // partition's dir value and the file would be wrongly pruned
    if (raw == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      return true // null partition: no probe semantics here — never prune
    val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(raw)
    import org.apache.spark.sql.types._
    def cmp(p: Any): Option[Int] = dt match {
      case Some(ByteType | ShortType | IntegerType | LongType) =>
        for (a <- scala.util.Try(v.trim.toLong).toOption;
             b <- scala.util.Try(String.valueOf(p).trim.toLong).toOption)
          yield java.lang.Long.compare(a, b)
      case Some(FloatType | DoubleType) =>
        for (a <- scala.util.Try(v.trim.toDouble).toOption;
             b <- scala.util.Try(String.valueOf(p).trim.toDouble).toOption)
          yield java.lang.Double.compare(a, b)
      case _ => None
    }
    (lo, hi) match {
      case (Some(l), Some(h)) if l == h && dt.contains(StringType) =>
        v == String.valueOf(l) // string equality is ordering-free
      case _ =>
        hi.forall(h => cmp(h).forall(_ <= 0)) && lo.forall(l => cmp(l).forall(_ >= 0))
    }
  }

  /** Parsed bloom sidecars, cached per (column, file) — a sidecar is
    * immutable once built, so repeated probes must not re-read it.
    */
  @transient private lazy val bloomCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Option[org.apache.spark.util.sketch.BloomFilter]]()

  private def bloomMayContain(c: String, relFile: String, hash: Long): Boolean =
    bloomCache.computeIfAbsent((nameKey(c), relFile), { _ =>
      val p = bloomPath(c, relFile)
      if (!Files.exists(p)) None
      else {
        sidecarLoads.incrementAndGet()
        Some(org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(Files.readAllBytes(p))))
      }
    }).forall(_.mightContainLong(hash))

  /** xxhash64 of the probe coerced to the column's declared type,
    * computed DRIVER-SIDE with the same Catalyst expressions the bloom
    * builder's `xxhash64(col)` compiles to — a sub-millisecond metadata
    * step, where a `spark.range(1)` job would pay full job-submission
    * latency per predicate on the planning path.
    */
  private def probeHash(value: Any, dt: DataType): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    val l = Literal(value)
    val coerced = if (l.dataType == dt) l
      else Cast(l, dt, Option(spark.sessionState.conf.sessionLocalTimeZone))
    // seed 42 = the xxhash64() SQL function's fixed seed (the bloom
    // builder indexes xxhash64(col), so the probe must match it)
    XxHash64(Seq(coerced), 42L).eval(null).asInstanceOf[Long]
  }

  /** Exact row count of a snapshot from metadata alone — the sum of
    * per-file row counts (manifest-first, footer fallback), or None if
    * any file's count is unresolvable (the caller must fall back to a
    * real scan). Powers COUNT(*) pushdown: zero data files read, zero
    * Spark jobs.
    */
  private[lakehouse] def manifestRowCount(snap: Snapshot): Option[Long] = {
    // MoR tombstones make per-file counts an over-estimate: only the
    // real (anti-joined) scan answers exactly
    if (snap.tombstones.nonEmpty) return None
    var total = 0L
    snap.files.foreach { f =>
      fileStatsOf(snap, f) match {
        case Some(st) => total += st.rows
        case None => return None
      }
    }
    Some(total)
  }

  /** Exact global MIN or MAX of column `c` at `snap` from metadata
    * alone, as an EXTERNAL value of the declared type — or None when
    * the manifest can't answer exactly and the caller must fall back
    * to a real scan. Exactness demands: every file carries a
    * ColumnStat for the column (absence is ambiguous between "all
    * null" and "stats unavailable", and guessing would return a wrong
    * extremum), and the declared type is one whose stats round-trip
    * losslessly (integral, double, float — widened to exact doubles at
    * write time — and string, whose chunk-level parquet stats are
    * exact, not truncated). Null semantics are SQL's: stats cover only
    * non-null values, which is exactly what MIN/MAX aggregate.
    */
  private[lakehouse] def manifestMinMax(snap: Snapshot, c: String,
      wantMin: Boolean): Option[Any] = {
    import org.apache.spark.sql.types._
    val declared = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
      .fields.find(f => nameKey(f.name) == nameKey(c)).map(_.dataType).getOrElse(return None)
    if (snap.files.isEmpty) return None // empty table: let the scan return SQL null
    // a MoR tombstone may have masked exactly the extreme row
    if (snap.tombstones.nonEmpty) return None
    // a REBORN column's pre-floor files carry stats written for the
    // retired namesake — those rows serve NULL, so only the real scan
    // answers exactly while any such file is live
    snap.rebornFloors.collectFirst {
      case (n, b) if nameKey(n) == nameKey(c) && snap.files.exists(originOf(_) < b) => ()
    }.foreach(_ => return None)
    val stats = snap.files.map(f =>
      fileStatsOf(snap, f).flatMap(_.cols.get(nameKey(c))).getOrElse(return None))
    if (stats.exists(_.typ != stats.head.typ)) return None // defensive: never mix tags
    def foldNum[T](pick: ColumnStat => String, parse: String => T, lt: (T, T) => Boolean): T = {
      val vs = stats.map(s => parse(pick(s)))
      vs.reduce((a, b) => if (lt(a, b) == wantMin) a else b)
    }
    def side(s: ColumnStat): String = if (wantMin) s.min else s.max
    (declared, stats.head.typ) match {
      case (LongType, "long") => Some(foldNum[Long](side, _.toLong, _ < _))
      case (IntegerType, "long") => Some(foldNum[Long](side, _.toLong, _ < _).toInt)
      case (ShortType, "long") => Some(foldNum[Long](side, _.toLong, _ < _).toShort)
      case (ByteType, "long") => Some(foldNum[Long](side, _.toLong, _ < _).toByte)
      case (DoubleType, "double") => Some(foldNum[Double](side, _.toDouble, _ < _))
      case (FloatType, "double") =>
        // write-time widening is exact, so the double→float narrowing
        // here recovers the original float bit-for-bit
        Some(foldNum[Double](side, _.toDouble, _ < _).toFloat)
      case (StringType, "string") =>
        def bytes(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        Some(stats.map(side).reduce((a, b) =>
          if ((utf8Compare(bytes(a), bytes(b)) < 0) == wantMin) a else b))
      case _ => None // date/timestamp/decimal/binary: real scan answers
    }
  }

  /** Per-key (min, max) prune ranges for a STAGED keyed commit, derived
    * from the staged files' parquet footers instead of a Spark job
    * (guide §1.2): the executor writers just produced these files, so
    * their chunk statistics carry the batch's exact key extrema — and
    * [[writeSnapshot]]'s manifest-stats pass reads the same footers
    * through the same [[footerFileStats]] cache moments later, so this
    * costs zero extra I/O while saving the one-job min/max aggregate
    * every keyed CoW epoch paid. Exactness discipline is
    * [[manifestMinMax]]'s: every row-bearing file must carry a stat for
    * every key column (absence is ambiguous between "all null here" and
    * "stats unavailable") and the declared type must round-trip
    * losslessly — anything else returns None and the caller's
    * aggregate-job fallback answers, so this is purely an optimization.
    * All files empty ⇒ Some(Nil): min/max over an empty batch are SQL
    * NULL, and [[touchedFilesFor]] maps an empty range list to "touches
    * nothing" exactly like the job path does.
    */
  private[lakehouse] def footerKeyRanges(files: Seq[String], keys: Seq[String],
      schema: StructType): Option[Seq[ScanPredicate.Range]] = {
    import org.apache.spark.sql.types._
    collectStats(files) // warm the footer cache in PARALLEL (collectStats' pool)
    val sts = files.map(footerFileStats)
    if (sts.exists(_.isEmpty)) return None // unreadable footer: real agg answers
    val live = sts.flatten.filter(_.rows > 0)
    if (live.isEmpty) return Some(Nil)
    def bytes(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val folded: Seq[Option[ScanPredicate.Range]] = keys.map { k =>
      val declared = schema.fields.find(f => nameKey(f.name) == nameKey(k))
        .map(_.dataType).getOrElse(return None)
      val cs = live.map(_.cols.get(nameKey(k)))
      if (cs.exists(_.isEmpty)) None
      else {
        val xs = cs.flatten
        if (xs.exists(_.typ != xs.head.typ)) None // defensive: never mix tags
        else {
          def num[T](parse: String => T, lt: (T, T) => Boolean): (T, T) =
            (xs.map(s => parse(s.min)).reduce((a, b) => if (lt(a, b)) a else b),
              xs.map(s => parse(s.max)).reduce((a, b) => if (lt(a, b)) b else a))
          (declared, xs.head.typ) match {
            case (LongType, "long") =>
              val (mn, mx) = num[Long](_.toLong, _ < _)
              Some(ScanPredicate.Range(k, Some(mn), Some(mx)))
            case (IntegerType, "long") =>
              val (mn, mx) = num[Long](_.toLong, _ < _)
              Some(ScanPredicate.Range(k, Some(mn.toInt), Some(mx.toInt)))
            case (ShortType, "long") =>
              val (mn, mx) = num[Long](_.toLong, _ < _)
              Some(ScanPredicate.Range(k, Some(mn.toShort), Some(mx.toShort)))
            case (ByteType, "long") =>
              val (mn, mx) = num[Long](_.toLong, _ < _)
              Some(ScanPredicate.Range(k, Some(mn.toByte), Some(mx.toByte)))
            case (DoubleType, "double") =>
              val (mn, mx) = num[Double](_.toDouble, _ < _)
              Some(ScanPredicate.Range(k, Some(mn), Some(mx)))
            case (FloatType, "double") =>
              // write-time widening is exact; narrowing back recovers
              // the original float bit-for-bit
              val (mn, mx) = num[Double](_.toDouble, _ < _)
              Some(ScanPredicate.Range(k, Some(mn.toFloat), Some(mx.toFloat)))
            case (StringType, "string") =>
              val mn = xs.map(_.min).reduce((a, b) =>
                if (utf8Compare(bytes(a), bytes(b)) < 0) a else b)
              val mx = xs.map(_.max).reduce((a, b) =>
                if (utf8Compare(bytes(a), bytes(b)) < 0) b else a)
              Some(ScanPredicate.Range(k, Some(mn), Some(mx)))
            case _ => None // date/timestamp/decimal/binary: real agg answers
          }
        }
      }
    }
    if (folded.exists(_.isEmpty)) None else Some(folded.flatten)
  }

  /** (files to read, skipped count) for a predicate set. Per-file
    * verdicts are independent driver-side metadata checks (manifest
    * stats, cached sidecars, path values) — evaluated in PARALLEL so
    * planning latency stays flat as file counts grow; any residual IO
    * (pre-stats footer fallback, first sidecar load) overlaps instead
    * of serializing.
    */
  def pruneFiles(snap: Snapshot, preds: Seq[ScanPredicate]): (Seq[String], Int) = {
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    def declared(c: String): Option[DataType] =
      schema.fields.find(f => nameKey(f.name) == nameKey(c)).map(_.dataType)
    // per-predicate metadata resolved once, not per file
    val compiled0: Seq[String => Boolean] = preds.map {
      case ScanPredicate.EqualTo(c, v) =>
        val dt = declared(c)
        val h = probeHash(v, dt.getOrElse(
          throw new IllegalArgumentException(
            s"lookup column '$c' not in snapshot schema ${schema.fieldNames.mkString("[", ", ", "]")}")))
        (f: String) => bloomMayContain(c, f, h) &&
          statsMayMatch(snap, f, c, dt, Some(v), Some(v)) &&
          partitionMayMatch(f, c, dt, Some(v), Some(v))
      case ScanPredicate.Range(c, lo, hi) =>
        val dt = declared(c)
        (f: String) => statsMayMatch(snap, f, c, dt, lo, hi) &&
          partitionMayMatch(f, c, dt, lo, hi)
      case ScanPredicate.StartsWith(c, p) =>
        val dt = declared(c)
        (f: String) => statsMayMatchPrefix(snap, f, c, dt, p) &&
          (partitionValueOf(f, c) match {
            case Some(Some(v)) if dt.contains(org.apache.spark.sql.types.StringType) =>
              v.startsWith(p)
            case Some(None) => false // LIKE never matches NULL
            case _ => true
          })
      case ScanPredicate.IsNull(c) =>
        (f: String) => statsMayHaveNull(snap, f, c) &&
          (partitionValueOf(f, c) match {
            case Some(Some(_)) => false // a non-null partition dir holds no nulls in c
            case _ => true
          })
      case ScanPredicate.InSet(c, values) =>
        val dt = declared(c)
        val probes = new InProbes(values)
        if (probes.nonNull.isEmpty) (_: String) => false // IN (all null): matches nothing
        else (f: String) => inSetMayMatch(snap, f, c, dt, probes) &&
          partitionMayMatchSet(f, c, dt, probes)
    }
    // REBORN floors override every stats/bloom/path verdict: a file
    // older than its predicate column's floor serves the column as
    // all-NULL (identity resolution), so its recorded evidence —
    // written for the RETIRED namesake — must not drive the decision.
    // IS NULL definitely matches (keep); every value predicate
    // definitely cannot (prune).
    val compiled: Seq[String => Boolean] =
      if (snap.rebornFloors.isEmpty) compiled0
      else preds.zip(compiled0).map { case (p, fn) =>
        snap.rebornFloors.collectFirst {
          case (n, b) if nameKey(n) == nameKey(p.column) => b
        } match {
          case Some(b) =>
            val nullVerdict = p.isInstanceOf[ScanPredicate.IsNull]
            (f: String) => if (originOf(f) < b) nullVerdict else fn(f)
          case None => fn
        }
      }
    val kept = snap.files.toVector.asJava.parallelStream()
      .filter(f => compiled.forall(_(f)))
      .collect(java.util.stream.Collectors.toList[String]).asScala.toSeq
    (kept, snap.files.size - kept.size)
  }

  private def residual(preds: Seq[ScanPredicate]): org.apache.spark.sql.Column =
    preds.map {
      case ScanPredicate.EqualTo(c, v) => col(c) === probeLit(c, v)
      case ScanPredicate.Range(c, lo, hi) =>
        (lo.map(col(c) >= probeLit(c, _)) ++ hi.map(col(c) <= probeLit(c, _)))
          .reduceOption(_ && _).getOrElse(lit(true))
      case ScanPredicate.StartsWith(c, p) => col(c).startsWith(p)
      case ScanPredicate.IsNull(c) => col(c).isNull
      case ScanPredicate.InSet(c, vs) =>
        val nn = vs.filterNot(_ == null)
        if (nn.isEmpty) lit(false) else col(c).isin(nn: _*)
    }.reduceOption(_ && _).getOrElse(lit(true))

  /** IN-list stats verdict: may `relFile` hold ANY of the probe values?
    * Binary search of the sorted probe list against the file's
    * [min, max]; when the in-range slice is small, each surviving
    * candidate must also pass the bloom sidecar (when one exists for
    * the column). Missing stats or incomparable types keep the file.
    */
  private def inSetMayMatch(snap: Snapshot, relFile: String, c: String,
      declared: Option[DataType], probes: InProbes): Boolean = {
    fileStatsOf(snap, relFile).flatMap(_.cols.get(nameKey(c))) match {
      case None => true
      case Some(st) =>
        def bloomAny(inRange: Seq[Any]): Boolean =
          declared.forall { dt =>
            inRange.size > InProbes.BloomProbeCap ||
              inRange.exists(v => bloomMayContain(c, relFile,
                probes.hashOf(v, probeHash(_, dt))))
          }
        st.typ match {
          case "long" => probes.longs.forall { arr =>
            val lo = st.min.toLong; val hi = st.max.toLong
            val from = InProbes.lowerBound[Long](arr, lo, java.lang.Long.compare)
            var until = from
            while (until < arr.length && arr(until) <= hi) until += 1
            from < until && bloomAny(arr.slice(from, until).toSeq)
          }
          case "double" => probes.doubles.forall { arr =>
            val lo = st.min.toDouble; val hi = st.max.toDouble
            val from = InProbes.lowerBound[Double](arr, lo, java.lang.Double.compare)
            var until = from
            while (until < arr.length && arr(until) <= hi) until += 1
            from < until && bloomAny(arr.slice(from, until).toSeq)
          }
          case "string" if declared.contains(org.apache.spark.sql.types.StringType) =>
            val arr = probes.strings
            val lo = st.min.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val hi = st.max.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val from = InProbes.lowerBound[Array[Byte]](arr, lo, InProbes.utf8Cmp)
            var until = from
            while (until < arr.length && InProbes.utf8Cmp(arr(until), hi) <= 0) until += 1
            from < until && bloomAny(arr.slice(from, until).toSeq.map(
              b => new String(b, java.nio.charset.StandardCharsets.UTF_8)))
          case _ => true
        }
    }
  }

  /** Hive-path verdict for IN: the dir's decoded value must be a member
    * (typed by the DECLARED column type); the null partition never
    * matches a non-null probe list. Unparsable values keep the file.
    */
  private def partitionMayMatchSet(relFile: String, c: String,
      declared: Option[DataType], probes: InProbes): Boolean = {
    import org.apache.spark.sql.types._
    partitionValueOf(relFile, c) match {
      case None => true
      case Some(None) => false // null partition: IN (non-null ...) can't match
      case Some(Some(v)) => declared match {
        case Some(ByteType | ShortType | IntegerType | LongType) =>
          scala.util.Try(v.trim.toLong).toOption.forall(pv =>
            probes.longSet.forall(_.contains(pv)))
        case Some(FloatType | DoubleType) =>
          scala.util.Try(v.trim.toDouble).toOption.forall(pv =>
            probes.doubleSet.forall(_.contains(pv)))
        case Some(StringType) => probes.stringSet.contains(v)
        case _ => true
      }
    }
  }

  /** Predicate-pruned read of the current snapshot: skipping indexes
    * consulted automatically, exact predicate re-applied on the scan.
    */
  def read(preds: Seq[ScanPredicate]): DataFrame = {
    val snap = currentSnapshot().getOrElse(
      throw new IllegalStateException(s"table $root has no snapshots"))
    readPruned(snap, preds)
  }

  /** [[read(preds*)]] at a historical snapshot (time travel + skip). */
  def scanAtSnapshot(id: Long, preds: Seq[ScanPredicate]): DataFrame = {
    val snap = listSnapshots().find(_.snapshotId == id).getOrElse(throw invalidSnapshot(id))
    readPruned(snap, preds)
  }

  private def readPruned(snap: Snapshot, preds: Seq[ScanPredicate]): DataFrame = {
    val (files, _) = pruneFiles(snap, preds)
    val base = scanFiles(snap, files)
    if (files.isEmpty) base else base.filter(residual(preds))
  }

  /** Scan an explicit pruned file subset of `snap` (the DSv2 relation's
    * entry point). An empty set keeps THE SNAPSHOT'S schema — building
    * the empty frame off read() would leak the current snapshot's
    * (possibly widened) schema into a time-traveled scan.
    */
  /** The snapshot id a file was written under, from its
    * `data/s<id>[-suffix]/` path segment — the MoR sequencing key: a
    * tombstone masks only rows from files with a STRICTLY OLDER origin,
    * so a delete+re-insert of a key in one apply batch (an update)
    * keeps the re-inserted row visible.
    */
  private def originOf(relFile: String): Long = {
    // greedy prefix anchors to the LAST 'data/s<digits>' segment — the
    // owning table's claim dir both for root-relative entries and for
    // the ABSOLUTE source references a shallow clone's manifest carries
    // (partition segments contain '=', so nothing after the claim dir
    // can re-match; an unanchored first match would mis-parse a root
    // path that itself contains '/data/s<digit>')
    val m = "^(?:.*/)?data/s([0-9]+)".r.findFirstMatchIn(relFile).getOrElse(
      throw new IllegalStateException(s"cannot parse origin snapshot from '$relFile'"))
    m.group(1).toLong
  }

  /** [[originOf]] for the native scan's MoR masking. */
  private[lakehouse] def originOfFile(relFile: String): Long = originOf(relFile)

  /** IDENTITY resolution (FIELD_IDS.md step 2): the physical name
    * column `current` had in data files of origin snapshot `o` under
    * `snap`'s registries — or None when such files must serve the
    * column as NULL (the column's reborn floor is newer than the file,
    * so any same-named bytes in it belong to a RETIRED field id and
    * must never resurrect). The rename boundary is `o <= renamedAt`: a
    * lost-race append commits files written under the PRE-rename
    * schema (dir id = its claimed version) at a later snapshot than a
    * rename that won that claimed id, while no post-rename writer can
    * ever produce a file whose dir id is <= the rename's snapshot —
    * so origin == renamedAt always means the OLD name.
    */
  private[lakehouse] def physNameAt(snap: Snapshot, current: String,
      o: Long): Option[String] = {
    if (snap.rebornFloors.exists { case (n, b) =>
        nameKey(n) == nameKey(current) && o < b }) None
    else Some(
      snap.aliases.collectFirst {
        case (k, entries) if nameKey(k) == nameKey(current) =>
          entries.find(o <= _.renamedAt).map(_.name)
      }.flatten.getOrElse(current))
  }

  private[lakehouse] def scanFiles(snap: Snapshot, files: Seq[String]): DataFrame = {
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      // align to the SNAPSHOT schema: a column added by ALTER (or a
      // widening append) that no scanned file carries still reads back
      // (as NULL), a column whose PHYSICAL type drifted from the
      // declared one casts back (hive partition-path values are
      // type-INFERRED on read — `cell=3` for a LONG column comes back
      // as INT; the snapshot schema, written from the frame's true
      // types, is authoritative — the DSv2 scan already casts path
      // values this way), and column order is the declared order
      // regardless of which file's footer won the merge
      val df = applyTombstones(snap, readFiles(snap, files))
      val have = df.columns.map(c => nameKey(c) -> c).toMap
      val aligned = schema.fields.foldLeft(df)((d, f) =>
        have.get(nameKey(f.name)) match {
          case None => d.withColumn(f.name, lit(null).cast(f.dataType))
          // nullability-insensitive: ARRAY<FLOAT> variants that differ
          // only in containsNull must NOT cast (uncastable and
          // semantically identical); INT-inferred partition values
          // against a LONG column must
          case Some(c) if !sameIgnoringNullability(d.schema(c).dataType, f.dataType) =>
            d.withColumn(c, col(c).cast(f.dataType))
          case _ => d
        })
      aligned.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    }
  }

  /** Mask rows the snapshot's key tombstones delete: one LEFT ANTI join
    * per distinct tombstone KEY SET (all tombstone dirs of that key set
    * union into ONE small side, so N micro-batch applies cost one join,
    * not N), on key equality plus `row origin < tombstone origin`.
    * The row's origin comes from `input_file_name()` evaluated in the
    * scan stage. Tombstone sides are batch-sized — Spark broadcasts
    * them — and compaction folds them away entirely.
    */
  private def applyTombstones(snap: Snapshot, df0: DataFrame): DataFrame = {
    if (snap.tombstones.isEmpty) return df0
    // greedy ^.* anchors the match to the LAST '/data/s<digits>' segment
    // — always the table's own data dir (partition segments contain '='
    // and escape '/', so nothing after it can re-match). An unanchored
    // first-match parse would mis-derive the origin for every row of a
    // table whose ROOT path itself contains '/data/s<digit>' (e.g.
    // /data/s3cache/warehouse/t), silently corrupting MoR masking.
    val df = df0.withColumn("__graft_origin",
      regexp_extract(input_file_name(), "^.*/data/s([0-9]+)", 1).cast("long"))
    val byDir = snap.tombstones.groupBy(LakehouseTable.claimDirOf)
    val perDir: Seq[(Seq[String], DataFrame)] = byDir.toSeq.map { case (dir, fs) =>
      val origin = originOf(fs.head)
      val fsE = localizedGroup(fs).getOrElse(fs)
      // leaf-file reads discover no hive partition columns either way;
      // the footer schema (one claim dir = one write = one schema)
      // skips the schema-inference job Spark runs per uninferred read
      val rd = footerSchemaOf(fsE.head).fold(spark.read)(s => spark.read.schema(s))
      val t = rd.parquet(fsE.map(f => rootPath.resolve(f).toString): _*)
        .withColumn("__graft_t_origin", lit(origin))
      (t.columns.filterNot(_ == "__graft_t_origin").sorted.toSeq, t)
    }
    val masked = perDir.groupBy(_._1).values.foldLeft(df) { (d, group) =>
      val tomb = group.map(_._2).reduce(_.unionByName(_)).alias("__t")
      val keys = group.head._1
      val cond = keys.map(k => d(k) === tomb(k))
        .reduce(_ && _) && (d("__graft_origin") < tomb("__graft_t_origin"))
      d.join(tomb, cond, "left_anti")
    }
    masked.drop("__graft_origin")
  }

  /** Structural type equality ignoring nullability at every level (the
    * contract Spark's private `DataType.sameType` provides): the scan
    * alignment cast must fire on genuine type drift (path-inferred INT
    * vs declared LONG) but never on a bare containsNull difference.
    */
  private def sameIgnoringNullability(a: DataType, b: DataType): Boolean = (a, b) match {
    case (x: ArrayType, y: ArrayType) =>
      sameIgnoringNullability(x.elementType, y.elementType)
    case (x: MapType, y: MapType) =>
      sameIgnoringNullability(x.keyType, y.keyType) &&
        sameIgnoringNullability(x.valueType, y.valueType)
    case (x: StructType, y: StructType) =>
      x.fields.length == y.fields.length &&
        x.fields.zip(y.fields).forall { case (f1, f2) =>
          f1.name == f2.name && sameIgnoringNullability(f1.dataType, f2.dataType)
        }
    case _ => a == b
  }

  /** Snapshot by id with the standard invalid-id error. */
  private[lakehouse] def snapshotOrThrow(id: Long): Snapshot =
    listSnapshots().find(_.snapshotId == id).getOrElse(throw invalidSnapshot(id))

  /** The snapshot current AS OF `tsMs` (epoch millis): the latest one
    * committed at or before that instant — the Delta/Iceberg
    * timestamp-travel rule. Fails with the valid commit-time range if
    * the timestamp predates the table (or retention expired that
    * history).
    */
  def snapshotAsOf(tsMs: Long): Snapshot = {
    val snaps = listSnapshots().filter(_.branch.isEmpty) // the MAIN timeline
    snaps.filter(_.timestampMs <= tsMs).lastOption.getOrElse {
      val range = if (snaps.isEmpty) "table has no snapshots"
        else s"retained commits span [${snaps.head.timestampMs}, ${snaps.last.timestampMs}] ms"
      throw new IllegalArgumentException(
        s"no snapshot of '$root' existed at timestamp $tsMs ($range)")
    }
  }

  def compactZOrder(cols: Seq[String], targetFiles: Int,
      buckets: Int = 256): Option[Snapshot] = {
    require(cols.nonEmpty && cols.size <= 4, "zorder over 1..4 columns")
    require(Integer.bitCount(buckets) == 1, "buckets must be a power of two")
    // validate the requested columns against the CURRENT schema before
    // taking the write lock (ADVICE r5): config errors surface eagerly
    currentSnapshot().foreach { s =>
      val schema = DataType.fromJson(s.schemaJson).asInstanceOf[StructType]
      cols.foreach(c => zorderSurrogate(c, schema))
    }
    compactZOrderLocked(cols, targetFiles, buckets)
  }

  private def compactZOrderLocked(cols: Seq[String], targetFiles: Int,
      buckets: Int): Option[Snapshot] = writeLock.synchronized {
    val cur = currentSnapshot().getOrElse(return None)
    val df = scanFiles(cur, cur.files) // whole-table rewrite folds tombstones
    val bits = 31 - Integer.numberOfLeadingZeros(buckets)
    val surrogates = cols.map(c => zorderSurrogate(c, df.schema))
    // ONE distributed quantile pass for all curve columns (the r5 form
    // ran a pass per column) over the double surrogates
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val surro = df.select(surrogates.zipWithIndex.map { case (e, i) => e.as(s"__z$i") }: _*)
    val boundsAll = surro.stat.approxQuantile(
      surrogates.indices.map(i => s"__z$i").toArray, probs, 0.01)
    val zcols = surrogates.zip(boundsAll).map { case (e, bounds) =>
      // rank = how many boundaries the value has passed (0..buckets-1)
      aggregate(
        array(bounds.map(b => lit(b)).toIndexedSeq: _*), lit(0),
        (acc, b) => acc + when(e >= b, 1).otherwise(0))
    }
    // bit i of column k lands at curve position i*ncols + k
    val z = (0 until bits).flatMap { i =>
      zcols.zipWithIndex.map { case (bc, k) =>
        shiftleft(shiftright(bc, i).bitwiseAND(lit(1)), i * cols.size + k)
      }
    }.reduce(_.bitwiseOR(_))
    val id = nextId()
    val files = writeDataFiles(
      df.withColumn("__graft_z", z)
        .repartitionByRange(targetFiles, col("__graft_z"))
        .sortWithinPartitions(col("__graft_z"))
        .drop("__graft_z"),
      id, suffix = "zorder")
    // whole-table rewrite: pre-drop files are gone, registries clear
    Some(writeSnapshot(Snapshot(id, Some(cur.snapshotId), System.currentTimeMillis(),
      "compact", files, cur.schemaJson, drops = Some(Map.empty),
      reborn = Some(Map.empty))))
  }

  // ---------------- helpers ----------------

  private def readFiles(snap: Snapshot, relFiles: Seq[String]): DataFrame = {
    require(relFiles.nonEmpty, "empty file list")
    val declared = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    // IDENTITY resolution ([[physNameAt]], FIELD_IDS.md step 2): each
    // file reads EXACTLY the physical name its column identities had at
    // the file's origin snapshot — renamed eras read their era names,
    // reborn floors read NULL — where the old name-union + coalesce
    // could not tell a retired column's bytes from a reborn namesake's.
    // Every requested type is the declared (WIDEST) one: a narrow
    // physical file upcasts in the reader (int32→long, float→double),
    // where a footer-schema merge would refuse the width mix outright.
    // Files group by resolution signature (flat) or by snapshot dir
    // (hive-partitioned — which need a per-dir basePath anyway), so the
    // read count is bounded by the retained snapshot count and
    // compaction folds it back to one.
    def sigOf(o: Long): Seq[Option[String]] =
      declared.fields.toSeq.map(f => physNameAt(snap, f.name, o))
    val (partitioned, flat) = relFiles.partition(_.contains("="))
    val groups: Seq[(Seq[Option[String]], Option[String], Seq[String])] =
      flat.groupBy(f => sigOf(originOf(f))).toSeq
        .sortBy(_._2.head)
        .map { case (sig, fs) => (sig, None, fs) } ++
        partitioned.groupBy(LakehouseTable.claimDirOf).toSeq.sortBy(_._1)
          .map { case (sDir, fs) => (sigOf(originOf(fs.head)), Some(sDir), fs) }
    val dfs = groups.map { case (sig, base, fs) =>
      val physFields = declared.fields.toSeq.zip(sig).collect {
        case (f, Some(n)) =>
          org.apache.spark.sql.types.StructField(n, f.dataType, nullable = true)
      }
      // every column floored (all identities reborn after this era):
      // request one impossible name so the reader still yields the
      // file's ROW COUNT (all-null rows survive COUNT/DELETE semantics)
      val phys = StructType(
        if (physFields.nonEmpty) physFields
        else Seq(org.apache.spark.sql.types.StructField(
          "__graft_absent__", org.apache.spark.sql.types.LongType, nullable = true)))
      // foreign entries (shallow clone) read their LOCAL copies when
      // the whole group is localized — basePath must move with them
      val (baseE, fsE) = localizedGroup(fs) match {
        case Some(loc) => (base.map(LakehouseTable.claimDirRelative), loc)
        case None => (base, fs)
      }
      val reader0 = spark.read.schema(phys)
      val reader = baseE.fold(reader0)(d =>
        reader0.option("basePath", rootPath.resolve(d).toString))
      val df = reader.parquet(fsE.map(f => rootPath.resolve(f).toString): _*)
      // era names -> current names; floored identities materialize NULL
      df.select(declared.fields.toSeq.zip(sig).map {
        case (f, Some(n)) => col(n).as(f.name)
        case (f, None) => lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }
    dfs.reduceLeft(_.unionByName(_))
  }

  /** Average on-disk bytes per row of the HEAD snapshot, from manifest
    * stats alone (files whose stats carry both rows and bytes) — the
    * zero-I/O estimate size-targeted optimize-write bins with. None
    * until the table has at least one stats-bearing data file.
    */
  private def manifestBytesPerRow(head: Option[Snapshot]): Option[Double] =
    head.flatMap { cur =>
      val sts = cur.files.flatMap(f => fileStatsOf(cur, f))
        .filter(st => st.bytes.exists(_ > 0) && st.rows > 0)
      val rows = sts.map(_.rows).sum
      if (rows <= 0) None
      else Some(sts.flatMap(_.bytes).sum.toDouble / rows)
    }

  /** Write `df` as parquet under `data/s<id>[-suffix]-w<nonce>/`,
    * returning the root-relative paths of the files produced
    * (hive-style `col=value` sub-dirs when `partitionCols` is set).
    * The per-write nonce makes the directory unique to THIS write
    * attempt: two processes that both claimed version `id` can never
    * clobber each other's uncommitted files (the dir name is a label —
    * the manifest is the truth, and [[originOf]] reads only the digits,
    * which stay correct under an append rebase because a rebased append
    * carries no tombstones and masks nothing).
    */
  private def writeDataFiles(
      df0: DataFrame, id: Long, suffix: String = "",
      partitionCols: Seq[String] = Nil,
      /** The committed head the write builds on (its field ids stamp,
        * its manifest sizes the optimize-write bins) — a branch write's
        * is the BRANCH head.
        */
      head: Option[Snapshot] = currentSnapshot()): Seq[String] = {
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val dirName = (if (suffix.isEmpty) s"s$id" else s"s$id-$suffix") + s"-w$nonce"
    val outDir = dataDir.resolve(dirName)
    // a `bucket(N, col)` spec entry lays out by the DERIVED bucket id
    // (`<col>_bucket=<pmod(xxhash64(col), N)>` dirs — the Iceberg bucket
    // transform shape): the source column's data stays IN the files,
    // the dir value is pure layout, and two tables bucketed the same
    // way join with zero shuffle (storage-partitioned join). The hash
    // is [[LakehouseTable.bucketId]] — identical on the write path, the
    // catalog's SQL function, and any future probe.
    val (df, physCols) = partitionCols.foldLeft((df0, Seq.empty[String])) {
      case ((d, acc), LakehouseTable.BucketSpecRe(n, c)) =>
        val dir = s"${c}_bucket"
        (d.withColumn(dir,
          pmod(xxhash64(col(c)), lit(n.toInt)).cast("int")), acc :+ dir)
      case ((d, acc), c) => (d, acc :+ c)
    }
    // optimize-write: cluster the batch on its partition columns so
    // each partition value writes from ONE task (one file per value
    // per batch, not tasks×values)
    val clustered =
      if (optimizeWrite && physCols.nonEmpty)
        df.repartition(physCols.map(col): _*)
      else df
    // FIELD_IDS.md step 1: stamp head-CONFIRMED field ids into the
    // files (`parquet.field.id` column metadata — Spark's parquet
    // writer emits the native field-id attribute for schema fields
    // that carry it). Only ids the committed head already assigned are
    // stamped: a column THIS commit introduces stays unstamped until
    // its next rewrite, so a lost-publish rebase can never leave a
    // file carrying an id the final manifest assigned differently
    // (ids are write-once). Resolution is still name-based this round;
    // the stamps are the forward-compat groundwork (and make every
    // post-round-12 file Iceberg-grade identifiable).
    val idsByName: Map[String, Int] = head.flatMap(_.fieldIds)
      .map(_.ids.map { case (n, i) => nameKey(n) -> i })
      .getOrElse(Map.empty)
    val stamped =
      if (idsByName.isEmpty) clustered
      else clustered.select(clustered.schema.fields.map { f =>
        idsByName.get(nameKey(f.name)).fold(col(f.name)) { i =>
          col(f.name).as(f.name,
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata).putLong("parquet.field.id", i.toLong)
              .build())
        }
      }.toIndexedSeq: _*)
    val writer0 = stamped.write.mode(SaveMode.Overwrite)
    // size-targeted optimize-write: cap records per output file from
    // the head manifest's bytes-per-row estimate, so a skewed partition
    // value bins into ≈targetBytes files instead of one giant one
    val writer = (if (optimizeWrite) optimizeWriteTargetBytes else None)
      .flatMap(t => manifestBytesPerRow(head).map(bpr =>
        math.max(1L, (t / math.max(bpr, 1e-9)).toLong)))
      .fold(writer0)(n => writer0.option("maxRecordsPerFile", n))
    (if (physCols.nonEmpty) writer.partitionBy(physCols: _*) else writer)
      .parquet(outDir.toString)
    graft.Fs.walkAll(outDir)
      .filter(p => p.getFileName.toString.startsWith("part-") &&
        p.toString.endsWith(".parquet"))
      .map(p => rootPath.relativize(p).toString)
      .sorted
  }
}

object LakehouseTable {
  /** `bucket(N, col)` partition-spec entry (whitespace-tolerant). */
  private[lakehouse] val BucketSpecRe =
    """(?i)bucket\(\s*([0-9]+)\s*,\s*([^)\s]+)\s*\)""".r

  /** JVM-level manifest parse cache (second tier behind the per-handle
    * one): manifests are immutable once written (expiry deletes,
    * nothing rewrites), so a parse keyed by (root, file name, size,
    * mtime) can only go stale if the SAME root is deleted and reborn
    * with a same-named manifest of identical size in the same mtime
    * tick — the attribute key makes the stale hit physically
    * impossible to observe. Bounded LRU; access-ordered.
    */
  private val manifestParseCache =
    new java.util.LinkedHashMap[(String, String, Long, Long), Snapshot](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, Long, Long), Snapshot]): Boolean =
        size() > 8192
    }

  private[lakehouse] def parsedManifest(root: String, p: java.nio.file.Path): Snapshot = {
    implicit val fmts: Formats = DefaultFormats
    val attrs = Files.readAttributes(p,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    val key = (root, p.getFileName.toString, attrs.size(),
      attrs.lastModifiedTime().toMillis)
    manifestParseCache.synchronized {
      val hit = manifestParseCache.get(key)
      if (hit != null) return hit
    }
    val s = Serialization.read[Snapshot](Files.readString(p))
    manifestParseCache.synchronized { manifestParseCache.put(key, s) }
    s
  }

  /** The CLAIM DIR of a manifest file entry — the path prefix through
    * its `data/s<id>-…` segment, the per-dir grouping key tombstone and
    * scan-group operations use. Matches the LAST `data` segment so both
    * root-relative entries and the ABSOLUTE source references a shallow
    * clone carries group correctly (partition segments always contain
    * '=', so no segment after the claim dir can be named `data`).
    */
  private[lakehouse] def claimDirOf(entry: String): String = {
    val segs = entry.split('/')
    val i = segs.lastIndexWhere(_ == "data")
    if (i >= 0 && i + 1 < segs.length) segs.take(i + 2).mkString("/")
    else segs.take(2).mkString("/")
  }

  /** [[claimDirOf]]'s root-relative form: the entry's path FROM its
    * `data` segment — where a clone localizes a foreign file, keeping
    * the path-derived origin id and hive partition dirs intact.
    */
  private[lakehouse] def claimDirRelative(entry: String): String = {
    val segs = entry.split('/')
    val i = segs.lastIndexWhere(_ == "data")
    require(i >= 0, s"cannot derive a table-relative data path from '$entry'")
    segs.drop(i).mkString("/")
  }

  /** Hive `col=value` path segments of a manifest entry — parsed ONLY
    * past the claim dir, never from the root prefix: a shallow clone's
    * foreign ABSOLUTE references would otherwise let a source root
    * path containing '=' inject phantom partition segments into
    * pruning/SPJ/layout decisions.
    */
  private[lakehouse] def hiveSegsOf(entry: String): Array[String] = {
    val segs = entry.split('/')
    val i = segs.lastIndexWhere(_ == "data")
    (if (i >= 0) segs.drop(i + 2) else segs.drop(2)).filter(_.contains("="))
  }

  /** THE bucket function: `pmod(xxhash64(value), n)` — one definition
    * shared by the write layout, the catalog's SQL-visible function
    * (storage-partitioned-join resolution), and any probe, because two
    * sides of a zero-shuffle join must agree on it bit-for-bit.
    * Seed 42 = the xxhash64() SQL function's fixed seed.
    */
  private[lakehouse] def bucketId(value: Any, dt: org.apache.spark.sql.types.DataType,
      n: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(value, dt, 42L)
    (((h % n) + n) % n).toInt
  }

  /** Copy lists at or under this size stay a driver loop (a Spark job
    * costs more than a handful of local copies); above it the
    * clone/deepen localization distributes over executors.
    */
  private[lakehouse] val DriverCopyMax = 4

  /** One byte-copy of the distributed localization — runs INSIDE
    * executor tasks, so it must stand alone: create the parent dirs,
    * copy, and absorb a concurrent creator winning the race (the
    * exists-check upstream is advisory; two maintenance runs copying
    * the same file land identical bytes either way).
    */
  private[lakehouse] def copyFileInto(src: String, dst: String): Unit = {
    val d = Paths.get(dst)
    Files.createDirectories(d.getParent)
    try { Files.copy(Paths.get(src), d); () }
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
  }

  /** Cap on consecutive lost publish races before an append-shaped
    * commit stops rebasing and surfaces [[ConcurrentCommitException]]
    * (livelock guard — load-dependent, paired with jittered backoff in
    * the rebase loop; the caller's retry re-enters with fresh backoff).
    */
  val MaxCommitAttempts = 16

  /** How long a ref-lock acquirer spins before giving up loudly. */
  val RefLockWaitMs = 30000L
  /** Age past which a ref lock is presumed crashed and broken. */
  val RefLockStaleMs = 60000L
}
