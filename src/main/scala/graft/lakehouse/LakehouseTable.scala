package graft.lakehouse

import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path, Paths,
  StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
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
  def currentSnapshot(): Option[Snapshot] = mainHeadIn(listSnapshots())

  private def mainHeadIn(snaps: Seq[Snapshot]): Option[Snapshot] =
    snaps.reverseIterator.find(_.branch.isEmpty)

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

  /** Test seam for the tag-vs-expiry handshake: runs at the top of an
    * expiry sweep BEFORE its first ref listing, so a spec can land a
    * concurrent tag in the window the round-12 race lived in and prove
    * the sweep's listings protect it. Production no-op.
    */
  private[graft] var onBeforeExpireSweep: () => Unit = () => ()

  /** Test seam: named phase points inside a table operation, fired with
    * the phase's name so a spec can act at exactly that step. Phases of
    * the ref handshake: `"expire.listed"` (a sweep listed snapshots and
    * refs, nothing marked yet), `"expire.marked"` (marked, refs not yet
    * re-listed), `"ref.checked"` (a ref writer's pre-check passed, the
    * ref is not yet written) and `"ref.take"` (a ref was read and is
    * about to move aside, [[takeRefIf]]). Production no-op.
    */
  private[graft] var onPhase: String => Unit = _ => ()

  private def manifestPath(id: Long): Path = snapsDir.resolve(f"$id%09d.json")

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
    val p = manifestPath(s.snapshotId)
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
    * never go stale) or the executor writers shipped
    * ([[recordWrittenStats]]); only files that came without stats —
    * legacy and foreign ones — have their parquet footer read, in
    * parallel, at commit time.
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

  /** Append: the batch's files are written ONCE under the claimed id,
    * then commit through [[commitWrittenFiles]] — the rebase protocol
    * every append shares with the DSv2 executor-written face. A branch
    * `target` runs it against the branch head.
    */
  private def appendWith(df0: DataFrame, partitionBy: Seq[String],
      mark: Option[TxnMark], target: WriteTarget = MainLine): Option[Snapshot] = {
    val (head, claimedId) = target.resolve()
    requireCompatibleSchemaFor(head, df0.schema)
    val df = canonicalizedNamesAt(head, df0)
    val newFiles = writeDataFiles(df, claimedId, partitionCols = partitionBy, head = head)
    commitWrittenFiles(newFiles, df.schema, claimedId, mark,
      targetAuthoritative = false, target)
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
  private[lakehouse] sealed abstract class WriteTarget {
    protected def headIn(snaps: Seq[Snapshot]): Option[Snapshot]
    /** (head, next global version id) from ONE manifest listing. */
    def resolve(): (Option[Snapshot], Long) = {
      val snaps = listSnapshots()
      (headIn(snaps), snaps.lastOption.map(_.snapshotId + 1).getOrElse(1L))
    }
    /** Publish `s`, stamped with this target's membership. */
    def publish(s: Snapshot): Snapshot
  }

  private[lakehouse] object MainLine extends WriteTarget {
    protected def headIn(snaps: Seq[Snapshot]) = mainHeadIn(snaps)
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

  /** Claim a data dir for a DSv2 write: the next version id (the
    * origin the dir digits record — the same claim-then-maybe-rebase
    * discipline as [[appendWith]]) and its [[LakehouseTable.claimDirName]].
    */
  private[lakehouse] def claimWriteDir(tag: String): (Long, String) = {
    val id = nextId()
    (id, LakehouseTable.claimDirName(id, tag))
  }

  /** Size-targeted optimize-write as a per-file record cap: the target
    * bytes over `head`'s average on-disk bytes per row, from manifest
    * stats alone (files whose stats carry both rows and bytes) — so a
    * skewed partition value bins into ≈targetBytes files instead of one
    * giant one. None unless the table opted in AND `head` has a
    * stats-bearing data file.
    */
  private[lakehouse] def writeRecordCap(head: Option[Snapshot]): Option[Long] =
    (if (optimizeWrite) optimizeWriteTargetBytes else None).flatMap { target =>
      val sts = head.toSeq.flatMap(cur => cur.files.flatMap(f => fileStatsOf(cur, f)))
        .filter(st => st.bytes.exists(_ > 0) && st.rows > 0)
      val rows = sts.map(_.rows).sum
      if (rows <= 0) None
      else {
        val bytesPerRow = sts.flatMap(_.bytes).sum.toDouble / rows
        Some(math.max(1L, (target / math.max(bytesPerRow, 1e-9)).toLong))
      }
    }

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

  /** The one APPEND commit: `newFiles` (written under `claimedId` by
    * the DSv2 executor writers, for [[appendWith]] or a DSv2 write)
    * become one append snapshot on `target`. A lost publish race
    * REBASES (the files re-commit on the new head — an append removes
    * nothing, so it can never conflict), schema compatibility
    * re-validates per attempt, a txn `mark` whose racing replica
    * already landed is absorbed (None; the CALLER discards the files),
    * and the one genuine conflict — a raced MoR tombstone newer than
    * the claimed origin ([[racedTombstone]]) — surfaces as
    * [[ConcurrentCommitException]]. `targetAuthoritative` pins the
    * snapshot schema to the head (schema-channel mode: the DDL records
    * are the only evolution authority) instead of evolving additively.
    */
  private[lakehouse] def commitWrittenFiles(newFiles: Seq[String],
      batchSchema: StructType, claimedId: Long, mark: Option[TxnMark],
      targetAuthoritative: Boolean,
      target: WriteTarget = MainLine): Option[Snapshot] = writeLock.synchronized {
    withCommitRetry {
      if (mark.exists(m => lastTxnVersion(m.appId).exists(_ >= m.version)))
        Right(None) // a racing replica of this exact batch already landed
      else {
        val (parent, id) = target.resolve()
        requireCompatibleSchemaFor(parent, batchSchema)
        if (racedTombstone(parent, claimedId))
          Left(new ConcurrentCommitException(root, claimedId))
        else {
          val schemaJson =
            if (targetAuthoritative)
              parent.map(_.schemaJson).getOrElse(batchSchema.json)
            else evolvedSchemaJsonFor(parent, batchSchema)
          Right(Some(target.publish(Snapshot(id, parent.map(_.snapshotId),
            System.currentTimeMillis(), "append",
            parent.map(_.files).getOrElse(Nil) ++ newFiles,
            schemaJson, txn = mark, deletes = parent.flatMap(_.deletes)))))
        }
      }
    }
  }

  /** MoR masking sequences on the PATH-derived origin, so a tombstone
    * in `head` newer than a write's claimed origin (a racing CDC apply
    * landed between the claim and the commit) would mask the write's
    * rows as if they predated it — the one conflict an append or a
    * staged keyed commit cannot rebase past.
    */
  private def racedTombstone(head: Option[Snapshot], claimedId: Long): Boolean =
    head.exists(_.tombstones.exists(originOf(_) > claimedId))

  /** The one FULL-OVERWRITE commit, on the (head, id) its caller
    * resolved: content replaced, schema reset to the batch's,
    * registries cleared (no pre-overwrite file survives).
    */
  private[lakehouse] def commitOverwriteFiles(head: Option[Snapshot], id: Long,
      newFiles: Seq[String], batchSchema: StructType): Snapshot = writeLock.synchronized {
    writeSnapshot(Snapshot(id, head.map(_.snapshotId),
      System.currentTimeMillis(), "overwrite", newFiles, batchSchema.json,
      renames = Some(Map.empty), drops = Some(Map.empty),
      reborn = Some(Map.empty)))
  }

  /** The one KEYED commit. Every face that lands a keyed batch — the
    * table API's upsert / applyChanges (main line or branch), the DSv2
    * batch write and the DSv2 stream epoch — writes it once through the
    * executor writers' keyed split ([[LakehouseDataWriter]]) at
    * `claimedId` and hands the `written` halves here: the data files
    * (the insert rows), the tomb files (every touched key tuple, deduped
    * per task, under the layout's non-key partition dirs) and the del
    * files (delete keys, transport only). Against the head `target`
    * resolves now:
    *
    *  1. a txn `mark` a racing replica already landed absorbs the batch
    *     (None);
    *  2. bootstrap: no head — the data files become the table;
    *  3. a raced tombstone newer than `claimedId` ([[racedTombstone]])
    *     throws [[ConcurrentCommitException]], and so, on merge-on-read,
    *     does a head holding a data file of origin `claimedId` or newer:
    *     the batch's tomb files sit at `claimedId` and mask strictly
    *     older rows only, so a racer's rows (or a compaction's copies)
    *     for the batch's keys would stay visible beside the batch's own;
    *  4. merge-on-read: the tomb files append to the head's tombstone
    *     (masking is strictly-older, so the batch's own rows stay
    *     visible);
    *  5. copy-on-write: the head's files holding a tomb key swap for
    *     their survivors — the rows whose key the batch does not carry —
    *     written at the commit's id, projected onto its evolved schema,
    *     under the head's layout, in one key-gated rewrite job
    *     ([[rewriteTouched]]; key ranges from the tomb files' stats);
    *  6. publish on `target`; `cdc` (or merge-on-read) names the op
    *     `apply`, else `upsert`.
    *
    * Files no manifest references are discarded here: the del files
    * (and copy-on-write's tomb files) after the publish, every staged
    * and survivor file when the batch is absorbed or anything throws.
    * A copy-on-write batch rebases past any other racing commit (the
    * touched files are found in the head it resolves now), as an append
    * does. This never retries: a lost publish race surfaces as
    * [[ConcurrentCommitException]] to the caller.
    */
  private[lakehouse] def commitKeyed(target: WriteTarget, claimedId: Long,
      written: WrittenFiles, batchSchema: StructType, keys: Seq[String],
      mergeOnRead: Boolean, cdc: Boolean,
      mark: Option[TxnMark]): Option[Snapshot] = writeLock.synchronized {
    var survivors = Seq.empty[String]
    val published = try {
      if (mark.exists(m => lastTxnVersion(m.appId).exists(_ >= m.version))) None
      else {
        val (head, id) = target.resolve()
        requireCompatibleSchemaFor(head, batchSchema)
        val schemaJson = evolvedSchemaJsonFor(head, batchSchema)
        val (files, deletes) = head match {
          case None => (written.data, None)
          case Some(c) =>
            if (racedTombstone(head, claimedId) ||
                mergeOnRead && c.files.exists(originOf(_) >= claimedId))
              throw new ConcurrentCommitException(root, claimedId)
            if (mergeOnRead)
              (c.files ++ written.data, Some(c.tombstones ++ written.tombs).filter(_.nonEmpty))
            else if (written.tombs.isEmpty) (c.files ++ written.data, c.deletes)
            else {
              val rewritten = rewriteTouched(c, id, written.tombs, keys, batchSchema,
                DataType.fromJson(schemaJson).asInstanceOf[StructType])
              survivors = rewritten.data
              val gone = rewritten.replaced.toSet
              (c.files.filterNot(gone) ++ written.data ++ survivors, c.deletes)
            }
        }
        Some(target.publish(Snapshot(id, head.map(_.snapshotId), System.currentTimeMillis(),
          if (cdc || mergeOnRead) "apply" else "upsert", files, schemaJson, txn = mark,
          deletes = deletes)))
      }
    } catch {
      case e: Exception =>
        discardWrittenFiles(written.all ++ survivors)
        throw e
    }
    discardWrittenFiles(published.fold(written.all)(s =>
      written.dels ++ written.tombs.filterNot(s.tombstones.toSet)))
    published
  }

  /** The copy-on-write half of [[commitKeyed]]: the head files holding a
    * key of the batch (`tombs`, its staged tomb key files) swap for their
    * survivors, in ONE key-gated rewrite job.
    *
    * The batch's key ranges (the tomb files' writer stats,
    * [[footerKeyRanges]]) prune the head's files on manifest metadata, so
    * a key-disjoint batch reads nothing. The key set is read once on the
    * driver into a mask whose tuples sit at origin `Long.MaxValue`
    * ([[LakehouseMor.batchKeys]]) and ships as one broadcast. One task per
    * pack of candidate files then reads each candidate whole: its key
    * columns first, tested against the set; a file holding none writes
    * nothing and stays in the manifest. A file holding one is read again
    * in full through the effective read (the head's tombstone masks plus
    * the batch keys, which drop every row the batch carries, a racer's
    * newer rows included), projected onto the commit's evolved `schema`
    * and written at `id` under the head's layout by the task's
    * [[LakehouseDataWriter]], whose commit message names the file as
    * replaced — also when none of its rows survive.
    *
    * Returns the survivor files (`data`) and the head files they replace
    * (`replaced`); a failed job leaves no survivor file behind.
    */
  private def rewriteTouched(head: Snapshot, id: Long, tombs: Seq[String],
      keys: Seq[String], batchSchema: StructType, schema: StructType): WrittenFiles = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal}
    val none = WrittenFiles(Nil)
    val headSchema = org.apache.spark.sql.GraftDatasetAccess.nullable(
      DataType.fromJson(head.schemaJson).asInstanceOf[StructType])
    // a key column the head never declared is NULL in all its files
    val headKeys = keys.map(k =>
      headSchema.fields.find(f => nameKey(f.name) == nameKey(k)).getOrElse(return none))
    val ranges = footerKeyRanges(tombs, keys, batchSchema)
    // no range: every key tuple holds a NULL (or the batch is empty),
    // and a NULL key equals nothing
    if (ranges.contains(Nil)) return none
    val inRange = ranges.fold(head.files)(pruneFiles(head, _)._1)
    if (inRange.isEmpty) return none
    val opts = Map("path" -> root)
    val readers = new LakehouseReaderFactory
    // the batch's key set, read on the driver by the native scan over a
    // snapshot view of its tomb files: a handful of key files this batch
    // just wrote, not worth a job's launch
    val keySchema = StructType(keys.map(k =>
      batchSchema.fields.find(f => nameKey(f.name) == nameKey(k)).get.copy(nullable = true)))
    val tombView = Snapshot(head.snapshotId, None, head.timestampMs, "tombs", tombs, keySchema.json,
      stats = Some(tombs.flatMap(f => Option(knownStats.get(f)).map(f -> _)).toMap))
    val keyRows = new LakehouseBatchScan(opts, keySchema, Array.empty, masked = false,
      pinned = Some((this, tombView))).wholeFilePartitions().values.toSeq.flatMap { p =>
        val r = readers.rowsOf(p)
        try Iterator.continually(r.next()).takeWhile(identity).map(_ => r.get().copy()).toVector
        finally r.close()
      }
    val batch = LakehouseMor.batchKeys(keySchema, keyRows).getOrElse(return none)
    // key types the stats cannot range prune on the key set itself
    val candidates =
      if (ranges.isDefined) inRange else LakehouseMor.affectedFiles(this, head, Seq(batch), inRange)
    if (candidates.isEmpty) return none
    keyedWriteProbedFiles.addAndGet(candidates.size)
    val bc = spark.sparkContext.broadcast(batch)
    try {
      val pinned = Some((this, head))
      val subset = Some(candidates.toSet)
      val keyParts = new LakehouseBatchScan(opts, StructType(headKeys), Array.empty, subset,
        masked = false, pinned = pinned).wholeFilePartitions()
      val rowParts = new LakehouseBatchScan(opts, headSchema, Array.empty, subset,
        pinned = pinned, extraMasks = Seq(bc)).wholeFilePartitions()
      val probeOrds = batch.keyNames.map(k => headKeys.indexWhere(f => nameKey(f.name) == nameKey(k)))
      val probe = MorMaskSpec(bc, probeOrds.toArray, probeOrds.map(headKeys(_).dataType).toArray)
      // the survivors take the commit's evolved schema: a column the
      // head lacks reads NULL, a widened one casts up
      val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
      val exprs = schema.fields.toSeq.map { f =>
        headSchema.fields.indexWhere(h => nameKey(h.name) == nameKey(f.name)) match {
          case -1 => Literal(null, f.dataType)
          case i =>
            val from = headSchema(i).dataType
            val br = BoundReference(i, from, nullable = true)
            if (sameIgnoringNullability(from, f.dataType)) br else Cast(br, f.dataType, tz)
        }
      }
      val project = Some(exprs).filterNot(es => es.size == headSchema.size &&
        es.zipWithIndex.forall { case (e, i) => e == BoundReference(i, headSchema(i).dataType, true) })
      // the head's layout, minus dir names no column sources (a path
      // table's inferred `<col>_bucket` dirs carry no count)
      val layout = inferPartitionCols(head.files).filter(pc =>
        schema.fieldNames.exists(f => nameKey(f) == nameKey(specSourceCol(pc))))
      val write = new LakehouseDsv2Write(root, Map.empty, schema,
        Dsv2CommitMode.Stage(this, id, "", layout, Some(head)))
      val factory = write.makeFactory(streaming = false)
      // whole files in as many tasks as a scan of them would split into,
      // largest first onto the lightest task; each task's files in path
      // order, so one dir's files meet its writer together
      val openCost = spark.sessionState.conf.filesOpenCostInBytes
      val sized = candidates.map(f => f -> (fileSizeOf(head, f) + openCost)).sortBy(-_._2)
      val total = sized.map(_._2).sum
      val maxSplit = org.apache.spark.sql.execution.datasources.FilePartition
        .maxSplitBytes(spark, total)
      val packs = Array.fill(
        math.max(1L, math.min(sized.size.toLong, total / maxSplit)).toInt)(
        (0L, List.empty[String]))
      sized.foreach { case (f, w) =>
        val i = packs.indices.minBy(packs(_)._1)
        packs(i) = (packs(i)._1 + w, f :: packs(i)._2)
      }
      val tasks = packs.toSeq.map(_._2.sorted.map(f => (f, keyParts(f), rowParts(f))))
      val messages = try {
        org.apache.spark.sql.execution.SQLExecution.withSQLConfPropagated(
            spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]) {
          spark.sparkContext.runJob(spark.sparkContext.parallelize(tasks, tasks.size),
            (it: Iterator[Seq[(String, LakehouseGroupedPartition, LakehouseGroupedPartition)]]) =>
              LakehouseTable.rewriteTask(factory, probe, project, it.next()))
        }
      } catch {
        case e: Throwable =>
          write.abort(Array.empty)
          throw e
      }
      write.commit(messages)
      WrittenFiles.of(messages)
    } finally bc.destroy()
  }

  /** Drop uncommitted executor-written files (aborted job, absorbed
    * replay) and their claim dirs with everything in them; an entry
    * `data/<dir>/` names a claim dir alone.
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
    * with equal key tuples. Copy-on-write rewrites only the files that
    * actually contain matching keys; untouched files carry over by
    * reference. `mergeOnRead = true` lands it as a pure append (batch
    * keys as a tombstone masking older versions + the batch as new
    * files — an upsert IS an all-inserts change batch), zero
    * existing-file reads or rewrites. A `_change` column is data here;
    * see [[applyChanges]] for the change-feed form.
    */
  def upsert(df0: DataFrame, keys: Seq[String], mergeOnRead: Boolean = false): Snapshot =
    writeLock.synchronized {
      writeKeyed(MainLine, df0, keys, mark = None, mergeOnRead, cdc = false).get
    }

  /** Upsert guarded by the transaction ledger — None means `version`
    * was already applied for `appId` and nothing was written. See
    * [[TxnMark]].
    */
  def upsertIdempotent(df: DataFrame, keys: Seq[String], appId: String,
      version: Long): Option[Snapshot] = writeLock.synchronized {
    if (lastTxnVersion(appId).exists(_ >= version)) None
    else writeKeyed(MainLine, df, keys, Some(TxnMark(appId, version)),
      mergeOnRead = false, cdc = false)
  }

  /** Data files of keyed-write stage-2 collision probes — the exact
    * existing files a keyed write actually had to READ to find key
    * collisions. Spec counter: a disjoint-key batch (the monotone-CDC
    * norm) must add ZERO here — stage 1 proves disjointness from
    * manifest metadata alone.
    */
  private[lakehouse] val keyedWriteProbedFiles = new java.util.concurrent.atomic.AtomicLong

  /** Touched-file discovery for a key set (the DML probes: MERGE,
    * UPDATE and DELETE by key, and the change feed's file diff): which of
    * `cur`'s data files hold rows colliding with `keyRows`' key tuples?
    * Two stages, cheapest first — the AnnIndex.append collision
    * discipline:
    *
    *  1. ONE tiny agg over `keyRows` gives the per-key-column min/max,
    *     which feeds [[pruneFiles]] as conjunctive ranges — manifest
    *     stats and partition paths answer with zero data-file I/O, so a
    *     key-disjoint set exits here having read NOTHING of the table;
    *  2. only surviving candidate files pay an exact COLUMN-PRUNED
    *     semi-join over their key columns (duplicate key rows are
    *     harmless to it), collected in one shuffle-free job.
    *
    * A keyed write finds its touched files inside its one rewrite job
    * instead ([[rewriteTouched]]).
    *
    * Conservative under evolution/unsupported types: a key column whose
    * min/max can't compare against a file's stats simply keeps the file
    * for stage 2. All-null key tuples match nothing under SQL equality,
    * so an all-null (or empty) key set touches no files by definition.
    */
  private[lakehouse] def touchedFilesFor(cur: Snapshot, keyRows: DataFrame,
      keys: Seq[String]): Seq[String] = {
    val ranges = {
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
    // each task hands back its distinct file names: one shuffle-free job
    val probed = scanFiles(cur, candidates, masked = false)
      .select(keys.map(col) :+ input_file_name().as("_file"): _*)
      .join(keyRows, keys, "left_semi")
      .select(col("_file")).as(Encoders.STRING)
      .mapPartitions((fs: Iterator[String]) => fs.toSet.iterator)(Encoders.STRING)
      .collect().toSet
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
      case _ => writeKeyed(MainLine, ch0, keys, txn.map { case (a, v) => TxnMark(a, v) },
        mergeOnRead, cdc = true)
    }
  }

  /** The table API's keyed write: [[upsert]] (`cdc = false`) or
    * [[applyChanges]] (`cdc`: the `_change` column tags each row
    * insert|delete and never lands as data) on `target`. Every check
    * runs before anything is written: merge-on-read key maskability,
    * schema compatibility, and (in the writers' factory) key presence.
    * The batch is then written ONCE by the executor writers' keyed
    * split, which also fails the write on the first tag outside
    * insert|delete (NULL included) a task meets, and lands through
    * [[commitKeyed]].
    */
  private def writeKeyed(target: WriteTarget, df0: DataFrame, keys: Seq[String],
      mark: Option[TxnMark], mergeOnRead: Boolean, cdc: Boolean): Option[Snapshot] = {
    require(keys.nonEmpty, s"${if (cdc) "applyChanges" else "upsert"} requires key columns")
    require(!cdc || df0.columns.contains("_change"),
      "applyChanges input must carry a _change column (insert|delete)")
    if (mergeOnRead) LakehouseMor.requireMaskableKeys(df0.schema, keys)
    val (head, id) = target.resolve()
    val df1 = canonicalizedNamesAt(head, df0)
    val batchSchema = if (cdc) df1.drop("_change").schema else df1.schema
    requireCompatibleSchemaFor(head, batchSchema)
    // the head's layout: a non-key column of it the batch lacks reads
    // NULL, so the insert files land under its NULL dir, and the tomb
    // files stay out of its dirs (the batch names no value for them)
    def has(cols: Seq[String], c: String) = cols.exists(nameKey(_) == nameKey(c))
    val declared = head.toSeq.flatMap(c =>
      DataType.fromJson(c.schemaJson).asInstanceOf[StructType].fields)
    val layout = head.fold(Seq.empty[String])(c => inferPartitionCols(c.files))
      .filter(pc => has(declared.map(_.name) ++ df1.columns, specSourceCol(pc)))
    val filled = declared.filter(f => has(layout.map(specSourceCol), f.name) &&
      !has(df1.columns.toSeq, f.name) && !has(keys, f.name))
    val df = filled.foldLeft(df1)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    val stage = Dsv2CommitMode.Stage(this, id, "", layout, head, keys, cdc, filled.map(_.name))
    commitKeyed(target, id, stageWrite(df, stage), batchSchema, keys, mergeOnRead, cdc, mark)
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

  /** The declared `bucket(N, col)` entry, if any — the pruner's
    * bucket-dir evidence input.
    */
  private def declaredBucketSpec: Option[(Int, String)] =
    declaredPartitionSpec.collectFirst {
      case LakehouseTable.BucketSpecRe(n, c) => (n.toInt, c)
    }

  /** The declared partition layout from the catalog metadata file
    * (empty for tables created outside the catalog or laid out flat).
    */
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

  /** Remove the current snapshot's rows matching `cond`, where
    * `candidates0` is the pre-pruned file set that can hold matches
    * (anything else carries over BY REFERENCE — the skipping indexes
    * prove it holds none). Candidate files rewrite keeping rows where
    * the condition is false OR null (DELETE only removes rows where the
    * predicate IS TRUE), preserving the hive layout — the SQL DELETE
    * statement, run once: the candidates are intersected with the files
    * still current under the lock, and a lost publish race throws
    * [[ConcurrentCommitException]] instead of retrying (re-planning
    * stale candidates would not be serializable). A delete with zero
    * candidates commits nothing and returns the current snapshot.
    */
  def deleteWhere(candidates0: Seq[String],
      cond: org.apache.spark.sql.Column): Snapshot = writeLock.synchronized {
    sqlMutateOnce("delete", candidatesOf = _ => candidates0,
      compute = (_, candidates, scan) =>
        if (candidates.isEmpty) (None, None)
        else (Some(scan.filter(not(cond <=> lit(true)))), None),
      written = Nil).getOrElse(currentSnapshot().get)
  }

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
      compute: (Snapshot, Seq[String], DataFrame) => (Option[DataFrame], Option[DataFrame]),
      /** Insert-side files already written (the DSv2 filter overwrite's
        * executor-written batch): they land with every attempt's commit.
        */
      written: Seq[String] = Nil): Option[Snapshot] = writeLock.synchronized {
    withCommitRetry(Right(sqlMutateOnce(op, candidatesOf, compute, written)))
  }

  /** Copy-on-write commit primitive for the SQL row-mutating verbs
    * (UPDATE / MERGE / DELETE — [[LakehouseDml]]), run once:
    * under the write lock, `candidatesOf(head)` names the files that
    * may hold affected rows (anything else carries BY REFERENCE), and
    * `compute(head, candidates, candidateScan)` returns
    * `(survivors, inserts)` — `survivors = Some(df)` rewrites the
    * candidate set to exactly those rows, `None` leaves every file in
    * place (an insert-only merge never rewrites); `inserts` appends
    * new files. `(None, None)` commits nothing and returns None.
    * Mutations always run against the HEAD snapshot (never a read
    * pin); the table's hive layout is preserved on both rewrite and
    * insert.
    */
  private def sqlMutateOnce(op: String,
      candidatesOf: Snapshot => Seq[String],
      compute: (Snapshot, Seq[String], DataFrame) => (Option[DataFrame], Option[DataFrame]),
      written: Seq[String]): Option[Snapshot] = {
    val cur = currentSnapshot().getOrElse(
      throw new IllegalStateException(s"table $root has no snapshots"))
    val curSet = cur.files.toSet
    val candidates = candidatesOf(cur).filter(curSet)
    val (survivors, inserts) = compute(cur, candidates, scanFiles(cur, candidates))
    if (survivors.isEmpty && inserts.isEmpty && written.isEmpty) return None
    val id = nextId()
    val partCols = inferPartitionCols(cur.files)
    val rewritten = survivors.map(df =>
      writeDataFiles(df, id, suffix = "rw", partitionCols = partCols)).getOrElse(Nil)
    val added = inserts.map(df =>
      writeDataFiles(df, id, partitionCols = partCols.filter(pc => df.columns.contains(specSourceCol(pc))))).getOrElse(Nil)
    val kept = if (survivors.isDefined) cur.files.diff(candidates) else cur.files
    Some(writeSnapshot(Snapshot(id, Some(cur.snapshotId), System.currentTimeMillis(),
      op, kept ++ rewritten ++ added ++ written, cur.schemaJson, deletes = cur.deletes)))
  }

  /** Create an EMPTY table — schema only, ZERO files, no Spark job
    * (the DSv2 stream bootstrap seed). A file-less snapshot carries the
    * schema without touching the layout story: a zero-row FLAT part
    * file would poison layout inference for every partitioned epoch
    * after it (mixed-scheme evidence stands [[inferPartitionCols]]
    * down).
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

  /** Replace the whole table content with `df` (schema AND rename
    * lineage reset — no pre-overwrite file survives, so no alias can
    * ever resolve again). An empty `df` (`TRUNCATE TABLE`) commits no
    * file at all.
    */
  def overwrite(df: DataFrame): Snapshot = writeLock.synchronized {
    val (head, id) = MainLine.resolve()
    commitOverwriteFiles(head, id, writeDataFiles(df, id, head = head), df.schema)
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
  def overwriteWhere(df: DataFrame, filters: Seq[sources.Filter]): Option[Snapshot] =
    overwriteMatching(filters,
      inserts = Some(requireDeclaredTypes(canonicalizedNames(df), "overwriteWhere")),
      written = Nil)

  /** The filter overwrite statement: rows matching `filters` out of the
    * pruned candidates, the insert side in — one snapshot. The insert
    * side is `inserts` to write, or `written` files already staged (the
    * DSv2 filter overwrite's executor-written batch).
    */
  private[lakehouse] def overwriteMatching(filters: Seq[sources.Filter],
      inserts: Option[DataFrame], written: Seq[String]): Option[Snapshot] = {
    val cond = filters.map(LakehouseSource.toCondition)
      .reduceOption(_ && _).getOrElse(lit(true))
    sqlMutate("overwrite",
      candidatesOf = snap =>
        LakehouseSource.pruneForFilters(this, snap, filters, declaredBucketSpec),
      compute = (_, cands, scan) =>
        (if (cands.isEmpty) None
         else Some(scan.filter(not(cond <=> lit(true)))),
          inserts),
      written = written)
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
    * NULL through the scan's snapshot schema); names
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

  /** Expiry marks, `_refs/expiring/<id>.<sweep>`: the sweep's half of
    * the ref handshake ([[expireSnapshotsOlderThan]]). Each sweep names
    * its own marks, so it can clear what it marked without clearing a
    * mark another sweep relies on.
    */
  private def expiringDir: Path = refsDir.resolve("expiring")

  /** Every expiry mark, by the snapshot id it marks (any sweep's). */
  private def marks(): Map[Long, Seq[Path]] =
    (if (Files.isDirectory(expiringDir)) graft.Fs.listAll(expiringDir) else Nil)
      .groupBy(_.getFileName.toString.takeWhile(_ != '.').toLong)

  /** Could a sweep drop snapshot `id` under a ref written before this
    * call? Yes if any sweep marked it or its manifest is gone. The marks
    * are read FIRST: a sweep deletes the manifest before its mark, so no
    * mark followed by a present manifest means any later mark comes from
    * a sweep whose second ref listing sees the ref.
    */
  private def expiring(id: Long): Boolean =
    marks().contains(id) || !Files.exists(manifestPath(id))

  private def beingExpired(id: Long) = new IllegalStateException(
    s"snapshot $id of table '$root' is being expired: a snapshot marked " +
      "for expiry takes no new refs")

  /** The snapshot the ref body at `p` pins (a branch's fork point). */
  private def pinOf(p: Path, body: String): Long =
    if (p.getParent == branchesDir) Serialization.read[BranchRef](body).fork
    else Serialization.read[TagRef](body).snapshot

  /** The ref-writer's half of the handshake, for the ref `write` lands
    * at `p` pinning `snapshotId`: refuse a missing or marked snapshot
    * before touching any ref, write the ref, then check again. Each side
    * writes its own claim before it reads the other's, so either this
    * check sees a sweep's mark or that sweep's second listing sees this
    * ref. A failed check withdraws the ref (only if `p` still holds the
    * body `write` returned), puts back the ref it replaced (a re-pointed
    * tag keeps its old target) and fails loudly.
    */
  private def landRef(p: Path, snapshotId: Long)(write: => String): Unit = {
    snapshotOrThrow(snapshotId)
    if (marks().contains(snapshotId)) throw beingExpired(snapshotId)
    onPhase("ref.checked")
    // the ref this write replaces, held by a hard link so a withdrawal
    // can put it back (a branch write never replaces: it fails instead)
    val prev = asidePath(p, "prev")
    val hadPrev = tryLink(prev, p)
    try {
      val body = write
      if (expiring(snapshotId)) {
        if (takeRefIf(p)(_ == body) && hadPrev) putBack(p, prev, Files.readString(prev))
        snapshotOrThrow(snapshotId) // manifest gone: the standard "not found"
        throw beingExpired(snapshotId)
      }
    } finally { Files.deleteIfExists(prev); () }
  }

  /** A hidden sibling of ref `p` to hold a ref aside. The name ends in
    * `.tmp`, so one a crash leaves behind ages out with the other temps.
    */
  private def asidePath(p: Path, kind: String): Path =
    p.resolveSibling(s".$kind-${java.util.UUID.randomUUID().toString.take(12)}.tmp")

  /** Hard-link `link` to `target`, put-if-absent: false when `link`
    * already exists or `target` does not.
    */
  private def tryLink(link: Path, target: Path): Boolean =
    try { Files.createLink(link, target); true }
    catch { case _: FileAlreadyExistsException | _: NoSuchFileException => false }

  /** Remove the ref at `p` if `drop` holds for its body, without losing
    * a ref that replaced it after the caller read it: the file moves
    * aside atomically and is re-read there, and a body `drop` refuses
    * goes back ([[putBack]]). True when this call removed a ref.
    */
  private def takeRefIf(p: Path)(drop: String => Boolean): Boolean = {
    onPhase("ref.take")
    val aside = asidePath(p, "take")
    try Files.move(p, aside, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.NoSuchFileException => return false }
    try {
      val body = Files.readString(aside)
      drop(body) || { putBack(p, aside, body); false }
    } finally { Files.deleteIfExists(aside); () }
  }

  /** Put the ref `body` held at `from` back at `p`, put-if-absent (a ref
    * that landed meanwhile wins). The put-back is a ref write, so it
    * re-checks like [[landRef]] and withdraws, loudly, rather than
    * dangle if a sweep marked its snapshot while `p` did not name it.
    */
  private def putBack(p: Path, from: Path, body: String): Unit =
    if (tryLink(p, from) && expiring(pinOf(p, body))) {
      System.err.println(s"[graft-lakehouse] WARNING: ref '$p' withdrawn: " +
        s"snapshot ${pinOf(p, body)} was marked for expiry while the ref stood aside")
      takeRefIf(p)(_ == body)
    }

  /** Point tag `name` at snapshot `snapshotId` (REPLACES an existing
    * tag — tags are movable pointers, the Iceberg ref shape). The write
    * is the ref half of the expiry handshake ([[landRef]]): a snapshot
    * that is gone, or marked by a running (or crashed) sweep, refuses
    * before any ref is touched; a mark or a manifest delete that lands
    * while the tag is written withdraws it and fails loudly — a
    * successful setTag's snapshot survives every sweep until the tag
    * drops. A refused re-point puts the tag's previous target back,
    * unless a sweep marked that snapshot in the moment no tag named it;
    * then the old tag is withdrawn too, with a warning.
    */
  def setTag(name: String, snapshotId: Long,
      maxRefAgeMs: Option[Long] = None): Unit = writeLock.synchronized {
    require(name.nonEmpty && !name.startsWith(".") &&
      name.forall(c => c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"illegal tag name '$name' (letters, digits, '-', '_', '.'; no leading dot)")
    require(maxRefAgeMs.forall(_ > 0),
      s"maxRefAgeMs must be positive, got $maxRefAgeMs")
    landRef(refPath(name), snapshotId) {
      Files.createDirectories(refsDir)
      val body = Serialization.write(
        TagRef(snapshotId, System.currentTimeMillis(), maxRefAgeMs))
      val tmp = Files.createTempFile(refsDir, ".ref-", ".tmp")
      Files.writeString(tmp, body)
      Files.move(tmp, refPath(name),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      body
    }
  }

  /** Drop tag `name`; false when it never existed. */
  def dropTag(name: String): Boolean = writeLock.synchronized {
    Files.deleteIfExists(refPath(name))
  }

  /** All tags: name → (snapshot id, created-at millis). */
  def tags: Map[String, (Long, Long)] =
    tagRefs.map { case (n, r) => n -> (r.snapshot, r.createdMs) }

  /** All tags with their full ref bodies (incl. the max-ref-age). */
  def tagRefs: Map[String, TagRef] = readRefs[TagRef](refsDir)

  /** Every `<name>.json` ref in `dir`, skipping one dropped, withdrawn
    * or moved aside between the listing and its read.
    */
  private def readRefs[R: Manifest](dir: Path): Map[String, R] =
    if (!Files.isDirectory(dir)) Map.empty
    else graft.Fs.listAll(dir)
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".json") &&
        !p.getFileName.toString.startsWith("."))
      .flatMap { p =>
        try Some(p.getFileName.toString.stripSuffix(".json") ->
          Serialization.read[R](Files.readString(p)))
        catch { case _: java.nio.file.NoSuchFileException => None }
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
    // ([[absDataPath]]) — history manifests stay IMMUTABLE (the
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
  def branches: Map[String, BranchRef] = readRefs[BranchRef](branchesDir)

  /** Create branch `name` forking from `fromSnapshot` (default: the
    * main head) — the Iceberg write-audit-publish entry point: commits
    * to the branch are invisible to main consumers until
    * [[publishBranch]] fast-forwards them in. The ref lands
    * put-if-absent (a hard link, as [[writeSnapshot]] publishes), so of
    * two forks of one name across processes exactly one wins and the
    * other fails with "already exists"; the fork snapshot goes through
    * the same expiry handshake as a tag ([[landRef]]) — a marked fork
    * point refuses.
    */
  def forkBranch(name: String, fromSnapshot: Option[Long] = None): Unit =
    writeLock.synchronized {
      require(name.nonEmpty && !name.startsWith(".") &&
        name.forall(c => c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
        s"illegal branch name '$name' (letters, digits, '-', '_', '.'; no leading dot)")
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
      landRef(branchPath(name), fork) {
        Files.createDirectories(branchesDir)
        val body = Serialization.write(
          BranchRef(fork, System.currentTimeMillis(), epoch = Some(
            java.util.concurrent.ThreadLocalRandom.current().nextLong())))
        val tmp = Files.createTempFile(branchesDir, ".ref-", ".tmp")
        try {
          Files.writeString(tmp, body)
          if (!tryLink(branchPath(name), tmp))
            throw new IllegalArgumentException(s"branch '$name' already exists")
        } finally Files.deleteIfExists(tmp)
        body
      }
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
    branchHeadOpt(snaps, name, ref).getOrElse(throw invalidSnapshot(ref.fork))

  private def branchHeadOpt(snaps: Seq[Snapshot], name: String, ref: BranchRef): Option[Snapshot] =
    snaps.reverseIterator.find(inBranch(_, name, ref))
      .orElse(snaps.find(_.snapshotId == ref.fork))

  /** Snapshot ids the refs pin against expiry, heads resolved within
    * `snaps`: every TAGGED snapshot (a tag is a promise that this exact
    * table state stays addressable — drop it, or let its max-ref-age
    * lapse, to let it expire), and each live BRANCH's fork point and
    * head, so an in-flight write-audit-publish stays publishable through
    * maintenance; intermediate branch snapshots age out like main
    * history. A branch forked after `snaps` was listed pins its fork.
    */
  private def refPins(snaps: Seq[Snapshot]): Set[Long] =
    tagRefs.values.map(_.snapshot).toSet ++ branches.flatMap { case (n, ref) =>
      branchHeadOpt(snaps, n, ref).map(_.snapshotId).toSet + ref.fork
    }

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
    writeKeyed(onBranch(name), df0, keys, mark = None, mergeOnRead, cdc = false).get
  }

  /** [[applyChanges]] against branch `name`'s head. No txn ledger on
    * branches: the WAP audit flow replays by re-forking, not by ledger
    * absorption.
    */
  def applyChangesToBranch(ch0: DataFrame, keys: Seq[String], name: String,
      mergeOnRead: Boolean = false): Snapshot = writeLock.synchronized {
    writeKeyed(onBranch(name), ch0, keys, mark = None, mergeOnRead, cdc = true).get
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
    *
    * Refs survive the sweep through a HANDSHAKE, not a lock: each side
    * writes its own claim before it reads the other's. The sweep lists
    * the snapshots and the refs (tags, branch forks and heads), marks
    * each eligible snapshot no ref names with a mark of its own
    * (`_refs/expiring/<id>.<sweep>`), lists the refs AGAIN, and deletes
    * only the marked snapshots that second listing shows unreferenced,
    * then all their marks. On a snapshot the second listing pins it
    * clears only its OWN mark: clearing another sweep's could let a fresh
    * ref pass its check while that sweep deletes the snapshot. A ref
    * writer ([[setTag]], [[forkBranch]], a clone pin) writes its ref and
    * then looks for any mark, so either it withdraws, or every sweep
    * that marked later sees its ref. A marked snapshot takes no new
    * refs; a crashed sweep blocks nothing but new refs to what it
    * marked, and the next sweep that still finds one eligible and
    * unreferenced removes it and its marks. No timer is involved.
    */
  def expireSnapshotsOlderThan(cutoffMs: Long): Int = writeLock.synchronized {
    if (listSnapshots().isEmpty) return 0
    onBeforeExpireSweep()
    // a tag past its own max-ref-age drops FIRST (its pin ends with
    // it); a setTag that re-points the name after it was read survives
    // the take ([[takeRefIf]] re-reads the body it moved aside)
    val nowMs = System.currentTimeMillis()
    def aged(r: TagRef) = r.maxRefAgeMs.exists(a => r.createdMs + a <= nowMs)
    tagRefs.foreach { case (n, r) =>
      if (aged(r)) takeRefIf(refPath(n))(b => aged(Serialization.read[TagRef](b)))
    }
    val snaps = listSnapshots()
    // the protected "current" is the MAIN head — the newest GLOBAL
    // snapshot may be a branch commit, whose survival is the branch
    // ref's business
    val current = mainHeadIn(snaps).getOrElse(snaps.last)
    val pinned = refPins(snaps)
    val marked = snaps.filter(s => s.snapshotId != current.snapshotId &&
      s.timestampMs < cutoffMs && !pinned(s.snapshotId))
    onPhase("expire.listed")
    val sweep = java.util.UUID.randomUUID().toString.take(12)
    def mark(id: Long) = expiringDir.resolve(s"$id.$sweep")
    if (marked.nonEmpty) Files.createDirectories(expiringDir)
    marked.foreach(s => Files.createFile(mark(s.snapshotId)))
    onPhase("expire.marked")
    val pinnedNow = refPins(snaps)
    val (stay, expired) = marked.partition(s => pinnedNow(s.snapshotId))
    stay.foreach(s => Files.deleteIfExists(mark(s.snapshotId)))
    // the exactly-once ledger must survive retention (the Delta
    // SetTransaction-retention concern): deleting the manifest that
    // carries an app's LATEST txn mark would let a replayed streaming
    // batch apply twice after maintenance. Fold the expiring marks
    // into the floor file BEFORE deleting — a few bytes per
    // producer — so data files vacuum freely and the ledger still
    // never forgets.
    val expiringTxns = expired.flatMap(_.txn)
    if (expiringTxns.nonEmpty) {
      // one consistent (files, merged) view: the files GC'd below are
      // exactly the ones whose marks the new merged file absorbed
      val (consumed, floor) = listAndReadFloor()
      val merged = expiringTxns.foldLeft(floor) { (m, t) =>
        m + (t.appId -> math.max(t.version, m.getOrElse(t.appId, Long.MinValue)))
      }
      writeTxnFloor(merged, consumed)
    }
    expired.foreach { s =>
      val p = manifestPath(s.snapshotId)
      Files.deleteIfExists(p)
      // the parsed entry (full file list + stats maps) must go with
      // the manifest, or a long-lived handle under continuous
      // commit+expiry grows driver memory one dead snapshot per cycle
      snapshotCache.remove(p.getFileName.toString)
    }
    val expiredIds = expired.map(_.snapshotId).toSet
    // every sweep's marks on a deleted manifest go (a crashed sweep's
    // too): the missing manifest now refuses new refs by itself
    marks().foreach { case (id, ps) => if (expiredIds(id)) ps.foreach(Files.deleteIfExists(_)) }
    val kept = snaps.filterNot(s => expiredIds(s.snapshotId))
    // tombstone files are live references too — GC'ing one that a
    // retained snapshot still consults would resurrect its deleted rows
    val live = kept.flatMap(s => s.files ++ s.tombstones).toSet
    // a file may vanish between the walk and its mtime read (a racing
    // sweep's GC, a temp its writer just published)
    def agedOut(p: Path) =
      try Files.getLastModifiedTime(p).toMillis < cutoffMs
      catch { case _: java.nio.file.NoSuchFileException => false }
    if (Files.isDirectory(dataDir)) {
      graft.Fs.walkAll(dataDir)
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .filterNot(p => live.contains(rootPath.relativize(p).toString))
        // a file no manifest references may be ANOTHER PROCESS'S
        // in-flight write (data lands before its manifest publishes) —
        // vacuum it only once it is older than the retention cutoff,
        // the same grace Delta's VACUUM gives uncommitted files
        .filter(agedOut)
        .foreach(Files.deleteIfExists(_))
    }
    // orphaned commit temps (a writer that crashed mid-publish) age out
    // on the same clock; live temps are seconds old and stay — tag-ref
    // temps (a crashed setTag), branch-ref temps (a crashed forkBranch)
    // and refs moved aside by a crashed [[takeRefIf]] ride the same sweep
    Seq(snapsDir, refsDir, branchesDir).filter(Files.isDirectory(_)).foreach { dir =>
      graft.Fs.listAll(dir)
        .filter(_.getFileName.toString.endsWith(".tmp"))
        .filter(agedOut)
        .foreach(Files.deleteIfExists(_))
    }
    pruneBloomSidecars()
    expired.size
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
    * trigger can afford to fire between full compactions. No-op
    * without tombstones.
    */
  def foldTombstones(): Option[Snapshot] = writeLock.synchronized {
    val cur = currentSnapshot().getOrElse(return None)
    if (cur.tombstones.isEmpty) return None
    val affected =
      LakehouseMor.affectedFiles(this, cur, LakehouseMor.build(spark, this, cur), cur.files)
    val id = nextId()
    // effective read of ONLY the affected files: scanFiles masks per-row
    // by origin, so survivors re-land at a fresh origin beyond every
    // tombstone; untouched files hold no maskable row (the prune is a
    // superset), so dropping ALL tombstones is exact
    val partCols = inferPartitionCols(cur.files)
    val rewritten =
      if (affected.isEmpty) Nil
      else writeDataFiles(
        scanFiles(cur, affected), id, suffix = "fold", partitionCols = partCols)
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
      val base = toNames(scanFiles(s, files, masked = false))
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
      val inserts = align(scanFiles(toS, addedFiles))
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
                fs.map(f => rootPath.resolve(f).toString): _*)
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
    val perFile = scanFiles(snap, missing, masked = false)
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

  /** One Hadoop conf for every driver-side footer read of this handle:
    * `newHadoopConf()` copies the whole SparkConf into a fresh
    * Configuration per call, and the footer readers only READ it —
    * a write-time stats collection over N files paid N clones.
    */
  @transient private lazy val footerHadoopConf =
    spark.sessionState.newHadoopConf()

  /** Read one parquet footer → FileStats ([[LakehouseTable.footerStats]]).
    * Unreadable footer → None (no evidence).
    */
  private def footerFileStats(relFile: String): Option[FileStats] =
    footerCache.computeIfAbsent(relFile, { _ =>
      footerOpens.incrementAndGet()
      try {
        val footer = readFooter(relFile)
        val bytes = try Some(Files.size(rootPath.resolve(relFile)))
          catch { case _: Exception => None }
        Some(LakehouseTable.footerStats(footer, bytes, nameKey))
      } catch { case _: Exception => None } // unreadable footer → no evidence → keep
    })

  /** The parquet footer of a data/key file, read driver-side. */
  private def readFooter(relFile: String): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(rootPath.resolve(relFile).toString),
      footerHadoopConf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getFooter finally reader.close()
  }

  /** Record stats the executor writers computed for the files they
    * closed ([[LakehouseWriteMessage.stats]]): the commit's manifest
    * pass and the staged-key range fold then open no footer for them.
    */
  private[lakehouse] def recordWrittenStats(stats: Map[String, FileStats]): Unit =
    stats.foreach { case (f, st) => knownStats.put(f, st) }

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
        Some(InProbes.utf8Cmp(
          statVal.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          String.valueOf(probe).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      case _ => None
    }
  }

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
    if (!Paths.get(relFile).isAbsolute) rootPath.toAbsolutePath.resolve(relFile).toString
    else {
      val local = rootPath.toAbsolutePath.resolve(LakehouseTable.claimDirRelative(relFile))
      if (Files.exists(local)) local.toString else relFile
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

  /** Stats for one snapshot file: manifest-first, footer fallback for
    * pre-stats manifests (a file PRESENT in the stats map never opens
    * its footer — even with the column absent, absence already means
    * "no usable stats").
    */
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

  /** Stats verdict: can `relFile` hold a row with `c` in [lo, hi]?
    * Manifest stats answer first — a file PRESENT in the snapshot's
    * stats map never opens its footer (even if the column is missing
    * there: absence already means "no usable stats"). Only files from
    * pre-stats manifests fall back to a footer open. Missing stats or
    * incomparable types keep the file.
    */
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
        InProbes.utf8Cmp(mx, p) >= 0 &&
          (InProbes.utf8Cmp(mn, p) < 0 ||
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
    * latency per predicate on the planning path. It is also the
    * write-path bucket hash base ([[LakehouseTable.bucketId]]), so
    * bucket-dir pruning computes a probe's bucket with EXACTLY the
    * layout hash.
    */
  private[lakehouse] def probeHash(value: Any, dt: DataType): Long = {
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
          if ((InProbes.utf8Cmp(bytes(a), bytes(b)) < 0) == wantMin) a else b))
      case _ => None // date/timestamp/decimal/binary: real scan answers
    }
  }

  /** Per-key (min, max) prune ranges for a STAGED keyed commit, derived
    * from the staged files' stats instead of a Spark job (guide §1.2):
    * the executor writers just produced these files and shipped their
    * footer stats ([[recordWrittenStats]]), which carry the batch's
    * exact key extrema — zero I/O, where the min/max aggregate cost
    * every keyed CoW epoch a job. Exactness discipline is
    * [[manifestMinMax]]'s: every row-bearing file must carry a stat for
    * every key column (absence is ambiguous between "all null here" and
    * "stats unavailable") and the declared type must round-trip
    * losslessly — anything else returns None, and [[rewriteTouched]]
    * prunes on the batch's key set instead. All files empty ⇒
    * Some(Nil): min/max over an empty batch are SQL NULL, and an empty
    * range list touches nothing.
    */
  private[lakehouse] def footerKeyRanges(files: Seq[String], keys: Seq[String],
      schema: StructType): Option[Seq[ScanPredicate.Range]] = {
    import org.apache.spark.sql.types._
    // writer-side stats first; only files without them open a footer
    // (warmed in PARALLEL through collectStats' pool)
    collectStats(files.filterNot(knownStats.containsKey))
    val sts = files.map(f => Option(knownStats.get(f)).orElse(footerFileStats(f)))
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
                if (InProbes.utf8Cmp(bytes(a), bytes(b)) < 0) a else b)
              val mx = xs.map(_.max).reduce((a, b) =>
                if (InProbes.utf8Cmp(bytes(a), bytes(b)) < 0) b else a)
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

  /** Scan `files` of `snap` as ONE native DSv2 relation over
    * [[LakehouseBatchScan]] (the user read path's scan, handed the
    * already-resolved snapshot — no manifest re-listing). The frame
    * carries the snapshot schema in declared order, every column
    * nullable: columns a file predates read NULL, rename eras and
    * reborn floors resolve by identity, hive path values cast to the
    * declared types. `masked = false` ignores the snapshot's MoR
    * tombstones (the rows as stored — key probes, sidecar builds, the
    * change feed's file diff). Filters and projections applied to the
    * frame push into the scan (file skipping, column pruning).
    */
  private[lakehouse] def scanFiles(snap: Snapshot, files: Seq[String],
      masked: Boolean = true): DataFrame =
    org.apache.spark.sql.GraftDatasetAccess.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        new LakehouseInternalTable((this, snap), files, masked), None, None))

  /** Structural type equality ignoring nullability at every level (the
    * contract Spark's private `DataType.sameType` provides): schema
    * checks must reject genuine type drift but never a bare
    * containsNull difference.
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

  /** Write `df` verbatim as parquet under `data/s<id>[-suffix]-w<nonce>/`
    * through the DSv2 executor writers ([[LakehouseStagingTable]]),
    * returning the root-relative paths of the files produced (hive
    * `col=value` / `col_bucket=` sub-dirs when `partitionCols` is set).
    * `head` stamps the field ids and sizes the bins — a branch write's
    * is the BRANCH head.
    */
  private def writeDataFiles(
      df0: DataFrame, id: Long, suffix: String = "",
      partitionCols: Seq[String] = Nil,
      head: Option[Snapshot] = currentSnapshot()): Seq[String] =
    stageWrite(df0, Dsv2CommitMode.Stage(this, id, suffix, partitionCols, head)).data

  /** Run `stage` over `df0` and return what its writers produced.
    * Optimize-write clusters the batch on its dir columns, and each
    * task sorts by them, so it keeps one file open at a time.
    */
  private def stageWrite(df0: DataFrame, stage: Dsv2CommitMode.Stage): WrittenFiles = {
    val dirCols = stage.partitionCols.map {
      case LakehouseTable.BucketSpecRe(n, c) => pmod(xxhash64(col(c)), lit(n.toInt))
      case c => col(c)
    }
    val clustered = if (!optimizeWrite || dirCols.isEmpty) df0 else df0.repartition(dirCols: _*)
    // sorted by every dir, bucket ids included (which the write's
    // required ordering cannot name without a catalog), each task meets
    // one dir's rows together and keeps one file open
    val df = if (dirCols.isEmpty) clustered else clustered.sortWithinPartitions(dirCols: _*)
    org.apache.spark.sql.GraftDatasetAccess.ofRows(spark,
      org.apache.spark.sql.catalyst.plans.logical.AppendData.byPosition(
        org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
          new LakehouseStagingTable(df.schema, stage), None, None),
        df.queryExecution.analyzed))
    stage.written
  }
}

object LakehouseTable {
  /** One task of [[LakehouseTable.rewriteTouched]]: for each whole file
    * (its manifest path, key-column read, masked full read), test its
    * keys against `probe`; a file holding a batch key is replaced by the
    * rows its masked read keeps, projected by `project`.
    */
  private[lakehouse] def rewriteTask(factory: LakehouseWriterFactory, probe: MorMaskSpec,
      project: Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]],
      files: Seq[(String, LakehouseGroupedPartition, LakehouseGroupedPartition)])
      : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    val ctx = org.apache.spark.TaskContext.get()
    val writer = factory.createWriter(ctx.partitionId(), ctx.taskAttemptId())
    val readers = new LakehouseReaderFactory
    val proj = project.map(org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(_))
    try {
      files.foreach { case (rel, keyPart, rowPart) =>
        val keys = readers.rowsOf(keyPart)
        val hit =
          try Iterator.continually(keys.next()).takeWhile(identity)
            .exists(_ => LakehouseMor.holds(keys.get(), probe))
          finally keys.close()
        if (hit) {
          writer.replaced(rel)
          val rows = readers.rowsOf(rowPart)
          try while (rows.next()) {
            val r = rows.get()
            writer.write(proj.fold(r)(_(r)))
          } finally rows.close()
        }
      }
      writer.commit()
    } catch {
      case e: Throwable =>
        writer.abort()
        throw e
    } finally writer.close()
  }

  /** The claim dir of a write of version `id`: `s<id>[-tag]-w<nonce>`.
    * The digits record the origin ([[originOf]] reads only them; they
    * stay correct under an append rebase, which masks nothing), and the
    * per-write nonce makes the dir unique to THIS write attempt, so two
    * claimants of one id never clobber each other's uncommitted files.
    */
  private[lakehouse] def claimDirName(id: Long, tag: String): String =
    (if (tag.isEmpty) s"s$id" else s"s$id-$tag") +
      s"-w${java.util.UUID.randomUUID().toString.take(8)}"

  /** A parquet footer → FileStats: row count, per-column min/max and
    * null counts of every top-level primitive column, the field-id
    * stamp verdict, and `bytes`. Pure: the driver's footer read and the
    * executor writer (over the footer it just closed) share it. Column
    * keys go through `key` (the table's name-resolution key).
    */
  private[lakehouse] def footerStats(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      bytes: Option[Long], key: String => String): FileStats = {
    val rows = footer.getBlocks.asScala.map(_.getRowCount).sum
    val logicalString = footer.getFileMetaData.getSchema.getFields.asScala
      .filter(f => f.isPrimitive && f.getLogicalTypeAnnotation.isInstanceOf[
        org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation])
      .map(f => key(f.getName)).toSet
    val byCol = footer.getBlocks.asScala.flatMap(_.getColumns.asScala)
      .filter(_.getPath.size == 1)
      .groupBy(ch => key(ch.getPath.toDotString))
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
    // fully-stamped = every top-level column carries a field id
    // (a column THIS commit introduced stays unstamped, so such
    // files route name-based until their next rewrite)
    val fields = footer.getFileMetaData.getSchema.getFields.asScala
    val stamped = fields.nonEmpty && fields.forall(_.getId != null)
    FileStats(rows, cols, bytes, fids = Some(stamped))
  }

  /** A footer as a READER of its file sees it: the writer's in-memory
    * footer run through the thrift round trip every footer read takes
    * (the reader normalizes float/double bounds and drops statistics it
    * cannot trust), so writer-side stats equal footer-read ones.
    */
  private[lakehouse] def footerAsRead(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val conv = new org.apache.parquet.format.converter.ParquetMetadataConverter()
    conv.fromParquetMetadata(conv.toParquetMetadata(
      org.apache.parquet.hadoop.ParquetFileWriter.CURRENT_VERSION, footer))
  }

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

}
