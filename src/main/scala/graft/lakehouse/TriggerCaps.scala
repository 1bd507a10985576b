package graft.lakehouse

/** Admission control for the lakehouse streaming sources — the change
  * feed ([[ChangeFeedSource]]) and `readStream.table`
  * ([[LakehouseMicroBatchStream]]) share this one policy:
  *
  *  - `maxSnapshotsPerTrigger` clamps each micro-batch to N snapshots
  *    past the committed offset, so a long-downtime backlog drains as
  *    MANY checkpointed batches, and a cold start bootstraps from the
  *    EARLIEST retained snapshot's state and drains forward N at a time;
  *  - `maxFilesPerTrigger` bounds the BOOTSTRAP: the bootstrap
  *    snapshot's file list (immutable, manifest-ordered) drains as
  *    ⌈files/M⌉ batches through mid-bootstrap file cursors;
  *  - `maxBytesPerTrigger` is the byte form, answered from
  *    manifest-recorded file sizes (zero I/O): bootstrap slices stop
  *    growing at B bytes, incremental ranges stop where the cumulative
  *    ADDED-file bytes cross it.
  *
  * The caps compose (whichever binds first), and each batch makes at
  * least one file / one snapshot of progress so a stream can't stall.
  * Every batch stays a pure function of its pinned range.
  */
private[lakehouse] final case class TriggerCaps(maxSnapshots: Option[Long],
    maxFiles: Option[Long], maxBytes: Option[Long]) {
  require(maxSnapshots.forall(_ > 0),
    s"maxSnapshotsPerTrigger must be positive, got $maxSnapshots")
  require(maxFiles.forall(_ > 0),
    s"maxFilesPerTrigger must be positive, got $maxFiles")
  require(maxBytes.forall(_ > 0),
    s"maxBytesPerTrigger must be positive, got $maxBytes")

  def isEmpty: Boolean = maxSnapshots.isEmpty && maxFiles.isEmpty && maxBytes.isEmpty

  /** Bootstrap cursor advance from file index `from` of snapshot `s`:
    * take files while BOTH the file-count and byte caps hold, always
    * at least one.
    */
  def sliceEnd(table: LakehouseTable, s: Long, from: Long): Long = {
    val snap = table.snapshotOrThrow(s)
    val countCap = maxFiles.getOrElse(Long.MaxValue)
    val bytesCap = maxBytes.getOrElse(Long.MaxValue)
    var i = from
    var acc = 0L
    var cont = true
    while (cont && i < snap.files.size && (i - from) < countCap) {
      val sz = table.fileSizeOf(snap, snap.files(i.toInt))
      if (i > from && acc + sz > bytesCap) cont = false
      else { acc += sz; i += 1 }
    }
    i
  }

  /** Incremental range end past committed snapshot `s` toward `head`:
    * the snapshot-count cap, intersected with the furthest MAIN
    * snapshot whose cumulative added-file bytes (each snapshot's files
    * minus its parent's) stay within the byte cap.
    */
  def incrementalEnd(table: LakehouseTable, s: Long, head: Long): Long = {
    val bySnaps = maxSnapshots.fold(head)(n => math.min(head, s + n))
    maxBytes match {
      case Some(cap) if bySnaps > s =>
        val snaps = table.listSnapshots()
        val byId = snaps.map(x => x.snapshotId -> x).toMap
        var e = s
        var acc = 0L
        snaps.filter(x => x.snapshotId > s && x.snapshotId <= bySnaps &&
            x.branch.isEmpty) // branch commits are invisible until published
          .takeWhile { sn =>
            val pf = sn.parentId.flatMap(byId.get).map(_.files.toSet)
              .getOrElse(Set.empty[String])
            val bytes = sn.files.filterNot(pf).map(f => table.fileSizeOf(sn, f)).sum
            val fits = e == s || acc + bytes <= cap
            if (fits) { acc += bytes; e = sn.snapshotId }
            fits
          }
        e
      case _ => bySnaps
    }
  }

  /** The bootstrap snapshot for a cold start toward `head`: the
    * earliest retained snapshot clamped forward under a snapshot cap
    * (bounded cold start), the head state otherwise. A bootstrap end
    * rounds DOWN to a MAIN snapshot — it must never pin an unpublished
    * branch commit (falling to the earliest main snapshot when every id
    * at or below the candidate is branch-side).
    */
  def bootSnapshot(table: LakehouseTable, head: Long): Long = maxSnapshots match {
    case Some(n) =>
      val snaps = table.listSnapshots()
      val cand = math.min(head, snaps.headOption.map(_.snapshotId - 1).getOrElse(head) + n)
      val mains = snaps.filter(_.branch.isEmpty)
      mains.filter(_.snapshotId <= cand).lastOption.getOrElse(mains.head).snapshotId
    case None => head
  }
}

private[lakehouse] object TriggerCaps {
  def of(options: Map[String, String]): TriggerCaps = TriggerCaps(
    LakehouseSource.longOptOf(options, "maxSnapshotsPerTrigger"),
    LakehouseSource.longOptOf(options, "maxFilesPerTrigger"),
    LakehouseSource.longOptOf(options, "maxBytesPerTrigger"))
}
