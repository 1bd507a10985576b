package graft.lakehouse

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Snapshot TAGS (named refs): `setTag`/`dropTag`/`tags`, resolution
  * via `VERSION AS OF '<tag>'`, the `$refs` registry, the SQL CALL
  * face, and the retention contract — a tagged snapshot (and its
  * files) survives `expire_snapshots` until the tag drops. The
  * reproducible-corpus-version primitive: tag what a training run
  * consumed, and that exact table state stays addressable.
  */
class SnapshotTagSpec extends SparkSpec {
  import spark.implicits._

  test("set / resolve / re-point / drop; unknown tags list what exists") {
    val t = new LakehouseTable(spark, tmpDir("tag-basic"))
    t.append(Seq((1L, "a")).toDF("k", "v"))
    val s1 = t.currentSnapshot().get.snapshotId
    t.append(Seq((2L, "b")).toDF("k", "v"))
    t.setTag("corpus-v1", s1)
    assert(t.tags.keySet === Set("corpus-v1"))
    assert(t.snapshotForTag("corpus-v1").snapshotId === s1)
    // tags are movable pointers: re-point replaces
    t.setTag("corpus-v1", t.currentSnapshot().get.snapshotId)
    assert(t.snapshotForTag("corpus-v1").snapshotId !== s1)
    val e = intercept[IllegalArgumentException](t.snapshotForTag("nope"))
    assert(e.getMessage.contains("corpus-v1"), e.getMessage)
    assert(t.dropTag("corpus-v1") && !t.dropTag("corpus-v1"))
    // hygiene: a tag name is a filename
    intercept[IllegalArgumentException](t.setTag("../escape", 1L))
    intercept[IllegalArgumentException](t.setTag(".hidden", 1L))
    // tagging a snapshot that does not exist refuses
    intercept[IllegalArgumentException](t.setTag("ok", 999L))
  }

  test("a tagged snapshot and its files survive retention until the tag drops") {
    val t = new LakehouseTable(spark, tmpDir("tag-retain"))
    t.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
    val s1 = t.currentSnapshot().get.snapshotId
    t.overwrite(Seq((9L, "z")).toDF("k", "v").coalesce(1)) // s1's files now unreferenced by head
    t.setTag("pinned", s1)
    Thread.sleep(15)
    val cutoff = System.currentTimeMillis() + 60000
    t.expireSnapshotsOlderThan(cutoff)
    // the tagged snapshot is still addressable WITH its data
    assert(t.scanAtSnapshot(s1).as[(Long, String)].collect().toSet === Set((1L, "a")),
      "tagged snapshot must survive expiry with its files")
    assert(t.snapshotForTag("pinned").snapshotId === s1)
    // drop the tag → the next expiry takes it
    t.dropTag("pinned")
    t.expireSnapshotsOlderThan(System.currentTimeMillis() + 60000)
    intercept[IllegalArgumentException](t.scanAtSnapshot(s1))
  }

  test("path face: .option(snapshotTag) pins the tagged snapshot like VERSION AS OF") {
    val t = new LakehouseTable(spark, tmpDir("tag-path"))
    t.append(Seq((1L, "a")).toDF("k", "v"))
    t.setTag("v1", t.currentSnapshot().get.snapshotId)
    t.append(Seq((2L, "b")).toDF("k", "v"))
    val pinned = spark.read.format("graft-lakehouse")
      .option("snapshotTag", "v1").load(t.root)
    assert(pinned.as[(Long, String)].collect().toSet === Set((1L, "a")))
    // the pin holds across actions even if the tag MOVES mid-query
    t.setTag("v1", t.currentSnapshot().get.snapshotId)
    assert(pinned.count() === 1L, "a loaded frame keeps its resolved pin")
    intercept[IllegalArgumentException](
      spark.read.format("graft-lakehouse")
        .option("snapshotTag", "missing").load(t.root))
  }

  test("SQL face: CALL set_tag (default = head) / drop_tag, VERSION AS OF '<tag>', $refs") {
    val wh = tmpDir("tag-wh")
    spark.conf.set("spark.sql.catalog.tagcat", classOf[LakehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.tagcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tagcat.db")
    spark.sql("DROP TABLE IF EXISTS tagcat.db.t")
    spark.sql("CREATE TABLE tagcat.db.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO tagcat.db.t VALUES (1, 'a')")
    val tagged = spark.sql(
      "CALL tagcat.system.set_tag(table => 'db.t', tag => 'corpus-v1')")
      .head.getLong(0)
    spark.sql("INSERT INTO tagcat.db.t VALUES (2, 'b')")
    // head moved on; the tag still reads the pinned state
    assert(spark.sql("SELECT count(*) FROM tagcat.db.t").head.getLong(0) === 2L)
    assert(spark.sql("SELECT k, v FROM tagcat.db.t VERSION AS OF 'corpus-v1'")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet === Set((1L, "a")))
    val refs = spark.sql("SELECT tag, snapshot_id FROM tagcat.db.`t$refs`").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(refs === Seq(("corpus-v1", tagged)))
    assert(spark.sql("CALL tagcat.system.drop_tag(table => 'db.t', tag => 'corpus-v1')")
      .head.getBoolean(0))
    val e = intercept[Exception](
      spark.sql("SELECT * FROM tagcat.db.t VERSION AS OF 'corpus-v1'").collect())
    assert(e.getMessage.contains("not found"), e.getMessage)
    spark.sql("DROP TABLE tagcat.db.t")
  }

  test("an ALL-DIGIT tag resolves through VERSION AS OF when no such snapshot id exists") {
    // '20260816' Long-parses, so snapshot-id resolution is tried first —
    // but when the table has no snapshot 20260816 the tag namespace must
    // answer, or date-shaped tags are reachable from .option(snapshotTag)
    // yet never from SQL (ADVICE r12)
    val wh = tmpDir("tag-digit-wh")
    spark.conf.set("spark.sql.catalog.tagdig", classOf[LakehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.tagdig.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tagdig.db")
    spark.sql("CREATE TABLE tagdig.db.t (k BIGINT)")
    spark.sql("INSERT INTO tagdig.db.t VALUES (1)")
    spark.sql("CALL tagdig.system.set_tag(table => 'db.t', tag => '20260816')")
    spark.sql("INSERT INTO tagdig.db.t VALUES (2)")
    assert(spark.sql("SELECT count(*) FROM tagdig.db.t VERSION AS OF '20260816'")
      .head.getLong(0) === 1L)
    // a REAL snapshot id still wins over any same-spelled tag lookup
    val headId = spark.sql("SELECT max(snapshot_id) FROM tagdig.db.`t$snapshots`")
      .head.getLong(0)
    assert(spark.sql(s"SELECT count(*) FROM tagdig.db.t VERSION AS OF $headId")
      .head.getLong(0) === 2L)
    // neither a snapshot nor a tag: the error says so
    val e = intercept[Exception](
      spark.sql("SELECT * FROM tagdig.db.t VERSION AS OF '99990101'").collect())
    assert(e.getMessage.contains("neither a snapshot id"), e.getMessage)
    spark.sql("DROP TABLE tagdig.db.t")
  }
  test("tag-vs-expiry arbitration: a tag landing in the sweep window survives; late tags fail loudly") {
    val root = tmpDir("tag-arb")
    val t = new LakehouseTable(spark, root)
    t.append(Seq((1L, "a")).toDF("k", "v").coalesce(1)) // snap 1 (old)
    Thread.sleep(15)
    t.append(Seq((2L, "b")).toDF("k", "v").coalesce(1)) // snap 2 (current)
    val other = new LakehouseTable(spark, root) // the "remote" writer
    // 1. the round-12 race window: the tag lands AFTER the sweep
    //    started but BEFORE its ref listing — the listing must see it
    //    and keep the snapshot
    t.onBeforeExpireSweep = () => {
      other.setTag("pinned", 1L)
      t.onBeforeExpireSweep = () => ()
    }
    try t.expireSnapshotsOlderThan(System.currentTimeMillis() + 3600000L)
    finally t.onBeforeExpireSweep = () => ()
    assert(t.snapshotForTag("pinned").snapshotId === 1L)
    assert(t.listSnapshots().map(_.snapshotId).contains(1L),
      "the racing tag must protect its snapshot from the same sweep")
    // 2. the other linearization: once the sweep deleted the manifest,
    //    a setTag against it fails LOUDLY and leaves no ref
    t.dropTag("pinned")
    t.expireSnapshotsOlderThan(System.currentTimeMillis() + 3600000L)
    assert(t.listSnapshots().map(_.snapshotId) === Seq(2L))
    val e = intercept[IllegalArgumentException](other.setTag("late", 1L))
    assert(e.getMessage.contains("not found"), e.getMessage)
    assert(!t.tags.contains("late"), "a failed setTag must leave no ref")
  }

  test("max-ref-age: an aged tag drops at the next sweep and its snapshot expires with it") {
    val t = new LakehouseTable(spark, tmpDir("tag-age"))
    t.append(Seq((1L, "a")).toDF("k", "v").coalesce(1)) // snap 1
    Thread.sleep(15)
    t.append(Seq((2L, "b")).toDF("k", "v").coalesce(1)) // snap 2 (current)
    t.setTag("ephemeral", 1L, maxRefAgeMs = Some(40L))
    t.setTag("forever", 1L) // no age: lives until dropped
    // $refs surfaces the age and the computed expiry instant
    val wh = tmpDir("tag-age-wh") // path-less: use the programmatic face
    assert(wh.nonEmpty)
    assert(t.tagRefs("ephemeral").maxRefAgeMs === Some(40L))
    assert(t.tagRefs("forever").maxRefAgeMs === None)
    // young enough: the first sweep keeps both refs and the snapshot
    t.expireSnapshotsOlderThan(System.currentTimeMillis() + 3600000L)
    assert(t.tags.keySet === Set("ephemeral", "forever"))
    assert(t.listSnapshots().map(_.snapshotId).contains(1L))
    // past its age: the sweep drops the ref; 'forever' still pins
    Thread.sleep(60)
    t.expireSnapshotsOlderThan(System.currentTimeMillis() + 3600000L)
    assert(t.tags.keySet === Set("forever"),
      "an aged ref must drop at the sweep")
    assert(t.listSnapshots().map(_.snapshotId).contains(1L),
      "the un-aged tag still pins the snapshot")
    // drop the survivor: the next sweep takes the snapshot too
    t.dropTag("forever")
    t.expireSnapshotsOlderThan(System.currentTimeMillis() + 3600000L)
    assert(t.listSnapshots().map(_.snapshotId) === Seq(2L))
    // zero/negative ages refuse
    intercept[IllegalArgumentException](t.setTag("bad", 2L, Some(0L)))
  }

  test("max-ref-age drop keeps a tag re-pointed after the sweep read it") {
    val root = tmpDir("tag-age-repoint")
    val t = new LakehouseTable(spark, root)
    t.append(Seq((1L, "a")).toDF("k", "v").coalesce(1)) // snap 1
    Thread.sleep(15)
    t.append(Seq((2L, "b")).toDF("k", "v").coalesce(1)) // snap 2 (current)
    t.setTag("ephemeral", 1L, maxRefAgeMs = Some(40L))
    Thread.sleep(60)
    // the sweep has read the aged ref; another handle re-points the
    // name (no age) before the sweep takes the file
    val other = new LakehouseTable(spark, root)
    t.onPhase = {
      case "ref.take" => t.onPhase = _ => (); other.setTag("ephemeral", 2L)
      case _ => ()
    }
    try t.expireSnapshotsOlderThan(System.currentTimeMillis() + 3600000L)
    finally t.onPhase = _ => ()
    val r = t.tagRefs.get("ephemeral")
    assert(r.map(x => (x.snapshot, x.maxRefAgeMs)) === Some((2L, None)),
      s"the re-pointed tag must survive the aged drop: $r")
    assert(t.listSnapshots().map(_.snapshotId) === Seq(2L),
      "the aged ref's old snapshot expires with its pin")
    val refDir = java.nio.file.Paths.get(root, "_refs")
    assert(graft.Fs.listAll(refDir).map(_.getFileName.toString)
      .filter(_.startsWith(".")).isEmpty, "no file may stay aside")
  }

  test("the ref handshake at each step: between the sweep's listings a tag pins, inside the mark window it refuses, before its write it withdraws") {
    def twoSnapshots(prefix: String) = {
      val root = tmpDir(prefix)
      val t = new LakehouseTable(spark, root)
      t.append(Seq((1L, "a")).toDF("k", "v").coalesce(1)) // snap 1 (old)
      Thread.sleep(15)
      t.append(Seq((2L, "b")).toDF("k", "v").coalesce(1)) // snap 2 (current)
      (t, new LakehouseTable(spark, root))
    }
    def at(t: LakehouseTable, phase: String)(act: => Unit): Unit =
      t.onPhase = p => if (p == phase) { t.onPhase = _ => (); act }
    val future = System.currentTimeMillis() + 3600000L
    // 1. the tag lands after the sweep's first listing, before its
    //    marks: the second listing sees it and the snapshot survives
    val (t1, o1) = twoSnapshots("tag-hs-listed")
    at(t1, "expire.listed") { o1.setTag("mid", 1L) }
    t1.expireSnapshotsOlderThan(future)
    assert(t1.snapshotForTag("mid").snapshotId === 1L)
    assert(t1.listSnapshots().map(_.snapshotId) === Seq(1L, 2L))
    //    and the sweep that kept it cleared its own mark: the snapshot
    //    still takes new refs
    o1.setTag("again", 1L)
    assert(t1.snapshotForTag("again").snapshotId === 1L)
    // 2. the tag lands inside the mark-then-list window: it refuses
    //    as being expired, leaves no ref, and the sweep deletes
    val (t2, o2) = twoSnapshots("tag-hs-marked")
    var late: Option[Throwable] = None
    at(t2, "expire.marked") { late = scala.util.Try(o2.setTag("late", 1L)).failed.toOption }
    t2.expireSnapshotsOlderThan(future)
    assert(late.exists(_.getMessage.contains("being expired")), s"got $late")
    assert(t2.listSnapshots().map(_.snapshotId) === Seq(2L))
    assert(!t2.tags.contains("late"), "a refused setTag must leave no ref")
    // 3. a whole sweep runs between a setTag's pre-check and its write:
    //    the post-write check finds the manifest gone and withdraws
    val (t3, o3) = twoSnapshots("tag-hs-checked")
    at(o3, "ref.checked") { t3.expireSnapshotsOlderThan(future) }
    val e = intercept[IllegalArgumentException](o3.setTag("racer", 1L))
    assert(e.getMessage.contains("not found"), e.getMessage)
    assert(!t3.tags.contains("racer"), "a withdrawn tag must leave no ref")
    assert(t3.listSnapshots().map(_.snapshotId) === Seq(2L))
  }

  test("a re-point refused as expiring keeps the tag's previous target") {
    val root = tmpDir("tag-repoint-refused")
    val t = new LakehouseTable(spark, root)
    t.append(Seq((1L, "a")).toDF("k", "v").coalesce(1)) // snap 1 (old)
    Thread.sleep(15)
    t.append(Seq((2L, "b")).toDF("k", "v").coalesce(1)) // snap 2 (current)
    t.setTag("rel", 2L)
    val other = new LakehouseTable(spark, root)
    def at(phase: String)(act: => Unit): Unit =
      other.onPhase = p => if (p == phase) { other.onPhase = _ => (); act }
    // a sweep marks snapshot 1 between the pre-check and the write
    val mark = java.nio.file.Paths.get(root, "_refs", "expiring", "1.other-sweep")
    at("ref.checked") {
      java.nio.file.Files.createDirectories(mark.getParent)
      java.nio.file.Files.createFile(mark)
    }
    val e1 = intercept[IllegalStateException](other.setTag("rel", 1L))
    assert(e1.getMessage.contains("being expired"), e1.getMessage)
    assert(t.snapshotForTag("rel").snapshotId === 2L, "the old target must stand")
    // a whole sweep deletes snapshot 1 between the pre-check and the write
    java.nio.file.Files.delete(mark)
    at("ref.checked") { t.expireSnapshotsOlderThan(System.currentTimeMillis() + 3600000L) }
    val e2 = intercept[IllegalArgumentException](other.setTag("rel", 1L))
    assert(e2.getMessage.contains("not found"), e2.getMessage)
    assert(t.snapshotForTag("rel").snapshotId === 2L, "the old target must stand")
    assert(t.listSnapshots().map(_.snapshotId) === Seq(2L))
    val refDir = java.nio.file.Paths.get(root, "_refs")
    assert(graft.Fs.listAll(refDir).map(_.getFileName.toString)
      .filter(_.startsWith(".")).isEmpty, "no file may stay aside")
  }

  test("a crashed sweep's mark refuses new refs at once; the next sweep removes snapshot and mark") {
    val root = tmpDir("tag-crashed-sweep")
    val t = new LakehouseTable(spark, root)
    t.append(Seq((1L, "a")).toDF("k", "v").coalesce(1)) // snap 1 (old, untagged)
    Thread.sleep(15)
    t.append(Seq((2L, "b")).toDF("k", "v").coalesce(1)) // snap 2 (current)
    // what a sweep that died right after marking leaves behind
    val mark = java.nio.file.Paths.get(root, "_refs", "expiring", "1.dead-sweep")
    java.nio.file.Files.createDirectories(mark.getParent)
    java.nio.file.Files.createFile(mark)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](t.setTag("x", 1L))
    val waitedMs = (System.nanoTime() - t0) / 1000000
    assert(e.getMessage.contains("being expired"), e.getMessage)
    assert(waitedMs < 2000, s"a marked snapshot must refuse at once, waited $waitedMs ms")
    assert(!t.tags.contains("x"))
    val eb = intercept[IllegalStateException](t.forkBranch("b", Some(1L)))
    assert(eb.getMessage.contains("being expired"), eb.getMessage)
    assert(t.branches.isEmpty)
    intercept[IllegalStateException](t.cloneAtSnapshot(tmpDir("tag-crashed-clone"), 1L))
    assert(t.tags.isEmpty, "a refused clone leaves no pin")
    // unmarked snapshots still take refs
    t.setTag("head", 2L)
    t.dropTag("head")
    t.expireSnapshotsOlderThan(System.currentTimeMillis() + 3600000L)
    assert(t.listSnapshots().map(_.snapshotId) === Seq(2L))
    assert(!java.nio.file.Files.exists(mark), "the sweep deletes the mark after the manifest")
  }
}
