package graft.lakehouse

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** BRANCH refs — write-audit-publish (the Iceberg WAP shape a curation
  * pipeline wants before promoting a corpus version): fork a branch
  * from main, append candidate data to it (ordinary snapshots, global
  * version ids, invisible to main), audit the branch head with real
  * queries, then fast-forward publish main onto the audited state —
  * or abandon the branch and let retention take its snapshots.
  */
class BranchSpec extends SparkSpec {
  import spark.implicits._

  test("write/audit/publish: branch commits are invisible to main until the fast-forward") {
    val t = new LakehouseTable(spark, tmpDir("br-wap"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)) // main snap 1
    t.forkBranch("audit-1")
    assert(t.branches("audit-1").fork === 1L)
    // WRITE: two branch appends (global ids 2 and 3, branch-side)
    t.appendToBranch(Seq((10L, "x")).toDF("k", "v").coalesce(1), "audit-1")
    t.appendToBranch(Seq((11L, "y")).toDF("k", "v").coalesce(1), "audit-1")
    // main sees NOTHING of the branch — head, reads, time travel
    assert(t.currentSnapshot().get.snapshotId === 1L)
    assert(t.read().as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    assert(spark.read.format("graft-lakehouse").load(t.root).count() === 2L)
    // AUDIT: the branch head reads the full candidate state
    val audit = spark.read.format("graft-lakehouse")
      .option("snapshotBranch", "audit-1").load(t.root)
    assert(audit.as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (10L, "x"), (11L, "y")))
    assert(t.branchHead("audit-1").snapshotId === 3L)
    // PUBLISH: one main commit adopts the branch head's state (files
    // by reference — nothing rewrites), the ref drops
    val pub = t.publishBranch("audit-1")
    assert(pub.operation === "publish" && pub.parentId === Some(1L))
    assert(t.currentSnapshot().get.snapshotId === pub.snapshotId)
    assert(t.read().as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (10L, "x"), (11L, "y")))
    assert(t.branches.isEmpty, "publish drops the ref")
    intercept[IllegalArgumentException](t.branchHead("audit-1"))
  }

  test("rebase publish: a pure-append branch lands on a main that advanced past the fork") {
    val t = new LakehouseTable(spark, tmpDir("br-rebase"))
    t.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
    t.forkBranch("wap")
    t.appendToBranch(Seq((10L, "x")).toDF("k", "v").coalesce(1), "wap")
    // main moves past the fork with an unrelated append mid-audit —
    // the long-audit-on-a-busy-table shape that used to starve
    t.append(Seq((2L, "b")).toDF("k", "v").coalesce(1))
    // still auditable; expiry keeps head + fork while the ref lives
    t.expireSnapshotsOlderThan(System.currentTimeMillis() + 3600000L)
    assert(spark.read.format("graft-lakehouse")
      .option("snapshotBranch", "wap").load(t.root).count() === 2L)
    val pub = t.publishBranch("wap")
    assert(pub.operation === "publish", "rebase lands as a publish commit")
    assert(t.read().as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (10L, "x")),
      "main's mid-audit append AND the branch rows both survive the rebase")
    assert(t.branches.isEmpty, "publish drops the ref")
  }

  test("rebase publish refuses GENUINE conflicts: main deletes, schema change, keyed branch writes") {
    // main landed MoR deletes since the fork → refuse (a tombstone
    // newer than the branch's appends would mask them)
    val t = new LakehouseTable(spark, tmpDir("br-conflict"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    t.forkBranch("wap")
    t.appendToBranch(Seq((10L, "x")).toDF("k", "v").coalesce(1), "wap")
    t.applyChanges(Seq((2L, "b", "delete")).toDF("k", "v", "_change"),
      Seq("k"), mergeOnRead = true)
    val e1 = intercept[IllegalStateException](t.publishBranch("wap"))
    assert(e1.getMessage.contains("merge-on-read deletes"), e1.getMessage)
    assert(t.dropBranch("wap"))
    // main changed the SCHEMA since the fork → refuse (era resolution)
    val t2 = new LakehouseTable(spark, tmpDir("br-conflict2"))
    t2.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
    t2.forkBranch("wap")
    t2.appendToBranch(Seq((10L, "x")).toDF("k", "v").coalesce(1), "wap")
    t2.renameColumn("v", "label")
    val e2 = intercept[IllegalStateException](t2.publishBranch("wap"))
    assert(e2.getMessage.contains("schema changed") ||
      e2.getMessage.contains("registries changed"), e2.getMessage)
    // ABANDON: the ref drops; the next sweep takes the branch snapshots
    assert(t2.dropBranch("wap") && !t2.dropBranch("wap"))
    Thread.sleep(15)
    t2.expireSnapshotsOlderThan(System.currentTimeMillis() + 3600000L)
    assert(t2.listSnapshots().forall(_.branch.isEmpty),
      "an abandoned branch's snapshots age out of retention")
  }

  test("a main stream never delivers branch commits; TIMESTAMP AS OF skips them") {
    val t = new LakehouseTable(spark, tmpDir("br-stream"))
    t.append(Seq((1L, "a")).toDF("k", "v").coalesce(1)) // main 1
    t.forkBranch("wap")
    t.appendToBranch(Seq((50L, "BR")).toDF("k", "v").coalesce(1), "wap") // id 2, branch
    t.append(Seq((2L, "b")).toDF("k", "v").coalesce(1)) // main 3
    Thread.sleep(15)
    // the main timeline's AS OF resolution skips the branch commit
    assert(t.snapshotAsOf(System.currentTimeMillis()).snapshotId === 3L)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = spark.readStream.format("graft-lakehouse").load(t.root)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ks = df.select("k").collect().map(_.getLong(0)).toSet
        batches.synchronized { if (ks.nonEmpty) batches += ks }
        ()
      }
      .option("checkpointLocation", tmpDir("br-stream-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    assert(batches.flatten.toSet === Set(1L, 2L),
      s"the main stream must never deliver unpublished branch rows: $batches")
    // rollback refuses branch targets
    val e = intercept[IllegalArgumentException](t.rollbackToSnapshot(2L))
    assert(e.getMessage.contains("branch"), e.getMessage)
  }

  test("SQL face: CALL fork_branch / publish_branch, VERSION AS OF '<branch>', $refs kinds") {
    val wh = tmpDir("br-wh")
    spark.conf.set("spark.sql.catalog.brcat", classOf[LakehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.brcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS brcat.db")
    spark.sql("DROP TABLE IF EXISTS brcat.db.t")
    spark.sql("CREATE TABLE brcat.db.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO brcat.db.t VALUES (1, 'a')")
    assert(spark.sql(
      "CALL brcat.system.fork_branch(table => 'db.t', branch => 'wap')")
      .head.getLong(0) === 2L) // CREATE=1, INSERT=2
    val t = new LakehouseTable(spark,
      java.nio.file.Paths.get(wh, "db", "t").toString)
    t.appendToBranch(Seq((10L, "x")).toDF("k", "v").coalesce(1), "wap")
    // audit via SQL time travel by branch name
    assert(spark.sql("SELECT count(*) FROM brcat.db.t VERSION AS OF 'wap'")
      .head.getLong(0) === 2L)
    assert(spark.sql("SELECT count(*) FROM brcat.db.t").head.getLong(0) === 1L)
    val kinds = spark.sql("SELECT tag, kind FROM brcat.db.`t$refs`").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(kinds === Set(("wap", "branch")))
    assert(spark.sql("SELECT count(*) FROM brcat.db.`t$snapshots` WHERE branch = 'wap'")
      .head.getLong(0) === 1L)
    spark.sql("CALL brcat.system.publish_branch(table => 'db.t', branch => 'wap')")
    assert(spark.sql("SELECT count(*) FROM brcat.db.t").head.getLong(0) === 2L)
    assert(spark.sql("SELECT count(*) FROM brcat.db.`t$refs`").head.getLong(0) === 0L)
    // drop_branch on a fresh fork abandons it
    spark.sql("CALL brcat.system.fork_branch(table => 'db.t', branch => 'dead')")
    assert(spark.sql("CALL brcat.system.drop_branch(table => 'db.t', branch => 'dead')")
      .head.getBoolean(0))
    spark.sql("DROP TABLE brcat.db.t")
  }
  test("branches compose with MoR masks; a dropped branch name cannot be re-forked over unexpired snapshots") {
    val t = new LakehouseTable(spark, tmpDir("br-mor"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    t.applyChanges(Seq((2L, "b", "delete")).toDF("k", "v", "_change"),
      Seq("k"), mergeOnRead = true)
    t.forkBranch("wap")
    t.appendToBranch(Seq((10L, "x")).toDF("k", "v").coalesce(1), "wap")
    // the branch head carries the MAIN head's tombstones: the masked
    // row stays masked on the audit read
    assert(spark.read.format("graft-lakehouse")
      .option("snapshotBranch", "wap").load(t.root)
      .collect().map(_.getLong(0)).toSet === Set(1L, 10L))
    t.publishBranch("wap")
    assert(t.read().collect().map(_.getLong(0)).toSet === Set(1L, 10L))
    // IMMEDIATE name reuse (the fixed-WAP-name-per-run pattern): the
    // fresh incarnation epoch keys membership, so the dead lineage's
    // unexpired snapshots never resolve as the new branch's head
    t.forkBranch("ghost")
    t.appendToBranch(Seq((99L, "dead")).toDF("k", "v").coalesce(1), "ghost")
    t.dropBranch("ghost")
    t.forkBranch("ghost") // same name, zero expiry needed (ADVICE r13)
    assert(t.branchHead("ghost").snapshotId === t.currentSnapshot().get.snapshotId,
      "the re-forked branch heads at its fork, never the dead lineage")
    assert(spark.read.format("graft-lakehouse").option("snapshotBranch", "ghost")
      .load(t.root).collect().map(_.getLong(0)).toSet === Set(1L, 10L),
      "the dead incarnation's rows never surface through the reborn name")
    t.appendToBranch(Seq((77L, "new")).toDF("k", "v").coalesce(1), "ghost")
    assert(spark.read.format("graft-lakehouse").option("snapshotBranch", "ghost")
      .load(t.root).collect().map(_.getLong(0)).toSet === Set(1L, 10L, 77L))
  }

  test("the fixed-WAP-name loop: fork 'wap' -> write -> publish, repeated back-to-back") {
    val t = new LakehouseTable(spark, tmpDir("br-loop"))
    t.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
    (2 to 4).foreach { i =>
      t.forkBranch("wap")
      t.appendToBranch(Seq((i * 10L, s"r$i")).toDF("k", "v").coalesce(1), "wap")
      t.publishBranch("wap")
    }
    assert(t.read().collect().map(_.getLong(0)).toSet === Set(1L, 20L, 30L, 40L),
      "every run's rows publish; no run is blocked by the last run's markers")
  }

  test("publish is crash-atomic: a retry past a lost ref drop completes idempotently") {
    val t = new LakehouseTable(spark, tmpDir("br-crash"))
    t.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
    t.forkBranch("wap")
    t.appendToBranch(Seq((10L, "x")).toDF("k", "v").coalesce(1), "wap")
    // simulate the crash window between the publish commit and the ref
    // drop: stash the ref file, publish, restore the ref
    val refPath = java.nio.file.Paths.get(t.root, "_refs", "branches", "wap.json")
    val refBody = java.nio.file.Files.readString(refPath)
    val pub = t.publishBranch("wap")
    java.nio.file.Files.createDirectories(refPath.getParent)
    java.nio.file.Files.writeString(refPath, refBody) // "the drop was lost"
    assert(t.branches.contains("wap"))
    // retry finds its publishOf marker on main, completes the drop,
    // returns the published snapshot — never "re-fork and replay"
    val again = t.publishBranch("wap")
    assert(again.snapshotId === pub.snapshotId)
    assert(t.branches.isEmpty, "the retry completed the ref drop")
    assert(t.read().collect().map(_.getLong(0)).toSet === Set(1L, 10L))
  }

  test("df.write .option(branch): appends AND keyed writes land on the branch; overwrite refuses") {
    val t = new LakehouseTable(spark, tmpDir("br-write"))
    t.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
    t.forkBranch("wap")
    Seq((10L, "x")).toDF("k", "v").coalesce(1)
      .write.format("graft-lakehouse").mode("append")
      .option("branch", "wap").save(t.root)
    assert(t.read().collect().map(_.getLong(0)).toSet === Set(1L),
      "a branch write is invisible to main")
    assert(spark.read.format("graft-lakehouse").option("snapshotBranch", "wap")
      .load(t.root).collect().map(_.getLong(0)).toSet === Set(1L, 10L))
    // keyed upsert against the BRANCH head (the CDC-replicated-table
    // WAP shape): replaces (1,'a') in place, invisible to main
    Seq((1L, "A2"), (11L, "y")).toDF("k", "v").coalesce(1)
      .write.format("graft-lakehouse").mode("append")
      .option("branch", "wap").option("keys", "k").save(t.root)
    assert(spark.read.format("graft-lakehouse").option("snapshotBranch", "wap")
      .load(t.root).as[(Long, String)].collect().toSet ===
      Set((1L, "A2"), (10L, "x"), (11L, "y")))
    assert(t.read().as[(Long, String)].collect().toSet === Set((1L, "a")),
      "keyed branch writes stay invisible to main")
    // a change-feed batch CDC-applies on the branch (bare delete removes)
    Seq((10L, "x", "delete")).toDF("k", "v", "_change")
      .write.format("graft-lakehouse").mode("append")
      .option("branch", "wap").option("keys", "k").save(t.root)
    assert(spark.read.format("graft-lakehouse").option("snapshotBranch", "wap")
      .load(t.root).collect().map(_.getLong(0)).toSet === Set(1L, 11L))
    // overwrite still refuses (replacing a branch = re-forking)
    val e2 = intercept[Exception](
      Seq((11L, "y")).toDF("k", "v").write.format("graft-lakehouse")
        .mode("overwrite").option("branch", "wap").save(t.root))
    assert(e2.getMessage.contains("append/upsert"), e2.getMessage)
    // a branch that rewrote fork files publishes by fast-forward only
    t.publishBranch("wap")
    assert(t.read().as[(Long, String)].collect().toSet ===
      Set((1L, "A2"), (11L, "y")))
  }

  test("rebase guards are STATE-derived: expiry hiding a branch MoR apply's op tag cannot drop its tombstones") {
    val t = new LakehouseTable(spark, tmpDir("br-expired-mor"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)) // snap 1
    t.forkBranch("wap")
    // branch MoR apply: pure file-ADD + a tombstone (op 'apply')
    t.applyChangesToBranch(Seq((1L, "a", "delete")).toDF("k", "v", "_change"),
      Seq("k"), "wap", mergeOnRead = true) // snap 2
    t.appendToBranch(Seq((9L, "z")).toDF("k", "v").coalesce(1), "wap") // snap 3 (head)
    Thread.sleep(15)
    // retention expires the INTERMEDIATE branch snapshot — only the
    // head and the fork are pinned — hiding the 'apply' op evidence
    t.expireSnapshotsOlderThan(System.currentTimeMillis() + 3600000L)
    assert(!t.listSnapshots().exists(_.snapshotId == 2L),
      "the intermediate branch snapshot must expire for this probe")
    t.append(Seq((5L, "e")).toDF("k", "v").coalesce(1)) // main advances
    // the rebase must refuse off the STATE (the head carries tombstones
    // the fork lacks), never proceed and silently drop the branch delete
    val e = intercept[IllegalStateException](t.publishBranch("wap"))
    assert(e.getMessage.contains("merge-on-read deletes"), e.getMessage)
  }

  test("keyed branch writes + main advance = genuine conflict: publish refuses with the re-fork recipe") {
    val t = new LakehouseTable(spark, tmpDir("br-keyed-conflict"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    t.forkBranch("wap")
    t.upsertToBranch(Seq((1L, "A2")).toDF("k", "v").coalesce(1), Seq("k"), "wap")
    t.append(Seq((3L, "c")).toDF("k", "v").coalesce(1)) // main advances
    val e = intercept[IllegalStateException](t.publishBranch("wap"))
    assert(e.getMessage.contains("keyed writes"), e.getMessage)
    assert(e.getMessage.contains("re-fork"), e.getMessage)
  }

  test("racing branch writers rebase like main appends: both commits land, none lost") {
    val root = tmpDir("br-race")
    val a = new LakehouseTable(spark, root)
    a.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
    a.forkBranch("wap")
    val b = new LakehouseTable(spark, root) // a second handle = remote writer
    // inject B's branch append at exactly A's publish window: A loses
    // the put-if-absent link and must rebase onto B's branch head
    a.onBeforePublish = () => {
      a.onBeforePublish = () => ()
      b.appendToBranch(Seq((20L, "B")).toDF("k", "v").coalesce(1), "wap")
    }
    try a.appendToBranch(Seq((10L, "A")).toDF("k", "v").coalesce(1), "wap")
    finally a.onBeforePublish = () => ()
    assert(a.branchHead("wap").parentId.isDefined)
    assert(spark.read.format("graft-lakehouse").option("snapshotBranch", "wap")
      .load(root).collect().map(_.getLong(0)).toSet === Set(1L, 10L, 20L),
      "both racing branch appends must land")
    // the lineage is a clean chain: fork <- B <- A (or fork <- A <- B)
    val ids = a.listSnapshots().filter(_.branch.contains("wap")).map(_.snapshotId)
    assert(ids.size === 2 && ids.distinct.size === 2)
    a.publishBranch("wap")
    assert(a.read().collect().map(_.getLong(0)).toSet === Set(1L, 10L, 20L))
  }

  test("a branch append raced by a NEWER branch tombstone surfaces ConcurrentCommitException") {
    val root = tmpDir("br-race-tomb")
    val a = new LakehouseTable(spark, root)
    a.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
    a.forkBranch("wap")
    val b = new LakehouseTable(spark, root)
    // inside A's publish window B lands a branch append, then a branch
    // merge-on-read delete of key 7: its tombstone is newer than A's
    // claimed origin, so a rebase would silently mask A's own row
    a.onBeforePublish = () => {
      a.onBeforePublish = () => ()
      b.appendToBranch(Seq((20L, "B")).toDF("k", "v").coalesce(1), "wap")
      b.applyChangesToBranch(Seq((7L, "gone", "delete")).toDF("k", "v", "_change"),
        Seq("k"), "wap", mergeOnRead = true)
      ()
    }
    try intercept[ConcurrentCommitException](
      a.appendToBranch(Seq((7L, "A")).toDF("k", "v").coalesce(1), "wap"))
    finally a.onBeforePublish = () => ()
    assert(spark.read.format("graft-lakehouse").option("snapshotBranch", "wap")
      .load(root).collect().map(_.getLong(0)).toSet === Set(1L, 20L),
      "the conflicting append must not commit")
    // a re-run against the new branch head lands the row visibly
    a.appendToBranch(Seq((7L, "A")).toDF("k", "v").coalesce(1), "wap")
    assert(spark.read.format("graft-lakehouse").option("snapshotBranch", "wap")
      .load(root).collect().map(_.getLong(0)).toSet === Set(1L, 7L, 20L))
  }

  /** Spark jobs `body` submits from this thread (and the threads its
    * queries spawn, which inherit the thread's local properties).
    */
  private def jobsRunBy(body: => Unit): Int = {
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("graft.spec.jobs") == tag)
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setLocalProperty("graft.spec.jobs", tag)
    try {
      body
      // the listener bus is async: settle until the count holds a beat
      var prev = -1
      var spins = 0
      while (jobs.get != prev && spins < 50) {
        prev = jobs.get; Thread.sleep(100); spins += 1
      }
      jobs.get
    } finally {
      spark.sparkContext.setLocalProperty("graft.spec.jobs", null)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  test("drift pin: a branch write runs exactly the Spark jobs of its main-line write") {
    def seeded(name: String): LakehouseTable = {
      val t = new LakehouseTable(spark, tmpDir(name))
      t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1))
      t.append(Seq((10L, "x"), (11L, "y")).toDF("k", "v").coalesce(1))
      t
    }
    val main = seeded("br-jobs-main")
    val br = seeded("br-jobs-branch")
    br.forkBranch("wap")
    def rows = Seq((20L, "n")).toDF("k", "v").coalesce(1)
    def upserts = Seq((2L, "B"), (30L, "m")).toDF("k", "v").coalesce(1)
    def changes = Seq((3L, "c", "delete"), (11L, "Y", "insert"), (40L, "o", "insert"))
      .toDF("k", "v", "_change").coalesce(1)
    def morChanges = Seq((1L, "a", "delete"), (50L, "p", "insert"))
      .toDF("k", "v", "_change").coalesce(1)
    val writes: Seq[(String, LakehouseTable => Any, LakehouseTable => Any)] = Seq(
      ("append", _.append(rows), _.appendToBranch(rows, "wap")),
      ("copy-on-write upsert", _.upsert(upserts, Seq("k")),
        _.upsertToBranch(upserts, Seq("k"), "wap")),
      ("copy-on-write applyChanges", _.applyChanges(changes, Seq("k")),
        _.applyChangesToBranch(changes, Seq("k"), "wap")),
      ("merge-on-read applyChanges", _.applyChanges(morChanges, Seq("k"), mergeOnRead = true),
        _.applyChangesToBranch(morChanges, Seq("k"), "wap", mergeOnRead = true)))
    writes.foreach { case (what, onMain, onBranch) =>
      val m = jobsRunBy { onMain(main); () }
      val b = jobsRunBy { onBranch(br); () }
      assert(m === b, s"$what: main ran $m Spark jobs, the branch ran $b")
    }
    // same writes, same state on both lineages
    val mainRows = main.read().as[(Long, String)].collect().toSet
    assert(spark.read.format("graft-lakehouse").option("snapshotBranch", "wap")
      .load(br.root).as[(Long, String)].collect().toSet === mainRows)
    assert(mainRows === Set((2L, "B"), (10L, "x"), (11L, "Y"), (20L, "n"),
      (30L, "m"), (40L, "o"), (50L, "p")))
  }

}
