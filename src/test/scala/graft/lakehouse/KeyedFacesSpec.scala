package graft.lakehouse

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

/** Differential check of every face that lands a KEYED batch: the
  * table API (`upsert`, `applyChanges`, `applyChangesToBranch`), the
  * DSv2 batch write (`writeTo(...).option("keys", ...)`) and one keyed
  * `writeStream` epoch. Each face gets a fresh copy of one seeded
  * table — flat and hive-partitioned — and one batch carrying an
  * insert, a replace and (for the change-feed faces) a delete, in
  * copy-on-write and in merge-on-read. Faces that claim one semantics
  * must land the same rows, the same lineage operation and the same
  * tombstone emptiness, and each face's Spark jobs stay at or under
  * its ceiling. The table-API faces also pin what fails: a bad
  * `_change` tag and a lost publish race leave no staged file behind,
  * and a racer that commits while the batch stages is rebased over
  * (copy-on-write) or refused (merge-on-read). The copy-on-write
  * rewrite is pinned per layout: it replaces exactly the files holding
  * a batch key, each read whole, and keeps merge-on-read masks.
  */
class KeyedFacesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val cat: String = {
    val name = "kfcat"
    if (spark.conf.getOption(s"spark.sql.catalog.$name").isEmpty) {
      spark.conf.set(s"spark.sql.catalog.$name", classOf[LakehouseCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse", tmpDir(s"$name-wh"))
    }
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    name
  }

  private val seedRows: Seq[(Long, String, String)] =
    (1L to 8L).map(k => (k, if (k % 2 == 0) "even" else "odd", s"v$k"))

  /** Insert k=10, replace k=2. */
  private val upsertRows = Seq((10L, "even", "new10"), (2L, "even", "R2"))

  /** The upsert rows plus a delete of k=3. */
  private val changeRows =
    upsertRows.map { case (k, rk, v) => (k, rk, v, "insert") } :+ ((3L, "odd", "v3", "delete"))

  private def upsertBatch: DataFrame = upsertRows.toDF("k", "rk", "v").coalesce(1)
  private def changeBatch: DataFrame = changeRows.toDF("k", "rk", "v", "_change").coalesce(1)

  private val upserted: Set[(Long, String, String)] =
    seedRows.filterNot(_._1 == 2L).toSet ++ upsertRows
  private val applied: Set[(Long, String, String)] = upserted.filterNot(_._1 == 3L)

  private var seq = 0

  /** Spark-job ceilings per (face, merge-on-read), flat and hive alike,
    * in the specs' default session: the counts each face runs. A
    * copy-on-write batch whose keys meet the seeded file pays the
    * staged write and the one rewrite job. A face may get cheaper,
    * never dearer.
    */
  private val jobCeiling: Map[(String, Boolean), Int] = Map(
    ("upsert", false) -> 2, ("upsert", true) -> 1,
    ("writeTo keys (DSv2 batch)", false) -> 2, ("writeTo keys (DSv2 batch)", true) -> 1,
    ("writeStream keys (DSv2 stream)", false) -> 3, ("writeStream keys (DSv2 stream)", true) -> 2,
    ("applyChanges", false) -> 2, ("applyChanges", true) -> 1,
    ("applyChangesToBranch", false) -> 2, ("applyChangesToBranch", true) -> 1,
    ("writeStream keys + _change (DSv2 stream)", false) -> 3,
    ("writeStream keys + _change (DSv2 stream)", true) -> 2)

  /** A fresh catalog table seeded with `seedRows` (plus a NULL `_change`
    * column when `changeCol`): (catalog name, root).
    */
  private def seeded(hive: Boolean, changeCol: Boolean = false): (String, String) = {
    seq += 1
    val name = s"$cat.db.kf$seq"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name (k BIGINT, rk STRING, v STRING" +
      (if (changeCol) ", _change STRING)" else ")") +
      (if (hive) " PARTITIONED BY (rk)" else ""))
    val seed = seedRows.toDF("k", "rk", "v").coalesce(1)
    (if (changeCol) seed.withColumn("_change", org.apache.spark.sql.functions.lit(null)
      .cast("string")) else seed).writeTo(name).append()
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    (name, java.nio.file.Paths.get(wh, "db", s"kf$seq").toString)
  }

  /** One keyed `writeStream` epoch of `batch` into `root`. */
  private def streamEpoch(batch: DataFrame, root: String, mor: Boolean,
      hive: Boolean): Unit = {
    val src = tmpDir("kf-stream-src") + "/in"
    batch.write.json(src)
    val w = spark.readStream.schema(batch.schema).json(src)
      .writeStream.format("graft-lakehouse")
      .option("path", root).option("keys", "k")
      .option("mergeOnRead", mor.toString).option("txnAppId", s"kf-$seq")
      .option("checkpointLocation", tmpDir("kf-stream-ck"))
    val q = (if (hive) w.option("partitionBy", "rk") else w)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "the keyed stream did not drain")
  }

  private def rowsOf(df: DataFrame): Set[(Long, String, String)] =
    df.select("k", "rk", "v").as[(Long, String, String)].collect().toSet

  /** What one face landed: rows, lineage operation, tombstones present. */
  private case class Landed(rows: Set[(Long, String, String)], op: String,
      tombstoned: Boolean)

  /** Run `face` against a fresh seeded table and read back what it
    * landed: the main head, or the `wap` branch head for the branch face.
    */
  private def land(face: String, hive: Boolean, mor: Boolean)(
      write: (String, String, LakehouseTable) => Unit): (String, Landed) = {
    val (name, root) = seeded(hive)
    val t = new LakehouseTable(spark, root)
    val branch = face == "applyChangesToBranch"
    if (branch) t.forkBranch("wap")
    val jobs = jobsRunBy(write(name, root, t))
    info(s"${if (hive) "hive" else "flat"} ${if (mor) "MoR" else "CoW"} $face: $jobs Spark jobs")
    assert(jobs <= jobCeiling((face, mor)),
      s"$face ran $jobs Spark jobs, over its ceiling of ${jobCeiling((face, mor))}")
    val head = if (branch) t.branchHead("wap") else t.currentSnapshot().get
    val rows = rowsOf(
      if (branch) spark.read.format("graft-lakehouse")
        .option("snapshotBranch", "wap").load(root)
      else t.read())
    spark.sql(s"DROP TABLE IF EXISTS $name")
    face -> Landed(rows, head.operation, head.tombstones.nonEmpty)
  }

  for (hive <- Seq(false, true); mor <- Seq(false, true)) {
    val layout = if (hive) "hive-partitioned" else "flat"
    val shape = if (mor) "merge-on-read" else "copy-on-write"
    test(s"every keyed face lands one batch alike: $layout, $shape") {
      val upsertFaces = Seq(
        land("upsert", hive, mor) { (_, _, t) =>
          t.upsert(upsertBatch, Seq("k"), mergeOnRead = mor); () },
        land("writeTo keys (DSv2 batch)", hive, mor) { (name, _, _) =>
          upsertBatch.writeTo(name).option("keys", "k")
            .option("mergeOnRead", mor.toString).append() },
        land("writeStream keys (DSv2 stream)", hive, mor) { (_, root, _) =>
          streamEpoch(upsertBatch, root, mor, hive) })
      val changeFaces = Seq(
        land("applyChanges", hive, mor) { (_, _, t) =>
          t.applyChanges(changeBatch, Seq("k"), mergeOnRead = mor); () },
        land("applyChangesToBranch", hive, mor) { (_, _, t) =>
          t.applyChangesToBranch(changeBatch, Seq("k"), "wap", mergeOnRead = mor); () },
        land("writeStream keys + _change (DSv2 stream)", hive, mor) { (_, root, _) =>
          streamEpoch(changeBatch, root, mor, hive) })
      val upsertOp = if (mor) "apply" else "upsert"
      upsertFaces.foreach { case (face, l) =>
        assert(l === Landed(upserted, upsertOp, tombstoned = mor), face) }
      changeFaces.foreach { case (face, l) =>
        assert(l === Landed(applied, "apply", tombstoned = mor), face) }
    }
  }

  test("a DSv2 merge-on-read tombstone follows the hive layout, as the table API's does") {
    // every face writes the tombstone under one rule: the batch carries
    // the partition column, so the tombstone lands under rk=
    val (name, root) = seeded(hive = true)
    upsertBatch.writeTo(name).option("keys", "k").option("mergeOnRead", "true").append()
    val dsv2 = new LakehouseTable(spark, root)
    val (_, streamRoot) = seeded(hive = true)
    streamEpoch(upsertBatch, streamRoot, mor = true, hive = true)
    val stream = new LakehouseTable(spark, streamRoot)
    val (_, apiRoot) = seeded(hive = true)
    val api = new LakehouseTable(spark, apiRoot)
    api.upsert(upsertBatch, Seq("k"), mergeOnRead = true)
    def layoutOf(t: LakehouseTable): Seq[Seq[String]] =
      t.currentSnapshot().get.tombstones.map(f => LakehouseTable.hiveSegsOf(f).toSeq)
    assert(layoutOf(api) === Seq(Seq("rk=even")))
    assert(layoutOf(dsv2) === layoutOf(api),
      s"DSv2 tombstone ${dsv2.currentSnapshot().get.tombstones} lands outside the hive layout")
    assert(layoutOf(stream) === layoutOf(api),
      s"DSv2 stream tombstone ${stream.currentSnapshot().get.tombstones} lands outside the hive layout")
    Seq(dsv2, stream, api).foreach(t => assert(rowsOf(t.read()) === upserted, t.root))
  }

  /** Parquet files under `root`'s data dir that no snapshot references,
    * and data dirs holding none a snapshot references.
    */
  private def strays(t: LakehouseTable): (Seq[String], Seq[String]) = {
    val live = t.listSnapshots().flatMap(s => s.files ++ s.tombstones).toSet
    val data = java.nio.file.Paths.get(t.root, "data")
    val all = graft.Fs.walkAll(data).filter(java.nio.file.Files.isRegularFile(_))
      .map(p => data.getParent.relativize(p).toString)
    (all.filter(f => f.endsWith(".parquet") && !live(f)),
      all.map(_.split('/')(1)).distinct.filterNot(d => live.exists(_.split('/')(1) == d)))
  }

  test("on every upsert face _change is data; only the change faces read it as the op") {
    // a `_change` of "delete" on an upsert face is a value like any other:
    // the row lands (replacing k=2 / inserting k=10) and keeps the value
    val tagged = Seq((10L, "even", "new10", "delete"), (2L, "even", "R2", "insert"))
    def batch = tagged.toDF("k", "rk", "v", "_change").coalesce(1)
    val expected = seedRows.filterNot(_._1 == 2L).map { case (k, rk, v) =>
      (k, rk, v, null.asInstanceOf[String]) }.toSet ++ tagged
    for (mor <- Seq(false, true)) {
      val faces: Seq[(String, (String, LakehouseTable) => Unit)] = Seq(
        "upsert" -> { (_, t) => t.upsert(batch, Seq("k"), mergeOnRead = mor); () },
        "upsertToBranch" -> { (_, t) =>
          t.upsertToBranch(batch, Seq("k"), "wap", mergeOnRead = mor); () },
        "writeTo keys (DSv2 batch)" -> { (name, _) =>
          batch.writeTo(name).option("keys", "k").option("mergeOnRead", mor.toString).append() })
      faces.foreach { case (face, write) =>
        val (name, root) = seeded(hive = false, changeCol = true)
        val t = new LakehouseTable(spark, root)
        val branch = face == "upsertToBranch"
        if (branch) t.forkBranch("wap")
        write(name, t)
        val landed =
          if (branch) spark.read.format("graft-lakehouse").option("snapshotBranch", "wap").load(root)
          else t.read()
        assert(landed.select("k", "rk", "v", "_change").as[(Long, String, String, String)]
          .collect().toSet === expected, s"$face, mergeOnRead = $mor")
        spark.sql(s"DROP TABLE IF EXISTS $name")
      }
    }
  }

  test("a bad _change tag fails applyChanges and its branch form: head unchanged, nothing staged left") {
    for (branch <- Seq(false, true); mor <- Seq(false, true);
         bad <- Seq("update_postimage", null)) {
      val what = s"${if (branch) "applyChangesToBranch" else "applyChanges"}, " +
        s"mergeOnRead = $mor, tag ${Option(bad).getOrElse("NULL")}"
      val t = new LakehouseTable(spark, tmpDir("kf-badtag"))
      t.append(seedRows.toDF("k", "rk", "v").coalesce(1))
      if (branch) t.forkBranch("wap")
      def head = if (branch) t.branchHead("wap") else t.currentSnapshot().get
      val before = (t.listSnapshots().map(_.snapshotId), head.snapshotId)
      // good rows first, so the failing task already holds open files
      val ch = (changeRows :+ ((11L, "odd", "bad", bad))).toDF("k", "rk", "v", "_change")
        .coalesce(1)
      val failed = intercept[Exception] {
        if (branch) t.applyChangesToBranch(ch, Seq("k"), "wap", mergeOnRead = mor)
        else t.applyChanges(ch, Seq("k"), mergeOnRead = mor)
      }
      val chain = Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(e => Option(e.getMessage).exists(_.contains(
        s"unsupported _change tag '${Option(bad).getOrElse("NULL")}'"))), s"$what: $failed")
      assert((t.listSnapshots().map(_.snapshotId), head.snapshotId) === before, what)
      assert(strays(t) === ((Nil, Nil)), s"$what left staged files")
    }
  }

  test("a keyed table-API write that loses its publish race discards everything it staged") {
    for (mor <- Seq(false, true)) {
      val t = new LakehouseTable(spark, tmpDir("kf-race"))
      t.append(seedRows.toDF("k", "rk", "v").coalesce(1))
      val racer = new LakehouseTable(spark, t.root)
      t.onBeforePublish = () => {
        t.onBeforePublish = () => ()
        racer.append(Seq((20L, "even", "r20")).toDF("k", "rk", "v").coalesce(1))
        ()
      }
      try intercept[ConcurrentCommitException] {
        t.applyChanges(changeBatch, Seq("k"), mergeOnRead = mor)
      } finally t.onBeforePublish = () => ()
      val head = t.currentSnapshot().get
      val onDisk = graft.Fs.walkAll(java.nio.file.Paths.get(t.root, "data"))
        .map(_.toString).filter(_.endsWith(".parquet"))
        .map(p => java.nio.file.Paths.get(t.root).relativize(java.nio.file.Paths.get(p)).toString)
      assert(onDisk.toSet === (head.files ++ head.tombstones).toSet, s"mergeOnRead = $mor")
      assert(rowsOf(t.read()) === seedRows.toSet + ((20L, "even", "r20")), s"mergeOnRead = $mor")
    }
  }

  test("a racer that commits a batch key while a keyed write stages: CoW rebases, MoR refuses") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val gate = org.apache.spark.sql.functions.udf(KeyedRaceGate.pass _)
    for (mor <- Seq(false, true); change <- Seq(false, true)) {
      val what = s"${if (change) "applyChanges" else "upsert"}, mergeOnRead = $mor"
      val t = new LakehouseTable(spark, tmpDir("kf-stage-race"))
      t.append(seedRows.toDF("k", "rk", "v").coalesce(1))
      val batch = (if (change) changeBatch else upsertBatch)
        .withColumn("v", gate(org.apache.spark.sql.functions.col("v")))
      KeyedRaceGate.arm()
      val write = Future {
        if (change) t.applyChanges(batch, Seq("k"), mergeOnRead = mor)
        else t.upsert(batch, Seq("k"), mergeOnRead = mor)
      }(ExecutionContext.global)
      assert(KeyedRaceGate.entered.await(60, SECONDS), s"$what: the staged write never ran")
      // another handle lands a row for key 2 between the stage and the commit
      new LakehouseTable(spark, t.root)
        .append(Seq((2L, "even", "racer2")).toDF("k", "rk", "v").coalesce(1))
      KeyedRaceGate.release.countDown()
      val outcome = Await.ready(write, 2.minutes).value.get
      if (mor) {
        // the batch's tomb files share the racer's origin and could not
        // mask its k=2 row: the write must refuse, not read k=2 twice
        assert(outcome.failed.toOption.exists(_.isInstanceOf[ConcurrentCommitException]),
          s"$what: $outcome")
        assert(rowsOf(t.read()) === seedRows.toSet + ((2L, "even", "racer2")), what)
      } else {
        assert(outcome.isSuccess, s"$what: $outcome")
        // latest wins: the batch replaces the racer's k=2 row as well
        assert(rowsOf(t.read()) === (if (change) applied else upserted), what)
      }
      assert(strays(t)._1 === Nil, s"$what left staged files")
    }
  }

  test("a keyed path-face write reads _change as the op on the main line, as on a branch") {
    for (branch <- Seq(false, true); mor <- Seq(false, true)) {
      val what = s"${if (branch) "branch" else "main line"}, mergeOnRead = $mor"
      val t = new LakehouseTable(spark, tmpDir("kf-pathface"))
      t.append(seedRows.toDF("k", "rk", "v").coalesce(1))
      if (branch) t.forkBranch("wap")
      val w = changeBatch.write.format("graft-lakehouse").mode("append")
        .option("keys", "k").option("mergeOnRead", mor.toString)
      (if (branch) w.option("branch", "wap") else w).save(t.root)
      val landed =
        if (branch) spark.read.format("graft-lakehouse").option("snapshotBranch", "wap").load(t.root)
        else t.read()
      assert(rowsOf(landed) === applied, what)
      assert(!landed.columns.contains("_change"), what)
    }
  }

  /** Keys of each data file of `t`'s head, read raw from the file. */
  private def fileKeys(t: LakehouseTable): Map[String, Set[Long]] =
    t.currentSnapshot().get.files.map(f =>
      f -> spark.read.parquet(t.absDataPath(f)).select("k").as[Long].collect().toSet).toMap

  for (layout <- Seq("flat", "hive", "bucketed"); change <- Seq(false, true)) {
    val face = if (change) "applyChanges" else "upsert"
    test(s"a copy-on-write batch rewrites exactly the files holding its keys, each whole: $layout, $face") {
      seq += 1
      val name = s"$cat.db.kfrw$seq"
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(s"CREATE TABLE $name (k BIGINT, rk STRING, v STRING)" + (layout match {
        case "hive" => " PARTITIONED BY (rk)"
        case "bucketed" => " PARTITIONED BY (bucket(4, k))"
        case _ => ""
      }))
      val root = java.nio.file.Paths.get(
        spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), "db", s"kfrw$seq").toString
      val t = new LakehouseTable(spark, root)
      // A holds only batch keys, B only keys inside the batch's range,
      // C one batch key among 2,000 others, D keys outside the range
      val a = Seq(1L, 2L).map(k => (k, "x", s"a$k"))
      val b = Seq(3L, 5L).map(k => (k, "y", s"b$k"))
      val c = (Seq(4L, 6L) ++ (1000L until 3000L)).map(k => (k, "x", s"c$k"))
      val d = (50L to 60L).map(k => (k, "y", s"d$k"))
      Seq(a, b, c, d).foreach(rows => rows.toDF("k", "rk", "v").coalesce(1).writeTo(name).append())
      // a merge-on-read delete masks k=6 in C's file
      t.applyChanges(Seq((6L, "x", "c6", "delete")).toDF("k", "rk", "v", "_change").coalesce(1),
        Seq("k"), mergeOnRead = true)
      val before = fileKeys(t)
      val batchKeys = Set(1L, 2L, 4L)
      val expected = (a ++ b ++ c ++ d).filterNot(r => r._1 == 6L || batchKeys(r._1)).toSet ++
        (if (change) Set((2L, "x", "n2"), (4L, "x", "n4"))
         else Set((1L, "x", "n1"), (2L, "x", "n2"), (4L, "x", "n4")))
      val maxPart = "spark.sql.files.maxPartitionBytes"
      val was = spark.conf.getOption(maxPart)
      spark.conf.set(maxPart, "1024")
      val probed0 = t.keyedWriteProbedFiles.get()
      try {
        if (change) t.applyChanges(Seq((1L, "x", "n1", "delete"), (2L, "x", "n2", "insert"),
          (4L, "x", "n4", "insert")).toDF("k", "rk", "v", "_change").coalesce(1), Seq("k"))
        else t.upsert(Seq((1L, "x", "n1"), (2L, "x", "n2"), (4L, "x", "n4"))
          .toDF("k", "rk", "v").coalesce(1), Seq("k"))
      } finally was.fold(spark.conf.unset(maxPart))(spark.conf.set(maxPart, _))
      val head = t.currentSnapshot().get
      val (touched, kept) = before.partition(_._2.exists(batchKeys))
      // the batch's key range is [1, 4]: these files' key stats overlap it
      val inRange = before.filter { case (_, ks) => ks.min <= 4L && ks.max >= 1L }.keySet
      assert(touched.keySet.exists(f => before(f).forall(batchKeys)),
        s"no file holds batch keys alone: $before")
      assert(touched.keySet.exists(f => t.fileSizeOf(head, f) > 1024L),
        s"no touched file is larger than a split: $before")
      assert(kept.keySet.exists(inRange), s"no in-range file lacks a batch key: $before")
      assert(touched.keySet.forall(f => !head.files.contains(f)),
        s"a touched file stayed: ${touched.keySet.filter(head.files.contains)}")
      assert(kept.keySet.forall(head.files.contains),
        s"an untouched file was rewritten: ${kept.keySet.filterNot(head.files.contains)}")
      assert(t.keyedWriteProbedFiles.get() - probed0 === inRange.size,
        s"probed files, range candidates $inRange")
      assert(rowsOf(t.read()) === expected)
      spark.sql(s"DROP TABLE IF EXISTS $name")
    }
  }

  test("a copy-on-write upsert keyed on a struct column replaces exactly its keys") {
    val t = new LakehouseTable(spark, tmpDir("kf-structkey"))
    t.append((1 to 4).map(i => ((i, s"n$i"), s"v$i")).toDF("s", "v").coalesce(1))
    t.upsert(Seq(((2, "n2"), "R2"), ((9, "n9"), "new9")).toDF("s", "v").coalesce(1), Seq("s"))
    assert(t.read().select("s.*", "v").as[(Int, String, String)].collect().toSet ===
      Set((1, "n1", "v1"), (2, "n2", "R2"), (3, "n3", "v3"), (4, "n4", "v4"), (9, "n9", "new9")))
  }

  test("a keyed table-API batch lacking a key column fails before it writes anything") {
    for (mor <- Seq(false, true); change <- Seq(false, true)) {
      val what = s"${if (change) "applyChanges" else "upsert"}, mergeOnRead = $mor"
      val t = new LakehouseTable(spark, tmpDir("kf-nokey"))
      t.append(seedRows.toDF("k", "rk", "v").coalesce(1))
      val before = t.listSnapshots().map(_.snapshotId)
      val failed = intercept[Exception] {
        if (change) t.applyChanges(changeBatch.drop("k"), Seq("k"), mergeOnRead = mor)
        else t.upsert(upsertBatch.drop("k"), Seq("k"), mergeOnRead = mor)
      }
      val chain = Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(e => Option(e.getMessage).exists(_.contains(
        "keys column 'k' not in the write schema"))), s"$what: $failed")
      assert(t.listSnapshots().map(_.snapshotId) === before, what)
      assert(strays(t) === ((Nil, Nil)), s"$what left staged files")
    }
  }

  test("a keyed batch lacking a layout column lands its data files under that column's dirs") {
    // the batch's rows read rk NULL and land under its NULL dir; the tomb
    // files name no rk value, so they stay flat. The second write meets
    // the first's files, which keep the lineage's layout one scheme.
    val kv = Seq((10L, "new10"), (2L, "R2"))
    val expected = seedRows.filterNot(_._1 == 2L).toSet ++
      kv.map { case (k, v) => (k, null.asInstanceOf[String], v) }
    for (catalog <- Seq(true, false); mor <- Seq(false, true); change <- Seq(false, true)) {
      val what = s"${if (catalog) "catalog" else "path"} table, " +
        s"${if (change) "applyChanges" else "upsert"}, mergeOnRead = $mor"
      val (name, root) =
        if (catalog) seeded(hive = true)
        else {
          val r = tmpDir("kf-layout")
          new LakehouseTable(spark, r)
            .append(seedRows.toDF("k", "rk", "v").coalesce(1), partitionBy = Seq("rk"))
          ("", r)
        }
      val t = new LakehouseTable(spark, root)
      for (_ <- 1 to 2) {
        if (change) t.applyChanges(kv.map { case (k, v) => (k, v, "insert") }
          .toDF("k", "v", "_change").coalesce(1), Seq("k"), mergeOnRead = mor)
        else t.upsert(kv.toDF("k", "v").coalesce(1), Seq("k"), mergeOnRead = mor)
      }
      val head = t.currentSnapshot().get
      assert(head.files.forall(f => LakehouseTable.hiveSegsOf(f).exists(_.startsWith("rk="))),
        s"$what: ${head.files}")
      assert(head.tombstones.forall(f => LakehouseTable.hiveSegsOf(f).isEmpty),
        s"$what: ${head.tombstones}")
      assert(rowsOf(t.read()) === expected, what)
      if (catalog) spark.sql(s"DROP TABLE IF EXISTS $name")
    }
  }
}

/** A one-shot gate on a batch's rows, evaluated in its write task (a
  * local session shares the JVM): the first row signals `entered` and
  * waits for `release`, holding the staged write open while a spec
  * commits a racer.
  */
private object KeyedRaceGate {
  @volatile var entered = new java.util.concurrent.CountDownLatch(1)
  @volatile var release = new java.util.concurrent.CountDownLatch(1)

  def arm(): Unit = {
    entered = new java.util.concurrent.CountDownLatch(1)
    release = new java.util.concurrent.CountDownLatch(1)
  }

  def pass(v: String): String = {
    if (entered.getCount > 0) {
      entered.countDown()
      release.await(60, java.util.concurrent.TimeUnit.SECONDS)
    }
    v
  }
}
