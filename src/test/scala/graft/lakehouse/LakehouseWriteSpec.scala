package graft.lakehouse

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The DSv2 write face (round 14): executor-side parquet writers + a
  * metadata-only driver commit, replacing the V1Write bridge for the
  * append shapes — batch (`INSERT INTO` catalog tables) and the
  * keyless streaming sink (offset-aware epoch-marked commits).
  */
class LakehouseWriteSpec extends SparkSpec {
  import spark.implicits._

  private def mkCatalog(name: String): String = {
    if (spark.conf.getOption(s"spark.sql.catalog.$name").isEmpty) {
      spark.conf.set(s"spark.sql.catalog.$name", classOf[LakehouseCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse", tmpDir(s"$name-wh"))
    }
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    name
  }

  test("a 100-partition INSERT INTO commits ONE snapshot of executor-written files") {
    val cat = mkCatalog("dsv2w")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.wide")
    spark.sql(s"CREATE TABLE $cat.db.wide (id BIGINT, v STRING)") // snap 1
    val before = LakehouseWriteStats.writersCreated.get()
    spark.range(0, 1000).select(col("id"), concat(lit("v"), col("id")).as("v"))
      .repartition(100)
      .createOrReplaceTempView("wide_src")
    spark.sql(s"INSERT INTO $cat.db.wide SELECT id, v FROM wide_src") // snap 2
    val writers = LakehouseWriteStats.writersCreated.get() - before
    assert(writers === 100L,
      s"every input partition must get its own EXECUTOR-side writer, got $writers")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val t = new LakehouseTable(spark,
      java.nio.file.Paths.get(wh, "db", "wide").toString)
    val snaps = t.listSnapshots()
    assert(snaps.size === 2, s"ONE commit for the whole write: ${snaps.map(_.operation)}")
    assert(snaps.last.operation === "append")
    assert(snaps.last.files.size === 100,
      "one file per non-empty input partition, written by the tasks")
    // files are ordinary stats-bearing manifest entries: pruning works
    assert(snaps.last.stats.exists(_.nonEmpty))
    // and the rows read back exactly (through the native scan)
    assert(spark.sql(s"SELECT count(*), sum(id) FROM $cat.db.wide").head ===
      org.apache.spark.sql.Row(1000L, (0L until 1000L).sum))
    assert(spark.sql(s"SELECT v FROM $cat.db.wide WHERE id = 7").head.getString(0) === "v7")
    spark.sql(s"DROP TABLE $cat.db.wide")
  }

  test("footerKeyRanges matches the aggregate-job ranges exactly, and refuses when footers can't answer") {
    import org.apache.spark.sql.types.{StructField, StructType, LongType, StringType, FloatType}
    val t = new LakehouseTable(spark, tmpDir("footer-ranges"))
    val df = Seq((7L, "pear", 1.5f), (-3L, "apple", -0.25f), (12L, "fig", 9.75f))
      .toDF("k", "s", "f")
    t.append(df.repartition(2)) // two files, interleaved ranges
    val files = t.currentSnapshot().get.files
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType), StructField("f", FloatType)))
    val got = t.footerKeyRanges(files, Seq("k", "s", "f"), schema)
    // exactly the values the one-job min/max aggregate would compute
    assert(got === Some(Seq(
      ScanPredicate.Range("k", Some(-3L), Some(12L)),
      ScanPredicate.Range("s", Some("apple"), Some("pear")),
      ScanPredicate.Range("f", Some(-0.25f), Some(9.75f)))))
    // a key column the footers don't carry → None (the job fallback answers)
    assert(t.footerKeyRanges(files, Seq("k", "missing"), schema).isEmpty)
    // an unreadable file → None
    assert(t.footerKeyRanges(files :+ "data/nope/void.parquet",
      Seq("k"), schema).isEmpty)
  }

  test("DSv2 INSERT INTO honors the stored hive layout and bucket transforms") {
    val cat = mkCatalog("dsv2w")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.parts")
    spark.sql(s"CREATE TABLE $cat.db.parts (id BIGINT, cell INT, v STRING) " +
      "PARTITIONED BY (cell)")
    spark.sql(s"INSERT INTO $cat.db.parts SELECT id, CAST(id % 3 AS INT), " +
      "concat('v', id) FROM range(30)")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val t = new LakehouseTable(spark,
      java.nio.file.Paths.get(wh, "db", "parts").toString)
    val files = t.currentSnapshot().get.files
    assert(files.forall(_.contains("cell=")), s"hive layout expected: $files")
    // partition pruning sees the executor-written dirs
    val pruned = spark.sql(s"SELECT count(*) FROM $cat.db.parts WHERE cell = 1")
    assert(pruned.head.getLong(0) === 10L)
    val info = ScanEvents.lastScan(
      java.nio.file.Paths.get(wh, "db", "parts").toString).get
    assert(info.filesPlanned < info.filesTotal,
      s"cell=1 must prune executor-written hive dirs: $info")
    // NULL partition values land in the default-partition dir and read back
    spark.sql(s"INSERT INTO $cat.db.parts VALUES (99, NULL, 'vn')")
    assert(spark.sql(s"SELECT v FROM $cat.db.parts WHERE cell IS NULL")
      .head.getString(0) === "vn")
    // bucket transform: the dir carries the layout hash, source col stays
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.bkt")
    spark.sql(s"CREATE TABLE $cat.db.bkt (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $cat.db.bkt SELECT id, concat('v', id) FROM range(40)")
    val bt = new LakehouseTable(spark,
      java.nio.file.Paths.get(wh, "db", "bkt").toString)
    val bfiles = bt.currentSnapshot().get.files
    assert(bfiles.forall(_.contains("k_bucket=")), s"bucket dirs expected: $bfiles")
    val ks = spark.sql(s"SELECT k FROM $cat.db.bkt ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(ks === (0L until 40L), "the bucket SOURCE column stays in the files")
    // the dir value is THE layout hash — point lookups bucket-prune
    val expect = LakehouseTable.bucketId(7L, org.apache.spark.sql.types.LongType, 4)
    assert(bfiles.filter(_.contains(s"k_bucket=$expect")).nonEmpty)
    spark.sql(s"DROP TABLE $cat.db.parts"); spark.sql(s"DROP TABLE $cat.db.bkt")
  }

  test("keyless writeStream rides the DSv2 face: executor writers, epoch txn marks, replay absorbed") {
    val root = tmpDir("dsv2-stream")
    val t = new LakehouseTable(spark, root)
    t.append(Seq((0L, "seed")).toDF("id", "v").coalesce(1)) // table exists -> DSv2 face
    val src = tmpDir("dsv2-stream-src")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").json(src)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val before = LakehouseWriteStats.writersCreated.get()
    def drain(ckpt: String): Unit = {
      val q = spark.readStream.schema(schema).json(src)
        .writeStream.format("graft-lakehouse")
        .option("path", root).option("txnAppId", "dsv2s")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000)); ()
    }
    val ckpt = tmpDir("dsv2-stream-ckpt")
    drain(ckpt)
    assert(LakehouseWriteStats.writersCreated.get() > before,
      "the keyless stream must take the DSv2 executor-writer path")
    assert(t.read().as[(Long, String)].collect().toSet ===
      Set((0L, "seed"), (1L, "a"), (2L, "b")))
    // the epoch landed as a txn mark — the offset-aware commit
    assert(t.lastTxnVersion("dsv2s") === Some(0L))
    // a REPLAYED epoch absorbs: same checkpoint, fresh engine run with
    // no new files -> no duplicate rows, no new snapshot
    val snapsBefore = t.listSnapshots().size
    drain(ckpt)
    assert(t.read().count() === 3L, "replay must not duplicate rows")
    assert(t.listSnapshots().size === snapsBefore, "an absorbed epoch commits nothing")
    // orphaned claim dirs from the absorbed attempt are cleaned
    val dataDirs = graft.Fs.listAll(java.nio.file.Paths.get(root, "data"))
      .filter(java.nio.file.Files.isDirectory(_)).map(_.getFileName.toString)
    val live = t.currentSnapshot().get.files.map(_.split('/')(1)).toSet
    assert(dataDirs.forall(live), s"absorbed-epoch files must be discarded: $dataDirs vs $live")
  }

  test("keyed MoR stream rides DSv2: split writers, ONE metadata commit, replay absorbed") {
    val root = tmpDir("dsv2-keyed")
    val t = new LakehouseTable(spark, root)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    val src = tmpDir("dsv2-keyed-src")
    Seq((1L, "A2"), (3L, "c")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").json(src)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val before = LakehouseWriteStats.writersCreated.get()
    val ckpt = tmpDir("dsv2-keyed-ckpt")
    def drain(): Unit = {
      val q = spark.readStream.schema(schema).json(src)
        .writeStream.format("graft-lakehouse")
        .option("path", root).option("keys", "id")
        .option("mergeOnRead", "true").option("txnAppId", "dsv2k")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000)); ()
    }
    drain()
    assert(LakehouseWriteStats.writersCreated.get() > before,
      "keyed streams must ride the DSv2 executor-writer path now")
    assert(t.read().as[(Long, String)].collect().toSet ===
      Set((1L, "A2"), (2L, "b"), (3L, "c")), "keyed upsert semantics unchanged")
    // MoR: one metadata commit — the staged data files landed directly
    // and the executor-written tomb key file IS the tombstone
    val snap = t.currentSnapshot().get
    assert(snap.operation === "apply")
    val added = snap.files.filterNot(_.startsWith("data/s1"))
    assert(added.nonEmpty && added.forall(_.contains("-dsv2-")),
      s"staged executor files must commit directly: $added")
    assert(snap.tombstones.nonEmpty && snap.tombstones.forall(_.contains("-tomb")),
      s"the executor-written key file is the tombstone: ${snap.tombstones}")
    assert(t.lastTxnVersion("dsv2k") === Some(0L))
    // a REPLAYED epoch absorbs: no new snapshot, no duplicate rows,
    // and the replay's staged halves (data + tomb) are discarded
    val snapsBefore = t.listSnapshots().size
    drain()
    assert(t.read().count() === 3L, "replay must not duplicate rows")
    assert(t.listSnapshots().size === snapsBefore, "an absorbed epoch commits nothing")
    val live = (t.currentSnapshot().get.files ++
      t.currentSnapshot().get.tombstones).map(_.split('/')(1)).toSet
    val dataDirs = graft.Fs.listAll(java.nio.file.Paths.get(root, "data"))
      .filter(java.nio.file.Files.isDirectory(_)).map(_.getFileName.toString)
    assert(dataDirs.forall(live),
      s"absorbed-epoch staged files must be discarded: $dataDirs vs $live")
  }

  test("keyed CoW CDC stream through DSv2: delete tags remove, inserts replace, bad tags fail loudly") {
    val root = tmpDir("dsv2-cdc")
    val t = new LakehouseTable(spark, root)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    val src = tmpDir("dsv2-cdc-src")
    Seq((1L, null.asInstanceOf[String], "delete"), (3L, "c", "insert"))
      .toDF("id", "v", "_change").coalesce(1)
      .write.mode("overwrite").json(src)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_change", org.apache.spark.sql.types.StringType)))
    val before = LakehouseWriteStats.writersCreated.get()
    val q = spark.readStream.schema(schema).json(src)
      .writeStream.format("graft-lakehouse")
      .option("path", root).option("keys", "id").option("txnAppId", "dsv2c")
      .option("checkpointLocation", tmpDir("dsv2-cdc-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    assert(LakehouseWriteStats.writersCreated.get() > before)
    assert(t.read().as[(Long, String)].collect().toSet ===
      Set((2L, "b"), (3L, "c")),
      "delete removes the key, insert lands, untouched rows survive")
    val snap = t.currentSnapshot().get
    assert(snap.operation === "apply")
    assert(snap.tombstones.isEmpty, "CoW keeps no tombstone")
    // the declared schema never adopts the op channel (V1 parity)
    assert(!org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.exists(_.equalsIgnoreCase("_change")))
    // an unknown tag fails the epoch loudly instead of corrupting
    Seq((9L, "x", "update_postimage")).toDF("id", "v", "_change").coalesce(1)
      .write.mode("overwrite").json(src)
    val q2 = spark.readStream.schema(schema).json(src)
      .writeStream.format("graft-lakehouse")
      .option("path", root).option("keys", "id").option("txnAppId", "dsv2c2")
      .option("checkpointLocation", tmpDir("dsv2-cdc-ckpt2"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    assert(failed.getMessage.contains("unsupported _change tag") ||
      Option(failed.getCause).exists(_.getMessage.contains("unsupported _change tag")))
  }

  test("DSv2 commit REBASES past a racing writer: both commits land, files written once") {
    // the race, staged deterministically at the commit primitive: the
    // DSv2 write CLAIMS its dir against snapshot 1, a racing writer
    // lands snapshot 2 before the commit, and commitWrittenFiles
    // re-commits the SAME files on the new head (the blind-append rule)
    val root = tmpDir("dsv2-race")
    val t = new LakehouseTable(spark, root)
    t.append(Seq(1L).toDF("id").coalesce(1)) // snap 1
    val (claimed, dirName) = t.claimWriteDir("spec")
    // "executor-written" file in the claimed dir
    val tmp = tmpDir("dsv2-race-stage")
    spark.range(10, 13).toDF("id").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = graft.Fs.listAll(java.nio.file.Paths.get(tmp))
      .find(p => p.getFileName.toString.startsWith("part-") &&
        p.toString.endsWith(".parquet")).get
    val rel = s"data/$dirName/part-00000-spec.parquet"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(root, "data", dirName))
    java.nio.file.Files.copy(part, java.nio.file.Paths.get(root, rel))
    // the race: another writer claims and lands the version first
    new LakehouseTable(spark, root).append(Seq(100L).toDF("id").coalesce(1)) // snap 2
    val snap = t.commitWrittenFiles(Seq(rel),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))),
      claimed, mark = None, targetAuthoritative = false).get
    assert(snap.parentId === Some(2L), "the commit rebased onto the racing head")
    assert(t.read().collect().map(_.getLong(0)).toSet ===
      Set(1L, 100L, 10L, 11L, 12L), "both commits' rows land")
    // the genuine conflict: a raced MoR tombstone NEWER than the claim
    val (claimed2, dirName2) = t.claimWriteDir("spec")
    val rel2 = s"data/$dirName2/part-00000-spec.parquet"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(root, "data", dirName2))
    java.nio.file.Files.copy(part, java.nio.file.Paths.get(root, rel2))
    t.append(Seq(200L).toDF("id").coalesce(1)) // the claim's id is taken
    t.applyChanges(Seq((1L, "delete")).toDF("id", "_change"), Seq("id"),
      mergeOnRead = true) // a tombstone with origin STRICTLY > claimed2
    intercept[ConcurrentCommitException] {
      t.commitWrittenFiles(Seq(rel2),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType))),
        claimed2, mark = None, targetAuthoritative = false)
    }
  }

  test("DSv2 writes round-trip every column type the V1 writer handled") {
    val cat = mkCatalog("dsv2w")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.typed")
    spark.sql(s"CREATE TABLE $cat.db.typed (id BIGINT, ts TIMESTAMP, d DATE, " +
      "dec DECIMAL(12,4), f FLOAT, bl BOOLEAN, bin BINARY, " +
      "arr ARRAY<DOUBLE>, m MAP<STRING,INT>, st STRUCT<a:INT,b:STRING>)")
    spark.sql(s"""INSERT INTO $cat.db.typed VALUES
      (1, TIMESTAMP'2026-03-01 12:34:56.789', DATE'2026-03-01', 1234.5678,
       CAST(1.5 AS FLOAT), true, CAST('xy' AS BINARY),
       array(1.0D, 2.5D), map('k', 7), named_struct('a', 3, 'b', 'z')),
      (2, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)""")
    val got = spark.sql(s"SELECT * FROM $cat.db.typed ORDER BY id").collect()
    assert(got.length === 2)
    val r = got(0)
    assert(r.getTimestamp(1) === java.sql.Timestamp.valueOf("2026-03-01 12:34:56.789"))
    assert(r.getDate(2) === java.sql.Date.valueOf("2026-03-01"))
    assert(r.getDecimal(3) === new java.math.BigDecimal("1234.5678"))
    assert(r.getFloat(4) === 1.5f && r.getBoolean(5))
    assert(new String(r.getAs[Array[Byte]](6), "UTF-8") === "xy")
    assert(r.getSeq[Double](7) === Seq(1.0, 2.5))
    assert(r.getMap[String, Int](8).toMap === Map("k" -> 7))
    assert(r.getStruct(9).getInt(0) === 3 && r.getStruct(9).getString(1) === "z")
    assert((1 to 9).forall(got(1).isNullAt), "null row round-trips")
    spark.sql(s"DROP TABLE $cat.db.typed")
  }

  test("keyless DDL-channel epoch through DSv2: rename + pinned-name data in ONE epoch land correctly") {
    import org.apache.spark.sql.streaming.Trigger
    // SOURCE table with the schema channel; keyless SINK — the DSv2
    // streaming face must route the `_change='schema'` records through
    // its commit messages and land the SAME epoch's data (which the
    // feed still speaks in its PINNED pre-rename name) in the RENAMED
    // column — the one-epoch rename+data interleave
    val src = new LakehouseTable(spark, tmpDir("dsv2-ddl-src"))
    src.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
    val dst = new LakehouseTable(spark, tmpDir("dsv2-ddl-dst"))
    dst.append(Seq((0L, "seed")).toDF("k", "v").coalesce(1)) // exists -> DSv2 face
    val ckpt = tmpDir("dsv2-ddl-ckpt")
    val before = LakehouseWriteStats.writersCreated.get()
    def drain(): Unit = {
      val q = spark.readStream.format("graft-changefeed")
        .option("path", src.root).option("emitSchemaChanges", "true").load()
        .writeStream.format("graft-lakehouse")
        .option("path", dst.root).option("txnAppId", "dsv2ddl")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000)); ()
    }
    drain() // epoch 0: bootstrap (no DDL) — pure executor-file commit
    assert(LakehouseWriteStats.writersCreated.get() > before,
      "the keyless DDL-channel stream must ride the DSv2 face")
    // ONE epoch carrying rename DDL + data rows (feed speaks 'v' still)
    src.renameColumn("v", "label")
    src.append(Seq((2L, "post")).toDF("k", "label").coalesce(1))
    drain() // epoch 1: schema rows + data rows together
    assert(dst.currentSnapshot().map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
        .filterNot(_ == "_change")).get === Set("k", "label"),
      "the rename record applied downstream")
    val got = spark.read.format("graft-lakehouse").load(dst.root)
      .select("k", "label").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((0L, "seed"), (1L, "a"), (2L, "post")),
      "the rename epoch's data rows must land in the RENAMED column, " +
        "not null out under a stale physical name")
  }

  test("the layout sort groups a hot partition value interleaved with 320 cold values into ONE file") {
    // one HOT value recurring between a stream of 320 cold values, all
    // from a single task: the write's layout sort groups the hot rows,
    // so the hot dir gets exactly one file
    val cat = mkCatalog("dsv2w")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.lru")
    spark.sql(s"CREATE TABLE $cat.db.lru (id BIGINT, pv STRING) PARTITIONED BY (pv)")
    val rows = (0 until 320).flatMap(i => Seq((i.toLong, "hot"), (i.toLong, s"c$i")))
    rows.toDF("id", "pv").coalesce(1).createOrReplaceTempView("lru_src")
    spark.sql(s"INSERT INTO $cat.db.lru SELECT id, pv FROM lru_src")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val t = new LakehouseTable(spark,
      java.nio.file.Paths.get(wh, "db", "lru").toString)
    val files = t.currentSnapshot().get.files
    val hotFiles = files.filter(_.contains("pv=hot/"))
    assert(hotFiles.size === 1,
      s"the hot (always-just-used) writer must never evict: $hotFiles")
    assert(files.size === 321, s"one file per partition value, got ${files.size}")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.lru WHERE pv = 'hot'")
      .head.getLong(0) === 320L)
    spark.sql(s"DROP TABLE $cat.db.lru")
  }

  test("a BATCH write carrying _ddl+_change columns keeps them as DATA (no silent channel divert)") {
    // the schema channel is a STREAMING contract; a batch INSERT that
    // legitimately materializes a raw changefeed (op + ddl columns as
    // data) must land every row — the round-14 face diverted
    // `_change='schema'` rows into commit messages the batch commit
    // never read, silently dropping them (ADVICE r14)
    val cat = mkCatalog("dsv2w")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.rawfeed")
    spark.sql(s"CREATE TABLE $cat.db.rawfeed (id BIGINT, _change STRING, _ddl STRING)")
    Seq((1L, "insert", null), (2L, "schema", """{"v":1,"seq":0,"op":"add"}"""),
      (3L, "delete", null))
      .toDF("id", "_change", "_ddl").coalesce(1)
      .createOrReplaceTempView("rawfeed_src")
    spark.sql(s"INSERT INTO $cat.db.rawfeed SELECT * FROM rawfeed_src")
    val got = spark.sql(s"SELECT id, _change FROM $cat.db.rawfeed ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "insert"), (2L, "schema"), (3L, "delete")),
      "batch writes have no DDL channel — schema-marked rows are data")
    spark.sql(s"DROP TABLE $cat.db.rawfeed")
  }

  test("DDL-mode stream declares _change at bootstrap, independent of commit path") {
    // round-14 what's-wrong #2: whether `_change` entered the DECLARED
    // schema depended on which commit path the first epochs took
    // (executor-file commits pin the target schema; driver-side DDL
    // epochs evolve additively). Rule now: declared at stream bootstrap
    import org.apache.spark.sql.streaming.Trigger
    val src = new LakehouseTable(spark, tmpDir("dsv2-boot-src"))
    src.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
    val dst = new LakehouseTable(spark, tmpDir("dsv2-boot-dst"))
    dst.append(Seq((0L, "seed")).toDF("k", "v").coalesce(1))
    val q = spark.readStream.format("graft-changefeed")
      .option("path", src.root).option("emitSchemaChanges", "true").load()
      .writeStream.format("graft-lakehouse")
      .option("path", dst.root).option("txnAppId", "dsv2boot")
      .option("checkpointLocation", tmpDir("dsv2-boot-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    // epoch 0 carried NO DDL (pure executor-file commit) — _change must
    // already be declared
    val declared = org.apache.spark.sql.types.DataType
      .fromJson(dst.currentSnapshot().get.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
    assert(declared.exists(_.equalsIgnoreCase("_change")),
      s"_change must be declared at stream bootstrap, got ${declared.toSeq}")
    assert(spark.read.format("graft-lakehouse").load(dst.root)
      .select("_change").where(col("_change") === "insert").count() === 1L)
  }

  test("a DDL epoch ORTHOGONAL to the batch's columns commits the executor files directly") {
    // rename of a column the feed never carries: the staged files are
    // already post-DDL-correct, so they land as-is (one write) instead
    // of the driver re-read/re-append (round-14 double-write)
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpDir("dsv2-orth")
    val t = new LakehouseTable(spark, root)
    t.append(Seq((0L, "seed", "x")).toDF("id", "v", "other").coalesce(1))
    val src = tmpDir("dsv2-orth-src")
    val rename = DdlRecord.rename(0, "other", "renamed").json
    Seq((1L, "a", "insert", null), (2L, "b", "insert", null),
      (-1L, null, "schema", rename))
      .toDF("id", "v", "_change", "_ddl").coalesce(1)
      .write.mode("overwrite").json(src)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_change", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_ddl", org.apache.spark.sql.types.StringType)))
    val filesBefore = t.currentSnapshot().get.files.toSet
    val q = spark.readStream.schema(schema).json(src)
      .writeStream.format("graft-lakehouse")
      .option("path", root).option("txnAppId", "dsv2orth")
      .option("checkpointLocation", tmpDir("dsv2-orth-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    // the rename applied...
    val declared = org.apache.spark.sql.types.DataType
      .fromJson(t.currentSnapshot().get.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
    assert(declared.contains("renamed") && !declared.contains("other"))
    // ...and the epoch's data files are the EXECUTOR-written ones (the
    // dsv2-claimed dir), not a driver re-write (s<id>-w<nonce> dirs)
    val added = t.currentSnapshot().get.files.toSet -- filesBefore
    assert(added.nonEmpty && added.forall(_.contains("-dsv2-")),
      s"orthogonal-DDL epoch must reuse the staged executor files: $added")
    val got = spark.read.format("graft-lakehouse").load(root)
      .select("id", "v", "renamed").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got === Seq((0L, "seed", "x"), (1L, "a", null), (2L, "b", null)))
  }

  test("a KEYED epoch with orthogonal DDL commits the executor halves directly too") {
    // the keyless shortcut, symmetric on the keyed face: a rename of a
    // column the feed never carries applies as DDL and the staged
    // data + tomb files land as-is (no driver reconstruction)
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpDir("dsv2-korth")
    val t = new LakehouseTable(spark, root)
    t.append(Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "v", "other").coalesce(1))
    val src = tmpDir("dsv2-korth-src")
    val rename = DdlRecord.rename(0, "other", "renamed").json
    Seq((1L, "A2", "insert", null), (3L, "c", "insert", null),
      (2L, null, "delete", null), (-1L, null, "schema", rename))
      .toDF("id", "v", "_change", "_ddl").coalesce(1)
      .write.mode("overwrite").json(src)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_change", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_ddl", org.apache.spark.sql.types.StringType)))
    val filesBefore = t.currentSnapshot().get.files.toSet
    val q = spark.readStream.schema(schema).json(src)
      .writeStream.format("graft-lakehouse")
      .option("path", root).option("keys", "id")
      .option("mergeOnRead", "true").option("txnAppId", "korth")
      .option("checkpointLocation", tmpDir("dsv2-korth-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val snap = t.currentSnapshot().get
    val declared = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
    assert(declared.contains("renamed") && !declared.contains("other"),
      "the orthogonal rename record must apply")
    val added = snap.files.toSet -- filesBefore
    assert(added.nonEmpty && added.forall(_.contains("-dsv2-")),
      s"orthogonal-DDL keyed epoch must land the staged executor files: $added")
    assert(snap.tombstones.nonEmpty && snap.tombstones.forall(_.contains("-tomb")),
      "the executor-written tomb file is the MoR tombstone")
    val got = spark.read.format("graft-lakehouse").load(root)
      .select("id", "v", "renamed").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSeq
    assert(got === Seq((1L, "A2", None), (3L, "c", None)),
      "upsert replaces id=1, delete removes id=2, insert lands id=3; " +
        "old 'other' values mask with their rows, new rows carry null")
  }

  test("bucket dirs hash the CAST value when the column plan widens (negative ints land right)") {
    // ADVICE r14: reading the unprojected row with the widened type
    // zero-extends negative ints (wrong bucket) or throws on generic
    // rows — the writer must cast-then-hash like the V1 layout
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val rootAbs = tmpDir("dsv2-widen-bkt")
    val conf = spark.sessionState.conf
    val parquetConf = Map(
      org.apache.spark.sql.internal.SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key ->
        conf.getConf(org.apache.spark.sql.internal.SQLConf.PARQUET_WRITE_LEGACY_FORMAT).toString,
      org.apache.spark.sql.internal.SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key ->
        conf.getConf(org.apache.spark.sql.internal.SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE).toString,
      org.apache.spark.sql.internal.SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key -> "true",
      org.apache.spark.sql.internal.SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key ->
        conf.getConf(org.apache.spark.sql.internal.SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString,
      org.apache.spark.sql.internal.SQLConf.SESSION_LOCAL_TIMEZONE.key ->
        conf.sessionLocalTimeZone)
    // the batch speaks INT for a BIGINT-declared bucket column — the
    // stale-loaded-schema / DSv2-stream shape
    val plan = Seq(
      WriteColPlan(0, "k", IntegerType, LongType, None),
      WriteColPlan(1, "v", StringType, StringType, None))
    val w = new LakehouseDataWriter(rootAbs, "s1-spec-w1", plan,
      Seq(WritePartCol(0, Some(4))), conf.sessionLocalTimeZone, parquetConf,
      "snappy", ddlMode = false, changeIdx = -1, ddlIdx = -1,
      partitionId = 0, taskId = 0L)
    // a GenericInternalRow (int slot) — round 14 threw ClassCastException
    val ks = Seq(-7, -1, 3)
    ks.foreach(k => w.write(InternalRow(k, UTF8String.fromString(s"v$k"))))
    val msg = w.commit().asInstanceOf[LakehouseWriteMessage]
    ks.foreach { k =>
      val expect = LakehouseTable.bucketId(k.toLong, LongType, 4)
      assert(msg.files.exists(_.contains(s"k_bucket=$expect")),
        s"k=$k must hash its WIDENED value into bucket $expect: ${msg.files}")
    }
  }

  test("DSv2 batch files carry field-id stamps and write-time footer stats prune") {
    val cat = mkCatalog("dsv2w")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.stamped")
    spark.sql(s"CREATE TABLE $cat.db.stamped (id BIGINT, v STRING)") // snap 1: ids confirmed
    spark.sql(s"INSERT INTO $cat.db.stamped SELECT id, concat('v', id) FROM range(100)")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val root = java.nio.file.Paths.get(wh, "db", "stamped").toString
    val t = new LakehouseTable(spark, root)
    val file = t.currentSnapshot().get.files.head
    // the executor-written footer carries the head-confirmed field ids
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      new org.apache.hadoop.conf.Configuration(),
      new org.apache.hadoop.fs.Path(java.nio.file.Paths.get(root, file).toString))
    val idByName = footer.getFileMetaData.getSchema.getFields
      .toArray.map(_.asInstanceOf[org.apache.parquet.schema.Type])
      .map(f => f.getName -> Option(f.getId).map(_.intValue)).toMap
    assert(idByName("id") === Some(1) && idByName("v") === Some(2),
      s"executor-written files must stamp parquet.field.id: $idByName")
    // manifest stats recorded at commit: a range probe prunes files
    assert(t.currentSnapshot().get.stats.exists(_.get(file).exists(_.cols.nonEmpty)))
    spark.sql(s"DROP TABLE $cat.db.stamped")
  }

  /** Rows in one written parquet file, from its footer. */
  private def footerRows(path: java.nio.file.Path): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path.toString), new org.apache.hadoop.conf.Configuration()))
    try r.getRecordCount finally r.close()
  }

  test("a table-API append whose first task is empty writes one file and no zero-row file or _SUCCESS") {
    val root = tmpDir("lw-empty-task")
    val t = new LakehouseTable(spark, root)
    // four tasks; the one row lands in the last, so task 0 is empty
    val snap = t.append(spark.range(0, 1, 1, 4).toDF("id"))
    assert(snap.files.size === 1, s"one row must commit one file: ${snap.files}")
    assert(footerRows(java.nio.file.Paths.get(root, snap.files.head)) === 1L)
    val claimDir = java.nio.file.Paths.get(root, LakehouseTable.claimDirOf(snap.files.head))
    val onDisk = graft.Fs.walkAll(claimDir).filter(java.nio.file.Files.isRegularFile(_))
    assert(!onDisk.exists(_.getFileName.toString == "_SUCCESS"), s"_SUCCESS written: $onDisk")
    val parts = onDisk.filter(_.getFileName.toString.endsWith(".parquet"))
    assert(parts.size === 1 && parts.forall(footerRows(_) > 0),
      s"the claim dir holds a zero-row part file: $parts")
  }

  /** Each hive dir of `files` holds exactly one of them; the dirs. */
  private def oneFilePerDir(face: String, files: Seq[String]): Set[Seq[String]] = {
    val byDir = files.groupBy(f => LakehouseTable.hiveSegsOf(f).toSeq)
    assert(byDir.values.forall(_.size == 1),
      s"$face: ${files.size} files for ${byDir.size} partition dirs")
    byDir.keySet
  }

  test("compact to one task over 100 interleaved identity-partition values lands one file per value") {
    // every write face meets the 100 values interleaved in one task:
    // the write's layout sort alone keeps one file per value
    val values = (0L until 100L).map(p => Seq(s"p=$p")).toSet
    // the table API: flat files whose rows cycle through every value,
    // so the one compaction task meets the values interleaved
    val root = tmpDir("lw-compact-100")
    val t = new LakehouseTable(spark, root)
    val df = spark.range(0, 2000, 1, 4).select(col("id"), (col("id") % 100).as("p"))
    t.append(df)
    t.append(df)
    t.setPartitionSpec(Seq("p"))
    val snap = t.compact(fileThreshold = 1, maxRows = Long.MaxValue, targetFiles = 1).get
    assert(oneFilePerDir("compact", snap.files) === values)
    assert(t.read().collect().length === 4000)

    // SQL INSERT INTO a PARTITIONED BY (p) catalog table, one task
    // cycling through the values five times
    val cat = mkCatalog("dsv2w")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.cyc")
    spark.sql(s"CREATE TABLE $cat.db.cyc (id BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.db.cyc SELECT id, id % 100 FROM range(0, 500, 1, 1)")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val ct = new LakehouseTable(spark, java.nio.file.Paths.get(wh, "db", "cyc").toString)
    assert(oneFilePerDir("SQL INSERT", ct.currentSnapshot().get.files) === values)
    assert(spark.sql(s"SELECT count(*), count(DISTINCT p) FROM $cat.db.cyc").head ===
      org.apache.spark.sql.Row(500L, 100L))
    spark.sql(s"DROP TABLE $cat.db.cyc")

    // the path face's keyed writeStream: one input file, one task
    val src = tmpDir("lw-cyc-stream-src") + "/in"
    spark.range(0, 500, 1, 1).select(col("id"), (col("id") % 100).as("p"))
      .write.json(src)
    val sroot = tmpDir("lw-cyc-stream")
    val q = spark.readStream.schema("id BIGINT, p BIGINT").json(src)
      .writeStream.format("graft-lakehouse")
      .option("path", sroot).option("keys", "id").option("partitionBy", "p")
      .option("checkpointLocation", tmpDir("lw-cyc-stream-ck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "the keyed stream did not drain")
    val st = new LakehouseTable(spark, sroot)
    assert(oneFilePerDir("keyed writeStream", st.currentSnapshot().get.files) === values)
    assert(st.read().collect().length === 500)
  }

  test("a one-task write to an identity + bucket layout lands at most one file per dir") {
    // 20 identity values x 4 buckets, consecutive rows in different
    // dirs: the sort groups rk, and the writer keeps one file per bucket
    // dir of the current rk open
    def bucketOf(k: Long) = LakehouseTable.bucketId(k, org.apache.spark.sql.types.LongType, 4)
    val dirs = (0L until 800L).map(k => Seq(s"rk=r${k % 20}", s"k_bucket=${bucketOf(k)}")).toSet
    assert(dirs.size === 80, "every (rk, k_bucket) pair is present")
    val cat = mkCatalog("dsv2w")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.mixed")
    spark.sql(s"CREATE TABLE $cat.db.mixed (k BIGINT, rk STRING, v STRING) " +
      "PARTITIONED BY (rk, bucket(4, k))")
    spark.sql(s"INSERT INTO $cat.db.mixed " +
      "SELECT id, concat('r', id % 20), concat('v', id) FROM range(0, 800, 1, 1)")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val mt = new LakehouseTable(spark, java.nio.file.Paths.get(wh, "db", "mixed").toString)
    assert(oneFilePerDir("SQL INSERT", mt.currentSnapshot().get.files) === dirs)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.mixed WHERE rk = 'r3'").head.getLong(0) === 40L)
    spark.sql(s"DROP TABLE $cat.db.mixed")
    // the staged table-API face: one file per dir, as when the staged
    // write sorted by every dir column
    val t = new LakehouseTable(spark, tmpDir("lw-mixed-api"))
    val snap = t.append(spark.range(0, 800, 1, 1).select(col("id").as("k"),
      concat(lit("r"), col("id") % 20).as("rk"), concat(lit("v"), col("id")).as("v")),
      Seq("rk", "bucket(4, k)"))
    assert(oneFilePerDir("table-API append", snap.files) === dirs)
    assert(snap.files.size === 80)
    assert(t.read().collect().length === 800)
  }

  test("a staged bucket-only append keeps one open file per task at a time") {
    // 4 tasks x 64 buckets: unsorted by bucket id, every task held all
    // 64 bucket files open at once (256 parquet writers sharing the
    // heap's row-group budget); sorted, each holds one
    val t = new LakehouseTable(spark, tmpDir("lw-bucket-open"))
    LakehouseWriteStats.peakOpenFiles.set(0)
    val snap = t.append(spark.range(0, 64000, 1, 4).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v")), Seq("bucket(64, k)"))
    assert(LakehouseWriteStats.peakOpenFiles.get === 1L)
    assert(snap.files.size === 256)
    assert(snap.files.map(f => LakehouseTable.hiveSegsOf(f).toSeq).distinct.size === 64)
    assert(t.read().collect().length === 64000)
  }

  test("writer-side file stats equal a footer read: flat, hive and bucketed, strings and nulls") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType), StructField("rk", StringType),
      StructField("s", StringType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("allnull", StringType)))
    val rows = (0 until 200).map { n =>
      org.apache.spark.sql.Row(n.toLong, s"r${n % 3}", if (n % 5 == 0) null else s"s\u00e9$n",
        if (n % 7 == 0) null else n - 100, if (n % 11 == 0) 0.0 else n * 0.5,
        if (n % 2 == 0) -n.toFloat else n.toFloat, null)
    }
    import scala.jdk.CollectionConverters._
    def batch(from: Int) = spark.createDataFrame(rows.drop(from).asJava, schema).repartition(3)
    for ((layout, spec) <- Seq("flat" -> Nil, "hive" -> Seq("rk"),
        "bucketed" -> Seq("bucket(4, k)"))) {
      val t = new LakehouseTable(spark, tmpDir(s"lw-stats-$layout"))
      t.append(batch(0), spec)
      t.upsert(batch(150), Seq("k")) // a keyed commit: survivors + inserts
      val snap = t.currentSnapshot().get
      val stats = snap.stats.getOrElse(fail(s"$layout: no manifest stats"))
      assert(snap.files.nonEmpty && snap.files.forall(stats.contains), layout)
      snap.files.foreach { f =>
        val path = java.nio.file.Paths.get(t.root, f)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(path.toString), spark.sessionState.newHadoopConf()))
        val fromFooter = try LakehouseTable.footerStats(reader.getFooter,
          Some(java.nio.file.Files.size(path)), _.toLowerCase(java.util.Locale.ROOT))
          finally reader.close()
        assert(stats(f) === fromFooter, s"$layout $f")
      }
      assert(stats.values.exists(_.cols.get("s").exists(_.nulls.exists(_ > 0))), layout)
      assert(stats.values.forall(st => !st.cols.contains("allnull")), layout)
      // the commits took every file's stats from its writer
      assert(t.footerOpens.get === 0L, layout)
    }
  }
}
