package graft.lakehouse

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Type-widening and column-rename schema evolution (round 10): the
  * two upstream-CDC ALTER shapes a replication target actually meets.
  *
  * Widening: INT→BIGINT (the classic upstream retype) flows into the
  * manifest schema — a WIDER batch evolves the union schema (old files
  * upcast in the parquet readers, so the vectorized path stays on), a
  * NARROWER batch casts up at write. Renames: ALTER TABLE RENAME
  * COLUMN is a schema-only snapshot carrying the former name with its
  * rename point ([[AliasEntry]]); the NATIVE scan — the one read path,
  * behind the DSv2 face and the programmatic reads alike — groups files
  * by rename epoch and reads each group in its physical names, and
  * compaction folds epochs back to one. Time travel sees each
  * snapshot's own shape.
  */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def dsv2(t: LakehouseTable): DataFrame =
    spark.read.format("graft-lakehouse").load(t.root)

  private def isNative(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.nonEmpty

  test("a WIDER batch (int→long) evolves the union schema; old narrow files upcast on read") {
    val t = new LakehouseTable(spark, tmpDir("ev-widen"))
    t.append(Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1)) // k: INT
    t.append(Seq((3L, "c")).toDF("k", "v").coalesce(1)) // k: LONG — widens
    val df = dsv2(t)
    assert(df.schema("k").dataType === LongType, "union schema takes the wide type")
    assert(df.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(isNative(df), "a widened lineage must stay on the native vectorized scan")
    // programmatic read path too (V1 machinery used by compact/DML)
    assert(t.read().schema("k").dataType === LongType)
    assert(t.read().select("k").collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
  }

  test("a NARROWER batch casts up at write; float→double widens; retypes still refuse") {
    val t = new LakehouseTable(spark, tmpDir("ev-narrow"))
    t.append(Seq((1L, 1.5f)).toDF("k", "x").coalesce(1)) // k LONG, x FLOAT
    t.append(Seq((2, 2.5d)).toDF("k", "x").coalesce(1)) // k INT (narrower), x DOUBLE (wider)
    val df = t.read()
    assert(df.schema("k").dataType === LongType)
    assert(df.schema("x").dataType === DoubleType)
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      === Set((1L, 1.5d), (2L, 2.5d)))
    val e = intercept[IllegalArgumentException](
      t.append(Seq(("oops", 1.0d)).toDF("k", "x")))
    assert(e.getMessage.contains("incompatible type change"))
  }

  test("widening composes with stats pruning and keyed writes (upsert across the width change)") {
    val t = new LakehouseTable(spark, tmpDir("ev-widen-keyed"))
    t.append((1 to 1000).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1)) // INT keys
    t.append((2001L to 3000L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1)) // LONG keys
    // point lookup through the skipping path: stats recorded as "long"
    // on both sides of the widening
    assert(t.read(Seq(ScanPredicate.EqualTo("k", 500L))).select("v")
      .head.getString(0) === "v500")
    // keyed upsert touching only the narrow file rewrites only it
    val before = t.currentSnapshot().get.files
    t.upsert(Seq((500L, "UP")).toDF("k", "v"), Seq("k"))
    val after = t.currentSnapshot().get.files
    assert(before.count(after.contains) === 1, "the wide file must carry by reference")
    assert(t.read(Seq(ScanPredicate.EqualTo("k", 500L))).select("v")
      .head.getString(0) === "UP")
  }

  test("ALTER-style widenColumn is a schema-only snapshot; merge-on-read masks across the width") {
    val t = new LakehouseTable(spark, tmpDir("ev-widen-mor"))
    t.append(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v").coalesce(1))
    val files0 = t.currentSnapshot().get.files
    t.widenColumn("k", LongType)
    assert(t.currentSnapshot().get.files === files0, "widen rewrites nothing")
    assert(t.currentSnapshot().get.operation === "alter")
    assert(dsv2(t).schema("k").dataType === LongType)
    // MoR delete keyed on the WIDE type must mask rows in the narrow file
    t.applyChanges(Seq((2L, "x", "delete")).toDF("k", "v", "_change"),
      Seq("k"), mergeOnRead = true)
    val df = dsv2(t)
    assert(isNative(df), "widened MoR snapshot stays native")
    assert(df.select("k").collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    val e = intercept[IllegalArgumentException](t.widenColumn("v", LongType))
    assert(e.getMessage.contains("lossless"))
  }

  test("RENAME COLUMN: schema-only, old files read NATIVE through epoch grouping, compaction folds epochs") {
    val t = new LakehouseTable(spark, tmpDir("ev-rename"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    val preRename = t.currentSnapshot().get.snapshotId
    val files0 = t.currentSnapshot().get.files
    t.renameColumn("k", "id")
    assert(t.currentSnapshot().get.files === files0, "rename rewrites nothing")
    // reads resolve the OLD physical name into the new column — and
    // stay NATIVE: files group by rename epoch, each group reads in
    // its physical names, relabelled positionally to current names
    val df = dsv2(t)
    assert(df.columns.toSeq === Seq("id", "v"))
    assert(df.select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "a"), (2L, "b")))
    assert(isNative(df), "pre-rename files must read NATIVE via epoch grouping")
    assert(df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.supportsColumnar }.contains(true),
      "renamed lineage must keep columnar reads")
    // new writes land under the current name and mix with old files
    t.append(Seq((3L, "c")).toDF("id", "v").coalesce(1))
    assert(dsv2(t).select("id").collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    // a batch still using the FORMER name canonicalizes into the column
    t.append(Seq((4L, "d")).toDF("k", "v").coalesce(1))
    assert(dsv2(t).select("id").collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
    // time travel BEFORE the rename sees the old shape
    assert(t.scanAtSnapshot(preRename).columns.toSeq === Seq("k", "v"))
    // compaction rewrites under current names (single epoch again)
    t.compact(fileThreshold = 1, maxRows = 100000000L)
    val healed = dsv2(t)
    assert(isNative(healed), "post-compaction the table keeps native reads")
    assert(healed.select("id").collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
  }

  test("rename guards: name reuse refused, live tombstones refused, skipping reads survive") {
    val t = new LakehouseTable(spark, tmpDir("ev-rename-guards"))
    t.append((1L to 100L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1))
    t.renameColumn("k", "id")
    // predicate pushdown on the RENAMED column still answers correctly
    // (old files' stats are keyed by the old name — no wrong pruning)
    assert(t.read(Seq(ScanPredicate.EqualTo("id", 7L))).select("v")
      .head.getString(0) === "v7")
    // FORMER-name reuse is legal under identity resolution (FIELD_IDS
    // step 2): the reborn namesake is a NEW field id with a floor —
    // pre-floor files serve it as NULL (their physical 'k' bytes belong
    // to 'id' and keep resolving THERE), with zero compaction needed
    t.addColumns(Seq(StructField("k", StringType)))
    val reused = dsv2(t)
    assert(reused.columns.toSeq === Seq("id", "v", "k"))
    assert(reused.select("id").collect().map(_.getLong(0)).toSet
      === (1L to 100L).toSet, "the renamed column still reads its old bytes")
    assert(reused.select("k").collect().forall(_.isNullAt(0)),
      "the reborn namesake must read NULL from pre-floor files — " +
        "the old physical 'k' bytes belong to 'id', not to new 'k'")
    t.dropColumn("k") // restore the original shape for the MoR half below
    // MoR tombstones keyed on the RENAMED column still mask rows in
    // pre-rename files (the reader's epoch schema exposes the current
    // name; old-name stats merely prune less, never wrongly)
    t.applyChanges(Seq((5L, "x", "delete")).toDF("id", "v", "_change"),
      Seq("id"), mergeOnRead = true)
    val morDf = dsv2(t)
    assert(morDf.collect().length === 99,
      "a tombstone on the renamed key must mask the pre-rename file's row")
    assert(morDf.filter(org.apache.spark.sql.functions.col("id") === 5L)
      .collect().isEmpty)
    val e3 = intercept[Exception](t.renameColumn("v", "w"))
    assert(e3.getMessage.contains("compact"), e3.getMessage)
    t.compact(fileThreshold = 1, maxRows = 100000000L)
    t.renameColumn("v", "w") // now fine
    assert(dsv2(t).columns.toSeq === Seq("id", "w"))
  }

  test("catalog DDL: ALTER TABLE RENAME COLUMN and ALTER COLUMN TYPE ride the same machinery") {
    val wh = tmpDir("ev-cat-wh")
    spark.conf.set("spark.sql.catalog.evcat", classOf[LakehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.evcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS evcat.db")
    spark.sql("DROP TABLE IF EXISTS evcat.db.ev")
    spark.sql("CREATE TABLE evcat.db.ev (k INT, v STRING)")
    spark.sql("INSERT INTO evcat.db.ev VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE evcat.db.ev ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE evcat.db.ev RENAME COLUMN v TO label")
    spark.sql("INSERT INTO evcat.db.ev VALUES (3, 'c')")
    val got = spark.sql("SELECT k, label FROM evcat.db.ev ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // a lossy retype refuses loudly — Spark's analyzer rejects the
    // narrowing before our catalog even sees it; a widening we don't
    // support (string) dies in widenColumn's lattice check
    val e = intercept[Exception](
      spark.sql("ALTER TABLE evcat.db.ev ALTER COLUMN k TYPE INT"))
    assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), e.getMessage)
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE evcat.db.ev ALTER COLUMN label TYPE BINARY"))
    assert(e2.getMessage.contains("lossless") ||
      e2.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), e2.getMessage)
    spark.sql("DROP TABLE evcat.db.ev")
  }

  test("changesBetween across a rename: metadata-only rename diffs EMPTY, later changes speak current names") {
    val t = new LakehouseTable(spark, tmpDir("ev-cdf-rename"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1))
    val s1 = t.currentSnapshot().get.snapshotId
    t.renameColumn("k", "id")
    val s2 = t.currentSnapshot().get.snapshotId
    // a rename rewrites no data: the change feed must be SILENT (the
    // naive union would pair k-null against id-null rows and replay the
    // whole table as delete+insert churn into every streaming replica)
    assert(t.changesBetween(s1, s2).count() === 0L,
      "a metadata-only rename must produce zero change rows")
    // changes across the rename boundary arrive under CURRENT names
    t.upsert(Seq((2L, "B2")).toDF("id", "v"), Seq("id"))
    val s3 = t.currentSnapshot().get.snapshotId
    val ch = t.changesBetween(s1, s3).collect()
      .map(r => (r.getAs[String]("_change"), r.getAs[Long]("id"), r.getAs[String]("v")))
      .toSet
    assert(ch === Set(("insert", 2L, "B2"), ("delete", 2L, "b")),
      s"diff across the rename must align the renamed column, got ${ch.mkString(",")}")
    // MoR tombstones landing AFTER a rename still diff correctly
    // (full-content fallback — correctness over the shortcut)
    t.applyChanges(Seq((1L, "a", "delete")).toDF("id", "v", "_change"),
      Seq("id"), mergeOnRead = true)
    val s4 = t.currentSnapshot().get.snapshotId
    val ch2 = t.changesBetween(s1, s4).collect()
      .map(r => (r.getAs[String]("_change"), r.getAs[Long]("id"))).toSet
    assert(ch2 === Set(("insert", 2L), ("delete", 2L), ("delete", 1L)), ch2.mkString(","))
  }

  test("renaming a declared partition or bucket-source column refuses (later INSERTs would break)") {
    val wh = tmpDir("ev-rename-part-wh")
    spark.conf.set("spark.sql.catalog.evrcat", classOf[LakehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.evrcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS evrcat.db")
    spark.sql("DROP TABLE IF EXISTS evrcat.db.pt")
    spark.sql("DROP TABLE IF EXISTS evrcat.db.bt")
    spark.sql("CREATE TABLE evrcat.db.pt (k BIGINT, cell STRING) PARTITIONED BY (cell)")
    spark.sql("INSERT INTO evrcat.db.pt VALUES (1, 'a')")
    val e1 = intercept[Exception](
      spark.sql("ALTER TABLE evrcat.db.pt RENAME COLUMN cell TO zone"))
    assert(e1.getMessage.contains("partition layout"), e1.getMessage)
    spark.sql("CREATE TABLE evrcat.db.bt (k BIGINT, v STRING) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO evrcat.db.bt VALUES (1, 'a')")
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE evrcat.db.bt RENAME COLUMN k TO id"))
    assert(e2.getMessage.contains("partition layout"), e2.getMessage)
    // a NON-layout column renames fine on the same tables
    spark.sql("ALTER TABLE evrcat.db.bt RENAME COLUMN v TO label")
    spark.sql("INSERT INTO evrcat.db.bt VALUES (2, 'b')")
    assert(spark.sql("SELECT label FROM evrcat.db.bt ORDER BY k").collect()
      .map(_.getString(0)).toSeq === Seq("a", "b"))
    spark.sql("DROP TABLE evrcat.db.pt")
    spark.sql("DROP TABLE evrcat.db.bt")
  }

  test("widening a bucket-source column refuses: the bucket hash is width-sensitive") {
    val wh = tmpDir("ev-widen-bucket-wh")
    spark.conf.set("spark.sql.catalog.evwcat", classOf[LakehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.evwcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS evwcat.db")
    spark.sql("DROP TABLE IF EXISTS evwcat.db.bw")
    spark.sql("CREATE TABLE evwcat.db.bw (k INT, x FLOAT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO evwcat.db.bw VALUES (1, 1.5, 'a'), (2, 2.5, 'b')")
    // DDL widening of the bucket source refuses loudly
    val e1 = intercept[Exception](
      spark.sql("ALTER TABLE evwcat.db.bw ALTER COLUMN k TYPE BIGINT"))
    assert(e1.getMessage.contains("width-sensitive"), e1.getMessage)
    // append-driven widening (a WIDER batch) refuses the same way — it
    // would silently evolve the union schema and orphan bucket dirs
    val root = java.nio.file.Paths.get(wh, "db", "bw").toString
    val t = new LakehouseTable(spark, root)
    val e2 = intercept[IllegalArgumentException](
      t.append(Seq((3L, 3.5f, "c")).toDF("k", "x", "v")))
    assert(e2.getMessage.contains("width-sensitive"), e2.getMessage)
    // a NON-layout column still widens fine on the same table, and a
    // NARROWER-or-equal batch still flows
    spark.sql("ALTER TABLE evwcat.db.bw ALTER COLUMN x TYPE DOUBLE")
    spark.sql("INSERT INTO evwcat.db.bw VALUES (3, 3.5, 'c')")
    assert(spark.sql("SELECT v FROM evwcat.db.bw WHERE k = 3").head.getString(0) === "c")
    // bucket pruning still answers every key exactly (nothing orphaned)
    (1 to 3).foreach { k =>
      assert(spark.sql(s"SELECT count(*) AS c FROM evwcat.db.bw WHERE k = $k")
        .head.getLong(0) === 1L, s"key $k must stay reachable")
    }
    spark.sql("DROP TABLE evwcat.db.bw")
  }

  test("partition-spec evolution: old files never mis-prune, SPJ stands down, compaction heals, layout columns unblock") {
    val wh = tmpDir("ev-spec-wh")
    spark.conf.set("spark.sql.catalog.evscat", classOf[LakehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.evscat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS evscat.db")
    Seq("sp", "dim").foreach(n => spark.sql(s"DROP TABLE IF EXISTS evscat.db.$n"))
    spark.sql("CREATE TABLE evscat.db.sp (k BIGINT, v STRING) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO evscat.db.sp SELECT id, concat('v', id) FROM range(0, 200)")
    // evolve bucket(4) → bucket(8): new files new layout
    spark.sql("CALL evscat.system.set_partition_spec(table => 'db.sp', spec => 'bucket(8, k)')")
    spark.sql("INSERT INTO evscat.db.sp SELECT id, concat('v', id) FROM range(200, 400)")
    // the mis-prune trap: a key in a PRE-evolution file whose old dir id
    // (mod 4) differs from its new id (mod 8) must still be found
    (0L until 200L by 17L).foreach { k =>
      assert(spark.sql(s"SELECT v FROM evscat.db.sp WHERE k = $k").collect()
        .map(_.getString(0)).toSeq === Seq(s"v$k"), s"pre-evolution key $k lost")
    }
    assert(spark.sql("SELECT count(*) FROM evscat.db.sp").head.getLong(0) === 400L)
    // SPJ against a bucket(8, k) dim STANDS DOWN on the mixed lineage …
    spark.sql("CREATE TABLE evscat.db.dim (k BIGINT, tag STRING) PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO evscat.db.dim SELECT id, 'd' FROM range(0, 400)")
    def exchanges(): Int = {
      // join-only plan: a global aggregate would add its own exchange
      val df = spark.sql("SELECT a.k, b.tag FROM evscat.db.sp a JOIN evscat.db.dim b ON a.k = b.k")
      "\\(\\d+\\) Exchange".r.findAllIn(
        df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode
          .fromString("formatted"))).size
    }
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(exchanges() > 0, "mixed-spec lineage must NOT report bucket SPJ")
      // … and compaction heals: one uniform bucket(8) layout, zero-shuffle join
      spark.sql("CALL evscat.system.compact(table => 'db.sp', file_threshold => 1, " +
        "max_rows => 100000000, target_files => 1)")
      assert(exchanges() === 0, "post-compaction the bucket(8) SPJ must resume")
      assert(spark.sql("SELECT count(*) FROM evscat.db.sp").head.getLong(0) === 400L)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    // evolving a column OUT of the layout unblocks its rename (the
    // formerly PERMANENT refusal)
    spark.sql("CALL evscat.system.set_partition_spec(table => 'db.sp', spec => '')")
    spark.sql("ALTER TABLE evscat.db.sp RENAME COLUMN k TO id")
    spark.sql("INSERT INTO evscat.db.sp VALUES (9999, 'z')")
    assert(spark.sql("SELECT count(*) FROM evscat.db.sp WHERE id >= 0").head.getLong(0) === 401L)
    Seq("sp", "dim").foreach(n => spark.sql(s"DROP TABLE evscat.db.$n"))
  }

  test("partition-spec evolution preserves the other catalog metadata keys") {
    val wh = tmpDir("ev-spec-meta-wh")
    spark.conf.set("spark.sql.catalog.evmcat", classOf[LakehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.evmcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS evmcat.db")
    spark.sql("DROP TABLE IF EXISTS evmcat.db.mp")
    spark.sql("CREATE TABLE evmcat.db.mp (k BIGINT, cell STRING) PARTITIONED BY (cell) " +
      "TBLPROPERTIES ('optimizeWrite' = 'true')")
    spark.sql("INSERT INTO evmcat.db.mp VALUES (1, 'a'), (2, 'b')")
    spark.sql("CALL evmcat.system.set_partition_spec(table => 'db.mp', spec => 'bucket(4, k)')")
    val meta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(wh, "db", "mp", "_catalog.json"))
    assert(meta.replace(" ", "").contains("\"optimizeWrite\":true"),
      s"optimizeWrite clobbered: $meta")
    assert(meta.contains("bucket(4, k)") && meta.contains("partitionSpecSince"), meta)
    // new writes take the NEW layout (bucket dirs, not cell dirs)
    spark.sql("INSERT INTO evmcat.db.mp VALUES (3, 'c')")
    val t = new LakehouseTable(spark, java.nio.file.Paths.get(wh, "db", "mp").toString)
    val newest = t.currentSnapshot().get.files.filter(_.contains("k_bucket="))
    assert(newest.nonEmpty, "post-evolution writes must carry the bucket layout")
    assert(spark.sql("SELECT count(*) FROM evmcat.db.mp").head.getLong(0) === 3L)
    // evolving again replaces the since marker, not duplicates it
    spark.sql("CALL evmcat.system.set_partition_spec(table => 'db.mp', spec => 'cell')")
    val meta2 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(wh, "db", "mp", "_catalog.json"))
    assert("partitionSpecSince".r.findAllIn(meta2).size === 1, meta2)
    assert(meta2.replace(" ", "").contains("\"optimizeWrite\":true"), meta2)
    spark.sql("DROP TABLE evmcat.db.mp")
  }

  test("DROP COLUMN: schema-only, stale data can't resurrect, lagging batches discard, compaction unblocks re-use") {
    val t = new LakehouseTable(spark, tmpDir("ev-drop"))
    t.append(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "x").coalesce(1))
    val preDrop = t.currentSnapshot().get.snapshotId
    val files0 = t.currentSnapshot().get.files
    t.dropColumn("x")
    assert(t.currentSnapshot().get.files === files0, "drop rewrites nothing")
    assert(t.currentSnapshot().get.operation === "alter")
    val df = dsv2(t)
    assert(df.columns.toSeq === Seq("k", "v"))
    assert(isNative(df), "post-drop reads stay on the native scan")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "a"), (2L, "b")))
    // time travel BEFORE the drop still sees the column + its values
    assert(t.scanAtSnapshot(preDrop).select("x").collect()
      .map(_.getInt(0)).toSet === Set(10, 20))
    // a LAGGING batch still carrying x writes WITHOUT it (discarded) —
    // the CDC-replication contract, not an additive re-add
    t.append(Seq((3L, "c", 30)).toDF("k", "v", "x").coalesce(1))
    assert(dsv2(t).columns.toSeq === Seq("k", "v"))
    assert(dsv2(t).count() === 3L)
    // re-ADDING the name works IMMEDIATELY (identity resolution,
    // FIELD_IDS step 2): the reborn column is a NEW field id with a
    // floor — pre-drop files keep their stale 'x' bytes on disk but
    // serve NULL, with zero compaction needed
    t.addColumns(Seq(StructField("x", StringType)))
    val re = dsv2(t)
    assert(re.columns.toSeq === Seq("k", "v", "x"))
    assert(isNative(re), "a reborn lineage must stay on the native scan")
    assert(re.select("x").collect().forall(_.isNullAt(0)),
      "re-added column must read NULL everywhere — stale values must not resurrect")
    // post-floor writes serve the NEW identity; pre-floor rows stay NULL
    t.append(Seq((4L, "d", "fresh")).toDF("k", "v", "x").coalesce(1))
    assert(dsv2(t).collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSet
      === Set((1L, None), (2L, None), (3L, None), (4L, Some("fresh"))))
    // compaction still heals the lineage physically (stale bytes GONE,
    // registries clear) and values are unchanged
    t.compact(fileThreshold = 1, maxRows = 100000000L)
    assert(t.currentSnapshot().get.rebornFloors.isEmpty,
      "a whole-table rewrite clears the reborn floors")
    assert(dsv2(t).collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSet
      === Set((1L, None), (2L, None), (3L, None), (4L, Some("fresh"))))
    // guards: last column, missing column, live tombstones
    val g = new LakehouseTable(spark, tmpDir("ev-drop-g"))
    g.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
    intercept[IllegalArgumentException](g.dropColumn("nope"))
    g.dropColumn("v")
    val e3 = intercept[IllegalArgumentException](g.dropColumn("k"))
    assert(e3.getMessage.contains("last column"), e3.getMessage)
    val m = new LakehouseTable(spark, tmpDir("ev-drop-mor"))
    m.append(Seq((1L, "a", 1)).toDF("k", "v", "x").coalesce(1))
    m.applyChanges(Seq((1L, "z", 1, "delete")).toDF("k", "v", "x", "_change"),
      Seq("k"), mergeOnRead = true)
    val e4 = intercept[Exception](m.dropColumn("x"))
    assert(e4.getMessage.contains("tombstone"), e4.getMessage)
  }

  test("DROP COLUMN via catalog DDL and the schema-history channel") {
    val wh = tmpDir("ev-dropcat-wh")
    spark.conf.set("spark.sql.catalog.evdcat", classOf[LakehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.evdcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS evdcat.db")
    spark.sql("DROP TABLE IF EXISTS evdcat.db.dt")
    spark.sql("CREATE TABLE evdcat.db.dt (k BIGINT, v STRING, x INT)")
    spark.sql("INSERT INTO evdcat.db.dt VALUES (1, 'a', 10)")
    spark.sql("ALTER TABLE evdcat.db.dt DROP COLUMN x")
    assert(spark.table("evdcat.db.dt").columns.toSeq === Seq("k", "v"))
    spark.sql("INSERT INTO evdcat.db.dt VALUES (2, 'b')")
    assert(spark.sql("SELECT k, v FROM evdcat.db.dt ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "a"), (2L, "b")))
    // the schema-history record replays the drop on a twin idempotently
    val root = java.nio.file.Paths.get(wh, "db", "dt").toString
    val t = new LakehouseTable(spark, root)
    val snaps = t.listSnapshots()
    val ddl = t.schemaChangesBetween(snaps.head.snapshotId, snaps.last.snapshotId)
    assert(ddl.exists(_.contains(""""op":"drop","column":"x"""")), ddl.mkString("\n"))
    import spark.implicits._
    val twin = new LakehouseTable(spark, tmpDir("ev-dropcat-twin"))
    twin.append(Seq((1L, "a", 10)).toDF("k", "v", "x").coalesce(1))
    ddl.filter(_.contains("\"drop\"")).foreach(twin.applySchemaChange)
    assert(twin.read().columns.toSeq === Seq("k", "v"))
    val n = twin.listSnapshots().size
    ddl.filter(_.contains("\"drop\"")).foreach(twin.applySchemaChange)
    assert(twin.listSnapshots().size === n, "drop replay must absorb")
    // the change feed diffs a drop as EMPTY (metadata-only), and
    // cross-drop diffs speak the post-drop schema
    val s1 = snaps.head.snapshotId
    val dropSnap = t.listSnapshots().find(_.operation == "alter").get
    assert(t.changesBetween(dropSnap.parentId.get, dropSnap.snapshotId).count() === 0L)
    val ch = t.changesBetween(s1, t.currentSnapshot().get.snapshotId)
    assert(!ch.columns.contains("x"), "cross-drop diffs must speak the TO-side schema")
    spark.sql("DROP TABLE evdcat.db.dt")
  }

  test("mid-bootstrap final slice + same-batch rename: both union sides conform to the pinned schema") {
    val t = new LakehouseTable(spark, tmpDir("ev-bootslice"))
    t.append(Seq((1L, "a")).toDF("k", "v").coalesce(1)) // snap 1
    t.append(Seq((2L, "b")).toDF("k", "v").coalesce(1)) // snap 2 (2 files)
    // pin the stream schema at (k, v, _change) …
    val src = new ChangeFeedSource(spark.sqlContext, t.root)
    // … then rename and append under the NEW name before the
    // bootstrap's final slice delivers
    t.renameColumn("v", "label") // snap 3
    t.append(Seq((3L, "c")).toDF("k", "label").coalesce(1)) // snap 4
    // final slice of the bootstrap snapshot (file 2 of 2) + the
    // incremental diff in ONE batch: the slice speaks (k, v), the diff
    // speaks (k, label) — a raw union would throw; both must conform
    val batch = src.getBatch(
      Some(FileSliceOffset(2L, 1L)),
      org.apache.spark.sql.execution.streaming.runtime.LongOffset(4L))
    assert(batch.columns.toSeq === Seq("k", "v", "_change"))
    // the frame is isStreaming: read its already-evaluated RDD directly
    val got = batch.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
      .collect().map(r => (r.getLong(0), r.getUTF8String(1).toString)).toSet
    assert(got === Set((2L, "b"), (3L, "c")),
      "the renamed diff column must map back to the pinned name, not NULL out")
  }

  test("schemaChangesBetween + applySchemaChange: schema-history records replay idempotently") {
    val t = new LakehouseTable(spark, tmpDir("ev-ddl-src"))
    t.append(Seq((1, "a")).toDF("k", "v").coalesce(1))
    val s1 = t.currentSnapshot().get.snapshotId
    t.widenColumn("k", LongType)
    t.renameColumn("v", "label")
    t.addColumns(Seq(StructField("tag", StringType)))
    val s4 = t.currentSnapshot().get.snapshotId
    val ddl = t.schemaChangesBetween(s1, s4)
    assert(ddl.size === 3, ddl.mkString("\n"))
    assert(ddl(0).contains(""""op":"widen","column":"k","type":"bigint""""), ddl(0))
    assert(ddl(1).contains(""""op":"rename","from":"v","to":"label""""), ddl(1))
    assert(ddl(2).contains(""""op":"add","column":"tag","type":"string""""), ddl(2))
    // an empty range and a data-only range carry no records
    assert(t.schemaChangesBetween(s4, s4).isEmpty)
    assert(t.schemaChangesBetween(s1, s1).isEmpty)
    // apply to a twin: schemas converge; replaying is a no-op
    val twin = new LakehouseTable(spark, tmpDir("ev-ddl-twin"))
    twin.append(Seq((1, "a")).toDF("k", "v").coalesce(1))
    ddl.foreach(twin.applySchemaChange)
    def shape(x: LakehouseTable) = DataType.fromJson(x.currentSnapshot().get.schemaJson)
      .asInstanceOf[StructType].fields.map(f => (f.name, f.dataType)).toSeq
    assert(shape(twin) === shape(t))
    val snaps = twin.listSnapshots().size
    ddl.foreach(twin.applySchemaChange)
    assert(twin.listSnapshots().size === snaps, "replay must be structurally absorbed")
    // a diverged target fails loudly — neither name present …
    val stranger = new LakehouseTable(spark, tmpDir("ev-ddl-str"))
    stranger.append(Seq((1, "z")).toDF("x", "y").coalesce(1))
    val e = intercept[IllegalStateException](
      stranger.applySchemaChange("""{"seq":1,"op":"rename","from":"v","to":"label"}"""))
    assert(e.getMessage.contains("diverged"), e.getMessage)
    // … and BOTH names present is divergence too, not a replay (a
    // silent skip would desync every later batch)
    val both = new LakehouseTable(spark, tmpDir("ev-ddl-both"))
    both.append(Seq((1, "a", "b")).toDF("k", "v", "label").coalesce(1))
    val e2 = intercept[IllegalStateException](
      both.applySchemaChange("""{"seq":1,"op":"rename","from":"v","to":"label"}"""))
    assert(e2.getMessage.contains("diverged"), e2.getMessage)
  }

  test("drop/rename of an INFERRED (path-layout) partition column refuses; feed diffs stay dropped-column-free across compaction") {
    import org.apache.spark.sql.functions.col
    // path table, no catalog metadata: layout only inferable from dirs
    val t = new LakehouseTable(spark, tmpDir("ev-inferred"))
    t.append(Seq((1L, "x", "a"), (2L, "y", "b")).toDF("k", "v", "cell"),
      partitionBy = Seq("cell"))
    val e1 = intercept[Exception](t.dropColumn("cell"))
    assert(e1.getMessage.contains("partition layout"), e1.getMessage)
    val e2 = intercept[Exception](t.renameColumn("cell", "zone"))
    assert(e2.getMessage.contains("partition layout"), e2.getMessage)
    // non-layout columns still drop/rename fine on the same table
    t.dropColumn("v")
    assert(t.read().columns.toSeq === Seq("k", "cell"))
    // feed semantics: a diff range spanning drop + COMPACTION (which
    // clears the dropped registry) must still speak the to-side schema
    val d = new LakehouseTable(spark, tmpDir("ev-dropfeed"))
    d.append(Seq((1L, "a", 1), (2L, "b", 2)).toDF("k", "v", "x").coalesce(1))
    val s1 = d.currentSnapshot().get.snapshotId
    d.dropColumn("x")
    d.compact(fileThreshold = 1, maxRows = 100000000L) // registry clears
    d.upsert(Seq((2L, "B2")).toDF("k", "v"), Seq("k"))
    val ch = d.changesBetween(s1, d.currentSnapshot().get.snapshotId)
    assert(!ch.columns.contains("x"),
      "cross-drop diffs must exclude the dropped column even after the " +
        "registry cleared — including it would replay the table as churn")
    val got = ch.collect().map(r =>
      (r.getAs[String]("_change"), r.getAs[Long]("k"), r.getAs[String]("v"))).toSet
    assert(got === Set(("insert", 2L, "B2"), ("delete", 2L, "b")), got.mkString(","))
    t.read().count() // keeps the inferred-layout table exercised post-drop
    assert(t.read().filter(col("cell") === "a").count() === 1L)
  }

  test("mid-stream ADD guard survives an add-then-rename in one range (values must not silently drop)") {
    val t = new LakehouseTable(spark, tmpDir("ev-addrename"))
    t.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
    val pinAt = t.currentSnapshot().get.snapshotId
    val src = new ChangeFeedSource(spark.sqlContext, t.root, emitSchemaChanges = true)
    t.addColumns(Seq(StructField("c", StringType)))
    t.append(Seq((2L, "b", "C2")).toDF("k", "v", "c").coalesce(1))
    t.renameColumn("c", "d") // the add's name is gone from head — but alive as 'd'
    val head = t.currentSnapshot().get.snapshotId
    val e = intercept[IllegalStateException](src.getBatch(
      Some(org.apache.spark.sql.execution.streaming.runtime.LongOffset(pinAt)),
      org.apache.spark.sql.execution.streaming.runtime.LongOffset(head)))
    assert(e.getMessage.contains("restart the stream"), e.getMessage)
  }

  test("rename lineage survives snapshot expiry and a second rename chains aliases") {
    val t = new LakehouseTable(spark, tmpDir("ev-rename-chain"))
    t.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
    t.renameColumn("k", "kid")
    t.renameColumn("kid", "id") // chain: id ← kid ← k
    val aliases = t.currentSnapshot().get.aliases
    assert(aliases("id").map(_.name) === List("k", "kid"))
    assert(dsv2(t).select("id").head.getLong(0) === 1L, "oldest physical name still resolves")
    // drop every pre-rename manifest: the head stays self-contained
    t.expireSnapshotsOlderThan(System.currentTimeMillis() + 60000)
    assert(t.read().select("id").head.getLong(0) === 1L)
  }

  test("partition-spec evolution SHIPS through the schema-history channel: replicas adopt the source layout") {
    // round 12: setPartitionSpec is a real `alter` snapshot carrying the
    // new layout, schemaChangesBetween emits a set_spec record for it,
    // and applySchemaChange applies it idempotently — a replica fleet's
    // bucket-pruning/SPJ geometry follows the source instead of
    // silently diverging (the round-11 by-design gap, closed)
    val src = new LakehouseTable(spark, tmpDir("ev-spec-src"))
    val dst = new LakehouseTable(spark, tmpDir("ev-spec-dst"))
    src.applyChanges(Seq((1L, "a", "insert"), (2L, "b", "insert"))
      .toDF("k", "v", "_change"), Seq("k"))
    val ckpt = tmpDir("ev-spec-ckpt")
    def drain(): Unit = {
      val q = spark.readStream.format("graft-changefeed")
        .option("path", src.root).option("emitSchemaChanges", "true").load()
        .writeStream.format("graft-lakehouse").option("path", dst.root)
        .option("keys", "k").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "drain did not finish")
    }
    drain() // bootstrap
    val preSpecHead = src.currentSnapshot().get.snapshotId
    src.setPartitionSpec(Seq("bucket(4, k)"))
    // the evolution is an alter SNAPSHOT on the channel …
    val alterSnap = src.currentSnapshot().get
    assert(alterSnap.operation === "alter" &&
      alterSnap.specChange === Some(List("bucket(4, k)")))
    val recs = src.schemaChangesBetween(preSpecHead, alterSnap.snapshotId)
      .map(DdlRecord.parse)
    assert(recs.map(_.op) === Seq("set_spec"))
    assert(recs.head.spec === Some(Seq("bucket(4, k)")))
    src.applyChanges(Seq((3L, "c", "insert")).toDF("k", "v", "_change"), Seq("k"))
    drain() // the record + the post-evolution data, one feed
    // … and the REPLICA declares the same layout: its next keyed write
    // lands bucket dirs, so compaction then heals the replica to the
    // source's geometry (bucket pruning / SPJ resume there too)
    assert(dst.read().select("k").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 3L))
    dst.applyChanges(Seq((4L, "d", "insert")).toDF("k", "v", "_change"), Seq("k"))
    val dstNew = dst.currentSnapshot().get.files.filter(_.contains("k_bucket="))
    assert(dstNew.nonEmpty, "replica writes must carry the replicated bucket layout")
    assert(dst.partitionSpecSince > 0L, "replica prune gating must be versioned")
    // a replayed record re-applies as a no-op (bootstrap convergence)
    val before = dst.listSnapshots().size
    dst.applySchemaChange(recs.head.json)
    assert(dst.listSnapshots().size === before, "replayed set_spec must absorb")
  }

  test("replica FIELD IDS converge with the source through the schema-history channel") {
    // the DDL records are name-keyed, but because both sides run the
    // SAME deterministic assignment algebra (FIELD_IDS.md) and the
    // records replay in source order, a replica that starts from the
    // source's initial shape ends with IDENTICAL ids — the property a
    // future id-keyed channel (DdlRecord v2) will rely on, frozen here
    val src = new LakehouseTable(spark, tmpDir("fid-src"))
    src.append(Seq((1, "a", 0.5)).toDF("k", "v", "w").coalesce(1))
    val from = src.currentSnapshot().get.snapshotId
    val rep = new LakehouseTable(spark, tmpDir("fid-rep"))
    rep.append(Seq((1, "a", 0.5)).toDF("k", "v", "w").coalesce(1))
    // the full DDL lifecycle: add, rename (carries the id), widen
    // (keeps it), drop (retires it), spec evolution (no id effect)
    src.addColumns(Seq(StructField("tag", StringType, nullable = true)))
    src.renameColumn("v", "label")
    src.widenColumn("k", LongType)
    src.dropColumn("w")
    src.setPartitionSpec(Seq("tag"))
    src.schemaChangesBetween(from, src.currentSnapshot().get.snapshotId)
      .foreach(rep.applySchemaChange)
    val sIds = src.currentSnapshot().get.fieldIds.get
    val rIds = rep.currentSnapshot().get.fieldIds.get
    assert(rIds.ids === sIds.ids,
      s"replica ids must converge with the source: src=$sIds rep=$rIds")
    assert(rIds.next === sIds.next, "the allocation high-water mark converges too")
    assert(sIds.ids === Map("k" -> 1, "label" -> 2, "tag" -> 4),
      "and the converged assignment is the algebra FieldIdSpec pins")
  }

  test("schema-history records survive JSON-hostile column names end-to-end") {
    val src = new LakehouseTable(spark, tmpDir("ev-evil-src"))
    val dst = new LakehouseTable(spark, tmpDir("ev-evil-dst"))
    src.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
    dst.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
    val pin = src.currentSnapshot().get.snapshotId
    val evil = """he"said\so"""
    src.addColumns(Seq(StructField(evil, StringType)))
    val recs = src.schemaChangesBetween(pin, src.currentSnapshot().get.snapshotId)
    assert(recs.size === 1)
    // the former regex emit produced a malformed record here; the codec
    // round-trips and the apply lands the exact name
    dst.applySchemaChange(recs.head)
    assert(dst.read().columns.contains(evil),
      s"evil column lost: ${dst.read().columns.mkString(",")}")
  }
  test("reborn identity: re-add with a DIFFERENT type, floor-aware pruning, DML, min/max fallback") {
    val t = new LakehouseTable(spark, tmpDir("ev-reborn"))
    t.append(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "x").coalesce(1))
    t.dropColumn("x")
    // re-add under a DIFFERENT type: the name-union read could never
    // mix int bytes with a string request — identity resolution never
    // requests the retired bytes at all
    t.addColumns(Seq(StructField("x", StringType)))
    t.append(Seq((3L, "c", "s3"), (4L, "d", "s4")).toDF("k", "v", "x").coalesce(1))
    val all = dsv2(t).collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSet
    assert(all === Set((1L, None), (2L, None), (3L, Some("s3")), (4L, Some("s4"))))
    // floor-aware skipping: a value probe EXCLUDES pre-floor files
    // (their rows serve NULL — and their stale stats speak for the
    // retired int column anyway); IS NULL KEEPS them
    val snap = t.currentSnapshot().get
    val (keptEq, _) = t.pruneFiles(snap, Seq(ScanPredicate.EqualTo("x", "s3")))
    assert(keptEq.size === 1 && keptEq.forall(t.originOfFile(_) > 2),
      s"value probe must exclude pre-floor files: $keptEq")
    val (keptNull, _) = t.pruneFiles(snap, Seq(ScanPredicate.IsNull("x")))
    assert(keptNull.exists(t.originOfFile(_) <= 2),
      s"IS NULL must keep pre-floor files (every row matches): $keptNull")
    assert(t.read(Seq(ScanPredicate.IsNull("x"))).collect().map(_.getLong(0)).toSet
      === Set(1L, 2L))
    // min/max metadata answers must NOT come from the retired stats
    val mm = dsv2(t).agg(min("x"), max("x")).head
    assert((mm.getString(0), mm.getString(1)) === ("s3", "s4"),
      "min/max over a reborn column must fall back to the real scan")
    // DML over the floor: DELETE WHERE x IS NULL removes exactly the
    // pre-floor rows (candidates INCLUDE the floored files)
    t.deleteWhere(t.pruneFiles(t.currentSnapshot().get,
      Seq(ScanPredicate.IsNull("x")))._1, col("x").isNull)
    assert(dsv2(t).collect().map(r => (r.getLong(0), r.getString(2))).toSet
      === Set((3L, "s3"), (4L, "s4")))
  }

  test("reborn identity: the floor survives a rename and replicates through the DDL channel") {
    val t = new LakehouseTable(spark, tmpDir("ev-reborn-ren"))
    t.append(Seq((1L, 10), (2L, 20)).toDF("k", "x").coalesce(1))
    val s1 = t.currentSnapshot().get.snapshotId
    t.dropColumn("x")
    t.addColumns(Seq(StructField("x", LongType)))
    t.append(Seq((3L, 30L)).toDF("k", "x").coalesce(1))
    // rename the REBORN column: the floor follows the identity under
    // its new name — old files keep serving NULL, new files the value
    t.renameColumn("x", "score")
    assert(t.currentSnapshot().get.rebornFloors.keySet === Set("score"))
    assert(dsv2(t).collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
      === Set((1L, None), (2L, None), (3L, Some(30L))))
    // the schema-history channel replays drop + re-add on a twin; the
    // twin computes its OWN floor against its OWN files
    val ddl = t.schemaChangesBetween(s1, t.currentSnapshot().get.snapshotId)
    val twin = new LakehouseTable(spark, tmpDir("ev-reborn-twin"))
    twin.append(Seq((1L, 10), (2L, 20)).toDF("k", "x").coalesce(1))
    ddl.foreach(twin.applySchemaChange)
    assert(twin.currentSnapshot().get.rebornFloors.keySet === Set("score"),
      s"twin floors: ${twin.currentSnapshot().get.rebornFloors}")
    assert(twin.read().collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
      === Set((1L, None), (2L, None)),
      "the twin's pre-floor files must serve the reborn column as NULL")
  }

  test("reborn identity composes with MoR masks and a retired PARTITION layout") {
    // the riskiest composite: the dead column was a PARTITION column
    // (stale x=v hive dirs on disk), tombstones mask rows keyed on
    // ANOTHER column, and the reborn namesake must still serve NULL
    // from pre-floor files while the masks keep holding
    val t = new LakehouseTable(spark, tmpDir("ev-reborn-mor"))
    t.append(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 10))
      .toDF("k", "v", "x"), partitionBy = Seq("x"))
    t.applyChanges(Seq((2L, "b", 20, "delete")).toDF("k", "v", "x", "_change"),
      Seq("k"), mergeOnRead = true)
    t.foldTombstones() // drop/rename require a tombstone-free table
    // evolve the DECLARED layout off x first (the drop guard consults
    // the declared spec, or the path-inferred one when none exists —
    // declaring v leaves the stale x=v dirs in place as the hazard)
    t.setPartitionSpec(Seq("v"))
    t.dropColumn("x")
    t.addColumns(Seq(StructField("x", StringType)))
    t.append(Seq((4L, "d", "fresh")).toDF("k", "v", "x").coalesce(1))
    // masked row stays masked; pre-floor rows serve x NULL despite the
    // stale x=10/x=20 dirs physically under their paths
    assert(dsv2(t).collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSet
      === Set((1L, None), (3L, None), (4L, Some("fresh"))))
    // a fresh MoR delete keyed on k still masks a pre-floor row
    t.applyChanges(Seq((3L, "c", "zz", "delete")).toDF("k", "v", "x", "_change"),
      Seq("k"), mergeOnRead = true)
    assert(dsv2(t).collect().map(_.getLong(0)).toSet === Set(1L, 4L))
    // predicate pushdown on the reborn column over the stale dirs:
    // IS NULL keeps the pre-floor files, equality excludes them
    assert(t.read(Seq(ScanPredicate.IsNull("x"))).collect()
      .map(_.getLong(0)).toSet === Set(1L))
    assert(t.read(Seq(ScanPredicate.EqualTo("x", "fresh"))).collect()
      .map(_.getLong(0)).toSet === Set(4L))
  }

  test("changesBetween across a drop→re-add keeps the retired identity out of the feed") {
    val t = new LakehouseTable(spark, tmpDir("ev-reborn-feed"))
    t.append(Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "v", "x").coalesce(1))
    val s1 = t.currentSnapshot().get.snapshotId
    t.dropColumn("x")
    t.addColumns(Seq(StructField("x", StringType)))
    t.append(Seq((3L, "c", "s3")).toDF("k", "v", "x").coalesce(1))
    val to = t.currentSnapshot().get.snapshotId
    val ch = t.changesBetween(s1, to).collect()
    // rows 1-2: unchanged under the TO-side schema (their retired x
    // values are dropped history, NOT the reborn column's values) —
    // the only change is the genuine insert; without identity
    // resolution the whole table would replay as delete+insert churn
    assert(ch.length === 1, ch.mkString("\n"))
    assert(ch.head.getLong(0) === 3L && ch.head.getString(2) === "s3")
  }

  test("identity-keyed DDL records: a replica that missed a rename self-heals by field id") {
    val src = new LakehouseTable(spark, tmpDir("ev-id-src"))
    src.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
    val s1 = src.currentSnapshot().get.snapshotId
    src.renameColumn("v", "label") // rec 1 (missed by the replica)
    val afterRename = src.currentSnapshot().get.snapshotId
    src.renameColumn("label", "title") // rec 2
    val ddl = src.schemaChangesBetween(s1, src.currentSnapshot().get.snapshotId)
    assert(ddl.forall(_.contains("\"fieldId\":")), ddl.mkString("\n"))
    // the replica applies ONLY the records past the first rename: name
    // resolution fails (it has 'v', not 'label'), the field id heals it
    val rep = new LakehouseTable(spark, tmpDir("ev-id-rep"))
    rep.append(Seq((1L, "a")).toDF("k", "v").coalesce(1))
    val missed = src.schemaChangesBetween(afterRename, src.currentSnapshot().get.snapshotId)
    missed.foreach(rep.applySchemaChange)
    assert(rep.read().columns.toSeq === Seq("k", "title"),
      s"missed-rename heal by id: ${rep.read().columns.toSeq}")
    assert(rep.read().collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "a")), "the healed rename keeps serving the old bytes")
  }

  test("identity-keyed DDL records: a drop replayed past a REBORN namesake never hits the new column") {
    val src = new LakehouseTable(spark, tmpDir("ev-id-reborn-src"))
    src.append(Seq((1L, "a", 10)).toDF("k", "v", "x").coalesce(1))
    val s1 = src.currentSnapshot().get.snapshotId
    src.dropColumn("x") // rec: drop x (retired id)
    val afterDrop = src.currentSnapshot().get.snapshotId
    val dropRec = src.schemaChangesBetween(s1, afterDrop)
    assert(dropRec.size === 1 && dropRec.head.contains("\"fieldId\":3"), dropRec)
    // the replica has ALREADY applied the drop and re-added the name
    // (a reborn namesake with a fresh id); the replayed drop record
    // must absorb — dropping the new column would destroy its data
    val rep = new LakehouseTable(spark, tmpDir("ev-id-reborn-rep"))
    rep.append(Seq((1L, "a", 10)).toDF("k", "v", "x").coalesce(1))
    rep.dropColumn("x")
    rep.addColumns(Seq(StructField("x", StringType)))
    rep.append(Seq((2L, "b", "keep")).toDF("k", "v", "x").coalesce(1))
    val snaps = rep.listSnapshots().size
    dropRec.foreach(rep.applySchemaChange)
    assert(rep.listSnapshots().size === snaps, "the replayed drop must absorb")
    assert(rep.read().collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSet
      === Set((1L, None), (2L, Some("keep"))),
      "the reborn column's data survives the replay")
  }

  test("COMPACTION is the stamped-id CUTOVER: an unstamped mixed lineage compacts to 100% id-routed files") {
    // round-15 queue: stamped reads shipped round 14; this is the
    // per-table cutover proof — one compaction rewrites every live
    // file STAMPED (and clears the era registries), after which the
    // whole table routes registry-free by parquet.field.id
    val t = new LakehouseTable(spark, tmpDir("fid-cutover"))
    t.append(Seq((1L, "a", 10)).toDF("k", "nm", "x").coalesce(1)) // snap 1: UNSTAMPED (no head yet)
    t.renameColumn("x", "tag")                                    // snap 2: era boundary
    t.append(Seq((2L, "b", 20)).toDF("k", "nm", "tag").coalesce(1)) // snap 3: stamped
    val mixed = t.currentSnapshot().get
    assert(!mixed.files.forall(t.fileFullyStamped(mixed, _)),
      "precondition: the lineage is MIXED (snap-1 file unstamped)")
    assert(t.compact(fileThreshold = 1, maxRows = 100000L).isDefined) // the cutover
    val head = t.currentSnapshot().get
    assert(head.files.nonEmpty && head.files.forall(t.fileFullyStamped(head, _)),
      s"every post-compact file must carry full id stamps: ${head.files}")
    // drops/reborn clear (no pre-compact file can resurrect them);
    // the RENAME lineage deliberately survives — a pinned upstream
    // still speaks old names at the write face — but stamped READS
    // below never consult it
    assert(head.droppedCols.isEmpty && head.rebornFloors.isEmpty,
      "compaction clears the dropped/reborn registries")
    // every file now PLANS through id resolution (idRouteOf=true)
    val before = LakehouseBatchScan.idRoutedFiles.get()
    assert(isNative(dsv2(t)))
    val got = dsv2(t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got === Set((1L, "a", 10), (2L, "b", 20)))
    val routed = LakehouseBatchScan.idRoutedFiles.get() - before
    assert(routed > 0 && routed % head.files.size === 0,
      s"ALL ${head.files.size} post-compact files must id-route, routed=$routed")
    // belt and braces: a physically cloned root whose head carries NO
    // registries at all reads identically — the cutover really did
    // make resolution registry-independent
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      java.nio.file.Files.createDirectories(to)
      graft.Fs.listAll(from).foreach { p =>
        val dst = to.resolve(p.getFileName)
        if (java.nio.file.Files.isDirectory(p)) copyTree(p, dst)
        else { java.nio.file.Files.copy(p, dst); () }
      }
    }
    val t2root = tmpDir("fid-cutover-bare")
    graft.Fs.deleteRecursively(java.nio.file.Paths.get(t2root))
    copyTree(java.nio.file.Paths.get(t.root), java.nio.file.Paths.get(t2root))
    val bare = head.copy(renames = Some(Map.empty), drops = Some(Map.empty),
      reborn = Some(Map.empty))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t2root, "_snapshots", f"${head.snapshotId}%09d.json"),
      org.json4s.jackson.Serialization.write(bare)(org.json4s.DefaultFormats))
    val got2 = spark.read.format("graft-lakehouse").load(t2root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got2 === got, "a registry-stripped clone reads the compacted table identically")
  }

  test("stamped-id read: a rename+reborn lineage resolves REGISTRY-FREE by parquet.field.id (q143 shape)") {
    // the q143 lineage over STAMPED files — the FIELD_IDS.md end state:
    // fully-stamped files resolve by id with NO registry consulted
    // (a renamed column matches through its unchanged id, a reborn
    // identity's fresh id is absent from pre-floor files and nulls),
    // while the unstamped first write keeps era-name resolution
    val t = new LakehouseTable(spark, tmpDir("fid-read"))
    t.append(Seq((1L, "a", 10)).toDF("k", "nm", "x").coalesce(1))  // snap 1: UNSTAMPED (no head yet)
    t.append(Seq((2L, "b", 20)).toDF("k", "nm", "x").coalesce(1))  // snap 2: stamped, x = id 3
    t.dropColumn("x")                                              // snap 3: id 3 retires
    t.addColumns(Seq(StructField("x", StringType)))                // snap 4: reborn, fresh id, floor
    t.append(Seq((3L, "c", "r3")).toDF("k", "nm", "x").coalesce(1)) // snap 5: stamped, x = fresh id
    t.renameColumn("x", "tag")                                     // snap 6: id follows the rename
    t.append(Seq((4L, "d", "t4")).toDF("k", "nm", "tag").coalesce(1)) // snap 7: stamped as tag
    val before = LakehouseBatchScan.idRoutedFiles.get()
    // the id-routed read stays on the NATIVE vectorized scan — id
    // resolution must never cost the columnar path
    assert(isNative(dsv2(t)), "stamped-id reads must plan BatchScanExec")
    val got = dsv2(t).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    assert(got === Set(
      (1L, "a", null), // pre-reborn, unstamped: era floor nulls it
      (2L, "b", null), // pre-reborn, STAMPED: the retired id never matches
      (3L, "c", "r3"), // pre-rename, STAMPED: old physical name, same id
      (4L, "d", "t4")))
    val routed = LakehouseBatchScan.idRoutedFiles.get() - before
    // BatchScanExec may plan partitions more than once per action — the
    // per-plan count is what's pinned: 3 stamped files, never 4
    assert(routed > 0 && routed % 3 === 0,
      s"the three stamped files must plan through id resolution " +
        s"(the unstamped first write keeps the era-name group); routed=$routed")
    // registry-free means REGISTRY-FREE: strip the rename/reborn
    // registries off the head manifest and the stamped files still
    // resolve identically (only the unstamped snap-1 file, which
    // genuinely needs the era registry, is excluded from the probe)
    val head = t.currentSnapshot().get
    val bare = head.copy(renames = Some(Map.empty), reborn = Some(Map.empty),
      files = head.files.filter(t.fileFullyStamped(head, _)))
    val manifest = java.nio.file.Paths.get(t.root, "_snapshots",
      f"${head.snapshotId}%09d.json")
    val body = java.nio.file.Files.readString(manifest)
    val t2root = tmpDir("fid-read-bare")
    graft.Fs.deleteRecursively(java.nio.file.Paths.get(t2root))
    // clone the table dir, then strip the registries in the clone's head
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      java.nio.file.Files.createDirectories(to)
      graft.Fs.listAll(from).foreach { p =>
        val dst = to.resolve(p.getFileName)
        if (java.nio.file.Files.isDirectory(p)) copyTree(p, dst)
        else { java.nio.file.Files.copy(p, dst); () }
      }
    }
    copyTree(java.nio.file.Paths.get(t.root), java.nio.file.Paths.get(t2root))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t2root, "_snapshots", f"${head.snapshotId}%09d.json"),
      org.json4s.jackson.Serialization.write(bare)(org.json4s.DefaultFormats))
    val t2 = new LakehouseTable(spark, t2root)
    val got2 = spark.read.format("graft-lakehouse").load(t2root).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    assert(got2 === Set((2L, "b", null), (3L, "c", "r3"), (4L, "d", "t4")),
      "stamped files resolve the rename+reborn lineage with ZERO registry help")
    assert(t2.root != t.root) // sanity: the original stayed intact
    assert(body.nonEmpty)
  }

}
