package graft.lakehouse

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The named-catalog face: a PURE SQL session (CREATE/INSERT/SELECT/
  * CTAS/DROP with three-part names) must drive the lakehouse without
  * ever touching a path API, and reads through the catalog must keep
  * the pushdown + skipping + snapshot-pinning behavior of the path
  * face.
  */
class LakehouseCatalogSpec extends SparkSpec {

  private lazy val warehouse = tmpDir("graft-catalog-wh")

  private def ensureCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.graftcat", classOf[LakehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat.warehouse", warehouse)
  }

  test("pure-SQL lifecycle: CREATE, INSERT, SELECT with pushdown, INSERT OVERWRITE, DROP") {
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db")
    spark.sql("CREATE TABLE graftcat.db.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graftcat.db.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("INSERT INTO graftcat.db.t VALUES (4, 'd')")
    assert(spark.sql("SELECT v FROM graftcat.db.t WHERE id = 2").collect()
      .map(_.getString(0)).toSeq === Seq("b"))
    assert(spark.sql("SELECT count(*) AS c FROM graftcat.db.t").head.getLong(0) === 4L)
    // the filter pushes through the same pruning path (two one-file
    // inserts: an id=4 probe must plan one file)
    val root = java.nio.file.Paths.get(warehouse, "db", "t").toString
    spark.sql("SELECT * FROM graftcat.db.t WHERE id = 4").collect()
    assert(ScanEvents.lastScan(root).exists(i => i.filesPlanned < i.filesTotal),
      s"catalog reads must prune files: ${ScanEvents.lastScan(root)}")
    // INSERT OVERWRITE replaces content, as one snapshot
    spark.sql("INSERT OVERWRITE graftcat.db.t VALUES (9, 'z')")
    assert(spark.sql("SELECT id, v FROM graftcat.db.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((9L, "z")))
    // history is real: snapshots accumulated under the warehouse path
    assert(new LakehouseTable(spark, root).listSnapshots()
      .map(_.operation) === Seq("create", "append", "append", "overwrite"))
    assert(spark.sql("SHOW TABLES IN graftcat.db").collect()
      .map(_.getString(1)).contains("t"))
    spark.sql("DROP TABLE graftcat.db.t")
    assert(!spark.catalog.tableExists("graftcat.db.t"))
  }

  test("CTAS and cross-table SQL joins through the catalog") {
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db")
    spark.sql("DROP TABLE IF EXISTS graftcat.db.src")
    spark.sql("DROP TABLE IF EXISTS graftcat.db.agg")
    spark.sql("CREATE TABLE graftcat.db.src (k BIGINT, grp STRING, x BIGINT)")
    spark.sql(
      "INSERT INTO graftcat.db.src SELECT id AS k, " +
        "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS grp, id * 10 AS x " +
        "FROM range(0, 100)")
    spark.sql(
      "CREATE TABLE graftcat.db.agg AS " +
        "SELECT grp, count(*) AS n, sum(x) AS sx FROM graftcat.db.src GROUP BY grp")
    val joined = spark.sql(
      "SELECT s.grp, a.n, count(*) AS rows_in_grp FROM graftcat.db.src s " +
        "JOIN graftcat.db.agg a ON s.grp = a.grp GROUP BY s.grp, a.n ORDER BY s.grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(joined.toSeq === Seq(("even", 50L, 50L), ("odd", 50L, 50L)))
  }

  test("PARTITIONED BY lays SQL inserts out hive-style; partition filters prune") {
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db")
    spark.sql("DROP TABLE IF EXISTS graftcat.db.part_t")
    spark.sql("CREATE TABLE graftcat.db.part_t (id BIGINT, bucket STRING) PARTITIONED BY (bucket)")
    spark.sql("INSERT INTO graftcat.db.part_t " +
      "SELECT id, CASE WHEN id < 50 THEN 'lo' ELSE 'hi' END FROM range(0, 100)")
    val root = java.nio.file.Paths.get(warehouse, "db", "part_t").toString
    val t = new LakehouseTable(spark, root)
    assert(t.currentSnapshot().get.files.forall(_.contains("bucket=")),
      "SQL inserts must honor the declared partition layout")
    assert(spark.sql("SELECT count(*) FROM graftcat.db.part_t WHERE bucket = 'lo'")
      .head.getLong(0) === 50L)
    val info = ScanEvents.lastScan(root).get
    assert(info.filesPlanned < info.filesTotal,
      s"a partition-value filter must prune: $info")
  }

  test("catalog reads are snapshot-pinned; a fresh resolve sees new commits") {
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db")
    spark.sql("DROP TABLE IF EXISTS graftcat.db.pin_t")
    spark.sql("CREATE TABLE graftcat.db.pin_t (id BIGINT)")
    spark.sql("INSERT INTO graftcat.db.pin_t VALUES (1), (2)")
    val df = spark.sql("SELECT * FROM graftcat.db.pin_t")
    assert(df.collect().length === 2)
    spark.sql("INSERT INTO graftcat.db.pin_t VALUES (3)")
    assert(df.collect().length === 2,
      "a resolved DataFrame must keep its snapshot across concurrent commits")
    assert(spark.sql("SELECT * FROM graftcat.db.pin_t").collect().length === 3,
      "a fresh resolve must see the new head")
  }

  test("keyed merge through SQL: the keys table option turns INSERT INTO into an upsert") {
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db")
    spark.sql("DROP TABLE IF EXISTS graftcat.db.keyed_t")
    spark.sql("CREATE TABLE graftcat.db.keyed_t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graftcat.db.keyed_t VALUES (1, 'a'), (2, 'b')")
    // the write-side keys option rides the DataFrameWriterV2 path
    import spark.implicits._
    Seq((2L, "B2"), (3L, "c")).toDF("id", "v")
      .writeTo("graftcat.db.keyed_t").option("keys", "id").append()
    val got = spark.sql("SELECT id, v FROM graftcat.db.keyed_t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "a"), (2L, "B2"), (3L, "c")))
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF through the catalog") {
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db")
    spark.sql("DROP TABLE IF EXISTS graftcat.db.tt")
    spark.sql("CREATE TABLE graftcat.db.tt (id BIGINT)")
    spark.sql("INSERT INTO graftcat.db.tt VALUES (1)")
    Thread.sleep(15) // commit timestamps must be distinguishable
    spark.sql("INSERT INTO graftcat.db.tt VALUES (2), (3)")
    val root = java.nio.file.Paths.get(warehouse, "db", "tt").toString
    val snaps = new LakehouseTable(spark, root).listSnapshots()
    // snapshot 2 = the first INSERT (1 = CREATE)
    assert(spark.sql("SELECT * FROM graftcat.db.tt VERSION AS OF 2").collect()
      .map(_.getLong(0)).toSeq === Seq(1L))
    assert(spark.sql("SELECT count(*) FROM graftcat.db.tt VERSION AS OF 3")
      .head.getLong(0) === 3L)
    val ts = java.time.Instant.ofEpochMilli(snaps(1).timestampMs)
      .atZone(java.time.ZoneId.systemDefault).toLocalDateTime.toString.replace('T', ' ')
    assert(spark.sql(s"SELECT * FROM graftcat.db.tt TIMESTAMP AS OF '$ts'").collect()
      .map(_.getLong(0)).toSeq === Seq(1L),
      "TIMESTAMP AS OF must resolve the snapshot current at that instant")
    intercept[Exception](
      spark.sql("SELECT * FROM graftcat.db.tt VERSION AS OF 99").collect())
    spark.sql("DROP TABLE graftcat.db.tt")
  }

  test("SQL DELETE FROM is file-pruned; TRUNCATE empties with history intact") {
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db")
    spark.sql("DROP TABLE IF EXISTS graftcat.db.del_t")
    spark.sql("CREATE TABLE graftcat.db.del_t (id BIGINT, v STRING)")
    // two disjoint-range files
    spark.sql("INSERT INTO graftcat.db.del_t SELECT id, concat('v', id) FROM range(0, 100)")
    spark.sql("INSERT INTO graftcat.db.del_t SELECT id, concat('v', id) FROM range(1000, 1100)")
    val root = java.nio.file.Paths.get(warehouse, "db", "del_t").toString
    val t = new LakehouseTable(spark, root)
    val snapBefore = t.currentSnapshot().get
    val before = snapBefore.files
    // the files whose id range provably overlaps the predicate — the
    // delete may rewrite exactly these and must carry the rest
    val overlap = t.pruneFiles(snapBefore,
      Seq(ScanPredicate.Range("id", Some(1050L), None)))._1.toSet
    assert(overlap.nonEmpty && overlap.size < before.size,
      s"fixture must leave non-overlapping files (got ${overlap.size}/${before.size})")
    spark.sql("DELETE FROM graftcat.db.del_t WHERE id >= 1050")
    val after = t.currentSnapshot().get
    assert(after.operation === "delete")
    assert(before.count(after.files.contains) === before.size - overlap.size,
      "only files whose range overlaps the predicate may be rewritten")
    assert(spark.sql("SELECT count(*) FROM graftcat.db.del_t").head.getLong(0) === 150L)
    assert(spark.sql("SELECT max(id) FROM graftcat.db.del_t").head.getLong(0) === 1049L)
    // OR-predicate delete stays exact
    spark.sql("DELETE FROM graftcat.db.del_t WHERE id < 5 OR id >= 1045")
    assert(spark.sql("SELECT count(*) FROM graftcat.db.del_t").head.getLong(0) === 140L)
    // a no-match delete commits nothing
    val snapCount = t.listSnapshots().size
    spark.sql("DELETE FROM graftcat.db.del_t WHERE id = 999999")
    assert(t.listSnapshots().size === snapCount,
      "a delete pruned to zero candidates must not commit a snapshot")
    // TRUNCATE: empty content and no file, schema kept, history
    // time-travelable
    spark.sql("TRUNCATE TABLE graftcat.db.del_t")
    assert(t.currentSnapshot().get.files === Nil)
    assert(spark.sql("SELECT * FROM graftcat.db.del_t").collect().isEmpty)
    assert(spark.table("graftcat.db.del_t").columns.toSeq === Seq("id", "v"))
    val lastDelete = t.listSnapshots().filter(_.operation == "delete").last.snapshotId
    assert(spark.sql(
      s"SELECT count(*) FROM graftcat.db.del_t VERSION AS OF $lastDelete")
      .head.getLong(0) === 140L, "pre-truncate history must stay readable")
    spark.sql("DROP TABLE graftcat.db.del_t")
  }

  test("nested ADD COLUMNS refuses loudly instead of silently adding nothing") {
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db")
    spark.sql("DROP TABLE IF EXISTS graftcat.db.nest")
    spark.sql("CREATE TABLE graftcat.db.nest (id BIGINT, point STRUCT<x: INT>)")
    val cat = spark.sessionState.catalogManager.catalog("graftcat")
      .asInstanceOf[LakehouseCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), "nest")
    val e = intercept[UnsupportedOperationException](cat.alterTable(ident,
      org.apache.spark.sql.connector.catalog.TableChange.addColumn(
        Array("point", "z"), org.apache.spark.sql.types.IntegerType)))
    assert(e.getMessage.contains("nested"), e.getMessage)
    // a top-level add on the same table still works
    cat.alterTable(ident, org.apache.spark.sql.connector.catalog.TableChange.addColumn(
      Array("tag"), org.apache.spark.sql.types.StringType))
    assert(spark.table("graftcat.db.nest").columns.contains("tag"))
    spark.sql("DROP TABLE graftcat.db.nest")
  }

  test("identifier hygiene: path-escape identifiers are refused") {
    ensureCatalog()
    intercept[Exception](spark.sql("SELECT * FROM graftcat.db.`../escape`"))
  }

  test("TBLPROPERTIES optimizeWrite travels with the table: INSERTs cluster per partition value") {
    spark.sql("CREATE TABLE graftcat.db.ow_t (id BIGINT, cell BIGINT) " +
      "PARTITIONED BY (cell) TBLPROPERTIES ('optimizeWrite'='true')")
    try {
      spark.sql("INSERT INTO graftcat.db.ow_t " +
        "SELECT id, id % 8 FROM range(800) DISTRIBUTE BY id % 4")
      val warehouseRoot = spark.conf.get("spark.sql.catalog.graftcat.warehouse")
      val root = java.nio.file.Paths.get(warehouseRoot, "db", "ow_t").toString
      val t = new LakehouseTable(spark, root)
      assert(t.currentSnapshot().get.files.size === 8,
        s"property-driven optimize-write must land one file per cell, got ${t.currentSnapshot().get.files}")
      assert(spark.sql("SELECT count(*) FROM graftcat.db.ow_t").head.getLong(0) === 800L)
    } finally spark.sql("DROP TABLE IF EXISTS graftcat.db.ow_t")
  }

  test("SHOW PARTITIONS enumerates live hive partitions from the manifest (zero jobs)") {
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db")
    spark.sql("DROP TABLE IF EXISTS graftcat.db.sp_t")
    spark.sql("CREATE TABLE graftcat.db.sp_t (id BIGINT, p STRING, n INT) " +
      "PARTITIONED BY (p, n)")
    spark.sql("INSERT INTO graftcat.db.sp_t VALUES (1,'x',1), (2,'x',2), (3,'y',1)")
    val got = spark.sql("SHOW PARTITIONS graftcat.db.sp_t")
      .collect().map(_.getString(0)).toSet
    assert(got === Set("p=x/n=1", "p=x/n=2", "p=y/n=1"))
    // the PARTITION filter form (prefix on any subset of columns)
    assert(spark.sql("SHOW PARTITIONS graftcat.db.sp_t PARTITION (p='x')")
      .collect().map(_.getString(0)).toSet === Set("p=x/n=1", "p=x/n=2"))
    // INT partition values decode typed, not as strings
    assert(spark.sql("SHOW PARTITIONS graftcat.db.sp_t PARTITION (n=2)")
      .collect().map(_.getString(0)).toSet === Set("p=x/n=2"))
    // ADD/DROP PARTITION are meaningless for data-derived partitions
    intercept[Exception](
      spark.sql("ALTER TABLE graftcat.db.sp_t ADD PARTITION (p='z', n=9)"))
    spark.sql("DROP TABLE graftcat.db.sp_t")
  }

  test("SET/UNSET TBLPROPERTIES persist, survive other metadata, and drive live knobs") {
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db")
    spark.sql("DROP TABLE IF EXISTS graftcat.db.tp_t")
    spark.sql("CREATE TABLE graftcat.db.tp_t (id BIGINT, cell BIGINT) " +
      "PARTITIONED BY (cell) TBLPROPERTIES ('team'='ml-data')")
    def props(): Map[String, String] =
      spark.sql("SHOW TBLPROPERTIES graftcat.db.tp_t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props().get("team") === Some("ml-data"))
    spark.sql("ALTER TABLE graftcat.db.tp_t SET TBLPROPERTIES ('pii'='scrubbed')")
    assert(props().get("pii") === Some("scrubbed") && props().get("team") === Some("ml-data"))
    spark.sql("ALTER TABLE graftcat.db.tp_t UNSET TBLPROPERTIES ('team')")
    assert(props().get("team").isEmpty && props().get("pii") === Some("scrubbed"))
    // the write knob set by ALTER engages on the very NEXT insert
    spark.sql("ALTER TABLE graftcat.db.tp_t SET TBLPROPERTIES ('optimizeWrite'='true')")
    spark.sql("INSERT INTO graftcat.db.tp_t " +
      "SELECT id, id % 4 FROM range(400) DISTRIBUTE BY id % 8")
    val warehouseRoot = spark.conf.get("spark.sql.catalog.graftcat.warehouse")
    val t = new LakehouseTable(spark,
      java.nio.file.Paths.get(warehouseRoot, "db", "tp_t").toString)
    assert(t.currentSnapshot().get.files.size === 4,
      s"ALTER-set optimizeWrite must cluster (one file per cell): ${t.currentSnapshot().get.files}")
    // the partition layout survived the property edits
    assert(t.currentSnapshot().get.files.forall(_.contains("cell=")))
    // knob keys match case-INSENSITIVELY like reserved names — a
    // differently-cased SET must flip the knob, not silently land in
    // the free-form properties object (ADVICE r12)
    spark.sql("ALTER TABLE graftcat.db.tp_t SET TBLPROPERTIES ('OPTIMIZEWRITE'='false')")
    val metaJson = java.nio.file.Files.readString(java.nio.file.Paths.get(
      warehouseRoot, "db", "tp_t", "_catalog.json"))
    assert(metaJson.contains("\"optimizeWrite\":false"),
      s"the differently-cased SET must reach the write knob: $metaJson")
    assert(!metaJson.contains("OPTIMIZEWRITE") &&
      props().get("OPTIMIZEWRITE").isEmpty,
      "a knob set never leaks into the free-form properties")
    spark.sql("DROP TABLE graftcat.db.tp_t")
  }

  test("ALTER COLUMN COMMENT: a schema-only snapshot; DESCRIBE shows it; reads unchanged") {
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db")
    spark.sql("DROP TABLE IF EXISTS graftcat.db.cc_t")
    spark.sql("CREATE TABLE graftcat.db.cc_t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graftcat.db.cc_t VALUES (1, 'a')")
    spark.sql("ALTER TABLE graftcat.db.cc_t ALTER COLUMN v COMMENT 'the payload'")
    val desc = spark.sql("DESCRIBE TABLE graftcat.db.cc_t").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc.get("v") === Some("the payload"))
    assert(spark.sql("SELECT v FROM graftcat.db.cc_t").head.getString(0) === "a")
    spark.sql("INSERT INTO graftcat.db.cc_t VALUES (2, 'b')")
    assert(spark.sql("SELECT count(*) FROM graftcat.db.cc_t").head.getLong(0) === 2L)
    spark.sql("DROP TABLE graftcat.db.cc_t")
  }
}
