package graft.lakehouse

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** SQL UPDATE / MERGE INTO / full-predicate DELETE over lakehouse
  * tables: ANSI semantics, one snapshot per statement, copy-on-write
  * scoped to the files the statement can actually touch.
  */
class LakehouseDmlSpec extends SparkSpec {

  private lazy val warehouse = tmpDir("graft-dml-wh")

  private def ensureCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.dmlcat", classOf[LakehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.dmlcat.warehouse", warehouse)
  }

  private def root(name: String): String =
    java.nio.file.Paths.get(warehouse, "db", name).toString

  private def freshTable(name: String, ddlCols: String): LakehouseTable = {
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dmlcat.db")
    spark.sql(s"DROP TABLE IF EXISTS dmlcat.db.$name")
    spark.sql(s"CREATE TABLE dmlcat.db.$name ($ddlCols)")
    new LakehouseTable(spark, root(name))
  }

  test("the two reflection hops the DML module rides stay healthy") {
    assert(LakehouseDml.reflectionHealthy())
  }

  test("UPDATE: assignments + WHERE, expression values, analyzer casts") {
    val t = freshTable("u1", "id BIGINT, v STRING, n BIGINT")
    spark.sql("INSERT INTO dmlcat.db.u1 VALUES (1,'a',10), (2,'b',20), (3,'c',30)")
    spark.sql("UPDATE dmlcat.db.u1 SET v = concat(v, '!'), n = n + 1 WHERE id >= 2")
    val got = spark.sql("SELECT id, v, n FROM dmlcat.db.u1 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, "a", 10L), (2L, "b!", 21L), (3L, "c!", 31L)))
    assert(t.currentSnapshot().get.operation === "update")
    // analyzer-inserted cast: int literal into BIGINT column
    spark.sql("UPDATE dmlcat.db.u1 SET n = 5")
    assert(spark.sql("SELECT sum(n) FROM dmlcat.db.u1").head.getLong(0) === 15L)
  }

  test("UPDATE is file-pruned: non-overlapping files carry by reference; no-match commits nothing") {
    val t = freshTable("u2", "id BIGINT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.u2 SELECT id, concat('v', id) FROM range(0, 100)")
    spark.sql("INSERT INTO dmlcat.db.u2 SELECT id, concat('v', id) FROM range(1000, 1100)")
    val before = t.currentSnapshot().get.files
    spark.sql("UPDATE dmlcat.db.u2 SET v = 'hit' WHERE id >= 1050")
    val after = t.currentSnapshot().get
    val carried = before.filter(after.files.contains)
    assert(carried.nonEmpty && carried.size < before.size,
      s"only the id>=1050 file may rewrite (carried ${carried.size}/${before.size})")
    assert(spark.sql("SELECT count(*) FROM dmlcat.db.u2 WHERE v = 'hit'")
      .head.getLong(0) === 50L)
    assert(spark.sql("SELECT count(*) FROM dmlcat.db.u2").head.getLong(0) === 200L)
    // a WHERE pruned to zero candidate files must not commit a snapshot
    val snaps = t.listSnapshots().size
    spark.sql("UPDATE dmlcat.db.u2 SET v = 'x' WHERE id = 999999")
    assert(t.listSnapshots().size === snaps)
  }

  test("UPDATE: condition-null rows keep their values; correlated EXISTS WHERE updates exactly") {
    freshTable("u3", "id BIGINT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.u3 VALUES (1,'a'), (2,NULL), (3,'c')")
    spark.sql("UPDATE dmlcat.db.u3 SET id = id + 100 WHERE v <> 'a'")
    // v=NULL makes the predicate NULL, not true: row 2 must NOT update
    assert(spark.sql("SELECT id FROM dmlcat.db.u3 ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 103L))
    // correlated self-EXISTS (reads the PRE-update snapshot, ANSI):
    // only id=1 has a successor (2) in the table
    spark.sql("UPDATE dmlcat.db.u3 SET v = 'x' WHERE EXISTS (" +
      "SELECT 1 FROM dmlcat.db.u3 o WHERE o.id = dmlcat.db.u3.id + 1)")
    assert(spark.sql("SELECT id, v FROM dmlcat.db.u3 ORDER BY id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("-"))).toSeq
      === Seq((1L, "x"), (2L, "-"), (103L, "c")))
  }

  test("DELETE WHERE k IN (SELECT …): the decontamination shape, file-pruned at subquery cost") {
    val t = freshTable("dsub", "id BIGINT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.dsub SELECT id, concat('v', id) FROM range(0, 100)")
    spark.sql("INSERT INTO dmlcat.db.dsub SELECT id, concat('v', id) FROM range(1000, 1100)")
    freshTable("flagged", "doc BIGINT")
    spark.sql("INSERT INTO dmlcat.db.flagged VALUES (1005), (1007), (2)")
    spark.sql("DELETE FROM dmlcat.db.flagged WHERE doc = 2") // keep only the 1000-range keys
    val before = t.currentSnapshot().get.files

    spark.sql("DELETE FROM dmlcat.db.dsub WHERE id IN (SELECT doc FROM dmlcat.db.flagged)")
    assert(spark.sql("SELECT count(*) FROM dmlcat.db.dsub").head.getLong(0) === 198L)
    assert(spark.sql(
      "SELECT count(*) FROM dmlcat.db.dsub WHERE id IN (1005, 1007)").head.getLong(0) === 0L)
    val after = t.currentSnapshot().get
    assert(after.operation === "delete")
    // the 0-99 file holds no flagged key: it must carry by REFERENCE
    // (two-stage keyed prune), only the 1000-range file rewrites
    val carried = before.filter(after.files.contains)
    assert(carried.nonEmpty && carried.size < before.size,
      s"subquery keys hit one file; the other must carry (carried ${carried.size}/${before.size})")
  }

  test("DELETE WHERE NOT IN / EXISTS (uncorrelated): SQL null semantics ride Spark's own planning") {
    freshTable("dnin", "id BIGINT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.dnin VALUES (1,'a'), (2,'b'), (3,'c')")
    freshTable("keep", "k BIGINT")
    spark.sql("INSERT INTO dmlcat.db.keep VALUES (1), (NULL)")
    // NOT IN over a set containing NULL matches NO row — nothing deletes
    spark.sql("DELETE FROM dmlcat.db.dnin WHERE id NOT IN (SELECT k FROM dmlcat.db.keep)")
    assert(spark.sql("SELECT count(*) FROM dmlcat.db.dnin").head.getLong(0) === 3L)
    // uncorrelated EXISTS is all-or-nothing: non-empty subquery → all match
    spark.sql("DELETE FROM dmlcat.db.dnin WHERE id > 2 AND EXISTS (SELECT 1 FROM dmlcat.db.keep)")
    assert(spark.sql("SELECT id FROM dmlcat.db.dnin ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("UPDATE with IN-subquery WHERE and scalar-subquery SET") {
    freshTable("usub", "id BIGINT, v STRING, n BIGINT")
    spark.sql("INSERT INTO dmlcat.db.usub VALUES (1,'a',10), (2,'b',20), (3,'c',30)")
    freshTable("hot", "k BIGINT")
    spark.sql("INSERT INTO dmlcat.db.hot VALUES (2), (3)")
    spark.sql("UPDATE dmlcat.db.usub SET n = (SELECT max(k) FROM dmlcat.db.hot) * 100 " +
      "WHERE id IN (SELECT k FROM dmlcat.db.hot) AND v <> 'c'")
    assert(spark.sql("SELECT id, n FROM dmlcat.db.usub ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((1L, 10L), (2L, 300L), (3L, 30L)))
    // NOT IN over a null-bearing set is NULL for every row — nothing
    // may update (the non-null-aware existence-join trap)
    freshTable("nullk", "k BIGINT")
    spark.sql("INSERT INTO dmlcat.db.nullk VALUES (1), (NULL)")
    spark.sql("UPDATE dmlcat.db.usub SET n = 0 WHERE id NOT IN (SELECT k FROM dmlcat.db.nullk)")
    assert(spark.sql("SELECT sum(n) FROM dmlcat.db.usub").head.getLong(0) === 340L,
      "NULL-guarded NOT IN must update no row")
  }

  test("correlated DELETE EXISTS (the dedup-purge shape): exact, file-pruned at subquery cost") {
    val t = freshTable("dcor", "id BIGINT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.dcor SELECT id, concat('v', id) FROM range(0, 100)")
    spark.sql("INSERT INTO dmlcat.db.dcor SELECT id, concat('v', id) FROM range(1000, 1100)")
    // dup table with rank: ONLY rank>1 rows purge, keys all in file 2
    freshTable("dup", "k BIGINT, rank INT")
    spark.sql("INSERT INTO dmlcat.db.dup VALUES (1005, 2), (1007, 3), (1009, 1), (50, 1)")
    val before = t.currentSnapshot().get.files
    spark.sql("DELETE FROM dmlcat.db.dcor WHERE EXISTS (" +
      "SELECT 1 FROM dmlcat.db.dup d WHERE d.k = dmlcat.db.dcor.id AND d.rank > 1)")
    assert(spark.sql("SELECT count(*) FROM dmlcat.db.dcor").head.getLong(0) === 198L)
    assert(spark.sql("SELECT count(*) FROM dmlcat.db.dcor WHERE id IN (1005, 1007)")
      .head.getLong(0) === 0L)
    assert(spark.sql("SELECT count(*) FROM dmlcat.db.dcor WHERE id IN (1009, 50)")
      .head.getLong(0) === 2L, "rank=1 rows must survive")
    // the EXISTS equi-probe confines the rewrite: rank>1 keys live in
    // the 1000-range file only; the 0-99 file carries by reference
    val after = t.currentSnapshot().get.files
    val carried = before.filter(after.contains)
    assert(carried.nonEmpty && carried.size < before.size,
      s"EXISTS keys hit one file; the other must carry (carried ${carried.size}/${before.size})")
  }

  test("correlated DELETE: name collisions, NOT EXISTS, correlated IN, correlated scalar") {
    // the inner table shares the OUTER column's name — the unique-name
    // projection must keep the demoted outer reference from re-binding
    // to the subquery-local column
    freshTable("dnc", "id BIGINT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.dnc VALUES (1,'a'), (2,'b'), (3,'c')")
    freshTable("dnc2", "id BIGINT")
    spark.sql("INSERT INTO dmlcat.db.dnc2 VALUES (2)")
    spark.sql("DELETE FROM dmlcat.db.dnc WHERE EXISTS (" +
      "SELECT 1 FROM dmlcat.db.dnc2 s WHERE s.id = dmlcat.db.dnc.id)")
    assert(spark.sql("SELECT id FROM dmlcat.db.dnc ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 3L),
      "a collision-rebound EXISTS would have deleted ALL rows (s.id = s.id)")
    // NOT EXISTS (anti shape): remaining ids {1, 3}; only 1+1=2 exists
    // in dnc2, so id=3 deletes and id=1 survives
    spark.sql("DELETE FROM dmlcat.db.dnc WHERE NOT EXISTS (" +
      "SELECT 1 FROM dmlcat.db.dnc2 s WHERE s.id = dmlcat.db.dnc.id + 1)")
    assert(spark.sql("SELECT id FROM dmlcat.db.dnc").collect()
      .map(_.getLong(0)).toSeq === Seq(1L))
    // correlated IN: membership keyed on an outer column
    freshTable("din", "id BIGINT, grp STRING")
    spark.sql("INSERT INTO dmlcat.db.din VALUES (1,'a'), (2,'b'), (3,'a')")
    freshTable("din2", "k BIGINT, grp STRING")
    spark.sql("INSERT INTO dmlcat.db.din2 VALUES (1,'a'), (2,'z'), (3,'a')")
    spark.sql("DELETE FROM dmlcat.db.din WHERE id IN (" +
      "SELECT k FROM dmlcat.db.din2 d WHERE d.grp = dmlcat.db.din.grp)")
    assert(spark.sql("SELECT id FROM dmlcat.db.din ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
    // correlated scalar in WHERE
    freshTable("dsc", "id BIGINT, n BIGINT")
    spark.sql("INSERT INTO dmlcat.db.dsc VALUES (1, 5), (2, 50), (3, 7)")
    freshTable("cap", "k BIGINT, cap BIGINT")
    spark.sql("INSERT INTO dmlcat.db.cap VALUES (1, 10), (2, 10), (3, 10)")
    spark.sql("DELETE FROM dmlcat.db.dsc WHERE n > (" +
      "SELECT max(c.cap) FROM dmlcat.db.cap c WHERE c.k = dmlcat.db.dsc.id)")
    assert(spark.sql("SELECT id FROM dmlcat.db.dsc ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 3L))
    // the COUNT shape refuses even under a HAVING wrapper (a Filter
    // above the Aggregate must not slip past the non-NULL-on-empty
    // guard: the reconstruction would turn empty-group 0 into NULL)
    val eCnt = intercept[Exception](spark.sql(
      "DELETE FROM dmlcat.db.dsc WHERE (SELECT count(*) FROM dmlcat.db.cap c " +
        "WHERE c.k = dmlcat.db.dsc.id HAVING count(*) >= 0) = 0"))
    assert(eCnt.getMessage.contains("COUNT shape"), eCnt.getMessage)
    val eCnt2 = intercept[Exception](spark.sql(
      "DELETE FROM dmlcat.db.dsc WHERE (SELECT count(*) FROM dmlcat.db.cap c " +
        "WHERE c.k = dmlcat.db.dsc.id) = 0"))
    assert(eCnt2.getMessage.contains("COUNT shape"), eCnt2.getMessage)
  }

  test("DELETE with a predicate beyond the filter grammar (LIKE) runs copy-on-write and stays pruned") {
    val t = freshTable("d1", "id BIGINT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.d1 SELECT id, concat('tag', id % 10) FROM range(0, 100)")
    spark.sql("INSERT INTO dmlcat.db.d1 SELECT id, concat('tag', id % 10) FROM range(1000, 1100)")
    val snapBefore = t.currentSnapshot().get
    val before = snapBefore.files
    val overlap = t.pruneFiles(snapBefore,
      Seq(ScanPredicate.Range("id", Some(1000L), None)))._1.toSet
    assert(overlap.nonEmpty && overlap.size < before.size,
      s"fixture must leave non-overlapping files (got ${overlap.size}/${before.size})")
    // v LIKE is untranslatable (copy-on-write path); id >= 1000 prunes
    spark.sql("DELETE FROM dmlcat.db.d1 WHERE id >= 1000 AND v LIKE '%tag3%'")
    val after = t.currentSnapshot().get
    assert(after.operation === "delete")
    assert(before.count(after.files.contains) === before.size - overlap.size,
      "the translatable conjunct must keep the low-range files untouched")
    assert(spark.sql("SELECT count(*) FROM dmlcat.db.d1").head.getLong(0) === 190L)
    assert(spark.sql(
      "SELECT count(*) FROM dmlcat.db.d1 WHERE id >= 1000 AND v = 'tag3'")
      .head.getLong(0) === 0L)
  }

  test("MERGE: matched UPDATE + NOT MATCHED INSERT, key-pruned to touched files") {
    val t = freshTable("m1", "id BIGINT, v STRING, n BIGINT")
    spark.sql("INSERT INTO dmlcat.db.m1 SELECT id, concat('v', id), id * 10 FROM range(0, 100)")
    spark.sql("INSERT INTO dmlcat.db.m1 SELECT id, concat('v', id), id * 10 FROM range(1000, 1100)")
    val before = t.currentSnapshot().get.files
    spark.sql(
      """MERGE INTO dmlcat.db.m1 t
         USING (SELECT CAST(id AS BIGINT) AS id, concat('NEW', id) AS v FROM range(1050, 1060)
                UNION ALL SELECT CAST(5000 AS BIGINT), 'fresh') s
         ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET v = s.v
         WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (s.id, s.v, -1)""")
    val after = t.currentSnapshot().get
    assert(after.operation === "merge")
    // the low-range file holds no source key: it must carry by reference
    assert(before.count(after.files.contains) === before.size - 1,
      s"only the 1000-range file may rewrite")
    assert(spark.sql("SELECT count(*) FROM dmlcat.db.m1").head.getLong(0) === 201L)
    assert(spark.sql("SELECT v FROM dmlcat.db.m1 WHERE id = 1055").head.getString(0) === "NEW1055")
    assert(spark.sql("SELECT v, n FROM dmlcat.db.m1 WHERE id = 5000").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("fresh", -1L)))
    // untouched row of the rewritten file survives with original values
    assert(spark.sql("SELECT v FROM dmlcat.db.m1 WHERE id = 1001").head.getString(0) === "v1001")
  }

  test("insert-only MERGE rewrites NOTHING: every original file carries by reference") {
    val t = freshTable("m2", "id BIGINT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.m2 VALUES (1,'a'), (2,'b')")
    val before = t.currentSnapshot().get.files
    spark.sql(
      """MERGE INTO dmlcat.db.m2 t
         USING (SELECT CAST(2 AS BIGINT) AS id, 'dup' AS v
                UNION ALL SELECT CAST(3 AS BIGINT), 'c') s
         ON t.id = s.id
         WHEN NOT MATCHED THEN INSERT *""")
    val after = t.currentSnapshot().get
    assert(before.forall(after.files.contains),
      "an insert-only merge must not rewrite any existing file")
    assert(after.files.size === before.size + 1)
    val got = spark.sql("SELECT id, v FROM dmlcat.db.m2 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("MERGE: conditional matched DELETE before UPDATE (first-match-wins) and NOT MATCHED BY SOURCE") {
    freshTable("m3", "id BIGINT, v STRING, n BIGINT")
    spark.sql("INSERT INTO dmlcat.db.m3 VALUES (1,'a',10), (2,'b',20), (3,'c',30), (4,'d',40)")
    spark.sql(
      """MERGE INTO dmlcat.db.m3 t
         USING (SELECT CAST(1 AS BIGINT) AS id, true AS del
                UNION ALL SELECT CAST(2 AS BIGINT), false) s
         ON t.id = s.id
         WHEN MATCHED AND s.del THEN DELETE
         WHEN MATCHED THEN UPDATE SET v = 'kept'
         WHEN NOT MATCHED BY SOURCE AND t.n >= 40 THEN DELETE
         WHEN NOT MATCHED BY SOURCE THEN UPDATE SET n = t.n * 2""")
    val got = spark.sql("SELECT id, v, n FROM dmlcat.db.m3 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // 1 deleted (matched+del), 2 updated, 3 nmbs-doubled, 4 nmbs-deleted
    assert(got === Seq((2L, "kept", 20L), (3L, "c", 60L)))
  }

  test("MERGE cardinality rule: >1 source match with matched actions fails loudly") {
    freshTable("m4", "id BIGINT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.m4 VALUES (1,'a')")
    val e = intercept[Exception](spark.sql(
      """MERGE INTO dmlcat.db.m4 t
         USING (SELECT CAST(1 AS BIGINT) AS id, 'x' AS v
                UNION ALL SELECT CAST(1 AS BIGINT), 'y') s
         ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET v = s.v"""))
    assert(e.getMessage.contains("cardinality"), e.getMessage)
    // without matched actions duplicates are legal: both rows just insert-skip
    spark.sql(
      """MERGE INTO dmlcat.db.m4 t
         USING (SELECT CAST(1 AS BIGINT) AS id, 'x' AS v
                UNION ALL SELECT CAST(1 AS BIGINT), 'y') s
         ON t.id = s.id
         WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT count(*) FROM dmlcat.db.m4").head.getLong(0) === 1L,
      "a matched source row must not insert, and the target row must not duplicate")
  }

  test("MERGE preserves the hive partition layout on rewrite and insert") {
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dmlcat.db")
    spark.sql("DROP TABLE IF EXISTS dmlcat.db.m5")
    spark.sql("CREATE TABLE dmlcat.db.m5 (id BIGINT, bucket STRING) PARTITIONED BY (bucket)")
    spark.sql("INSERT INTO dmlcat.db.m5 SELECT id, CASE WHEN id < 50 THEN 'lo' ELSE 'hi' END FROM range(0, 100)")
    spark.sql(
      """MERGE INTO dmlcat.db.m5 t
         USING (SELECT CAST(10 AS BIGINT) AS id, 'lo' AS bucket
                UNION ALL SELECT CAST(200 AS BIGINT), 'hi') s
         ON t.id = s.id AND t.bucket = s.bucket
         WHEN MATCHED THEN UPDATE SET id = t.id + 10000
         WHEN NOT MATCHED THEN INSERT *""")
    val t = new LakehouseTable(spark, root("m5"))
    assert(t.currentSnapshot().get.files.forall(_.contains("bucket=")),
      "merge output must stay hive-partitioned")
    assert(spark.sql("SELECT count(*) FROM dmlcat.db.m5 WHERE id = 10010").head.getLong(0) === 1L)
    assert(spark.sql("SELECT bucket FROM dmlcat.db.m5 WHERE id = 200").head.getString(0) === "hi")
    assert(spark.sql("SELECT count(*) FROM dmlcat.db.m5").head.getLong(0) === 101L)
  }

  test("plain MERGE (no WITH SCHEMA EVOLUTION) never evolves the target schema") {
    freshTable("m6", "id BIGINT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.m6 VALUES (1,'a')")
    // explicit assignments that ignore the extra source column: runs,
    // schema unchanged — evolution is strictly opt-in via the keyword
    spark.sql(
      """MERGE INTO dmlcat.db.m6 t
         USING (SELECT CAST(1 AS BIGINT) AS id, 'x' AS v, 7 AS extra) s
         ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET v = s.v""")
    assert(spark.table("dmlcat.db.m6").schema.fieldNames.toSeq === Seq("id", "v"),
      "a plain MERGE must not add the source-only column")
    assert(spark.sql("SELECT v FROM dmlcat.db.m6").head.getString(0) === "x")
  }

  test("MERGE WHEN conditions take uncorrelated subqueries; MERGE ON refuses them") {
    freshTable("m8", "id BIGINT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.m8 VALUES (1,'a'), (2,'b'), (3,'c')")
    freshTable("vip", "k BIGINT")
    spark.sql("INSERT INTO dmlcat.db.vip VALUES (1), (3)")
    // the WHEN gate consults another table per row (uncorrelated IN)
    spark.sql(
      """MERGE INTO dmlcat.db.m8 t
         USING (SELECT CAST(id + 1 AS BIGINT) AS sid, concat('s', id) AS sv
                FROM range(0, 4)) s
         ON t.id = s.sid
         WHEN MATCHED AND t.id IN (SELECT k FROM dmlcat.db.vip) THEN
           UPDATE SET v = s.sv
         WHEN MATCHED THEN DELETE""")
    assert(spark.sql("SELECT id, v FROM dmlcat.db.m8 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "s0"), (3L, "s2")), "VIP rows update, non-VIP matched rows delete")
    // an uncorrelated IN inside ON STAGES to a literal probe list
    // (round 13): state is now (1,'s0'), (3,'s2') and vip = {1,3} —
    // the staged membership scopes the matched delete to id=1
    spark.sql(
      """MERGE INTO dmlcat.db.m8 t
         USING (SELECT CAST(1 AS BIGINT) AS sid) s
         ON t.id = s.sid AND t.id IN (SELECT k FROM dmlcat.db.vip)
         WHEN MATCHED THEN DELETE""")
    assert(spark.sql("SELECT id FROM dmlcat.db.m8").collect()
      .map(_.getLong(0)).toSeq === Seq(3L))
    // CORRELATED subqueries stay structurally refused — a join
    // condition cannot host the correlation
    val e = intercept[Exception](spark.sql(
      """MERGE INTO dmlcat.db.m8 t
         USING (SELECT CAST(3 AS BIGINT) AS sid) s
         ON t.id = s.sid AND EXISTS (SELECT 1 FROM dmlcat.db.vip w WHERE w.k = t.id)
         WHEN MATCHED THEN DELETE"""))
    assert(e.getMessage.contains("UNCORRELATED"), e.getMessage)
  }

  test("MERGE WITH SCHEMA EVOLUTION: new source columns add, types widen, star actions re-expand (round 12)") {
    val t = freshTable("me1", "id BIGINT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.me1 VALUES (1,'a'), (2,'b')")
    // the analyzer computes the source-minus-target changes, applies
    // them through the catalog (alter snapshots — they ride the
    // schema-history channel like hand-written DDL), and re-expands
    // the star actions over the evolved schema
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO dmlcat.db.me1 t
         USING (SELECT CAST(2 AS BIGINT) AS id, 'B' AS v, 'T' AS tag
                UNION ALL SELECT CAST(3 AS BIGINT), 'c', 'U') s
         ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *""")
    val got = spark.sql("SELECT id, v, tag FROM dmlcat.db.me1 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSeq
    assert(got === Seq((1L, "a", None), (2L, "B", Some("T")), (3L, "c", Some("U"))))
    // the evolution rode an alter snapshot → it REPLICATES: the add is
    // on the schema-history channel for the merge's range
    val snaps = t.listSnapshots().map(_.snapshotId)
    val ddl = t.schemaChangesBetween(snaps.head, snaps.last).map(DdlRecord.parse)
    assert(ddl.exists(r => r.op == "add" && r.column.contains("tag")),
      s"the evolution must ship as an add record: $ddl")
    // widen direction: a BIGINT source key evolves an INT target column
    val t2 = freshTable("me2", "id INT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.me2 VALUES (1,'a')")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO dmlcat.db.me2 t
         USING (SELECT CAST(5000000000 AS BIGINT) AS id, 'big' AS v) s
         ON t.id = s.id
         WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.table("dmlcat.db.me2").schema("id").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(spark.sql("SELECT sum(id) FROM dmlcat.db.me2").head.getLong(0) === 5000000001L)
    assert(t2.currentSnapshot() !== null)
    // the catalog's guards hold through this path: widening a BUCKET
    // SOURCE column refuses (xxhash64 is width-sensitive — a widen
    // would strand pre-widen files in stale bucket dirs)
    ensureCatalog()
    spark.sql("DROP TABLE IF EXISTS dmlcat.db.me3")
    spark.sql("CREATE TABLE dmlcat.db.me3 (id INT, v STRING) PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO dmlcat.db.me3 VALUES (1,'a')")
    val e = intercept[Exception](spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO dmlcat.db.me3 t
         USING (SELECT CAST(2 AS BIGINT) AS id, 'b' AS v) s
         ON t.id = s.id
         WHEN NOT MATCHED THEN INSERT *"""))
    assert(e.getMessage.toLowerCase.contains("bucket"), e.getMessage)
  }

  test("the merge-evolution analyzer rule still FIRES on this Spark (stack-sniff upgrade guard)") {
    // the whole staged-evolution mechanism rests on detecting Spark's
    // ResolveMergeIntoSchemaEvolution rule on the call stack — a Spark
    // upgrade that renames or moves that rule would silently disable
    // evolution (merges would add nothing, with no error). Pin the
    // detection LOUDLY: the stage counter must move across a real
    // evolving merge, and the column must actually land.
    val t = freshTable("merule", "id BIGINT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.merule VALUES (1,'a')")
    val before = LakehouseDml.evolutionRuleHits.get()
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO dmlcat.db.merule t
         USING (SELECT CAST(2 AS BIGINT) AS id, 'b' AS v, 'N' AS newcol) s
         ON t.id = s.id
         WHEN NOT MATCHED THEN INSERT *""")
    assert(LakehouseDml.evolutionRuleHits.get() > before,
      "stageEvolution never ran through the analyzer rule — the " +
        "ResolveMergeIntoSchemaEvolution stack-sniff no longer matches " +
        "this Spark version; update LakehouseDml.inMergeEvolutionRule")
    assert(spark.table("dmlcat.db.merule").schema.fieldNames.contains("newcol"))
    assert(t.currentSnapshot().isDefined)
  }

  test("a staged evolution survives 64 unrelated stagings (LRU eviction, not wholesale clear)") {
    // round-14 ADVICE: the overflow bound cleared the WHOLE staging map,
    // wiping a concurrent merge sitting between analysis and execution.
    // Eviction is now eldest-entry LRU — a recently staged root survives
    // a burst of unrelated stagings well past the 64 bound.
    val add = org.apache.spark.sql.connector.catalog.TableChange.addColumn(
      Array("x"), org.apache.spark.sql.types.IntegerType)
    LakehouseDml.stageEvolution("/graft-lru-victim", Seq(add))
    (0 until 64).foreach { i =>
      // each unrelated staging REFRESHES the victim (access-order LRU
      // would age it out otherwise; a real merge re-reads its staging
      // between analysis and exec the same way)
      assert(LakehouseDml.stagedEvolutionFor("/graft-lru-victim").isDefined,
        s"staging evicted after only $i unrelated stagings")
      LakehouseDml.stageEvolution(s"/graft-lru-noise-$i", Seq(add))
    }
    assert(LakehouseDml.stagedEvolutionFor("/graft-lru-victim").isDefined)
    // leftover fake-root stagings are harmless: no real merge ever
    // resolves these roots, and the 64-entry bound ages them out
  }

  test("MERGE WITH SCHEMA EVOLUTION is DRY-RUN honest: EXPLAIN commits nothing (round 14)") {
    val t = freshTable("medry", "id BIGINT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.medry VALUES (1,'a')")
    val snapsBefore = t.listSnapshots().map(_.snapshotId)
    val mergeSql =
      """MERGE WITH SCHEMA EVOLUTION INTO dmlcat.db.medry t
         USING (SELECT CAST(2 AS BIGINT) AS id, 'b' AS v, 'T' AS tag) s
         ON t.id = s.id
         WHEN NOT MATCHED THEN INSERT *"""
    // EXPLAIN analyzes the evolving merge (the round-12/13 behavior
    // committed the ADD here) — the table must be UNTOUCHED
    spark.sql(s"EXPLAIN $mergeSql").collect()
    assert(t.listSnapshots().map(_.snapshotId) === snapsBefore,
      "EXPLAIN of an evolving merge must commit NO snapshot")
    assert(!spark.table("dmlcat.db.medry").schema.fieldNames.contains("tag"),
      "EXPLAIN of an evolving merge must not evolve the schema")
    // EXECUTING the same merge commits the staged DDL then the data
    spark.sql(mergeSql)
    assert(spark.sql("SELECT id, v, tag FROM dmlcat.db.medry ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSeq ===
      Seq((1L, "a", None), (2L, "b", Some("T"))))
    val ops = t.listSnapshots().drop(snapsBefore.size).map(_.operation)
    assert(ops === Seq("alter", "merge"),
      s"the staged evolution lands as an alter snapshot AT EXECUTION: $ops")
    // and the add still rides the schema-history channel
    val snaps = t.listSnapshots().map(_.snapshotId)
    val ddl = t.schemaChangesBetween(snaps.head, snaps.last).map(DdlRecord.parse)
    assert(ddl.exists(r => r.op == "add" && r.column.contains("tag")), s"$ddl")
  }

  test("MERGE ON stages uncorrelated scalar subqueries to literals (round 12)") {
    val t = freshTable("m9", "id BIGINT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.m9 VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d')")
    freshTable("thr", "cut BIGINT")
    spark.sql("INSERT INTO dmlcat.db.thr VALUES (2)")
    val before = t.currentSnapshot().get.files
    // the scalar stages to a literal INSIDE an ON equi-conjunct, so the
    // merge join AND the equi-pair file probe both see it
    spark.sql(
      """MERGE INTO dmlcat.db.m9 t
         USING (SELECT CAST(id AS BIGINT) AS sid, concat('s', id) AS sv
                FROM range(0, 4)) s
         ON t.id = s.sid + (SELECT max(cut) FROM dmlcat.db.thr)
         WHEN MATCHED THEN UPDATE SET v = s.sv
         WHEN NOT MATCHED THEN INSERT (id, v) VALUES
           (s.sid + (SELECT max(cut) FROM dmlcat.db.thr), s.sv)""")
    assert(spark.sql("SELECT id, v FROM dmlcat.db.m9 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a"), (2L, "s0"), (3L, "s1"), (4L, "s2"), (5L, "s3")))
    assert(before.nonEmpty, "sanity")
    // a scalar that returns >1 row fails with the ANSI cardinality rule
    spark.sql("INSERT INTO dmlcat.db.thr VALUES (7)")
    val e = intercept[Exception](spark.sql(
      """MERGE INTO dmlcat.db.m9 t
         USING (SELECT CAST(1 AS BIGINT) AS sid) s
         ON t.id = (SELECT cut FROM dmlcat.db.thr)
         WHEN MATCHED THEN DELETE"""))
    assert(e.getMessage.contains("more than one row"), e.getMessage)
  }

  test("MERGE ON stages uncorrelated IN/EXISTS; the staged probe list prunes candidate files (round 13)") {
    val t = freshTable("m11", "id BIGINT, v STRING")
    // three files, keyed ranges — the decontamination shape needs the
    // staged IN to prune to the files actually holding flagged keys
    spark.sql("INSERT INTO dmlcat.db.m11 VALUES (1,'a'), (2,'b')")
    spark.sql("INSERT INTO dmlcat.db.m11 VALUES (10,'c'), (11,'d')")
    spark.sql("INSERT INTO dmlcat.db.m11 VALUES (20,'e'), (21,'f')")
    freshTable("contam", "bad BIGINT")
    spark.sql("INSERT INTO dmlcat.db.contam VALUES (10), (11)")
    val before = t.currentSnapshot().get.files
    spark.sql(
      """MERGE INTO dmlcat.db.m11 t
         USING (SELECT 1 AS one) s
         ON t.id IN (SELECT bad FROM dmlcat.db.contam)
         WHEN MATCHED THEN DELETE""")
    assert(spark.sql("SELECT id FROM dmlcat.db.m11 ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 20L, 21L),
      "exactly the flagged keys delete")
    val after = t.currentSnapshot().get.files
    val rewrote = before.size - before.count(after.contains)
    assert(rewrote >= 1 && rewrote <= 2,
      s"the staged probe list must prune candidates to the files holding " +
        s"flagged keys: rewrote $rewrote of ${before.size}")
    // uncorrelated EXISTS stages to a constant: empty flag table means
    // the whole merge is a no-op (nothing matches, nothing commits)
    freshTable("flag", "x BIGINT")
    val head = t.currentSnapshot().get.snapshotId
    spark.sql(
      """MERGE INTO dmlcat.db.m11 t
         USING (SELECT CAST(1 AS BIGINT) AS sid) s
         ON t.id = s.sid AND EXISTS (SELECT 1 FROM dmlcat.db.flag)
         WHEN MATCHED THEN DELETE""")
    assert(t.currentSnapshot().get.snapshotId === head, "EXISTS() over empty = no-op")
    // …and NOT EXISTS over the same empty table lets the equi-match fire
    spark.sql(
      """MERGE INTO dmlcat.db.m11 t
         USING (SELECT CAST(1 AS BIGINT) AS sid) s
         ON t.id = s.sid AND NOT EXISTS (SELECT 1 FROM dmlcat.db.flag)
         WHEN MATCHED THEN DELETE""")
    assert(spark.sql("SELECT id FROM dmlcat.db.m11 ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(2L, 20L, 21L))
    // multi-column IN keeps the structural refusal (no portable null
    // semantics as a staged list)
    val e = intercept[Exception](spark.sql(
      """MERGE INTO dmlcat.db.m11 t
         USING (SELECT CAST(2 AS BIGINT) AS sid) s
         ON (t.id, t.v) IN (SELECT bad, 'b' FROM dmlcat.db.contam)
         WHEN MATCHED THEN DELETE"""))
    assert(e.getMessage.contains("single-column"), e.getMessage)
  }

  test("MERGE USING source carrying subqueries plans and materializes once") {
    val t = freshTable("m10", "id BIGINT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.m10 VALUES (1,'a'), (2,'b'), (3,'c')")
    freshTable("keep10", "k BIGINT")
    spark.sql("INSERT INTO dmlcat.db.keep10 VALUES (2), (9)")
    val snaps = t.listSnapshots().size
    // the USING source is a full query with its own IN-subquery — it
    // resolves and stages through the source materialization (cache),
    // so candidate discovery and the merge join agree on the key set
    spark.sql(
      """MERGE INTO dmlcat.db.m10 t
         USING (SELECT CAST(id AS BIGINT) AS sid, 'hit' AS sv FROM range(0, 10)
                WHERE id IN (SELECT k FROM dmlcat.db.keep10)) s
         ON t.id = s.sid
         WHEN MATCHED THEN UPDATE SET v = s.sv
         WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.sid, s.sv)""")
    assert(spark.sql("SELECT id, v FROM dmlcat.db.m10 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a"), (2L, "hit"), (3L, "c"), (9L, "hit")))
    assert(t.listSnapshots().size === snaps + 1, "one snapshot per MERGE")
  }

  test("empty-source MERGE with no matches commits nothing") {
    val t = freshTable("m7", "id BIGINT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.m7 VALUES (1,'a')")
    val snaps = t.listSnapshots().size
    spark.sql(
      """MERGE INTO dmlcat.db.m7 t
         USING (SELECT CAST(99 AS BIGINT) AS sid, 'x' AS v FROM range(0)) s
         ON t.id = s.sid
         WHEN MATCHED THEN UPDATE SET v = s.v
         WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.sid, s.v)""")
    assert(t.listSnapshots().size === snaps,
      "an empty source with matched+insert actions must not commit")
    // key-disjoint source with only a matched action: candidates prune to
    // zero files, nothing to rewrite, nothing to insert -> no commit
    spark.sql(
      """MERGE INTO dmlcat.db.m7 t
         USING (SELECT CAST(500 AS BIGINT) AS id, 'x' AS v) s
         ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET v = s.v""")
    assert(t.listSnapshots().size === snaps)
  }

  test("DELETE, UPDATE and MERGE refresh a cached target table") {
    freshTable("cached", "id BIGINT, v STRING")
    spark.sql("INSERT INTO dmlcat.db.cached SELECT id, 'a' FROM range(10)")
    spark.sql("CACHE TABLE dmlcat.db.cached")
    try {
      def ids: Seq[Long] = spark.sql("SELECT id FROM dmlcat.db.cached ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids === (0L until 10L))
      spark.sql("DELETE FROM dmlcat.db.cached WHERE id >= 5")
      assert(ids === (0L until 5L), "DELETE")
      spark.sql("UPDATE dmlcat.db.cached SET id = id + 100 WHERE id < 2")
      assert(ids === Seq(2L, 3L, 4L, 100L, 101L), "UPDATE")
      spark.sql(
        """MERGE INTO dmlcat.db.cached t USING (SELECT CAST(3 AS BIGINT) AS id) s
           ON t.id = s.id WHEN MATCHED THEN DELETE""")
      assert(ids === Seq(2L, 4L, 100L, 101L), "MERGE")
    } finally spark.sql("UNCACHE TABLE dmlcat.db.cached")
  }
}
