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
  * tombstone emptiness; the Spark jobs each face runs are reported.
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

  /** A fresh catalog table seeded with `seedRows`: (catalog name, root). */
  private def seeded(hive: Boolean): (String, String) = {
    seq += 1
    val name = s"$cat.db.kf$seq"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name (k BIGINT, rk STRING, v STRING)" +
      (if (hive) " PARTITIONED BY (rk)" else ""))
    seedRows.toDF("k", "rk", "v").coalesce(1).writeTo(name).append()
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
}
