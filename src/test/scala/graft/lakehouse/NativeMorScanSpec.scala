package graft.lakehouse

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Merge-on-read snapshots on the NATIVE vectorized scan: the batch
  * scan loads the tombstone key sets into broadcast hash masks,
  * prunes the affected-file set from manifest stats, and the partition
  * readers stay COLUMNAR (zero-copy passthrough for batches holding no
  * masked row; survivor copy otherwise). Runtime join-driven file
  * pruning keeps working on tombstoned snapshots. This is the ONE read
  * path: binary keys mask here too, and nested keys are refused when
  * the merge-on-read write is attempted.
  *
  * This is the busy-CDC-table shape: tombstones are PRESENT between
  * compactions, which is exactly when a 100 TB replication target gets
  * read.
  */
class NativeMorScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def dsv2(t: LakehouseTable): DataFrame =
    spark.read.format("graft-lakehouse").load(t.root)

  private def ch(rows: (Long, String, String)*): DataFrame =
    rows.toSeq.toDF("id", "v", "_change")

  /** 4 appends of contiguous 1000-id ranges (4 files, range-disjoint). */
  private def rangedMor(name: String): LakehouseTable = {
    val t = new LakehouseTable(spark, tmpDir(name))
    (0 until 4).foreach { i =>
      val lo = i.toLong * 1000
      t.append((lo until lo + 1000).map(id => (id, s"v$id")).toDF("id", "v").coalesce(1))
    }
    t
  }

  private def batchScans(df: DataFrame): Seq[BatchScanExec] =
    collectWithSubqueries(df.queryExecution.executedPlan) { case b: BatchScanExec => b }

  test("a tombstoned snapshot stays NATIVE and COLUMNAR; masked rows drop exactly") {
    val t = rangedMor("nmor-basic")
    // delete 2 keys in file 2's range, update 1 (delete+insert same batch)
    t.applyChanges(ch((2100L, "x", "delete"), (2200L, "x", "delete"),
      (2300L, "x", "delete"), (2300L, "V2300", "insert")), Seq("id"), mergeOnRead = true)
    assert(t.currentSnapshot().get.tombstones.nonEmpty, "precondition: live tombstones")

    val df = dsv2(t)
    val scans = batchScans(df)
    assert(scans.nonEmpty, s"MoR snapshot must plan the NATIVE batch scan:\n" +
      df.queryExecution.executedPlan)
    assert(scans.head.supportsColumnar,
      "MoR partitions must keep COLUMNAR reads (zero-copy or survivor-copy)")
    assert(df.queryExecution.executedPlan.toString.contains("MoR: masked"))

    assert(df.count() === 3998L) // 4000 - 3 deleted + 1 re-insert
    assert(df.filter(col("id") === 2100L).collect().isEmpty)
    assert(df.filter(col("id") === 2300L).select("v").head.getString(0) === "V2300")
    // a point lookup outside the masked range is untouched
    assert(df.filter(col("id") === 500L).select("v").head.getString(0) === "v500")
  }

  test("ignoreMorMasks is no read option: setting it cannot resurrect deleted rows") {
    val t = rangedMor("nmor-ign")
    t.applyChanges(ch((2100L, "x", "delete")), Seq("id"), mergeOnRead = true)
    val df = spark.read.format("graft-lakehouse")
      .option("ignoreMorMasks", "true").load(t.root)
    assert(df.count() === 3999L)
    assert(df.filter(col("id") === 2100L).collect().isEmpty)
  }

  test("only batches holding a masked row pay the survivor copy; the rest pass through zero-copy") {
    val t = rangedMor("nmor-copy")
    t.applyChanges(ch((1500L, "x", "delete")), Seq("id"), mergeOnRead = true)
    LakehouseMor.batchesPassedThrough.set(0)
    LakehouseMor.batchesCopied.set(0)
    assert(dsv2(t).count() === 3999L)
    // manifest stats confine the masked group to file 1 (ranges are
    // disjoint); its single 1000-row batch holds key 1500 → copied.
    // Files 0/2/3 never enter the masking reader at all.
    assert(LakehouseMor.batchesCopied.get() >= 1L, "the affected batch must be filtered")
    assert(LakehouseMor.batchesCopied.get() + LakehouseMor.batchesPassedThrough.get() <= 2L,
      "unaffected files must not be probed per-row: affected-file pruning failed")
  }

  test("runtime (join-driven) file pruning keeps working on a tombstoned snapshot") {
    val t = new LakehouseTable(spark, tmpDir("nmor-rtf"))
    (0 until 16).foreach { i =>
      val lo = i.toLong * 1000
      t.append((lo until lo + 1000).map(id => (id, s"v$id")).toDF("id", "v").coalesce(1))
    }
    // pure-delete MoR apply: tombstones live, no insert rows
    t.applyChanges(ch((3005L, "x", "delete")), Seq("id"), mergeOnRead = true)

    val dim = new LakehouseTable(spark, tmpDir("nmor-rtf-dim"))
    dim.append((0 until 20).map(i => (3000L + i, "k")).toDF("id", "cat").coalesce(1))

    val joined = dsv2(t).join(dsv2(dim).filter(col("cat") === "k"), "id")
    val rows = joined.collect()
    assert(rows.length === 19, "20 dim keys minus the tombstoned 3005")
    val info = ScanEvents.lastScan(t.root).get
    assert(info.pushed.exists(_.startsWith("runtime:")),
      s"the tombstoned fact scan must still receive runtime filters: $info")
    assert(info.filesPlanned <= 3,
      s"runtime keys land in 1 of 16 ranges — manifest pruning must survive MoR: $info")
  }

  test("static pushed filters compose with masking (skipping read of a masked key)") {
    val t = rangedMor("nmor-static")
    t.applyChanges(ch((700L, "x", "delete")), Seq("id"), mergeOnRead = true)
    val hit = dsv2(t).filter(col("id") === 700L)
    assert(hit.collect().isEmpty, "stats still cover id=700; the mask must drop it")
    assert(batchScans(hit).nonEmpty)
    val info = ScanEvents.lastScan(t.root).get
    assert(info.filesPlanned <= 1, s"static pruning must survive MoR: $info")
  }

  test("multi-batch MoR history reads native: cow-equivalence across update/delete/resurrect") {
    val cow = new LakehouseTable(spark, tmpDir("nmor-eq-cow"))
    val mor = new LakehouseTable(spark, tmpDir("nmor-eq-mor"))
    val batches = Seq(
      ch((1L, "a", "insert"), (2L, "b", "insert"), (3L, "c", "insert")),
      ch((2L, "b2", "insert"), (4L, "d", "insert")),
      ch((1L, "a", "delete"), (3L, "c3", "insert")),
      ch((1L, "A4", "insert")), // resurrect after delete
      ch((4L, "d", "delete")))
    batches.foreach(b => cow.applyChanges(b, Seq("id")))
    batches.foreach(b => mor.applyChanges(b, Seq("id"), mergeOnRead = true))
    def content(t: LakehouseTable): Seq[(Long, String)] =
      dsv2(t).select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(batchScans(dsv2(mor)).nonEmpty, "the MoR twin must read native")
    assert(content(mor) === content(cow))
    assert(content(mor) === Seq((1L, "A4"), (2L, "b2"), (3L, "c3")))
  }

  test("string keys mask through the native path (UTF8String canon)") {
    val t = new LakehouseTable(spark, tmpDir("nmor-str"))
    t.append(Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "n").coalesce(1))
    t.applyChanges(Seq(("b", 0L, "delete"), ("c", 30L, "insert"), ("c", 3L, "delete"))
      .toDF("k", "n", "_change"), Seq("k"), mergeOnRead = true)
    val df = dsv2(t)
    assert(batchScans(df).nonEmpty)
    assert(df.select("k", "n").collect().map(r => (r.getString(0), r.getLong(1))).toSet
      === Set(("a", 1L), ("c", 30L)))
  }

  test("decimal tombstone keys mask through the NATIVE path (scale-insensitive canon)") {
    val t = new LakehouseTable(spark, tmpDir("nmor-dec"))
    val mk = (k: BigDecimal, v: String) => (k, v)
    t.append(Seq(mk(BigDecimal("1.50"), "a"), mk(BigDecimal("2.25"), "b"),
      mk(BigDecimal("3.00"), "c")).toDF("k", "v").coalesce(1))
    t.applyChanges(Seq((BigDecimal("1.50"), "x", "delete"),
      (BigDecimal("3.00"), "C3", "insert"), (BigDecimal("3.00"), "x", "delete"))
      .toDF("k", "v", "_change"), Seq("k"), mergeOnRead = true)
    val df = dsv2(t)
    assert(batchScans(df).nonEmpty,
      "decimal keys canonicalize (unscaled, scale-stripped): native scan must plan")
    assert(df.select("v").collect().map(_.getString(0)).toSet === Set("b", "C3"))
    // wide-precision decimals (beyond 18 digits, byte-array backed) too
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DecimalType, StringType, StructField, StructType}
    val t2 = new LakehouseTable(spark, tmpDir("nmor-dec-wide"))
    val big = new java.math.BigDecimal("123456789012345678901.123")
    val wideS = StructType(Seq(StructField("k", DecimalType(25, 3)), StructField("v", StringType)))
    t2.append(spark.createDataFrame(
      java.util.List.of(Row(big, "x"), Row(big.add(java.math.BigDecimal.ONE), "y")),
      wideS).coalesce(1))
    t2.applyChanges(spark.createDataFrame(
      java.util.List.of(Row(big, "z", "delete")),
      wideS.add(StructField("_change", StringType))), Seq("k"), mergeOnRead = true)
    val df2 = dsv2(t2)
    assert(batchScans(df2).nonEmpty)
    assert(df2.select("v").collect().map(_.getString(0)).toSeq === Seq("y"))
  }

  test("a binary tombstone key masks through the native scan — loudly correct, never wrong") {
    val t = new LakehouseTable(spark, tmpDir("nmor-bin"))
    t.append(Seq((Array[Byte](1), "a"), (Array[Byte](2), "b")).toDF("k", "v").coalesce(1))
    t.applyChanges(Seq((Array[Byte](1), "x", "delete")).toDF("k", "v", "_change"),
      Seq("k"), mergeOnRead = true)
    val df = dsv2(t)
    assert(batchScans(df).nonEmpty, "binary keys mask inside the native scan")
    assert(df.select("v").collect().map(_.getString(0)).toSeq === Seq("b"))
  }

  test("a merge-on-read apply keyed on a STRUCT column refuses before writing anything") {
    val root = tmpDir("nmor-struct")
    val t = new LakehouseTable(spark, root)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .select(struct(col("id")).as("k"), col("v")).coalesce(1))
    def dataFiles(): Set[String] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "data"))
      try s.iterator().asScala.map(_.toString).toSet finally s.close()
    }
    val (headBefore, filesBefore) = (t.currentSnapshot().get, dataFiles())
    val batch = Seq((1L, "x", "delete")).toDF("id", "v", "_change")
      .select(struct(col("id")).as("k"), col("v"), col("_change"))
    val e = intercept[IllegalArgumentException](
      t.applyChanges(batch, Seq("k"), mergeOnRead = true))
    assert(e.getMessage.contains("'k'"), e.getMessage)
    assert(t.currentSnapshot().get === headBefore, "the manifest must be unchanged")
    assert(dataFiles() === filesBefore, "no data or tombstone file may be written")
  }

  test("float→double widening across live tombstones: the mask still drops deleted rows") {
    val t = new LakehouseTable(spark, tmpDir("nmor-float"))
    t.append(Seq((1.5f, "a"), (2.5f, "b"), (3.5f, "c")).toDF("k", "v").coalesce(1))
    // tombstone written at FLOAT width …
    t.applyChanges(Seq((2.5f, "x", "delete")).toDF("k", "v", "_change"),
      Seq("k"), mergeOnRead = true)
    // … then the key column widens (widenColumn permits live tombstones):
    // canon folds Float→Double, so the pre-widen tombstone still equals
    // the data-row probe read at the declared (Double) width
    t.widenColumn("k", org.apache.spark.sql.types.DoubleType)
    val df = dsv2(t)
    assert(batchScans(df).nonEmpty, "widened MoR lineage stays native")
    assert(df.select("k").collect().map(_.getDouble(0)).toSet === Set(1.5d, 3.5d),
      "the float-width tombstone must keep masking after the widen")
    // a post-widen tombstone at DOUBLE width masks pre-widen float data
    t.applyChanges(Seq((3.5d, "x", "delete")).toDF("k", "v", "_change"),
      Seq("k"), mergeOnRead = true)
    val df2 = dsv2(t)
    assert(batchScans(df2).nonEmpty)
    assert(df2.select("k").collect().map(_.getDouble(0)).toSet === Set(1.5d))
  }

  test("hive-partitioned MoR table: masking composes with path-derived columns") {
    val t = new LakehouseTable(spark, tmpDir("nmor-hive"))
    t.append(Seq((1L, "a", "lo"), (2L, "b", "lo"), (3L, "c", "hi"))
      .toDF("id", "v", "bucket").coalesce(1), partitionBy = Seq("bucket"))
    t.applyChanges(Seq((2L, "x", "lo", "delete")).toDF("id", "v", "bucket", "_change"),
      Seq("id"), mergeOnRead = true)
    val df = dsv2(t)
    assert(batchScans(df).nonEmpty)
    assert(df.select("id", "bucket").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "lo"), (3L, "hi")))
    // projection that puts the path column first still aligns
    assert(df.select("bucket", "id").where(col("id") === 1L).head.getString(0) === "lo")
  }
}
