package graft.lakehouse

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The automatic skipping read path: `read(preds)`/`scanAtSnapshot(id,
  * preds)` must cut the files actually scanned — footer min/max for
  * ranges and clustered equality, bloom sidecars where ranges overlap
  * everything, z-order for non-leading columns, partition dirs for
  * partition columns — while ALWAYS returning exactly the full-scan
  * answer (skipping is provable absence, never approximation).
  */
class SkippingReadSpec extends SparkSpec {

  /** Files the physical plan will actually open — the native scan's
    * planned partitions, not the files surviving rows happen to come
    * from.
    */
  private def filesRead(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.flatMap {
          case p: LakehouseGroupedPartition => p.fp.files.map(_.filePath.toString).toSeq
        }
    }.flatten.distinct.size

  /** 16 files, file i holding the contiguous id range [1000i, 1000i+999]. */
  private def rangedTable(): LakehouseTable = {
    import spark.implicits._
    val t = new LakehouseTable(spark, tmpDir("skipread"))
    (0 until 16).foreach { i =>
      val lo = i.toLong * 1000
      t.append((lo until lo + 1000).map(id => (id, s"v$id")).toDF("id", "payload").coalesce(1))
    }
    t
  }

  test("equality on a clustered column prunes via footer min/max — no index build needed") {
    val t = rangedTable()
    val df = t.read(Seq(ScanPredicate.EqualTo("id", 4500L)))
    assert(filesRead(df) === 1, "footer stats must confine an equality probe to its one file")
    val want = t.read().filter(col("id") === 4500L).collect()
    assert(df.collect().toSeq === want.toSeq && want.length === 1)
  }

  test("range predicate prunes to the overlapping files; bounds are inclusive") {
    val t = rangedTable()
    val df = t.read(Seq(ScanPredicate.Range("id", Some(1000L), Some(2999L))))
    assert(filesRead(df) === 2, "a two-file range must scan exactly two files")
    assert(df.count() === 2000)
    // half-open forms
    assert(t.read(Seq(ScanPredicate.Range("id", Some(15000L), None))).count() === 1000)
    assert(t.read(Seq(ScanPredicate.Range("id", None, Some(999L)))).count() === 1000)
  }

  test("scrambled strings: min/max overlaps every file, bloom sidecars prune instead") {
    import spark.implicits._
    // payload scrambled across files: every file's lexical [min, max]
    // spans nearly the full value range, so footer stats can't skip —
    // the high-cardinality-equality case blooms exist for
    def scramble(id: Long): String = f"h${(id * 48271L) % 65536L}%05d"
    val t = new LakehouseTable(spark, tmpDir("skipread-bloom"))
    (0 until 16).foreach { i =>
      val lo = i.toLong * 1000
      t.append((lo until lo + 1000).map(id => (id, scramble(id)))
        .toDF("id", "payload").coalesce(1))
    }
    val probe = scramble(4500L)
    val before = filesRead(t.read(Seq(ScanPredicate.EqualTo("payload", probe))))
    assert(before === 16, "scrambled values must defeat footer stats (the bloom motivation)")
    t.buildBloomIndex("payload", expectedPerFile = 2000)
    val df = t.read(Seq(ScanPredicate.EqualTo("payload", probe)))
    assert(filesRead(df) <= 3, "bloom sidecars must prune the stats-blind files")
    assert(df.collect().map(_.getLong(0)).toSet.contains(4500L))
  }

  test("z-order clustering makes a NON-leading column skippable through the public read path") {
    import spark.implicits._
    val t = new LakehouseTable(spark, tmpDir("skipread-z"))
    // 64x64 grid: plain x-sort would leave every file spanning all of y
    val rows = for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong)
    t.append(rows.toDF("x", "y").coalesce(1))
    t.compactZOrder(Seq("x", "y"), targetFiles = 8)
    val df = t.read(Seq(ScanPredicate.Range("y", Some(0L), Some(7L))))
    val scanned = filesRead(df)
    assert(scanned < 8, s"z-order must prune y-range scans, read $scanned of 8 files")
    assert(df.count() === 64 * 8)
  }

  test("partitioned table: partition-path values prune without opening footers") {
    import spark.implicits._
    val t = new LakehouseTable(spark, tmpDir("skipread-part"))
    t.append((0 until 3000).map(i => (i.toLong, i % 3)).toDF("id", "bucket").coalesce(1),
      partitionBy = Seq("bucket"))
    val df = t.read(Seq(ScanPredicate.EqualTo("bucket", 1)))
    assert(filesRead(df) === 1, "only the bucket=1 partition directory should be scanned")
    assert(df.count() === 1000)
  }

  test("time travel composes with skipping; result matches the unpruned historical scan") {
    val t = rangedTable()
    val firstId = t.listSnapshots().head.snapshotId
    val df = t.scanAtSnapshot(firstId, Seq(ScanPredicate.EqualTo("id", 500L)))
    assert(filesRead(df) === 1)
    assert(df.collect().toSeq ===
      t.scanAtSnapshot(firstId).filter(col("id") === 500L).collect().toSeq)
    // a post-snapshot id is absent from the historical view
    assert(t.scanAtSnapshot(firstId, Seq(ScanPredicate.EqualTo("id", 4500L))).count() === 0)
  }

  test("STRING partition column with numeric-looking values: equality prunes, ranges never mis-prune") {
    import spark.implicits._
    val t = new LakehouseTable(spark, tmpDir("skipread-strpart"))
    // partition values "9" and "10": numeric order 9 < 10, lexical
    // order "10" < "9" — a value-parse-based pruner would drop rows
    // the string-typed residual filter keeps
    t.append(Seq((1L, "9"), (2L, "9"), (3L, "10")).toDF("id", "bucket").coalesce(1),
      partitionBy = Seq("bucket"))
    // equality on the string partition value prunes exactly
    val eq = t.read(Seq(ScanPredicate.EqualTo("bucket", "9")))
    assert(filesRead(eq) === 1 && eq.count() === 2)
    // ranges: the pruner sees the DECLARED string type (prunes
    // equality only — conservative), while Spark's partition-type
    // INFERENCE reads the numeric-looking values back as ints, so the
    // residual compares numerically. Pruning must never contradict
    // whatever the residual decides — the unpruned and pruned reads
    // must agree exactly
    val want = t.read().filter(col("bucket") >= "10").count()
    val got = t.read(Seq(ScanPredicate.Range("bucket", Some("10"), None))).count()
    assert(got === want, "string-range pruning must match the residual filter's semantics")
  }

  test("multi-level partitioning: predicates on the SECOND partition column still prune") {
    import spark.implicits._
    val t = new LakehouseTable(spark, tmpDir("skipread-multipart"))
    val rows = for (r <- 0 until 2; d <- 0 until 3; i <- 0 until 50)
      yield ((r * 1000 + d * 100 + i).toLong, r, d)
    t.append(rows.toDF("id", "region", "day").coalesce(1), partitionBy = Seq("region", "day"))
    val df = t.read(Seq(ScanPredicate.EqualTo("day", 1)))
    assert(filesRead(df) === 2, "only the two day=1 directories should be scanned")
    assert(df.count() === 100)
    val both = t.read(Seq(ScanPredicate.EqualTo("region", 1), ScanPredicate.EqualTo("day", 2)))
    assert(filesRead(both) === 1)
    assert(both.count() === 50)
  }

  test("time-traveled empty prune keeps the HISTORICAL schema, not the current one") {
    import spark.implicits._
    val t = new LakehouseTable(spark, tmpDir("skipread-ttschema"))
    t.append(Seq((1L, "a")).toDF("id", "v").coalesce(1))
    val firstId = t.currentSnapshot().get.snapshotId
    // widen the CURRENT schema
    t.append(Seq((2L, "b", 9L)).toDF("id", "v", "w").coalesce(1))
    val empty = t.scanAtSnapshot(firstId, Seq(ScanPredicate.EqualTo("id", -1L)))
    assert(empty.count() === 0)
    assert(empty.columns.toSeq === Seq("id", "v"),
      "an emptied time-travel scan must not leak the widened current schema")
  }

  test("string probe against a BIGINT column coerces (the CLI shape); empty prune returns empty") {
    val t = rangedTable()
    val df = t.read(Seq(ScanPredicate.EqualTo("id", "4500")))
    assert(filesRead(df) === 1)
    assert(df.count() === 1)
    assert(t.read(Seq(ScanPredicate.EqualTo("id", 999999L))).count() === 0)
  }

  test("pruneFiles runs ZERO Spark jobs — planning is pure driver metadata") {
    val t = rangedTable()
    t.buildBloomIndex("payload", expectedPerFile = 2000)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val snap = t.currentSnapshot().get
      val (files, _) = t.pruneFiles(snap, Seq(
        ScanPredicate.EqualTo("id", 4500L),
        ScanPredicate.EqualTo("payload", "v4500"),
        ScanPredicate.Range("id", Some(4000L), Some(4999L))))
      assert(files === Seq(snap.files(4)))
      Thread.sleep(200) // listener bus is async; jobs would have started synchronously anyway
      assert(jobs.get() === 0,
        s"file pruning submitted ${jobs.get()} Spark jobs — the probe hash must eval driver-side")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("stats-in-manifest: planning a stats-bearing snapshot opens ZERO parquet footers") {
    val t = rangedTable()
    assert(t.currentSnapshot().get.stats.exists(_.size === 16),
      "every data file must carry write-time stats in the manifest")
    // a FRESH handle (cold caches, like a new driver) must plan the
    // pruned scan purely from the manifest
    val t2 = new LakehouseTable(spark, t.root)
    val before = t2.footerOpens.get()
    val df = t2.read(Seq(ScanPredicate.Range("id", Some(1000L), Some(2999L))))
    assert(filesRead(df) === 2 && df.count() === 2000)
    assert(t2.footerOpens.get() === before,
      "manifest stats present — planning must not open any parquet footer")
  }

  test("compaction/upsert carry stats by reference; rewritten files get fresh stats") {
    import spark.implicits._
    val t = rangedTable()
    t.upsert(Seq((4500L, "UPD")).toDF("id", "payload").coalesce(1), keys = Seq("id"))
    val snap = t.currentSnapshot().get
    assert(snap.stats.exists(_.keySet === snap.files.toSet),
      "every file of the upsert'd snapshot must have stats (carried or fresh)")
    // and a fresh handle prunes through them with no footer opens
    val t2 = new LakehouseTable(spark, t.root)
    val df = t2.read(Seq(ScanPredicate.EqualTo("id", 4500L)))
    assert(df.collect().map(_.getString(1)).toSeq === Seq("UPD"))
    assert(t2.footerOpens.get() === 0)
  }

  test("bloom sidecars load once per (column, file): repeat probes hit the in-memory cache") {
    val t = rangedTable()
    t.buildBloomIndex("payload", expectedPerFile = 2000)
    val t2 = new LakehouseTable(spark, t.root)
    t2.read(Seq(ScanPredicate.EqualTo("payload", "v1"))).count()
    val afterFirst = t2.sidecarLoads.get()
    assert(afterFirst > 0 && afterFirst <= 16)
    t2.read(Seq(ScanPredicate.EqualTo("payload", "v9999"))).count()
    t2.read(Seq(ScanPredicate.EqualTo("payload", "v15000"))).count()
    assert(t2.sidecarLoads.get() === afterFirst,
      "repeat equality probes must not re-read sidecar files")
  }

  test("ESCAPED partition values (':' → %3A) compare decoded — no silent row loss") {
    import spark.implicits._
    val t = new LakehouseTable(spark, tmpDir("skipread-escpart"))
    t.append(Seq((1L, "a:b"), (2L, "a:b"), (3L, "c#d"), (4L, "plain"))
      .toDF("id", "k").coalesce(1), partitionBy = Seq("k"))
    // the dir on disk is k=a%3Ab — an unescaped compare would prune it
    val df = t.read(Seq(ScanPredicate.EqualTo("k", "a:b")))
    assert(df.count() === 2, "rows in an escaped partition dir must survive pruning")
    assert(filesRead(df) === 1, "equality on the decoded value must still prune the others")
    assert(t.read(Seq(ScanPredicate.EqualTo("k", "c#d"))).count() === 1)
  }

  test("null partition (__HIVE_DEFAULT_PARTITION__) is never pruned away") {
    import spark.implicits._
    val t = new LakehouseTable(spark, tmpDir("skipread-nullpart"))
    t.append(Seq((1L, Some("x")), (2L, None), (3L, Some("y")))
      .toDF("id", "k").coalesce(1), partitionBy = Seq("k"))
    // pruning on k="x" may skip k=y but must KEEP the null dir (no
    // probe semantics against null — the residual filter decides)
    val full = t.read(Seq(ScanPredicate.EqualTo("k", "x")))
    assert(full.count() === 1)
    val (files, _) = t.pruneFiles(t.currentSnapshot().get, Seq(ScanPredicate.EqualTo("k", "x")))
    assert(files.exists(_.contains("HIVE_DEFAULT_PARTITION")),
      "the null-partition file must stay in the candidate set")
  }

  test("sidecar names round-trip paths containing '%' — maintenance must not GC live blooms") {
    import spark.implicits._
    val t = new LakehouseTable(spark, tmpDir("skipread-pctpart"))
    // escaped partition dir k=a%3Ab: the data-file path itself contains '%'
    t.append((0 until 100).map(i => (i.toLong, "a:b")).toDF("id", "k").coalesce(1),
      partitionBy = Seq("k"))
    assert(t.buildBloomIndex("id", expectedPerFile = 200) === 1)
    assert(t.pruneBloomSidecars() === 0,
      "a live file's sidecar must survive GC even when its path contains '%'")
    // encode/decode inverse pin
    val tricky = Seq("data/s1/k=a%3Ab/part-0.parquet", "data/s1/k=a%2F/part.parquet", "%/%25")
    tricky.foreach(p => assert(t.decodeSidecarName(t.encodeSidecarName(p)) === p))
  }

  test("keyed writes: a DISJOINT-key upsert reads ZERO existing data files (two-stage prune)") {
    import spark.implicits._
    val t = rangedTable() // ids 0..15999 across 16 stats-bearing files
    val t2 = new LakehouseTable(spark, t.root) // fresh handle: cold caches, like a new driver
    val footersBefore = t2.footerOpens.get()
    val probedBefore = t2.keyedWriteProbedFiles.get()
    t2.upsert((100000L until 100100L).map(id => (id, s"n$id")).toDF("id", "payload")
      .coalesce(1), keys = Seq("id"))
    assert(t2.keyedWriteProbedFiles.get() === probedBefore,
      "disjoint key ranges must exit at the manifest-stats stage — no existing file read")
    val snap = t2.currentSnapshot().get
    val oldFiles = t2.listSnapshots().takeRight(2).head.files
    assert(oldFiles.forall(snap.files.contains),
      "every pre-existing file must carry over by reference (nothing rewritten)")
    // the new files' stats come from their writers: no footer opens at all
    assert(t2.footerOpens.get() - footersBefore === 0,
      "stage 1 must answer from manifest stats — no existing file's footer opened")
    assert(t2.read().count() === 16100)
  }

  test("keyed writes: an OVERLAPPING batch probes only candidate files and rewrites only touched ones") {
    import spark.implicits._
    val t = rangedTable()
    val before = t.currentSnapshot().get.files
    val probedBefore = t.keyedWriteProbedFiles.get()
    t.upsert(Seq((4500L, "UPD"), (4501L, "UPD2")).toDF("id", "payload").coalesce(1),
      keys = Seq("id"))
    assert(t.keyedWriteProbedFiles.get() - probedBefore === 1,
      "ids 4500-4501 overlap exactly one file's [4000,4999] range — only it may be probed")
    val snap = t.currentSnapshot().get
    assert(before.count(snap.files.contains) === 15,
      "exactly one existing file (the touched one) may be rewritten")
    val got = t.read().filter(col("id").isin(4500L, 4501L)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(4500L -> "UPD", 4501L -> "UPD2"))
    assert(t.read().count() === 16000)
  }

  test("applyChanges: disjoint inserts read zero existing files; a targeted delete probes one") {
    import spark.implicits._
    val t = rangedTable()
    val probed0 = t.keyedWriteProbedFiles.get()
    // CDC batch of brand-new ids: stage 1 proves disjointness from metadata
    t.applyChanges((200000L until 200010L).map(id => (id, s"c$id", "insert"))
      .toDF("id", "payload", "_change").coalesce(1), keys = Seq("id"))
    assert(t.keyedWriteProbedFiles.get() === probed0,
      "a key-disjoint CDC batch must not read any existing data file")
    assert(t.read().count() === 16010)
    // a delete of one existing key probes exactly its candidate file
    t.applyChanges(Seq((7500L, "x", "delete")).toDF("id", "payload", "_change").coalesce(1),
      keys = Seq("id"))
    assert(t.keyedWriteProbedFiles.get() - probed0 === 1,
      "the delete's key range falls in one file — only it may be probed")
    assert(t.read().filter(col("id") === 7500L).count() === 0)
    assert(t.read().count() === 16009)
  }

  test("planning stays flat as file counts grow: 1,024-file pruning is sub-second driver metadata") {
    import spark.implicits._
    // 1,024 one-row files via 32 appends of 32-partition frames — the
    // 100× file-count scenario the stats-in-manifest design exists for
    val t = new LakehouseTable(spark, tmpDir("skipread-1k"))
    (0 until 32).foreach { a =>
      val lo = a.toLong * 32
      t.append((lo until lo + 32).map(id => (id, s"v$id")).toDF("id", "payload")
        .repartitionByRange(32, col("id"))) // hash repartition leaves empty partitions → missing files
    }
    val snap = t.currentSnapshot().get
    assert(snap.files.size >= 1024, s"expected ≥1024 files, got ${snap.files.size}")
    val preds = Seq(
      ScanPredicate.EqualTo("id", 500L),
      ScanPredicate.Range("id", Some(400L), Some(600L)))
    // warm the handle (first call folds manifests into the stats map),
    // then time MIN-of-3 — a single sample eats any GC pause or
    // scheduler stall whole and flakes on a loaded box (the project's
    // own bench methodology, applied here)
    t.pruneFiles(snap, preds)
    val (files, _) = t.pruneFiles(snap, preds)
    val ms = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      t.pruneFiles(snap, preds)
      (System.nanoTime() - t0) / 1e6
    }.min
    assert(files.nonEmpty && files.size < snap.files.size / 4,
      s"stats must prune the vast majority of 1,024 one-row files (kept ${files.size})")
    // generous absolute bound: the planning path is parallel in-memory
    // stat compares — zero footer opens, zero jobs, zero sidecar reads
    // — so even 64× the base fixture's file count stays far under a
    // second. A linear-I/O regression (per-file footer opens at ~1 ms
    // each) would blow straight past this.
    assert(ms < 1000.0, f"1,024-file planning took $ms%.0f ms — the metadata path regressed to per-file I/O")
  }
}
