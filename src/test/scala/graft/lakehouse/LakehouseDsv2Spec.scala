package graft.lakehouse

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The DSv2 face: `spark.read.format("graft-lakehouse")` must give a
  * PLAIN DataFrame/SQL user the same automatic file skipping the
  * bespoke `read(preds)` API provides — Catalyst filters push into
  * `pruneFiles`, projections prune the parquet read schema, strict
  * predicate semantics survive the inclusive prune bounds, and time
  * travel rides an option. ScanEvents records what each scan actually
  * planned (post-skipping files, projected columns) so the pruning is
  * asserted, not assumed.
  */
class LakehouseDsv2Spec extends SparkSpec {

  /** 16 files, file i holding the contiguous id range [1000i, 1000i+999]. */
  private def rangedTable(): LakehouseTable = {
    import spark.implicits._
    val t = new LakehouseTable(spark, tmpDir("dsv2"))
    (0 until 16).foreach { i =>
      val lo = i.toLong * 1000
      t.append((lo until lo + 1000).map(id => (id, s"v$id")).toDF("id", "payload").coalesce(1))
    }
    t
  }

  private def dsv2(t: LakehouseTable): DataFrame =
    spark.read.format("graft-lakehouse").load(t.root)

  test("a PLAIN .filter prunes files through Catalyst pushdown — no bespoke API involved") {
    val t = rangedTable()
    val got = dsv2(t).filter(col("id") === 4500L).collect()
    val info = ScanEvents.lastScan(t.root).get
    assert(info.filesPlanned === 1 && info.filesTotal === 16,
      s"equality filter must reach pruneFiles via pushdown: $info")
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((4500L, "v4500")))
  }

  test("full unfiltered read matches read(); no filter → no pruning") {
    val t = rangedTable()
    // collect (not count — count answers from the manifest now)
    val got = dsv2(t).collect().length
    assert(got === 16000)
    assert(ScanEvents.lastScan(t.root).get.filesPlanned === 16)
  }

  test("COUNT(*) pushes to manifest metadata: zero data files planned, exact answer") {
    val t = rangedTable()
    val df = dsv2(t)
    assert(df.count() === 16000L)
    val info = ScanEvents.lastScan(t.root).get
    assert(info.filesPlanned === 0 && info.pushed === Seq("COUNT(*)"),
      s"a bare count must answer from the manifest, not a scan: $info")
    // the physical plan carries no parquet scan at all
    val plan = df.groupBy().count().queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan"), s"no file scan expected:\n$plan")
    // SQL COUNT(*) over a view takes the same path
    df.createOrReplaceTempView("dsv2_cnt_t")
    assert(spark.sql("SELECT count(*) AS c FROM dsv2_cnt_t").head.getLong(0) === 16000L)
    // a FILTERED count must NOT push: the manifest can't evaluate filters
    // (inclusive prune bounds keep the min==1000 boundary file too)
    assert(df.filter(col("id") < 1000L).count() === 1000L)
    val filtered = ScanEvents.lastScan(t.root).get
    assert(filtered.filesPlanned >= 1 && filtered.filesPlanned <= 2,
      s"a filtered count must run the real (pruned) scan: $filtered")
    // count composes with time travel: the pinned snapshot's count
    val first = t.listSnapshots().head.snapshotId
    assert(spark.read.format("graft-lakehouse").option("snapshotId", first)
      .load(t.root).count() === 1000L)
  }

  test("MIN/MAX push to manifest stats: zero files planned, exact values, typed results") {
    val t = rangedTable()
    val df = dsv2(t)
    val r = df.agg(min("id"), max("id"), count(lit(1)), min("payload")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)) ===
      ((0L, 15999L, 16000L, "v0")))
    val info = ScanEvents.lastScan(t.root).get
    assert(info.filesPlanned === 0 &&
      info.pushed === Seq("MIN(id)", "MAX(id)", "COUNT(*)", "MIN(payload)"),
      s"min/max/count must answer from the manifest: $info")
    // string MAX orders by UTF-8 bytes, same as Spark
    assert(df.agg(max("payload")).head.getString(0) ===
      t.read().agg(max("payload")).head.getString(0))
    // a SUM in the mix forces the real scan (manifest can't answer it)
    val withSum = df.agg(min("id"), sum("id")).collect()(0)
    assert(withSum.getLong(0) === 0L)
    assert(ScanEvents.lastScan(t.root).get.filesPlanned === 16,
      "sum is not metadata-answerable — the whole agg must scan")
    // filtered min must NOT push either
    assert(df.filter(col("id") >= 1000L).agg(min("id")).head.getLong(0) === 1000L)
    assert(ScanEvents.lastScan(t.root).get.filesPlanned > 0)
  }

  test("MIN/MAX do NOT push when a file's stats are ambiguous (all-null column file)") {
    import spark.implicits._
    val t = new LakehouseTable(spark, tmpDir("dsv2-minmax-null"))
    t.append(Seq((1L, Some(5L)), (2L, Some(9L))).toDF("id", "x").coalesce(1))
    // second file: x entirely null — it carries NO x stat, which must
    // disqualify the metadata answer (absence is ambiguous), not skew it
    t.append(Seq((3L, None: Option[Long])).toDF("id", "x").coalesce(1))
    val df = spark.read.format("graft-lakehouse").load(t.root)
    val r = df.agg(min("x"), max("x")).collect()(0)
    assert((r.getLong(0), r.getLong(1)) === ((5L, 9L)))
    assert(ScanEvents.lastScan(t.root).get.filesPlanned > 0,
      "an all-null-stat file must force the real scan for min/max")
    // count(*) still pushes — row counts are never ambiguous
    assert(df.count() === 3L)
    assert(ScanEvents.lastScan(t.root).get.filesPlanned === 0)
  }

  test("asOfTimestamp option: timestamp time travel pins the snapshot current at that instant") {
    import spark.implicits._
    val t = new LakehouseTable(spark, tmpDir("dsv2-asof"))
    t.append(Seq((1L, "a")).toDF("id", "v").coalesce(1))
    Thread.sleep(15) // commit timestamps must be distinguishable
    t.append(Seq((2L, "b")).toDF("id", "v").coalesce(1))
    val snaps = t.listSnapshots()
    assert(snaps(1).timestampMs > snaps.head.timestampMs, "fixture needs distinct commit times")
    val hist = spark.read.format("graft-lakehouse")
      .option("asOfTimestamp", snaps.head.timestampMs.toString).load(t.root)
    assert(hist.collect().map(_.getLong(0)).toSeq === Seq(1L),
      "asOfTimestamp must resolve the snapshot current at that instant")
    // ISO form resolves too (any instant past the head sees everything)
    val now = spark.read.format("graft-lakehouse")
      .option("asOfTimestamp", java.time.Instant.ofEpochMilli(
        snaps(1).timestampMs + 1000).toString).load(t.root)
    assert(now.count() === 2L)
    // predating the table is a loud error, not an empty frame
    intercept[Exception](spark.read.format("graft-lakehouse")
      .option("asOfTimestamp", (snaps.head.timestampMs - 10000).toString)
      .load(t.root).collect())
  }

  test("OR of prunable branches keeps the UNION of their file sets — mid-range files skipped") {
    val t = rangedTable()
    val got = dsv2(t).filter(col("id") < 100L || col("id") > 15000L)
    assert(got.collect().map(_.getLong(0)).forall(id => id < 100L || id > 15000L))
    assert(got.count() === 100L + 999L)
    val info = ScanEvents.lastScan(t.root).get
    assert(info.filesPlanned === 2,
      s"id<100 OR id>15000 must plan exactly files 0 and 15: $info")
    // nested OR still unions
    val three = dsv2(t).filter(col("id") === 50L || (col("id") === 8100L || col("id") === 12345L))
    assert(three.collect().map(_.getLong(0)).sorted.toSeq === Seq(50L, 8100L, 12345L))
    assert(ScanEvents.lastScan(t.root).get.filesPlanned === 3)
    // OR with an unprunable branch keeps everything but stays EXACT
    val mixed = dsv2(t).filter(col("id") === 50L || col("payload").endsWith("9999"))
    assert(mixed.collect().map(_.getLong(0)).sorted.toSeq === Seq(50L, 9999L))
  }

  test("startsWith pushes: prefix pruning on string min/max, exact matches") {
    val t = rangedTable()
    val got = dsv2(t).filter(col("payload").startsWith("v1500"))
    val want = t.read().filter(col("payload").startsWith("v1500")).count()
    assert(got.count() === want && want === 11L) // v1500 + v15000..v15009
    val info = ScanEvents.lastScan(t.root).get
    assert(info.filesPlanned <= 3,
      s"prefix v1500 overlaps at most files 0/1/15 by min/max: $info")
  }

  test("IS NULL pushes: null counts in the manifest skip all-non-null files; null partitions prune by path") {
    import spark.implicits._
    val t = new LakehouseTable(spark, tmpDir("dsv2-isnull"))
    t.append(Seq((1L, Some("a")), (2L, Some("b"))).toDF("id", "v").coalesce(1))
    t.append(Seq((3L, None: Option[String]), (4L, Some("d"))).toDF("id", "v").coalesce(1))
    val got = spark.read.format("graft-lakehouse").load(t.root).filter(col("v").isNull)
    assert(got.collect().map(_.getLong(0)).toSeq === Seq(3L))
    assert(ScanEvents.lastScan(t.root).get.filesPlanned === 1,
      "the all-non-null file's zero null count must skip it")
    // hive-partitioned: IS NULL on the partition column keeps only the
    // __HIVE_DEFAULT_PARTITION__ directory
    val p = new LakehouseTable(spark, tmpDir("dsv2-isnull-part"))
    p.append(Seq((1L, Some("x")), (2L, None: Option[String]), (3L, Some("y")))
      .toDF("id", "k").coalesce(1), partitionBy = Seq("k"))
    val gp = spark.read.format("graft-lakehouse").load(p.root).filter(col("k").isNull)
    assert(gp.collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(ScanEvents.lastScan(p.root).get.filesPlanned === 1,
      "IS NULL on a partition column must plan only the null directory")
  }

  test("NESTED-struct predicates are rejected from pushdown and evaluate post-scan — never a planner error") {
    import spark.implicits._
    val t = new LakehouseTable(spark, tmpDir("dsv2-nested"))
    t.append(Seq((1L, (10L, "a")), (2L, (20L, "b")), (3L, (30L, "c")))
      .toDF("id", "s").coalesce(1))
    val df = spark.read.format("graft-lakehouse").load(t.root)
    // Spark 4 translates this to EqualTo("s._1", 20) — a dotted name the
    // flat pruner must never see; the query must still answer exactly
    val got = df.filter(col("s._1") === 20L).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(2L))
    assert(df.filter(col("s._1") > 10L && col("id") < 3L).count() === 1L)
  }

  test("the batch WRITE face's returned relation is pinned to the written snapshot") {
    import spark.implicits._
    val root = tmpDir("dsv2-write-pin")
    val p = new LakehouseSourceProvider
    val rel = p.createRelation(spark.sqlContext, org.apache.spark.sql.SaveMode.Append,
      Map("path" -> root), Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // a concurrent commit between the write and a scan of the returned
    // relation must NOT leak into it
    new LakehouseTable(spark, root).append(Seq((3L, "c")).toDF("id", "v"))
    val scanned = rel.asInstanceOf[org.apache.spark.sql.sources.TableScan]
      .buildScan().collect()
    assert(scanned.map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L),
      "the relation must see exactly the snapshot its write produced")
  }

  test("STRICT bounds stay strict: pruning is inclusive but the residual is the original filter") {
    val t = rangedTable()
    // id > 999: file 0 (max 999) may be kept by the inclusive prune
    // bound, but row 999 must NOT appear
    val got = dsv2(t).filter(col("id") > 999L && col("id") < 2001L)
    assert(got.count() === 1001L, "strict > and < must exclude both boundary rows")
    assert(ScanEvents.lastScan(t.root).get.filesPlanned <= 3)
    assert(got.filter(col("id") === 999L).count() === 0L)
  }

  test("projection pushdown: only the selected columns reach the parquet scan") {
    val t = rangedTable()
    val got = dsv2(t).filter(col("id") === 7000L).select("payload").collect()
    assert(got.map(_.getString(0)).toSeq === Seq("v7000"))
    val info = ScanEvents.lastScan(t.root).get
    assert(info.columnsRead === Seq("payload") || info.columnsRead.toSet === Set("id", "payload"),
      s"projection must prune the read schema: $info")
    // the scan node itself must not output pruned-away columns
    val scans = spark.read.format("graft-lakehouse").load(t.root)
      .filter(col("id") === 7000L).select("payload")
      .queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
      }
    assert(scans.nonEmpty)
    // id survives (the residual filter needs it) but nothing beyond the
    // two referenced columns may reach the scan output
    assert(scans.head.output.map(_.name).toSet.subsetOf(Set("id", "payload")))
  }

  test("pushed filters surface in the physical plan (PushedFilters metadata)") {
    val t = rangedTable()
    val plan = dsv2(t).filter(col("id") === 5L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("id"),
      s"plan must advertise the pushdown:\n$plan")
  }

  test("time travel via option(snapshotId): historical rows, historical schema, skipping composes") {
    import spark.implicits._
    val t = new LakehouseTable(spark, tmpDir("dsv2-tt"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    val firstId = t.currentSnapshot().get.snapshotId
    t.append(Seq((3L, "c", 9L)).toDF("id", "v", "w").coalesce(1)) // widen
    val hist = spark.read.format("graft-lakehouse")
      .option("snapshotId", firstId).load(t.root)
    assert(hist.columns.toSeq === Seq("id", "v"), "historical scan must keep the old schema")
    assert(hist.filter(col("id") === 3L).count() === 0L, "post-snapshot rows must be absent")
    assert(hist.filter(col("id") === 2L).collect().map(_.getString(1)).toSeq === Seq("b"))
  }

  test("SQL over a temp view prunes identically (the spark.sql surface)") {
    val t = rangedTable()
    dsv2(t).createOrReplaceTempView("dsv2_sql_t")
    val got = spark.sql("SELECT payload FROM dsv2_sql_t WHERE id = 12345").collect()
    assert(got.map(_.getString(0)).toSeq === Seq("v12345"))
    assert(ScanEvents.lastScan(t.root).get.filesPlanned === 1,
      "SQL WHERE must prune through the same pushdown path")
  }

  test("IN-list filter prunes to the union of its value cells") {
    val t = rangedTable()
    val got = dsv2(t).filter(col("id").isin(100L, 8100L)).collect()
    assert(got.map(_.getLong(0)).sorted.toSeq === Seq(100L, 8100L))
    assert(ScanEvents.lastScan(t.root).get.filesPlanned === 2,
      "a two-value IN must plan exactly its two files")
  }

  test("over-long IN-list (>32 values) still range-prunes on [min, max]") {
    val t = rangedTable()
    // 40 values, all inside files 2-3: per-value probes are capped but
    // the value range must still skip the other 14 files
    val vals = (2000L until 4000L by 50).map(java.lang.Long.valueOf)
    assert(vals.length > 32)
    val got = dsv2(t).filter(col("id").isin(vals: _*))
    assert(got.count() === vals.length)
    val info = ScanEvents.lastScan(t.root).get
    assert(info.filesPlanned === 2,
      s"a 40-value IN spanning [2000, 3950] must plan exactly files 2-3: $info")
  }

  test("bloom sidecars prune through the DSv2 path too (scrambled strings)") {
    import spark.implicits._
    def scramble(id: Long): String = f"h${(id * 48271L) % 65536L}%05d"
    val t = new LakehouseTable(spark, tmpDir("dsv2-bloom"))
    (0 until 16).foreach { i =>
      val lo = i.toLong * 1000
      t.append((lo until lo + 1000).map(id => (id, scramble(id)))
        .toDF("id", "payload").coalesce(1))
    }
    t.buildBloomIndex("payload", expectedPerFile = 2000)
    val got = dsv2(t).filter(col("payload") === scramble(4500L)).collect()
    assert(got.map(_.getLong(0)).toSet.contains(4500L))
    assert(ScanEvents.lastScan(t.root).get.filesPlanned <= 3,
      "a plain string-equality filter must hit the bloom index")
  }

  test("unsupported predicates are NOT accepted — the engine evaluates them post-scan, answers stay exact") {
    val t = rangedTable()
    // endsWith has no ScanPredicate mapping: must fall back, full scan,
    // exact answer
    val got = dsv2(t).filter(col("payload").endsWith("500") && col("id") < 2000L)
    assert(got.count() === 2L) // v500, v1500
    // inclusive prune bound keeps the min==2000 boundary file too
    assert(ScanEvents.lastScan(t.root).get.filesPlanned <= 3,
      "the translatable conjunct must still prune")
  }

  test("batch WRITE face: df.write.format covers append, keyed upsert, overwrite, and SaveMode contracts") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val root = tmpDir("dsv2-write")
    def w(df: DataFrame) = df.write.format("graft-lakehouse")

    w(Seq((1L, "a"), (2L, "b")).toDF("id", "v")).mode(SaveMode.Append).save(root)
    w(Seq((3L, "c")).toDF("id", "v")).mode(SaveMode.Append).save(root)
    val back = spark.read.format("graft-lakehouse").load(root)
    assert(back.as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")), "append round-trips through the standard API")

    // keys option turns Append into a keyed merge
    w(Seq((2L, "B2"), (4L, "d")).toDF("id", "v"))
      .mode(SaveMode.Append).option("keys", "id").save(root)
    assert(spark.read.format("graft-lakehouse").load(root)
      .as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))

    // ErrorIfExists refuses an existing table; Ignore no-ops
    intercept[Exception](
      w(Seq((9L, "x")).toDF("id", "v")).mode(SaveMode.ErrorIfExists).save(root))
    w(Seq((9L, "x")).toDF("id", "v")).mode(SaveMode.Ignore).save(root)
    assert(spark.read.format("graft-lakehouse").load(root).count() === 4)

    // Overwrite replaces content; history stays time-travelable
    w(Seq((7L, "z")).toDF("id", "v")).mode(SaveMode.Overwrite).save(root)
    assert(spark.read.format("graft-lakehouse").load(root)
      .as[(Long, String)].collect().toSet === Set((7L, "z")))
    assert(new LakehouseTable(spark, root).listSnapshots().size === 4,
      "standard-API writes must produce real snapshots (append×2, upsert, overwrite)")
  }

  test("a loaded DataFrame is snapshot-ISOLATED: concurrent commits never leak into later actions") {
    import spark.implicits._
    val root = tmpDir("dsv2-pin")
    val t = new LakehouseTable(spark, root)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val df = spark.read.format("graft-lakehouse").load(root)
    assert(df.count() === 2)
    // a writer commits between two actions on the SAME DataFrame
    t.append(Seq((3L, "c")).toDF("id", "v"))
    assert(df.count() === 2,
      "the snapshot must be pinned at load — re-resolving the head per action lets one DataFrame mix snapshots")
    assert(df.as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    // a FRESH load sees the new head
    assert(spark.read.format("graft-lakehouse").load(root).count() === 3)
  }

  test("batch WRITE face: partitionBy option lays appends out hive-style and reads prune on it") {
    import spark.implicits._
    val root = tmpDir("dsv2-write-part")
    Seq((1L, "hot"), (2L, "hot"), (3L, "cold")).toDF("id", "p").coalesce(1)
      .write.format("graft-lakehouse").option("partitionBy", "p")
      .mode(org.apache.spark.sql.SaveMode.Append).save(root)
    val t = new LakehouseTable(spark, root)
    assert(t.currentSnapshot().get.files.forall(_.contains("p=")),
      "files must land under hive partition dirs")
    val got = spark.read.format("graft-lakehouse").load(root).filter(col("p") === "hot")
    assert(got.count() === 2)
    assert(ScanEvents.lastScan(root).get.filesPlanned === 1,
      "a partition-value filter through the public read must prune to the one partition")
  }

  test("engine-internal reads never overwrite the last recorded USER scan") {
    import spark.implicits._
    val t = rangedTable()
    val df = dsv2(t).filter(col("id") === 4500L)
    assert(df.collect().length === 1)
    val user = ScanEvents.lastScan(t.root).get
    assert(user.filesPlanned === 1 && user.filesTotal === 16)
    // a keyed upsert (touched-file probe + rewrite) and a read() both
    // plan the native scan internally
    t.upsert(Seq((4501L, "new")).toDF("id", "payload"), Seq("id"))
    assert(t.read().count() === 16000L)
    assert(ScanEvents.lastScan(t.root).get === user,
      "internal reads must leave the user scan's ScanInfo in place")
  }

  test("a pinned snapshot that retention expired fails at action time with the reload hint") {
    import spark.implicits._
    val root = tmpDir("dsv2-expired-pin")
    val t = new LakehouseTable(spark, root)
    t.append(Seq((1L, "a")).toDF("id", "v"))
    val df = spark.read.format("graft-lakehouse").load(root)
    Thread.sleep(15)
    t.append(Seq((2L, "b")).toDF("id", "v"))
    assert(t.expireSnapshotsOlderThan(System.currentTimeMillis() + 60000L) >= 1)
    val e = intercept[IllegalStateException](df.collect())
    assert(e.getMessage.contains("pinned at load time") &&
      e.getMessage.contains("re-run spark.read.load"), e.getMessage)
  }

  test("keyed upserts rewrite a table whose column name is no SQL identifier") {
    import spark.implicits._
    val t = new LakehouseTable(spark, tmpDir("dsv2-odd-names"))
    t.append(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "unit price"))
    // the touched-file probe and the rewrite both join over the native
    // scan, which names every projected column as a runtime-filter
    // candidate: each name must resolve verbatim, not as SQL
    t.upsert(Seq((2L, 25.0), (3L, 30.0)).toDF("id", "unit price"), Seq("id"))
    val got = t.read().as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 10.0), (2L, 25.0), (3L, 30.0)))
  }

  test("a DataFrame re-run after a timezone and case-sensitivity change reads what a fresh read does") {
    import spark.implicits._
    // the scan's reader factories capture both settings; every query
    // execution plans its own scan, so none outlives the conf it read
    val t = new LakehouseTable(spark, tmpDir("dsv2-conf"))
    t.append(Seq((1L, "2024-03-10 01:30:00", "a"), (2L, "2024-11-03 01:30:00", "b"))
      .toDF("id", "at", "tag").select($"id", $"at".cast("timestamp").as("ts"),
        $"at".cast("timestamp").cast("date").as("day"), $"tag").coalesce(1),
      partitionBy = Seq("tag"))
    val df = dsv2(t)
    def rows(d: DataFrame): Set[Seq[Any]] = d.collect().map(_.toSeq).toSet
    val before = rows(df)
    val utc = rows(df.select($"id", $"ts".cast("string"), $"day", $"tag"))
    val confs = Seq("spark.sql.session.timeZone" -> "America/Los_Angeles",
      "spark.sql.caseSensitive" -> "true")
    val was = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val fresh = dsv2(t)
      assert(rows(df) === before)
      assert(rows(df) === rows(fresh))
      assert(rows(df.filter($"id" > 1L)) === rows(fresh.filter($"id" > 1L)))
      val shown = rows(df.select($"id", $"ts".cast("string"), $"day", $"tag"))
      assert(shown === rows(fresh.select($"id", $"ts".cast("string"), $"day", $"tag")))
      assert(shown !== utc, "the timestamps must render in the new session timezone")
    } finally was.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("a table opened by a relative root path takes keyed upserts") {
    import spark.implicits._
    val abs = java.nio.file.Paths.get(tmpDir("dsv2-relative-root"))
    val rel = java.nio.file.Paths.get("").toAbsolutePath.relativize(abs).toString
    val t = new LakehouseTable(spark, rel)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // the probe maps input_file_name() back to manifest paths: the scan
    // must hand the reader absolute paths whatever the root's form
    t.upsert(Seq((2L, "B")).toDF("id", "v"), Seq("id"))
    assert(t.read().as[(Long, String)].collect().sortBy(_._1).toSeq === Seq((1L, "a"), (2L, "B")))
  }
}
