package perfbench

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.lakehouse.{LakehouseTable, ScanPredicate}
import graft.streaming.{ChangePipeline, DlqWriter, LakehouseSink, Sink}

/** Sizes and rates of the CDC workloads, chosen so the open loop is
  * sustainable on a 4-core host (perfbench/README.md gives the figures).
  */
final case class CdcParams(
    backlog: Int,           // events published before the stream starts
    backlogFileEvents: Int, // events per backlog file
    rate: Int,              // open-loop events per second
    tickMs: Int,            // one open-loop file per tick
    triggerMs: Int,         // ProcessingTime trigger interval
    seedRows: Int,          // rows of the keyed set-up table (0 = append)
    readPeriodMs: Int,      // reader schedule (0 = no reader)
    warmupEvents: Int)      // events of the untimed warm-up stream

object Harness {
  val Cpus = 4
  val SetupReps = 3
  val Partitions = 8

  val Params: Map[String, CdcParams] = Map(
    "cdc_append" -> CdcParams(backlog = 100000, backlogFileEvents = 5000, rate = 10000,
      tickMs = 100, triggerMs = 500, seedRows = 0, readPeriodMs = 0, warmupEvents = 2000),
    "cdc_keyed" -> CdcParams(backlog = 10000, backlogFileEvents = 1000, rate = 300,
      tickMs = 500, triggerMs = 5000, seedRows = 15000, readPeriodMs = 250, warmupEvents = 2000))

  /** The query list of `query_mix`, in run order, by group. */
  val QueryGroups: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q01_pricing_summary", "q03_shipping_priority", "q10_regional_revenue",
      "q14_cube", "q38_session_window", "q89_scd2_history"),
    "llm" -> Seq("q47_ngram_jaccard", "q57_tfidf", "q67_neardup_lsh", "q77_dedup_clusters",
      "q103_simhash_neardup", "q111_ann_ivfpq", "q99_retrieval_serve"),
    "lakehouse" -> Seq("q61_lakehouse_timetravel", "q117_lakehouse_dsv2_scan", "q127_sql_dml",
      "q130_runtime_prune", "q136_native_mor_scan", "q114_ann_index_reuse"))

  val ReadKinds = Seq("count", "range", "point", "timetravel")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work"))
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = new Trace(spark.sparkContext, traced)
    val jobs = new JobRecorder
    val phases = new PhaseRecorder
    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(phases)
    }
    val raw = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced)
    raw("loadavg_pre") = loadavg()
    calibrate(spark) // untimed: warms the range/codegen path
    raw("calib_pre_s") = calibrate(spark)
    try {
      workload match {
        case "cdc_append" | "cdc_keyed" =>
          new CdcRun(spark, trace, workload, seed, seconds, Params(workload), work, raw).run()
        case "query_mix" =>
          new QueryRun(spark, trace, seconds, Paths.get(a("data")), Paths.get(a("tiny")), work, raw).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      raw("calib_post_s") = calibrate(spark)
      raw("loadavg_post") = loadavg()
    } catch {
      case e: Throwable =>
        raw("fatal") = e.toString
        e.printStackTrace()
    }
    if (traced) {
      raw("spans") = trace.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start" -> s.start, "end" -> s.end) ++ s.attrs)
      raw("jobs") = jobs.all.map(j => Map("id" -> j.id, "span" -> j.span, "start" -> j.start,
        "end" -> j.end, "ok" -> j.ok, "stages" -> j.stages, "tasks" -> j.tasks,
        "run_ms" -> j.runMs, "gc_ms" -> j.gcMs, "shuffle_read" -> j.shuffleRead,
        "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill))
      raw("phases") = phases.all.map(p => Map("end" -> p.end) ++ p.phases)
    }
    Files.writeString(work.resolve("raw.json"), Json(raw))
    spark.stop()
  }

  def loadavg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Host control: a fixed compute-bound job (the xxhash fold of
    * graft.Bench's calibration row at 20M rows) that no engine change
    * moves.
    */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1L, Cpus)
      .select(pmod(xxhash64(col("id")), lit(1000L)).as("h")).agg(sum("h")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use after a full collection, in MiB. */
  def heapLiveMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** (row count, order-insensitive content hash) of a frame, computed
    * by materialising every row on the executors.
    */
  def contentHash(df: DataFrame): (Long, Long) =
    df.rdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += Canon.hash(r.toSeq) }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (n1, h1)) => (n + n1, h + h1) }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Sink decorator: times each write of the wrapped sink and counts
  * failed attempts; tags the write's Spark jobs with its span.
  */
final class TimedSink(inner: Sink, trace: Trace, log: Log[Map[String, Any]]) extends Sink {
  def sinkId: String = inner.sinkId
  def write(batch: DataFrame, batchId: Long): Unit = {
    val t0 = Clock.ms
    var ok = false
    try {
      trace("sink.write", Map("batch" -> batchId))(inner.write(batch, batchId))
      ok = true
    } finally log += Map("batch" -> batchId, "start" -> t0, "end" -> Clock.ms, "ok" -> ok)
  }
}

/** One CDC workload run: set-up, backlog drain, open loop, checks. */
final class CdcRun(spark: SparkSession, trace: Trace, workload: String, seed: Long,
    seconds: Double, p: CdcParams, work: Path, raw: mutable.Map[String, Any]) {
  import Harness._

  private val keyed = workload == "cdc_keyed"
  private val columns = CdcGen.stream(workload, seed, 1).columns
  private val payload = StructType(columns.map { case (c, k) =>
    StructField(c, k match { case LongK => LongType; case DoubleK => DoubleType; case StringK => StringType })
  })
  private val keyCol = columns.head._1
  private val keys = if (keyed) Seq(keyCol) else Nil
  private val topic = s"cdc.public.${CdcGen.stream(workload, seed, 1).table}"

  private def dir(p: Path): Path = Files.createDirectories(p)

  private def pipeline(root: Path, sinks: Seq[Sink]): ChangePipeline =
    new ChangePipeline(spark, dir(root.resolve("src")).toString, sinks,
      new DlqWriter(new LakehouseTable(spark, root.resolve("dlq").toString)),
      root.resolve("ckpt").toString)

  private val tableSchema = StructType(payload.fields ++ Seq(StructField("_cdc_topic", StringType),
    StructField("_cdc_partition", LongType), StructField("_cdc_offset", LongType),
    StructField("_cdc_op", StringType)))

  /** Untimed: drain a small change set through a throwaway pipeline, so
    * the first timed stream does not pay JIT and codegen warm-up.
    */
  private def warmup(): Unit = trace("warmup") {
    val ws = CdcGen.stream(workload, seed + 7919, if (keyed) 2000 else 0)
    val root = work.resolve("warmup")
    val pipe = pipeline(root, Seq(new LakehouseSink("lh", new LakehouseTable(spark,
      root.resolve("table").toString), payload, keys)))
    Files.writeString(root.resolve("src").resolve("w.json"),
      new WalStage(ws, Partitions).lines(p.warmupEvents, 0L))
    pipe.start().awaitTermination()
  }

  /** Set-up: the sink table the stream starts from. The keyed workload
    * seeds it with its seed rows as an initial snapshot in 8 key-range
    * files (the snapshot phase of CDC); the append workload creates it
    * empty.
    */
  private def setup(rep: Int): LakehouseTable = trace("setup", Map("rep" -> rep)) {
    val t = new LakehouseTable(spark, dir(work.resolve(s"setup$rep")).resolve("table").toString)
    if (keyed) {
      val s = seed
      val tp = topic
      val parts = Partitions.toLong
      val rows = spark.sparkContext.range(0L, p.seedRows.toLong, 1L, Cpus).map { k =>
        Row.fromSeq(KeyedStream.seedRow(s, k).toSeq ++ Seq(tp, java.lang.Math.floorMod(k, parts), -1L, "r"))
      }
      t.append(spark.createDataFrame(rows, tableSchema).repartitionByRange(8, col(keyCol)))
    } else t.create(tableSchema)
    t
  }

  def run(): Unit = {
    warmup()
    val setupS = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime()
      val t = setup(r)
      ((System.nanoTime() - t0) / 1e9, t)
    }
    raw("setup_s") = setupS.map(_._1)
    val table = setupS.last._2
    val tableRoot = Paths.get(table.root)
    raw("params") = Map("backlog" -> p.backlog, "backlog_file_events" -> p.backlogFileEvents,
      "rate" -> p.rate, "tick_ms" -> p.tickMs, "trigger_ms" -> p.triggerMs,
      "seed_rows" -> p.seedRows, "read_period_ms" -> p.readPeriodMs, "partitions" -> Partitions)

    val root = dir(work.resolve("run"))
    val sinkLog = new Log[Map[String, Any]]
    val sink = new TimedSink(new LakehouseSink("lh", table, payload, keys), trace, sinkLog)
    val pipe = pipeline(root, Seq(sink))
    val progress = new Log[Map[String, Any]]
    val committedBatches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val pr = e.progress
        import scala.jdk.CollectionConverters._
        progress += Map("batch" -> pr.batchId, "rows" -> pr.numInputRows,
          "start" -> java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble,
          "durations" -> pr.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap)
        committedBatches.add(pr.batchId)
      }
    })

    val openFiles = math.round(seconds * 1000 / p.tickMs).toInt
    val perFile = p.rate * p.tickMs / 1000
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin, "-XX:-UsePerfData", "-Xmx512m", "-XX:+UseSerialGC", "-Duser.timezone=UTC",
      s"-Djava.io.tmpdir=${work.resolve("tmp")}", "-cp", sys.props("java.class.path"), "perfbench.CdcGen",
      "--workload", workload, "--seed", seed.toString, "--backlog", p.backlog.toString,
      "--backlog-file-events", p.backlogFileEvents.toString, "--events-per-file", perFile.toString,
      "--tick-ms", p.tickMs.toString, "--files", openFiles.toString,
      "--partitions", Partitions.toString, "--seed-rows", p.seedRows.toString,
      "--src", root.resolve("src").toString, "--stage", dir(root.resolve("stage")).toString,
      "--out", root.toString)
    val gen = new ProcessBuilder(cmd: _*)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    try {
      val genOut = new BufferedReader(new InputStreamReader(gen.getInputStream))
      val genIn = new OutputStreamWriter(gen.getOutputStream)
      require(genOut.readLine() == "READY", "generator failed before READY")
      val bytesAtStart = dirBytes(tableRoot)

      // stream threads inherit this job-local property: their jobs hang
      // under the stream span when traced
      val streamSpan = trace.newId()
      def start(trigger: Trigger) = {
        if (trace.enabled) spark.sparkContext.setLocalProperty(Trace.SpanProp, streamSpan.toString)
        try pipe.start(trigger) finally spark.sparkContext.setLocalProperty(Trace.SpanProp, null)
      }
      // numInputRows counts every scan of a batch, so which files a
      // batch delivered comes from the file source's own log instead
      val sourceLog = new SourceLog(root.resolve("ckpt").resolve("sources").resolve("0"))
      def committedFiles(): Int = {
        import scala.jdk.CollectionConverters._
        val done = committedBatches.asScala.toSet
        sourceLog.batches().collect { case (b, fs) if done(b) => fs.size }.sum
      }
      val backlogFiles = (p.backlog + p.backlogFileEvents - 1) / p.backlogFileEvents

      // drain: batches back to back until the backlog is committed
      val tStart = Clock.ms
      raw("stream_start_call_ms") = tStart
      val drain = start(Trigger.AvailableNow())
      require(drain.awaitTermination(150000), "backlog drain timed out")
      drain.exception.foreach(e => throw e)

      // open loop: the generator's schedule against the timed trigger,
      // resuming from the drain's checkpoint
      val go = System.currentTimeMillis() + 200
      genIn.write(s"GO $go\n"); genIn.flush()
      val q = start(Trigger.ProcessingTime(p.triggerMs.toLong))
      val reads = new Log[Map[String, Any]]
      val reader = if (p.readPeriodMs > 0) Some(startReader(table, go, reads)) else None
      require(genOut.readLine() == "DONE", "generator failed in the open loop")
      val deadline = System.currentTimeMillis() + 60000
      while (committedFiles() < backlogFiles + openFiles && q.isActive &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      q.exception.foreach(e => throw e)
      reader.foreach(_.join())
      q.stop()
      raw("heap_live_mb") = heapLiveMb()
      trace.add(streamSpan, 0L, "stream", tStart, Clock.ms)
      raw("progress") = progress.snapshot
      raw("batch_files") = sourceLog.batches().toSeq.sortBy(_._1).flatMap { case (b, fs) =>
        fs.map(f => Seq(b, f.stripPrefix("f").stripSuffix(".json").toLong))
      }
      raw("sink_writes") = sinkLog.snapshot
      raw("reads") = reads.snapshot
      raw("gen") = new String(Files.readAllBytes(root.resolve("gen.json")), "UTF-8")

      val (n, h) = contentHash(table.read().select(columns.map(c => col(c._1)): _*))
      raw("table_count") = n
      raw("table_hash") = h
      raw("dlq_rows") =
        try new LakehouseTable(spark, root.resolve("dlq").toString).read().count()
        catch { case _: IllegalStateException => 0L }
      if (trace.enabled) lakehouseProbes(table, bytesAtStart)
    } finally {
      gen.destroy()
      gen.waitFor()
    }
  }

  private def rangeFor(i: Int): (Long, Long) = {
    val span = math.max(p.seedRows / 100, 1)
    val lo = java.lang.Math.floorMod(seed * 31 + i * 7919L, math.max(p.seedRows - span, 1).toLong)
    (lo, lo + span)
  }

  private def readOnce(table: LakehouseTable, kind: String, i: Int): Unit = kind match {
    case "count" => noop(table.read())
    case "range" =>
      val (lo, hi) = rangeFor(i)
      noop(table.read(Seq(ScanPredicate.Range(keyCol, Some(lo), Some(hi)))))
    case "point" => table.readPointLookup(keyCol, KeyedStream.HotKey).collect()
    case "timetravel" =>
      val ids = table.listSnapshots().map(_.snapshotId).sorted
      noop(table.scanAtSnapshot(ids(math.max(ids.size - 6, 0))))
  }

  /** Open-loop reader: read `i` is due at `go + i * period`, rotating
    * through the read kinds; latency counts from the due time.
    */
  private def startReader(table: LakehouseTable, go: Long, log: Log[Map[String, Any]]): Thread = {
    val n = math.round(seconds * 1000 / p.readPeriodMs).toInt
    val t = new Thread(() => {
      var i = 0
      while (i < n) {
        val due = go + i.toLong * p.readPeriodMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val kind = ReadKinds(i % ReadKinds.size)
        val t0 = Clock.ms
        val err = try { trace(s"read.$kind")(readOnce(table, kind, i)); null }
          catch { case e: Exception => e.toString }
        log += Map("kind" -> kind, "due" -> due.toDouble, "start" -> t0, "end" -> Clock.ms,
          "error" -> err)
        i += 1
      }
    }, "perfbench-reader")
    t.start()
    t
  }

  /** Traced runs only: layout, amplification, pruning and maintenance
    * figures of the sink table after the stream stopped.
    */
  private def lakehouseProbes(table: LakehouseTable, bytesAtStart: Long): Unit = {
    val root = Paths.get(table.root)
    val snap = table.currentSnapshot().get
    def liveBytes(s: graft.lakehouse.Snapshot): Long =
      (s.files ++ s.tombstones).map(f => Files.size(root.resolve(f))).sum
    val quiet = ReadKinds.map { k =>
      k -> Harness.median((0 until 3).map { i =>
        val t0 = System.nanoTime(); trace(s"probe.$k")(readOnce(table, k, i))
        (System.nanoTime() - t0) / 1e6
      })
    }.toMap
    val maxKey = table.read().agg(max(col(keyCol))).collect()(0).getLong(0)
    val span = math.max(maxKey / 100, 1L)
    val (rangeFiles, rangeSkipped) =
      table.pruneFiles(snap, Seq(ScanPredicate.Range(keyCol, Some(maxKey / 2), Some(maxKey / 2 + span))))
    val (pointFiles, _) = table.pointLookupFiles(keyCol, maxKey / 3)
    val live0 = liveBytes(snap)
    val written = dirBytes(root) - bytesAtStart
    val t0 = System.nanoTime()
    trace("lakehouse.fold")(table.foldTombstones())
    val t1 = System.nanoTime()
    trace("lakehouse.compact")(table.compact(fileThreshold = 2, maxRows = Long.MaxValue))
    val t2 = System.nanoTime()
    raw("lake") = Map(
      "snapshots" -> table.listSnapshots().size, "live_files" -> snap.files.size,
      "written_bytes" -> written, "live_bytes" -> live0,
      "compacted_bytes" -> liveBytes(table.currentSnapshot().get),
      "read_ms" -> quiet, "files_scanned_range" -> rangeFiles.size,
      "files_skipped_range" -> rangeSkipped, "files_scanned_point" -> pointFiles.size,
      "fold_ms" -> (t1 - t0) / 1e6, "compact_ms" -> (t2 - t1) / 1e6)
  }
}

/** The query mix: one client, queries in list order, each materialised
  * and content-hashed; caches cleared between queries.
  */
final class QueryRun(spark: SparkSession, trace: Trace, seconds: Double,
    data: Path, tiny: Path, work: Path, raw: mutable.Map[String, Any]) {
  import Harness._

  /** Set-up: first touch of every fixture table through Tables.load
    * (footer schema resolution) on a fresh hard-linked copy of the
    * dataset, so no per-directory memo carries over.
    */
  private def setup(rep: Int): Double = {
    val copy = Files.createDirectories(work.resolve(s"data$rep"))
    Tables.names.foreach(n =>
      Files.createLink(copy.resolve(s"$n.parquet"), data.resolve(s"$n.parquet")))
    val t0 = System.nanoTime()
    trace("setup", Map("rep" -> rep)) {
      Tables.names.foreach(n => Tables.load(spark, copy.toString, n))
    }
    (System.nanoTime() - t0) / 1e9
  }

  def run(): Unit = {
    raw("setup_s") = (1 to SetupReps).map(setup)
    val all = QueryGroups.flatMap { case (g, qs) => qs.map(_ -> g) }
    val fns = SparkEntry.queries
    // one untimed JIT warm-up: the flagship query on the tiny dataset
    val w0 = System.nanoTime()
    trace("warmup")(noop(fns("q01_pricing_summary")(spark, tiny.toString)))
    raw("warmup_s") = (System.nanoTime() - w0) / 1e9
    spark.catalog.clearCache()
    val log = new Log[Map[String, Any]]
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      all.foreach { case (name, group) =>
        val s0 = Clock.ms
        var res: (Long, Long) = (-1L, 0L)
        val err = try {
          trace("query", Map("query" -> name, "pass" -> pass)) {
            val df = trace("query.build")(fns(name)(spark, data.toString))
            res = trace("query.execute")(contentHash(df))
          }
          null
        } catch { case e: Exception => e.toString }
        log += Map("query" -> name, "group" -> group, "pass" -> pass, "start" -> s0,
          "end" -> Clock.ms, "rows" -> res._1, "hash" -> res._2, "error" -> err)
        spark.catalog.clearCache()
      }
      pass += 1
    }
    raw("heap_live_mb") = heapLiveMb()
    raw("queries") = log.snapshot
  }
}

/** The file stream source's metadata log (`<checkpoint>/sources/0`):
  * which files each micro-batch read. Parsed incrementally; compacted
  * log files repeat earlier entries, which the per-batch sets absorb.
  */
final class SourceLog(dir: Path) {
  private val seen = mutable.Set.empty[String]
  private val byBatch = mutable.Map.empty[Long, mutable.Set[String]]
  private val entry = "\"path\":\"[^\"]*/([^/\"]+)\".*\"batchId\":(\\d+)".r.unanchored

  def batches(): Map[Long, Set[String]] = synchronized {
    if (Files.isDirectory(dir)) {
      graft.Fs.listAll(dir).map(_.getFileName.toString)
        .filter(n => !n.startsWith(".") && !seen(n) && !n.endsWith(".tmp")).sorted
        .foreach { n =>
          val lines = new String(Files.readAllBytes(dir.resolve(n)), "UTF-8").split("\n")
          lines.foreach {
            case entry(file, b) => byBatch.getOrElseUpdate(b.toLong, mutable.Set.empty) += file
            case _ => ()
          }
          seen += n
        }
    }
    byBatch.map { case (b, fs) => b -> fs.toSet }.toMap
  }
}
