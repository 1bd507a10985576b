package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, Tables}

/** True `readStream` execution of the streaming operator surface
  * (SURVEY.md §2.11 "Streaming" row): the SAME transforms the batch
  * catalog runs (tumbling window, streaming dedup, latest-by-key) are
  * executed as incremental streaming queries over the events fixture
  * split into multiple files (micro-batches), with a watermark, and the
  * final state must equal the batch answer — the batch-replay
  * equivalence that stands in for a DuckDB hash (wall-clock streaming
  * output is excluded from the t2 set by design, SURVEY.md §7.5).
  */
class StreamingEquivalenceSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** events fixture written as n json files (ordered by ts so
    * micro-batches arrive roughly in event-time order; the watermark
    * then never drops fixture rows — late data semantics get their own
    * test below).
    */
  private def eventsAsJsonFiles(n: Int): (String, org.apache.spark.sql.types.StructType) = {
    val dir = tmpDir("stream-events")
    val ev = Tables.load(spark, sf, "events")
      .withColumn("ts", col("ts").cast("string")) // json-safe
    val schema = ev.schema
    val rows = ev.orderBy("ts", "event_id").toJSON.collect()
    val base = System.currentTimeMillis() - 3600000
    rows.grouped(math.max(1, rows.length / n)).zipWithIndex.foreach { case (chunk, i) =>
      val p = Paths.get(dir, f"chunk-$i%03d.json")
      Files.writeString(p, chunk.mkString("\n"))
      // file source orders micro-batches by modification time; chunks
      // written within the same millisecond would tie and could process
      // out of event-time order (making whole chunks "late") — pin
      // strictly increasing mtimes
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
    }
    (dir, schema)
  }

  private def streamed(dir: String, schema: org.apache.spark.sql.types.StructType) =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(dir)
      .withColumn("ts", col("ts").cast("timestamp"))

  import StreamingEquivalenceSpec.micros

  /** Update-mode memory sinks append every per-key update; the final
    * state is the LAST row per key (_1) in arrival order. Shared by the
    * latest-by-key and funnel tests.
    */
  private def lastRowPerKey(queryName: String): org.apache.spark.sql.DataFrame =
    spark.sql(
      s"""SELECT _1, _2 FROM (
            SELECT *, row_number() OVER (PARTITION BY _1 ORDER BY rid DESC) rn FROM (
              SELECT *, monotonically_increasing_id() AS rid FROM $queryName))
          WHERE rn = 1""")

  test("tumbling window counts: streaming (complete mode) == batch") {
    val (dir, schema) = eventsAsJsonFiles(5)
    val q = streamed(dir, schema)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.sql(
      "SELECT window.start AS ws, event_type, n FROM tumbling")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val want = Tables.load(spark, sf, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got === want)
  }

  test("streaming dropDuplicates with watermark == batch first-per-key") {
    val (dir, schema) = eventsAsJsonFiles(4)
    val q = streamed(dir, schema)
      .withWatermark("ts", "2 hours")
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.sql("SELECT user_id, event_type FROM dedup")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === want)
  }

  test("RocksDB state store: the stateful ops run unchanged on the spill-to-disk provider") {
    // at 100 TB the HDFS-backed (heap) state store is the scale limit
    // for big keyspaces — every stateful op here must run unchanged on
    // Spark's RocksDB provider (native lib ships with the Spark jars)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (dir, schema) = eventsAsJsonFiles(4)
      val ckpt = tmpDir("rocksdb-ckpt")
      val q = streamed(dir, schema)
        .withWatermark("ts", "2 hours")
        .dropDuplicates("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
        .writeStream.format("memory").queryName("rocksdedup")
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val got = spark.sql("SELECT user_id, event_type FROM rocksdedup")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val want = Tables.load(spark, sf, "events")
        .select(col("user_id"), col("event_type")).distinct()
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === want, "RocksDB-backed dedup must equal the batch answer")
      // prove the provider actually engaged: RocksDB writes
      // zip/changelog artifacts where the HDFS provider writes .delta
      val stateFiles = graft.Fs.walkAll(java.nio.file.Paths.get(ckpt, "state"))
        .map(_.getFileName.toString)
      assert(stateFiles.exists(f => f.endsWith(".zip") || f.endsWith(".changelog")),
        s"expected RocksDB state artifacts under the checkpoint, got: " +
          stateFiles.take(20).mkString(", "))
      assert(!stateFiles.exists(_.endsWith(".delta")),
        "the HDFS provider must not have engaged")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stateful latest-by-key via flatMapGroupsWithState == batch window answer") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val (dir, schema) = eventsAsJsonFiles(4)

    case class Ev(user_id: Long, event_id: Long, ts: java.sql.Timestamp)
    case class Latest(user_id: Long, last_event_id: Long)

    val q = streamed(dir, schema)
      .select(col("user_id"), col("event_id"), col("ts")).as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(java.sql.Timestamp, Long), (Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, evs, state: GroupState[(java.sql.Timestamp, Long)]) =>
          val best = (evs ++ state.getOption.map(s => (uid, s._2, s._1)).iterator)
            .maxBy(e => (e._3.getTime, e._2))
          state.update((best._3, best._2))
          Iterator((uid, best._2))
      }
      .writeStream.format("memory").queryName("latest")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = lastRowPerKey("latest")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.queries.StreamEquivQueries.queries("q39_latest_by_key")(spark, sf)
      .select(col("user_id"), col("last_event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
  }

  test("stateful streaming as-of join via flatMapGroupsWithState == batch q75") {
    // the TRUE streaming form of the q75 point-in-time join: per-user
    // state carries the latest view seen so far across micro-batches;
    // each click emits against it. Works because the fixture files are
    // event-time-ordered chunks (per-user subsequences stay ordered) and
    // the fixture has no click/view (user, ts) ties — same precondition
    // family QueryCatalogSpec guards for the batch oracle.
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val (dir, schema) = eventsAsJsonFiles(4)

    val q = streamed(dir, schema)
      .filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[(Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        // state = (micros of latest view, its event_id)
        case (uid, evs, state: GroupState[(Long, Long)]) =>
          // batch iterator order is not ts order — sort, views before
          // clicks at equal ts (the inclusive as-of bound)
          val sorted = evs.toSeq.sortBy(e =>
            (micros(e._4), if (e._3 == "view") 0 else 1, e._2))
          var st = state.getOption
          val out = Seq.newBuilder[(Long, Long, Long, Long)]
          sorted.foreach { e =>
            if (e._3 == "view") {
              if (st.forall(_._1 <= micros(e._4))) st = Some((micros(e._4), e._2))
            } else st.foreach { case (vts, vid) =>
              out += ((e._2, uid, vid, micros(e._4) - vts))
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
      .writeStream.format("memory").queryName("asof")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.sql("SELECT _1, _2, _3, _4 FROM asof")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = graft.queries.StreamEquivQueries.queries("q75_asof_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(want.nonEmpty, "batch as-of produced no rows — test is vacuous")
    assert(got === want)
  }

  test("stateful streaming span dedup via flatMapGroupsWithState == batch q93") {
    // the TRUE streaming form of the q93 first-occurrence span dedup
    // (the reference streaming engine's dedup shape): per-span-hash
    // state carries "seen before"; the first arriving occurrence keeps,
    // every later one drops. Equals the batch answer because arrival
    // order is packed (doc_id, span_idx) order — the doc files stream
    // in doc_id-ordered chunks, a doc's spans never straddle a chunk,
    // and within a micro-batch each group sorts by packed.
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val dir = tmpDir("stream-docs")
    val docs = Tables.load(spark, sf, "documents").select(col("doc_id"), col("text"))
    val rows = docs.orderBy("doc_id").toJSON.collect()
    val base = System.currentTimeMillis() - 3600000
    rows.grouped(math.max(1, rows.length / 3)).zipWithIndex.foreach { case (chunk, i) =>
      val p = Paths.get(dir, f"docchunk-$i%03d.json")
      Files.writeString(p, chunk.mkString("\n"))
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
    }
    val spans = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).json(dir)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, (size(split(text, ' '))-1) div 8), i -> array_join(slice(split(text, ' '), i*8+1, 8), ' '))"))
        .as(Seq("span_idx", "span")))
      .select(col("doc_id"), col("span_idx"),
        expr("CAST(conv(substring(md5(span), 1, 15), 16, 10) AS BIGINT)").as("h"),
        (col("doc_id") * lit(1048576L) + col("span_idx")).as("packed"))
      .as[(Long, Int, Long, Long)]
    val q = spans.groupByKey(_._3)
      .flatMapGroupsWithState[Boolean, (Long, Int, Boolean)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, occs, state: GroupState[Boolean]) =>
          val sorted = occs.toSeq.sortBy(_._4)
          var seen = state.getOption.getOrElse(false)
          val out = sorted.map { o =>
            val keep = !seen
            seen = true
            (o._1, o._2, keep)
          }
          state.update(seen)
          out.iterator
      }
      .writeStream.format("memory").queryName("spandedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql(
      """SELECT _1, count(*), sum(CASE WHEN _3 THEN 1 ELSE 0 END)
         FROM spandedup GROUP BY _1""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = graft.queries.CurationQueries.queries("q93_span_dedup")(spark, sf)
      .select(col("doc_id"), col("n_spans"), col("n_kept"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "batch span dedup produced no rows — test is vacuous")
    assert(got === want)
  }

  test("stateful streaming incremental dedup via flatMapGroupsWithState == batch q100") {
    // the TRUE streaming form of the q100 ingestion dedup: history
    // documents stream through FIRST (seeding per-hash state), the
    // incoming batch streams after; each batch doc classifies against
    // the state — dup_history if the hash was seeded, dup_batch if an
    // earlier batch doc claimed it, new otherwise. Chunk boundaries
    // split exactly at the history/batch frontier so arrival order
    // matches the batch query's precedence.
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val dir = tmpDir("stream-incdedup")
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("is_batch", col("doc_id") % 10 === 0)
    val hist = docs.filter(!col("is_batch")).orderBy("doc_id").toJSON.collect()
    val batch = docs.filter(col("is_batch")).orderBy("doc_id").toJSON.collect()
    val base = System.currentTimeMillis() - 3600000
    Seq(hist, batch).zipWithIndex.foreach { case (chunk, i) =>
      val p = Paths.get(dir, f"phase-$i%03d.json")
      Files.writeString(p, chunk.mkString("\n"))
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
    }
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).json(dir)
      .select(col("doc_id"), col("is_batch"),
        expr("CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .as[(Long, Boolean, Long)]
      .groupByKey(_._3)
      // state = (seeded by history, first batch doc to claim the hash)
      .flatMapGroupsWithState[(Boolean, Long), (Long, String, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, occs, state: GroupState[(Boolean, Long)]) =>
          val sorted = occs.toSeq.sortBy(o => (o._2, o._1)) // history rows first
          var (inHist, firstBatch) = state.getOption.getOrElse((false, -1L))
          val out = Seq.newBuilder[(Long, String, Long)]
          sorted.foreach { case (docId, isBatch, _) =>
            if (!isBatch) inHist = true
            else {
              if (inHist) out += ((docId, "dup_history", -1L))
              else if (firstBatch >= 0) out += ((docId, "dup_batch", firstBatch))
              else { out += ((docId, "new", -1L)); firstBatch = docId }
            }
          }
          state.update((inHist, firstBatch))
          out.result().iterator
      }
      .writeStream.format("memory").queryName("incdedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT _1, _2, _3 FROM incdedup")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = graft.queries.CurationQueries.queries("q100_incremental_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(want.nonEmpty, "batch incremental dedup produced no rows — test is vacuous")
    assert(got === want)
  }

  test("stateful streaming heavy-hitter counts via flatMapGroupsWithState == batch q106") {
    // the TRUE streaming form of the q106 heavy-hitter aggregation:
    // per-bigram running counts accumulate across micro-batches in
    // keyed state; each batch emits the key's updated running total,
    // so the LAST emission per key is its final corpus count and the
    // threshold cut over those equals the batch answer. (The CMS
    // prefilter is a batch-side shuffle optimization — the streaming
    // twin checks the SEMANTICS: exact counts accumulated key-locally
    // survive any micro-batch chunking.)
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val dir = tmpDir("stream-hh")
    val docs = Tables.load(spark, sf, "documents").select(col("doc_id"), col("text"))
    val rows = docs.orderBy("doc_id").toJSON.collect()
    val base = System.currentTimeMillis() - 3600000
    rows.grouped(math.max(1, rows.length / 3)).zipWithIndex.foreach { case (chunk, i) =>
      val p = Paths.get(dir, f"chunk-$i%03d.json")
      Files.writeString(p, chunk.mkString("\n"))
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
    }
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).json(dir)
      .select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> named_struct('w1', toks[i - 1], 'w2', toks[i]))"))
        .as("p"))
      .select(col("p.w1"), col("p.w2")).as[(String, String)]
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, (String, String, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, occs, state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + occs.size
          state.update(n)
          Iterator((key._1, key._2, n))
      }
      .writeStream.format("memory").queryName("hhcounts")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val t = graft.queries.CorpusStatQueries.HhThreshold
    val got = spark.sql(
      s"SELECT _1, _2, max(_3) AS n FROM hhcounts GROUP BY _1, _2 HAVING max(_3) >= $t")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val want = graft.SparkEntry.queries("q106_heavy_hitters")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "batch heavy hitters produced no rows — test is vacuous")
    assert(got === want)
  }

  test("stateful streaming funnel via flatMapGroupsWithState == batch q76") {
    // the TRUE streaming form of the q76 conversion funnel: per-user
    // state carries the entry timestamp of each reached stage; a stage
    // fills from the FIRST event strictly after the previous stage's
    // entry, which in event-time order equals the batch min-ts answer.
    // Same ordering precondition as the as-of twin (event-time-ordered
    // chunks keep per-user subsequences ordered; in-batch iterators are
    // sorted explicitly).
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val (dir, schema) = eventsAsJsonFiles(4)

    val stages = Seq("signup", "view", "click", "purchase")
    val q = streamed(dir, schema)
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .as[(Long, String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (Long, Int)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        // state(k) = micros of the stage-k entry event, MinValue if unreached
        case (uid, evs, state: GroupState[Array[Long]]) =>
          val st = state.getOption.getOrElse(Array.fill(4)(Long.MinValue))
          val sorted = evs.toSeq.sortBy(e => (micros(e._3), e._4))
          sorted.foreach { e =>
            val k = stages.indexOf(e._2)
            // first qualifying event in ts order == the batch min; the
            // strict > matches q76's "after the previous-stage entry"
            if (st(k) == Long.MinValue &&
                (k == 0 || (st(k - 1) != Long.MinValue && micros(e._3) > st(k - 1))))
              st(k) = micros(e._3)
          }
          state.update(st)
          Iterator((uid, st.lastIndexWhere(_ != Long.MinValue) + 1))
      }
      .writeStream.format("memory").queryName("funnel")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val reached = lastRowPerKey("funnel")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val got = (1 to 4).map(k => reached.values.count(_ >= k).toLong)
    val want = graft.queries.StreamEquivQueries.queries("q76_funnel")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val wantCounts = Seq("1_signup", "2_view", "3_click", "4_purchase").map(want)
    assert(wantCounts.head > 0, "batch funnel has no entrants — test is vacuous")
    assert(got === wantCounts)
  }

  test("stateful streaming SCD2 versioning via flatMapGroupsWithState == batch q89 current rows") {
    // the TRUE streaming form of the q89 SCD Type-2 materialization:
    // per-user state carries (current status, version ordinal,
    // valid_from); a status change opens the next version. Update mode
    // emits the rolling current row — the final emission per user must
    // equal the batch history's is_current row. Same ordering
    // precondition family as the as-of/funnel twins.
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val (dir, schema) = eventsAsJsonFiles(4)

    val q = streamed(dir, schema)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(String, Long, Long), (Long, Long, String, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        // state = (current status, version ordinal, valid_from micros)
        case (uid, evs, state: GroupState[(String, Long, Long)]) =>
          val sorted = evs.toSeq.sortBy(e => (micros(e._2), e._3))
          var st = state.getOption
          sorted.foreach { e =>
            if (st.forall(_._1 != e._4))
              st = Some((e._4, st.map(_._2).getOrElse(0L) + 1L, micros(e._2)))
          }
          st.foreach(state.update)
          st.map(s => (uid, s._2, s._1, s._3)).iterator
      }
      .writeStream.format("memory").queryName("scd2")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.sql(
      """SELECT _1, _2, _3, _4 FROM (
           SELECT *, row_number() OVER (PARTITION BY _1 ORDER BY rid DESC) rn FROM (
             SELECT *, monotonically_increasing_id() AS rid FROM scd2))
         WHERE rn = 1""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    val want = graft.queries.CurationQueries.queries("q89_scd2_history")(spark, sf)
      .filter(col("is_current"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        micros(r.getTimestamp(3)))).toSet
    assert(want.nonEmpty, "batch SCD2 produced no current rows — test is vacuous")
    assert(got === want)
  }

  test("session windows: streaming append mode emits exactly the batch sessions closed by the watermark") {
    val (dir, schema) = eventsAsJsonFiles(4)
    // append mode is the supported execution path for streaming session
    // windows: a session is emitted once the watermark passes its close.
    val q = streamed(dir, schema)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // the watermark the LAST batch actually evicted against: each
    // progress reports the post-batch watermark, and eviction in batch
    // N uses the value reported by batch N-1 — so take the
    // second-to-last report (a trailing no-data batch may or may not
    // run under AvailableNow; computing maxTs - delay ourselves would
    // over-demand emissions).
    val wms = q.recentProgress.toSeq
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .map(s => java.time.Instant.parse(s).toEpochMilli)
    val watermarkMs = if (wms.size >= 2) wms(wms.size - 2) else 0L

    val got = spark.sql("SELECT user_id, w.start, n_events FROM sessions")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    val batch = Tables.load(spark, sf, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start"), col("w.end"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    val (closed, open) = batch.partition(_._3.getTime < watermarkMs)

    // every emitted session must be a REAL batch session, verbatim
    val batchSet = batch.map(b => (b._1, b._2, b._4)).toSet
    assert(got.subsetOf(batchSet), s"streaming emitted non-batch sessions: ${got.diff(batchSet)}")
    // and every session safely below the final watermark must be emitted
    val mustEmit = closed.map(b => (b._1, b._2, b._4)).toSet
    assert(mustEmit.subsetOf(got),
      s"closed sessions missing from streaming output: ${mustEmit.diff(got).take(5)}")
    assert(open.nonEmpty || got === batchSet) // sanity on the split
  }

  test("watermark drops late rows (late-data contract)") {
    val dir = tmpDir("late-src")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    // micro-batch 1: events at 10:00 and 12:00 → after it, the
    // watermark advances to 10:00 (12:00 - 2h). micro-batch 2: a row at
    // 08:00 — below the watermark → must be DROPPED. Two genuinely
    // separate micro-batches are forced by processAllAvailable() between
    // the file writes (a single AvailableNow drain can fuse them).
    Files.writeString(Paths.get(dir, "b1.json"),
      """{"ts":"2024-01-01 10:00:00","v":1}
        |{"ts":"2024-01-01 12:00:00","v":2}""".stripMargin)
    val q = spark.readStream.schema(schema).json(dir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour")).agg(sum(col("v")).as("s"))
      .writeStream.format("memory").queryName("late")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("late-ckpt")).start()
    q.processAllAvailable()
    Files.writeString(Paths.get(dir, "b2.json"),
      """{"ts":"2024-01-01 08:00:00","v":100}
        |{"ts":"2024-01-01 13:00:00","v":3}""".stripMargin)
    q.processAllAvailable()
    // one more empty-ish advance so closed windows flush in append mode
    Files.writeString(Paths.get(dir, "b3.json"),
      """{"ts":"2024-01-01 16:00:00","v":0}""")
    q.processAllAvailable()
    q.stop()

    val emitted = spark.sql("SELECT window.start, s FROM late")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
    // the late v=100 at 08:00 never contributes to any emitted window
    assert(!emitted.values.exists(_ >= 100L), s"late row leaked into $emitted")
  }

  test("stream-stream interval join == batch interval join") {
    // two event streams joined on user_id within a ±30-minute event-time
    // interval — the stateful stream-stream join with watermarks on BOTH
    // sides (state is bounded by watermark + interval, the 100 TB
    // requirement for any long-running correlation join)
    val (dirA, schema) = eventsAsJsonFiles(3)
    val a = streamed(dirA, schema)
      .select(col("event_id").as("a_id"), col("user_id"),
        col("ts").as("a_ts"), col("event_type").as("a_type"))
      .withWatermark("a_ts", "2 hours")
    val b = streamed(dirA, schema)
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts").as("b_ts"))
      .withWatermark("b_ts", "2 hours")
    val joined = a.join(b,
      col("user_id") === col("b_user") && col("a_id") < col("b_id") &&
        col("b_ts") >= col("a_ts") - expr("INTERVAL 30 MINUTES") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("a_id"), col("b_id"))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.sql("SELECT a_id, b_id FROM ssjoin")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables.load(spark, sf, "events")
    val want = ev.select(col("event_id").as("a_id"), col("user_id"), col("ts").as("a_ts"))
      .join(ev.select(col("event_id").as("b_id"), col("user_id").as("b_user"), col("ts").as("b_ts")),
        col("user_id") === col("b_user") && col("a_id") < col("b_id") &&
          col("b_ts") >= col("a_ts") - expr("INTERVAL 30 MINUTES") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "fixture produced no interval-join pairs — test is vacuous")
    assert(got === want)
  }

  test("change-feed consumer: micro-batch polls replay to every table state; compaction and idle polls emit nothing") {
    import spark.implicits._
    import graft.lakehouse.{ChangeFeedReader, LakehouseTable}
    val t = new LakehouseTable(spark, tmpDir("cdf-feed"))
    val reader = new ChangeFeedReader(t)
    assert(reader.poll().isEmpty, "empty table must not emit a batch")

    def sameMultiset(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame, hint: String): Unit = {
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, hint)
    }
    // consumer-side apply: next state = (state ∖ deletes) ∪ inserts
    def applyBatch(st: org.apache.spark.sql.DataFrame,
        ch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      st.exceptAll(ch.filter(col("_change") === "delete").drop("_change"))
        .unionByName(ch.filter(col("_change") === "insert").drop("_change"))

    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // bootstrap: the initial snapshot arrives as pure inserts
    val (b1, c1) = reader.poll().get
    assert(c1 === 1L && reader.cursor === Some(1L))
    assert(b1.filter(col("_change") === "delete").isEmpty)
    var state = b1.drop("_change")
    sameMultiset(state, t.read(), "bootstrap batch must equal the first snapshot")

    // two head advances between polls drain as ONE batch (cursor 1 → 3)
    t.append(Seq((3L, "c")).toDF("id", "v"))
    t.upsert(Seq((2L, "B2")).toDF("id", "v"), Seq("id"))
    val (b2, c2) = reader.poll().get
    assert(c2 === 3L)
    sameMultiset(b2, t.changesBetween(1L, 3L),
      "an incremental poll IS the batch diff over its cursor range")
    state = applyBatch(state, b2)
    sameMultiset(state, t.read(), "applied feed must reproduce the table")

    // compaction-only advance: files rewrite, rows don't — zero change rows
    assert(t.compact(fileThreshold = 2, maxRows = Long.MaxValue).isDefined)
    val (b3, c3) = reader.poll().get
    assert(c3 === 4L)
    assert(b3.isEmpty, "a compaction rewrite must cancel to an empty change batch")
    state = applyBatch(state, b3)
    sameMultiset(state, t.read(), "state survives a no-op batch")
    assert(reader.poll().isEmpty && reader.cursor === Some(4L),
      "caught-up poll must emit nothing and hold the cursor")

    // restart replay: a reader resumed from a saved cursor sees exactly
    // the diff a batch consumer would compute over the same range
    val resumed = new ChangeFeedReader(t, startAfter = Some(1L))
    val (rb, rc) = resumed.poll().get
    assert(rc === 4L)
    sameMultiset(rb, t.changesBetween(1L, 4L), "resume-from-cursor equals the batch diff")
  }

  test("change-feed two-phase: uncommitted polls replay the same range; commit advances; bogus commit rejected") {
    import spark.implicits._
    import graft.lakehouse.{ChangeFeedReader, LakehouseTable}
    val t = new LakehouseTable(spark, tmpDir("cdf-2pc"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val r = new ChangeFeedReader(t)
    val (b1, c1) = r.poll(autoCommit = false).get
    assert(c1 === 1L && r.cursor === None, "uncommitted poll must not advance the cursor")
    // consumer dies mid-batch and re-polls: SAME range, same rows
    val (b1again, c1again) = r.poll(autoCommit = false).get
    assert(c1again === 1L)
    assert(b1again.exceptAll(b1).isEmpty && b1.exceptAll(b1again).isEmpty,
      "re-poll before commit must replay the identical batch")
    intercept[IllegalArgumentException](r.commit(99L))
    r.commit(1L)
    assert(r.cursor === Some(1L))
    assert(r.poll(autoCommit = false).isEmpty, "committed head polls empty")
    r.commit(1L) // re-committing the consumed edge is an idempotent no-op
    // next range only emits rows PAST the committed edge
    t.append(Seq((3L, "c")).toDF("id", "v"))
    val (b2, c2) = r.poll(autoCommit = false).get
    assert(c2 === 2L)
    assert(b2.select("id").as[Long].collect().toSeq === Seq(3L))
    r.commit(2L)
    // stale-pending regression: an auto-commit poll supersedes an
    // uncommitted batch, so committing the old edge must fail loudly
    // instead of silently rewinding the cursor
    t.append(Seq((4L, "d")).toDF("id", "v"))
    val (_, c3) = r.poll(autoCommit = false).get
    assert(c3 === 3L)
    t.append(Seq((5L, "e")).toDF("id", "v"))
    assert(r.poll().map(_._2) === Some(4L)) // auto-commit to the new head
    intercept[IllegalArgumentException](r.commit(3L))
    assert(r.cursor === Some(4L), "cursor must never move backwards")
  }

  test("change-feed Source's one private-API dependency exists (fails loudly on a Spark upgrade that removes it)") {
    // the V1 source wraps batch plans via SparkSession.internalCreateDataFrame
    // (reflective — the documented single hop the public API doesn't
    // expose; Delta's source takes the same path). NoSuchMethodException
    // here means the Spark upgrade broke the stream: fix asStreaming
    // before anything else.
    assert(graft.lakehouse.ChangeFeedSource.reflectionHealthy(spark))
  }

  test("change-feed Source registers under the graft-changefeed short name (DataSourceRegister)") {
    import spark.implicits._
    import graft.lakehouse.LakehouseTable
    val root = tmpDir("cdf-shortname")
    new LakehouseTable(spark, root).append(Seq((1L, "a")).toDF("id", "v"))
    val df = spark.readStream.format("graft-changefeed").option("path", root).load()
    assert(df.isStreaming)
    assert(df.schema.fieldNames.toSeq === Seq("id", "v", "_change"))
  }

  test("change-feed Source: spark.readStream drives the feed end-to-end with checkpointed restart-resume") {
    import spark.implicits._
    import graft.lakehouse.{ChangeFeedSourceProvider, LakehouseTable}
    val root = tmpDir("cdf-src")
    val ckpt = tmpDir("cdf-src-ckpt")
    val t = new LakehouseTable(spark, root)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))

    val seen = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
    val absorb: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, _) => {
      val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      seen.synchronized { seen ++= rows }
    }
    def runOnce(): Unit = {
      val q = spark.readStream
        .format(classOf[ChangeFeedSourceProvider].getName)
        .option("path", root)
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(absorb)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "streaming query did not drain in time")
    }

    runOnce()
    assert(seen.toSet === Set((1L, "a", "insert"), (2L, "b", "insert")),
      "cold start must bootstrap the initial snapshot as inserts")

    // table advances while the stream is DOWN; the restart resumes from
    // the checkpointed snapshot offset — only the diff arrives, no
    // re-bootstrap, no duplicates
    seen.clear()
    t.append(Seq((3L, "c")).toDF("id", "v"))
    t.upsert(Seq((2L, "B2")).toDF("id", "v"), Seq("id"))
    runOnce()
    assert(seen.toSet === Set((3L, "c", "insert"), (2L, "B2", "insert"), (2L, "b", "delete")),
      s"restart must deliver exactly the cursor-range diff, got $seen")

    // compaction-only advance: the stream emits nothing
    seen.clear()
    assert(t.compact(fileThreshold = 2, maxRows = Long.MaxValue).isDefined)
    runOnce()
    assert(seen.isEmpty, "a compaction rewrite must stream zero change rows")
  }

  test("admission control: maxSnapshotsPerTrigger drains a backlog in MANY micro-batches with a bounded cold-start bootstrap") {
    import spark.implicits._
    import graft.lakehouse.LakehouseTable
    val root = tmpDir("cdf-admission")
    val t = new LakehouseTable(spark, root)
    // 5-snapshot backlog accumulated while no consumer ran
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    t.upsert(Seq((2L, "B2")).toDF("id", "v"), Seq("id"))
    t.append(Seq((4L, "d")).toDF("id", "v"))
    t.applyChanges(Seq((1L, "x", "delete")).toDF("id", "v", "_change"), Seq("id"))

    val batches = scala.collection.mutable.ArrayBuffer[(Long, Long)]() // (batchId, rows)
    val out = new LakehouseTable(spark, tmpDir("cdf-admission-out"))
    val q = spark.readStream
      .format("graft-changefeed").option("path", root)
      .option("maxSnapshotsPerTrigger", "2")
      .load()
      .writeStream
      .option("checkpointLocation", tmpDir("cdf-admission-ckpt"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val n = df.count()
        batches.synchronized { batches += ((batchId, n)) }
        out.applyChanges(df, Seq("id"), txn = Some(("admission", batchId)))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "capped drain did not finish")

    // 5 snapshots at ≤2 per trigger: the cold-start bootstrap consumes
    // snapshots 1-2 (state {1,2,3} = 3 rows), then two capped diff
    // batches — the whole-backlog-in-one-batch cold start is gone
    assert(batches.size >= 3,
      s"a 5-snapshot backlog capped at 2/trigger must take ≥3 micro-batches, took ${batches.toSeq}")
    assert(batches.head._2 === 3L,
      s"the bootstrap batch must carry snapshot 2's state (3 rows), not the head, got ${batches.toSeq}")
    // ...and the drained result equals the head state exactly
    val (x, y) = (out.read(), t.read())
    assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty,
      "capped drain must converge to the same final table")

    // a second AvailableNow run with no new commits drains zero batches
    // of data (the cap must not manufacture phantom batches)
    val before = batches.size
    val q2 = spark.readStream
      .format("graft-changefeed").option("path", root)
      .option("maxSnapshotsPerTrigger", "2")
      .load()
      .writeStream
      .option("checkpointLocation", tmpDir("cdf-admission-ckpt2").stripSuffix("/"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batches.synchronized { batches += ((100 + batchId, df.count())) }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q2.awaitTermination(120000))
    // fresh checkpoint: bootstrap (earliest) + 2 capped diffs again
    assert(batches.drop(before).map(_._2).sum === batches.take(before).map(_._2).sum,
      "a re-drain from a fresh checkpoint must deliver the same total change volume")
  }

  test("chunked bootstrap: maxFilesPerTrigger splits a bulk-load snapshot into resumable file-slice batches") {
    import spark.implicits._
    import graft.lakehouse.{ChangeFeedSource, LakehouseTable}
    val root = tmpDir("cdf-boot")
    val t = new LakehouseTable(spark, root)
    // the 100 TB bulk-load shape: ONE snapshot carrying the whole
    // dataset (8 files) — snapshot-granular admission control alone
    // cannot split it
    t.append((0L until 800L).map(i => (i, s"v$i")).toDF("id", "v").repartition(8))
    t.append(Seq((9000L, "late")).toDF("id", "v")) // an incremental tail

    val batches = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val out = new LakehouseTable(spark, tmpDir("cdf-boot-out"))
    val q = spark.readStream
      .format("graft-changefeed").option("path", root)
      .option("maxSnapshotsPerTrigger", "1")
      .option("maxFilesPerTrigger", "3")
      .load()
      .writeStream
      .option("checkpointLocation", tmpDir("cdf-boot-ckpt"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batches.synchronized { batches += ((batchId, df.count())) }
        out.applyChanges(df, Seq("id"), txn = Some(("boot", batchId)))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "chunked bootstrap did not drain")

    // 8 bootstrap files at ≤3/trigger = 3 slices, then the 1-row diff:
    // incremental checkpoint progress instead of one table-sized batch
    assert(batches.size === 4,
      s"8 files at 3/trigger + 1 diff must be 4 batches, got ${batches.toSeq}")
    assert(batches.map(_._2).toSeq === Seq(300L, 300L, 200L, 1L),
      s"slice sizes must follow the manifest file order, got ${batches.toSeq}")
    val (x, y) = (out.read(), t.read())
    assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty,
      "chunked bootstrap must converge to the head state")

    // mid-bootstrap crash/restart at the SOURCE level: a fresh source
    // resuming from a checkpointed file-slice offset replays the exact
    // pinned slice (pure function of range), then continues — never
    // from zero
    import org.apache.spark.sql.execution.streaming.SerializedOffset
    def src() = new ChangeFeedSource(spark.sqlContext, root,
      maxSnapshotsPerTrigger = None, maxFilesPerTrigger = Some(4))
    // getBatch hands back isStreaming frames (the engine's contract;
    // batch actions refuse them) wrapping an already-materialized
    // InternalRow RDD — count that RDD directly, as the engine would
    def rows(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.logical
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.count()
    val s1 = src()
    val o1 = s1.latestOffset(null, null)
    assert(o1.json === """{"s":2,"f":4}""", s"got ${o1.json}")
    assert(rows(s1.getBatch(None, SerializedOffset(o1.json))) === 400)
    val s2 = src() // the restarted process
    val o2 = s2.latestOffset(o1, null)
    assert(o2.json === """{"s":2,"f":8}""")
    assert(rows(s2.getBatch(Some(SerializedOffset(o1.json)), SerializedOffset(o2.json))) === 400)
    val o3 = s2.latestOffset(o2, null)
    assert(o3.json === "2", "the final slice lands on the plain snapshot offset")
    // the 9th file (the late row); head == s, so no diff rides along
    assert(rows(s2.getBatch(Some(SerializedOffset(o2.json)), SerializedOffset(o3.json))) === 1)
    // replay purity: the same pinned range returns the identical slice
    assert(rows(s2.getBatch(None, SerializedOffset(o1.json))) === 400)
  }

  test("maxBytesPerTrigger: byte-denominated admission from manifest sizes (bootstrap slices and incremental ranges)") {
    import spark.implicits._
    import graft.lakehouse.{ChangeFeedSource, LakehouseTable}
    import org.apache.spark.sql.execution.streaming.SerializedOffset
    val root = tmpDir("cdf-bytes")
    val t = new LakehouseTable(spark, root)
    t.append((0L until 300L).map(i => (i, s"v$i")).toDF("id", "v").repartition(3)) // s1: 3 files
    t.append(Seq((900L, "x")).toDF("id", "v")) // s2
    t.append(Seq((901L, "y")).toDF("id", "v")) // s3
    t.append(Seq((902L, "z")).toDF("id", "v")) // s4

    // a 1-byte cap is below every file: each batch still makes exactly
    // ONE file / ONE snapshot of progress (the no-stall floor)
    val strict = new ChangeFeedSource(spark.sqlContext, root,
      maxSnapshotsPerTrigger = None, maxFilesPerTrigger = None,
      maxBytesPerTrigger = Some(1L))
    val o1 = strict.latestOffset(null, null)
    assert(o1.json === """{"s":4,"f":1}""",
      s"bootstrap slice must stop at the byte cap (one-file floor), got ${o1.json}")
    assert(strict.latestOffset(SerializedOffset("1"), null).json === "2",
      "incremental progress under a sub-file byte cap is one snapshot")
    assert(strict.latestOffset(SerializedOffset("2"), null).json === "3")

    // a generous cap takes the whole backlog in one range
    val loose = new ChangeFeedSource(spark.sqlContext, root,
      maxSnapshotsPerTrigger = None, maxFilesPerTrigger = None,
      maxBytesPerTrigger = Some(1L << 30))
    assert(loose.latestOffset(SerializedOffset("1"), null).json === "4")
    assert(loose.latestOffset(null, null).json === "4",
      "a bootstrap within budget needs no file slicing")
  }

  test("batch CDF read: spark.read.format(graft-changefeed) with a snapshot range equals changesBetween; bare load is the bootstrap") {
    import spark.implicits._
    import graft.lakehouse.LakehouseTable
    val t = new LakehouseTable(spark, tmpDir("cdf-batch"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    t.upsert(Seq((2L, "B2")).toDF("id", "v"), Seq("id"))
    def cdf(opts: (String, String)*) = {
      val r = spark.read.format("graft-changefeed")
      opts.foldLeft(r) { case (rr, (k, v)) => rr.option(k, v) }.load(t.root)
    }
    def sameMultiset(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame, hint: String): Unit =
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, hint)
    // explicit range == the diff API
    sameMultiset(cdf("startingSnapshot" -> "1"), t.changesBetween(1L, 3L),
      "ranged batch CDF must equal changesBetween to the head")
    sameMultiset(cdf("startingSnapshot" -> "1", "endingSnapshot" -> "2"),
      t.changesBetween(1L, 2L), "explicit ending snapshot must be honored")
    // bare load: the ending state as pure inserts (bootstrap shape)
    val boot = cdf()
    assert(boot.filter(col("_change") =!= "insert").isEmpty)
    sameMultiset(boot.drop("_change"), t.read(), "bootstrap equals the head state")
    // empty range drains to zero rows with the feed schema intact
    val empty = cdf("startingSnapshot" -> "3")
    assert(empty.isEmpty && empty.columns.contains("_change"))
    // and it is SQL-queryable like any relation
    cdf("startingSnapshot" -> "1").createOrReplaceTempView("graft_cdf_v")
    assert(spark.sql("SELECT count(*) FROM graft_cdf_v WHERE _change = 'delete'")
      .head.getLong(0) === 1L) // the upsert's delete(2, b)
  }

  test("E2E compose: changefeed → transform → second lakehouse table; a crash between sink write and checkpoint commit replays without loss or duplication") {
    import spark.implicits._
    import graft.lakehouse.LakehouseTable
    // the full source→transform→sink replay contract
    // (pipeline/runner.py:355-383) through the engine's OWN storage on
    // both ends: table A's change feed streams through a filter +
    // derived column into table B via foreachBatch, where
    // applyChanges((queryName, batchId)) is the idempotent sink write.
    val a = new LakehouseTable(spark, tmpDir("e2e-a"))
    val b = new LakehouseTable(spark, tmpDir("e2e-b"))
    val ckpt = tmpDir("e2e-ckpt")
    val appId = "e2e-compose"
    a.append(Seq((1L, "alpha"), (2L, "beta"), (7L, "Xdrop")).toDF("id", "v"))

    @volatile var crashAfterWrite = false
    def runOnce(): Option[Throwable] = {
      val q = spark.readStream
        .format("graft-changefeed").option("path", a.root).load()
        .filter(!col("v").startsWith("X"))
        .withColumn("vlen", length(col("v")))
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
          b.applyChanges(df, Seq("id"), txn = Some((appId, batchId)))
          if (crashAfterWrite) {
            crashAfterWrite = false
            throw new RuntimeException(
              "injected crash between sink write and checkpoint commit")
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try { assert(q.awaitTermination(120000), "stream did not drain"); None }
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException => Some(e)
      }
    }
    def batchTwin() =
      a.read().filter(!col("v").startsWith("X")).withColumn("vlen", length(col("v")))
    def sameMultiset(hint: String): Unit = {
      val (x, y) = (b.read(), batchTwin())
      assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty, hint)
    }

    // run 1: bootstrap batch WRITES to B, then the query dies before the
    // checkpoint commits the batch — the classic at-least-once window
    crashAfterWrite = true
    val err = runOnce()
    assert(err.exists(e => Option(e.getCause).exists(
      _.getMessage.contains("injected")) || e.getMessage.contains("injected")),
      s"first run must crash after the sink write, got $err")
    // restart: Spark replays the SAME batchId; the txn ledger absorbs it
    assert(runOnce().isEmpty)
    sameMultiset("after crash-replay, downstream must equal the batch twin")
    val versions =
      b.listSnapshots().flatMap(_.txn).filter(_.appId == appId).map(_.version)
    assert(versions.distinct.size === versions.size,
      s"a replayed batch must never commit twice, got marks $versions")

    // upstream advances while the stream is DOWN: update + insert flow
    // through the transform on restart (only the diff, no re-bootstrap)
    a.upsert(Seq((2L, "BETA2")).toDF("id", "v"), Seq("id"))
    a.append(Seq((3L, "gamma")).toDF("id", "v"))
    assert(runOnce().isEmpty)
    sameMultiset("restart drains exactly the cursor-range diff")

    // filter-flip updates: a hidden row becomes visible (its delete half
    // is filtered, the insert lands) and a visible row becomes hidden
    // (its insert half is filtered, the delete removes the key)
    a.upsert(Seq((7L, "seven"), (1L, "Xgone")).toDF("id", "v"), Seq("id"))
    assert(runOnce().isEmpty)
    sameMultiset("transform-aware deletes: visibility flips in both directions")
    assert(b.read().select("id").as[Long].collect().sorted.toSeq === Seq(2L, 3L, 7L))
  }

  test("catalog-name streaming: changefeed→sink replication driven purely by table names") {
    import spark.implicits._
    import graft.lakehouse.{LakehouseCatalog, LakehouseTable}
    val wh = tmpDir("name-stream-wh")
    spark.conf.set("spark.sql.catalog.strcat", classOf[LakehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.strcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS strcat.db")
    spark.sql("DROP TABLE IF EXISTS strcat.db.src_t")
    spark.sql("DROP TABLE IF EXISTS strcat.db.dst_t")
    spark.sql("CREATE TABLE strcat.db.src_t (id BIGINT, v STRING)")
    spark.sql("CREATE TABLE strcat.db.dst_t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO strcat.db.src_t VALUES (1,'a'), (2,'b')")

    val ckpt = tmpDir("name-stream-ckpt")
    def runOnce(): Unit = {
      // NO path strings anywhere: source and sink both resolve by name
      val q = spark.readStream
        .format("graft-changefeed").option("table", "strcat.db.src_t")
        .load()
        .writeStream
        .format("graft-lakehouse").option("table", "strcat.db.dst_t")
        .option("keys", "id")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "by-name replication did not drain")
    }
    runOnce()
    assert(spark.sql("SELECT id, v FROM strcat.db.dst_t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "a"), (2L, "b")))

    // upstream mutates through SQL; the restarted stream drains the diff
    spark.sql("INSERT INTO strcat.db.src_t VALUES (3,'c')")
    val src = new LakehouseTable(spark,
      java.nio.file.Paths.get(wh, "db", "src_t").toString)
    src.applyChanges(Seq((1L, "a", "delete")).toDF("id", "v", "_change"), Seq("id"))
    runOnce()
    assert(spark.sql("SELECT id, v FROM strcat.db.dst_t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((2L, "b"), (3L, "c")))

    // an unknown name fails loudly at resolution, not silently at runtime
    val e = intercept[Exception](spark.readStream
      .format("graft-changefeed").option("table", "strcat.db.nope").load())
    assert(e.getMessage.toLowerCase.contains("table"), e.getMessage)
    spark.sql("DROP TABLE strcat.db.src_t")
    spark.sql("DROP TABLE strcat.db.dst_t")
  }

  test("readStream.table: append-only micro-batch stream by catalog name; rewrites fail loudly or skip") {
    import spark.implicits._
    import graft.lakehouse.{LakehouseCatalog, LakehouseTable}
    val wh = tmpDir("rst-wh")
    spark.conf.set("spark.sql.catalog.rstcat", classOf[LakehouseCatalog].getName)
    spark.conf.set("spark.sql.catalog.rstcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rstcat.db")
    spark.sql("DROP TABLE IF EXISTS rstcat.db.tail")
    spark.sql("CREATE TABLE rstcat.db.tail (id BIGINT, v STRING)")
    spark.sql("INSERT INTO rstcat.db.tail VALUES (1,'a'), (2,'b')")
    val t = new LakehouseTable(spark, java.nio.file.Paths.get(wh, "db", "tail").toString)

    val sinkDir = tmpDir("rst-sink")
    val ckpt = tmpDir("rst-ckpt")
    def drainTo(extra: (String, String)*): Unit = {
      val r0 = spark.readStream
      val reader = extra.foldLeft(r0) { case (r, (k, v)) => r.option(k, v) }
      val q = reader.table("rstcat.db.tail")
        .writeStream.format("parquet")
        .option("path", sinkDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "append stream did not drain")
    }
    def sunk(): Set[(Long, String)] = spark.read.parquet(sinkDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    drainTo() // bootstrap batch = stream-start state
    assert(sunk() === Set((1L, "a"), (2L, "b")))
    // appends stream incrementally (only the ADDED files are read)
    spark.sql("INSERT INTO rstcat.db.tail VALUES (3,'c')")
    spark.sql("INSERT INTO rstcat.db.tail VALUES (4,'d')")
    drainTo()
    assert(sunk() === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // a schema-only ALTER adds no files and passes through silently
    spark.sql("ALTER TABLE rstcat.db.tail ADD COLUMNS (tag STRING)")
    spark.sql("INSERT INTO rstcat.db.tail VALUES (5,'e', NULL)")
    drainTo()
    assert(sunk().contains((5L, "e")))
    // a REWRITE snapshot (upsert) fails the stream loudly …
    t.upsert(Seq((1L, "A2")).toDF("id", "v"), Seq("id"))
    val e = intercept[Exception] { drainTo() }
    def rootCause(x: Throwable): Throwable =
      if (x.getCause == null || x.getCause == x) x else rootCause(x.getCause)
    assert((e.getMessage + rootCause(e).getMessage).contains("APPEND-ONLY"),
      s"${e.getMessage} / ${rootCause(e).getMessage}")
    // … and skipChangeCommits skips it (no replay of rewritten data),
    // while later appends keep flowing
    spark.sql("INSERT INTO rstcat.db.tail VALUES (6,'f', 'T')")
    drainTo("skipChangeCommits" -> "true")
    assert(sunk().contains((6L, "f")))
    assert(!sunk().contains((1L, "A2")), "a skipped rewrite's output must not stream")
    spark.sql("DROP TABLE rstcat.db.tail")
  }

  test("readStream.table admission control: snapshot/byte caps drain a backlog in bounded batches") {
    import spark.implicits._
    import graft.lakehouse.LakehouseTable
    val t = new LakehouseTable(spark, tmpDir("rst-adm"))
    (0 until 6).foreach { i =>
      t.append(((i * 10L) until (i * 10L + 10L)).map(id => (id, s"v$id"))
        .toDF("id", "v").coalesce(1))
    }
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = spark.readStream
      .option("maxSnapshotsPerTrigger", "2")
      .format("graft-lakehouse").load(t.root)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.synchronized { batches += ((id, df.count())) }
        ()
      }
      .option("checkpointLocation", tmpDir("rst-adm-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "clamped drain did not finish")
    val total = batches.map(_._2).sum
    assert(total === 60L, s"all rows must arrive exactly once: $batches")
    // 6 append snapshots, clamp 2: bounded cold start from the earliest
    // retained snapshot, then 2-snapshot increments — ≥3 real batches,
    // none carrying the whole table
    val nonEmpty = batches.filter(_._2 > 0)
    assert(nonEmpty.size >= 3, s"backlog must drain in MANY batches: $batches")
    assert(nonEmpty.forall(_._2 < 60L), s"no batch may carry the whole table: $batches")
    // byte cap: a fresh checkpoint with a tiny byte budget still makes
    // progress (one snapshot per batch) and converges to the same total
    val batches2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q2 = spark.readStream
      .option("maxSnapshotsPerTrigger", "5").option("maxBytesPerTrigger", "1")
      .format("graft-lakehouse").load(t.root)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches2.synchronized { batches2 += df.count() }
        ()
      }
      .option("checkpointLocation", tmpDir("rst-adm-ckpt2"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q2.awaitTermination(120000), "byte-clamped drain did not finish")
    assert(batches2.sum === 60L, s"byte-capped drain must converge: $batches2")
    assert(batches2.count(_ > 0) >= 2, s"byte cap must split the backlog: $batches2")
  }

  test("readStream.table file-granular bootstrap: a bulk snapshot drains in file slices; a crash resumes at the file index") {
    import spark.implicits._
    import graft.lakehouse.LakehouseTable
    val t = new LakehouseTable(spark, tmpDir("rst-boot"))
    // ONE bulk snapshot carrying 6 files — the shape the snapshot cap
    // cannot split (the round-11 unbounded first batch)
    t.append((0L until 60L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(6, col("id")))
    val out = new LakehouseTable(spark, tmpDir("rst-boot-out"))
    val ckpt = tmpDir("rst-boot-ckpt")
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    @volatile var crashAt = -1 // batch ordinal to crash AFTER writing
    def drain(): Boolean = {
      val q = spark.readStream.option("maxFilesPerTrigger", "2")
        .format("graft-lakehouse").load(t.root)
        .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
          val n = df.count()
          batches.synchronized { batches += n }
          out.upsertIdempotent(df, Seq("id"), "rst-boot", bid)
          if (batches.size == crashAt)
            throw new RuntimeException("injected mid-bootstrap crash")
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination(120000)
      catch { case _: Exception => q.stop(); false }
    }
    crashAt = 2
    assert(!drain(), "the injected crash must fail the run")
    crashAt = -1
    assert(drain(), "the restarted drain must finish")
    // convergence: the keyed sink absorbed the redelivered slice
    assert(out.read().count() === 60L)
    assert(out.read().agg(sum(col("id"))).head.getLong(0) === (0L until 60L).sum)
    // the bootstrap went through in 2-file slices — no batch carried
    // the whole table, and the crash point was REDELIVERED, not skipped
    assert(batches.forall(_ <= 20L), s"no batch may exceed its file slice: $batches")
    assert(batches.count(_ > 0) >= 4, s"the bulk snapshot must split: $batches")
    assert(batches.sum >= 60L + 20L, s"the uncommitted slice must redeliver: $batches")
  }

  test("readStream.table: startingTag/startingVersion pin the bootstrap; the checkpoint overrides the option on restart") {
    import spark.implicits._
    import graft.lakehouse.LakehouseTable
    val t = new LakehouseTable(spark, tmpDir("rst-stv"))
    t.append(Seq((1L, "a")).toDF("id", "v").coalesce(1)) // snap 1
    t.append(Seq((2L, "b")).toDF("id", "v").coalesce(1)) // snap 2
    t.setTag("rel", t.currentSnapshot().get.snapshotId)
    t.append(Seq((3L, "c")).toDF("id", "v").coalesce(1)) // snap 3
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    def drain(ckpt: String, opts: (String, String)*): Unit = {
      var r = spark.readStream.format("graft-lakehouse")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load(t.root)
        .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = df.select("id").collect().map(_.getLong(0)).toSet
          batches.synchronized { if (ids.nonEmpty) batches += ids }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000)); ()
    }
    // a fresh stream from the TAG: the bootstrap is the TAGGED state
    // (snapshots 1-2), then the increment past it — never a full
    // head-state bootstrap that replays history the consumer pinned away
    val ckpt = tmpDir("rst-stv-ckpt")
    drain(ckpt, "startingTag" -> "rel")
    assert(batches.head === Set(1L, 2L),
      s"the bootstrap must be the tagged snapshot's state: $batches")
    assert(batches.flatten.toSet === Set(1L, 2L, 3L), s"got $batches")
    // restart on the SAME checkpoint after more commits: the committed
    // offset wins — only the new increment arrives, the option is inert
    batches.clear()
    t.append(Seq((4L, "d")).toDF("id", "v").coalesce(1)) // snap 4
    drain(ckpt, "startingTag" -> "rel")
    assert(batches.toSeq === Seq(Set(4L)),
      s"a checkpointed stream must ignore startingTag: $batches")
    // startingVersion composes with the file caps (sliced bootstrap),
    // and startingTimestamp resolves the snapshot current at an instant
    batches.clear()
    drain(tmpDir("rst-stv-ckpt2"), "startingVersion" -> "1",
      "maxFilesPerTrigger" -> "1")
    assert(batches.head === Set(1L),
      s"startingVersion bootstrap must be snapshot 1's state: $batches")
    assert(batches.flatten.toSet === Set(1L, 2L, 3L, 4L), s"got $batches")
    // an unknown tag on a FRESH checkpoint fails loudly at start
    val e = intercept[Exception] {
      val q = spark.readStream.format("graft-lakehouse")
        .option("startingTag", "nope").load(t.root)
        .writeStream.format("noop")
        .option("checkpointLocation", tmpDir("rst-stv-ckpt3"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q.stop()
    }
    assert(e.getMessage.contains("nope") || e.getCause != null, e.getMessage)
  }

  test("startingTimestamp takes a date-only string read as UTC midnight, like asOfTimestamp") {
    import spark.implicits._
    import graft.lakehouse.LakehouseTable
    val t = new LakehouseTable(spark, tmpDir("rst-date"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    // tomorrow's UTC midnight follows every commit: the pin is the head
    val day = java.time.LocalDate.now(java.time.ZoneOffset.UTC).plusDays(1).toString
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-lakehouse")
      .option("startingTimestamp", day).load(t.root)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got ++= df.select("id").collect().map(_.getLong(0)) }
        ()
      }
      .option("checkpointLocation", tmpDir("rst-date-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    assert(got.sorted.toSeq === Seq(1L, 2L))
    // the changefeed's batch face reads the same spelling
    val none = spark.read.format("graft-changefeed").option("path", t.root)
      .option("startingTimestamp", day).load().count()
    assert(none === 0L, "a pin at the head has no changes after it")
  }

  test("changefeed startingTag: a fresh stream delivers CHANGES after the pin, never a bootstrap; checkpoint wins on restart") {
    import spark.implicits._
    import graft.lakehouse.LakehouseTable
    val t = new LakehouseTable(spark, tmpDir("cf-stv"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)) // snap 1
    t.setTag("rel", 1L)
    t.applyChanges(Seq((2L, "b2", "insert"), (1L, "a", "delete"))
      .toDF("id", "v", "_change"), Seq("id")) // snap 2: update 2, delete 1
    t.append(Seq((3L, "c")).toDF("id", "v").coalesce(1)) // snap 3
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, String)]]
    def drain(ckpt: String, opts: (String, String)*): Unit = {
      var r = spark.readStream.format("graft-changefeed").option("path", t.root)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load()
        .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.select("id", "_change").collect()
            .map(x => (x.getLong(0), x.getString(1))).toSeq.sorted
          batches.synchronized { if (rows.nonEmpty) batches += rows }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000)); ()
    }
    // fresh stream from the tag: ONLY the post-tag changes arrive —
    // the update's delete+insert pair, the bare delete, the append —
    // never snapshot 1's state as a bootstrap
    val ckpt = tmpDir("cf-stv-ckpt")
    drain(ckpt, "startingTag" -> "rel")
    assert(batches.flatten.toSet ===
      Set((1L, "delete"), (2L, "delete"), (2L, "insert"), (3L, "insert")),
      s"changes after the tag only: $batches")
    // restart on the same checkpoint: the pin is inert, the committed
    // offset wins — only the new commit arrives
    batches.clear()
    t.append(Seq((4L, "d")).toDF("id", "v").coalesce(1)) // snap 4
    drain(ckpt, "startingTag" -> "rel")
    assert(batches.flatten.toSet === Set((4L, "insert")), s"got $batches")
    // startingVersion / startingTimestamp are the same pin by id/time;
    // the three are mutually exclusive
    batches.clear()
    drain(tmpDir("cf-stv-ckpt2"), "startingVersion" -> "3")
    assert(batches.flatten.toSet === Set((4L, "insert")), s"got $batches")
    val e = intercept[Exception] {
      spark.readStream.format("graft-changefeed").option("path", t.root)
        .option("startingTag", "rel").option("startingVersion", "1").load()
        .writeStream.format("noop")
        .option("checkpointLocation", tmpDir("cf-stv-ckpt3"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination(120000)
    }
    assert(e.getMessage.contains("mutually exclusive") ||
      Option(e.getCause).exists(_.getMessage.contains("mutually exclusive")),
      e.getMessage)
    // the BATCH face takes the tag pin too (symmetry): changes since
    // the release, bounded by endingSnapshot if given
    val batch = spark.read.format("graft-changefeed").option("path", t.root)
      .option("startingTag", "rel").option("endingSnapshot", "3").load()
      .select("id", "_change").collect().map(x => (x.getLong(0), x.getString(1))).toSet
    assert(batch === Set((1L, "delete"), (2L, "delete"), (2L, "insert"), (3L, "insert")))
    // and tag-to-tag: "the changes between two releases" with zero
    // snapshot-id bookkeeping
    t.setTag("rel2", 3L)
    val between = spark.read.format("graft-changefeed").option("path", t.root)
      .option("startingTag", "rel").option("endingTag", "rel2").load()
      .select("id", "_change").collect().map(x => (x.getLong(0), x.getString(1))).toSet
    assert(between === Set((1L, "delete"), (2L, "delete"), (2L, "insert"), (3L, "insert")))
    val e2 = intercept[Exception](
      spark.read.format("graft-changefeed").option("path", t.root)
        .option("endingTag", "rel2").option("endingSnapshot", "3").load().collect())
    assert(e2.getMessage.contains("mutually exclusive"), e2.getMessage)
  }

  test("readStream.table: a LIVE mid-stream upstream ADD fails loudly; restart re-pins and redelivers the values") {
    import spark.implicits._
    import graft.lakehouse.LakehouseTable
    import org.apache.spark.sql.types.{StringType, StructField}
    val t = new LakehouseTable(spark, tmpDir("rst-addlive"))
    t.append(Seq((1L, "a")).toDF("id", "v").coalesce(1))
    val ckpt = tmpDir("rst-addlive-ckpt")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    def sink(df: org.apache.spark.sql.DataFrame): Unit = {
      val has = df.columns.contains("tag")
      df.collect().foreach { r =>
        val tag = if (has) Option(r.getString(2)).getOrElse("-") else "-"
        seen.synchronized { seen += ((r.getLong(0), r.getString(1), tag)) }
      }
    }
    val q = spark.readStream.format("graft-lakehouse").load(t.root)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sink(df); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      q.processAllAvailable() // bootstrap pins (id, v)
      assert(seen.synchronized(seen.toSet) === Set((1L, "a", "-")))
      // an upstream ADD whose column survives at head: the pinned
      // schema cannot carry its values — the stream must fail LOUDLY
      // (silently undelivering tag='T' forever is the round-11 gap)
      t.addColumns(Seq(StructField("tag", StringType)))
      t.append(Seq((2L, "b", "T")).toDF("id", "v", "tag").coalesce(1))
      val e = intercept[Exception] { q.processAllAvailable() }
      def rc(x: Throwable): Throwable =
        if (x.getCause == null || x.getCause == x) x else rc(x.getCause)
      assert((e.getMessage + rc(e).getMessage).contains("restart the stream"),
        s"${e.getMessage} / ${rc(e).getMessage}")
    } finally q.stop()
    // the offset was NOT committed: the restarted stream re-pins the
    // wide schema and REDELIVERS the range WITH the column's values
    val q2 = spark.readStream.format("graft-lakehouse").load(t.root)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sink(df); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q2.awaitTermination(120000), "restarted drain did not finish")
    assert(seen.synchronized(seen.toSet).contains((2L, "b", "T")),
      s"the added column's values must redeliver: ${seen.synchronized(seen.toSeq)}")
    // an ADD dropped again by head is moot — a fresh stream over the
    // same checkpoint keeps flowing (no throw)
    t.append(Seq((3L, "c", null.asInstanceOf[String])).toDF("id", "v", "tag").coalesce(1))
    t.dropColumn("tag")
    t.append(Seq((4L, "d")).toDF("id", "v").coalesce(1))
    val q3 = spark.readStream.format("graft-lakehouse").load(t.root)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sink(df); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q3.awaitTermination(120000))
    assert(seen.synchronized(seen.toSet).exists(_._1 == 4L))
  }

  test("readStream.table: a LIVE mid-stream RENAME delivers values under the pinned name; a LIVE WIDEN fails with the restart contract") {
    import spark.implicits._
    import graft.lakehouse.LakehouseTable
    // RENAME: post-rename files carry the NEW physical name while the
    // running stream's schema pins the OLD one — the per-batch required
    // schema translates through the alias lineage, so the values flow
    // (round-12 fix: this silently null-filled before)
    val t = new LakehouseTable(spark, tmpDir("rst-renlive"))
    t.append(Seq((1L, "a")).toDF("id", "v").coalesce(1))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[String])]
    val q = spark.readStream.format("graft-lakehouse").load(t.root)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized {
          seen ++= df.collect().map(r => (r.getLong(0), Option(r.getString(1))))
        }
        ()
      }
      .option("checkpointLocation", tmpDir("rst-renlive-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      t.renameColumn("v", "label")
      t.append(Seq((2L, "b")).toDF("id", "label").coalesce(1))
      q.processAllAvailable()
      assert(seen.synchronized(seen.toSet) === Set((1L, Some("a")), (2L, Some("b"))),
        s"renamed column's values must deliver under the pinned name: " +
          seen.synchronized(seen.toList))
    } finally q.stop()

    // WIDEN: the pinned slot cannot carry the wide values (parquet
    // refuses a narrowing read) — the stream fails LOUDLY with the
    // restart message, and a restart re-pins and redelivers
    val t2 = new LakehouseTable(spark, tmpDir("rst-widlive"))
    t2.append(Seq((1, "a")).toDF("id", "v").coalesce(1))
    val seen2 = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    def sink2(df: org.apache.spark.sql.DataFrame): Unit =
      seen2.synchronized { seen2 ++= df.collect().map(r => (r.getLong(0), r.getString(1))) }
    val ckpt2 = tmpDir("rst-widlive-ckpt")
    val q2 = spark.readStream.format("graft-lakehouse").load(t2.root)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sink2(df.withColumn("id", col("id").cast("long"))); ()
      }
      .option("checkpointLocation", ckpt2)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      q2.processAllAvailable()
      t2.widenColumn("id", org.apache.spark.sql.types.LongType)
      t2.append(Seq((5000000000L, "big"), (7L, "ok")).toDF("id", "v").coalesce(1))
      val e = intercept[Exception] { q2.processAllAvailable() }
      def rc(x: Throwable): Throwable =
        if (x.getCause == null || x.getCause == x) x else rc(x.getCause)
      assert((e.getMessage + rc(e).getMessage).contains("restart the stream"),
        s"${e.getMessage} / ${rc(e).getMessage}")
    } finally q2.stop()
    val q3 = spark.readStream.format("graft-lakehouse").load(t2.root)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sink2(df.withColumn("id", col("id").cast("long"))); ()
      }
      .option("checkpointLocation", ckpt2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q3.awaitTermination(120000), "post-widen restart did not drain")
    assert(seen2.synchronized(seen2.toSet) ===
      Set((1L, "a"), (5000000000L, "big"), (7L, "ok")),
      s"restart must re-pin and redeliver the widened values: " +
        seen2.synchronized(seen2.toList))
  }

  test("skipChangeCommits: a batch spanning append then MoR-apply delivers the appended rows AS-COMMITTED") {
    // the round-11 ADVICE item: the per-batch scan pinned at range-end
    // let a later MoR tombstone retro-filter rows appended earlier in
    // the SAME batch — delivered content depended on trigger timing
    import spark.implicits._
    import graft.lakehouse.LakehouseTable
    val t = new LakehouseTable(spark, tmpDir("rst-retro"))
    t.append(Seq((1L, "a")).toDF("id", "v").coalesce(1))
    val sunk = scala.collection.mutable.Set.empty[(Long, String)]
    val ckpt = tmpDir("rst-retro-ckpt")
    def drain(): Unit = {
      val q = spark.readStream.option("skipChangeCommits", "true")
        .format("graft-lakehouse").load(t.root)
        .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r =>
            sunk.synchronized { sunk += ((r.getLong(0), r.getString(1))) })
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "drain did not finish")
    }
    drain() // bootstrap: offset = snapshot 1
    // while the stream is DOWN: an append, then a MoR delete of one of
    // the appended keys — the next trigger spans BOTH commits
    t.append(Seq((2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1))
    t.applyChanges(Seq((2L, "b", "delete")).toDF("id", "v", "_change"),
      Seq("id"), mergeOnRead = true)
    drain()
    // id=2 was COMMITTED by the append; the delete is a skipped change
    // commit — two separate triggers would deliver it, so one spanning
    // batch must too (as-committed, not retro-masked)
    assert(sunk.synchronized(sunk.toSet) === Set((1L, "a"), (2L, "b"), (3L, "c")),
      s"got: ${sunk.synchronized(sunk.toSet)}")
  }

  test("schema-history channel: upstream RENAME/WIDEN/ADD replicate with NO manual downstream DDL") {
    import spark.implicits._
    import graft.lakehouse.LakehouseTable
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val src = new LakehouseTable(spark, tmpDir("ddl-stream-src"))
    val dst = new LakehouseTable(spark, tmpDir("ddl-stream-dst"))
    src.applyChanges(Seq((1, "a", "insert"), (2, "b", "insert"))
      .toDF("k", "v", "_change"), Seq("k"))
    val ckpt = tmpDir("ddl-stream-ckpt")
    def stream() = spark.readStream.format("graft-changefeed")
      .option("path", src.root).option("emitSchemaChanges", "true").load()
      .writeStream.format("graft-lakehouse").option("path", dst.root)
      .option("keys", "k").option("checkpointLocation", ckpt)

    // phase 1 — LIVE stream, no restart: a rename lands mid-stream.
    // The feed's pinned schema still says 'v'; the diff's renamed
    // column maps back through the alias lineage, the DDL record rides
    // the same batch, and the sink renames the target BEFORE applying
    // the data — zero manual DDL, zero restarts.
    val q = stream().trigger(
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds")).start()
    try {
      q.processAllAvailable()
      assert(dst.read().columns.toSeq === Seq("k", "v"))
      src.renameColumn("v", "label")
      src.applyChanges(Seq((3, "c", "insert"), (1, "x", "delete"))
        .toDF("k", "label", "_change"), Seq("k"))
      q.processAllAvailable()
      assert(dst.read().columns.toSeq === Seq("k", "label"),
        "the rename must arrive downstream through the feed itself")
      assert(dst.read().select("k", "label").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet === Set((2, "b"), (3, "c")))
      // an ADD mid-stream is the one shape the pinned schema cannot
      // carry: the stream must FAIL LOUDLY (silently nulling the new
      // column's values downstream would be permanent divergence) …
      src.addColumns(Seq(StructField("tag", StringType)))
      src.applyChanges(Seq((4, "d", "T", "insert")).toDF("k", "label", "tag", "_change"),
        Seq("k"))
      val eAdd = intercept[Exception] { q.processAllAvailable() }
      def rc(x: Throwable): Throwable =
        if (x.getCause == null || x.getCause == x) x else rc(x.getCause)
      assert((eAdd.getMessage + rc(eAdd).getMessage).contains("restart the stream"),
        s"${eAdd.getMessage} / ${rc(eAdd).getMessage}")
    } finally q.stop()

    // phase 2 — DDL while the stream is DOWN: widen the key column; the
    // restarted stream (old checkpoint, offset NOT advanced past the
    // failed batch) re-pins the wide schema and REDELIVERS the add +
    // its data — tag='T' must arrive intact, not as the silent NULL the
    // failed batch would have produced
    src.widenColumn("k", LongType)
    val q2 = stream().trigger(
      org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q2.awaitTermination(120000), "restarted drain did not finish")
    val got = dst.read()
    assert(got.schema("k").dataType === LongType, "the widen must replicate")
    assert(got.columns.toSeq === Seq("k", "label", "tag"), "the add must replicate")
    assert(got.select("k", "label", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)).getOrElse("-"))).toSet
      === Set((2L, "b", "-"), (3L, "c", "-"), (4L, "d", "T")))
    // phase 3 — DROP COLUMN propagates LIVE (pinned schema still
    // carries 'tag'; the feed null-fills it, the record drops it
    // downstream), and a downstream compaction mid-stream must not let
    // the still-pinned column resurrect as an additive NULL column
    val q3 = stream().trigger(
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds")).start()
    try {
      q3.processAllAvailable()
      src.dropColumn("tag")
      src.applyChanges(Seq((5L, "e", "insert")).toDF("k", "label", "_change"), Seq("k"))
      q3.processAllAvailable()
      assert(dst.read().columns.toSeq === Seq("k", "label"),
        "the drop must arrive downstream through the feed itself")
      assert(dst.read().select("k", "label").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
        === Set((2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
      // downstream housekeeping clears dst's dropped registry …
      dst.compact(fileThreshold = 1, maxRows = Long.MaxValue)
      // … and the pinned stream still sends 'tag' (as NULL): the sink's
      // schema-authoritative mode must keep it out
      src.applyChanges(Seq((6L, "g", "insert")).toDF("k", "label", "_change"), Seq("k"))
      q3.processAllAvailable()
      assert(dst.read().columns.toSeq === Seq("k", "label"),
        "a compaction-cleared registry must not let the pinned stream " +
          "resurrect the dropped column")
      assert(dst.read().count() === 5L)
    } finally q3.stop()

    // replaying the whole feed from a FRESH checkpoint (bootstrap) into
    // a throwaway target still converges (DDL records replay absorbed)
    val dst2 = new LakehouseTable(spark, tmpDir("ddl-stream-dst2"))
    val qb = spark.readStream.format("graft-changefeed")
      .option("path", src.root).option("emitSchemaChanges", "true").load()
      .writeStream.format("graft-lakehouse").option("path", dst2.root)
      .option("keys", "k").option("checkpointLocation", tmpDir("ddl-stream-ckpt2"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(qb.awaitTermination(120000))
    assert(dst2.read().select("k", "label").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"), (6L, "g")))
  }

  test("a widened value that overflows the pinned width fails LOUDLY even with ANSI off") {
    // the conform() cast-back relies on ANSI overflow errors; a session
    // with ANSI off would silently WRAP the value into the feed — the
    // explicit round-trip guard must throw the same restart message
    import spark.implicits._
    import graft.lakehouse.LakehouseTable
    val t = new LakehouseTable(spark, tmpDir("ansi-ov"))
    t.append(Seq((1, "a")).toDF("k", "v").coalesce(1)) // k: INT
    val ckpt = tmpDir("ansi-ov-ckpt")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    val q = spark.readStream.format("graft-changefeed").option("path", t.root).load()
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect(); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      q.processAllAvailable() // bootstrap pins k: INT
      t.widenColumn("k", org.apache.spark.sql.types.LongType)
      // a round-trippable long still flows (no false positives) …
      t.append(Seq((2L, "ok")).toDF("k", "v").coalesce(1))
      q.processAllAvailable()
      // … an overflowing one fails the stream with the restart contract
      t.append(Seq((5000000000L, "big")).toDF("k", "v").coalesce(1))
      val e = intercept[Exception] { q.processAllAvailable() }
      def rc(x: Throwable): Throwable =
        if (x.getCause == null || x.getCause == x) x else rc(x.getCause)
      assert((e.getMessage + rc(e).getMessage).contains("overflows the stream's pinned"),
        s"${e.getMessage} / ${rc(e).getMessage}")
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("a source column named _change or _ddl refuses at stream start, not at runtime") {
    import spark.implicits._
    import graft.lakehouse.LakehouseTable
    val t = new LakehouseTable(spark, tmpDir("resv-col"))
    t.append(Seq((1L, "i")).toDF("k", "_change").coalesce(1))
    val e = intercept[Exception](spark.readStream
      .format("graft-changefeed").option("path", t.root).load())
    assert(e.getMessage.contains("reserves"), e.getMessage)
    val t2 = new LakehouseTable(spark, tmpDir("resv-col2"))
    t2.append(Seq((1L, "r")).toDF("k", "_ddl").coalesce(1))
    val e2 = intercept[Exception](spark.readStream
      .format("graft-changefeed").option("path", t2.root)
      .option("emitSchemaChanges", "true").load())
    assert(e2.getMessage.contains("reserves"), e2.getMessage)
    // without the channel, a user `_ddl` column is NOT reserved — the
    // plain feed carries it as data
    val ckpt = tmpDir("resv-ckpt")
    val rows = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-changefeed").option("path", t2.root).load()
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        rows.synchronized { rows += df.count() }; ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    assert(rows.sum === 1L)
  }

  test("replication across an upstream RENAME: apply the DDL on both ends, the checkpoint survives") {
    // the operational contract for CDC schema drift: a rename is a DDL
    // event the operator applies to BOTH tables (the feed carries data
    // rows, not DDL); the existing checkpoint keeps working because
    // (a) a metadata-only rename emits ZERO change rows, and (b) the
    // engine binds replaced streaming sources by POSITION, so the new
    // name flows through the restarted stream unchanged
    import spark.implicits._
    import graft.lakehouse.LakehouseTable
    val src = new LakehouseTable(spark, tmpDir("ren-stream-src"))
    val dst = new LakehouseTable(spark, tmpDir("ren-stream-dst"))
    src.applyChanges(Seq((1L, "a", "insert"), (2L, "b", "insert"))
      .toDF("k", "v", "_change"), Seq("k"))
    val ckpt = tmpDir("ren-stream-ckpt")
    def runOnce(keys: String): Unit = {
      val q = spark.readStream.format("graft-changefeed").option("path", src.root).load()
        .writeStream.format("graft-lakehouse").option("path", dst.root)
        .option("keys", keys).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "drain did not finish")
    }
    runOnce("k")
    assert(dst.read().columns.toSeq === Seq("k", "v"))

    // upstream DDL: rename on BOTH ends while the stream is down
    src.renameColumn("k", "id")
    dst.renameColumn("k", "id")
    // post-rename data flows under the new name from the OLD checkpoint
    src.applyChanges(Seq((3L, "c", "insert"), (1L, "a", "delete"))
      .toDF("id", "v", "_change"), Seq("id"))
    runOnce("id")
    assert(dst.read().columns.toSeq === Seq("id", "v"))
    assert(dst.read().select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === Set((2L, "b"), (3L, "c")))
  }
}

/** Serializable home for helpers captured by stateful-streaming
  * closures — a spec-class method would drag the non-serializable
  * suite into the task closure.
  */
object StreamingEquivalenceSpec extends Serializable {
  /** Event-time as integral microseconds (the comparison key every
    * stateful test sorts and compares on — one definition so a future
    * sub-millisecond handling change can't make two tests disagree).
    */
  private[streaming] def micros(ts: java.sql.Timestamp): Long =
    (ts.getTime / 1000) * 1000000L + ts.getNanos / 1000
}
