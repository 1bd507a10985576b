package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.lakehouse.LakehouseTable

/** End-to-end micro-batch pipeline semantics: fan-out, DLQ isolation,
  * flushed-offsets-not-advanced-on-failure, min-watermark commit
  * (reference contracts: `pipeline/runner.py:210-250,355-383`,
  * `test_iceberg_sink.py:373-395`, `test_consumer.py:122-136`).
  */
class ChangePipelineSpec extends SparkSpec {

  private val payloadSchema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  private def writeEnvelopes(dir: String, lines: Seq[String], file: String = "b0.json"): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, file), lines.mkString("\n"))
  }

  private def env(op: String, offset: Long, id: Long, name: String,
      topic: String = "cdc.public.users", partition: Int = 0): String = {
    val after = if (op == "d") "null" else s"""\"{\\\"id\\\":$id,\\\"name\\\":\\\"$name\\\"}\""""
    s"""{"topic":"$topic","partition":$partition,"offset":$offset,"op":"$op","ts_ms":1000,"key":"{\\\"id\\\":$id}","before":null,"after":$after}"""
  }

  private class FailingSink(val sinkId: String) extends Sink {
    override def write(batch: DataFrame, batchId: Long): Unit =
      throw new RuntimeException("sink down")
  }

  test("happy path: events land in the lakehouse sink with _cdc_* metadata; watermark commits") {
    val src = tmpDir("cp-src")
    writeEnvelopes(src, Seq(env("c", 0, 1, "alice"), env("c", 1, 2, "bob")))

    val table = new LakehouseTable(spark, tmpDir("cp-table"))
    var committed = Map.empty[(String, Int), Long]
    val pipe = new ChangePipeline(spark, src,
      Seq(new LakehouseSink("lh1", table, payloadSchema)),
      new DlqWriter(new LakehouseTable(spark, tmpDir("cp-dlq"))),
      tmpDir("cp-ckpt"), onCommit = committed = _)

    pipe.start().awaitTermination(60000)

    val rows = table.read().collect()
    assert(rows.length === 2)
    val cols = table.read().columns.toSet
    assert(Set("id", "name", "_cdc_topic", "_cdc_partition", "_cdc_offset").subsetOf(cols))
    // committed = max offset + 1 (next-to-fetch)
    assert(committed === Map(("cdc.public.users", 0) -> 2L))
  }

  test("failed sink routes batch to DLQ with diagnostics; healthy sink unaffected; commit suppressed") {
    val src = tmpDir("cp2-src")
    writeEnvelopes(src, Seq(env("c", 0, 1, "alice")))

    val table = new LakehouseTable(spark, tmpDir("cp2-table"))
    val dlqTable = new LakehouseTable(spark, tmpDir("cp2-dlq"))
    var committed: Option[Map[(String, Int), Long]] = None
    val pipe = new ChangePipeline(spark, src,
      Seq(new LakehouseSink("lh1", table, payloadSchema), new FailingSink("bad")),
      new DlqWriter(dlqTable), tmpDir("cp2-ckpt"),
      onCommit = m => committed = Some(m))

    pipe.start().awaitTermination(60000)

    assert(table.read().count() === 1) // healthy sink delivered
    val dlq = dlqTable.read().collect()
    assert(dlq.length === 1) // failed batch captured
    val d = dlqTable.read()
    val row = d.select("dlq_sink_id", "dlq_error_message", "dlq_error_type",
      "dlq_source_topic", "dlq_source_offset").collect().head
    assert(row.getString(0) === "bad")
    assert(row.getString(1) === "sink down")
    assert(row.getString(2) === "java.lang.RuntimeException")
    assert(row.getString(3) === "cdc.public.users")
    assert(row.getLong(4) === 0L)
    // min-watermark: failing sink never flushed → nothing committable
    assert(committed === None)
  }

  test("upsert sink: replay absorbs duplicates, deletes drop keys (exactly-once effect)") {
    val src = tmpDir("cp3-src")
    writeEnvelopes(src, Seq(
      env("c", 0, 1, "alice"), env("c", 1, 2, "bob"), env("u", 2, 1, "alice2")))

    val table = new LakehouseTable(spark, tmpDir("cp3-table"))
    val mkPipe = () => new ChangePipeline(spark, src,
      Seq(new LakehouseSink("lh1", table, payloadSchema, upsertKeys = Seq("id"))),
      new DlqWriter(new LakehouseTable(spark, tmpDir("cp3-dlq"))), tmpDir("cp3-ckpt"))

    mkPipe().start().awaitTermination(60000)
    import spark.implicits._
    val state1 = table.read().select("id", "name").as[(Long, String)].collect().toSet
    assert(state1 === Set((1L, "alice2"), (2L, "bob")))

    // replay the same batch through a FRESH checkpoint (simulated redelivery)
    val pipe2 = new ChangePipeline(spark, src,
      Seq(new LakehouseSink("lh1", table, payloadSchema, upsertKeys = Seq("id"))),
      new DlqWriter(new LakehouseTable(spark, tmpDir("cp3-dlq2"))), tmpDir("cp3-ckpt2"))
    pipe2.start().awaitTermination(60000)
    assert(table.read().select("id", "name").as[(Long, String)].collect().toSet === state1)

    // a delete tombstone removes the key
    writeEnvelopes(src, Seq(env("d", 3, 2, "bob")), file = "b1.json")
    val pipe3 = new ChangePipeline(spark, src,
      Seq(new LakehouseSink("lh1", table, payloadSchema, upsertKeys = Seq("id"))),
      new DlqWriter(new LakehouseTable(spark, tmpDir("cp3-dlq3"))), tmpDir("cp3-ckpt3"))
    pipe3.start().awaitTermination(60000)
    assert(table.read().select("id", "name").as[(Long, String)].collect().toSet ===
      Set((1L, "alice2")))
  }

  test("keyed sink: a c/u/d micro-batch commits ONE snapshot and keeps untouched files by reference") {
    val src = tmpDir("cp7-src")
    val table = new LakehouseTable(spark, tmpDir("cp7-table"))
    val sink = new LakehouseSink("lh1", table, payloadSchema, upsertKeys = Seq("id"))
    def batch(file: String, lines: String*): DataFrame = {
      writeEnvelopes(src, lines, file)
      spark.read.schema(ChangeEnvelope.schema).json(Paths.get(src, file).toString)
    }
    sink.write(batch("b0.json", env("c", 0, 1, "alice"), env("c", 1, 2, "bob")), 0)
    val coldFiles = table.currentSnapshot().get.files // keys 1 and 2 only
    sink.write(batch("b1.json", env("c", 2, 3, "carol"), env("c", 3, 4, "dave")), 1)
    val before = table.listSnapshots().size
    sink.write(batch("b2.json",
      env("c", 4, 5, "erin"), env("u", 5, 3, "carol2"), env("d", 6, 4, "dave")), 2)
    assert(table.listSnapshots().size === before + 1,
      "the batch's upserts and deletes must land as ONE snapshot")
    val head = table.currentSnapshot().get
    assert(coldFiles.nonEmpty && coldFiles.forall(head.files.contains),
      s"files holding no touched key must stay by reference: $coldFiles vs ${head.files}")
    import spark.implicits._
    assert(table.read().select("id", "name").as[(Long, String)].collect().toSet ===
      Set((1L, "alice"), (2L, "bob"), (3L, "carol2"), (5L, "erin")))
  }

  test("restart from checkpoint resumes without reprocessing (T9 recovery)") {
    val src = tmpDir("cp5-src")
    val ckpt = tmpDir("cp5-ckpt")
    val table = new LakehouseTable(spark, tmpDir("cp5-table"))
    val mk = () => new ChangePipeline(spark, src,
      Seq(new LakehouseSink("lh", table, payloadSchema)),
      new DlqWriter(new LakehouseTable(spark, tmpDir("cp5-dlq"))), ckpt)

    writeEnvelopes(src, Seq(env("c", 0, 1, "a")), file = "b0.json")
    mk().start().awaitTermination(60000)
    assert(table.read().count() === 1)

    // second run, SAME checkpoint: only the new file is processed — the
    // append sink would duplicate rows if batch 0 were replayed
    writeEnvelopes(src, Seq(env("c", 1, 2, "b")), file = "b1.json")
    mk().start().awaitTermination(60000)
    assert(table.read().count() === 2)
    import spark.implicits._
    assert(table.read().select("id").as[Long].collect().toSet === Set(1L, 2L))
  }

  test("backpressure: maxFilesPerTrigger bounds micro-batch admission (T1)") {
    val src = tmpDir("cp6-src")
    // 4 files, 1 event each; admission capped at 1 file per trigger
    (0 until 4).foreach(i =>
      writeEnvelopes(src, Seq(env("c", i, i, s"u$i")), file = s"b$i.json"))
    val mon = new PipelineMonitor().register(spark)
    try {
      val table = new LakehouseTable(spark, tmpDir("cp6-table"))
      val q = ChangeEnvelope.readStream(spark, src, maxFilesPerTrigger = 1)
        .writeStream.queryName("cp6-bp")
        .option("checkpointLocation", tmpDir("cp6-ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          // bounded admission: a batch never carries more than 1 file's rows
          assert(batch.count() <= 1, "backpressure bound violated")
          new LakehouseSink("lh", table, payloadSchema).write(batch, 0)
        }.start()
      q.awaitTermination(60000)
      assert(table.read().count() === 4) // nothing lost, only throttled
    } finally mon.unregister(spark)
  }

  test("dlq topics are excluded from consumption") {
    val src = tmpDir("cp4-src")
    writeEnvelopes(src, Seq(
      env("c", 0, 1, "x"),
      env("c", 0, 9, "dead", topic = "cdc.public.users.dlq")))
    val table = new LakehouseTable(spark, tmpDir("cp4-table"))
    val pipe = new ChangePipeline(spark, src,
      Seq(new LakehouseSink("lh1", table, payloadSchema)),
      new DlqWriter(new LakehouseTable(spark, tmpDir("cp4-dlq"))), tmpDir("cp4-ckpt"))
    pipe.start().awaitTermination(60000)
    assert(table.read().count() === 1)
  }
}
