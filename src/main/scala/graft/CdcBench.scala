package graft

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.cdc.PgOutputDecoder
import graft.lakehouse.LakehouseTable
import graft.streaming._

/** CDC-path throughput benchmarks mirroring the reference's baseline
  * metrics (BASELINE.md): pgoutput decode msg/s (pure INSERT, mixed,
  * wide-table — `tests/benchmark/test_wal_decoder_throughput.py`
  * thresholds 50K/30K/5K msg/s) and end-to-end pipeline msg/s through
  * the streaming source → sink path (`docs/benchmark-results.md:64-77`,
  * 38,647 msg/s high-throughput).
  */
object CdcBench {

  // ---- binary message builders (same wire format as the decoder spec) ----
  private[graft] def u16(v: Int) = ByteBuffer.allocate(2).putShort(v.toShort).array()
  private[graft] def u32(v: Long) = ByteBuffer.allocate(4).putInt(v.toInt).array()
  private[graft] def i64(v: Long) = ByteBuffer.allocate(8).putLong(v).array()

  private[graft] def relation(relId: Long, table: String, cols: Seq[String]): Array[Byte] = {
    var d = "R".getBytes ++ u32(relId) ++
      "public".getBytes(StandardCharsets.UTF_8) ++ Array[Byte](0) ++
      table.getBytes(StandardCharsets.UTF_8) ++ Array[Byte](0) ++
      Array[Byte](0) ++ u16(cols.size)
    cols.foreach { c =>
      d = d ++ Array[Byte](0) ++ c.getBytes(StandardCharsets.UTF_8) ++
        Array[Byte](0) ++ u32(23) ++ u32(0)
    }
    d
  }

  private[graft] def tuple(values: Seq[String]): Array[Byte] = {
    var d = u16(values.size)
    values.foreach { v =>
      val b = v.getBytes(StandardCharsets.UTF_8)
      d = d ++ "t".getBytes ++ u32(b.length) ++ b
    }
    d
  }

  private[graft] def insert(relId: Long, values: Seq[String]): Array[Byte] =
    "I".getBytes ++ u32(relId) ++ "N".getBytes ++ tuple(values)
  private[graft] def update(relId: Long, values: Seq[String]): Array[Byte] =
    "U".getBytes ++ u32(relId) ++ "N".getBytes ++ tuple(values)
  private[graft] def delete(relId: Long, values: Seq[String]): Array[Byte] =
    "D".getBytes ++ u32(relId) ++ "K".getBytes ++ tuple(values)

  /** Single-thread decode throughput over n pre-built messages: one
    * JIT warmup pass, then best of 3 timed passes (steady-state rate —
    * robust against GC pauses from the surrounding Spark session).
    */
  private[graft] def decodeRate(messages: Array[Array[Byte]], prelude: Seq[Array[Byte]]): Double = {
    def onePass(): Double = {
      val d = new PgOutputDecoder
      prelude.foreach(d.decode)
      var count = 0L
      val t0 = System.nanoTime()
      var i = 0
      while (i < messages.length) {
        count += d.decode(messages(i)).size
        i += 1
      }
      count / ((System.nanoTime() - t0) / 1e9)
    }
    onePass() // warmup (JIT)
    (1 to 3).map(_ => onePass()).max
  }

  def walDecodeBenches(): Map[String, Double] = {
    val begin = "B".getBytes ++ i64(1) ++ i64(0) ++ u32(1)
    val rel2 = relation(1, "users", Seq("id", "name"))
    val relWide = relation(2, "wide", (0 until 100).map(i => s"c$i"))

    val n = 200000
    val pure = Array.tabulate(n)(i => insert(1, Seq(i.toString, s"name_$i")))
    val mixed = Array.tabulate(n) { i =>
      (i % 3: @annotation.switch) match {
        case 0 => insert(1, Seq(i.toString, s"name_$i"))
        case 1 => update(1, Seq(i.toString, s"upd_$i"))
        case 2 => delete(1, Seq(i.toString, s"name_$i"))
      }
    }
    val wideVals = (0 until 100).map(c => s"value_$c")
    val wide = Array.tabulate(20000)(_ => insert(2, wideVals))

    Map(
      "wal_decode_insert_msgs_per_sec" -> decodeRate(pure, Seq(begin, rel2)),
      "wal_decode_mixed_msgs_per_sec" -> decodeRate(mixed, Seq(begin, rel2)),
      "wal_decode_wide100_msgs_per_sec" -> decodeRate(wide, Seq(begin, relWide)))
  }

  /** End-to-end: n envelope events across `partitions` topic-partitions
    * through the streaming pipeline into a lakehouse append sink.
    * One timed pass; `GRAFT_CDC_DEBUG=1` prints phase timings to stderr.
    */
  def e2eRate(spark: SparkSession, n: Int, partitions: Int): Double = {
    val tempRoots = Seq.newBuilder[java.nio.file.Path]
    def tempDir(prefix: String): String = {
      val p = Files.createTempDirectory(prefix)
      tempRoots += p
      p.toString
    }
    try e2eRateStaged(spark, n, partitions, tempDir)
    // cleanup must survive a failed run too (a require/stream error
    // would otherwise strand exactly the artifacts this exists to
    // bound, and Bench.main swallows the exception and keeps going)
    finally tempRoots.result().foreach(Fs.deleteRecursively)
  }

  private def e2eRateStaged(spark: SparkSession, n: Int, partitions: Int,
      tempDir: String => String): Double = {
    val src = tempDir("cdcbench-src")
    // one file per partition, mirroring per-partition consumption
    (0 until partitions).foreach { p =>
      val sb = new StringBuilder
      var off = 0
      (0 until n / partitions).foreach { i =>
        val id = p * (n / partitions) + i
        sb.append(s"""{"topic":"cdc.public.users","partition":$p,"offset":$off,"op":"c","ts_ms":$id,"key":"{\\"id\\":$id}","before":null,"after":"{\\"id\\":$id,\\"name\\":\\"user_$id\\",\\"v\\":$i}"}""")
          .append('\n')
        off += 1
      }
      Files.writeString(Paths.get(src, s"p$p.json"), sb.toString)
    }
    val payload = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("v", LongType)))
    val table = new LakehouseTable(spark, tempDir("cdcbench-t"))
    var tFirstBatch = 0L
    var tBatchWork = 0L
    val pipe = new ChangePipeline(spark, src,
      Seq(new LakehouseSink("lh", table, payload)),
      new DlqWriter(new LakehouseTable(spark, tempDir("cdcbench-d"))),
      tempDir("cdcbench-c"))
    val t0 = System.nanoTime()
    val q = ChangeEnvelope.readStream(spark, src)
      .writeStream
      .option("checkpointLocation", tempDir("cdcbench-c2"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (tFirstBatch == 0L) tFirstBatch = System.nanoTime()
        val tb = System.nanoTime()
        pipe.processBatch(batch, batchId)
        tBatchWork += System.nanoTime() - tb
      }
      .start()
    // stop a timed-out query explicitly — the finally above deletes the
    // source/checkpoint dirs, which must never happen under a live
    // StreamExecution
    if (!q.awaitTermination(600000)) q.stop()
    val sec = (System.nanoTime() - t0) / 1e9
    if (sys.env.contains("GRAFT_CDC_DEBUG"))
      System.err.println(
        f"[e2e] n=$n total=$sec%.2fs first-batch-at=${(tFirstBatch - t0) / 1e9}%.2fs " +
          f"batch-work=${tBatchWork / 1e9}%.2fs")
    val delivered = table.read().count()
    require(delivered == n, s"delivered $delivered of $n")
    n / sec
  }

  /** All k e2e runs, so consumers can report the methodology (run
    * count, spread) next to the headline instead of a bare max that
    * silently changes semantics vs a single-run number.
    */
  final case class E2eRuns(rates: Seq[Double], loads: Seq[Double] = Nil) {
    def best: Double = rates.max
    def median: Double = rates.sorted.apply(rates.size / 2)
  }

  /** CI floor for the e2e headline: 2× the reference's best
    * high-throughput profile (38,647 msg/s — BASELINE.md). The number
    * has swung 69–120 K across driver boxes purely on host load, so a
    * structural regression can hide inside variance; this floor,
    * gated on a QUIET box, fails the round loudly instead.
    */
  val FloorMsgsPerSec: Double = 77000.0

  /** The floor verdict, pure for spec coverage ([[BenchGateSpec]]
    * style): None = no verdict (the box was loud — load, not
    * structure, owns the number; -1 = unreadable loadavg counts as
    * quiet, never blind a box into silence), Some(ok) on a quiet box.
    */
  def floorVerdict(best: Double, loadavg: Double,
      quietThreshold: Double = 3.0,
      floor: Double = FloorMsgsPerSec): Option[Boolean] =
    if (loadavg > quietThreshold) None else Some(best >= floor)

  def e2eRuns(spark: SparkSession, n: Int, partitions: Int, k: Int = 3): E2eRuns = {
    // untimed warmup at n/10 (same treatment the decode bench gets):
    // the first streaming query of a session pays stream-machinery +
    // codegen setup that isn't steady-state — without this it lands in
    // run 1 and drags the reported MEDIAN, not just the min. Rounded UP
    // to a multiple of `partitions`: e2eRate writes
    // partitions*(n/partitions) events and requires delivered == n, so
    // a non-divisible warmup count would crash the bench.
    val warm0 = math.max(n / 10, 1000)
    e2eRate(spark, ((warm0 + partitions - 1) / partitions) * partitions, partitions)
    // loadavg sampled AFTER each run rides the artifact beside the
    // rates (the calibration-block treatment): a cross-round delta can
    // then be attributed to load vs structure without a re-run
    val runs = (1 to k).map { _ =>
      val r = e2eRate(spark, n, partitions)
      (r, java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage)
    }
    E2eRuns(runs.map(_._1), runs.map(_._2))
  }

  /** Best-of-k e2e rate (same robustness treatment as the decode bench:
    * the box has multi-second GC/page-cache noise; steady-state rate is
    * what the reference's profile reports too).
    */
  def e2eRateBest(spark: SparkSession, n: Int, partitions: Int, k: Int = 3): Double =
    e2eRuns(spark, n, partitions, k).best

  /** Standalone CDC-only bench entry (profiling aid — the full driver
    * bench is `graft.Bench`).
    */
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session("graft-cdc-bench")
    val rate = e2eRateBest(spark, n = 100000, partitions = 8)
    println(f"cdc_e2e_msgs_per_sec=$rate%.1f")
    spark.stop()
  }
}
