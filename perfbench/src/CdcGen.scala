package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

import graft.cdc.PgOutputDecoder

/** Column kinds of the captured source tables (pg text → typed JSON). */
sealed trait Kind
case object LongK extends Kind
case object DoubleK extends Kind
case object StringK extends Kind

/** Order-insensitive content hash shared by the generator (expected
  * side) and the harness (table side): the wrapping 64-bit sum of a
  * per-row hash of the row's canonical text. Doubles print through
  * `java.lang.Double.toString` on both sides, which round-trips the
  * two-decimal values the generator emits exactly.
  */
object Canon {
  def cell(v: Any): String = v match {
    case null                       => "∅"
    case d: Double                  => java.lang.Double.toString(d)
    case f: Float                   => java.lang.Float.toString(f)
    case b: Array[Byte]             => b.map(x => f"$x%02x").mkString
    case r: org.apache.spark.sql.Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: collection.Map[_, _]    =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: collection.Seq[_]       => s.map(cell).mkString("[", ",", "]")
    case o                          => o.toString
  }

  def text(row: Seq[Any]): String = row.map(cell).mkString("\u0001")

  def hash(row: Seq[Any]): Long = {
    val s = text(row)
    val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }
}

/** One captured row change. `row` is null for a delete. */
final case class Change(op: Char, key: Long, row: Array[Any])

/** A deterministic change stream over one source table. */
sealed abstract class ChangeStream {
  def table: String
  def columns: IndexedSeq[(String, Kind)]
  def keyColumn: String = columns.head._1
  def next(): Change
  /** Expected (row count, content hash) of the sink table once every
    * change handed out so far has been applied.
    */
  def expected: (Long, Long)
}

/** Insert-only event stream shaped like the `events` fixture table. */
final class AppendStream(seed: Long) extends ChangeStream {
  val table = "events"
  val columns = IndexedSeq("event_id" -> LongK, "ts" -> StringK, "user_id" -> LongK,
    "event_type" -> StringK, "value" -> DoubleK, "props" -> StringK)
  private val rng = new SplittableRandom(seed)
  private val types = Array("click", "error", "purchase", "signup", "view")
  private val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  private var i = 0L
  private var count = 0L
  private var sum = 0L

  def next(): Change = {
    val row = Array[Any](i,
      java.time.Instant.ofEpochMilli(t0 + i * 25920L + rng.nextInt(25920)).toString,
      rng.nextInt(1500).toLong, types(rng.nextInt(types.length)),
      math.round(1 + rng.nextDouble() * 48999) / 100.0,
      s"""{"k": ${rng.nextInt(100)}}""")
    count += 1
    sum += Canon.hash(row.toSeq)
    i += 1
    Change('c', row(0).asInstanceOf[Long], row)
  }

  def expected: (Long, Long) = (count, sum)
}

/** Keyed u/c/d stream over an `orders`-shaped table of `seedRows` rows
  * (keys 0 until seedRows), about 70 % updates on Zipf-skewed keys,
  * 20 % inserts of new keys and 10 % deletes of live keys. An update
  * drawn for a key that is no longer live re-inserts it (op `c`).
  * Carries the latest-wins model of the table it produces.
  */
final class KeyedStream(seed: Long, seedRows: Int, zipfS: Double = 1.1) extends ChangeStream {
  val table = "orders"
  val columns = IndexedSeq("o_orderkey" -> LongK, "o_custkey" -> LongK,
    "o_orderstatus" -> StringK, "o_totalprice" -> DoubleK,
    "o_orderdate" -> StringK, "o_orderpriority" -> StringK)
  private val rng = new SplittableRandom(seed ^ 0x2545f4914f6cdd1dL)
  val model = new LatestWinsModel(KeyedStream.seedTable(seed, seedRows))
  private var nextNew = seedRows.toLong
  // Zipf CDF over ranks 1..seedRows; rank r maps to key (r-1)*7919 mod
  // seedRows (7919 is prime and coprime with the sizes used), so hot
  // keys spread over the key range instead of sitting in one file
  private val cdf: Array[Double] = {
    val w = Array.tabulate(seedRows)(r => 1.0 / math.pow(r + 1.0, zipfS))
    var acc = 0.0
    val total = w.sum
    w.map { x => acc += x / total; acc }
  }
  private def zipfKey(): Long = {
    val u = rng.nextDouble()
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    (math.min(i, seedRows - 1).toLong * 7919L) % seedRows
  }
  def next(): Change = {
    val r = rng.nextDouble()
    val ch =
      if (r < 0.9 || model.size == 0) {
        val k = if (r < 0.7) zipfKey() else { nextNew += 1; nextNew - 1 }
        Change(if (model.contains(k)) 'u' else 'c', k, KeyedStream.row(rng, k))
      } else Change('d', model.randomLiveKey(rng), null)
    model.apply(ch)
    ch
  }

  def expected: (Long, Long) = (model.size.toLong, model.contentHash)
}

object KeyedStream {
  /** The most frequently updated key (Zipf rank 1). */
  val HotKey = 0L
  private val statuses = Array("F", "O", "P")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def row(rng: SplittableRandom, key: Long): Array[Any] = Array[Any](key,
    rng.nextInt(15000).toLong, statuses(rng.nextInt(3)),
    math.round(100000 + rng.nextDouble() * 49900000) / 100.0,
    java.time.LocalDate.ofEpochDay(9131 + rng.nextInt(2404)).toString,
    priorities(rng.nextInt(5)))

  /** The seed rows (the set-up table), one independent draw per key. */
  def seedRow(seed: Long, key: Long): Array[Any] =
    row(new SplittableRandom(seed * 0x9e3779b97f4a7c15L + key), key)

  def seedTable(seed: Long, n: Int): Iterator[Array[Any]] =
    Iterator.range(0, n).map(k => seedRow(seed, k.toLong))
}

/** In-memory latest-wins model of a keyed table: inserts and updates
  * replace the key's row, deletes remove it. Applying a stream in order
  * gives the table a CDC sink must hold after consuming it.
  */
final class LatestWinsModel(initial: Iterator[Array[Any]]) {
  private val rows = mutable.LongMap.empty[Array[Any]]
  // dense live-key array with swap-remove, for uniform delete victims
  private val live = mutable.ArrayBuffer.empty[Long]
  private val slot = mutable.LongMap.empty[Int]
  initial.foreach(r => put(r(0).asInstanceOf[Long], r))

  private def put(k: Long, r: Array[Any]): Unit = {
    if (!rows.contains(k)) { slot(k) = live.size; live += k }
    rows(k) = r
  }

  def apply(ch: Change): Unit = ch.op match {
    case 'd' =>
      if (rows.remove(ch.key).isDefined) {
        val i = slot.remove(ch.key).get
        val last = live.remove(live.size - 1)
        if (i < live.size) { live(i) = last; slot(last) = i }
      }
    case _ => put(ch.key, ch.row)
  }

  def size: Int = rows.size
  def contains(k: Long): Boolean = rows.contains(k)
  def get(k: Long): Option[Array[Any]] = rows.get(k)
  def randomLiveKey(rng: SplittableRandom): Long = live(rng.nextInt(live.size))
  def contentHash: Long = rows.valuesIterator.map(r => Canon.hash(r.toSeq)).sum
}

/** pgoutput wire encoding (the WAL producer side) and the WAL-reader
  * stage: decode with [[PgOutputDecoder]] and render the change
  * envelope JSON line the engine consumes.
  */
final class WalStage(stream: ChangeStream, partitions: Int) {
  private val relId = 16384
  private val decoder = new PgOutputDecoder
  private val offsets = new Array[Long](partitions)
  private val kinds = stream.columns.toMap
  val topic = s"cdc.public.${stream.table}"
  var decodedMsgs = 0L
  var decodeNanos = 0L
  /** Wall-clock interval (ms) of the last render's decode calls. */
  var lastDecode: (Double, Double) = (0.0, 0.0)

  private def u16(b: ByteBuffer, v: Int) = b.putShort(v.toShort)
  private def cstr(b: ByteBuffer, s: String) = { b.put(s.getBytes(UTF_8)); b.put(0.toByte) }

  locally {
    val b = ByteBuffer.allocate(4096)
    b.put('B'.toByte).putLong(1L).putLong(0L).putInt(1)
    decoder.decode(java.util.Arrays.copyOf(b.array(), b.position()))
    b.clear()
    b.put('R'.toByte).putInt(relId)
    cstr(b, "public"); cstr(b, stream.table)
    b.put('d'.toByte); u16(b, stream.columns.size)
    stream.columns.foreach { case (c, _) =>
      b.put(0.toByte); cstr(b, c); b.putInt(25); b.putInt(-1)
    }
    decoder.decode(java.util.Arrays.copyOf(b.array(), b.position()))
  }

  private def tuple(b: ByteBuffer, vals: Seq[Any]): Unit = {
    u16(b, vals.size)
    vals.foreach {
      case null => b.put('n'.toByte)
      case v =>
        val t = (v match { case d: Double => java.lang.Double.toString(d); case o => o.toString })
          .getBytes(UTF_8)
        b.put('t'.toByte).putInt(t.length).put(t)
    }
  }

  /** The pgoutput message for one change. */
  def encode(ch: Change): Array[Byte] = {
    val b = ByteBuffer.allocate(1024)
    ch.op match {
      case 'c' => b.put('I'.toByte).putInt(relId).put('N'.toByte); tuple(b, ch.row.toSeq)
      case 'u' => b.put('U'.toByte).putInt(relId).put('N'.toByte); tuple(b, ch.row.toSeq)
      case 'd' => b.put('D'.toByte).putInt(relId).put('K'.toByte); tuple(b, Seq(ch.key))
    }
    java.util.Arrays.copyOf(b.array(), b.position())
  }

  private def jstr(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"')
  }

  private def typedJson(m: Map[String, Option[String]]): String = {
    val sb = new StringBuilder("{")
    var first = true
    stream.columns.foreach { case (c, k) =>
      m.get(c).foreach { v =>
        if (!first) sb.append(',')
        first = false
        jstr(sb, c); sb.append(':')
        v match {
          case None => sb.append("null")
          case Some(t) => if (k == StringK) jstr(sb, t) else sb.append(t)
        }
      }
    }
    sb.append('}').toString
  }

  /** Decode the messages (timed) and append one envelope line each. */
  def render(changes: Seq[Change], msgs: Seq[Array[Byte]], tsMs: Long, out: StringBuilder): Unit = {
    val start = Clock.ms
    val t0 = System.nanoTime()
    val decoded = msgs.map(m => decoder.decode(m).head)
    decodeNanos += System.nanoTime() - t0
    lastDecode = (start, Clock.ms)
    decodedMsgs += msgs.size
    changes.iterator.zip(decoded.iterator).foreach { case (ch, wc) =>
      val p = java.lang.Math.floorMod(ch.key, partitions.toLong).toInt
      val op = wc.operation match { case "insert" => "c"; case "update" => "u"; case _ => "d" }
      out.append("{\"topic\":\"").append(topic).append("\",\"partition\":").append(p)
        .append(",\"offset\":").append(offsets(p)).append(",\"op\":\"").append(op)
        .append("\",\"ts_ms\":").append(tsMs).append(",\"key\":")
      jstr(out, s"""{"${stream.keyColumn}":${ch.key}}""")
      out.append(",\"before\":")
      wc.before.fold(out.append("null"))(b => { jstr(out, typedJson(b)); out })
      out.append(",\"after\":")
      wc.after.fold(out.append("null"))(a => { jstr(out, typedJson(a)); out })
      out.append("}\n")
      offsets(p) += 1
    }
  }

  /** Next `n` changes of the stream as envelope lines. */
  def lines(n: Int, tsMs: Long): String = {
    val chs = Seq.fill(n)(stream.next())
    val sb = new StringBuilder
    render(chs, chs.map(encode), tsMs, sb)
    sb.toString
  }
}

/** The load generator: a separate single-threaded process that
  * publishes change files into the engine's source directory by atomic
  * rename, first a backlog, then (after `GO <epochMs>` on stdin) an
  * open loop of one file per tick whatever the engine is doing.
  *
  * Every event of file `t` of the open loop is due at `go + t * tick`;
  * the log records each file's due and publish times. Writes `gen.json`
  * to the output directory and prints `READY` / `DONE` on stdout.
  */
object CdcGen {
  def stream(workload: String, seed: Long, seedRows: Int): ChangeStream = workload match {
    case "cdc_append" => new AppendStream(seed)
    case "cdc_keyed"  => new KeyedStream(seed, seedRows)
    case w            => throw new IllegalArgumentException(s"no change stream for $w")
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val backlog = a("backlog").toInt
    val backlogFileEvents = a("backlog-file-events").toInt
    val perFile = a("events-per-file").toInt
    val tickMs = a("tick-ms").toLong
    val files = a("files").toInt
    val src = Paths.get(a("src"))
    val stage = Paths.get(a("stage"))
    val out = Paths.get(a("out"))
    val st = stream(workload, seed, a("seed-rows").toInt)
    val wal = new WalStage(st, a("partitions").toInt)

    var lastMtime = 0L
    var bytes = 0L
    var fileNo = 0
    def publish(body: String): Double = {
      val name = f"f$fileNo%08d.json"
      fileNo += 1
      val tmp = stage.resolve(name)
      Files.writeString(tmp, body)
      // strictly increasing mtimes: the file source orders new files by
      // mtime, and a tie could let a later file overtake an earlier one
      lastMtime = math.max(System.currentTimeMillis(), lastMtime + 1)
      tmp.toFile.setLastModified(lastMtime)
      Files.move(tmp, src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      bytes += body.length
      Clock.ms
    }

    var left = backlog
    while (left > 0) {
      val n = math.min(left, backlogFileEvents)
      publish(wal.lines(n, System.currentTimeMillis()))
      left -= n
    }
    val backlogDecode = (wal.decodedMsgs, wal.decodeNanos)
    println("READY")
    System.out.flush()
    val in = new BufferedReader(new InputStreamReader(System.in))
    val go = in.readLine().stripPrefix("GO ").trim.toLong

    // per open-loop file: due, published, work start, decode start, decode end
    val log = mutable.ArrayBuffer.empty[Seq[Double]]
    var t = 0
    while (t < files) {
      val due = go + t * tickMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val start = Clock.ms
      val published = publish(wal.lines(perFile, due))
      log += Seq(due.toDouble, published, start, wal.lastDecode._1, wal.lastDecode._2)
      t += 1
    }
    val (count, hash) = st.expected
    val json =
      s"""{"go_ms":$go,"tick_ms":$tickMs,"events_per_file":$perFile,""" +
      s""""backlog_events":$backlog,"backlog_file_events":$backlogFileEvents,"backlog_files":${(backlog + backlogFileEvents - 1) / backlogFileEvents},""" +
      s""""open_files":${log.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")},""" +
      s""""decode_msgs":${wal.decodedMsgs - backlogDecode._1},"decode_ns":${wal.decodeNanos - backlogDecode._2},""" +
      s""""backlog_decode_msgs":${backlogDecode._1},"backlog_decode_ns":${backlogDecode._2},""" +
      s""""bytes_published":$bytes,"expect_count":$count,"expect_hash":$hash}"""
    Files.writeString(out.resolve("gen.json"), json)
    println("DONE")
    System.out.flush()
  }
}
