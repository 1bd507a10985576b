package graft.lakehouse

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** Model-based differential check of every lakehouse read path.
  *
  * A seeded ScalaCheck generator produces operation sequences over a
  * small keyed table (flat and hive-partitioned appends, copy-on-write
  * upserts, merge-on-read `applyChanges` keyed on a LONG and on a
  * BINARY column, `deleteWhere`, add/rename/drop/widen column, compact
  * and `foldTombstones`). Each operation also runs against an
  * in-memory model — a multiset of rows per snapshot, with columns
  * tracked by identity so renames and drops project the way the
  * engine's identity resolution does. After every step the spec reads
  * the table back through:
  *
  *  - `read()` (the engine-internal read);
  *  - `spark.read.format("graft-lakehouse").load` (the public DSv2 face);
  *  - `scanAtSnapshot` of EVERY retained snapshot (time travel);
  *  - `changesBetween` of the step's two consecutive snapshots;
  *
  * and each must equal the model exactly (rows as multisets, column
  * names in order, declared types). Sequences are bounded and the seed
  * is fixed, so the property is deterministic; two sequences of about
  * fifteen steps run in 35-50 s on a 4-core machine. It does not
  * shrink (each Spark step costs real time).
  */
class ReadPathModelSpec extends SparkSpec {

  // ---------------- the operation language ----------------

  /** Keyed operations carry key PICKS, resolved against the table's
    * live keys when the step runs ([[Run.keyFor]]).
    */
  private sealed trait Op
  private final case class Append(ids: List[Int], hive: Boolean) extends Op
  private final case class Upsert(picks: List[Int]) extends Op
  /** per key: 0 = delete, 1 = insert (replace), 2 = delete+insert in one batch */
  private final case class ApplyMor(changes: List[(Int, Int)], binaryKey: Boolean) extends Op
  private final case class DeleteWhere(picks: List[Int]) extends Op
  private case object AddColumn extends Op
  private final case class RenameColumn(pick: Int) extends Op
  private final case class DropColumn(pick: Int) extends Op
  private case object WidenColumn extends Op
  private case object Compact extends Op
  private case object Fold extends Op

  private val KeySpace = 10

  private val genIds: Gen[List[Int]] =
    Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, Gen.choose(0, KeySpace - 1)))
  private val genPicks: Gen[List[Int]] =
    Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, Gen.choose(0, 999)))

  private val genOp: Gen[Op] = Gen.oneOf(
    for (ids <- genIds; hive <- Gen.oneOf(true, false)) yield Append(ids, hive),
    genPicks.map(Upsert(_)),
    for {
      picks <- genPicks
      kinds <- Gen.listOfN(picks.size, Gen.choose(0, 2))
      bin <- Gen.oneOf(true, false)
    } yield ApplyMor(picks.zip(kinds), bin),
    genPicks.map(DeleteWhere(_)),
    Gen.const(AddColumn),
    Gen.choose(0, 9).map(RenameColumn(_)),
    Gen.choose(0, 9).map(DropColumn(_)),
    Gen.const(WidenColumn),
    Gen.const(Compact),
    Gen.const(Fold))

  /** Every sequence opens with an append, then visits every operation
    * kind once (both MoR key types included) in a random order, with
    * one random extra operation mixed in.
    */
  private val genSequence: Gen[List[Op]] = for {
    first <- genIds.map(Append(_, hive = false))
    upsert <- genPicks.map(Upsert(_))
    morPicks <- genPicks
    morKinds <- Gen.listOfN(morPicks.size, Gen.choose(0, 2))
    binPicks <- genPicks
    binKinds <- Gen.listOfN(binPicks.size, Gen.choose(0, 2))
    hiveIds <- genIds
    del <- genPicks
    rn <- Gen.choose(0, 9)
    dr <- Gen.choose(0, 9)
    extra <- Gen.listOfN(1, genOp)
    items = Seq[Op](Append(hiveIds, hive = true), upsert,
      ApplyMor(morPicks.zip(morKinds), binaryKey = false),
      ApplyMor(binPicks.zip(binKinds), binaryKey = true),
      DeleteWhere(del), AddColumn, RenameColumn(rn), DropColumn(dr),
      WidenColumn, Compact, Fold) ++ extra
    order <- Gen.listOfN(items.size, Gen.choose(0, 1 << 20))
  } yield first :: items.zip(order).sortBy(_._2).map(_._1).toList

  // ---------------- the model ----------------

  /** A column by identity: `uid` never changes, `name` follows renames. */
  private final case class MCol(uid: Int, name: String, dt: DataType)
  /** One snapshot's content: columns in declared order, rows by uid. */
  private final case class MState(cols: Vector[MCol], rows: Vector[Map[Int, Any]])

  private val IdU = 0
  private val BkU = 1
  private val VU = 2
  private val WU = 3
  private val PU = 4

  private def keyBytes(id: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(id).array()
  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  /** Canonical cell image, shared by model and engine rows. */
  private def norm(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => "0x" + hex(b)
    case i: Int => i.toLong.toString
    case l: Long => l.toString
    case s: String => "'" + s + "'"
    case o => o.toString
  }

  private def image(cols: Vector[MCol], row: Map[Int, Any]): String =
    cols.map(c => norm(row.getOrElse(c.uid, null))).mkString("(", ",", ")")

  private def sameType(a: DataType, b: DataType): Boolean =
    a.catalogString == b.catalogString

  /** Engine frame vs model state: column names in order, declared
    * types, and the row multiset.
    */
  private def assertMatches(what: String, df: DataFrame, st: MState): Unit = {
    assert(df.columns.toSeq === st.cols.map(_.name), s"$what: column names")
    st.cols.foreach { c =>
      assert(sameType(df.schema(c.name).dataType, c.dt),
        s"$what: type of ${c.name} is ${df.schema(c.name).dataType}, model ${c.dt}")
    }
    val got = df.collect().toSeq.map(r =>
      st.cols.indices.map(i => norm(r.get(i))).mkString("(", ",", ")")).sorted
    val want = st.rows.map(image(st.cols, _)).sorted
    assert(got === want, s"$what: rows differ")
  }

  // ---------------- one sequence ----------------

  private final class Run(label: String) {
    val t = new LakehouseTable(spark, tmpDir(s"rpm-$label"))
    var cols: Vector[MCol] = Vector(
      MCol(IdU, "id", LongType), MCol(BkU, "bk", BinaryType),
      MCol(VU, "v", StringType), MCol(WU, "w", IntegerType),
      MCol(PU, "p", StringType))
    var rows: Vector[Map[Int, Any]] = Vector.empty
    var nextUid = 5
    var counter = 0
    /** snapshot id → model state, in commit order */
    val history = scala.collection.mutable.LinkedHashMap.empty[Long, MState]

    private def schema: StructType =
      StructType(cols.map(c => StructField(c.name, c.dt, nullable = true)))

    /** A fresh row for key `id`; `v` is globally unique so no two
      * generated rows are ever identical.
      */
    private def freshRow(id: Int): Map[Int, Any] = {
      counter += 1
      val wide = cols.exists(c => c.uid == WU && c.dt == LongType)
      cols.map { c =>
        c.uid -> (c.uid match {
          case IdU => id.toLong
          case BkU => keyBytes(id.toLong)
          case VU => s"v$counter"
          case WU => if (wide) (3000000000L + counter: Any) else (counter % 7: Any)
          case PU => if (counter % 2 == 0) "a" else "b"
          case _ => if (counter % 3 == 0) null else s"x$counter"
        })
      }.toMap
    }

    private def frame(rs: Seq[Map[Int, Any]], change: Seq[String] = Nil): DataFrame = {
      val base = schema
      val sch = if (change.isEmpty) base else base.add(StructField("_change", StringType))
      val out = rs.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(cols.map(c => r.getOrElse(c.uid, null)) ++ change.lift(i).toSeq)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(out, 1), sch)
    }

    private def keyOf(r: Map[Int, Any]): Long = r(IdU).asInstanceOf[Long]

    /** The key a keyed op's `pick` acts on: three picks in four hit a
      * key the table holds (so deletes, replacements and masks have
      * rows to act on), the rest any key of the key space.
      */
    def keyFor(pick: Int): Int = {
      val live = rows.map(keyOf).distinct.sorted
      if (live.nonEmpty && pick % 4 != 0) live(pick % live.size).toInt else pick % KeySpace
    }

    private def tombstoned: Boolean =
      t.currentSnapshot().exists(_.tombstones.nonEmpty)

    def step(op: Op): Unit = op match {
      case Append(ids, hive) =>
        val rs = ids.map(freshRow)
        t.append(frame(rs), if (hive) Seq("p") else Nil)
        rows ++= rs
        commit(op)
      case Upsert(picks) =>
        val ids = picks.map(keyFor).distinct
        val rs = ids.map(freshRow)
        t.upsert(frame(rs), Seq("id"))
        val keys = ids.map(_.toLong).toSet
        rows = rows.filterNot(r => keys(keyOf(r))) ++ rs
        commit(op)
      case ApplyMor(picks, binaryKey) =>
        val changes = picks.map { case (p, kind) => (keyFor(p), kind) }.distinctBy(_._1)
        val batch = changes.flatMap { case (id, kind) =>
          val del = if (kind != 1) Seq((freshRow(id), "delete")) else Nil
          val ins = if (kind != 0) Seq((freshRow(id), "insert")) else Nil
          del ++ ins
        }
        t.applyChanges(frame(batch.map(_._1), batch.map(_._2)),
          Seq(if (binaryKey) "bk" else "id"), mergeOnRead = true)
        val keys = changes.map(_._1.toLong).toSet
        rows = rows.filterNot(r => keys(keyOf(r))) ++
          batch.collect { case (r, "insert") => r }
        commit(op)
      case DeleteWhere(picks) =>
        val ids = picks.map(keyFor).distinct
        t.currentSnapshot().foreach { cur =>
          t.deleteWhere(cur.files, col("id").isin(ids.map(_.toLong): _*))
        }
        val keys = ids.map(_.toLong).toSet
        rows = rows.filterNot(r => keys(keyOf(r)))
        commit(op)
      case AddColumn =>
        val c = MCol(nextUid, s"c$nextUid", StringType)
        nextUid += 1
        t.addColumns(Seq(StructField(c.name, c.dt, nullable = true)))
        cols :+= c
        commit(op)
      case RenameColumn(pick) =>
        // rename refuses live tombstones: fold first (itself a step)
        if (tombstoned) step(Fold)
        val renamable = cols.filterNot(c => Set(IdU, BkU, WU, PU)(c.uid))
        val c = renamable(pick % renamable.size)
        val fresh = s"r$nextUid"
        nextUid += 1
        t.renameColumn(c.name, fresh)
        cols = cols.map(x => if (x.uid == c.uid) x.copy(name = fresh) else x)
        commit(op)
      case DropColumn(pick) =>
        val droppable = cols.filter(_.uid >= 5)
        if (droppable.nonEmpty) {
          if (tombstoned) step(Fold)
          val c = droppable(pick % droppable.size)
          t.dropColumn(c.name)
          cols = cols.filterNot(_.uid == c.uid)
          rows = rows.map(_ - c.uid)
          commit(op)
        }
      case WidenColumn =>
        if (cols.exists(c => c.uid == WU && c.dt == IntegerType)) {
          t.widenColumn("w", LongType)
          cols = cols.map(c => if (c.uid == WU) c.copy(dt = LongType) else c)
          rows = rows.map(r => r.get(WU) match {
            case Some(i: Int) => r.updated(WU, i.toLong)
            case _ => r
          })
          commit(op)
        }
      case Compact =>
        t.compact(fileThreshold = 1, maxRows = 1000000L)
        commit(op)
      case Fold =>
        t.foldTombstones()
        commit(op)
    }

    /** Record the model state under the engine's new head (when the op
      * committed one) and check every read path.
      */
    private def commit(op: Op): Unit = {
      val head = t.currentSnapshot().map(_.snapshotId)
      val prev = history.keys.lastOption
      head.filterNot(prev.contains).foreach(id => history(id) = MState(cols, rows))
      verify(s"$label after $op")
    }

    /** The step's checks are independent reads: they run concurrently
      * (the local session schedules their jobs side by side), and the
      * first failure is rethrown.
      */
    private def verify(what: String): Unit = {
      if (history.isEmpty) return
      val (headId, headState) = history.last
      val retained = t.listSnapshots().map(_.snapshotId).toSet
      val checks: Seq[() => Unit] =
        Seq[() => Unit](
          () => assertMatches(s"$what: read()", t.read(), headState),
          () => assertMatches(s"$what: DSv2 load",
            spark.read.format("graft-lakehouse").load(t.root), headState)) ++
        history.toSeq.collect { case (id, st) if retained(id) =>
          () => assertMatches(s"$what: scanAtSnapshot($id)", t.scanAtSnapshot(id), st)
        } ++
        (if (history.size < 2) Nil
         else Seq(() => checkChanges(what, history.init.last, (headId, headState))))
      val running = checks.map(c => scala.concurrent.Future(c())(ReadPathModelSpec.pool))
      running.foreach(f => scala.util.Try(
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)))
      running.flatMap(_.value.flatMap(_.failed.toOption)).headOption.foreach(throw _)
    }

    /** `changesBetween` of two consecutive snapshots vs the model diff,
      * in the TO side's columns (from-side rows project by identity).
      */
    private def checkChanges(what: String, from: (Long, MState), to: (Long, MState)): Unit = {
      val ((fromId, fromSt), (toId, toSt)) = (from, to)
      val changes = t.changesBetween(fromId, toId)
      assert(changes.columns.toSeq === toSt.cols.map(_.name) :+ "_change",
        s"$what: changesBetween($fromId, $toId) columns")
      def images(st: MState) = st.rows.map(image(toSt.cols, _))
      def minus(a: Seq[String], b: Seq[String]): Seq[String] = {
        val left = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
        b.foreach(x => left(x) += 1)
        a.filter { x => if (left(x) > 0) { left(x) -= 1; false } else true }
      }
      val (toRows, fromRows) = (images(toSt), images(fromSt))
      val want = (minus(toRows, fromRows).map(_ + " insert") ++
        minus(fromRows, toRows).map(_ + " delete")).sorted
      val n = toSt.cols.size
      val got = changes.collect().toSeq.map(r =>
        (0 until n).map(i => norm(r.get(i))).mkString("(", ",", ")") +
          " " + r.getString(n)).sorted
      assert(got === want, s"$what: changesBetween($fromId, $toId)")
    }
  }

  test("every read path equals the model after every step (seeded, bounded)") {
    var runs = 0
    val prop = Prop.forAllNoShrink(genSequence) { ops =>
      runs += 1
      val run = new Run(s"s$runs")
      ops.foreach(run.step)
      true
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(2)
      .withWorkers(1)
      .withInitialSeed(Seed(20261017L))
    val res = Test.check(params, prop)
    assert(res.passed, s"model check failed: ${res.status}")
  }
}

private object ReadPathModelSpec {
  /** Four threads: one per local-mode core. */
  lazy val pool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) => {
        val th = new Thread(r, "read-path-model-check")
        th.setDaemon(true)
        th
      }))
}
