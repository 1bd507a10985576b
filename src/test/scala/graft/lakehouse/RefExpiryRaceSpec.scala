package graft.lakehouse

import graft.SparkSpec

/** Refs against expiry, with no lock between them: threads on SEPARATE
  * table handles (so no in-process lock serializes them either) race
  * tags, branch forks and clone pins against expiry sweeps, two sweeps
  * at once. The sweeps' cutoffs advance one snapshot at a time, and a
  * loose lockstep keeps every thread within one stage of the others
  * however the host schedules them, so the ref attempts keep meeting the
  * expiry frontier. The schedule is drawn from a fixed seed. Asserts the handshake's contract
  * ([[LakehouseTable.expireSnapshotsOlderThan]]): every successful ref
  * resolves with all its data files present, every failed attempt left
  * no ref (and failed with the "not found" or "being expired" wording),
  * no ref dangles, and no expiry mark outlives the sweeps.
  */
class RefExpiryRaceSpec extends SparkSpec {
  import spark.implicits._

  private val n = 10 // historical snapshots per round
  private val attempts = 30 // per ref-writing thread

  private sealed trait Attempt { def target: Long; def error: Option[Throwable] }
  private final case class TagAttempt(name: String, target: Long,
      error: Option[Throwable]) extends Attempt
  private final case class ForkAttempt(name: String, target: Long,
      error: Option[Throwable]) extends Attempt
  private final case class CloneAttempt(cloned: Option[LakehouseTable], target: Long,
      error: Option[Throwable]) extends Attempt

  test("seeded race: tags, branch forks and clone pins vs two concurrent sweeps") {
    Seq(11L, 23L).foreach(raceRound)
  }

  private def raceRound(seed: Long): Unit = {
    val root = tmpDir(s"refrace-$seed")
    val setup = new LakehouseTable(spark, root)
    (1 to n).foreach(i => setup.append(Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1)))
    val stamps = setup.listSnapshots().map(_.timestampMs)
    assert(stamps.distinct.size === n, "snapshot timestamps must be distinct")
    val rnd = new scala.util.Random(seed)
    val sweeps = 2 * n // per sweeper; sweep j covers snapshots 1 .. j/2 + 1
    def covered(j: Int) = if (j < 0) 0 else math.min(n - 2, j / 2) + 1
    // lockstep: ref attempt i waits for the slower sweeper to finish
    // sweep i*sweeps/attempts - 1; sweep j waits for the slowest ref
    // writer to finish attempt (j-1)*attempts/sweeps. Each side waits
    // only for stages strictly behind its own, so neither can wedge.
    def stage(i: Int) = i * sweeps / attempts - 1
    // odd snapshots race: any attempt may target them, ahead of, at or
    // behind the frontier. Even snapshots are never pinned: only a
    // "late" attempt targets one, after both sweepers have passed it,
    // so every round refuses some refs and expires some snapshots.
    val odd = (1 until n by 2).map(_.toLong)
    def plan = (0 until attempts).map { i =>
      val gone = (2 to covered(stage(i) - 1) by 2).map(_.toLong)
      val late = rnd.nextInt(4) == 0 && gone.nonEmpty
      val id = if (late) gone(rnd.nextInt(gone.size)) else odd(rnd.nextInt(odd.size))
      (id, rnd.nextInt(3))
    }
    val (tagPlan, forkPlan, clonePlan) = (plan, plan, plan)
    val sweepPauses = Seq.fill(2, sweeps)(rnd.nextInt(4))
    val attemptsDone = Seq.fill(3)(new java.util.concurrent.atomic.AtomicInteger)
    val sweepsDone = Seq.fill(2)(new java.util.concurrent.atomic.AtomicInteger)
    def await(done: Seq[java.util.concurrent.atomic.AtomicInteger], stage: Int): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (done.map(_.get).min < stage) {
        if (System.currentTimeMillis() > deadline) throw new IllegalStateException("lockstep stalled")
        Thread.sleep(1)
      }
    }
    def refStep(k: Int, i: Int)(body: => Unit): Unit = {
      await(sweepsDone, stage(i))
      body
      attemptsDone(k).incrementAndGet(); ()
    }

    val results = new java.util.concurrent.ConcurrentLinkedQueue[Attempt]()
    val crashes = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CyclicBarrier(5)
    def actor(body: => Unit) = new Thread(() => {
      start.await()
      try body catch { case e: Throwable => crashes.add(e); () }
    })
    def attempt[T](body: => T): Either[Throwable, T] =
      try Right(body) catch { case e: Exception => Left(e) }

    val tagger = new LakehouseTable(spark, root)
    val forker = new LakehouseTable(spark, root)
    val cloner = new LakehouseTable(spark, root)
    val threads = Seq(
      actor(tagPlan.zipWithIndex.foreach { case ((id, pause), i) => refStep(0, i) {
        val r = attempt(tagger.setTag(s"t$i", id))
        results.add(TagAttempt(s"t$i", id, r.left.toOption))
        Thread.sleep(pause)
      }}),
      actor(forkPlan.zipWithIndex.foreach { case ((id, pause), i) => refStep(1, i) {
        val r = attempt(forker.forkBranch(s"b$i", Some(id)))
        results.add(ForkAttempt(s"b$i", id, r.left.toOption))
        Thread.sleep(pause)
      }}),
      actor(clonePlan.zipWithIndex.foreach { case ((id, pause), i) => refStep(2, i) {
        val r = attempt(cloner.cloneAtSnapshot(tmpDir(s"refrace-clone-$seed"), id))
        results.add(CloneAttempt(r.toOption, id, r.left.toOption))
        Thread.sleep(pause)
      }})) ++ sweepPauses.zip(sweepsDone).map { case (pauses, done) =>
      val sweeper = new LakehouseTable(spark, root)
      // hold the mark-then-list window open for the sweep's pause, so
      // ref attempts land inside it as well as before and after it
      val held = pauses.iterator
      sweeper.onPhase = {
        case "expire.marked" => if (held.hasNext) Thread.sleep(held.next().toLong)
        case _ => ()
      }
      actor(pauses.zipWithIndex.foreach { case (pause, j) =>
        await(attemptsDone, (j - 1) * attempts / sweeps)
        sweeper.expireSnapshotsOlderThan(stamps(covered(j) - 1) + 1)
        done.incrementAndGet()
        Thread.sleep(pause)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(threads.forall(!_.isAlive), s"seed $seed: a racer hung")
    assert(crashes.isEmpty, s"seed $seed: a sweep or racer crashed: ${crashes.peek()}")
    setup.expireSnapshotsOlderThan(System.currentTimeMillis() + 3600000L)

    val t = new LakehouseTable(spark, root)
    val tags = t.tags
    val branches = t.branches
    def filesPresent(sid: Long): Unit = t.snapshotOrThrow(sid).files.foreach { f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, f)),
        s"seed $seed: snapshot $sid lost data file $f")
    }
    val all = results.toArray.toSeq.map(_.asInstanceOf[Attempt])
    assert(all.size === 3 * attempts)
    all.foreach { a =>
      a.error.foreach { e =>
        assert(e.getMessage.contains("not found") || e.getMessage.contains("being expired"),
          s"seed $seed: $a failed with an unexpected error: $e")
      }
    }
    all.foreach {
      case TagAttempt(name, id, None) =>
        assert(tags.get(name).map(_._1) === Some(id), s"seed $seed: OK tag '$name' lost")
        filesPresent(id)
      case TagAttempt(name, _, Some(_)) =>
        assert(!tags.contains(name), s"seed $seed: failed tag '$name' left a ref")
      case ForkAttempt(name, id, None) =>
        assert(branches.get(name).map(_.fork) === Some(id), s"seed $seed: OK branch '$name' lost")
        assert(t.branchHead(name).snapshotId === id)
        filesPresent(id)
      case ForkAttempt(name, _, Some(_)) =>
        assert(!branches.contains(name), s"seed $seed: failed fork '$name' left a ref")
      case CloneAttempt(Some(c), id, None) =>
        val pin = c.cloneProvenance.flatMap(_.pinTag).get
        assert(tags.get(pin).map(_._1) === Some(id), s"seed $seed: clone pin '$pin' lost")
        filesPresent(id)
        assert(c.read().collect().length === id.toInt,
          s"seed $seed: the clone at $id must read its fork state")
      case CloneAttempt(_, _, _) => ()
    }
    val okClones = all.count { case CloneAttempt(_, _, None) => true; case _ => false }
    assert(tags.keys.count(_.startsWith("clone-pin-")) === okClones,
      s"seed $seed: a failed clone left a pin")
    // no ref dangles
    tags.keys.foreach(k => t.snapshotForTag(k))
    branches.values.foreach(b => t.snapshotOrThrow(b.fork))
    // no mark outlives the sweeps (each clears its own on what it kept,
    // and every mark of what it deleted), so every surviving snapshot
    // still takes new refs
    val marksLeft = java.nio.file.Paths.get(root, "_refs", "expiring")
    assert(!java.nio.file.Files.isDirectory(marksLeft) || graft.Fs.listAll(marksLeft).isEmpty,
      s"seed $seed: expiry marks outlived the sweeps: ${graft.Fs.listAll(marksLeft)}")
    t.listSnapshots().foreach(s => t.setTag(s"after-${s.snapshotId}", s.snapshotId))
    // the race genuinely exercised both outcomes
    def failedWith(w: String) = all.count(_.error.exists(_.getMessage.contains(w)))
    info(s"seed $seed: ${all.count(_.error.isEmpty)} refs landed, " +
      s"${failedWith("not found")} refused as not found, " +
      s"${failedWith("being expired")} as being expired")
    assert(all.exists(_.error.isEmpty) && all.exists(_.error.nonEmpty),
      s"seed $seed: every attempt had the same outcome")
    assert(t.listSnapshots().size < n, s"seed $seed: nothing expired")
  }
}
