package graft.lakehouse

import graft.SparkSpec

/** The commit protocol against a REAL second JVM: [[CommitRaceMain]]
  * boots its own SparkSession in a child process and both writers
  * append into one table root concurrently, coordinated only by the
  * filesystem (ready/go marker files — no shared locks, no shared
  * session). This is the deployment shape the in-process
  * CommitProtocolSpec can only simulate: hard-link put-if-absent
  * atomicity, rebase, and nonce'd data dirs across OS processes.
  */
class CrossProcessCommitSpec extends SparkSpec {
  import spark.implicits._

  private val opens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .flatMap(m => Seq("--add-opens", s"$m=ALL-UNNAMED"))

  test("a second OS process appends concurrently: one winner per version, zero lost rows") {
    val root = tmpDir("occ-2jvm")
    val markers = tmpDir("occ-2jvm-markers")
    val n = 6
    val t = new LakehouseTable(spark, root)
    t.append(Seq((0L, "seed")).toDF("id", "v"))

    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    // the parent JVM already carries the right classpath (sbt-built
    // classes + Spark jars) — inherit it instead of hardcoding checkout
    // and install locations
    val cp = System.getProperty("java.class.path")
    val cmd = (Seq(javaBin) ++ opens ++ Seq("-Xmx2g", "-cp", cp,
      "graft.lakehouse.CommitRaceMain", root, "B", n.toString, markers)).toArray
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val child = pb.start()
    try {
      // wait for the child's session to be up, then start both writers
      // on the same signal so the append windows genuinely overlap
      val ready = java.nio.file.Paths.get(markers, "child-ready")
      val deadline = System.currentTimeMillis() + 120000
      while (!java.nio.file.Files.exists(ready)) {
        assert(child.isAlive, "child JVM died before becoming ready: " + drain(child))
        assert(System.currentTimeMillis() < deadline, "child never became ready")
        Thread.sleep(100)
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(markers, "go"), "go")
      (1 to n).foreach { i =>
        t.append(Seq((100L + i, "A")).toDF("id", "v"))
      }
      val out = drain(child)
      assert(child.waitFor() === 0, s"child exit=${child.exitValue}: $out")

      val snaps = t.listSnapshots()
      assert(snaps.size === 1 + 2 * n, s"expected ${1 + 2 * n} snapshots, got ${snaps.size}")
      assert(snaps.map(_.snapshotId) === (1L to (1 + 2 * n)).toSeq,
        "exactly one winner per version — contiguous ids, no gaps, no clobbers")
      val rows = t.read().as[(Long, String)].collect()
      assert(rows.length === 1 + 2 * n, s"no writer's rows may be lost, got ${rows.length}")
      assert(rows.count(_._2 == "A") === n)
      assert(rows.count(_._2 == "B") === n)
      // every committed file physically exists (nonce'd dirs: racing
      // claimants of one version never clobbered each other's data)
      snaps.last.files.foreach { f =>
        assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, f)), s"missing $f")
      }
    } finally {
      if (child.isAlive) child.destroyForcibly()
    }
  }

  test("racing setTag (child JVM) vs expiry: every OK tag resolves, every failed one left no ref") {
    import org.apache.spark.sql.functions.col
    val root = tmpDir("tagrace-2jvm")
    val markers = tmpDir("tagrace-2jvm-markers")
    val n = 20
    val t = new LakehouseTable(spark, root)
    // n historical snapshots (all expire-eligible under a future
    // cutoff) + whatever the child manages to pin
    (1 to n).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1)))

    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val cp = System.getProperty("java.class.path")
    val cmd = (Seq(javaBin) ++ opens ++ Seq("-Xmx2g", "-cp", cp,
      "graft.lakehouse.TagRaceMain", root, n.toString, markers)).toArray
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val child = pb.start()
    try {
      val ready = java.nio.file.Paths.get(markers, "child-ready")
      val done = java.nio.file.Paths.get(markers, "tags-done")
      val deadline = System.currentTimeMillis() + 120000
      while (!java.nio.file.Files.exists(ready)) {
        assert(child.isAlive, "child JVM died before becoming ready: " + drain(child))
        assert(System.currentTimeMillis() < deadline, "child never became ready")
        Thread.sleep(100)
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(markers, "go"), "go")
      // sweep continuously while the child tags: every sweep marks its
      // candidates before it re-lists the tags, and every setTag checks
      // for a mark after its write, so each attempt either pins its
      // snapshot or fails and withdraws
      val sweepDeadline = System.currentTimeMillis() + 120000
      while (!java.nio.file.Files.exists(done)) {
        assert(child.isAlive, "child JVM died mid-race: " + drain(child))
        assert(System.currentTimeMillis() < sweepDeadline, "child never finished tagging")
        t.expireSnapshotsOlderThan(System.currentTimeMillis() + 3600000L)
        Thread.sleep(2)
      }
      val out = drain(child)
      assert(child.waitFor() === 0, s"child exit=${child.exitValue}: $out")
      t.expireSnapshotsOlderThan(System.currentTimeMillis() + 3600000L) // one final sweep
      val results = java.nio.file.Files.readString(done).split("\n")
        .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
      assert(results.size === n)
      val tags = t.tags
      results.foreach { case (tag, st) =>
        if (st == "ok")
          assert(tags.contains(tag) &&
            scala.util.Try(t.snapshotForTag(tag)).isSuccess,
            s"OK tag '$tag' must survive every sweep and resolve — " +
              s"retained: ${t.listSnapshots().map(_.snapshotId)}, tags: ${tags.keySet}")
        else
          assert(!tags.contains(tag),
            s"failed setTag '$tag' must leave NO ref behind")
      }
      // no dangling pointer anywhere, under any interleaving
      tags.keys.foreach(k => t.snapshotForTag(k))
      // the tagged snapshots' data files survived the sweeps too
      tags.values.map(_._1).foreach { sid =>
        t.snapshotOrThrow(sid).files.foreach { f =>
          assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, f)),
            s"tagged snapshot $sid lost data file $f")
        }
      }
      // the race genuinely exercised expiry: untagged old snapshots died
      assert(t.listSnapshots().size < n + 1,
        "the sweeps should have expired at least one untagged snapshot")
      assert(t.read().select(col("id")).collect().nonEmpty)
    } finally {
      if (child.isAlive) child.destroyForcibly()
    }
  }

  private def drain(p: Process): String = {
    val buf = new Array[Byte](1 << 16)
    val sb = new StringBuilder
    val in = p.getInputStream
    while (in.available() > 0) {
      val k = in.read(buf, 0, math.min(in.available(), buf.length))
      if (k > 0) sb.append(new String(buf, 0, k))
    }
    sb.toString
  }
}
