package graft

import java.io.PrintStream

import org.apache.spark.sql.SparkSession

import graft.lakehouse.LakehouseTable

/** Lakehouse operations (SURVEY.md §3.3; reference
  * `cdc lakehouse snapshots|query|rollback`, `cli.py:251-366`):
  *
  *   graft.Cli lakehouse snapshots <tableDir>
  *   graft.Cli lakehouse query     <tableDir> [snapshotId|current] [limit]
  *   graft.Cli lakehouse rollback  <tableDir> <snapshotId>
  *
  * (also runnable standalone as `graft.LakehouseCli …`).
  *
  * `query` defaults to a LIMIT of 20 rows like the reference CLI
  * (`cli.py:298`). Invalid snapshot ids fail with the valid-id listing
  * (same error contract as `time_travel.py:33-58`).
  */
object LakehouseCli {
  def main(args: Array[String]): Unit = {
    // arg-shape check BEFORE paying for a SparkSession: a bare usage
    // error should print instantly, not after several seconds of
    // session bootstrap
    if (args.length < 2) { Console.out.println(usage); sys.exit(2) }
    val spark = SparkEntry.session("graft-lakehouse", defaultCpus = 4)
    val code = run(args.toIndexedSeq, Console.out, spark)
    spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Sub-command dispatch; returns the exit code (spec-drivable). */
  def run(args: Seq[String], out: PrintStream, spark: SparkSession): Int = {
    if (args.length < 2) { out.println(usage); return 2 }
    val table = new LakehouseTable(spark, args(1))
    args.head match {
      case "snapshots" =>
        out.println(f"${"ID"}%-6s ${"PARENT"}%-8s ${"OPERATION"}%-10s ${"FILES"}%-6s TIMESTAMP")
        table.listSnapshots().foreach { s =>
          out.println(f"${s.snapshotId}%-6d ${s.parentId.map(_.toString).getOrElse("-")}%-8s " +
            f"${s.operation}%-10s ${s.files.size}%-6d " +
            java.time.Instant.ofEpochMilli(s.timestampMs).toString)
        }
        0
      case "query" =>
        val limit = if (args.length >= 4) args(3).toInt else 20
        // optional 5th arg: col=value (equality) or col=lo..hi (range)
        // — routed through the automatic skipping read path, so bloom
        // sidecars / footer min-max / partition dirs prune unprompted
        val predArgs = args.lift(4).toSeq
        val preds = predArgs.flatMap(parsePredicate)
        if (preds.size != predArgs.size) { out.println(usage); return 2 }
        val df = args.lift(2).filterNot(_ == "current") match {
          case Some(id) if preds.nonEmpty => table.scanAtSnapshot(id.toLong, preds).limit(limit)
          case Some(id) => table.scanAtSnapshot(id.toLong, Some(limit))
          case None if preds.nonEmpty => table.read(preds).limit(limit)
          case None => table.read().limit(limit)
        }
        val cols = df.columns
        out.println(cols.mkString("\t"))
        df.take(limit).foreach(r =>
          out.println(cols.indices.map(i => String.valueOf(r.get(i))).mkString("\t")))
        0
      case "rollback" =>
        if (args.length < 3) { out.println(usage); return 2 }
        val snap = table.rollbackToSnapshot(args(2).toLong)
        out.println(s"rolled back: new snapshot ${snap.snapshotId} -> files of ${args(2)}")
        0
      case "changes" if args.lift(2).contains("--follow") =>
        // subscription form: poll the change feed from a saved cursor
        // (or bootstrap from the initial snapshot) until caught up —
        // one ChangeFeedReader micro-batch per head advance. The loop
        // drains and exits (cron/scripting shape); a daemon would just
        // wrap this in its own scheduler.
        val startAfter = args.lift(3).map(_.toLong)
        val reader = new graft.lakehouse.ChangeFeedReader(table, startAfter)
        val n = reader.drainTo { (df, id) =>
          out.println(s"-- batch -> snapshot $id")
          val cols = df.columns
          out.println(cols.mkString("\t"))
          df.collect().foreach(r =>
            out.println(cols.indices.map(i => String.valueOf(r.get(i))).mkString("\t")))
        }
        out.println(s"follow: ${n} batch(es), cursor=${reader.cursor.getOrElse("-")}")
        0
      case "changes" =>
        // engine extension beyond the reference CLI: the q101 change
        // feed, for incremental consumers driving off the lineage
        if (args.length < 4) { out.println(usage); return 2 }
        val df = table.changesBetween(args(2).toLong, args(3).toLong)
        val cols = df.columns
        out.println(cols.mkString("\t"))
        df.collect().foreach(r =>
          out.println(cols.indices.map(i => String.valueOf(r.get(i))).mkString("\t")))
        0
      case "zorder" =>
        // engine extension: Z-order clustering rewrite (ZOrderSpec's
        // measured multi-column skipping) from the operator console
        if (args.length < 4) { out.println(usage); return 2 }
        val cols = args(2).split(',').toSeq
        table.compactZOrder(cols, targetFiles = args(3).toInt) match {
          case Some(s) => out.println(s"zorder: new snapshot ${s.snapshotId} (${s.files.size} files)"); 0
          case None => out.println("zorder: empty table, nothing to do"); 0
        }
      case "bloomindex" =>
        // engine extension: build the bloom file-skipping sidecars
        // (BloomIndexSpec's measured point-lookup pruning) on demand
        if (args.length < 3) { out.println(usage); return 2 }
        val n = table.buildBloomIndex(args(2))
        out.println(s"bloomindex: ${n} file(s) indexed on '${args(2)}'")
        0
      case "annbuild" =>
        // engine extension: train + persist the IVF-PQ serving index
        // over a (vec_id, embedding) table — the q114 lifecycle from
        // the operator console (reload/serve never retrains)
        if (args.length < 3) { out.println(usage); return 2 }
        val idx = graft.lakehouse.AnnIndex.build(spark, table.read(), args(2))
        out.println(s"annbuild: ${idx.centroids.size} cells, " +
          s"${idx.books.map(_.size).sum} codewords, ${idx.codes.count()} coded vectors -> ${args(2)}")
        0
      case "annstatus" =>
        // index health without loading the corpus: model metadata +
        // codes count (a partition-pruned metadata-ish scan)
        if (args.length < 3) { out.println(usage); return 2 }
        val idx = graft.lakehouse.AnnIndex.load(spark, args(2))
        val cells = idx.codes.select("cell").distinct().count()
        out.println(s"annstatus: ${idx.centroids.size} trained cells " +
          s"(${cells} occupied), ${idx.books.map(_.size).sum} codewords, " +
          s"${idx.codes.count()} coded vectors")
        0
      case "replicate" =>
        // one-command table replication over the exactly-once sink:
        // src change feed → dst, resumable (the checkpoint lives with
        // the destination, keyed by the source) — rerunning catches up
        // on exactly the diff, a crashed run replays harmlessly
        // through the txn ledger
        if (args.length < 4) { out.println(usage); return 2 }
        // canonicalize the source path: the checkpoint dir and ledger
        // appId ARE the replication identity — './tbl' and '/abs/tbl'
        // must resume the same stream, and a 32-bit hash could collide
        // two sources into one checkpoint, so use a digest of the
        // normalized path
        val src = java.nio.file.Paths.get(args(1)).toAbsolutePath.normalize.toString
        val (dst, keys) = (args(2), args(3))
        if (new LakehouseTable(spark, src).currentSnapshot().isEmpty) {
          out.println(s"replicate: source $src has no snapshots"); return 1
        }
        val srcKey = java.security.MessageDigest.getInstance("SHA-256")
          .digest(src.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
        val ckpt = java.nio.file.Paths.get(dst, "_replication", srcKey).toString
        // optional admission flags — a huge backlog (or a bulk-loaded
        // source) drains as bounded, checkpointed batches instead of
        // one table-sized one; the run is AvailableNow either way, so
        // a rerun resumes exactly where a timeout/crash left off
        val flagMap = Map(
          "--max-snapshots" -> "maxSnapshotsPerTrigger",
          "--max-files" -> "maxFilesPerTrigger",
          "--max-bytes" -> "maxBytesPerTrigger")
        // --starting-tag=T: start the FRESH stream at the source's
        // tagged release and deliver only the changes after it — the
        // `clone --tag=T` composition (the replica already holds the
        // release by reference, so a state bootstrap would double it).
        // A resumed checkpoint ignores the pin (committed offset wins).
        val admission: Seq[(String, String)] = args.drop(4).toSeq.map { a =>
          a.split("=", 2) match {
            case Array(f, v) if flagMap.contains(f) && v.forall(_.isDigit) && v.nonEmpty =>
              flagMap(f) -> v
            case Array("--starting-tag", v) if v.nonEmpty =>
              "startingTag" -> v
            case _ =>
              out.println(s"replicate: unknown flag '$a' " +
                s"(expected ${flagMap.keys.mkString("|")}=N or --starting-tag=T)"); return 2
          }
        }
        // schema-history channel ON: upstream RENAME/WIDEN/ADD DDL
        // replicates automatically (the sink applies it idempotently)
        val reader0 = spark.readStream.format("graft-changefeed").option("path", src)
          .option("emitSchemaChanges", "true")
        val reader = admission.foldLeft(reader0) { case (r, (k, v)) => r.option(k, v) }
        val q = reader.load()
          .writeStream.format("graft-lakehouse")
          .option("path", dst).option("keys", keys)
          .option("txnAppId", s"replicate:$src")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        if (!q.awaitTermination(600000)) {
          // never leave an orphan stream writing to dst — but a wedged
          // batch may not answer the interrupt either, and the default
          // stopTimeout of 0 waits forever; bound the stop so the CLI
          // is guaranteed to exit with its diagnostic
          spark.conf.set("spark.sql.streaming.stopTimeout", "30s")
          try q.stop()
          catch { case e: Throwable =>
            out.println(s"replicate: stop timed out (${e.getMessage}) — stream thread abandoned")
          }
          out.println("replicate: timed out"); return 1
        }
        val n = new LakehouseTable(spark, dst).read().count()
        out.println(s"replicate: $src -> $dst caught up ($n rows)")
        0
      case "clone" =>
        // zero-copy replica seeding: O(metadata) where `replicate`'s
        // bootstrap copies the data — the composed story is
        //   clone src dst --tag=rel
        //   replicate src dst <keys> --starting-tag=rel
        // (seed at the release by reference, then stream only the
        // post-release changes). --deep copies bytes; the printed pin
        // tag is what protects a shallow clone from source expiry.
        if (args.length < 3) { out.println(usage); return 2 }
        var tag: Option[String] = None
        var snap: Option[Long] = None
        var deep = false
        args.drop(3).foreach {
          case a if a.startsWith("--tag=") =>
            tag = Some(a.stripPrefix("--tag=")).filter(_.nonEmpty)
          case a if a.startsWith("--snapshot=") &&
              a.stripPrefix("--snapshot=").forall(_.isDigit) &&
              a.length > "--snapshot=".length =>
            snap = Some(a.stripPrefix("--snapshot=").toLong)
          case "--deep" => deep = true
          case a =>
            out.println(s"clone: unknown flag '$a' " +
              "(expected --tag=T | --snapshot=N | --deep)"); return 2
        }
        if (tag.isDefined && snap.isDefined) {
          out.println("clone: --tag and --snapshot are mutually exclusive"); return 2
        }
        val head = table.currentSnapshot().getOrElse {
          out.println(s"clone: source ${args(1)} has no snapshots"); return 1
        }
        val c = tag match {
          case Some(t) => table.cloneAtTag(args(2), t, deep)
          case None => table.cloneAtSnapshot(args(2),
            snap.getOrElse(head.snapshotId), deep)
        }
        val pin = c.cloneProvenance.flatMap(_.pinTag)
          .map(p => s", pinned by source tag '$p'").getOrElse("")
        out.println(s"clone: seeded ${args(2)} at snapshot " +
          s"${c.currentSnapshot().get.snapshotId} " +
          (if (deep) "(deep copy)" else "(zero-copy)") + pin)
        0
      case "deepen" =>
        // localize a shallow clone: after this the source may expire
        // or vanish; releases the auto-created pin tag.
        // --all-history localizes every reachable snapshot's foreign
        // references (pre-deepen time travel survives source expiry)
        val n = table.deepen(allHistory = args.contains("--all-history"))
        out.println(s"deepen: $n file(s) localized into ${args(1)}")
        0
      case "annremove" =>
        // index hygiene from the operator console: stop serving the
        // listed vector ids (comma-separated) — a keyed CDC delete
        // against the live codes table, no retraining
        if (args.length < 4) { out.println(usage); return 2 }
        val ids = args(3).split(",").map(_.trim.toLong).toSeq
        import spark.implicits._
        graft.lakehouse.AnnIndex.remove(spark, ids.toDF("vec_id"), args(2))
        out.println(s"annremove: ${ids.size} vector(s) removed from serving")
        0
      case "lookup" =>
        // point lookup THROUGH the bloom index: prints the pruning
        // stats beside the rows so the skipping is observable
        if (args.length < 4) { out.println(usage); return 2 }
        val (files, skipped) = table.pointLookupFiles(args(2), args(3))
        val df = table.readPointLookup(args(2), args(3))
        out.println(s"-- scanned ${files.size} file(s), skipped $skipped")
        val cols = df.columns
        out.println(cols.mkString("\t"))
        df.collect().foreach(r =>
          out.println(cols.indices.map(i => String.valueOf(r.get(i))).mkString("\t")))
        0
      case other =>
        out.println(s"unknown command: $other\n$usage")
        2
    }
  }

  /** `col=value` → equality, `col=lo..hi` → inclusive range (either
    * bound may be empty: `col=5..`, `col=..9`); None on malformed
    * input so the caller prints usage instead of a stack trace. A
    * literal value containing ".." always parses as a range — quote
    * nothing, there is no escape (CLI grammar, documented in usage).
    */
  private def parsePredicate(s: String): Option[graft.lakehouse.ScanPredicate] =
    s.split("=", 2) match {
      case Array(c, rhs) if c.nonEmpty =>
        if (rhs.contains("..")) {
          val Array(lo, hi) = rhs.split("\\.\\.", 2).padTo(2, "")
          Some(graft.lakehouse.ScanPredicate.Range(c,
            Some(lo).filter(_.nonEmpty), Some(hi).filter(_.nonEmpty)))
        } else Some(graft.lakehouse.ScanPredicate.EqualTo(c, rhs))
      case _ => None
    }

  private val usage =
    """usage: graft.Cli lakehouse snapshots <tableDir>
      |       graft.Cli lakehouse query <tableDir> [snapshotId|current] [limit] [col=value | col=lo..hi]
      |       graft.Cli lakehouse rollback <tableDir> <snapshotId>
      |       graft.Cli lakehouse changes <tableDir> <fromSnapshot> <toSnapshot>
      |       graft.Cli lakehouse changes <tableDir> --follow [afterSnapshot]
      |       graft.Cli lakehouse zorder <tableDir> <col1,col2,...> <targetFiles>
      |       graft.Cli lakehouse bloomindex <tableDir> <col>
      |       graft.Cli lakehouse lookup <tableDir> <col> <value>
      |       graft.Cli lakehouse annbuild <vectorTableDir> <indexRoot>
      |       graft.Cli lakehouse annstatus <tableDir> <indexRoot>
      |       graft.Cli lakehouse annremove <tableDir> <indexRoot> <id1,id2,...>
      |       graft.Cli lakehouse replicate <srcTableDir> <dstTableDir> <key1,key2,...> [--max-snapshots=N] [--max-files=N] [--max-bytes=N] [--starting-tag=T]
      |       graft.Cli lakehouse clone <srcTableDir> <dstTableDir> [--tag=T | --snapshot=N] [--deep]
      |       graft.Cli lakehouse deepen <tableDir> [--all-history]""".stripMargin
}
