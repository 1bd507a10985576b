package graft

/** Focused single-query timing harness for iterating on one operator
  * without paying for the full [[Bench]] suite: `runMain graft.QBench
  * q63_ann_ivf [q47_ngram_jaccard ...] [--reps N]`. Same session
  * config as Bench; each query is materialized with the same
  * noop-write and the cache is cleared between runs.
  */
object QBench {
  def main(args: Array[String]): Unit = {
    // both `--reps=N` and `--reps N` (the Cli flag grammar)
    @scala.annotation.tailrec
    def parse(rest: List[String], reps: Int, prof: Boolean,
        names: List[String]): (Int, Boolean, List[String]) = rest match {
      case Nil => (reps, prof, names.reverse)
      case a :: tail if a.startsWith("--reps=") => parse(tail, a.stripPrefix("--reps=").toInt, prof, names)
      case "--reps" :: n :: tail => parse(tail, n.toInt, prof, names)
      case "--profile" :: tail => parse(tail, reps, prof = true, names)
      case "--trace" :: tail =>
        sys.props("graft.qbench.trace") = "1"; parse(tail, reps, prof = true, names)
      case "--sample" :: tail =>
        sys.props("graft.qbench.sample") = "1"; parse(tail, reps, prof, names)
      case a :: tail => parse(tail, reps, prof, a :: names)
    }
    val (reps, profile, names) = parse(args.toList, 2, prof = false, Nil)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session("graft-qbench")
    // --profile: count Spark jobs/stages/tasks per rep — the structural
    // signal behind a wall-clock number (a lifecycle gate that runs 120
    // tiny jobs is paying scheduler+codegen overhead 120×, whatever the
    // data volume says)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val jobWallNs = new java.util.concurrent.atomic.AtomicLong
    val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    if (profile) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size.toLong)
          tasks.addAndGet(j.stageInfos.map(_.numTasks.toLong).sum)
          jobStartNs.put(j.jobId, System.nanoTime())
          if (sys.props.contains("graft.qbench.trace")) {
            val stageStr = j.stageInfos.map(si =>
              s"${si.numTasks}t:${si.name.replaceAll("\\s+", " ").take(60)}")
              .mkString(" | ")
            // the stage's creation stack pins the true origin of jobs
            // whose callsite is an async-capture lambda
            // (withThreadLocalCaptured at CompletableFuture.java)
            val origin = j.stageInfos.headOption.map { si =>
              val ls = si.details.linesIterator.toSeq
              val graftish = ls.filter(l => l.contains("graft.") ||
                l.contains("SchemaMergeUtils") || l.contains("ParquetFileFormat") ||
                l.contains("DataSource"))
              (if (graftish.nonEmpty) graftish else ls.drop(1)).take(2).mkString(" <- ")
            }.getOrElse("")
            println(s"[trace] job=${j.jobId} stages=${j.stageInfos.size} " +
              s"tasks=${j.stageInfos.map(_.numTasks).sum} :: $stageStr ;; $origin")
          }
        }
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobStartNs.remove(j.jobId)).foreach(t0 =>
            jobWallNs.addAndGet(System.nanoTime() - t0))
        }
      })
    // --sample: 10ms wall-clock sampler over the MAIN thread — a poor
    // man's async-profiler for the driver half of a lifecycle gate
    // (attach-based jstack is unavailable in this sandbox). Prints a
    // frame histogram at the end keyed by the first graft/spark.sql
    // frame, so driver time attributes to parse/analyze/commit/etc.
    val sampleHist = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    if (sys.props.contains("graft.qbench.sample")) {
      val mainThread = Thread.currentThread()
      val t = new Thread(() => {
        while (true) {
          // MAIN plus any live stream-execution threads: lifecycle
          // gates run their drains on MicroBatchExecution threads the
          // main-only sampler was blind to
          val streamThreads = {
            import scala.jdk.CollectionConverters._
            Thread.getAllStackTraces.keySet.asScala.filter(th =>
              th.getName.startsWith("stream execution thread"))
          }
          (Iterator(mainThread) ++ streamThreads.iterator).foreach { th =>
          val st = th.getStackTrace
          if (st.nonEmpty) {
            val interesting = st.find { f =>
              val c = f.getClassName
              (c.startsWith("graft.") || c.startsWith("org.apache.spark.sql")) &&
                !c.contains("QBench")
            }.getOrElse(st.head)
            // thread-group tag (ADVICE r16): ticks from stream-execution
            // threads must not masquerade as main-thread wall share
            val grp = if (th eq mainThread) "" else " [stream]"
            val key = s"${interesting.getClassName.split('.').takeRight(2).mkString(".")}.${interesting.getMethodName}" +
              (if (st.head.toString.contains("Object.wait") || st.head.toString.contains("park")) " [WAIT]" else " [RUN]") + grp
            sampleHist.computeIfAbsent(key, _ => new java.util.concurrent.atomic.AtomicLong)
              .incrementAndGet()
          }
          }
          Thread.sleep(10)
        }
      })
      t.setDaemon(true)
      t.start()
    }
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      (1 to reps).foreach { i =>
        jobs.set(0); stages.set(0); tasks.set(0); jobWallNs.set(0)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        val profStr = if (profile)
          f" jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} " +
            f"jobwall=${jobWallNs.get / 1e9}%.3f" else ""
        println(f"[qbench] $name rep$i: $sec%.3f s ($sfDir)$profStr")
      }
    }
    if (!sampleHist.isEmpty) {
      import scala.jdk.CollectionConverters._
      println("[sample] main-thread frame histogram (10ms ticks):")
      sampleHist.asScala.toSeq.sortBy(-_._2.get).take(30).foreach { case (k, v) =>
        println(f"[sample] ${v.get}%5d  $k")
      }
    }
    spark.stop()
  }
}
