package graft

import org.apache.spark.sql.SparkSession

/** Plan-artifact dumper for the optimization rounds: for each named
  * query, write the final DataFrame's `.explain("formatted")` text to
  * `<outDir>/<name>.txt` — the judge-checkable evidence behind plan
  * claims (Exchange counts, join strategies, PushedFilters). Same
  * session config as [[Bench]] so the captured plans are the plans the
  * bench runs.
  *
  * Usage: `PlanDump <outDir> <query> [query ...]` (env:
  * SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <query> [query ...]")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session("graft-plandump")
    args.drop(1).foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"), txt)
        println(s"[plandump] wrote ${outDir.resolve(s"$name.txt")}")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
      // queries that localCheckpoint before their final sort truncate
      // the public plan to a Scan ExistingRDD — ALSO dump the
      // pre-checkpoint computation for those, it is the plan the
      // optimization claims are about
      innerFrames.get(name).foreach { inner =>
        try {
          val df = inner(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(outDir.resolve(s"${name}_inner.txt"), txt)
          println(s"[plandump] wrote ${outDir.resolve(s"${name}_inner.txt")}")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name inner failed: ${e.getMessage}")
        }
      }
      // named plan VARIANTS (e.g. the pre-optimization shape rebuilt
      // from the same code with the optimization switched off) — the
      // honest "before" artifact when the only delta is the switch
      variantFrames.filter(_._1._1 == name).foreach { case ((_, suffix), fn2) =>
        try {
          val df = fn2(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), txt)
          println(s"[plandump] wrote ${outDir.resolve(s"${name}_$suffix.txt")}")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name $suffix failed: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }

  /** The pre-localCheckpoint computation of checkpoint-truncated
    * queries (the frame the public form materializes then sorts).
    */
  private val innerFrames: Map[String,
      (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "q47_ngram_jaccard" -> ((s, dir) =>
      graft.queries.LlmTextQueries.ngramJaccardPairs(s, dir)._1),
    "q108_lm_fluency" -> ((s, dir) =>
      graft.queries.CorpusStatQueries.lmFluencyScreen(s, dir)._1),
    "q52_minhash_lsh" -> ((s, dir) =>
      graft.queries.LlmSimQueries.minhashPairs(s, dir)._1),
    "q107_containment_dup" -> ((s, dir) =>
      graft.queries.CorpusStatQueries.containmentPairs(s, dir)._1),
    "q53_ann_lsh" -> ((s, dir) =>
      graft.queries.LlmSimQueries.annCandidateFrame(s, dir, spread = true)),
    "q67_neardup_lsh" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables.load(s, dir, "embeddings")
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding"))
      graft.queries.LlmSimQueries.neardupCandidateFrame(e, spread = true)
    }))

  /** (query, suffix) → frame: named plan variants, written as
    * `<query>_<suffix>.txt`. The `inner_nospread` variants rebuild the
    * r17 under-split-spread queries with the spread OFF — the exact
    * pre-optimization plan shape, from one code body.
    */
  private val variantFrames: Map[(String, String),
      (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    ("q53_ann_lsh", "inner_nospread") -> ((s, dir) =>
      graft.queries.LlmSimQueries.annCandidateFrame(s, dir, spread = false)),
    ("q67_neardup_lsh", "inner_nospread") -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables.load(s, dir, "embeddings")
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding"))
      graft.queries.LlmSimQueries.neardupCandidateFrame(e, spread = false)
    }))
}
