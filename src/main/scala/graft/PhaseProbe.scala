package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Phase-level wall-clock attribution for the composite lifecycle gates
  * (bench tooling, like [[PlanDump]]): runs the exact engine steps a
  * gate runs, stamping nanoTime around each phase, so a 5-second gate
  * number decomposes into train/write/commit/load/serve/... seconds.
  * Usage: `tools/jrun.sh graft.PhaseProbe ann [reps]`.
  */
object PhaseProbe {
  private var t0 = System.nanoTime()
  private def phase(name: String): Unit = {
    val now = System.nanoTime()
    println(f"[phase] ${(now - t0) / 1e9}%7.3f s  $name")
    t0 = now
  }

  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("ann")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session("graft-phaseprobe")
    (1 to reps).foreach { rep =>
      println(s"=== $what rep$rep ===")
      what match {
        case "ann" => annProbe(spark, sfDir)
        case other => sys.error(s"unknown probe $other")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  /** The q122 shape: build (decomposed) + remove + fresh-session load +
    * serve, each phase stamped.
    */
  private def annProbe(s: SparkSession, dir: String): Unit = {
    import graft.lakehouse._
    import graft.queries.LlmSimQueries
    graft.functions.GraftFunctions.register(s)
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_probe_ann").toString
    graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    t0 = System.nanoTime()
    val all = Tables.load(s, dir, "embeddings")
    phase("tables.load")
    // ---- build, decomposed (mirrors AnnIndex.stageVersion) ----
    val e = all.withColumn("nrm", sqrt(expr("dotp(embedding, embedding)"))).cache()
    e.count()
    phase("build: cache embeddings+nrm")
    val cv = LlmSimQueries.ivfCentroidValues(e)
    phase("build: ivf lloyd x2")
    val assigned = LlmSimQueries.ivfAssignV(e, cv)
    val centDf = {
      import s.implicits._
      cv.map { case (cid, cemb, _) => (cid, cemb.toSeq) }.toDF("cell", "c_emb")
    }
    val residuals = assigned.join(broadcast(centDf), "cell")
      .withColumn("embedding", expr(
        "zip_with(embedding, c_emb, (x, c) -> CAST(CAST(x AS DOUBLE) - CAST(c AS DOUBLE) AS FLOAT))"))
      .select(col("vec_id"), col("cell"), col("embedding")).cache()
    residuals.count()
    phase("build: residualize+cache")
    val books = LlmSimQueries.pqCodebooks(residuals)
    phase("build: pq lloyd x2")
    val enc = LlmSimQueries.pqEncode(residuals, books, keep = Seq("cell"))
    enc.write.format("noop").mode("overwrite").save()
    phase("build: pq encode alone (noop)")
    new LakehouseTable(s, root + "/model.v1").append({
      import s.implicits._
      (cv.map { case (cid, emb, _) => ("centroid", -1, cid, emb.toSeq) } ++
        books.zipWithIndex.flatMap { case (b, sub) =>
          b.map { case (cid, c) => ("book", sub, cid, c.toSeq) }
        }).toDF("kind", "sub", "cid", "vec").coalesce(1)
    })
    phase("build: model table append")
    new LakehouseTable(s, root + "/codes.v1").append(enc, partitionBy = Seq("cell"))
    phase("build: codes table append (encode+write)")
    residuals.unpersist(); e.unpersist()
    // hand-publish the pointer so load() resolves
    val ptr = java.nio.file.Paths.get(root, "INDEX.json")
    java.nio.file.Files.writeString(ptr, """{"version":1}""")
    phase("build: publish")
    // ---- remove (CoW applyChanges) ----
    AnnIndex.remove(s, all.filter(col("vec_id") % 5 === 3).select("vec_id"), root)
    phase("remove (CoW applyChanges)")
    // ---- fresh session load + serve ----
    val s2 = s.newSession()
    graft.functions.GraftFunctions.register(s2)
    val idx = AnnIndex.load(s2, root)
    phase("load (fresh session)")
    val e2 = Tables.load(s2, dir, "embeddings")
      .withColumn("nrm", sqrt(expr("dotp(embedding, embedding)"))).cache()
    e2.count()
    phase("serve: cache e2")
    val out = LlmSimQueries.ivfpqServe(s2, e2, idx.centroids, idx.books, idx.codes)
      .localCheckpoint()
    phase("serve: shortlist+rerank+checkpoint")
    out.orderBy(col("q_id"), col("rk"))
      .write.format("noop").mode("overwrite").save()
    e2.unpersist()
    phase("final orderBy+noop")
  }
}
