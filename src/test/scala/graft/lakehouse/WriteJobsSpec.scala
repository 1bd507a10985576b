package graft.lakehouse

import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** The Spark jobs each driver-side write call site runs, on a flat and
  * a hive-partitioned catalog table: `append`, `upsert` (copy-on-write
  * and merge-on-read), `overwrite`, a SQL `UPDATE` (`sqlMutate`),
  * `compact`, `foldTombstones`, `compactZOrder` and a SQL `INSERT
  * INTO`. Each count is reported as an `info` line, and the upsert's
  * is pinned; the rows after the sequence must equal an in-memory model.
  */
class WriteJobsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val cat: String = {
    val name = "wjcat"
    if (spark.conf.getOption(s"spark.sql.catalog.$name").isEmpty) {
      spark.conf.set(s"spark.sql.catalog.$name", classOf[LakehouseCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse", tmpDir(s"$name-wh"))
    }
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    name
  }

  private type Rec = (Long, String, String)

  private def batch(rows: Seq[Rec]): DataFrame = rows.toDF("k", "rk", "v").coalesce(2)

  private def rec(k: Long, tag: String): Rec = (k, if (k % 2 == 0) "even" else "odd", s"$tag$k")

  for (hive <- Seq(false, true)) {
    val layout = if (hive) "hive" else "flat"
    test(s"every driver write call site reports its Spark jobs: $layout") {
      val table = s"wj_$layout"
      val name = s"$cat.db.$table"
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(s"CREATE TABLE $name (k BIGINT, rk STRING, v STRING)" +
        (if (hive) " PARTITIONED BY (rk)" else ""))
      val t = new LakehouseTable(spark, java.nio.file.Paths.get(
        spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), "db", table).toString)
      val partitionBy = if (hive) Seq("rk") else Nil
      var model: Map[Long, Rec] = Map.empty
      def land(rows: Seq[Rec]): Unit = model ++= rows.map(r => r._1 -> r)
      def site(label: String)(body: => Unit): Int = {
        val jobs = jobsRunBy(body)
        info(s"$layout $label: $jobs Spark jobs")
        jobs
      }

      val seed = (1L to 40L).map(rec(_, "a"))
      site("append") { t.append(batch(seed), partitionBy); () }
      land(seed)
      val more = (41L to 60L).map(rec(_, "a"))
      site("append (second)") { t.append(batch(more), partitionBy); () }
      land(more)
      val up = (35L to 45L).map(rec(_, "u"))
      val upsertJobs = site("upsert") { t.upsert(batch(up), Seq("k")); () }
      // the staged write and the one rewrite job
      assert(upsertJobs <= 2, s"a copy-on-write upsert ran $upsertJobs Spark jobs")
      land(up)
      site("sqlMutate (UPDATE)") { spark.sql(s"UPDATE $name SET v = 'x' WHERE k <= 5"); () }
      land((1L to 5L).map(k => model(k).copy(_3 = "x")))
      val mor = (50L to 55L).map(rec(_, "m"))
      site("upsert (merge-on-read)") { t.upsert(batch(mor), Seq("k"), mergeOnRead = true); () }
      land(mor)
      site("foldTombstones") { t.foldTombstones(); () }
      site("compact") { t.compact(fileThreshold = 1, maxRows = Long.MaxValue); () }
      site("compactZOrder") { t.compactZOrder(Seq("k"), targetFiles = 2); () }
      assert(t.read().select("k", "rk", "v").as[Rec].collect().toSet === model.values.toSet)
      val fresh = (100L to 120L).map(rec(_, "o"))
      site("overwrite") { t.overwrite(batch(fresh)); () }
      assert(t.read().select("k", "rk", "v").as[Rec].collect().toSet === fresh.toSet)
      val inserted = (121L to 140L).map(rec(_, "i"))
      batch(inserted).createOrReplaceTempView(s"wj_ins_$layout")
      site("SQL INSERT INTO") { spark.sql(s"INSERT INTO $name SELECT k, rk, v FROM wj_ins_$layout"); () }
      assert(t.read().select("k", "rk", "v").as[Rec].collect().toSet === (fresh ++ inserted).toSet)
      spark.sql(s"DROP TABLE IF EXISTS $name")
    }
  }
}
