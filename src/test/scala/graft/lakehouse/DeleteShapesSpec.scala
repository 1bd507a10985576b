package graft.lakehouse

import org.apache.spark.sql.Row
import graft.SparkSpec

/** Differential check of SQL `DELETE FROM` over one seeded catalog
  * table, flat and hive-partitioned: every predicate shape — filterable
  * comparisons, OR, IN-lists, null tests, null-safe equality, LIKE, NOT,
  * an IN-subquery, a correlated EXISTS and no WHERE at all — must leave
  * exactly the rows an in-memory model keeps (SQL DELETE removes a row
  * only where its predicate is TRUE), as one `delete` snapshot each.
  * The Spark jobs each statement runs are reported.
  */
class DeleteShapesSpec extends SparkSpec {

  private lazy val cat: String = {
    val name = "dscat"
    if (spark.conf.getOption(s"spark.sql.catalog.$name").isEmpty) {
      spark.conf.set(s"spark.sql.catalog.$name", classOf[LakehouseCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse", tmpDir(s"$name-wh"))
    }
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    name
  }

  private def rootOf(table: String): String =
    java.nio.file.Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), "db", table)
      .toString

  /** (id, rk, v): three 20-row id ranges, one insert each; every 7th v
    * is NULL, every 4th carries an 'x'.
    */
  private type Rec = (Long, Int, Option[String])
  private val seedRows: Seq[Rec] = (0L until 60L).map { id =>
    (id, (id % 3).toInt,
      if (id % 7 == 0) None else Some((if (id % 4 == 0) "x" else "y") + (id % 5)))
  }

  /** Side table for the subquery shapes. */
  private val sideKeys: Seq[Long] = Seq(22L, 28L, 45L, 100L)

  /** A fresh seeded table: (catalog name, handle). */
  private def seeded(table: String, hive: Boolean): (String, LakehouseTable) = {
    val name = s"$cat.db.$table"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name (id BIGINT, rk INT, v STRING)" +
      (if (hive) " PARTITIONED BY (rk)" else ""))
    seedRows.grouped(20).foreach { chunk =>
      spark.sql(s"INSERT INTO $name VALUES " + chunk.map { case (id, rk, v) =>
        s"($id, $rk, ${v.fold("NULL")(s => s"'$s'")})" }.mkString(", "))
    }
    (name, new LakehouseTable(spark, rootOf(table)))
  }

  private def rowsOf(name: String): Set[Rec] =
    spark.table(name).select("id", "rk", "v").collect().map {
      case Row(id: Long, rk: Int, v) => (id, rk, Option(v.asInstanceOf[String]))
    }.toSet

  /** (label, WHERE clause — "" for none, model: does the predicate hold TRUE). */
  private def shapes(name: String): Seq[(String, String, Rec => Boolean)] = Seq(
    ("id >= c", "WHERE id >= 50", r => r._1 >= 50),
    ("OR", "WHERE id < 3 OR id = 17", r => r._1 < 3 || r._1 == 17),
    ("IN-list", "WHERE id IN (20, 23, 99)", r => Set(20L, 23L, 99L)(r._1)),
    ("IS NULL", "WHERE v IS NULL", r => r._3.isEmpty),
    ("<=>", "WHERE v <=> 'y1'", r => r._3.contains("y1")),
    ("LIKE", "WHERE v LIKE '%x%'", r => r._3.exists(_.contains("x"))),
    // NOT over a NULL v is NULL: those rows survive
    ("NOT", "WHERE NOT (v = 'y2')", r => r._3.exists(_ != "y2")),
    ("IN-subquery", s"WHERE id IN (SELECT k FROM $cat.db.side)", r => sideKeys.contains(r._1)),
    ("correlated EXISTS",
      s"WHERE EXISTS (SELECT 1 FROM $cat.db.side s WHERE s.k = $name.id + 1)",
      r => sideKeys.contains(r._1 + 1)),
    ("no WHERE", "", _ => true))

  for (hive <- Seq(false, true)) {
    val layout = if (hive) "hive-partitioned" else "flat"
    test(s"every DELETE shape removes exactly the model's rows, one delete snapshot each: $layout") {
      val side = s"$cat.db.side"
      spark.sql(s"DROP TABLE IF EXISTS $side")
      spark.sql(s"CREATE TABLE $side (k BIGINT)")
      spark.sql(s"INSERT INTO $side VALUES " + sideKeys.map(k => s"($k)").mkString(", "))
      val (name, t) = seeded(if (hive) "dhive" else "dflat", hive)
      var model = seedRows.toSet
      shapes(name).foreach { case (label, where, hit) =>
        val gone = model.filter(hit)
        assert(gone.nonEmpty, s"$label: the fixture must give the shape rows to delete")
        val snaps = t.listSnapshots().size
        val jobs = jobsRunBy(spark.sql(s"DELETE FROM $name $where"))
        info(s"$layout $label: $jobs Spark jobs")
        model --= gone
        assert(rowsOf(name) === model, label)
        assert(t.listSnapshots().size === snaps + 1, s"$label: one snapshot per statement")
        assert(t.currentSnapshot().get.operation === "delete", label)
      }
      assert(model.isEmpty)
      spark.sql(s"DROP TABLE $name")
      spark.sql(s"DROP TABLE $side")
    }
  }

  private def rowsInFile(t: LakehouseTable, file: String): Long =
    spark.read.parquet(java.nio.file.Paths.get(t.root, file).toString).count()

  test("a DELETE that empties its candidate file commits no zero-row file") {
    val (name, t) = seeded("dempty", hive = false)
    val before = t.currentSnapshot().get.files
    // ids 40..59 are exactly the third insert's files
    spark.sql(s"DELETE FROM $name WHERE id >= 40")
    val files = t.currentSnapshot().get.files
    assert(files.forall(rowsInFile(t, _) > 0), s"a zero-row file was committed: $files")
    assert(files.toSet.subsetOf(before.toSet), s"an emptied file needs no rewrite: $files")
    assert(rowsOf(name) === seedRows.filter(_._1 < 40).toSet)
    spark.sql(s"DROP TABLE $name")
  }
}
