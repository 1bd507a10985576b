package graft.lakehouse

import org.apache.spark.sql.SparkSession

/** Test scaffolding (test classpath only): the OTHER PROCESS of the
  * tag-vs-expiry arbitration case in [[CrossProcessCommitSpec]]. Boots
  * its own SparkSession, signals ready, waits for go, then walks the
  * table's historical snapshots trying to TAG each one while the
  * parent process runs concurrent expiry sweeps against the same
  * root. Every attempt's outcome (ok / fail) is recorded to a result
  * file — the parent asserts the expiry handshake's contract: an OK
  * tag's snapshot must still resolve (the sweep's second ref listing
  * saw the ref), a FAILED attempt must have left no ref behind (the
  * sweep marked or deleted the snapshot first, and setTag refused or
  * withdrew its ref loudly).
  */
object TagRaceMain {
  def main(args: Array[String]): Unit = {
    val Array(root, nStr, markerDir) = args.take(3)
    val n = nStr.toInt
    try {
      val spark = SparkSession.builder()
        .master("local[2]")
        .appName("graft-tag-race-child")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("tagrace-child-wh").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val t = new LakehouseTable(spark, root)
      val ready = java.nio.file.Paths.get(markerDir, "child-ready")
      val go = java.nio.file.Paths.get(markerDir, "go")
      java.nio.file.Files.writeString(ready, "up")
      val deadline = System.currentTimeMillis() + 120000
      while (!java.nio.file.Files.exists(go)) {
        if (System.currentTimeMillis() > deadline) sys.error("go-marker never appeared")
        Thread.sleep(20)
      }
      val results = (1 to n).map { i =>
        val r =
          try { t.setTag(s"t$i", i.toLong); "ok" }
          catch { case _: Exception => "fail" }
        Thread.sleep(3)
        s"t$i=$r"
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(markerDir, "tags-done"), results.mkString("\n"))
      spark.stop()
      println(s"child: $n tag attempts recorded")
      sys.exit(0)
    } catch {
      case e: Throwable =>
        println(s"child failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        sys.exit(1)
    }
  }
}
