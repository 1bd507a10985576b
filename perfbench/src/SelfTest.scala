package perfbench

import scala.collection.mutable

/** Checks of the generator and the latest-wins model that need no
  * Spark session; run by perfbench/tests/test_generator.py. Prints one
  * `ok <name>` / `FAIL <name>` line per check and exits 1 on a failure.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val failures = mutable.Buffer.empty[String]
    def check(name: String)(ok: Boolean): Unit = {
      println(s"${if (ok) "ok" else "FAIL"} $name")
      if (!ok) failures += name
    }

    def log(workload: String, seed: Long): String =
      new WalStage(CdcGen.stream(workload, seed, 2000), 8).lines(3000, 0L)
    for (w <- Seq("cdc_append", "cdc_keyed")) {
      val a = log(w, 1)
      check(s"$w: same seed gives a byte-identical event log")(a == log(w, 1))
      check(s"$w: another seed gives another event log")(a != log(w, 2))
      check(s"$w: 3000 envelopes")(a.count(_ == '\n') == 3000)
    }
    val keyed = log("cdc_keyed", 3)
    check("cdc_keyed: the stream carries updates, inserts and deletes")(
      Seq("\"op\":\"u\"", "\"op\":\"c\"", "\"op\":\"d\"").forall(keyed.contains))

    val r1 = Array[Any](1L, 10L, "O", 5.5, "1999-01-01", "2-HIGH")
    val r7 = Array[Any](7L, 70L, "F", 7.25, "1998-02-02", "5-LOW")
    val r7b = Array[Any](7L, 71L, "P", 8.0, "1998-02-03", "5-LOW")
    val m = new LatestWinsModel(Iterator(r1))
    // one batch: insert then delete of the same key leaves no row
    Seq(Change('c', 7L, r7), Change('d', 7L, null)).foreach(m.apply)
    check("model: insert then delete of one key in a batch removes it")(!m.contains(7L) && m.size == 1)
    // a later update replaces the row; an earlier row's hash is gone
    Seq(Change('c', 7L, r7), Change('u', 7L, r7b)).foreach(m.apply)
    check("model: the latest write of a key wins")(m.get(7L).exists(_ sameElements r7b))
    check("model: content hash is that of the surviving rows")(
      m.contentHash == Canon.hash(r1.toSeq) + Canon.hash(r7b.toSeq))
    m.apply(Change('d', 99L, null))
    check("model: deleting an absent key is a no-op")(m.size == 2)

    // the stream's expected state equals an independent replay of its
    // changes into a fresh model over the same seed rows
    val s = new KeyedStream(5, 500)
    val replay = new LatestWinsModel(KeyedStream.seedTable(5, 500))
    (0 until 5000).foreach(_ => replay.apply(s.next()))
    check("model: stream expectation equals a replay")(
      s.expected == ((replay.size.toLong, replay.contentHash)))

    if (failures.nonEmpty) sys.exit(1)
  }
}
