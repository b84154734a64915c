package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.pos.PosPipeline
import graft.sources.PosReplaySource

/** The benchmark's own checks: the POS feed is byte-deterministic per
  * seed, a feed cut at a round boundary replays as a prefix of the full
  * feed, and the feed's gold model matches [[PosPipeline.runEndToEnd]] on a
  * tiny seed. `SelfTest <work dir>`; exits 1 on any failure.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    var failures = 0
    def check(ok: Boolean, what: String): Unit = {
      println((if (ok) "PASS " else "FAIL ") + what)
      if (!ok) failures += 1
    }
    def files(d: Path): Seq[String] =
      Files.list(d).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    def same(a: Path, b: Path, f: String): Boolean =
      java.util.Arrays.equals(Files.readAllBytes(a.resolve(f)), Files.readAllBytes(b.resolve(f)))

    val Seq(a, b, c) = Seq("a", "b", "c").map(work.resolve)
    new PosFeed(7).write(a); new PosFeed(7).write(b); new PosFeed(8).write(c)
    check(files(a).size == 7 && files(a) == files(b) &&
      files(a).forall(same(a, b, _)), "one seed writes byte-identical feed files")
    check(!same(a, c, "inventory_change_store001_1000.txt"),
      "another seed writes another feed")

    val feed = new PosFeed(7)
    val full = PosReplaySource.buildDocs(a.toString)
    feed.writeChanges(b, feed.rounds(2).head)
    val cut = PosReplaySource.buildDocs(b.toString)
    check(cut.nonEmpty && cut.size < full.size &&
      cut.indices.forall(i => java.util.Arrays.equals(cut(i).value, full(i).value)),
      "a feed cut at a round boundary replays as a prefix of the full feed")
    check(feed.changes.groupBy(c => (c.transId, c.item)).exists(_._2.size > 1),
      "the feed holds duplicate reports")

    val tiny = new PosFeed(3, items = 40, storeTxns = 200, onlineTxns = 80, bopisTxns = 60)
    val dir = work.resolve("tiny")
    tiny.write(dir)
    val spark = Main.session(work, 2)
    val bad = tiny.mismatches(PosPipeline.runEndToEnd(spark, dir.toString).collect())
    check(bad.isEmpty, "the gold model matches PosPipeline.runEndToEnd on a tiny seed" +
      (if (bad.isEmpty) "" else s": ${bad.mkString("; ")}"))
    spark.stop()
    sys.exit(if (failures == 0) 0 else 1)
  }
}
