package graft.pos

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The committed POS fixture at [[PosPipeline.DataDir]] is exactly
  * [[PosFixture]]'s output and meets FIXTURES.md §A's contract. Plain
  * file reads, no Spark.
  */
class PosFixtureSpec extends AnyFunSuite {

  private val dir = Paths.get(PosPipeline.DataDir)
  private def read(name: String): String =
    new String(Files.readAllBytes(dir.resolve(name)), "UTF-8")
  /** Data rows of a CSV file, split on commas, after checking its header. */
  private def rows(name: String, header: String): IndexedSeq[Array[String]] = {
    val ls = read(name).split("\n", -1).toIndexedSeq
    assert(ls.head == header, name)
    assert(ls.last == "", s"$name ends with a newline")
    ls.slice(1, ls.length - 1).map(_.split(",", -1))
  }
  private def epoch(ts: String): Long =
    java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
      .toEpochSecond(java.time.ZoneOffset.UTC)

  test("committed fixture is the generator's output, byte for byte") {
    val generated = PosFixture.files()
    val committed = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(committed == generated.map(_._1).toSet)
    generated.foreach { case (name, body) =>
      assert(read(name) == body, s"$name differs from PosFixture's output")
    }
  }

  test("fixture meets the FIXTURES.md §A contract") {
    val online = rows("inventory_change_online_1000.txt", PosFixture.ChangeHeader)
    val store = rows("inventory_change_store001_1000.txt", PosFixture.ChangeHeader)
    assert(online.length == 3735 && store.length == 3538)
    val guid = "\\{[0-9A-F]{8}-[0-9A-F]{4}-[0-9A-F]{4}-[0-9A-F]{4}-[0-9A-F]{12}\\}"
    for ((r, onlineFile) <- online.map(_ -> true) ++ store.map(_ -> false)) {
      val Array(id, item, st, ts, qty, ct) = r
      assert(id.matches(guid), id)
      assert(item.toInt >= 100001 && item.toInt <= 100999)
      assert(st == (if (onlineFile) "0" else "1") || (st == "1" && ct == "4"),
        "the online file holds store 0 rows and store 1 BOPIS rows only")
      assert(Set(1, 2, 3, 4)(ct.toInt))
      assert(if (ct == "3") qty.toInt > 0 else qty.toInt < 0, r.mkString(","))
      assert(epoch(ts) >= epoch("2021-01-01 00:00:00"))
    }
    // every BOPIS sale is in both files, same (trans_id, item, store 1,
    // quantity), 2-14 h apart; no other (trans_id, item) repeats
    def bopis(rs: IndexedSeq[Array[String]]) =
      rs.filter(_(5) == "4").map(r => (r(0), r(1), r(2), r(4)) -> epoch(r(3))).toMap
    val (bo, bs) = (bopis(online), bopis(store))
    assert(bo.nonEmpty && bo.keySet == bs.keySet)
    assert(bo.keys.forall(_._3 == "1"))
    assert(bo.forall { case (k, t) =>
      val gap = math.abs(bs(k) - t)
      gap >= 2 * 3600 && gap <= 14 * 3600
    })
    val keys = (online ++ store).map(r => (r(0), r(1)))
    assert(keys.distinct.length == keys.length - bo.size)

    val times = (0 until 7).map(k => s"2021-01-${"%02d".format(1 + 5 * k)} 00:00:00").toSet
    for ((name, st) <- Seq("inventory_snapshot_online_1000.txt" -> "0",
        "inventory_snapshot_store001_1000.txt" -> "1")) {
      val snap = rows(name, PosFixture.SnapshotHeader)
      assert(snap.length == 6993, name)
      assert(snap.map(_(0).toInt).toSet == (100001 to 100999).toSet)
      assert(snap.forall(r => r(1) == "1" && r(2) == st))
      assert(snap.map(_(3)).toSet == times)
      assert(snap.map(r => (r(0), r(3))).distinct.length == snap.length,
        "one row per (item, store, time)")
    }

    assert(rows("store.txt", "store_id,name").map(_(0)).toSet == Set("0", "1"))
    assert(rows("item_1000.txt", "item_id,name,supplier_id,safety_stock_quantity")
      .map(_(0).toInt) == (100001 to 100999))
    assert(rows("inventory_change_type.txt", "change_type_id,change_type")
      .map(_.mkString(",")).toSet ==
      Set("-1,snapshot", "1,sale", "2,shrink", "3,restock", "4,bopis"))
  }
}
