package graft.pos

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable

/** Seeded generator of the synthetic POS fixture committed at
  * `data/point_of_sale_simulated_1000/` ([[PosPipeline.DataDir]]), in the
  * reference's `_1000` CSV layout (FIXTURES.md §A). The data is synthetic,
  * not the reference's own; it meets FIXTURES.md §A's contract and nothing
  * else is tuned:
  *
  *   - 3,735 rows in the online change file and 3,538 in the store001
  *     file, `{GUID}` trans ids, items 100001–100999, stores 0 and 1;
  *   - change types 1–4 (sale, shrink, restock, BOPIS), with sale, shrink
  *     and BOPIS quantities below 0 and restock quantities above 0;
  *   - every BOPIS sale (store 1) is reported in the online file and again
  *     in the store001 file 2–14 h later, with the same trans id, item and
  *     quantity;
  *   - 6,993 snapshot rows per store: every item's count at 7 times 5 days
  *     apart from 2021-01-01, employee 1;
  *   - the `store`, `item_1000` and `inventory_change_type` dimensions.
  *
  * Change times are uniform over January 2021. Rows are written in
  * (date_time, trans_id, item_id) order. PosFixtureSpec checks that the
  * committed files are this generator's output, byte for byte.
  *
  * Regenerate with
  * `sbt "Test/runMain graft.pos.PosFixture data/point_of_sale_simulated_1000"`.
  */
object PosFixture {

  val Seed = 1000L
  val OnlineRows = 3735
  val StoreRows = 3538
  /** BOPIS rows per change file: each is one half of a reported pair. */
  val BopisRows = 300
  val Items = 999
  val FirstItem = 100001
  val Snapshots = 7
  val SnapshotEveryDays = 5
  val ChangeDays = 31

  val Start: Long = LocalDateTime.of(2021, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)
  private val Hour = 3600
  private val Day = 24 * Hour

  val ChangeHeader = "trans_id,item_id,store_id,date_time,quantity,change_type_id"
  val SnapshotHeader = "item_id,employee_id,store_id,date_time,quantity"

  /** One change row; `online` picks the file it is written to. */
  final case class Change(transId: String, item: Int, store: Int, ts: Long,
      qty: Int, ct: Int, online: Boolean)

  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def fmt(epochSec: Long): String =
    LocalDateTime.ofEpochSecond(epochSec, 0, ZoneOffset.UTC).format(Fmt)

  /** Every fixture file, name → content. */
  def files(): Seq[(String, String)] = {
    val rnd = new java.util.Random(Seed)
    val ids = mutable.HashSet.empty[String]
    def guid(): String = {
      def hex(digits: Int) =
        (1 to digits).map(_ => "0123456789ABCDEF".charAt(rnd.nextInt(16))).mkString
      val g = s"{${hex(8)}-${hex(4)}-${hex(4)}-${hex(4)}-${hex(12)}}"
      if (ids.add(g)) g else guid()
    }
    def time(): Long = Start + rnd.nextInt(ChangeDays * Day)
    /** `n` distinct items. */
    def items(n: Int): Seq[Int] = {
      val out = mutable.LinkedHashSet.empty[Int]
      while (out.size < n) out += FirstItem + rnd.nextInt(Items)
      out.toSeq
    }

    val changes = mutable.ArrayBuffer.empty[Change]
    var bopis = 0
    while (bopis < BopisRows) {
      val id = guid()
      val t = time()
      val gap = 2 * Hour + rnd.nextInt(12 * Hour + 1)
      items(math.min(1 + rnd.nextInt(2), BopisRows - bopis)).foreach { i =>
        val q = -(1 + rnd.nextInt(3))
        changes += Change(id, i, 1, t, q, 4, online = true)
        changes += Change(id, i, 1, t + gap, q, 4, online = false)
        bopis += 1
      }
    }
    for ((store, rows) <- Seq(0 -> (OnlineRows - BopisRows), 1 -> (StoreRows - BopisRows))) {
      var left = rows
      while (left > 0) {
        val id = guid()
        val t = time()
        val r = rnd.nextInt(10)
        val ct = if (r < 7) 1 else if (r < 8) 2 else 3
        items(math.min(1 + rnd.nextInt(4), left)).foreach { i =>
          val q = ct match {
            case 1 => -(1 + rnd.nextInt(5))
            case 2 => -(1 + rnd.nextInt(3))
            case _ => 10 + rnd.nextInt(91)
          }
          changes += Change(id, i, store, t, q, ct, online = store == 0)
          left -= 1
        }
      }
    }

    def changeFile(online: Boolean): String =
      lines(ChangeHeader +: changes.filter(_.online == online)
        .sortBy(c => (c.ts, c.transId, c.item))
        .map(c => s"${c.transId},${c.item},${c.store},${fmt(c.ts)},${c.qty},${c.ct}")
        .toSeq)
    def snapshotFile(store: Int): String =
      lines(SnapshotHeader +: (for {
        k <- 0 until Snapshots
        i <- FirstItem until FirstItem + Items
      } yield s"$i,1,$store,${fmt(Start + k * SnapshotEveryDays * Day)},${rnd.nextInt(201)}"))

    Seq(
      "inventory_change_online_1000.txt" -> changeFile(online = true),
      "inventory_change_store001_1000.txt" -> changeFile(online = false),
      "inventory_snapshot_online_1000.txt" -> snapshotFile(0),
      "inventory_snapshot_store001_1000.txt" -> snapshotFile(1),
      "store.txt" -> lines(Seq("store_id,name", "0,online", "1,store_001")),
      "item_1000.txt" -> lines("item_id,name,supplier_id,safety_stock_quantity" +:
        (FirstItem until FirstItem + Items).map(i =>
          s"$i,item_$i,${1 + rnd.nextInt(20)},${5 + rnd.nextInt(26)}")),
      "inventory_change_type.txt" -> lines(Seq("change_type_id,change_type",
        "-1,snapshot", "1,sale", "2,shrink", "3,restock", "4,bopis")))
  }

  private def lines(ls: Seq[String]): String = ls.mkString("", "\n", "\n")

  /** Write every fixture file into the directory `args(0)`. */
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: PosFixture <outDir>")
    val dir = Files.createDirectories(Paths.get(args(0)))
    files().foreach { case (name, body) =>
      Files.write(dir.resolve(name), body.getBytes(UTF_8))
    }
  }
}
