package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import org.apache.spark.sql.Row

/** A seeded synthetic point-of-sale feed in the reference's `_1000` CSV
  * layout (FIXTURES.md §A): two change files, two snapshot files and three
  * dimension files, with the same file names and columns. It is synthetic
  * data, not the reference's own.
  *
  * Shape: `items` items in two stores (0 = online, 1 = store_001). Each
  * store restates every item's count at 7 snapshot times 5 days apart, as
  * the fixture does. Change transactions hold 1-4 items drawn with Zipf
  * skew. Every BOPIS sale is reported twice, in the online file and in the
  * store file, 2-14 h apart. A BOPIS sale's two copies never straddle its
  * key's latest snapshot, so the gold quantities do not depend on which
  * copy a dedup keeps. The default sizes give each change file about twice
  * the fixture's rows (3,735 online, 3,538 store) over about twice its 999
  * items.
  *
  * The generator also keeps the expected gold table (latest snapshot plus
  * the deduplicated changes at or after it, online BOPIS excluded).
  */
final class PosFeed(val seed: Long, val items: Int = 2000,
    val storeTxns: Int = 2700, val onlineTxns: Int = 2860,
    val bopisTxns: Int = 500) {
  import PosFeed._

  private val rnd = new java.util.Random(seed)
  private val zipf = new Zipf(items, Zipf.YcsbSkew, rnd)
  val firstItem = 100001
  val snapshotTimes: IndexedSeq[Long] =
    (0 until 7).map(k => Start + k * 5 * DaySec + 6 * 3600)
  private val end = Start + 36 * DaySec

  /** (item, store, ts, qty) snapshot rows, ordered by store, time, item. */
  val snapshots: IndexedSeq[(Int, Int, Long, Int)] =
    for {
      store <- 0 to 1
      t <- snapshotTimes
      i <- 0 until items
    } yield (firstItem + i, store, t, rnd.nextInt(500))

  /** Latest snapshot (time, quantity) per (store, item): the last count. */
  val latestSnap: Map[(Int, Int), (Long, Int)] =
    snapshots.filter(_._3 == snapshotTimes.last)
      .map { case (i, st, t, q) => (st, i) -> (t, q) }.toMap

  private def guid(): String =
    f"{${rnd.nextInt()}%08X-${rnd.nextInt(0x10000)}%04X-" +
      f"${rnd.nextInt(0x10000)}%04X-${rnd.nextInt(0x10000)}%04X-" +
      f"${rnd.nextInt()}%08X${rnd.nextInt(0x10000)}%04X}"

  private def time(): Long = Start + (rnd.nextDouble() * (end - Start)).toLong

  /** Move `t` so that `t` and `t + gap` fall on one side of `snap`. */
  private def unstraddle(t: Long, gap: Long, snap: Long): Long =
    if (t < snap && t + gap >= snap) snap + 1 + rnd.nextInt(3600) else t

  /** 70% sales, 10% shrink, 20% restock. */
  private def changeType(): Int = {
    val r = rnd.nextDouble()
    if (r < 0.7) 1 else if (r < 0.8) 2 else 3
  }

  val changes: IndexedSeq[Change] = {
    val out = mutable.ArrayBuffer.empty[Change]
    def txn(store: Int, online: Boolean): Unit = {
      val id = guid()
      val t = time()
      val ct = changeType()
      val its = (1 to 1 + rnd.nextInt(4)).map(_ => firstItem + zipf.next())
        .distinct
      out ++= its.map(i => Change(id, i, store, t,
        if (ct == 3) 10 + rnd.nextInt(91) else -(1 + rnd.nextInt(5)),
        ct, online))
    }
    (0 until storeTxns).foreach(_ => txn(1, online = false))
    (0 until onlineTxns).foreach(_ => txn(0, online = true))
    (0 until bopisTxns).foreach { _ =>
      val id = guid()
      val item = firstItem + zipf.next()
      val gap = 2 * 3600 + rnd.nextInt(12 * 3600)
      val t = unstraddle(time(), gap, latestSnap(1 -> item)._1)
      val qty = -(1 + rnd.nextInt(3))
      out += Change(id, item, 1, t, qty, 4, online = true)
      out += Change(id, item, 1, t + gap, qty, 4, online = false)
    }
    out.toIndexedSeq
  }

  /** Transactions as the replay source groups them: one per (time, id). */
  def transactions: Int = changes.map(c => (c.ts, c.transId)).distinct.size

  /** Expected gold row per (store, item), see [[PosFeed.Gold]]. */
  lazy val gold: Map[(Int, Int), Gold] = {
    // dedup by (trans_id, item_id) as the pipeline does; the copies of a
    // group share quantity and side of the snapshot, only the time differs
    val groups = changes.filter(c => !(c.store == 0 && c.ct == 4))
      .groupBy(c => (c.transId, c.item))
    val byKey = groups.values.groupBy(g => (g.head.store, g.head.item))
    latestSnap.map { case (k, (snapT, snapQ)) =>
      val after = byKey.getOrElse(k, Nil).filter(_.head.ts >= snapT)
      val dq = after.map(_.head.qty.toLong).sum
      val lo = (snapT +: after.map(_.map(_.ts).min).toSeq).max
      val hi = (snapT +: after.map(_.map(_.ts).max).toSeq).max
      k -> Gold(snapQ, dq, snapQ + dq, lo, hi)
    }
  }

  /** Up to three differences between gold `rows` and the model. */
  def mismatches(rows: Array[Row]): Seq[String] = {
    val got = keyed(rows)
    val bad = gold.iterator.filter { case (k, g) =>
      got.get(k).forall { case (sq, cq, cur, dt) =>
        sq != g.snapshotQty || cq != g.changeQty || cur != g.current ||
          dt < g.dtLow || dt > g.dtHigh
      }
    }.take(3).map { case (k, g) => s"$k model $g got ${got.get(k)}" }.toSeq
    if (got.size != gold.size) s"${got.size} keys, model ${gold.size}" +: bad else bad
  }

  private def line(c: Change): String =
    s"${c.transId},${c.item},${c.store},${fmt(c.ts)},${c.qty},${c.ct}"

  /** Write the full feed to `dir`. */
  def write(dir: Path): Unit = {
    writeChanges(dir, Long.MaxValue)
    val snapHeader = "item_id,employee_id,store_id,date_time,quantity"
    for ((store, name) <- Seq(0 -> "online", 1 -> "store001"))
      put(dir.resolve(s"inventory_snapshot_${name}_1000.txt"), snapHeader +:
        snapshots.filter(_._2 == store).map { case (i, s, t, q) =>
          s"$i,1,$s,${fmt(t)},$q" })
    put(dir.resolve("store.txt"), Seq("store_id,name", "0,online", "1,store_001"))
    put(dir.resolve("item_1000.txt"),
      "item_id,name,supplier_id,safety_stock_quantity" +:
        (0 until items).map(i =>
          s"${firstItem + i},item_${firstItem + i},${1 + i % 17},${5 + i % 20}"))
    put(dir.resolve("inventory_change_type.txt"), Seq(
      "change_type_id,change_type", "-1,snapshot", "1,sale", "2,shrink",
      "3,restock", "4,bopis"))
  }

  /** Write the change files with every line timed before `until`: the
    * feed as it stood at that moment. Lines keep their generated order.
    */
  def writeChanges(dir: Path, until: Long): Unit =
    for (online <- Seq(true, false))
      put(dir.resolve(
        s"inventory_change_${if (online) "online" else "store001"}_1000.txt"),
        ChangeHeader +: changes.filter(c => c.online == online && c.ts < until)
          .map(line))

  /** Cut points that split the feed's time range into `n` rounds. */
  def rounds(n: Int): IndexedSeq[Long] = {
    val ts = changes.map(_.ts).sorted
    (1 until n).map(k => ts(ts.size * k / n)) :+ Long.MaxValue
  }
}

object PosFeed {
  /** One CSV change line; `online` picks the file it is written to. */
  final case class Change(transId: String, item: Int, store: Int, ts: Long,
      qty: Int, ct: Int, online: Boolean)

  /** Expected gold row per (store, item): snapshot quantity, change
    * quantity, current inventory, and the range of its `date_time` in
    * epoch seconds. The range is a point unless a duplicate's copies could
    * both be its latest change.
    */
  final case class Gold(snapshotQty: Int, changeQty: Long, current: Long,
      dtLow: Long, dtHigh: Long)

  val Start: Long = LocalDateTime.of(2021, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)
  val DaySec = 86400L
  val ChangeHeader = "trans_id,item_id,store_id,date_time,quantity,change_type_id"
  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Gold rows by (store, item): (snapshot qty, change qty, current qty,
    * date_time in epoch seconds).
    */
  def keyed(rows: Array[Row]): Map[(Int, Int), (Int, Long, Long, Long)] =
    rows.map { r =>
      (r.getAs[Int]("store_id"), r.getAs[Int]("item_id")) ->
        ((r.getAs[Int]("snapshot_quantity"), r.getAs[Long]("change_quantity"),
          r.getAs[Long]("current_inventory"),
          r.getAs[java.sql.Timestamp]("date_time").getTime / 1000))
    }.toMap

  def fmt(epochSec: Long): String =
    LocalDateTime.ofEpochSecond(epochSec, 0, ZoneOffset.UTC).format(Fmt)

  def put(p: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    ()
  }
}

object Zipf {
  /** YCSB's zipfian constant (Cooper et al., SoCC 2010), used for every
    * skewed key choice of the benchmark.
    */
  val YcsbSkew = 0.99
}

/** Zipf(n, s) sampler over 0 until n by inverse CDF. */
final class Zipf(n: Int, s: Double, rnd: java.util.Random) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def next(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
