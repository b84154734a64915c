package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.ApplyChanges
import graft.pos.Debezium
import graft.sources.ManagedTable

/** `cdc_merge`: the reference's Debezium → apply_changes write path on
  * [[ManagedTable]]. The table is keyed by (item_id, store_id) and loaded
  * one store per commit, so each store starts in its own file. Tick `i`
  * carries store `i % Stores`: two ticks in three update, delete and
  * re-insert its items with Zipf skew, the third inserts new items. Each
  * tick parses the Debezium envelopes, merges them and bounds the live
  * file count, as a standing consumer does; insert ticks add files until
  * `boundFiles` compacts. Every fifth tick reads the current state back
  * with a per-store aggregate. The generator keeps the key → latest-row
  * model the reads are checked against.
  */
final class CdcMerge extends Workload {
  import CdcMerge._
  val primary = "merge"
  private val keys = Seq("item_id", "store_id")
  private val wire = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType)))
  private var rnd: java.util.Random = _
  private var zipf: Zipf = _
  private var dir: String = _
  private var ts = 1600000000000L
  private val newItem = mutable.Map.empty[Long, Long].withDefaultValue(Items.toLong)
  private var tick = 0
  /** Live rows: (item, store) → quantity. */
  private val model = mutable.Map.empty[(Long, Long), Int]
  private var changeRows = 0L
  private var compactions = 0
  private val boundMs = mutable.ArrayBuffer.empty[Double]
  private val compactMs = mutable.ArrayBuffer.empty[Double]
  private val traced = mutable.ArrayBuffer.empty[Map[String, Double]]

  private def envelope(item: Long, store: Long, op: String, qty: Int): Row = {
    ts += 1
    val after =
      if (op == "d") "null"
      else s"""{"item_id": $item, "store_id": $store, "employee_id": 1, """ +
        s""""date_time": ${ts * 1000}, "quantity": $qty}"""
    val v = s"""{"before": null, "after": $after, "source": {}, "op": "$op", """ +
      s""""ts_ms": $ts, "transaction": null}"""
    Row(s"""{"item_id": $item, "store_id": $store}""".getBytes("UTF-8"),
      v.getBytes("UTF-8"))
  }

  /** Tick `i`'s changeset, applied to the model as it is drawn. */
  private def changeset(i: Int): Seq[Row] = {
    val store = 1L + i % Stores
    if (i % 3 == 2) (0 until ChangesPerTick / 4).map { _ =>
      newItem(store) += 1
      val q = rnd.nextInt(1000)
      model((newItem(store), store)) = q
      envelope(newItem(store), store, "c", q)
    }
    else (0 until ChangesPerTick).map { _ =>
      val k = (1L + zipf.next(), store)
      val qty = rnd.nextInt(1000)
      if (model.contains(k) && rnd.nextDouble() < DeleteShare) {
        model -= k; envelope(k._1, k._2, "d", 0)
      } else {
        val op = if (model.contains(k)) "u" else "c"
        model(k) = qty; envelope(k._1, k._2, op, qty)
      }
    }
  }

  private def frame(ctx: Ctx, rows: Seq[Row]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 1), wire)

  def setup(ctx: Ctx): Unit = {
    rnd = new java.util.Random(ctx.seed)
    zipf = new Zipf(Items, Zipf.YcsbSkew, rnd)
    dir = ctx.work.resolve("cdc/table").toString
    TableFiles.delete(ctx.spark, dir)
    // the first store creates the table by merge, the others append
    ctx.phase("load")((1 to Stores).foreach { s =>
      val initial = Debezium.parse(frame(ctx, (1 to Items).map { i =>
        val q = rnd.nextInt(1000); model((i.toLong, s.toLong)) = q
        envelope(i, s, "c", q)
      }))
      if (s == 1) ManagedTable.merge(initial, dir, keys, Seq(col("ts_ms")))
      else ManagedTable.appendCommit(initial, dir)
    })
    ctx.phase("warmup")((0 until 3).foreach(_ => runTick(ctx, timed = false)))
  }

  private def current(ctx: Ctx): DataFrame =
    ManagedTable.readCurrent(ctx.spark, dir, col("op") === "d",
      Seq("op", "ts_ms", "date_time"))

  private def runTick(ctx: Ctx, timed: Boolean): Unit = {
    val rows = changeset(tick)
    tick += 1
    changeRows += rows.size
    val bytes = rows.map(r => r.getAs[Array[Byte]](0).length + r.getAs[Array[Byte]](1).length).sum
    val t = ctx.tracer
    val before = if (ctx.tracing) {
      val v = ManagedTable.versions(ctx.spark, dir).last
      Some(v -> TableFiles.manifest(ctx.spark, dir, v))
    } else None
    var mergedV = 0
    def body(): Unit = {
      val parsed = t.span("Debezium.parse")(Debezium.parse(frame(ctx, rows)))
      val v = t.span("ManagedTable.merge")(
        ManagedTable.merge(parsed, dir, keys, Seq(col("ts_ms"))))
      mergedV = v
      val b0 = System.nanoTime()
      val vb = t.span("ManagedTable.boundFiles")(
        ManagedTable.boundFiles(ctx.spark, dir, MaxLiveFiles))
      val ms = (System.nanoTime() - b0) / 1e6
      if (timed) {
        boundMs += ms
        if (vb > v) { compactions += 1; compactMs += ms }
      }
    }
    if (timed) ctx.op("merge")(body()) else body()
    before.foreach { case (prevV, prev) =>
      // layer counts, taken outside the timed op: the merge's own commit,
      // then the live files once boundFiles has compacted
      val now = TableFiles.manifest(ctx.spark, dir, mergedV)
      val written = TableFiles.bytes(ctx.spark, dir, now.data.diff(prev.data))
      val vs = t.span("ManagedTable.versions")(ManagedTable.versions(ctx.spark, dir))
      val live = TableFiles.manifest(ctx.spark, dir, vs.last).data.size
      val parsed = Debezium.parse(frame(ctx, rows))
      val a0 = System.nanoTime()
      t.span("ApplyChanges.latestByKey")(
        ApplyChanges.latestByKey(parsed, keys, Seq(col("ts_ms"))).count())
      traced += Map(
        "merge.files_rewritten" -> prev.data.diff(now.data).size.toDouble,
        "merge.bytes_written" -> written.toDouble,
        "merge.write_amp" -> written.toDouble / bytes,
        // a merge that lost a commit race lands past the next version;
        // with this loop's single client it stays 0
        "merge.retries" -> (mergedV - prevV - 1).toDouble,
        "manifest.bytes" -> now.bytes.toDouble,
        "table.live_files" -> live.toDouble,
        "apply_changes.ms" -> (System.nanoTime() - a0) / 1e6)
    }
  }

  def step(ctx: Ctx): Unit = {
    runTick(ctx, timed = true)
    if (tick % 5 == 0) readBack(ctx)
  }

  private def readBack(ctx: Ctx): Unit =
    ctx.op("read_current") {
      ctx.tracer.span("ManagedTable.readCurrent")(
        current(ctx).groupBy("store_id")
          .agg(sum("quantity").as("q"), count(lit(1)).as("n")).collect())
    }.foreach { rows =>
      val got = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = model.groupBy(_._1._2).map { case (s, kv) =>
        s -> (kv.values.map(_.toLong).sum, kv.size.toLong)
      }
      ctx.check(got == want, s"cdc_merge: per-store aggregate $got != model $want")
    }

  def finish(ctx: Ctx): Unit = {
    val rows = current(ctx).select("item_id", "store_id", "quantity").collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    ctx.check(got == model,
      s"cdc_merge: final readCurrent has ${got.size} keys, model ${model.size}; " +
        s"${got.toSet.diff(model.toSet).take(3)} vs ${model.toSet.diff(got.toSet).take(3)}")
    ctx.latency("merge_ms", "merge")
    ctx.latency("read_current_ms", "read_current")
    ctx.metric("throughput_per_s", changeRows / ctx.measuredS, "1/s")
    ctx.metric("compactions", compactions.toDouble, "count")
    if (ctx.trace) {
      val mw = ctx.tracer.workUnder("ManagedTable.merge")
      val n = math.max(1, ctx.tracer.named("ManagedTable.merge").size)
      def med(k: String) = Stats.median(traced.map(_(k)).toSeq)
      ctx.layers ++= Seq(
        "merge.spark_jobs" -> mw.jobs.toDouble / n,
        "merge.tasks" -> mw.tasks.toDouble / n,
        "compact.count" -> compactions.toDouble,
        "compact.ms" -> (if (compactMs.isEmpty) 0.0 else Stats.mean(compactMs.toSeq)),
        "bound_files.ms" -> Stats.median(boundMs.toSeq),
        "versions.ms" -> Stats.median(ctx.tracer.named("ManagedTable.versions").map(_.ms))) ++
        Seq("merge.files_rewritten", "merge.bytes_written", "merge.write_amp",
          "merge.retries", "manifest.bytes", "table.live_files", "apply_changes.ms")
          .map(k => k -> med(k))
    }
  }
}

object CdcMerge {
  val Stores = 8
  val Items = 1000
  /** Changes per update tick; an insert tick carries a quarter of it. */
  val ChangesPerTick = 200
  val MaxLiveFiles = 10
  /** An insert tick adds ChangesPerTick / 4 keys per two update ticks of
    * ChangesPerTick changes each; deleting 1/8 of the changes to live keys
    * deletes about as many keys as it inserts, as TPC-H's paired refresh
    * functions RF1 (insert) and RF2 (delete) do.
    */
  val DeleteShare = 0.125
}
