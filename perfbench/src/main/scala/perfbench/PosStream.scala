package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.pos.{Medallion, PosPipeline}

/** `pos_stream`: the reference pipeline end to end on a seeded POS feed.
  * A step is one pass, which replays the feed in `Rounds` rounds, as a
  * triggered pipeline sees it grow: each round extends the change files,
  * then runs [[Medallion.runBronze]] (the replay source at a fixed
  * `maxRecordsPerTrigger`) and [[Medallion.runSilver]] (1 h watermarked
  * dedup). After the last round the pass computes [[Medallion.gold]] and
  * checks it against the feed's model and against
  * [[PosPipeline.runEndToEnd]], which set-up runs over the full feed. The
  * loop never touches ManagedTable.
  */
final class PosStream extends Workload {
  import PosStream._
  val primary = "bronze_tick"
  private var feed: PosFeed = _
  private var feedDir: Path = _
  private var cuts: IndexedSeq[Long] = _
  private var pass = 0
  private var root: String = _
  private var drained = 0L
  private var drainMs = 0.0
  private var batchGold: Array[Row] = Array.empty
  private val traced = mutable.ArrayBuffer.empty[(String, StreamingQueryProgress)]
  private var bronzeFiles = 0L
  private var bronzeBytes = 0L
  private var tracedRounds = 0

  def setup(ctx: Ctx): Unit = {
    feed = ctx.phase("feed")(new PosFeed(ctx.seed))
    feedDir = ctx.work.resolve("pos/feed")
    ctx.phase("write")(feed.write(feedDir))
    cuts = feed.rounds(Rounds)
    // warm-up: the batch pipeline over the full feed, which every streamed
    // gold must match, then bronze and silver over the feed's first eighth
    batchGold = ctx.phase("warmup.batch")(
      PosPipeline.runEndToEnd(ctx.spark, feedDir.toString).collect())
    checkGold(ctx, batchGold)
    root = ctx.work.resolve("pos/warmup").toString
    TableFiles.delete(ctx.spark, root)
    feed.writeChanges(feedDir, feed.rounds(8).head)
    ctx.phase("warmup.bronze")(
      Medallion.runBronze(ctx.spark, root, feedDir.toString, MaxPerTrigger))
    ctx.phase("warmup.silver")(Medallion.runSilver(ctx.spark, root))
    TableFiles.delete(ctx.spark, root)
    takeProgress(ctx)
  }

  private def takeProgress(ctx: Ctx): Seq[(String, StreamingQueryProgress)] = {
    org.apache.spark.perfbenchshim.ListenerBus.drain(ctx.spark.sparkContext)
    ctx.ticks.take().flatMap { p =>
      val sink = Option(p.sink).map(_.description).getOrElse("")
      if (root == null || !sink.contains(root)) None
      else if (sink.contains(s"$root/bronze")) Some("bronze" -> p)
      else Some("silver" -> p)
    }
  }

  /** One pass: `Rounds` rounds, then gold. */
  def step(ctx: Ctx): Unit = {
    pass += 1
    root = ctx.work.resolve(s"pos/pass-$pass").toString
    TableFiles.delete(ctx.spark, root)
    cuts.foreach(round(ctx, _))
    val t = ctx.tracer
    ctx.op("gold") {
      t.span("Medallion.gold") {
        val g = Medallion.gold(ctx.spark, root, feedDir.toString)
        t.span("plan")(g.queryExecution.executedPlan)
        t.span("exec")(g.collect())
      }
    }.foreach { rows =>
      checkGold(ctx, rows)
      ctx.check(deterministic(rows) == deterministic(batchGold),
        "pos_stream: Medallion.gold and PosPipeline.runEndToEnd differ")
    }
    if (ctx.tracing) t.span("ApplyChanges.applyChanges")(
      PosPipeline.inventorySnapshot(PosPipeline.readSnapshots(ctx.spark,
        feedDir.toString)).count())
  }

  /** Extend the change files to `cut`, then drain them to bronze and silver. */
  private def round(ctx: Ctx, cut: Long): Unit = {
    val t = ctx.tracer
    feed.writeChanges(feedDir, cut)
    val b0 = if (ctx.tracing) TableFiles.parquetUnder(ctx.spark, s"$root/bronze") else (0L, 0L)
    val t0 = System.nanoTime()
    val ok = ctx.op("round") {
      t.span("Medallion.runBronze")(
        Medallion.runBronze(ctx.spark, root, feedDir.toString, MaxPerTrigger))
      t.span("Medallion.runSilver")(Medallion.runSilver(ctx.spark, root))
    }.isDefined
    val ms = (System.nanoTime() - t0) / 1e6
    val progress = takeProgress(ctx)
    progress.foreach { case (stage, p) =>
      val ms = p.durationMs.get("triggerExecution").toDouble
      ctx.sample("tick", ms)
      ctx.sample(s"${stage}_tick", ms)
    }
    if (ok) {
      drained += progress.filter(_._1 == "bronze").map(_._2.numInputRows).sum
      drainMs += ms
    }
    if (ctx.tracing) {
      traced ++= progress
      tracedRounds += 1
      val b1 = TableFiles.parquetUnder(ctx.spark, s"$root/bronze")
      bronzeFiles += b1._1 - b0._1
      bronzeBytes += b1._2 - b0._2
    }
  }

  private def checkGold(ctx: Ctx, rows: Array[Row]): Unit = {
    val bad = feed.mismatches(rows)
    ctx.check(bad.isEmpty, s"pos_stream: gold differs from the model: ${bad.mkString("; ")}")
  }

  /** The gold columns that do not depend on which duplicate a dedup keeps. */
  private def deterministic(rows: Array[Row]) =
    PosFeed.keyed(rows).map { case (k, v) => k -> (v._1, v._2, v._3) }

  def finish(ctx: Ctx): Unit = {
    ctx.latency("tick_ms", "tick")
    ctx.latency("bronze_tick_ms", "bronze_tick")
    ctx.metric("events_per_s", drained / math.max(1e-9, drainMs / 1000), "1/s")
    ctx.metric("throughput_per_s", drained / math.max(1e-9, drainMs / 1000), "1/s")
    ctx.metric("gold_s", Stats.median(ctx.ms("gold")) / 1000, "s")
    ctx.metric("feed_transactions", feed.transactions.toDouble, "count")
    ctx.metric("feed_change_rows", feed.changes.size.toDouble, "count")
    if (ctx.trace) layers(ctx)
  }

  private def layers(ctx: Ctx): Unit = {
    val t = ctx.tracer
    def of(stage: String) = traced.filter(_._1 == stage).map(_._2).toSeq
    def dur(ps: Seq[StreamingQueryProgress], k: String) =
      Stats.median(ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    val bronze = of("bronze")
    val silver = of("silver")
    val state = silver.flatMap(_.stateOperators.headOption)
    val rounds = math.max(1, tracedRounds)
    def phase(ph: String) = {
      val ids = t.named("Medallion.gold").map(_.id).toSet
      Stats.median(t.all.filter(s => s.name == ph && ids(s.parent)).map(_.ms))
    }
    val gw = t.workUnder("Medallion.gold")
    val golds = math.max(1, t.named("Medallion.gold").size)
    ctx.layers ++= Seq(
      "replay.latest_offset_ms" -> dur(bronze, "latestOffset"),
      "replay.get_batch_ms" -> dur(bronze, "getBatch"),
      "replay.records" -> bronze.map(_.numInputRows).sum.toDouble / rounds,
      "bronze.batches" -> bronze.size.toDouble / rounds,
      "bronze.add_batch_ms" -> dur(bronze, "addBatch"),
      "bronze.query_planning_ms" -> dur(bronze, "queryPlanning"),
      "bronze.wal_commit_ms" -> dur(bronze, "walCommit"),
      "bronze.files_written" -> bronzeFiles.toDouble / rounds,
      "bronze.bytes_written" -> bronzeBytes.toDouble / rounds,
      "silver.batches" -> silver.size.toDouble / rounds,
      "silver.add_batch_ms" -> dur(silver, "addBatch"),
      "silver.state_rows" -> Stats.median(state.map(_.numRowsTotal.toDouble)),
      "silver.state_bytes" -> Stats.median(state.map(_.memoryUsedBytes.toDouble)),
      "silver.late_dropped" -> state.map(_.numRowsDroppedByWatermark).sum.toDouble / rounds,
      "silver.rows_out" -> state.map(_.numRowsUpdated).sum.toDouble / rounds,
      "gold.plan_ms" -> phase("plan"),
      "gold.exec_ms" -> phase("exec"),
      "gold.spark_jobs" -> gw.jobs.toDouble / golds,
      "gold.shuffle_bytes" -> gw.shuffleBytes.toDouble / golds,
      "apply_changes.ms" -> Stats.median(t.named("ApplyChanges.applyChanges").map(_.ms)))
  }
}

object PosStream {
  val Rounds = 2
  val MaxPerTrigger = 500
}
