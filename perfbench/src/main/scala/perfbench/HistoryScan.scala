package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.ManagedTable

/** `history_scan`: a read-mostly loop over a table with a long history.
  * Set-up builds `Versions` small `appendCommit` versions, with a
  * `deleteWhere` deletion vector every 20th. Each step reads the head
  * twice through [[ManagedTable.read]] (an aggregate), probes a narrow id range
  * through the `graft` connector, reads an older version one way or the
  * other, and every other step appends (every tenth deletes). The model holds every version's live ids;
  * each read must match its row count and value sum.
  */
final class HistoryScan extends Workload {
  import HistoryScan._
  val primary = "read_managed"
  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("bucket", IntegerType), StructField("value", LongType)))
  private var rnd: java.util.Random = _
  private var dir: String = _
  private var nextId = 0L
  /** Live ids per committed version. */
  private val live = mutable.ArrayBuffer(Set.empty[Long])
  private val appendMs = mutable.ArrayBuffer.empty[Double]
  private var step = 0
  private var reads = 0L

  private def value(id: Long): Long = (id * 7919) % 1000

  private def append(ctx: Ctx): Unit = {
    val rows = (0 until RowsPerVersion).map { _ =>
      nextId += 1; Row(nextId, (nextId % 100).toInt, value(nextId))
    }
    val df = ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 1), schema)
    val t0 = System.nanoTime()
    val v = ManagedTable.appendCommit(df, dir)
    appendMs += (System.nanoTime() - t0) / 1e6
    live += live.last ++ rows.map(_.getLong(0))
    require(v == live.size - 1, s"appendCommit returned v$v, expected v${live.size - 1}")
  }

  private def delete(ctx: Ctx): Unit = {
    val lo = 1 + rnd.nextInt(math.max(1, nextId.toInt - 10)).toLong
    val v = ManagedTable.deleteWhere(ctx.spark, dir, col("id").between(lo, lo + 4))
    val next = live.last.filterNot(i => i >= lo && i <= lo + 4)
    if (next != live.last) live += next
    require(v == live.size - 1, s"deleteWhere returned v$v, expected v${live.size - 1}")
  }

  def setup(ctx: Ctx): Unit = {
    rnd = new java.util.Random(ctx.seed)
    dir = ctx.work.resolve("history/table").toString
    TableFiles.delete(ctx.spark, dir)
    ctx.phase("history")(while (live.size <= Versions) {
      if (live.size % 20 == 0) delete(ctx) else append(ctx)
    })
    // both read paths keep getting faster for their first few calls
    ctx.phase("warmup")((0 until 2).foreach { _ =>
      check(ctx, "warm-up", ManagedTable.read(ctx.spark, dir), live.size - 1)
      check(ctx, "warm-up", connector(ctx, None), live.size - 1)
    })
    reads = 0
  }

  private def connector(ctx: Ctx, v: Option[Int]): DataFrame = {
    val r = ctx.spark.read.format("graft")
    v.fold(r)(x => r.option("versionAsOf", x.toLong)).load(dir)
  }

  private def check(ctx: Ctx, what: String, df: DataFrame, v: Int,
      range: Option[(Long, Long)] = None): Unit = {
    val f = range.fold(df) { case (lo, hi) => df.filter(col("id").between(lo, hi)) }
    val agg = f.agg(count(lit(1)), coalesce(sum("value"), lit(0L)))
    val row = ctx.tracer.span("plan") {
      if (ctx.tracing) agg.queryExecution.executedPlan
      agg
    }
    val r = ctx.tracer.span("exec")(row.collect().head)
    reads += 1
    val ids = live(v).filter(i => range.forall { case (lo, hi) => i >= lo && i <= hi })
    val want = (ids.size.toLong, ids.toSeq.map(value).sum)
    ctx.check((r.getLong(0), r.getLong(1)) == want,
      s"history_scan $what v$v $range: got (${r.getLong(0)}, ${r.getLong(1)}), model $want")
  }

  def step(ctx: Ctx): Unit = {
    step += 1
    val head = live.size - 1
    (0 until 2).foreach(_ => ctx.op("read_managed")(ctx.tracer.span("ManagedTable.read")(
      check(ctx, "read", ManagedTable.read(ctx.spark, dir), head))))
    val lo = 1 + rnd.nextInt(nextId.toInt).toLong
    ctx.op("read_connector")(ctx.tracer.span("graft.connector")(
      check(ctx, "probe", connector(ctx, None), head, Some(lo -> (lo + 9)))))
    val old = 1 + rnd.nextInt(head)
    if (step % 2 == 0)
      ctx.op("read_managed_asof")(ctx.tracer.span("ManagedTable.read.asof")(
        check(ctx, "read asof", ManagedTable.read(ctx.spark, dir, Some(old)), old)))
    else
      ctx.op("read_connector_asof")(ctx.tracer.span("graft.connector.asof")(
        check(ctx, "connector asof", connector(ctx, Some(old)), old)))
    if (step % 10 == 0)
      ctx.op("delete")(ctx.tracer.span("ManagedTable.deleteWhere")(delete(ctx)))
    else if (step % 2 == 0)
      ctx.op("append")(ctx.tracer.span("ManagedTable.appendCommit")(append(ctx)))
  }

  def finish(ctx: Ctx): Unit = {
    ctx.latency("read_managed_ms", "read_managed")
    ctx.latency("read_connector_ms", "read_connector")
    ctx.latency("append_ms", "append")
    ctx.metric("throughput_per_s", reads / ctx.measuredS, "1/s")
    ctx.metric("history_versions", (live.size - 1).toDouble, "count")
    if (ctx.trace) {
      val t = ctx.tracer
      def phase(layer: String, ph: String): Seq[Double] = {
        val ids = t.named(layer).map(_.id).toSet
        t.all.filter(s => s.name == ph && ids(s.parent)).map(_.ms)
      }
      def perCall(layer: String)(f: Work => Long): Double =
        f(t.workUnder(layer)).toDouble / math.max(1, t.named(layer).size)
      val head = ManagedTable.versions(ctx.spark, dir).last
      val m = TableFiles.manifest(ctx.spark, dir, head)
      val total = m.data.size.toDouble
      val scanned = perCall("graft.connector")(_.leafTasks)
      val tenth = math.max(1, appendMs.size / 10)
      ctx.layers ++= Seq(
        "read_managed.plan_ms" -> Stats.median(phase("ManagedTable.read", "plan")),
        "read_managed.exec_ms" -> Stats.median(phase("ManagedTable.read", "exec")),
        "read_managed.spark_jobs" -> perCall("ManagedTable.read")(_.jobs),
        "read_managed.files" -> ManagedTable.read(ctx.spark, dir).inputFiles.length.toDouble,
        "read_connector.plan_ms" -> Stats.median(phase("graft.connector", "plan")),
        "read_connector.exec_ms" -> Stats.median(phase("graft.connector", "exec")),
        "read_connector.files_total" -> total,
        "read_connector.files_scanned" -> scanned,
        "read_connector.prune_ratio" -> scanned / total,
        "append.spark_jobs" -> perCall("ManagedTable.appendCommit")(_.jobs),
        "append.ms_first_decile" -> Stats.mean(appendMs.take(tenth).toSeq),
        "append.ms_last_decile" -> Stats.mean(appendMs.takeRight(tenth).toSeq),
        "manifest.bytes" -> m.bytes.toDouble,
        "manifest.bytes_per_version" -> m.bytes.toDouble / head,
        "table.live_files" -> total)
    }
  }
}

object HistoryScan {
  val Versions = 40
  val RowsPerVersion = 20
}
