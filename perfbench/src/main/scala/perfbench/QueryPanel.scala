package perfbench

import java.nio.file.Files
import graft.SparkEntry

/** `query_panel`: a fixed panel of [[SparkEntry.queries]], one from each
  * `graft.queries` object but two (see [[QueryPanel.Panel]]), over seeded
  * tables in the harness schema. Each step runs the whole panel in order,
  * each query into the noop sink as `graft.Bench` does. The warm-up pass
  * writes every result to parquet with the query's DuckDB oracle SQL; the
  * runner compares them after the JVM exits.
  */
final class QueryPanel extends Workload {
  val primary = "pass"
  private var data: String = _
  private var panel: Seq[(String, String)] = _
  private var queries = 0L

  def setup(ctx: Ctx): Unit = {
    data = ctx.work.resolve("panel/data").toString
    ctx.phase("data")(QueryData.write(ctx.spark, data, ctx.seed))
    val all = SparkEntry.queries
    panel = QueryPanel.Panel.map { short =>
      short -> all.keys.find(_.startsWith(short + "_"))
        .getOrElse(sys.error(s"query_panel: no query $short"))
    }
    val out = ctx.work.resolve("panel/results")
    TableFiles.delete(ctx.spark, out.toString)
    Files.createDirectories(out)
    val oracles = SparkEntry.oracleSql
    panel.foreach { case (short, full) =>
      ctx.phase(s"warmup.$short") {
        all(full)(ctx.spark, data).coalesce(1).write.mode("overwrite")
          .parquet(out.resolve(short).toString)
        ctx.spark.catalog.clearCache()
      }
    }
    Files.write(out.resolve("oracle_sql.json"), Json(panel.map { case (short, full) =>
      short -> oracles.getOrElse(full, "")
    }.toMap).getBytes("UTF-8"))
  }

  def step(ctx: Ctx): Unit = {
    val all = SparkEntry.queries
    var passMs = 0.0
    var ok = true
    panel.foreach { case (short, full) =>
      val t0 = System.nanoTime()
      ok &= ctx.op(s"query.$short") {
        all(full)(ctx.spark, data).write.format("noop").mode("overwrite").save()
        ctx.spark.catalog.clearCache()
      }.isDefined
      passMs += (System.nanoTime() - t0) / 1e6
      queries += 1
    }
    if (ok) ctx.sample("pass", passMs)
  }

  def finish(ctx: Ctx): Unit = {
    val medians = panel.map { case (short, _) => short -> Stats.median(ctx.ms(s"query.$short")) }
    medians.foreach { case (short, ms) => ctx.metric(s"query.${short}_ms", ms, "ms") }
    ctx.metric("query_s_total", medians.map(_._2).sum / 1000, "s")
    ctx.metric("throughput_per_s", queries / ctx.measuredS, "1/s")
    ctx.latency("pass_ms", "pass")
    if (ctx.trace) {
      val t = ctx.tracer
      val passes = math.max(1, t.named("step").size)
      var shuffle, spill, gc = 0L
      panel.foreach { case (short, _) =>
        val w = t.workUnder(s"query.$short")
        val n = math.max(1, t.named(s"query.$short").size)
        shuffle += w.shuffleBytes; spill += w.spillBytes; gc += w.gcMs
        ctx.layers(s"query.${short}_s") = Stats.median(ctx.ms(s"query.$short")) / 1000
        ctx.layers(s"query.$short.spark_jobs") = w.jobs.toDouble / n
      }
      ctx.layers ++= Seq("query.shuffle_bytes" -> shuffle.toDouble / passes,
        "query.spill_bytes" -> spill.toDouble / passes, "query.gc_ms" -> gc.toDouble / passes)
    }
  }
}

object QueryPanel {
  /** One query per `graft.queries` object except PosQueries (its q27
    * reads the absent reference data) and IndexQueries: each of its four
    * queries takes 5-7 s warm at this scale, more than a run's budget.
    */
  val Panel: Seq[String] = Seq(
    "q01",  // RelationalQueries
    "q05",  // EventQueries
    "q16",  // TextQueries
    "q94",  // VectorQueries
    "q22",  // StreamingQueries
    "q25",  // MultimodalQueries
    "q29",  // AnalyticsQueries
    "q39",  // TrainingDataQueries
    "q100") // LayoutQueries
}
