package graft.pos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The reference's persistent medallion (bronze → silver → gold, each a
  * materialized table with its own checkpoint — what DLT's pipeline.json
  * target + storage gives it) on open Spark primitives: parquet tables +
  * file-sink commit logs + streaming checkpoints.
  *
  * Restart contract: every stage is driven by a checkpointed streaming
  * query with Trigger.AvailableNow, so re-running a stage (or the whole
  * pipeline) resumes from the last committed offset and is exactly-once
  * into its table — re-invocation after a crash (or with no new data) is
  * a no-op that leaves the tables byte-identical (MedallionSpec; the
  * mid-stream kill/resume property itself is CheckpointRecoverySpec).
  *
  * At scale each stage is an independent long-lived stream over a
  * distributed store; nothing here is driver-resident — the stand-in
  * replay source is the only sandbox substitution (wire-identical to the
  * Kafka source, see KafkaIngest).
  *
  * `dir` defaults to [[PosPipeline.DataDir]], the committed synthetic POS
  * fixture; pass another directory in the same `_1000` layout to run the
  * medallion over it.
  */
object Medallion {

  /** Bronze: raw Kafka-wire records → parquet, checkpointed (the
    * reference's raw_inventory_change, 03_Data_Ingestion.py:137-160).
    */
  def runBronze(spark: SparkSession, root: String,
      dir: String = PosPipeline.DataDir, maxPerTrigger: Int = 500): Unit = {
    val q = spark.readStream.format("graft.sources.PosReplaySource")
      .option("dir", dir)
      .option("maxRecordsPerTrigger", maxPerTrigger)
      .load()
      .writeStream.format("parquet")
      .option("path", s"$root/bronze")
      .option("checkpointLocation", s"$root/ckpt/bronze")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Silver: stream over the bronze table, parse the transaction JSON,
    * explode items, watermarked dedup (03:202-219) → parquet,
    * checkpointed. The 1h watermark mirrors the reference; duplicates
    * arriving beyond it can re-emit (O26), which the gold read backstops
    * exactly like the reference's batch current-inventory recompute.
    *
    * `expectations` composes the DLT expect_or_drop gate INTO the
    * checkpointed stream ([[graft.operators.Expectations
    * .streamingGate]]), downstream of the watermark + stateful dedup
    * and the PII scrub — gating what would otherwise LAND in silver,
    * DLT's placement. Violation metrics ride the stream's own named
    * observe channel (no second scan, no extra state); the return
    * value sums them across micro-batches (`n_input`, `viol_<rule>`;
    * empty when no rules). StreamingOpsSpec proves the streamed counts
    * equal a batch [[graft.operators.Expectations.observedGate]] over
    * the same replay.
    */
  def runSilver(spark: SparkSession, root: String,
      scrubColumns: Seq[String] = Nil,
      expectations: Seq[graft.operators.Expectations.Rule] = Nil,
      observeName: String = "silver_expectations"): Map[String, Long] = {
    val bronzeSchema = spark.read.parquet(s"$root/bronze").schema
    val parsed = PosPipeline.parseEvents(
      spark.readStream.schema(bronzeSchema).parquet(s"$root/bronze")
        .withColumn("value", col("value").cast("string")))
    val deduped = parsed
      .withWatermark("date_time", "1 hour")
      .dropDuplicates("trans_id", "item_id")
    // The trust-boundary scrub point: before rows land in the silver
    // table, PII in the named string columns is redacted to typed
    // placeholders. The scrub composes freely with the watermarked
    // stateful dedup above because it is a pure row-local projection —
    // no state, no event-time semantics, no shuffle
    // ([[graft.operators.PiiScrub]]; StreamingOpsSpec proves the
    // composition).
    val scrubbed = scrubColumns
      .foldLeft(deduped)((df, c) =>
        df.withColumn(c, graft.operators.PiiScrub.redact(col(c))))
    val gated =
      if (expectations.isEmpty) scrubbed
      else graft.operators.Expectations
        .streamingGate(scrubbed, expectations, observeName)
    // Observed metrics accumulate through a StreamingQueryListener, NOT
    // by reading q.recentProgress after termination: recentProgress is
    // capped at spark.sql.streaming.numRecentProgressUpdates (default
    // 100), so a replay producing more micro-batches would silently
    // drop the earliest batches' counts while this method's contract
    // says "summed across ALL micro-batches". The listener sees every
    // progress event; its bus delivers per-listener in order, so by the
    // time the terminated event arrives every progress for this query
    // has been merged.
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val qName = s"$observeName-${java.util.UUID.randomUUID().toString.take(8)}"
    val acc = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      @volatile private var qid: java.util.UUID = null
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.name == qName) qid = e.id
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == qName)
          Option(e.progress.observedMetrics.get(observeName)).foreach { row =>
            row.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
              // sum() over an empty micro-batch observes null — count as 0
              val v = Option(row.get(i)).map(_.asInstanceOf[Long]).getOrElse(0L)
              acc.merge(f, v, (a, b) => a + b)
            }
          }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == qid) done.countDown()
    }
    if (expectations.nonEmpty) spark.streams.addListener(listener)
    try {
      val q = gated
        .writeStream.format("parquet")
        .queryName(qName)
        .option("path", s"$root/silver")
        .option("checkpointLocation", s"$root/ckpt/silver")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      if (expectations.isEmpty) Map.empty
      else {
        // wait for the async bus to drain this query's events
        done.await(60, java.util.concurrent.TimeUnit.SECONDS)
        import scala.jdk.CollectionConverters._
        acc.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      }
    } finally {
      if (expectations.nonEmpty) spark.streams.removeListener(listener)
    }
  }

  /** Gold: the current-inventory recompute over the silver table + the
    * snapshot CDC apply (04_Current_Inventory.sql) — batch, like the
    * reference's periodically-refreshed gold live table. The
    * dropDuplicates backstop collapses any beyond-watermark re-emits.
    */
  def gold(spark: SparkSession, root: String,
      dir: String = PosPipeline.DataDir): DataFrame = {
    val silver = PosPipeline.dedupChanges(spark.read.parquet(s"$root/silver"))
    val snapshot = PosPipeline.inventorySnapshot(
      PosPipeline.readSnapshots(spark, dir))
    PosPipeline.inventoryCurrent(snapshot, silver,
      PosPipeline.readStore(spark, dir), PosPipeline.readChangeType(spark, dir))
  }

  /** The whole medallion: bronze replay → silver parse/dedup → gold. */
  def runAll(spark: SparkSession, root: String,
      dir: String = PosPipeline.DataDir): DataFrame = {
    runBronze(spark, root, dir)
    runSilver(spark, root)
    gold(spark, root, dir)
  }
}
