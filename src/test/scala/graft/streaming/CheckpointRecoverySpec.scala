package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

/** Restart durability — the property the reference gets from DLT's
  * managed checkpoints (notebooks/pipeline.json:28): a streaming query
  * stopped mid-stream and restarted from the SAME checkpoint must
  * produce exactly the rows of an uninterrupted run — no loss, no
  * duplicates (exactly-once into the file sink via its commit log).
  *
  * The interrupted run uses a ProcessingTime cadence and is stopped as
  * soon as ≥1 rate-capped micro-batch has committed; wherever the cut
  * lands, the resumed run must converge to the reference output.
  */
class CheckpointRecoverySpec extends SparkSpec {

  private val Rate = 100 // docs per micro-batch (maxRecordsPerTrigger)

  private def replay: DataFrame =
    spark.readStream.format("graft.sources.PosReplaySource")
      .option("maxRecordsPerTrigger", Rate).load()
      .selectExpr("offset", "CAST(key AS STRING) AS k",
        "CAST(value AS STRING) AS v")

  test("restart from checkpoint equals the uninterrupted run, exactly-once") {
    val base = java.nio.file.Files.createTempDirectory("graft-recovery").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    val (ckptRef, outRef) = (s"$base/ckpt-ref", s"$base/out-ref")

    // phase 1: start on a 1s cadence, stop after the first committed batch
    val q1 = replay.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("1 second")).start()
    val deadline = System.currentTimeMillis() + 120000
    // a dead q1 stops the wait, so awaitTermination rethrows its error now
    while (q1.isActive && q1.recentProgress.map(_.numInputRows).sum < Rate &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    q1.stop()
    q1.awaitTermination()
    val committedAtStop = spark.read.parquet(out).count()

    // phase 2: restart from the same checkpoint, drain to completion
    val q2 = replay.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()

    // reference: one uninterrupted run
    val q3 = replay.writeStream.format("parquet")
      .option("path", outRef).option("checkpointLocation", ckptRef)
      .trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination()

    val resumed = spark.read.parquet(out)
    val reference = spark.read.parquet(outRef)
    val total = reference.count()
    assert(committedAtStop > 0, "the interrupted run must have committed data")
    assert(committedAtStop < total,
      "the stop must land mid-stream, before all docs were replayed")
    assert(resumed.count() == total, "resume must not lose or duplicate rows")
    assert(resumed.select("offset").distinct().count() == total,
      "every replayed offset appears exactly once after the restart")
    val diff = resumed.exceptAll(reference).count() +
      reference.exceptAll(resumed).count()
    assert(diff == 0, "resumed output must equal the uninterrupted run")
  }
}
