package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec

class GraftDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-dsv2-$name").toString + "/t"

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def mixed(n: Int, tag: String): DataFrame =
    spark.range(n).select(
      col("id").as("k"),
      concat(lit(s"$tag-"), col("id")).as("s"),
      (col("id") * 1.5).as("d"),
      col("id").cast("int").as("i"),
      (col("id") % 2 === 0).as("flag"),
      when(col("id") % 5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("v"), col("id"))).as("maybe"),
      when(col("id") % 3 === 0, lit(null).cast("array<float>"))
        .otherwise(array(col("id").cast("float"),
          lit(null).cast("float"),
          (col("id") * 2).cast("float"))).as("emb"),
      array(concat(lit("t"), col("id"))).as("tags"),
      unhex(conv(col("id"), 10, 16)).as("bin"))

  test("round-trips every supported type, nulls and null elements included") {
    val dir = tmp("roundtrip")
    ManagedTable.commit(mixed(257, "a"), dir)
    val got = spark.read.format("graft").load(dir)
    val want = ManagedTable.read(spark, dir)
    assert(got.schema == want.schema)
    assert(sortedRows(got) == sortedRows(want))
  }

  test("column pruning and count(*) on a pruned-to-empty projection") {
    val dir = tmp("prune")
    ManagedTable.commit(mixed(100, "a"), dir)
    assert(spark.read.format("graft").load(dir).count() == 100)
    val two = spark.read.format("graft").load(dir).select("s", "k")
    assert(two.schema.fieldNames.toSeq == Seq("s", "k"))
    assert(sortedRows(two) ==
      sortedRows(ManagedTable.read(spark, dir).select("s", "k")))
  }

  test("range filters prune files via manifest stats AND stay correct") {
    val dir = tmp("skip")
    // four appended segments with disjoint k ranges → per-file stats
    (0 until 4).foreach { i =>
      ManagedTable.appendCommit(
        mixed(1000, "a").filter(col("k") >= i * 250 &&
          col("k") < (i + 1) * 250).coalesce(1), dir)
    }
    val all = spark.read.format("graft").load(dir)
    assert(all.rdd.getNumPartitions == 4)
    val probe = all.filter(col("k") >= 600 && col("k") <= 620)
    // planning sees only the one segment whose [min,max] spans 600-620
    assert(probe.rdd.getNumPartitions == 1)
    assert(sortedRows(probe) == sortedRows(
      ManagedTable.read(spark, dir)
        .filter(col("k") >= 600 && col("k") <= 620)))
    // a non-translatable filter plans all files but still answers right
    val weird = all.filter(col("k") % 97 === 3)
    assert(weird.rdd.getNumPartitions == 4)
    assert(weird.count() ==
      ManagedTable.read(spark, dir).filter(col("k") % 97 === 3).count())
    // string-column pruning uses UTF8 binary order
    val sProbe = all.filter(col("s") === "a-601")
    assert(sProbe.count() == 1)
  }

  test("deletion vectors: tombstoned rows never surface") {
    val dir = tmp("dv")
    ManagedTable.commit(mixed(300, "a"), dir)
    ManagedTable.deleteWhere(spark, dir, col("k") % 3 === 1)
    val got = spark.read.format("graft").load(dir)
    assert(got.count() == 200)
    assert(got.filter(col("k") % 3 === 1).count() == 0)
    assert(sortedRows(got) == sortedRows(ManagedTable.read(spark, dir)))
    // time travel to the pre-delete version still sees the rows
    assert(spark.read.format("graft").option("versionAsOf", 1)
      .load(dir).count() == 300)
  }

  test("schema evolution: pre-evolution segments null-fill new columns") {
    val dir = tmp("evolve")
    ManagedTable.merge(Seq((1L, "x", 10L)).toDF("k", "s", "seq"), dir,
      keys = Seq("k"), sequenceBy = Seq(col("seq")))
    ManagedTable.merge(
      Seq((2L, "y", 20L, "new")).toDF("k", "s", "seq", "extra"), dir,
      keys = Seq("k"), sequenceBy = Seq(col("seq")))
    val got = spark.read.format("graft").load(dir)
      .select("k", "s", "extra")
    assert(sortedRows(got) == sortedRows(
      ManagedTable.readCurrent(spark, dir, lit(false), Seq("seq"))
        .select("k", "s", "extra")))
    assert(got.filter(col("k") === 1 && col("extra").isNull).count() == 1)
  }

  test("time travel reads exactly the requested version") {
    val dir = tmp("travel")
    ManagedTable.commit(mixed(10, "v1"), dir)
    ManagedTable.commit(mixed(20, "v2"), dir)
    assert(spark.read.format("graft").option("versionAsOf", 1)
      .load(dir).count() == 10)
    assert(spark.read.format("graft").load(dir).count() == 20)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", 9).load(dir)
        .count()
    }
    assert(e.getMessage.contains("version 9"))
  }

  test("unsupported column types are rejected at resolution, by name") {
    val dir = tmp("reject")
    // timestamp/date joined the decoded tier (DateTimeStatsSpec);
    // decimals remain outside it
    ManagedTable.commit(
      Seq((1L, BigDecimal("1.50"))).toDF("k", "price"), dir)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft").load(dir).count()
    }
    assert(e.getMessage.contains("'price'"))
  }

  test("streaming: versions drain as micro-batches, restart resumes exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("stream")
    (0 until 3).foreach { i =>
      ManagedTable.appendCommit(
        Seq((i.toLong, s"v$i")).toDF("k", "s"), dir)
    }
    val ckpt = ckptDir("graft-dsv2-stream")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", 1).load(dir)
        .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
          b.collect().foreach(r => out += ((id, r.getLong(0))))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    // one version per micro-batch, all pre-existing rows delivered
    assert(out.map(_._2).sorted == Seq(0L, 1L, 2L))
    assert(out.map(_._1).distinct.size == 3)
    // appends after the first run: a restart on the same checkpoint
    // delivers ONLY the new versions
    out.clear()
    (3 until 5).foreach { i =>
      ManagedTable.appendCommit(
        Seq((i.toLong, s"v$i")).toDF("k", "s"), dir)
    }
    drain()
    assert(out.map(_._2).sorted == Seq(3L, 4L))
  }

  test("streaming: non-append versions fail fast; ignoreChanges re-emits") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("streamcompact")
    (0 until 3).foreach { i =>
      ManagedTable.appendCommit(
        Seq((i.toLong, s"v$i")).toDF("k", "s"), dir)
    }
    ManagedTable.compact(spark, dir, smallFileBytes = 1L << 20)
    def run(opts: Map[String, String]): Seq[Long] = {
      val rows = scala.collection.mutable.ArrayBuffer.empty[Long]
      val r = spark.readStream.format("graft")
      opts.foreach { case (k, v) => r.option(k, v) }
      val q = r.load(dir)
        .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
          rows ++= b.collect().map(_.getLong(0)); ()
        }
        .option("checkpointLocation", ckptDir("graft-dsv2-nc"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      rows.toSeq
    }
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(Map.empty)
    }
    assert(e.getCause.getMessage.contains("version 4"))
    // the relaxation re-emits the compacted segment's rows (documented
    // duplicate semantics) on top of the original appends
    assert(run(Map("ignoreChanges" -> "true")).sorted ==
      Seq(0L, 0L, 1L, 1L, 2L, 2L))
  }

  test("streaming: a DV-only delete version emits nothing") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("streamdv")
    (0 until 2).foreach { i =>
      ManagedTable.appendCommit(
        Seq((i.toLong, s"v$i")).toDF("k", "s"), dir)
    }
    ManagedTable.deleteWhere(spark, dir, col("k") === 0)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        rows ++= b.collect().map(_.getLong(0)); ()
      }
      .option("checkpointLocation", ckptDir("graft-dsv2-dv"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // appends-only contract: both appended rows stream; the DV
    // retraction is CDC territory (ManagedTable.changes), not this
    // source's — and the delete version itself contributes no files
    assert(rows.sorted == Seq(0L, 1L))
  }

  test("mid-stream ADD COLUMNS: in-flight batches keep the planned " +
      "schema, a restart from the same checkpoint reads the wide one") {
    import org.apache.spark.sql.types._
    val dir = tmp("streamevolve")
    ManagedTable.appendCommit(Seq((1L, "a")).toDF("k", "s"), dir)
    val ckpt = ckptDir("graft-evolve-stream")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val schemas = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        schemas += b.schema.fieldNames.toSeq
        seen ++= b.collect().map(r => (r.getLong(0), r.getString(1))); ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      // evolve WHILE the stream is active, then land post-evolution
      // rows carrying the new column
      ManagedTable.evolveSchema(spark, dir, StructType(Seq(
        StructField("k", LongType), StructField("s", StringType),
        StructField("w", LongType))))
      ManagedTable.appendCommit(
        Seq((2L, "b", 20L)).toDF("k", "s", "w"), dir)
      q.processAllAvailable()
    } finally q.stop()
    // CONTRACT: an in-flight stream keeps the schema it was planned
    // with — post-evolution segments project down to it (the new
    // column stays invisible until a restart); nothing crashes and
    // no rows are lost
    assert(schemas.forall(_ == Seq("k", "s")),
      s"in-flight batches must keep the planned schema, got $schemas")
    assert(seen.sorted == Seq((1L, "a"), (2L, "b")))
    // restart from the SAME checkpoint: the stream re-plans with the
    // evolved schema and the remaining log replays wide
    ManagedTable.appendCommit(
      Seq((3L, "c", 30L)).toDF("k", "s", "w"), dir)
    val seen2 =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long])]
    val schemas2 = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val q2 = spark.readStream.format("graft").load(dir)
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        schemas2 += b.schema.fieldNames.toSeq
        seen2 ++= b.collect().map(r => (r.getLong(0),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))); ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(schemas2.forall(_ == Seq("k", "s", "w")),
      s"a restarted stream must plan the evolved schema, got $schemas2")
    assert(seen2.sorted == Seq((3L, Some(30L))))
  }

  test("mid-stream RENAME COLUMN is transparent to an in-flight " +
      "stream (physical ids); a clustering-column DROP stays refused " +
      "mid-run; restart re-plans the new name") {
    val dir = tmp("streamrename")
    ManagedTable.appendCommit(Seq((1L, "a")).toDF("k", "s"), dir) // v1
    ManagedTable.setTableProperties(spark, dir,
      Map(ManagedTable.ClusterByProp -> "k"))                     // v2
    val ckpt = ckptDir("graft-rename-stream")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val schemas = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        schemas += b.schema.fieldNames.toSeq
        seen ++= b.collect().map(r => (r.getLong(0), r.getString(1))); ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      // RENAME while the stream is active: metadata-only — the field
      // keeps the PHYSICAL name baked into every committed segment,
      // so the in-flight plan (old logical names) stays valid
      ManagedTable.renameColumn(spark, dir, "s", "txt")           // v3
      // a post-rename append writes under the NEW logical name (same
      // physical column) — the live stream must surface its rows
      // under the OLD planned name, values intact
      ManagedTable.appendCommit(
        Seq((2L, "b")).toDF("k", "txt"), dir)                     // v4
      q.processAllAvailable()
      // DML guards hold mid-run exactly as at rest: the clustering
      // column cannot be dropped out from under the declared layout
      val ex = intercept[IllegalArgumentException](
        ManagedTable.dropColumn(spark, dir, "k"))
      assert(ex.getMessage.contains("clustering"))
      // the refused drop must not have perturbed the stream
      ManagedTable.appendCommit(
        Seq((3L, "c")).toDF("k", "txt"), dir)                     // v5
      q.processAllAvailable()
    } finally q.stop()
    assert(schemas.forall(_ == Seq("k", "s")),
      s"in-flight batches keep the planned (pre-rename) names, " +
        s"got $schemas")
    assert(seen.sorted == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "no lost or garbled rows across the mid-stream rename")
    // restart from the SAME checkpoint: the stream re-plans with the
    // renamed schema and new commits replay under the new name
    ManagedTable.appendCommit(Seq((4L, "d")).toDF("k", "txt"), dir) // v6
    val seen2 = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val schemas2 = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val q2 = spark.readStream.format("graft").load(dir)
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        schemas2 += b.schema.fieldNames.toSeq
        seen2 ++= b.collect().map(r => (r.getLong(0), r.getString(1))); ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(schemas2.forall(_ == Seq("k", "txt")),
      s"a restarted stream plans the renamed schema, got $schemas2")
    assert(seen2.sorted == Seq((4L, "d")))
  }

  test("write: a first write creates the table; both readers round-trip it") {
    val dir = tmp("wcreate")
    val df = mixed(211, "w")
    df.write.format("graft").mode("append").save(dir)
    assert(ManagedTable.versions(spark, dir) == Seq(1))
    // the vectorized Spark reader must accept the Group-API layout
    assert(sortedRows(ManagedTable.read(spark, dir)) == sortedRows(df))
    // and the connector's own reader agrees
    assert(sortedRows(spark.read.format("graft").load(dir)) ==
      sortedRows(df))
  }

  test("write: append accumulates versions and carries DVs forward") {
    val dir = tmp("wappend")
    ManagedTable.commit(mixed(100, "a"), dir)
    ManagedTable.deleteWhere(spark, dir, col("k") < 10)
    mixed(50, "b").write.format("graft").mode("append").save(dir)
    val got = ManagedTable.read(spark, dir)
    // 90 survivors of the first commit + 50 appended
    assert(got.count() == 140)
    assert(got.filter(col("s").startsWith("a-") && col("k") < 10)
      .count() == 0, "an append must not resurrect DV-deleted rows")
    assert(spark.read.format("graft").load(dir).count() == 140)
  }

  test("write: overwrite truncates as a time-travelable new version") {
    val dir = tmp("wover")
    ManagedTable.commit(mixed(100, "a"), dir)
    val slim = mixed(7, "b")
    slim.write.format("graft").mode("overwrite").save(dir)
    assert(ManagedTable.versions(spark, dir) == Seq(1, 2))
    assert(sortedRows(spark.read.format("graft").load(dir)) ==
      sortedRows(slim))
    // time travel still sees the pre-overwrite version
    assert(spark.read.format("graft").option("versionAsOf", 1)
      .load(dir).count() == 100)
  }

  test("write: schema mismatch is rejected at analysis, before any file lands") {
    val dir = tmp("wmismatch")
    ManagedTable.commit(mixed(10, "a"), dir)
    // Catalyst validates the incoming frame against the table's
    // manifest schema (the table IS the authority) — both modes
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((1L, 2L)).toDF("k", "wrong").write.format("graft")
        .mode("append").save(dir)
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((1L, 2L)).toDF("k", "wrong").write.format("graft")
        .mode("overwrite").save(dir)
    }
    assert(ManagedTable.versions(spark, dir) == Seq(1),
      "a rejected write must leave no new version")
  }

  test("write: range-partitioned tasks land per-file stats that prune") {
    val dir = tmp("wstats")
    mixed(900, "a").repartitionByRange(3, col("k"))
      .write.format("graft").mode("append").save(dir)
    val (kept, all) = ManagedTable.planFiles(spark, dir, "k", 10L, 20L)
    assert(all.size == 3, s"expected 3 task files, got $all")
    assert(kept.size == 1,
      s"connector-written stats must prune to 1 file, kept $kept")
    // empty partitions contribute no files
    val dir2 = tmp("wempty")
    mixed(5, "a").repartition(8).write.format("graft")
      .mode("append").save(dir2)
    val (_, files2) = ManagedTable.planFiles(spark, dir2, "k",
      Long.MinValue, Long.MaxValue)
    assert(files2.size <= 5)
  }

  test("streaming write: graft-to-graft pipe, one tagged version per epoch, restart exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    val src = tmp("pipesrc")
    val sink = tmp("pipesink")
    (0 until 3).foreach { i =>
      ManagedTable.appendCommit(
        Seq((i.toLong, s"v$i")).toDF("k", "s"), src)
    }
    val ckpt = ckptDir("graft-dsv2-pipe")
    def pipe(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", 1).load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(sink)
      q.awaitTermination()
    }
    pipe()
    // three source versions → three epochs → three tagged sink versions
    assert(ManagedTable.versions(spark, sink) == Seq(1, 2, 3))
    assert(ManagedTable.tags(spark, sink).map(_._2) ==
      Seq("b0", "b1", "b2"))
    assert(sortedRows(ManagedTable.read(spark, sink)) ==
      sortedRows(ManagedTable.read(spark, src)))
    // restart after two more source versions: only the new epochs land
    (3 until 5).foreach { i =>
      ManagedTable.appendCommit(
        Seq((i.toLong, s"v$i")).toDF("k", "s"), src)
    }
    pipe()
    assert(ManagedTable.versions(spark, sink).size == 5)
    assert(sortedRows(ManagedTable.read(spark, sink)) ==
      sortedRows(ManagedTable.read(spark, src)))
  }

  test("streaming write: a replayed epoch commits nothing and drops its staged files") {
    val dir = tmp("epochreplay")
    val schema = Seq((1L, "x")).toDF("k", "s").schema
    val w = new GraftStreamingWrite(dir, schema)
    var nextTid = 100L
    def stage(rows: Seq[(Long, String)], epoch: Long)
        : org.apache.spark.sql.connector.write.WriterCommitMessage = {
      // task ids are unique per attempt in a real run — model that
      nextTid += 1
      val writer = new GraftStreamingWriterFactory(s"data/w-test$epoch",
        WriteStats(spark, dir, schema, Map.empty[String, String], None))
        .createWriter(0, nextTid, epoch)
      rows.foreach { case (k, s0) =>
        writer.write(org.apache.spark.sql.catalyst.InternalRow(k,
          org.apache.spark.unsafe.types.UTF8String.fromString(s0)))
      }
      writer.commit()
    }
    w.commit(7L, Array(stage(Seq(1L -> "a", 2L -> "b"), 7L)))
    assert(ManagedTable.versions(spark, dir) == Seq(1))
    // the replay: same epoch id, freshly staged files
    val replayMsg = stage(Seq(1L -> "a", 2L -> "b"), 7L)
    val replayFile = replayMsg
      .asInstanceOf[GraftWriteCommit].relFiles.head
    w.commit(7L, Array(replayMsg))
    assert(ManagedTable.versions(spark, dir) == Seq(1),
      "a replayed epoch must not commit a second version")
    assert(!new java.io.File(s"$dir/$replayFile").exists(),
      "the replay's staged file must be deleted, not leaked")
    assert(ManagedTable.read(spark, dir).count() == 2)
  }

  test("the scan description carries the file-skipping evidence") {
    val dir = tmp("desc")
    (0 until 3).foreach { i =>
      ManagedTable.appendCommit(
        mixed(300, "a").filter(col("k") >= i * 100 &&
          col("k") < (i + 1) * 100).coalesce(1), dir)
    }
    val probe = spark.read.format("graft").load(dir)
      .filter(col("k") === 150)
    val desc = probe.queryExecution.executedPlan.toString
    assert(desc.contains("files=1/3"), s"expected files=1/3 in:\n$desc")
  }

  test("timestampAsOf pins the newest version at or before the " +
      "instant, and refuses writes like any pinned handle") {
    val dir = tmp("tsasof")
    ManagedTable.commit(Seq((1L, "a")).toDF("k", "s"), dir)
    Thread.sleep(1100) // manifest mtime resolution can be 1 s
    val cut = System.currentTimeMillis()
    ManagedTable.appendCommit(Seq((2L, "b")).toDF("k", "s"), dir)
    val pinned = spark.read.format("graft")
      .option("timestampAsOf", cut.toString).load(dir)
    assert(pinned.count() == 1L)
    assert(spark.read.format("graft").load(dir).count() == 2L)
    // both option spellings: epoch millis and a timestamp string
    val iso = new java.sql.Timestamp(cut).toString
    assert(spark.read.format("graft")
      .option("timestampAsOf", iso).load(dir).count() == 1L)
    // pinned handles refuse writes; the two options are exclusive
    intercept[Exception] {
      Seq((3L, "c")).toDF("k", "s").write.format("graft")
        .option("timestampAsOf", cut.toString).mode("append").save(dir)
    }
    intercept[Exception] {
      spark.read.format("graft").option("timestampAsOf", cut.toString)
        .option("versionAsOf", 1).load(dir).collect()
    }
    // before the first commit: clean refusal
    intercept[Exception] {
      spark.read.format("graft").option("timestampAsOf", "1000")
        .load(dir).collect()
    }
  }

  test("streaming startingVersion: a number consumes commits from " +
      "that version on; 'latest' tails only new commits") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("startver")
    (0 until 3).foreach { i =>
      ManagedTable.appendCommit(
        spark.range(i * 10, (i + 1) * 10).select(col("id").as("k"))
          .coalesce(1), dir)
    }
    def drain(opts: Map[String, String], ckpt: String): Seq[Long] = {
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      val r = opts.foldLeft(spark.readStream.format("graft")) {
        case (b, (k, v)) => b.option(k, v)
      }
      val q = r.load(dir).writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized {
            seen ++= b.select("k").collect().map(_.getLong(0)) }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      seen.sorted.toSeq
    }
    // from version 2 on: versions 2 and 3's adds only
    assert(drain(Map("startingVersion" -> "2"),
      Files.createTempDirectory("sv2").toString) == (10L until 30L))
    // 'latest': nothing now; only commits made after the start
    val ckptL = Files.createTempDirectory("svL").toString
    assert(drain(Map("startingVersion" -> "latest"), ckptL).isEmpty)
    ManagedTable.appendCommit(
      spark.range(30, 40).select(col("id").as("k")).coalesce(1), dir)
    assert(drain(Map("startingVersion" -> "latest"), ckptL) ==
      (30L until 40L), "the same checkpoint tails the new commit")
    // startingVersion = oldest retained after a vacuum = snapshot base
    ManagedTable.vacuumHistory(spark, dir, retainVersions = 2,
      retentionMs = 0) // keep v3, v4
    assert(drain(Map("startingVersion" -> "3"),
      Files.createTempDirectory("sv3").toString) == (0L until 40L),
      "oldest retained version streams as a full snapshot")
    // a startingVersion below the horizon fails fast
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(Map("startingVersion" -> "2"),
        Files.createTempDirectory("sv2b").toString)
    }
    assert(e.getMessage.contains("vacuumHistory") ||
      e.getCause.getMessage.contains("vacuumHistory"))
  }

  test("streaming startingTimestamp: replays commits made at or " +
      "after the instant; exclusive with startingVersion; an instant " +
      "past the head fails fast") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("startts")
    (0 until 3).foreach { i =>
      ManagedTable.appendCommit(
        spark.range(i * 10, (i + 1) * 10).select(col("id").as("k"))
          .coalesce(1), dir)
    }
    def drain(opts: Map[String, String]): Seq[Long] = {
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      val r = opts.foldLeft(spark.readStream.format("graft")) {
        case (b, (k, v)) => b.option(k, v)
      }
      val q = r.load(dir).writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized {
            seen ++= b.select("k").collect().map(_.getLong(0)) }; ()
        }
        .option("checkpointLocation",
          Files.createTempDirectory("stts").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      seen.sorted.toSeq
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mtime(v: Int): Long = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(dir, s"_manifest/v$v.json"))
      .getModificationTime
    // exactly v2's instant: "at or after" admits v2 and v3, never v1
    assert(drain(Map("startingTimestamp" -> mtime(2).toString)) ==
      (10L until 30L))
    // before everything: the whole log replays (v1 = snapshot base)
    assert(drain(Map("startingTimestamp" -> "1000")) == (0L until 30L))
    // past the head: fail fast, naming the tail-only remedy
    val e = intercept[Exception] {
      drain(Map("startingTimestamp" -> (mtime(3) + 60000).toString))
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + msgs(t.getCause)
    assert(msgs(e).contains("latest"))
    // mutually exclusive with startingVersion
    val e2 = intercept[Exception] {
      drain(Map("startingTimestamp" -> mtime(2).toString,
        "startingVersion" -> "2"))
    }
    assert(msgs(e2).contains("mutually exclusive"))
  }

  test("readChangeFeed: inserts per appended version, DV deletes as " +
      "preimage rows, replaceWhere as delete+insert in one version; " +
      "COW rewrites fail fast; catalog route refused") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("cdfstream")
    ManagedTable.appendCommit(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1), dir) // v1
    ManagedTable.appendCommit(
      Seq((3L, "c"), (4L, "d")).toDF("k", "s").coalesce(1), dir) // v2
    ManagedTable.deleteWhere(spark, dir, col("k") === 2L)        // v3
    // replaceWhere: tombstones + replacement land as ONE version —
    // the change feed must emit its deletes AND inserts under v4
    ManagedTable.replaceWhere(spark, dir, col("k") === 3L,
      Seq((3L, "c2")).toDF("k", "s").coalesce(1))                // v4
    def drain(ckpt: String): Seq[(String, Int, Long, String)] = {
      val seen =
        scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long, String)]
      val q = spark.readStream.format("graft")
        .option("readChangeFeed", "true").load(dir)
        .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame,
            _: Long) =>
          seen.synchronized { seen ++= b.collect().map(r => (
            r.getAs[String]("_change_type"),
            r.getAs[Long]("_commit_version").toInt,
            r.getAs[Long]("k"), r.getAs[String]("s"))) }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      seen.sortBy(t => (t._2, t._1, t._3)).toSeq
    }
    val ckpt = ckptDir("graft-cdf")
    assert(drain(ckpt) == Seq(
      ("insert", 1, 1L, "a"), ("insert", 1, 2L, "b"),
      ("insert", 2, 3L, "c"), ("insert", 2, 4L, "d"),
      ("delete", 3, 2L, "b"),
      ("delete", 4, 3L, "c"), ("insert", 4, 3L, "c2")))
    // the same checkpoint tails ONLY new changes
    ManagedTable.deleteWhere(spark, dir, col("k") === 4L)        // v5
    assert(drain(ckpt) == Seq(("delete", 5, 4L, "d")))
    // a COW file swap is not attributable without keys → fail fast
    val v6 = ManagedTable.compact(spark, dir, smallFileBytes = 1L,
      rewriteDvFraction = Some(0.01))
    assert(v6 == 6)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(ckpt)
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + msgs(t.getCause)
    assert(msgs(e).contains("system.changes") ||
      msgs(e).contains("ManagedTable.changes"))
    // batch read of a change feed: streaming-only, clear refusal
    val eb = intercept[Exception] {
      spark.read.format("graft").option("readChangeFeed", "true")
        .load(dir).collect()
    }
    assert(msgs(eb).contains("streaming"))
  }

  test("DV-free scans decode COLUMNAR (vectorized) and match the " +
      "row path bit for bit; DV versions STAY columnar via the " +
      "selection view") {
    val dir = tmp("columnar")
    ManagedTable.commit(mixed(513, "a"), dir)
    val t = spark.read.format("graft").load(dir)
    val q = t.select("k", "s", "d", "i", "flag", "maybe", "emb", "bin")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"expected the vectorized (columnar) scan path:\n$plan")
    assert(sortedRows(q) == sortedRows(ManagedTable.read(spark, dir)
      .select("k", "s", "d", "i", "flag", "maybe", "emb", "bin")))
    // _file rides the columnar batch as a constant vector
    val withFile = t.select(col("k"), col("_file")).collect()
    assert(withFile.forall(_.getString(1).startsWith(dir)))
    // a DV version KEEPS vectorized decode (tombstones apply inside
    // the reader through the per-batch selection view) AND stays
    // correct across every supported column type
    ManagedTable.deleteWhere(spark, dir, col("k") === 7L)
    val meta = GraftTableMeta.resolve(dir, None)
    val factory = new GraftScanBuilder(meta).build()
      .asInstanceOf[GraftScan].createReaderFactory()
    assert(factory.supportColumnarReads(GraftInputPartition("x",
      relPath = "x", dvRefs = Array("dv"))),
      "DV versions must keep the vectorized reader")
    val dv = spark.read.format("graft").load(dir)
      .select("k", "s", "d", "i", "flag", "maybe", "emb", "bin")
    dv.collect()
    val dvPlan = dv.queryExecution.executedPlan.toString
    assert(dvPlan.contains("ColumnarToRow"),
      s"expected columnar decode on the DV'd version:\n$dvPlan")
    assert(dv.count() == 512)
    assert(sortedRows(dv) == sortedRows(ManagedTable.read(spark, dir)
      .select("k", "s", "d", "i", "flag", "maybe", "emb", "bin")),
      "DV'd columnar scan must hash-match the parquet+antijoin path")
    assert(!dv.select("k").collect().exists(_.getLong(0) == 7L))
    // pile up tombstones across batch boundaries (the vectorized
    // reader batches at 4096 rows; 513 rows = 1 batch, so also delete
    // the batch's first and last rows and a contiguous run)
    ManagedTable.deleteWhere(spark, dir,
      col("k") === 0L || col("k") === 512L ||
        (col("k") >= 100L && col("k") < 140L))
    val dv2 = spark.read.format("graft").load(dir)
      .select("k", "s", "d", "emb")
    assert(dv2.count() == 470)
    assert(sortedRows(dv2) == sortedRows(ManagedTable.read(spark, dir)
      .select("k", "s", "d", "emb")))
  }

  test("selection-view columnar decode survives a multi-batch file " +
      "with a FULLY tombstoned middle batch and edge deletes") {
    val dir = tmp("dvbatches")
    // one data file spanning 3 vectorized batches (capacity 4096)
    ManagedTable.commit(spark.range(10000)
      .select(col("id").as("k"),
        concat(lit("s"), col("id")).as("s")).coalesce(1), dir)
    // tombstone every row of the middle batch, plus the file's first
    // and last rows (batch-boundary off-by-ones)
    ManagedTable.deleteWhere(spark, dir,
      (col("k") >= 4096L && col("k") < 8192L) ||
        col("k") === 0L || col("k") === 9999L)
    val q = spark.read.format("graft").load(dir).select("k", "s")
    q.collect()
    assert(q.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"))
    assert(q.count() == 10000 - 4096 - 2)
    assert(sortedRows(q) ==
      sortedRows(ManagedTable.read(spark, dir).select("k", "s")))
    // aggregate over the selection view (exercises non-collect paths)
    assert(q.agg(sum("k")).head.getLong(0) ==
      (0L until 10000L).filterNot(k =>
        (k >= 4096L && k < 8192L) || k == 0L || k == 9999L).sum)
  }

  test("columnar decode null-fills evolved columns per segment, " +
      "same as the row path") {
    val dir = tmp("colevolve")
    ManagedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)
    // widen via merge's evolution seam: new columns w, tags
    ManagedTable.merge(
      Seq((3L, "c", 30L, Seq(1.5f, 2.5f), 1L))
        .toDF("k", "s", "w", "emb", "seq")
        .withColumn("emb", col("emb").cast("array<float>")),
      dir, keys = Seq("k"), sequenceBy = Seq(col("seq")))
    val q = spark.read.format("graft").load(dir)
      .select("k", "s", "w", "emb")
    q.collect()
    assert(q.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"))
    val rows = sortedRows(q)
    assert(rows == sortedRows(ManagedTable.read(spark, dir)
      .select("k", "s", "w", "emb")))
    // pre-evolution rows: nulls in w/emb; post: typed values
    assert(rows.count(r => r.isNullAt(2) && r.isNullAt(3)) == 2)
    assert(rows.exists(r => !r.isNullAt(2) && r.getLong(2) == 30L))
    // a projection of ONLY evolved columns over the old segment
    // (zero file columns in that partition) stays correct
    assert(spark.read.format("graft").load(dir)
      .select("w").collect().count(_.isNullAt(0)) >= 2)
  }

  test("mergeSchema appends: a widened source auto-evolves the table " +
      "in one statement; without the option the write still refuses") {
    val dir = tmp("mergeschema")
    ManagedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)
    // widened source WITHOUT the option: Spark's own arity validation
    // refuses before the connector runs (strict by default)
    val e = intercept[Exception] {
      Seq((3L, "c", 30L)).toDF("k", "s", "w").write.format("graft")
        .mode("append").save(dir)
    }
    assert(e.getMessage.contains("TOO_MANY_DATA_COLUMNS") ||
      e.getMessage.contains("mergeSchema"))
    // with the option: ONE statement evolves (metadata-only) + appends
    val filesBefore = ManagedTable.read(spark, dir).inputFiles.toSet
    Seq((3L, "c", 30L)).toDF("k", "s", "w").write.format("graft")
      .option("mergeSchema", "true").mode("append").save(dir)
    val t = spark.read.format("graft").load(dir)
    assert(t.schema.fieldNames.toSeq == Seq("k", "s", "w"))
    assert(t.count() == 3)
    assert(t.filter(col("w").isNull).count() == 2) // old rows null-fill
    assert(t.filter(col("w") === 30L).count() == 1)
    assert(filesBefore.subsetOf(
      ManagedTable.read(spark, dir).inputFiles.toSet),
      "evolution must not rewrite existing segments")
    // session-level opt-in works too
    spark.conf.set("spark.graft.mergeSchema", "true")
    try {
      Seq((4L, "d", 40L, true)).toDF("k", "s", "w", "flag")
        .write.format("graft").mode("append").save(dir)
    } finally spark.conf.unset("spark.graft.mergeSchema")
    assert(spark.read.format("graft").load(dir)
      .filter(col("flag")).count() == 1)
    // an INCOMPATIBLE source (type change) still refuses even with
    // the option — mergeSchema is strictly additive
    val e2 = intercept[Exception] {
      Seq(("5", "e", 50L, false)).toDF("k", "s", "w", "flag")
        .write.format("graft").option("mergeSchema", "true")
        .mode("append").save(dir)
    }
    assert(e2.getMessage.contains("does not match"))
  }

  test("racing mergeSchema appends: no lost columns, no torn rows — " +
      "each loser fails whole or lands after the winner's evolution") {
    import org.apache.spark.sql.types._
    val dir = tmp("mergerace")
    ManagedTable.commit(Seq((0L, "base")).toDF("k", "s"), dir)
    val cols = Seq("w1", "w2", "w3", "w4")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val attempts = cols.zipWithIndex.map { case (c, i) =>
      scala.concurrent.Future {
        // each writer widens by a DISTINCT column; the version-claim
        // protocol must never let one evolution erase another's
        try {
          spark.range(1).select(lit(i + 1L).as("k"),
            lit(s"row$c").as("s"), lit(i * 10L).as(c))
            .write.format("graft").option("mergeSchema", "true")
            .mode("append").save(dir)
          Right(c)
        } catch { case e: Exception => Left((c, e)) }
      }
    }
    val results = attempts.map(f =>
      scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration(120, "s")))
    pool.shutdown()
    val landed = results.collect { case Right(c) => c }
    val failed = results.collect { case Left((c, e)) => (c, e) }
    // failures must be the retryable version-claim refusal, nothing else
    failed.foreach { case (c, e) =>
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else t.toString +: chain(t.getCause)
      assert(chain(e).exists(m => m.contains("already claimed") ||
        m.contains("re-run") || m.contains("concurrent")),
        s"writer $c failed with a non-retryable error: $e")
    }
    assert(landed.nonEmpty, "at least one racing writer must land")
    val t = spark.read.format("graft").load(dir)
    // every landed writer's column AND rows are present — no lost
    // update; failed writers contribute NOTHING (no torn rows)
    landed.foreach { c =>
      assert(t.schema.fieldNames.contains(c),
        s"landed writer $c lost its column: ${t.schema.fieldNames.toSeq}")
      assert(t.filter(col("s") === s"row$c").count() == 1)
    }
    failed.foreach { case (c, _) =>
      if (!t.schema.fieldNames.contains(c))
        assert(t.schema.fieldNames.count(_ == c) == 0)
      assert(t.filter(col("s") === s"row$c").count() == 0,
        s"failed writer $c left torn rows")
    }
    assert(t.filter(col("s") === "base").count() == 1)
  }

  test("mergeSchema append missing an existing NULLABLE column lands " +
      "narrower and null-fills (Delta semantics) — the deterministic " +
      "form of the racing-loser interleaving; a missing NOT-NULL " +
      "column still refuses") {
    val dir = tmp("mergemissing")
    // base k is non-nullable (primitive Long), s nullable
    ManagedTable.commit(Seq((0L, "base")).toDF("k", "s"), dir)
    // writer 1 widens by w1 (added nullable)
    Seq((1L, "roww1", 10L)).toDF("k", "s", "w1")
      .write.format("graft").option("mergeSchema", "true")
      .mode("append").save(dir)
    // writer 2's source never knew about w1 — exactly what a racing
    // loser's build() sees after the winner landed; must evolve by w2
    // and land with w1 null-filled, not refuse on the winner's column
    Seq((2L, "roww2", 20L)).toDF("k", "s", "w2")
      .write.format("graft").option("mergeSchema", "true")
      .mode("append").save(dir)
    val t = spark.read.format("graft").load(dir)
    assert(t.schema.fieldNames.toSeq == Seq("k", "s", "w1", "w2"))
    assert(t.count() == 3)
    assert(t.filter(col("s") === "roww2" && col("w1").isNull &&
      col("w2") === 20L).count() == 1)
    assert(t.filter(col("s") === "roww1" && col("w1") === 10L &&
      col("w2").isNull).count() == 1)
    // a narrower append missing zero columns of its own still works
    // (pure subset, no evolution): s and the evolved columns null-fill
    Seq(Tuple1(3L)).toDF("k")
      .write.format("graft").option("mergeSchema", "true")
      .mode("append").save(dir)
    assert(spark.read.format("graft").load(dir)
      .filter(col("k") === 3L && col("s").isNull).count() == 1)
    // omitting the NOT-NULL base column k refuses even with the option
    val e = intercept[Exception] {
      Seq(Tuple1("torn")).toDF("s")
        .write.format("graft").option("mergeSchema", "true")
        .mode("append").save(dir)
    }
    assert(e.getMessage.contains("does not match"),
      s"expected the schema-mismatch refusal, got: ${e.getMessage}")
    assert(spark.read.format("graft").load(dir).count() == 4)
  }

  test("a versionAsOf-pinned handle refuses writes (they would target " +
      "a different snapshot than the one resolved)") {
    val dir = tmp("pinwrite")
    ManagedTable.commit(Seq((1L, "a")).toDF("k", "s"), dir)
    ManagedTable.appendCommit(Seq((2L, "b")).toDF("k", "s"), dir)
    val e = intercept[Exception] {
      Seq((3L, "c")).toDF("k", "s").write.format("graft")
        .option("versionAsOf", 1).mode("append").save(dir)
    }
    assert(e.getMessage.contains("pinned"),
      s"expected the pinned-write refusal, got: ${e.getMessage}")
    // reads through the pinned handle still work; head is untouched
    assert(spark.read.format("graft").option("versionAsOf", 1)
      .load(dir).count() == 1L)
    assert(ManagedTable.versions(spark, dir) == Seq(1, 2))
  }

  test("a mismatched caller read schema errors instead of being " +
      "silently replaced by the manifest schema") {
    import org.apache.spark.sql.types._
    val dir = tmp("callerschema")
    ManagedTable.commit(Seq((1L, "a")).toDF("k", "s"), dir)
    val e = intercept[IllegalArgumentException] {
      spark.read.schema(StructType(Seq(StructField("k", IntegerType))))
        .format("graft").load(dir).collect()
    }
    assert(e.getMessage.contains("schema authority"),
      s"expected the schema-mismatch error, got: ${e.getMessage}")
    // a MATCHING caller schema (order/nullability-normalized) is a
    // validation gate only: the relation keeps the MANIFEST's column
    // order, so values must flow correctly when the caller listed the
    // columns in a different order (selecting by name is unaffected)
    val ok = spark.read.schema(StructType(Seq(
        StructField("s", StringType, nullable = true),
        StructField("k", LongType, nullable = true))))
      .format("graft").load(dir)
    assert(ok.schema.fieldNames.toSeq == Seq("k", "s"),
      "the manifest is the schema authority: its order wins")
    val row = ok.select("k", "s").collect().head
    assert(row.getLong(0) == 1L && row.getString(1) == "a")
  }

  test("timestampAsOf strings parse in the SESSION time zone, not " +
      "the JVM default (same semantics as SQL TIMESTAMP AS OF)") {
    val dir = tmp("tstz")
    ManagedTable.commit(Seq((1L, "a")).toDF("k", "s"), dir)
    Thread.sleep(1100)
    val cut = System.currentTimeMillis()
    ManagedTable.appendCommit(Seq((2L, "b")).toDF("k", "s"), dir)
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      // +05:30 — far from the JVM default (UTC in this container);
      // the string below renders `cut` as Kolkata wall-clock time, so
      // a JVM-default parse would land 5.5 h early and find NO
      // version, while a session-zone parse pins version 1
      spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
      val wall = java.time.Instant.ofEpochMilli(cut)
        .atZone(java.time.ZoneId.of("Asia/Kolkata")).toLocalDateTime
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
      assert(spark.read.format("graft")
        .option("timestampAsOf", wall).load(dir).count() == 1L,
        s"session-zone string '$wall' must pin version 1")
      // an unparseable string names the option in its error
      val e = intercept[Exception] {
        spark.read.format("graft")
          .option("timestampAsOf", "not a time").load(dir).collect()
      }
      assert(e.getMessage.contains("timestampAsOf"))
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("startingVersion beyond head+1 fails fast instead of tailing " +
      "nothing forever; head+1 is the legal 'next commit' start") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("svbeyond")
    (0 until 2).foreach { i =>
      ManagedTable.appendCommit(
        spark.range(i * 10, (i + 1) * 10).select(col("id").as("k"))
          .coalesce(1), dir)
    }
    def drain(sv: String, ckpt: String): Seq[Long] = {
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream.format("graft")
        .option("startingVersion", sv).load(dir).writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized {
            seen ++= b.select("k").collect().map(_.getLong(0)) }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      seen.sorted.toSeq
    }
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain("4", Files.createTempDirectory("svb4").toString)
    }
    assert(e.getMessage.contains("beyond the table head") ||
      e.getCause.getMessage.contains("beyond the table head"))
    // head+1 = 3: legal, drains nothing now, tails the next commit
    val ckpt = Files.createTempDirectory("svb3").toString
    assert(drain("3", ckpt).isEmpty)
    ManagedTable.appendCommit(
      spark.range(20, 30).select(col("id").as("k")).coalesce(1), dir)
    assert(drain("3", ckpt) == (20L until 30L))
  }

  test("a fresh stream's initial snapshot APPLIES the base version's " +
      "deletion vectors (matches spark.read of that version)") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("snapdv")
    (0 until 2).foreach { i =>
      ManagedTable.appendCommit(
        spark.range(i * 10, (i + 1) * 10).select(col("id").as("k"))
          .coalesce(1), dir)
    }
    ManagedTable.deleteWhere(spark, dir, col("k") % 3 === 0) // v3: DVs
    ManagedTable.vacuumHistory(spark, dir, retainVersions = 1,
      retentionMs = 0) // only v3 retained → fresh start snapshots it
    // one more append so the FIRST AvailableNow batch mixes the DV'd
    // snapshot files with a clean appended file — exercising the
    // uniform row-reader demotion of that batch
    ManagedTable.appendCommit(
      spark.range(20, 25).select(col("id").as("k")).coalesce(1), dir)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft").load(dir).writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized {
          seen ++= b.select("k").collect().map(_.getLong(0)) }; ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("snapdv").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val expected = spark.read.format("graft").load(dir)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(seen.sorted.toSeq == expected,
      "snapshot + tail must equal the batch read: tombstoned rows " +
        "stay deleted")
    // rows deleted before the vacuum stay gone; the post-delete
    // append (20..24) is untouched by the old predicate
    assert(!expected.exists(k => k < 20 && k % 3 == 0) &&
      expected.size == 18)
  }
}
