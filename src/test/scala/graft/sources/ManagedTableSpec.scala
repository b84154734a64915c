package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Manifest-versioned table invariants: atomic visibility (a crash
  * between data write and manifest leaves the table unchanged), dense
  * version history with time travel, and vacuum that only removes
  * unreferenced segments.
  */
class ManagedTableSpec extends SparkSpec {

  private def docs = graft.Tables.documents(spark, sf("sf0.001"))

  test("commit/read round trip; overwrite creates a new version; time travel") {
    val dir = Files.createTempDirectory("graft-mt").toString
    val v1Data = docs.filter(col("doc_id") < 20)
    val v2Data = docs.filter(col("doc_id") < 35)
    assert(ManagedTable.commit(v1Data, dir) == 1)
    assert(ManagedTable.commit(v2Data, dir) == 2)
    assert(ManagedTable.versions(spark, dir) == Seq(1, 2))
    // latest = v2
    assert(ManagedTable.read(spark, dir).count() == 35)
    // time travel = v1, bit-exact
    val v1 = ManagedTable.read(spark, dir, Some(1)).orderBy("doc_id").collect()
    assert(v1 === v1Data.orderBy("doc_id").collect())
  }

  test("crashed writer (data without manifest) is invisible; vacuum removes it") {
    val dir = Files.createTempDirectory("graft-mt2").toString
    ManagedTable.commit(docs.filter(col("doc_id") < 10), dir)
    // simulate a writer that died after writing data, before the manifest
    docs.filter(col("doc_id") >= 10)
      .write.parquet(s"$dir/data/v2-deadbeef-crashed")
    assert(ManagedTable.versions(spark, dir) == Seq(1))
    assert(ManagedTable.read(spark, dir).count() == 10)
    // default retention protects the fresh orphan: an in-flight commit
    // writes its segment BEFORE its manifest, and must not be swept
    assert(ManagedTable.vacuum(spark, dir) == Seq.empty)
    val removed = ManagedTable.vacuum(spark, dir, retentionMs = 0L)
    assert(removed == Seq("v2-deadbeef-crashed"))
    // the committed version is untouched
    assert(ManagedTable.read(spark, dir).count() == 10)
  }

  test("empty commit records its schema and reads back as a typed empty DataFrame") {
    val dir = Files.createTempDirectory("graft-mt6").toString
    ManagedTable.commit(docs.filter(col("doc_id") < 5), dir)
    val empty = docs.filter(lit(false))
    ManagedTable.commit(empty, dir)
    val v2 = ManagedTable.read(spark, dir, Some(2))
    assert(v2.count() == 0)
    assert(v2.schema == empty.schema)
    // latest resolves to the empty version, not an error
    assert(ManagedTable.read(spark, dir).count() == 0)
  }

  test("streaming sink: batch-tagged commits are idempotent under replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-mt4").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val q = ManagedTable.streamingSink(mem.toDS().toDF("v"), dir)
      .option("checkpointLocation", ckptDir("mt-sink"))
      .start()
    mem.addData(1L, 2L)
    q.processAllAvailable()
    mem.addData(3L)
    q.processAllAvailable()
    q.stop()
    val vs = ManagedTable.versions(spark, dir)
    assert(vs.size == 2)
    assert(ManagedTable.tags(spark, dir).map(_._2) == Seq("b0", "b1"))
    // replaying an already-committed batch id must be a no-op — the
    // foreachBatch body is re-entered with the same id after a crash
    val replay = Seq(1L, 2L).toDF("v")
    val before = vs
    // simulate the sink body for a replayed id
    if (!ManagedTable.tags(spark, dir).exists(_._2 == "b0"))
      ManagedTable.commit(replay, dir, "b0")
    assert(ManagedTable.versions(spark, dir) == before)
    // full table = union of all batch versions
    val all = ManagedTable.versions(spark, dir)
      .map(v => ManagedTable.read(spark, dir, Some(v)))
      .reduce(_.unionByName(_))
      .as[Long].collect().sorted.toSeq
    assert(all == Seq(1L, 2L, 3L))
  }

  test("schema evolution: a version with an added column reads back; time travel keeps the old schema") {
    val dir = Files.createTempDirectory("graft-mt5").toString
    ManagedTable.commit(docs.select("doc_id", "lang"), dir)
    ManagedTable.commit(
      docs.select(col("doc_id"), col("lang"),
        col("n_chars").as("added_later")), dir)
    val v1 = ManagedTable.read(spark, dir, Some(1))
    val v2 = ManagedTable.read(spark, dir, Some(2))
    assert(v1.columns.toSeq == Seq("doc_id", "lang"))
    assert(v2.columns.toSeq == Seq("doc_id", "lang", "added_later"))
    assert(v2.filter(col("added_later").isNull).count() == 0)
  }

  test("merge: incremental changeset merges equal one batch applyChanges over the union") {
    import spark.implicits._
    // a deterministic random CDC history: ops on 40 keys with a total
    // sequence (seq), ~1/5 deletes, split into 4 arbitrary changesets
    val rnd = new scala.util.Random(7)
    val history = (1 to 200).map { seq =>
      val k = rnd.nextInt(40).toLong
      val op = if (rnd.nextInt(5) == 0) "d" else "u"
      (k, s"payload-$seq", seq.toLong, op)
    }
    val chunks = history.grouped(50).toSeq
    val dir = Files.createTempDirectory("graft-mt7").toString
    chunks.zipWithIndex.foreach { case (c, i) =>
      val df = c.toDF("k", "payload", "seq", "op")
      ManagedTable.merge(df, dir, Seq("k"), Seq(col("seq")), tag = s"m$i")
    }
    val got = ManagedTable.readCurrent(spark, dir,
        deleteExpr = col("op") === "d", exceptColumns = Seq("op"))
      .orderBy("k").collect().toSeq
    val want = graft.operators.ApplyChanges.applyChanges(
        history.toDF("k", "payload", "seq", "op"),
        keys = Seq("k"), sequenceBy = Seq(col("seq")),
        deleteExpr = col("op") === "d", exceptColumns = Seq("op"))
      .orderBy("k").collect().toSeq
    assert(got === want)
    // every merge = one new version; history stays time-travelable
    assert(ManagedTable.versions(spark, dir) == Seq(1, 2, 3, 4))
  }

  test("merge rewrites only segments containing changed keys; others are reused by reference") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mt8").toString
    // two disjoint key populations, committed via merge in two halves so
    // the table has (at least) two segments
    ManagedTable.merge((0L until 50L).map(k => (k, s"a$k", 1L)).toDF("k", "p", "seq"),
      dir, Seq("k"), Seq(col("seq")))
    ManagedTable.merge((100L until 150L).map(k => (k, s"b$k", 2L)).toDF("k", "p", "seq"),
      dir, Seq("k"), Seq(col("seq")))
    val filesV2 = filesOf(dir, 2)
    // touch ONLY the high-key population
    ManagedTable.merge(Seq((120L, "changed", 3L)).toDF("k", "p", "seq"),
      dir, Seq("k"), Seq(col("seq")))
    val filesV3 = filesOf(dir, 3)
    val reused = filesV2.intersect(filesV3)
    // the low-key segment(s) carried over verbatim; at least one segment
    // (the one holding k=120) was rewritten
    assert(reused.nonEmpty)
    assert(filesV3.diff(filesV2).nonEmpty)
    // and the low-key rows are bit-identical, read via the reused files
    val low = ManagedTable.read(spark, dir).filter(col("k") < 100)
      .orderBy("k").collect()
    assert(low.length == 50 && low.head.getString(1) == "a0")
    assert(ManagedTable.read(spark, dir)
      .filter(col("k") === 120L).head().getString(1) == "changed")
  }

  private def filesOf(dir: String, v: Int): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_manifest/v$v.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val raw = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    raw.split("\n")(1).stripPrefix("[").stripSuffix("]").split(",")
      .toSeq.filter(_.nonEmpty).map(_.trim.stripPrefix("\"").stripSuffix("\""))
  }

  /** A table of one file per population, one append each: at the
    * head version `pops.size`, file i holds exactly the rows of
    * `pops(i)`.
    */
  private def tableOfFiles(name: String,
      pops: Seq[Seq[(Long, String, Long)]]): (String, Seq[String]) = {
    import spark.implicits._
    val dir = Files.createTempDirectory(name).toString
    pops.foreach(rows =>
      ManagedTable.appendCommit(rows.toDF("k", "p", "seq").coalesce(1), dir))
    val files = filesOf(dir, pops.size)
    assert(files.size == pops.size)
    (dir, files)
  }

  /** The key model of a merged table: latest `(p, seq)` per key, with
    * op "d" removing the key.
    */
  private def assertCurrent(dir: String,
      want: Map[Long, (String, Long)]): Unit = {
    val got = ManagedTable.readCurrent(spark, dir,
        deleteExpr = col("op") === "d", exceptColumns = Seq("op"))
      .select("k", "p", "seq").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == want)
  }

  test("merge with one stats candidate skips discovery: an update runs at most 4 Spark jobs") {
    import spark.implicits._
    val low = (0L until 50L).map(k => (k, s"a$k", 1L))
    val high = (100L until 150L).map(k => (k, s"b$k", 1L))
    val (dir, files) = tableOfFiles("graft-mt-jobs", Seq(low, high))
    val changes = Seq((120L, "changed", 2L, "u")).toDF("k", "p", "seq", "op")
    // the bounds agg and the rewrite; no cached key frame and no
    // discovery scan for the lone candidate (with both, this merge ran 8)
    val jobs = jobsDuring {
      ManagedTable.merge(changes, dir, Seq("k"), Seq(col("seq"))); ()
    }
    assert(jobs <= 4, s"single-candidate merge ran $jobs jobs")
    val v3 = filesOf(dir, 3)
    assert(v3.contains(files(0)) && !v3.contains(files(1)))
    assertCurrent(dir, ((low ++ high).map { case (k, p, s) => k -> (p, s) }
      .toMap + (120L -> ("changed", 2L))))
  }

  test("merge with one stats candidate holding no changed key rewrites it and stays exact") {
    import spark.implicits._
    // evens in [0, 98] and [200, 298]: the changeset's odd keys fall in
    // the first file's stats range but are absent from it
    val a = (0L until 100L by 2).map(k => (k, s"a$k", 1L))
    val b = (200L until 300L by 2).map(k => (k, s"b$k", 1L))
    val (dir, files) = tableOfFiles("graft-mt-nohit", Seq(a, b))
    val changes = Seq((11L, "new", 2L, "u"), (13L, "gone", 3L, "d"))
      .toDF("k", "p", "seq", "op")
    ManagedTable.merge(changes, dir, Seq("k"), Seq(col("seq")))
    val v3 = filesOf(dir, 3)
    // the documented trade-off: the lone candidate is rewritten, the
    // file outside the bounds is reused by reference
    assert(!v3.contains(files(0)) && v3.contains(files(1)))
    assertCurrent(dir, (a ++ b).map { case (k, p, s) => k -> (p, s) }
      .toMap + (11L -> ("new", 2L)))
  }

  test("merge with two overlapping candidates reuses the one without a changed key") {
    import spark.implicits._
    // evens and odds over the same range: both files overlap the
    // changeset's bounds, only the evens file holds its keys
    val evens = (0L until 100L by 2).map(k => (k, s"e$k", 1L))
    val odds = (1L until 100L by 2).map(k => (k, s"o$k", 1L))
    val (dir, files) = tableOfFiles("graft-mt-disc", Seq(evens, odds))
    ManagedTable.merge(Seq((10L, "changed", 2L, "u"), (40L, "", 3L, "d"))
        .toDF("k", "p", "seq", "op"),
      dir, Seq("k"), Seq(col("seq")))
    val v3 = filesOf(dir, 3)
    assert(!v3.contains(files(0)) && v3.contains(files(1)))
    assertCurrent(dir, ((evens ++ odds).map { case (k, p, s) => k -> (p, s) }
      .toMap + (10L -> ("changed", 2L)) - 40L))
  }

  test("an append to a Bloom-digested table runs 1 Spark job: the write folds the digests") {
    import spark.implicits._
    val (dir, _) = tableOfFiles("graft-mt-bfjobs", Seq(Seq((1L, "a", 1L))))
    ManagedTable.setTableProperties(spark, dir,
      Map(BloomSkipping.ColumnsProp -> "k,p"))
    val rows = (0L until 100L).map(k => (k, s"p$k", 1L)).toDF("k", "p", "seq")
    val jobs = jobsDuring { ManagedTable.appendCommit(rows, dir); () }
    assert(jobs == 1, s"digested append ran $jobs jobs")
    val (_, files, _, stats) = ManagedTable.readManifest(spark, dir, 3)
    assert(files.filterNot(filesOf(dir, 2).contains)
      .forall(f => stats(f).contains(BloomSkipping.statKey("k"))))
  }

  test("an append to a plain table runs 1 Spark job") {
    import spark.implicits._
    val (dir, _) = tableOfFiles("graft-mt-appendjobs", Seq(Seq((1L, "a", 1L))))
    val rows = (0L until 100L).map(k => (k, s"p$k", 1L)).toDF("k", "p", "seq")
    val jobs = jobsDuring { ManagedTable.appendCommit(rows, dir); () }
    assert(jobs == 1, s"plain append ran $jobs jobs")
  }

  test("data skipping: range reads plan only stats-matching files; results equal the unpruned filter") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mt9").toString
    // range-clustered commit: 8 files, each covering a tight doc_id range
    ManagedTable.commit(
      docs.repartitionByRange(8, col("doc_id")), dir)
    val (kept, all) = ManagedTable.planFiles(spark, dir, "doc_id", 100L, 180L)
    assert(all.size == 8)
    assert(kept.nonEmpty && kept.size < all.size)
    val got = ManagedTable.readWhere(spark, dir, "doc_id", 100L, 180L)
      .orderBy("doc_id").collect()
    val want = ManagedTable.read(spark, dir)
      .filter(col("doc_id").between(100L, 180L))
      .orderBy("doc_id").collect()
    assert(got === want)
    // string column pruning works too, and is conservative
    val (keptS, _) = ManagedTable.planFiles(spark, dir, "lang", "de", "de")
    val gotS = ManagedTable.readWhere(spark, dir, "lang", "de", "de").count()
    assert(gotS == ManagedTable.read(spark, dir)
      .filter(col("lang") === "de").count())
    assert(keptS.size <= all.size)
    // a fully-disjoint probe prunes everything and still returns typed empty
    val none = ManagedTable.readWhere(spark, dir, "doc_id", -500L, -100L)
    assert(none.count() == 0 && none.columns.contains("doc_id"))
  }

  test("data skipping property: random layouts × random probes always equal the unpruned filter") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    (0 until 3).foreach { trial =>
      val dir = Files.createTempDirectory(s"graft-mtp$trial").toString
      val n = 200 + rnd.nextInt(200)
      val data = (0 until n)
        .map(_ => (rnd.nextInt(1000).toLong, rnd.nextInt(50).toLong))
        .toDF("id", "grp")
      // random layout: clustered, hash-partitioned, or single-file —
      // stats must make pruning CORRECT for all of them, tight or not
      val laid = rnd.nextInt(3) match {
        case 0 => data.repartitionByRange(5, col("id"))
        case 1 => data.repartition(5)
        case _ => data.coalesce(1)
      }
      ManagedTable.commit(laid, dir)
      (0 until 5).foreach { _ =>
        val a = rnd.nextInt(1100) - 50
        val b = a + rnd.nextInt(300)
        val got = ManagedTable.readWhere(spark, dir, "id", a.toLong, b.toLong)
          .orderBy("id", "grp").collect()
        val want = ManagedTable.read(spark, dir)
          .filter(col("id").between(a.toLong, b.toLong))
          .orderBy("id", "grp").collect()
        assert(got === want, s"trial $trial probe [$a,$b]")
      }
    }
  }

  test("compact bins small files into one segment; content and time travel unchanged") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mt10").toString
    // many small files: 6-way round-robin split of a small table
    ManagedTable.commit(docs.filter(col("doc_id") < 60).repartition(6), dir)
    val before = ManagedTable.read(spark, dir).orderBy("doc_id").collect()
    val v = ManagedTable.compact(spark, dir)
    assert(v == 2)
    assert(filesOf(dir, 2).size < filesOf(dir, 1).size)
    // identical content after compaction…
    assert(ManagedTable.read(spark, dir).orderBy("doc_id").collect() === before)
    // …and the pre-compaction version is still readable (time travel)
    assert(ManagedTable.read(spark, dir, Some(1)).count() == 60)
    // compacting an already-compacted table is a no-op
    assert(ManagedTable.compact(spark, dir) == 2)
    // data skipping keeps working across the rewrite: the fresh
    // segment's stats were recomputed, carried files kept theirs
    val got = ManagedTable.readWhere(spark, dir, "doc_id", 10L, 20L)
      .orderBy("doc_id").collect()
    val want = ManagedTable.read(spark, dir)
      .filter(col("doc_id").between(10L, 20L)).orderBy("doc_id").collect()
    assert(got === want)
  }

  test("clustered compact (OPTIMIZE ZORDER): output segments carry disjoint key ranges and prune") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mt15").toString
    // 8 small files, each spanning the FULL x range (arrival order is
    // uncorrelated with the probe column — the worst case for zone maps)
    val rows = (0 until 1024).map(i => (i.toLong % 512, (i * 7 % 512).toLong,
      s"payload_$i"))
    ManagedTable.commit(rows.toDF("x", "y", "p").repartition(8), dir)
    val (keptBefore, allBefore) =
      ManagedTable.planFiles(spark, dir, "x", 0L, 63L)
    assert(keptBefore.size == allBefore.size,
      "arrival-order files all span the x range: nothing prunes")
    val before = ManagedTable.read(spark, dir).orderBy("x", "y", "p").collect()
    // compact clustered by the Morton interleave of (x, y): output
    // segments get disjoint z ranges, so BOTH dims' per-file extents
    // shrink and a 1-D range probe prunes. Bin threshold = total/6 so
    // ~6 output segments emerge (each input file is total/8 < total/6,
    // so all still count as small) — with only 2 z-halves the top bit
    // constrains one dim only and nothing would prune.
    val totalBytes = filesOf(dir, 1)
      .map(p => new java.io.File(dir, p).length()).sum
    val v = ManagedTable.compact(spark, dir,
      smallFileBytes = totalBytes / 6 + 1,
      clusterBy = Seq(graft.queries.LayoutQueries.morton12(col("x"), col("y"))))
    assert(v == 2)
    assert(filesOf(dir, 2).size >= 4,
      s"the clustering demo needs several output segments, got ${filesOf(dir, 2).size}")
    val (keptAfter, allAfter) = ManagedTable.planFiles(spark, dir, "x", 0L, 63L)
    assert(keptAfter.size < allAfter.size,
      s"z-clustered segments must prune the x probe: ${keptAfter.size}/${allAfter.size}")
    // same rows, same schema — only the layout changed
    assert(ManagedTable.read(spark, dir).orderBy("x", "y", "p").collect()
      === before)
    // and the pruned read equals the unpruned filter
    val got = ManagedTable.readWhere(spark, dir, "x", 0L, 63L)
      .orderBy("x", "y", "p").collect()
    val want = ManagedTable.read(spark, dir)
      .filter(col("x").between(0L, 63L)).orderBy("x", "y", "p").collect()
    assert(got === want)
  }

  test("merge schema evolution: a changeset with a new column widens the table; old segments null-fill") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mt13").toString
    ManagedTable.merge(
      Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("k", "p", "seq"),
      dir, Seq("k"), Seq(col("seq")))
    // evolved changeset: adds `score`, touches only key 2 — key 1's
    // segment is NOT rewritten, so its rows must null-fill at read
    ManagedTable.merge(
      Seq((2L, "b2", 3L, 10L), (3L, "c", 4L, 20L))
        .toDF("k", "p", "seq", "score"),
      dir, Seq("k"), Seq(col("seq")))
    val v2 = ManagedTable.read(spark, dir)
    assert(v2.columns.toSeq == Seq("k", "p", "seq", "score"))
    val rows = v2.as[(Long, String, Long, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", 1L, None), (2L, "b2", 3L, Some(10L)),
      (3L, "c", 4L, Some(20L))))
    // time travel: the pre-evolution version keeps its narrow schema
    assert(ManagedTable.read(spark, dir, Some(1)).columns.toSeq ==
      Seq("k", "p", "seq"))
    // and a later changeset MISSING a stored column gets nulls there
    ManagedTable.merge(Seq((4L, 5L, 30L)).toDF("k", "seq", "score"),
      dir, Seq("k"), Seq(col("seq")))
    val r4 = ManagedTable.read(spark, dir).filter(col("k") === 4L)
      .as[(Long, Option[String], Long, Option[Long])].head()
    assert(r4 == ((4L, None, 5L, Some(30L))))
  }

  test("compact after schema evolution keeps the evolved columns' data") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mt14").toString
    // two small segments with DIFFERENT physical schemas: footer
    // inference would take the narrow v1 segment's schema and silently
    // null the evolved `score` column in the packed output
    ManagedTable.merge(
      Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("k", "p", "seq"),
      dir, Seq("k"), Seq(col("seq")))
    // touches only NEW keys, so the narrow v1 segment is carried into
    // v2 by reference and v2 really holds mixed physical schemas
    ManagedTable.merge(
      Seq((3L, "c", 4L, 20L), (4L, "d", 5L, 30L))
        .toDF("k", "p", "seq", "score"),
      dir, Seq("k"), Seq(col("seq")))
    val v3 = ManagedTable.compact(spark, dir)
    assert(v3 == 3)
    val rows = ManagedTable.read(spark, dir)
      .as[(Long, String, Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", 1L, None), (2L, "b", 2L, None),
      (3L, "c", 4L, Some(20L)), (4L, "d", 5L, Some(30L))))
  }

  test("concurrent merges: the version-race loser retries and both changesets land") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mt12").toString
    ManagedTable.merge(Seq((1L, "a", 1L)).toDF("k", "p", "seq"),
      dir, Seq("k"), Seq(col("seq")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val futures = (0 until 2).map { i =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          val df = Seq((10L + i, s"t$i", 5L + i)).toDF("k", "p", "seq")
          barrier.await() // maximize the chance both plan the same version
          ManagedTable.merge(df, dir, Seq("k"), Seq(col("seq")))
        }
      })
    }
    val claimed = futures.map(_.get())
    pool.shutdown()
    // both merges succeeded with DISTINCT dense versions…
    assert(claimed.toSet.size == 2)
    assert(ManagedTable.versions(spark, dir) == Seq(1, 2, 3))
    // …and neither changeset was lost to the race
    val state = ManagedTable.read(spark, dir)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(state.map(_._1) == Seq(1L, 10L, 11L))
  }

  test("streaming merge sink: CDC micro-batches upsert exactly-once under replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-mt11").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long, String)]
    val q = ManagedTable.mergeStreamingSink(
        mem.toDS().toDF("k", "payload", "seq", "op"),
        dir, keys = Seq("k"), sequenceBy = Seq(col("seq")))
      .option("checkpointLocation", ckptDir("mt-merge-sink"))
      .start()
    mem.addData((1L, "a", 1L, "u"), (2L, "b", 2L, "u"))
    q.processAllAvailable()
    mem.addData((1L, "a2", 3L, "u"), (2L, "gone", 4L, "d"), (3L, "c", 5L, "u"))
    q.processAllAvailable()
    q.stop()
    // replayed batch id is a no-op (same idempotence as the append sink)
    val before = ManagedTable.versions(spark, dir)
    if (!ManagedTable.tags(spark, dir).exists(_._2 == "m0"))
      ManagedTable.merge(Seq((1L, "a", 1L, "u")).toDF("k", "payload", "seq", "op"),
        dir, Seq("k"), Seq(col("seq")), "m0")
    assert(ManagedTable.versions(spark, dir) == before)
    val state = ManagedTable.readCurrent(spark, dir,
        deleteExpr = col("op") === "d", exceptColumns = Seq("op"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(state == Seq((1L, "a2", 3L), (3L, "c", 5L)))
  }

  test("change data feed: insert/delete/update rows between merge versions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cdf1").toString
    val base = Seq((1L, 1L, "a", "u"), (2L, 1L, "b", "u"), (3L, 1L, "c", "u"))
      .toDF("k", "seq", "v", "op")
    ManagedTable.merge(base, dir, Seq("k"), Seq(col("seq")))
    val batch = Seq(
      (2L, 2L, "B", "u"),  // update
      (3L, 2L, "c", "d"),  // delete
      (4L, 2L, "d", "u"))  // insert
      .toDF("k", "seq", "v", "op")
    ManagedTable.merge(batch, dir, Seq("k"), Seq(col("seq")))
    val cdf = ManagedTable.changes(spark, dir, 1, 2, Seq("k"),
        deleteExpr = col("op") === "d", exceptColumns = Seq("seq", "op"))
      .orderBy("k", "_change_type")
      .select("_change_type", "k", "v").as[(String, Long, String)].collect()
    assert(cdf === Array(
      ("update_postimage", 2L, "B"), ("update_preimage", 2L, "b"),
      ("delete", 3L, "c"), ("insert", 4L, "d")))
    // key 1 untouched: no row. from == to: empty feed.
    assert(ManagedTable.changes(spark, dir, 2, 2, Seq("k")).isEmpty)
  }

  test("change data feed property: snapshot(i) + changes(i,j) reconstructs snapshot(j)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cdf2").toString
    val rnd = new scala.util.Random(20260813)
    (0 until 5).foreach { b =>
      val batch = Seq.fill(12) {
        val k = rnd.nextInt(20).toLong
        (k, b.toLong, s"v$b-${rnd.nextInt(100)}",
          if (rnd.nextInt(4) == 0) "d" else "u")
      }.toDF("k", "seq", "v", "op")
      ManagedTable.merge(batch, dir, Seq("k"), Seq(col("seq"), col("v")))
    }
    def snap(v: Int): Map[Long, String] =
      ManagedTable.readCurrent(spark, dir, col("op") === "d",
          Seq("seq", "op"), Some(v))
        .as[(Long, String)].collect().toMap
    val vs = ManagedTable.versions(spark, dir)
    for (i <- vs; j <- vs if i <= j) {
      val cdf = ManagedTable.changes(spark, dir, i, j, Seq("k"),
          deleteExpr = col("op") === "d", exceptColumns = Seq("seq", "op"))
        .select("_change_type", "k", "v").as[(String, Long, String)]
        .collect()
      val gone = cdf.collect {
        case (t, k, _) if t == "delete" || t == "update_preimage" => k
      }.toSet
      val added = cdf.collect {
        case (t, k, v) if t == "insert" || t == "update_postimage" => k -> v
      }.toMap
      val rec = (snap(i) -- gone) ++ added
      assert(rec === snap(j), s"reconstruction failed for v$i -> v$j")
      // and the feed never reports a spurious change
      cdf.groupBy(_._2).foreach { case (k, rows) =>
        assert(rows.length <= 2, s"key $k reported ${rows.toSeq}")
      }
    }
  }

  test("change data feed: compaction's byte-moves produce an empty feed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cdf3").toString
    (0 until 3).foreach { b =>
      ManagedTable.merge(
        Seq((b.toLong, b.toLong, s"v$b", "u")).toDF("k", "seq", "v", "op"),
        dir, Seq("k"), Seq(col("seq")))
    }
    val before = ManagedTable.versions(spark, dir).last
    val after = ManagedTable.compact(spark, dir)
    assert(after > before, "compact should have binned the small segments")
    assert(ManagedTable.changes(spark, dir, before, after, Seq("k"),
      deleteExpr = col("op") === "d").isEmpty)
  }

  test("change data feed: preimages from a pre-evolution schema null-fill added columns") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cdf4").toString
    ManagedTable.merge(Seq((1L, 1L, "a", "u")).toDF("k", "seq", "v", "op"),
      dir, Seq("k"), Seq(col("seq")))
    ManagedTable.merge(
      Seq((1L, 2L, "A", "fresh", "u")).toDF("k", "seq", "v", "extra", "op"),
      dir, Seq("k"), Seq(col("seq")))
    val cdf = ManagedTable.changes(spark, dir, 1, 2, Seq("k"),
        deleteExpr = col("op") === "d", exceptColumns = Seq("seq", "op"))
      .orderBy("_change_type")
      .select("_change_type", "k", "v", "extra")
      .as[(String, Long, String, Option[String])].collect()
    assert(cdf === Array(
      ("update_postimage", 1L, "A", Some("fresh")),
      ("update_preimage", 1L, "a", None)))
  }

  test("concurrent committers conflict on the version file instead of interleaving") {
    val dir = Files.createTempDirectory("graft-mt3").toString
    ManagedTable.commit(docs.limit(5), dir)
    // racing committer claims v2 first
    ManagedTable.commit(docs.limit(7), dir)
    // a stale writer that also computed next=2 must fail its manifest
    // create — simulate by creating the claim directly
    val p = new org.apache.hadoop.fs.Path(s"$dir/_manifest/v2.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assertThrows[java.io.IOException] {
      fs.create(p, false).close()
    }
  }
}
