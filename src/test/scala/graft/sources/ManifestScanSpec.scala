package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Manifest-planned scans ([[ManagedTable.scanFiles]]): building a read
  * over many files with a deletion vector starts no Spark job, results
  * (schema with nullability, rows) equal the `spark.read.parquet` scan
  * they replace, a cached read is found again by the next read of the
  * same version, and a listed file missing on disk fails the read.
  *
  * Deletion vectors apply inside the scan ([[DvLive]]) on both DV
  * tiers: a DV'd read runs the jobs of a DV-free scan, with no join,
  * and the inline and bulk tiers give the same rows. The oracle is
  * [[listingRead]], which applies the DV with its own anti-join over
  * `spark.read.parquet` and shares no code with the read paths — the
  * connector and [[ManagedTable.read]] both resolve DVs through
  * [[GraftDvReader.DvPlan]], so comparing them with each other
  * (LifecycleFuzzSpec) cannot catch a resolver fault.
  */
class ManifestScanSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", StringType)))

  private def rows(ids: Seq[Long]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      ids.map(i => Row(i, s"r$i")), 1), schema)

  /** A table of `versions` one-file appends of 5 rows each, then a
    * deleteWhere deletion vector over ids 3..12. Returns the dir.
    */
  private def history(name: String, versions: Int): String = {
    val dir = Files.createTempDirectory(name).toString
    (0 until versions).foreach { i =>
      ManagedTable.appendCommit(rows((i * 5L) until (i * 5L + 5)), dir)
    }
    ManagedTable.deleteWhere(spark, dir, col("id").between(3, 12))
    dir
  }

  /** The scan `ManagedTable.read` was before it planned from the
    * manifest: `spark.read.schema(physical).parquet(paths)` minus the
    * footer-inferred DV, renamed to logical names; an empty version is
    * a typed empty frame of the recorded schema.
    */
  private def listingRead(dir: String, v: Int): DataFrame = {
    val (_, all, schemaJson, _) = ManagedTable.readManifest(spark, dir, v)
    val (files, dv) = ManagedTable.splitDv(all)
    val recorded = ManagedTable.schemaOf(schemaJson.get)
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        ColumnMapping.strip(recorded))
    val physS = ColumnMapping.physSchema(recorded)
    val base = spark.read.schema(physS).parquet(files.map(p => s"$dir/$p"): _*)
    val deDv =
      if (dv.isEmpty) base
      else base
        .withColumn("__file", concat(lit("data/"),
          substring_index(col("_metadata.file_path"), "/data/", -1)))
        .withColumn("__pos", col("_metadata.row_index"))
        .join(spark.read.parquet(dv.map(p => s"$dir/$p"): _*)
          .select("__file", "__pos"), Seq("__file", "__pos"), "left_anti")
        .drop("__file", "__pos")
    if (physS eq recorded) deDv else deDv.toDF(recorded.fieldNames: _*)
  }

  /** `body` with every DV on the bulk tier: positions resolved per
    * file from the DV parquet, none inline.
    */
  private def onBulkTier[A](body: => A): A = {
    spark.conf.set(GraftDvReader.InlineMaxRowsConf, "0")
    try body finally spark.conf.unset(GraftDvReader.InlineMaxRowsConf)
  }

  private def assertSameAsListing(dir: String, v: Int): Unit = {
    val got = ManagedTable.read(spark, dir, Some(v))
    val want = listingRead(dir, v)
    assert(got.schema == want.schema, s"v$v schema")
    assert(got.collect().map(_.toString).sorted.toSeq ==
      want.collect().map(_.toString).sorted.toSeq, s"v$v rows")
  }

  test("building a read over 40+ files with a deletion vector starts no Spark job") {
    val dir = history("graft-mscan-jobs", 41)
    val (_, all, _, _) = ManagedTable.readManifest(spark, dir,
      ManagedTable.versions(spark, dir).last)
    val (files, dv) = ManagedTable.splitDv(all)
    assert(files.size >= 40 && dv.nonEmpty)
    var df: DataFrame = null
    assert(jobsDuring { df = ManagedTable.read(spark, dir) } == 0)
    assert(df.count() == 41 * 5 - 10)
    assert(jobsDuring { ManagedTable.dvRows(spark, dir, dv); () } == 0,
      "the DV is read under its fixed schema, with no inference job")
  }

  private def sameAsListingAcrossVersions(): Unit = {
    val dir = history("graft-mscan-same", 3)
    val dvV = ManagedTable.versions(spark, dir).last
    // schema evolution: old segments read null in the added column
    val wide = StructType(schema.fields :+ StructField("extra", IntegerType))
    val evolvedV = ManagedTable.evolveSchema(spark, dir, wide)
    ManagedTable.appendCommit(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(100L, "new", 7)), 1), wide), dir)
    val appendedV = ManagedTable.versions(spark, dir).last
    // column mapping: segments keep the physical name
    val renamedV = ManagedTable.renameColumn(spark, dir, "v", "label")
    assert(ColumnMapping.isMapped(ManagedTable.schemaOf(
      ManagedTable.readManifest(spark, dir, renamedV)._3.get)))
    // an empty version: no files, a recorded schema
    val emptyV = renamedV + 1
    ManagedTable.writeManifest(spark, dir, emptyV, "", Seq.empty,
      ManagedTable.readManifest(spark, dir, renamedV)._3.get, Map.empty)
    Seq(dvV, evolvedV, appendedV, renamedV, emptyV)
      .foreach(assertSameAsListing(dir, _))
    assert(ManagedTable.read(spark, dir, Some(appendedV))
      .filter(col("extra").isNull).count() == 3 * 5 - 10)
    assert(ManagedTable.read(spark, dir, Some(emptyV)).isEmpty)
  }

  test("schema and rows equal the listing scan: DV, evolved, renamed and empty versions") {
    sameAsListingAcrossVersions()
  }

  test("schema and rows equal the listing scan on the bulk DV tier") {
    onBulkTier(sameAsListingAcrossVersions())
  }

  /** deleteWhere → deleteWhere → merge → compact on a fresh table:
    * whether the DV took the inline tier, then every version's rows
    * (each checked against [[listingRead]]) and every consecutive
    * change feed.
    */
  private def dvLifecycle(name: String): (Boolean, Seq[Seq[String]]) = {
    val dir = Files.createTempDirectory(name).toString
    val seqSchema = StructType(schema.fields :+ StructField("seq", LongType))
    def batch(ids: Seq[Long], tag: String, seq: Long): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(
        ids.map(i => Row(i, s"$tag$i", seq)), 1), seqSchema)
    (0 until 4).foreach(i =>
      ManagedTable.appendCommit(batch(i * 10L until i * 10L + 10, "r", 0), dir))
    ManagedTable.deleteWhere(spark, dir, col("id").between(3, 7))
    ManagedTable.deleteWhere(spark, dir, col("id") % 5 === 1)
    val (_, dvAll, _, _) = ManagedTable.readManifest(spark, dir,
      ManagedTable.versions(spark, dir).last)
    val plan = GraftDvReader.DvPlan.resolve(spark, dir,
      ManagedTable.splitDv(dvAll)._2)
    assert(plan.counts.values.sum == 5 + 7, plan)
    // the merge rewrites ids 2, 12 and 25's files DV-aware and adds 40
    ManagedTable.merge(batch(Seq(2L, 12L, 25L, 40L), "m", 1), dir,
      keys = Seq("id"), sequenceBy = Seq(col("seq")))
    ManagedTable.compact(spark, dir, smallFileBytes = 64L * 1024 * 1024)
    val vs = ManagedTable.versions(spark, dir)
    vs.foreach(assertSameAsListing(dir, _))
    def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    (plan.inline.isDefined,
      vs.map(v => sorted(ManagedTable.read(spark, dir, Some(v)))) ++
        vs.zip(vs.tail).map { case (a, b) =>
          sorted(ManagedTable.changes(spark, dir, a, b, keys = Seq("id")))
        })
  }

  test("deleteWhere, deleteWhere, merge, compact and changes agree on both DV tiers") {
    val (inlineTier, inline) = dvLifecycle("graft-mscan-tier-inline")
    val (bulkTier, bulk) = onBulkTier(dvLifecycle("graft-mscan-tier-bulk"))
    assert(inlineTier && !bulkTier)
    // the feeds of the second delete, the merge and the compaction
    val Seq(delete2, merged, compacted) = inline.takeRight(3)
    assert(delete2.size == 7 && delete2.forall(_.contains("delete")))
    assert(merged.count(_.contains("update_postimage")) == 3 &&
      merged.count(_.contains("insert")) == 1, merged)
    assert(compacted.isEmpty, "compaction changes no row")
    assert(bulk == inline)
  }

  test("a DV'd head read runs the jobs of a DV-free scan, with no join or broadcast") {
    val dir = history("graft-mscan-nojoin", 38)
    val (_, all, schemaJson, _) = ManagedTable.readManifest(spark, dir,
      ManagedTable.versions(spark, dir).last)
    val (files, dv) = ManagedTable.splitDv(all)
    assert(dv.nonEmpty)
    def agg(df: DataFrame) = df.agg(count(lit(1)), sum("id"))
    var dvRead: DataFrame = null
    assert(jobsDuring { dvRead = agg(ManagedTable.read(spark, dir)) } == 0)
    val plain = agg(ManagedTable.scanFiles(spark, dir, files,
      ManagedTable.schemaOf(schemaJson.get)))
    var got: Row = null
    val dvJobs = jobsDuring { got = dvRead.collect().head }
    val plainJobs = jobsDuring { plain.collect(); () }
    assert(dvJobs == plainJobs, s"DV'd read $dvJobs jobs, plain $plainJobs")
    assert(got.getLong(0) == 38 * 5 - 10 &&
      got.getLong(1) == (0L until 38 * 5).sum - (3L to 12L).sum)
    val executed = dvRead.queryExecution.executedPlan.toString
    assert(!executed.contains("Join") &&
      !executed.contains("BroadcastExchange"), executed)
  }

  test("planning a connector scan of a DV'd version under the inline cap starts no Spark job") {
    val dir = history("graft-mscan-connector", 3)
    var df: DataFrame = null
    assert(jobsDuring {
      df = spark.read.format("graft").load(dir)
      df.queryExecution.executedPlan; ()
    } == 0)
    assert(df.count() == 3 * 5 - 10)
  }

  test("a cached read is found by the next read of the same version") {
    val dir = history("graft-mscan-cache", 2)
    val v = ManagedTable.versions(spark, dir).last
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def classic(df: DataFrame) =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val first = ManagedTable.read(spark, dir, Some(v)).cache()
    try {
      first.count()
      assert(cm.lookupCachedData(classic(ManagedTable.read(spark, dir,
        Some(v)))).isDefined)
      assert(cm.lookupCachedData(classic(ManagedTable.read(spark, dir,
        Some(v - 1)))).isEmpty, "another version is another scan")
    } finally { first.unpersist(); () }
  }

  test("a manifest-listed file missing on disk fails the read") {
    val dir = history("graft-mscan-missing", 2)
    val (_, all, _, _) = ManagedTable.readManifest(spark, dir,
      ManagedTable.versions(spark, dir).last)
    val gone = ManagedTable.splitDv(all)._1.head
    assert(new java.io.File(s"$dir/$gone").delete())
    val e = intercept[Exception](ManagedTable.read(spark, dir).collect())
    assert(e.getMessage.contains(gone.split('/').last), e.getMessage)
  }
}
