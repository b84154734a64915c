package graft.sources

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Manifest-planned scans ([[ManagedTable.scanFiles]]): building a read
  * over many files with a deletion vector starts no Spark job, results
  * (schema with nullability, rows) equal the `spark.read.parquet` scan
  * they replace, a cached read is found again by the next read of the
  * same version, and a listed file missing on disk fails the read.
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

  private def assertSameAsListing(dir: String, v: Int): Unit = {
    val got = ManagedTable.read(spark, dir, Some(v))
    val want = listingRead(dir, v)
    assert(got.schema == want.schema, s"v$v schema")
    assert(got.collect().map(_.toString).sorted.toSeq ==
      want.collect().map(_.toString).sorted.toSeq, s"v$v rows")
  }

  /** Spark jobs started by `body` on this thread, counted by a
    * listener; a marker job after `body` proves every earlier job-start
    * event has been delivered before the count is read.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"manifest-scan-${System.nanoTime()}"
    val started = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet(); ()
          case Some(g) if g == s"$group-marker" => markerSeen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job not seen")
      started.get
    } finally sc.removeSparkListener(listener)
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

  test("schema and rows equal the listing scan: DV, evolved, renamed and empty versions") {
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
