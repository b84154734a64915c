package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The manifest stats every writer folds as it writes a file
  * ([[WriteStats]]) must equal the stats recomputed from the written
  * files ([[ScanStats]]), minus the float/double min/max the writer
  * deliberately omits, on every type and through every writer: the
  * segment write of [[ManagedTable]] (commit, append, merge, replace,
  * compaction), the connector's INSERT, copy-on-write UPDATE and
  * streaming sink, over renamed, evolved, deletion-vectored and
  * Bloom-digested tables. Bloom sidecars must hold the reference digest
  * bytes.
  */
class WriteStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-ws-$name").toString + "/t"

  private def dataFiles(all: Seq[String]): Seq[String] =
    all.filterNot(_.startsWith("dv:"))

  /** Every data file each version of `dir` adds records exactly the
    * reference stats, resolved with that version's properties and
    * schema; every Bloom sidecar holds the reference digest. Returns
    * the number of digests checked.
    */
  private def assertMatchesReference(dir: String): Int = {
    var prev = Set.empty[String]
    var digests = 0
    ManagedTable.versions(spark, dir).foreach { v =>
      val (_, all, schemaJson, stats) = ManagedTable.readManifest(spark, dir, v)
      val files = dataFiles(all)
      val added = files.filterNot(prev.contains)
      prev = files.toSet
      if (added.nonEmpty) {
        val (want, bytes) = ScanStats(spark, dir, added,
          ManagedTable.propertiesOf(stats),
          schemaJson.map(ManagedTable.schemaOf))
        val fileSchema = spark.read.parquet(s"$dir/${added.head}").schema
        added.foreach { f =>
          val expect = ScanStats.withoutFloatEndpoints(want(f), fileSchema)
          assert(stats.getOrElse(f, Map.empty) == expect,
            s"v$v $f:\n  recorded=${stats.get(f)}\n  reference=$expect")
        }
        bytes.foreach { case ((f, c), payload) =>
          val (side, scheme) = stats(f)(BloomSkipping.statKey(c))
          assert(scheme == BloomSkipping.Scheme)
          assert(Files.readAllBytes(Paths.get(s"$dir/$side")).sameElements(payload),
            s"v$v $f: sidecar of $c differs from the reference digest")
          digests += 1
        }
      }
    }
    digests
  }

  private def headStats(dir: String) = {
    val (_, all, _, stats) = ManagedTable.readManifest(spark, dir,
      ManagedTable.versions(spark, dir).last)
    (dataFiles(all), stats)
  }

  test("mixed-type segment: recorded stats equal the reference minus " +
      "float/double min/max") {
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("sh", ShortType), StructField("by", ByteType),
      StructField("s", StringType), StructField("d", DateType),
      StructField("ts", TimestampType),
      StructField("dec", DecimalType(18, 2)),
      StructField("db", DoubleType), StructField("fl", FloatType),
      StructField("bo", BooleanType),
      StructField("arr", ArrayType(LongType)),
      StructField("allnull", StringType)))
    val rows = Seq(
      Row(1L, -5, 7.toShort, 2.toByte, "alpha",
        java.sql.Date.valueOf("2024-02-29"),
        java.sql.Timestamp.valueOf("2024-02-29 23:59:59.123456"),
        new java.math.BigDecimal("12345.67"), 1.5d, -2.5f, true,
        Seq(1L, 2L), null),
      Row(-9L, 100, -3.toShort, -2.toByte, "Ωmega",
        java.sql.Date.valueOf("1969-12-31"),
        java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999"),
        new java.math.BigDecimal("-0.50"), Double.NaN, 0.0f, false,
        Seq.empty[Long], null),
      Row(null, null, null, null, "", null, null, null, null, null,
        null, null, null))
    val dir = tmp("mixed")
    ManagedTable.commit(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema), dir)
    assertMatchesReference(dir)
    val (files, stats) = headStats(dir)
    val withRows = files.filter(f =>
      stats(f)(ManagedTable.RowsStat)._1.toLong > 0)
    assert(withRows.nonEmpty)
    // the entries the writer drops are exactly float/double min/max;
    // their non-null counts still record
    withRows.foreach { f =>
      Seq("db", "fl").foreach { k =>
        assert(!stats(f).contains(k))
        assert(stats(f).contains(ManagedTable.nnStat(k)))
      }
      assert(!stats(f).contains("allnull"))
      assert(stats(f)(ManagedTable.nnStat("allnull")) == (("0", "0")))
    }
  }

  test(">4 KB strings record exact endpoints: nothing falls back") {
    val big = "x" * 5000 + "zz" // past parquet's 4 KB footer stats limit
    val small = "a" * 5000
    val dir = tmp("bigstr")
    ManagedTable.commit(Seq((1L, big), (2L, small)).toDF("id", "s")
      .coalesce(1), dir)
    assertMatchesReference(dir)
    val (files, stats) = headStats(dir)
    assert(files.map(f => stats(f).get("s")) == Seq(Some((small, big))))
  }

  test("moderately long strings (hundreds of bytes) keep exact endpoints") {
    val lo = "m" * 400 + "A"
    val hi = "m" * 400 + "z"
    val dir = tmp("midstr")
    ManagedTable.commit(Seq((1L, lo), (2L, hi)).toDF("id", "s")
      .coalesce(1), dir)
    assertMatchesReference(dir)
    val (files, stats) = headStats(dir)
    assert(files.map(f => stats(f).get("s")) == Seq(Some((lo, hi))))
  }

  test("multi-row-group file: one fold over every block; all-null " +
      "columns record counts and omit endpoints") {
    val k = "parquet.block.size"
    val prev = spark.sparkContext.hadoopConfiguration.get(k)
    // force several row groups in one file via a tiny block size
    spark.sparkContext.hadoopConfiguration.set(k, "1024")
    try {
      val dir = tmp("blocks")
      ManagedTable.commit(spark.range(0, 20000).toDF("id")
        .withColumn("s", concat(lit("v"), col("id")))
        .withColumn("nul", lit(null).cast("long"))
        .coalesce(1), dir)
      assertMatchesReference(dir)
      val (files, stats) = headStats(dir)
      assert(stats(files.head).get("id") == Some(("0", "19999")))
      assert(!stats(files.head).contains("nul"))
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/${files.head}"),
        spark.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try assert(r.getFooter.getBlocks.size > 1) finally r.close()
    } finally {
      if (prev == null) spark.sparkContext.hadoopConfiguration.unset(k)
      else spark.sparkContext.hadoopConfiguration.set(k, prev)
    }
  }

  test("commit and append: manifest stats are the reference render, " +
      "with min/max on id and ts") {
    val dir = tmp("append")
    def frame(rows: (Long, String, String)*): DataFrame =
      rows.map { case (id, s, ts) => (id, s, java.sql.Timestamp.valueOf(ts)) }
        .toDF("id", "s", "ts")
    ManagedTable.commit(frame((3L, "c", "2024-01-02 03:04:05.000001"),
      (1L, "a", "2023-12-31 23:00:00.0")), dir)
    ManagedTable.appendCommit(frame((7L, "q", "2025-06-01 00:00:00.5")), dir)
    assertMatchesReference(dir)
    val (files, stats) = headStats(dir)
    files.filter(f => stats(f)(ManagedTable.RowsStat)._1.toLong > 0)
      .foreach { f =>
        assert(stats(f).contains("id")); assert(stats(f).contains("ts"))
      }
  }

  test("a commit leaves the session conf alone and still writes INT64 " +
      "micros timestamps") {
    val key = SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "INT96")
    try {
      // what the write task sees as the session's timestamp type
      val taskConf = udf((_: Long) => SQLConf.get.getConfString(key))
      val dir = tmp("sessconf")
      ManagedTable.commit(spark.range(0, 10)
        .select(col("id"), timestamp_micros(col("id") * 1000L).as("ts"),
          taskConf(col("id")).as("seen"))
        .coalesce(1), dir)
      assert(spark.conf.get(key) == "INT96")
      assert(ManagedTable.read(spark, dir).select("seen").distinct()
        .as[String].collect().toSeq == Seq("INT96"))
      val (files, stats) = headStats(dir)
      assert(stats(files.head).get("ts") == Some(("0", "9000")))
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/${files.head}"),
        spark.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val ts = try r.getFooter.getFileMetaData.getSchema.getType(Seq("ts"): _*)
        .asPrimitiveType() finally r.close()
      assert(ts.getPrimitiveTypeName.name == "INT64")
      assert(ts.getLogicalTypeAnnotation == org.apache.parquet.schema
        .LogicalTypeAnnotation.timestampType(true,
          org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS))
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("renamed, evolved, deletion-vectored and Bloom tables: every " +
      "version's new files record the reference stats and digests") {
    val bloom = Map(BloomSkipping.ColumnsProp -> "k,p,d",
      BloomSkipping.FppProp -> "0.05")
    def rows(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).select(col("id").as("k"),
        concat(lit("p"), (col("id") % 17).cast("string")).as("p"),
        date_add(lit(java.sql.Date.valueOf("1969-12-20")),
          (col("id") % 40).cast("int")).as("d"),
        (col("id") * 1.5).as("x"),
        lit(1L).as("seq"), lit("u").as("op"))

    // Bloom + DV + replace + compaction
    val digested = tmp("bloom")
    ManagedTable.commit(rows(0, 0), digested)
    ManagedTable.setTableProperties(spark, digested, bloom)
    ManagedTable.appendCommit(rows(0, 300).repartition(3), digested)
    ManagedTable.appendCommit(rows(300, 400).coalesce(1), digested)
    ManagedTable.deleteWhere(spark, digested, col("k") % 5 === 0)
    ManagedTable.replaceWhere(spark, digested, col("k") >= 350,
      rows(350, 420).withColumn("seq", lit(2L)))
    ManagedTable.compact(spark, digested, rewriteDvFraction = Some(0.1))
    assert(assertMatchesReference(digested) > 0)

    // evolved by merge (a new column), then digests on the merged files
    val evolved = tmp("evolved")
    ManagedTable.appendCommit(rows(0, 100).coalesce(1), evolved)
    ManagedTable.setTableProperties(spark, evolved, bloom)
    ManagedTable.merge(rows(50, 60).withColumn("seq", lit(2L))
        .withColumn("extra", col("k") * 10), evolved, Seq("k"),
      Seq(col("seq")))
    ManagedTable.merge(rows(90, 130).withColumn("seq", lit(3L))
        .withColumn("extra", col("k") * 10), evolved, Seq("k"),
      Seq(col("seq")))
    assert(assertMatchesReference(evolved) > 0)

    // renamed (column-mapped): later writes carry physical names
    val renamed = tmp("renamed")
    ManagedTable.appendCommit(rows(0, 50).coalesce(1), renamed)
    ManagedTable.renameColumn(spark, renamed, "p", "label")
    ManagedTable.setTableProperties(spark, renamed,
      Map(BloomSkipping.ColumnsProp -> "k,label"))
    ManagedTable.appendCommit(rows(50, 90)
      .withColumnRenamed("p", "label").coalesce(1), renamed)
    ManagedTable.merge(rows(10, 20).withColumnRenamed("p", "label")
        .withColumn("seq", lit(2L)), renamed, Seq("k"), Seq(col("seq")))
    assert(assertMatchesReference(renamed) > 0)
  }

  test("connector writes record the reference stats: format(\"graft\") " +
      "INSERT, copy-on-write UPDATE and the native streaming sink") {
    val wh = Files.createTempDirectory("graft-ws-cat").toString + "/wh"
    spark.conf.set("spark.sql.catalog.gws", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gws.warehouse", wh)
    spark.sql("CREATE NAMESPACE gws.ns")
    spark.sql("CREATE TABLE gws.ns.t (k BIGINT, s STRING, ts TIMESTAMP, " +
      "x DOUBLE)")
    val dir = s"$wh/ns/t"
    ManagedTable.setTableProperties(spark, dir,
      Map(BloomSkipping.ColumnsProp -> "k,s,ts"))
    def frame(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).select(col("id").as("k"),
        concat(lit("s"), (col("id") % 23).cast("string")).as("s"),
        timestamp_micros(col("id") * 1000003L).as("ts"),
        (col("id") / 3.0).as("x"))
    frame(0, 200).repartition(2).write.format("graft").mode("append")
      .save(dir)
    spark.sql("UPDATE gws.ns.t SET s = 'updated' WHERE k < 40")
    val src = tmp("streamsrc")
    ManagedTable.commit(frame(200, 260), src)
    spark.readStream.format("graft").load(src)
      .writeStream.format("graft")
      .option("checkpointLocation", ckptDir("ws-stream"))
      .trigger(Trigger.AvailableNow()).start(dir)
      .awaitTermination()
    assert(ManagedTable.read(spark, dir).count() == 260)
    assert(assertMatchesReference(dir) > 0)
  }

  test("Bloom sidecars are byte-identical to the former grouped digest " +
      "pass on a fixed segment") {
    // SHA-256 of each sidecar the former post-write digest aggregation
    // produced for this exact single-file segment
    val golden = Map(
      "k" -> "1a0ba5211314f1192ba86c2f113395ccfce33e9e1335e32107c2d77631cc9d36",
      "s" -> "36aa2baff63de3faa24b729e7e564cc5fa72d7875d71d84c6827b10377a39964",
      "d" -> "a5f971593bd9ebc7832e139132142e18ae8a244aefaf847dae443ddbb2dfe63f",
      "ts" -> "17156809bdf64a7e52d0222c19e16565425fa492edc624334c8d76d7de869ff5",
      "n" -> "73fa5038dff5a13b17f08272e6ca384bc4594c0519fc0b12ae780c214ffe03e2")
    val dir = tmp("golden")
    val df = spark.range(0, 3000).select(col("id").as("k"),
      concat(lit("v"), (col("id") % 977).cast("string")).as("s"),
      date_add(lit(java.sql.Date.valueOf("1969-12-01")),
        (col("id") % 91).cast("int")).as("d"),
      timestamp_micros(col("id") * 1000003L - 5000000000L).as("ts"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") % 13)
        .cast("int").as("n"))
    ManagedTable.commit(df.limit(0), dir)
    ManagedTable.setTableProperties(spark, dir,
      Map(BloomSkipping.ColumnsProp -> "k,s,d,ts,n"))
    ManagedTable.appendCommit(df.coalesce(1), dir)
    val (files, stats) = headStats(dir)
    val f = files.filter(x => stats(x)(ManagedTable.RowsStat)._1 != "0")
    assert(f.size == 1)
    // and the rest of the file's stats, as the former footer pass
    // recorded them
    assert(stats(f.head).filterNot(_._1.startsWith(BloomSkipping.StatPrefix))
      == Map(
        ManagedTable.RowsStat -> (("3000", "3000")),
        ManagedTable.nnStat("k") -> (("3000", "3000")),
        ManagedTable.nnStat("s") -> (("3000", "3000")),
        ManagedTable.nnStat("d") -> (("3000", "3000")),
        ManagedTable.nnStat("ts") -> (("3000", "3000")),
        ManagedTable.nnStat("n") -> (("2571", "2571")),
        "k" -> (("0", "2999")), "s" -> (("v0", "v99")),
        "d" -> (("-31", "59")), "n" -> (("0", "12")),
        "ts" -> (("-5000000000", "-2000991003"))))
    golden.foreach { case (c, sha) =>
      val (side, _) = stats(f.head)(BloomSkipping.statKey(c))
      val bytes = Files.readAllBytes(Paths.get(s"$dir/$side"))
      val got = java.security.MessageDigest.getInstance("SHA-256")
        .digest(bytes).map("%02x".format(_)).mkString
      assert(got == sha, s"sidecar of $c")
    }
    assertMatchesReference(dir)
  }
}
