package graft.pos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.ApplyChanges

/** The reference pipeline (btison/db-cdc-poc) re-expressed end-to-end in
  * plain Scala Spark over POS data in its `_1000` CSV layout: explicit-schema
  * CSV ingestion, transaction re-nesting, JSON event parsing with explode,
  * keyed dedup, snapshot CDC apply, and the gold current-inventory query —
  * both as a DataFrame chain and as the literal SQL (they must agree; see
  * PosPipelineSpec).
  *
  * Schemas cite the reference: change CSV 02_Data_Generation.py:38-45,
  * snapshot CSV 02:82-88, dims 03_Data_Ingestion.py:53-56/81-86/109-112,
  * event JSON 03:182-193, gold query 04_Current_Inventory.sql:5-38.
  *
  * Every reader defaults to [[DataDir]], the synthetic fixture the
  * repository holds (FIXTURES.md §A); pass `dir` to read another copy of
  * the layout, such as the reference's own `_1000` files.
  */
object PosPipeline {

  /** The committed synthetic POS fixture, `data/point_of_sale_simulated_1000`
    * under the working directory (the repository root under sbt), as an
    * absolute path. Only a path string: nothing is read until a frame is
    * built.
    */
  val DataDir: String =
    java.nio.file.Paths.get("data", "point_of_sale_simulated_1000")
      .toAbsolutePath.toString

  val changeSchema: StructType = StructType(Seq(
    StructField("trans_id", StringType),
    StructField("item_id", IntegerType),
    StructField("store_id", IntegerType),
    StructField("date_time", TimestampType),
    StructField("quantity", IntegerType),
    StructField("change_type_id", IntegerType)))

  val snapshotSchema: StructType = StructType(Seq(
    StructField("item_id", IntegerType),
    StructField("employee_id", IntegerType),
    StructField("store_id", IntegerType),
    StructField("date_time", TimestampType),
    StructField("quantity", IntegerType)))

  val storeSchema: StructType = StructType(Seq(
    StructField("store_id", IntegerType),
    StructField("name", StringType)))

  val itemSchema: StructType = StructType(Seq(
    StructField("item_id", IntegerType),
    StructField("name", StringType),
    StructField("supplier_id", IntegerType),
    StructField("safety_stock_quantity", IntegerType)))

  val changeTypeSchema: StructType = StructType(Seq(
    StructField("change_type_id", IntegerType),
    StructField("change_type", StringType)))

  /** Transaction JSON value schema (03_Data_Ingestion.py:182-193). */
  val eventSchema: StructType = StructType(Seq(
    StructField("trans_id", StringType),
    StructField("store_id", IntegerType),
    StructField("date_time", TimestampType),
    StructField("change_type_id", IntegerType),
    StructField("items", ArrayType(StructType(Seq(
      StructField("item_id", IntegerType),
      StructField("quantity", IntegerType)))))))

  private def csv(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .schema(schema)
      .csv(paths: _*)

  /** S1: both change feeds as one DataFrame (multi-file union scan). */
  def readChanges(spark: SparkSession, dir: String = DataDir): DataFrame =
    csv(spark, changeSchema,
      s"$dir/inventory_change_online_1000.txt",
      s"$dir/inventory_change_store001_1000.txt")

  /** S2: both snapshot feeds (the CDC upsert payloads). */
  def readSnapshots(spark: SparkSession, dir: String = DataDir): DataFrame =
    csv(spark, snapshotSchema,
      s"$dir/inventory_snapshot_online_1000.txt",
      s"$dir/inventory_snapshot_store001_1000.txt")

  def readStore(spark: SparkSession, dir: String = DataDir): DataFrame =
    csv(spark, storeSchema, s"$dir/store.txt")

  def readItem(spark: SparkSession, dir: String = DataDir): DataFrame =
    csv(spark, itemSchema, s"$dir/item_1000.txt")

  def readChangeType(spark: SparkSession, dir: String = DataDir): DataFrame =
    csv(spark, changeTypeSchema, s"$dir/inventory_change_type.txt")

  /** A1 (02_Data_Generation.py:63-71): strip {} from the GUID, re-nest the
    * flat change rows into one transaction per (date_time, trans_id) with
    * an items array. sort_array replaces the reference's nondeterministic
    * collect_list order (SURVEY §7.4.5).
    */
  def transactions(changes: DataFrame): DataFrame =
    changes
      .withColumn("trans_id",
        expr("substring(trans_id, 2, length(trans_id) - 2)"))
      .withColumn("item", struct(col("item_id"), col("quantity")))
      .groupBy("date_time", "trans_id")
      .agg(
        first("store_id").as("store_id"),
        first("change_type_id").as("change_type_id"),
        sort_array(collect_list(col("item"))).as("items"))
      .orderBy("date_time", "trans_id")

  /** E2 silver parse (03_Data_Ingestion.py:202-217): JSON text → struct →
    * nested extraction → explode_outer(items).
    */
  def parseEvents(rawJson: DataFrame, jsonCol: String = "value"): DataFrame =
    rawJson
      .withColumn("event", from_json(col(jsonCol), eventSchema))
      .select(
        col("event.trans_id").as("trans_id"),
        col("event.store_id").as("store_id"),
        col("event.date_time").as("date_time"),
        col("event.change_type_id").as("change_type_id"),
        explode_outer(col("event.items")).as("item"))
      .withColumn("item_id", col("item.item_id"))
      .withColumn("quantity", col("item.quantity"))
      .drop("item")

  /** O21 batch semantics: dedup by (trans_id, item_id) — collapses the
    * double-reported BOPIS rows (03_Data_Ingestion.py:219).
    */
  def dedupChanges(changes: DataFrame): DataFrame =
    changes.dropDuplicates("trans_id", "item_id")

  /** O22 over the snapshot feed: snapshots are full-count restatements
    * keyed by (item_id, store_id), sequenced by snapshot time — the same
    * upserts the reference's Debezium stream carries
    * (02_Data_Generation.py:147-150). employee_id is dropped like the
    * reference's except_column_list drops bookkeeping columns.
    */
  def inventorySnapshot(snapshots: DataFrame): DataFrame =
    ApplyChanges.applyChanges(
      snapshots,
      keys = Seq("item_id", "store_id"),
      sequenceBy = Seq(col("date_time")),
      exceptColumns = Seq("employee_id"))
      .withColumnRenamed("date_time", "date_time_ts")

  /** The gold query (04_Current_Inventory.sql:11-38) as a DataFrame chain:
    * current inventory = latest snapshot + post-snapshot change deltas,
    * excluding online-BOPIS double counts (O6).
    */
  def inventoryCurrent(snapshot: DataFrame, changes: DataFrame,
      store: DataFrame, changeType: DataFrame): DataFrame = {
    val b = changes
      .join(broadcast(store), Seq("store_id"))
      .join(broadcast(changeType), Seq("change_type_id"))
      .filter(!(col("name") === "online" && col("change_type") === "bopis"))
      .select(col("store_id").as("b_store_id"), col("item_id").as("b_item_id"),
        col("date_time").as("b_date_time"), col("quantity").as("b_quantity"))
    snapshot.as("a")
      .join(b,
        col("store_id") === col("b_store_id") &&
          col("item_id") === col("b_item_id") &&
          col("date_time_ts") <= col("b_date_time"),
        "left_outer")
      .groupBy("store_id", "item_id")
      .agg(
        first(col("quantity")).as("snapshot_quantity"),
        coalesce(sum(col("b_quantity")), lit(0L)).as("change_quantity"),
        (first(col("quantity")) + coalesce(sum(col("b_quantity")), lit(0L)))
          .as("current_inventory"),
        greatest(first(col("date_time_ts")), max(col("b_date_time")))
          .as("date_time"))
      .orderBy(col("date_time").desc)
  }

  /** The same gold query as the literal SQL text (modulo LIVE. prefixes) —
    * PosPipelineSpec asserts it agrees with [[inventoryCurrent]].
    */
  def inventoryCurrentSql(spark: SparkSession, snapshot: DataFrame,
      changes: DataFrame, store: DataFrame, changeType: DataFrame): DataFrame = {
    snapshot.createOrReplaceTempView("inventory_snapshot")
    changes.createOrReplaceTempView("inventory_change")
    store.createOrReplaceTempView("store")
    changeType.createOrReplaceTempView("inventory_change_type")
    spark.sql(
      """SELECT
        |  a.store_id, a.item_id,
        |  FIRST(a.quantity) AS snapshot_quantity,
        |  COALESCE(SUM(b.quantity), 0) AS change_quantity,
        |  FIRST(a.quantity) + COALESCE(SUM(b.quantity), 0) AS current_inventory,
        |  GREATEST(FIRST(a.date_time_ts), MAX(b.date_time)) AS date_time
        |FROM inventory_snapshot a
        |LEFT OUTER JOIN (
        |  SELECT x.store_id, x.item_id, x.date_time, x.quantity
        |  FROM inventory_change x
        |  INNER JOIN store y ON x.store_id = y.store_id
        |  INNER JOIN inventory_change_type z ON x.change_type_id = z.change_type_id
        |  WHERE NOT (y.name = 'online' AND z.change_type = 'bopis')
        |) b
        |  ON a.store_id = b.store_id
        | AND a.item_id = b.item_id
        | AND a.date_time_ts <= b.date_time
        |GROUP BY a.store_id, a.item_id
        |ORDER BY date_time DESC""".stripMargin)
  }

  /** Streaming scan of the change feeds (S4 stand-in for the Kafka
    * source, preserving the rate-limit knob O24 via maxFilesPerTrigger —
    * the file-source analog of maxOffsetsPerTrigger='100',
    * 03_Data_Ingestion.py:158).
    */
  def changesStream(spark: SparkSession, dir: String = DataDir,
      maxFilesPerTrigger: Int = 1): org.apache.spark.sql.DataFrame =
    spark.readStream
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("pathGlobFilter", "inventory_change_*_1000.txt")
      .schema(changeSchema)
      .csv(dir)

  /** §7.2 minimum slice: the whole pipeline over the POS files in `dir`
    * (by default the committed synthetic fixture).
    */
  def runEndToEnd(spark: SparkSession, dir: String = DataDir): DataFrame = {
    val changes  = dedupChanges(readChanges(spark, dir))
    val snapshot = inventorySnapshot(readSnapshots(spark, dir))
    inventoryCurrent(snapshot, changes, readStore(spark, dir),
      readChangeType(spark, dir))
  }
}
