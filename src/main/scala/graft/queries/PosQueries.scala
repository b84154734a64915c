package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.NamedQuery
import graft.pos.PosPipeline

/** The reference pipeline itself, under the oracle gate: CSV ingest →
  * keyed dedup → snapshot CDC apply → gold current-inventory query, over
  * the committed synthetic POS fixture ([[PosPipeline.DataDir]], the
  * reference's `_1000` layout), hash-checked against a DuckDB replication
  * reading the same CSVs.
  *
  * Deviations from the notebooks, both deterministic-by-construction:
  * dedup keeps the earliest (date_time, store_id) report per
  * (trans_id, item_id) instead of dropDuplicates' arbitrary survivor, and
  * FIRST() becomes MIN() (identical on the 1-row-per-key snapshot,
  * SURVEY §7.4.3).
  */
object PosQueries {

  private val D = PosPipeline.DataDir

  val q27PosGold = NamedQuery(
    "q27_pos_gold",
    "The reference's end-to-end gold pipeline (04_Current_Inventory.sql) " +
      "on the committed synthetic POS fixture: S1/S2/S3 scans, deterministic " +
      "O21 dedup, O22 snapshot apply, J1-J3 joins, A2 aggregate. sfDir is " +
      "ignored — this query pins the POS fixture.",
    (s, _) => {
      // quantity + change_type_id tiebreakers make the ordering TOTAL:
      // without them two reports sharing (trans_id, item_id, date_time,
      // store_id) would get engine-dependent row_number winners
      val wDedup = Window.partitionBy("trans_id", "item_id")
        .orderBy(col("date_time").asc, col("store_id").asc,
          col("quantity").asc, col("change_type_id").asc)
      val changes = PosPipeline.readChanges(s, D)
        .withColumn("__rn", row_number().over(wDedup))
        .filter(col("__rn") === 1).drop("__rn")
      val wSnap = Window.partitionBy("item_id", "store_id")
        .orderBy(col("date_time").desc, col("quantity").asc,
          col("employee_id").asc)
      val snapshot = PosPipeline.readSnapshots(s, D)
        .withColumn("__rn", row_number().over(wSnap))
        .filter(col("__rn") === 1).drop("__rn")
        .withColumnRenamed("date_time", "date_time_ts")
      val b = changes
        .join(broadcast(PosPipeline.readStore(s, D)), Seq("store_id"))
        .join(broadcast(PosPipeline.readChangeType(s, D)), Seq("change_type_id"))
        .filter(!(col("name") === "online" && col("change_type") === "bopis"))
        .select(col("store_id").as("b_store_id"), col("item_id").as("b_item_id"),
          col("date_time").as("b_date_time"), col("quantity").as("b_quantity"))
      snapshot
        .join(b,
          col("store_id") === col("b_store_id") &&
            col("item_id") === col("b_item_id") &&
            col("date_time_ts") <= col("b_date_time"),
          "left_outer")
        .groupBy("store_id", "item_id")
        .agg(
          min("quantity").cast("long").as("snapshot_quantity"),
          coalesce(sum("b_quantity"), lit(0L)).cast("long").as("change_quantity"),
          (min("quantity") + coalesce(sum("b_quantity"), lit(0L))).cast("long")
            .as("current_inventory"),
          date_format(
            greatest(min("date_time_ts"),
              coalesce(max("b_date_time"), min("date_time_ts"))),
            "yyyy-MM-dd HH:mm:ss").as("last_ts"))
        .orderBy("store_id", "item_id")
    },
    Some {
      val cols =
        "columns={'trans_id':'VARCHAR','item_id':'INT','store_id':'INT'," +
          "'date_time':'TIMESTAMP','quantity':'INT','change_type_id':'INT'}"
      val snapCols =
        "columns={'item_id':'INT','employee_id':'INT','store_id':'INT'," +
          "'date_time':'TIMESTAMP','quantity':'INT'}"
      s"""WITH changes_raw AS (SELECT * FROM read_csv(
         |    ['$D/inventory_change_online_1000.txt','$D/inventory_change_store001_1000.txt'],
         |    header=true, $cols)),
         |store AS (SELECT * FROM read_csv('$D/store.txt', header=true,
         |    columns={'store_id':'INT','name':'VARCHAR'})),
         |ct AS (SELECT * FROM read_csv('$D/inventory_change_type.txt', header=true,
         |    columns={'change_type_id':'INT','change_type':'VARCHAR'})),
         |snaps AS (SELECT * FROM read_csv(
         |    ['$D/inventory_snapshot_online_1000.txt','$D/inventory_snapshot_store001_1000.txt'],
         |    header=true, $snapCols)),
         |changes AS (SELECT * FROM (SELECT *, row_number() OVER
         |    (PARTITION BY trans_id, item_id
         |     ORDER BY date_time, store_id, quantity, change_type_id) AS rn
         |  FROM changes_raw) WHERE rn = 1),
         |snapshot AS (SELECT item_id, store_id, quantity, date_time AS date_time_ts FROM
         |  (SELECT *, row_number() OVER (PARTITION BY item_id, store_id
         |      ORDER BY date_time DESC, quantity, employee_id) AS rn
         |   FROM snaps) WHERE rn = 1)
         |SELECT a.store_id, a.item_id,
         |  CAST(MIN(a.quantity) AS BIGINT) AS snapshot_quantity,
         |  CAST(COALESCE(SUM(b.quantity), 0) AS BIGINT) AS change_quantity,
         |  CAST(MIN(a.quantity) + COALESCE(SUM(b.quantity), 0) AS BIGINT) AS current_inventory,
         |  strftime(GREATEST(MIN(a.date_time_ts),
         |    COALESCE(MAX(b.date_time), MIN(a.date_time_ts))), '%Y-%m-%d %H:%M:%S') AS last_ts
         |FROM snapshot a LEFT OUTER JOIN
         |  (SELECT x.store_id, x.item_id, x.date_time, x.quantity FROM changes x
         |   JOIN store y ON x.store_id = y.store_id
         |   JOIN ct z ON x.change_type_id = z.change_type_id
         |   WHERE NOT (y.name = 'online' AND z.change_type = 'bopis')) b
         |ON a.store_id = b.store_id AND a.item_id = b.item_id
         |   AND a.date_time_ts <= b.date_time
         |GROUP BY a.store_id, a.item_id
         |ORDER BY a.store_id, a.item_id""".stripMargin
    })

  val all: Seq[NamedQuery] = Seq(q27PosGold)
}
