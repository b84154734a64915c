package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import ManagedTable.{FileStats, NnPrefix, RowsStat, nnStat}

/** The reference the write-time stats fold ([[WriteStats]]) is checked
  * against: the manifest stats of written files recomputed by one Spark
  * aggregation over the files themselves, grouped by file. Per file: the
  * row count, each stats column's non-null count, min/max (date and
  * timestamp as epoch-day / epoch-micro numerics, everything else cast
  * to string), and for each declared Bloom column the sidecar entry the
  * writer must record, with the digest payload built from the distinct
  * `xxhash64` values of the column's string render, sized and filled the
  * way [[BloomSkipping.digestPayload]] sizes them.
  *
  * It records float/double min/max, which the writer deliberately omits
  * (see [[withoutFloatEndpoints]]).
  */
object ScanStats {

  /** (stats, digest payload per (file, physical column)) of `relFiles`
    * under `dir`; `props` and `logical` name the Bloom columns the way
    * the writer resolves them.
    */
  def apply(spark: SparkSession, dir: String, relFiles: Seq[String],
      props: Map[String, String] = Map.empty,
      logical: Option[StructType] = None)
      : (FileStats, Map[(String, String), Array[Byte]]) = {
    if (relFiles.isEmpty) return (Map.empty, Map.empty)
    val df = spark.read.parquet(relFiles.map(p => s"$dir/$p"): _*)
    val cols = df.schema.fields.toSeq.collect {
      case f if f.dataType.isInstanceOf[NumericType] ||
        f.dataType == StringType || f.dataType == DateType ||
        f.dataType == TimestampType => f.name
    }
    val recordRows = !df.schema.fieldNames.exists(n =>
      n == RowsStat || n.startsWith(NnPrefix) ||
        n.startsWith(BloomSkipping.StatPrefix))
    val bloomPhys =
      if (!recordRows) Nil
      else {
        val declared = BloomSkipping.bloomColsOf(props)
        val phys = logical match {
          case Some(sch) => declared.filter(sch.fieldNames.contains)
            .map(c => ColumnMapping.physOf(sch, c))
          case None => declared
        }
        phys.distinct.filter(c => df.schema.fields.exists(f =>
          f.name == c && BloomSkipping.eligible(f.dataType)))
      }
    val aggs = cols.flatMap(c => Seq(
      min(statExpr(df, c)).cast("string").as(s"__min_$c"),
      max(statExpr(df, c)).cast("string").as(s"__max_$c"),
      count(col(c)).cast("string").as(s"__nn_$c"))) ++
      Seq(count(lit(1)).cast("string").as("__nrows")) ++
      bloomPhys.map(c => collect_set(when(col(c).isNotNull,
        xxhash64(statExpr(df, c).cast("string")))).as(s"__bf_$c"))
    val rows = df.groupBy(col("_metadata.file_path").as("__file"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val fpp = BloomSkipping.fppOf(props)
    val digests = Map.newBuilder[(String, String), Array[Byte]]
    val seen = rows.map { r =>
      val abs = r.getString(0)
      val rel = relFiles.find(abs.endsWith(_)).getOrElse(abs)
      def cell(n: String): Option[String] =
        Option(r.getAs[String](n))
      val minMax = cols.flatMap(c =>
        for (lo <- cell(s"__min_$c"); hi <- cell(s"__max_$c"))
          yield c -> ((lo, hi)))
      val counts =
        if (!recordRows) Nil
        else cols.flatMap(c => cell(s"__nn_$c").map(n => nnStat(c) -> ((n, n)))) ++
          cell("__nrows").map(n => RowsStat -> ((n, n)))
      val blooms = bloomPhys.map { c =>
        val hashes = new java.util.HashSet[java.lang.Long]()
        r.getSeq[Long](r.fieldIndex(s"__bf_$c"))
          .foreach(h => hashes.add(h))
        digests += (rel, c) -> BloomSkipping.digestPayload(hashes, fpp)
        BloomSkipping.statKey(c) ->
          ((BloomSkipping.sidecarRelFor(rel, c), BloomSkipping.Scheme))
      }
      rel -> (minMax ++ counts ++ blooms).toMap
    }.toMap
    // a file the grouped pass never saw has zero rows
    val empty = relFiles.filterNot(seen.contains).map { rel =>
      rel -> (if (recordRows)
                cols.map(c => nnStat(c) -> (("0", "0"))).toMap +
                  (RowsStat -> (("0", "0")))
              else Map.empty[String, (String, String)])
    }
    (seen ++ empty, digests.result())
  }

  /** `stats` without the float/double min/max entries of the columns
    * `schema` types so — the entries the writer never records.
    */
  def withoutFloatEndpoints(stats: Map[String, (String, String)],
      schema: StructType): Map[String, (String, String)] = {
    val floats = schema.fields.collect {
      case f if f.dataType == FloatType || f.dataType == DoubleType => f.name
    }.toSet
    stats.filterNot { case (k, _) => floats.contains(k) }
  }

  /** date/timestamp as their internal numerics, as the writer records */
  private def statExpr(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case TimestampType => unix_micros(col(c))
      case DateType => unix_date(col(c))
      case _ => col(c)
    }
}
