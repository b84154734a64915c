package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.graftshim.FileWriteBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import ManagedTable.{NnPrefix, RowsStat, nnStat}

/** What every table write records per file in the manifest, folded in
  * the task that writes the file — Delta's model, where the writer
  * emits each file's stats with the file. Built on the driver from the
  * written (physical) schema, shipped to the write tasks, and used by
  * both writers: [[ManagedTable]]'s segment write and the connector's
  * [[GraftDataWriter]].
  *
  * Per file, the fold records:
  *   - the row count under [[ManagedTable.RowsStat]] and each stats
  *     column's non-null count under [[ManagedTable.nnStat]], both as
  *     `(n, n)`;
  *   - min/max for integral and decimal columns as plain strings,
  *     strings verbatim (compared in UTF8String byte order, the order
  *     every probe compares in), and date/timestamp as epoch-day and
  *     epoch-micro numerics — so no calendar render ever reaches the
  *     manifest. Float/double record counts only (NaN has no place in a
  *     min/max that pruning can trust). A column with no non-null value
  *     in the file omits its endpoints (no stats = never pruned);
  *   - a Bloom digest per declared digest column ([[BloomSkipping]]),
  *     written as a sidecar from the task, for files with rows.
  * A table with a user column in the pseudo-column namespace records
  * min/max only (its counts and digests would collide in the map).
  * Other types (boolean, binary, nested) record nothing.
  *
  * @param schema the schema of the rows the writer sees
  * @param bloom  physical names of the columns to digest
  */
private[sources] final case class WriteStats(schema: StructType,
    bloom: Seq[String], fpp: Double, dir: String,
    conf: SerializableConfiguration) {

  private[sources] val recordCounts: Boolean = !schema.fieldNames.exists(n =>
    n == RowsStat || n.startsWith(NnPrefix) ||
      n.startsWith(BloomSkipping.StatPrefix))

  /** Per field: its fold kind (see [[WriteStats.kindOf]]). */
  private[sources] val kinds: Array[Int] =
    schema.fields.map(f => WriteStats.kindOf(f.dataType))

  /** Field ordinals digested per file. */
  private[sources] val digested: Array[Int] =
    if (!recordCounts) Array.empty
    else schema.fields.indices.filter { i =>
      bloom.contains(schema.fields(i).name) &&
        BloomSkipping.eligible(schema.fields(i).dataType)
    }.toArray

  /** A fold for one file of the segment directory `segment`. */
  def fold(segment: String): WriteStats.Fold = new WriteStats.Fold(this, segment)
}

private[sources] object WriteStats {
  private final val Skip = 0
  private final val Integral = 1 // byte/short/int/long/date/timestamp
  private final val Str = 2
  private final val Dec = 3
  private final val CountOnly = 4 // float/double

  private def kindOf(dt: DataType): Int = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         DateType | TimestampType => Integral
    case StringType => Str
    case _: DecimalType => Dec
    case FloatType | DoubleType => CountOnly
    case _ => Skip
  }

  /** The stats spec of a write into `dir`: `written` is the schema the
    * writer sees; the Bloom columns are the ones `props` declares
    * (logical names), mapped to physical names through `logical`, the
    * table schema being committed (identity for an unmapped table).
    */
  def apply(spark: SparkSession, dir: String, written: StructType,
      props: Map[String, String],
      logical: Option[StructType]): WriteStats = {
    val declared = BloomSkipping.bloomColsOf(props)
    val phys = logical match {
      case Some(sch) => declared.filter(sch.fieldNames.contains)
        .map(c => ColumnMapping.physOf(sch, c))
      case None => declared
    }
    WriteStats(written, phys.distinct, BloomSkipping.fppOf(props), dir,
      GraftDvReader.sessionConfSer(spark))
  }

  /** The running stats of one file; not thread-safe (one per task). */
  final class Fold(spec: WriteStats, segment: String)
      extends FileWriteBridge.FileFold[Map[String, (String, String)]] {
    private val n = spec.kinds.length
    private var rows = 0L
    private val nonNull = new Array[Long](n)
    private val lo = new Array[Any](n)
    private val hi = new Array[Any](n)
    private val hashes = spec.digested.map(_ =>
      new java.util.HashSet[java.lang.Long]())

    def add(row: InternalRow): Unit = {
      rows += 1
      var i = 0
      while (i < n) {
        val k = spec.kinds(i)
        if (k != Skip && !row.isNullAt(i)) {
          nonNull(i) += 1
          k match {
            case Integral =>
              val v = integral(row, i)
              if (lo(i) == null || v < lo(i).asInstanceOf[Long]) lo(i) = v
              if (hi(i) == null || v > hi(i).asInstanceOf[Long]) hi(i) = v
            case Str =>
              val v = row.getUTF8String(i)
              // rows may be reused buffers: keep copies, not views
              if (lo(i) == null || v.compareTo(lo(i).asInstanceOf[UTF8String]) < 0)
                lo(i) = v.clone()
              if (hi(i) == null || v.compareTo(hi(i).asInstanceOf[UTF8String]) > 0)
                hi(i) = v.clone()
            case Dec =>
              val t = spec.schema.fields(i).dataType.asInstanceOf[DecimalType]
              val v = row.getDecimal(i, t.precision, t.scale)
              if (lo(i) == null || v < lo(i).asInstanceOf[Decimal]) lo(i) = v.clone()
              if (hi(i) == null || v > hi(i).asInstanceOf[Decimal]) hi(i) = v.clone()
            case _ => ()
          }
        }
        i += 1
      }
      var d = 0
      while (d < spec.digested.length) {
        val i = spec.digested(d)
        if (!row.isNullAt(i)) {
          // the canonical string render the probe hashes too
          val s = if (spec.kinds(i) == Str) row.getUTF8String(i)
            else UTF8String.fromString(integral(row, i).toString)
          hashes(d).add(XXH64.hashUTF8String(s, 42L))
        }
        d += 1
      }
    }

    private def integral(row: InternalRow, i: Int): Long =
      spec.schema.fields(i).dataType match {
        case ByteType => row.getByte(i).toLong
        case ShortType => row.getShort(i).toLong
        case IntegerType | DateType => row.getInt(i).toLong
        case _ => row.getLong(i)
      }

    private def render(v: Any): String = v match {
      case d: Decimal => d.toJavaBigDecimal.toPlainString
      case other => other.toString
    }

    def finish(fileName: String): Map[String, (String, String)] = {
      val out = Map.newBuilder[String, (String, String)]
      if (spec.recordCounts) out += RowsStat -> ((rows.toString, rows.toString))
      var i = 0
      while (i < n) {
        if (spec.kinds(i) != Skip) {
          val name = spec.schema.fields(i).name
          if (spec.recordCounts)
            out += nnStat(name) -> ((nonNull(i).toString, nonNull(i).toString))
          if (lo(i) != null) out += name -> ((render(lo(i)), render(hi(i))))
        }
        i += 1
      }
      if (rows > 0) {
        val rel = s"$segment/$fileName"
        var d = 0
        while (d < spec.digested.length) {
          val c = spec.schema.fields(spec.digested(d)).name
          val sidecar = BloomSkipping.sidecarRelFor(rel, c)
          BloomSkipping.writeSidecarBytes(s"${spec.dir}/$sidecar",
            BloomSkipping.digestPayload(hashes(d), spec.fpp), spec.conf.value)
          out += BloomSkipping.statKey(c) -> ((sidecar, BloomSkipping.Scheme))
          d += 1
        }
      }
      out.result()
    }
  }
}
