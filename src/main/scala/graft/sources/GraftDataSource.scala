package graft.sources

import java.util.{Map => JMap, Set => JSet}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions,
  NamedReference, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation,
  Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownAggregates, SupportsPushDownFilters,
  SupportsPushDownLimit, SupportsPushDownRequiredColumns,
  SupportsPushDownTopN, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.format("graft")` — the [[ManagedTable]] layout exposed
  * as a first-class Spark DSv2 connector, so CATALYST plans the scan
  * instead of a helper function:
  *
  *   - **Column pruning** ([[SupportsPushDownRequiredColumns]]): only
  *     the requested columns are decoded from parquet.
  *   - **Filter-driven file skipping**
  *     ([[SupportsPushDownFilters]]): range conjuncts
  *     (`=`, `<`, `<=`, `>`, `>=`), `IN` value lists, and arbitrary
  *     `AND`/`OR` nestings of those are evaluated as a file-level
  *     may-match test against the manifest's per-file min/max stats
  *     AT PLANNING TIME ([[GraftScanBuilder.mayMatch]]) — a selective
  *     probe of a large table plans only the files that can match,
  *     which is the zone-map behavior `readWhere` offers, now
  *     triggered by any ordinary `.filter(...)`; a selective
  *     `WHERE k IN (…)` prunes exactly like the equality probes it
  *     unions. Pruning is advisory-safe: every filter is also
  *     returned to Spark as a post-scan filter, so a file kept
  *     conservatively (missing stats, unparseable endpoints) never
  *     leaks wrong rows.
  *   - **Deletion vectors**: the plan resolves the version's DV once
  *     ([[GraftDvReader.DvPlan]], the plan every [[ManagedTable]]
  *     read uses too): a small DV's positions ride inline in the
  *     partitions; a bulk DV ships only per-file tombstone COUNTS
  *     (O(changed files) driver memory) and DV file refs, and each
  *     reading TASK resolves its own file's positions from the
  *     sidecar with a pushed `__file` predicate. The reader skips
  *     them while decoding, and a bulk delete's positions never land
  *     on the driver.
  *   - **Time travel**: `.option("versionAsOf", n)` or
  *     `.option("timestampAsOf", epochMillis | "yyyy-MM-dd HH:mm:ss")`
  *     (newest version whose manifest landed at or before the
  *     instant — the same rule as [[ManagedTable.readAsOf]] and the
  *     catalog's `TIMESTAMP AS OF`).
  *   - **Schema evolution**: files are decoded against the MANIFEST
  *     schema; columns a pre-evolution segment lacks are null-filled
  *     per file (never footer-inferred), matching
  *     [[ManagedTable.read]].
  *
  * One [[InputPartition]] per surviving data file — on a cluster the
  * scan parallelizes file-per-task exactly like a parquet scan.
  * Decoding is VECTORIZED throughout: every version — deletion
  * vectors or not — decodes through Spark's own vectorized parquet
  * reader as [[org.apache.spark.sql.vectorized.ColumnarBatch]]es
  * ([[GraftColumnarPartitionReader]]) at the same per-byte cost as
  * the v1 parquet scan under [[ManagedTable.read]], so the connector
  * IS a first-class bulk-scan path. DV'd files apply their tombstones
  * INSIDE the vectorized reader through a zero-copy per-batch
  * selection view ([[GraftSelectionColumnVector]]) — a 100 TB table
  * under trickle deletes keeps columnar decode between compactions.
  * The record-level Group API reader ([[GraftPartitionReader]])
  * remains only for projection-less scans (pure `count(*)`).
  *
  * Supported column types: the stats-typed scalar tier (integral,
  * float/double, string, boolean, binary) plus arrays of those —
  * exactly what managed tables in this repo store. Timestamps/
  * decimals/nested structs are rejected at table resolution with a
  * clear message rather than decoded wrongly.
  *
  * Reference anchor: spark.read.format("delta") over the DLT tables
  * in /root/reference/notebooks/04_Data_Processing.py — the reading
  * side of the managed-table contract.
  */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"
  // true so a FIRST write can create the table: Spark hands the query
  // schema to getTable instead of requiring inferSchema to succeed on
  // a directory with no committed versions yet
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(m: JMap[String, String]): String = {
    val p = m.get("path")
    require(p != null && p.nonEmpty,
      "graft: .load(<managed table dir>) is required")
    p
  }

  /** `versionAsOf` / `timestampAsOf` (epoch millis or a timestamp
    * string) → the pinned version, or None for the head. Timestamp
    * STRINGS are interpreted in the SESSION time zone
    * (`spark.sql.session.timeZone`), exactly like a `TIMESTAMP AS OF`
    * literal through [[GraftCatalog]] — never the JVM default zone,
    * so the same string pins the same version on every driver.
    * Resolution matches [[ManagedTable.readAsOf]]: newest version
    * whose manifest landed at or before the instant.
    */
  private def pinnedVersion(m: CaseInsensitiveStringMap,
      dir: String): Option[Int] = {
    val v = Option(m.get("versionAsOf")).map(_.toInt)
    val ts = Option(m.get("timestampAsOf"))
    require(v.isEmpty || ts.isEmpty,
      "graft: versionAsOf and timestampAsOf are mutually exclusive")
    v.orElse(ts.map { s =>
      val spark = SparkSession.active
      val tsMs = GraftTable.parseTsMillis(s, "timestampAsOf")
      val conf = spark.sparkContext.hadoopConfiguration
      val md = new HPath(dir, "_manifest")
      val eligible = ManagedTable.versions(spark, dir).filter { n =>
        md.getFileSystem(conf)
          .getFileStatus(new HPath(md, s"v$n.json"))
          .getModificationTime <= tsMs
      }
      require(eligible.nonEmpty,
        s"graft: no version of $dir committed at or before $s")
      eligible.max
    })
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = pathOf(options.asCaseSensitiveMap())
    val base = GraftTableMeta.resolve(dir, pinnedVersion(options, dir))
      .userSchema
    if (options.getBoolean(GraftTable.CdfOption, false))
      GraftTable.cdfSchema(base)
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val m = new CaseInsensitiveStringMap(properties)
    val dir = pathOf(properties)
    val versionAsOf = pinnedVersion(m, dir)
    // an uncommitted dir with a caller-provided schema is a table
    // about to be CREATED by a write (or an empty read of that
    // schema); an existing table always resolves from its manifest —
    // the manifest is the schema authority, never the caller
    if (versionAsOf.isEmpty && schema != null && schema.nonEmpty &&
        ManagedTable.versions(SparkSession.active, dir).isEmpty)
      new GraftTable(GraftTableMeta(dir, 0, schema, Nil, Nil, Map.empty))
    else {
      val meta = GraftTableMeta.resolve(dir, versionAsOf)
      // A caller-supplied schema on an EXISTING table cannot override
      // the manifest (the manifest is the schema authority), so a
      // mismatched one must ERROR on read instead of being silently
      // ignored — but the same getTable serves writes, where the
      // query schema legitimately differs (overwrite evolves the
      // schema; GraftWriteBuilder has its own gate). The mismatch is
      // therefore recorded here and thrown at newScanBuilder, the
      // first point that is provably a read. The gate is
      // order/nullability-INSENSITIVE and validation-ONLY: a caller
      // schema that lists the same columns in a different order
      // passes, and the relation still exposes the MANIFEST's column
      // order (select by name; positional assumptions about a
      // reordered caller schema do not apply).
      val cdf = m.getBoolean(GraftTable.CdfOption, false)
      val expected =
        if (cdf) GraftTable.cdfSchema(meta.userSchema) else meta.schema
      val mismatch = schema != null && schema.nonEmpty &&
        GraftTable.normSchema(schema) != GraftTable.normSchema(expected)
      new GraftTable(meta, pinned = versionAsOf.isDefined,
        callerSchemaMismatch =
          if (mismatch) Some(schema.simpleString) else None,
        acceptAnySchema = m.getBoolean("mergeSchema", false) ||
          SparkSession.active.conf
            .getOption("spark.graft.mergeSchema")
            .exists(_.equalsIgnoreCase("true")),
        cdf = cdf)
    }
  }
}

/** Resolved (dir, version, schema, data files, DV files, per-file
  * stats) of one read — manifest metadata only, no data touched.
  */
private[graft] final case class GraftTableMeta(dir: String, version: Int,
    schema: StructType, files: Seq[String], dvFiles: Seq[String],
    stats: ManagedTable.FileStats) {
  /** PHYSICAL (file-side) name of a logical column — identity for
    * unmapped tables and for names outside the schema (`_file`). Every
    * per-file STATS lookup must key on this, never the logical name
    * (stats are computed from the written segment, whose columns are
    * physical — see [[ColumnMapping]]).
    */
  def physOf(logical: String): String =
    ColumnMapping.physOf(schema, logical)

  /** The schema as users see it: mapping metadata stripped. */
  def userSchema: StructType = ColumnMapping.strip(schema)

  /** Table properties (the `prop:` tier of the `__table` ledger). */
  def properties: Map[String, String] = ManagedTable.propertiesOf(stats)
}

private[graft] object GraftTableMeta {
  def resolve(dir: String, versionAsOf: Option[Int]): GraftTableMeta = {
    val spark = SparkSession.active
    val vs = ManagedTable.versions(spark, dir)
    require(vs.nonEmpty, s"graft: no committed versions in $dir")
    val v = versionAsOf.getOrElse(vs.last)
    require(vs.contains(v), s"graft: version $v not in $vs of $dir")
    val (_, all, schemaJson, stats) =
      ManagedTable.readManifest(spark, dir, v)
    val (files, dvFiles) = ManagedTable.splitDv(all)
    // parquet scans always surface nullable columns — every other
    // read path (the v1 parquet scan under ManagedTable.read) does the
    // same, and readers of an evolved table genuinely can see nulls
    // in columns a pre-evolution segment lacks
    val schema = StructType(schemaJson.map(ManagedTable.schemaOf)
      .getOrElse(throw new IllegalStateException(
        s"graft: version $v of $dir has no recorded schema"))
      .fields.map { f =>
        f.copy(nullable = true, dataType = f.dataType match {
          case ArrayType(et, _) => ArrayType(et, containsNull = true)
          case dt => dt
        })
      })
    schema.fields.foreach { f =>
      require(supported(f.dataType),
        s"graft: unsupported column type ${f.dataType.sql} for " +
          s"'${f.name}' — the connector decodes the stats-typed tier " +
          "(integral/float/double/string/boolean/binary and arrays " +
          "of those); use ManagedTable.read for other types")
    }
    GraftTableMeta(dir, v, schema, files, dvFiles, stats)
  }

  private def scalarSupported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | FloatType |
        DoubleType | StringType | BooleanType | BinaryType => true
    // decoded as internal days / instant-micros; both readers handle
    // every encoding Spark's writer produces (INT96, INT64
    // micros/millis, INT32 date) — TimestampNTZ stays excluded (its
    // wall-clock semantics need the NTZ-aware decode this tier lacks)
    case DateType | TimestampType => true
    case _ => false
  }

  def supported(dt: DataType): Boolean = dt match {
    case ArrayType(et, _) => scalarSupported(et)
    case _ => scalarSupported(dt)
  }
}

private[sources] class GraftTable(meta: GraftTableMeta,
    pinned: Boolean = false, callerSchemaMismatch: Option[String] = None,
    acceptAnySchema: Boolean = false, cdf: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = s"graft.`${meta.dir}`"
  override def schema(): StructType =
    if (cdf) GraftTable.cdfSchema(meta.userSchema) else meta.userSchema
  override def properties(): JMap[String, String] =
    meta.properties.asJava
  // surface the declared clustering as a ClusterByTransform so SHOW
  // CREATE TABLE / catalog introspection render the CLUSTER BY clause
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] = {
    val cols = ManagedTable.clusterByOf(meta.properties)
    if (cols.isEmpty) Array.empty
    else Array(org.apache.spark.sql.connector.expressions
      .ClusterByTransform(cols.map(c => Expressions.column(c)
        : org.apache.spark.sql.connector.expressions.NamedReference)))
  }
  override def version(): String = meta.version.toString
  override def capabilities(): JSet[TableCapability] =
    (Set(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE,
      // lets `MERGE WITH SCHEMA EVOLUTION` hand its AddColumn
      // changes to the catalog's alterTable (ADD COLUMNS path);
      // inert unless the user writes the clause
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION) ++
      // a mergeSchema write asks the analyzer to stand down from
      // arity validation so the WIDER source schema reaches the
      // write builder, whose additive-only gate then evolves the
      // table (Delta's mergeSchema shape). Scoped to writes that
      // opted in — everything else keeps Spark's strict validation.
      (if (acceptAnySchema) Set(TableCapability.ACCEPT_ANY_SCHEMA)
      else Set.empty)).asJava
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // a handle pinned with versionAsOf resolved a SNAPSHOT; a write
    // through it would commit on the current head — a different state
    // than the one the user named. Refuse at build (deleteWhere's
    // guard, extended to batch append/overwrite).
    require(!pinned,
      s"graft: write refused — this handle is pinned at " +
        s"v${meta.version} by versionAsOf; writes always target the " +
        "table head, so re-resolve the table without time travel")
    require(!cdf,
      "graft: write refused — this handle is the table's CHANGE FEED " +
        "(readChangeFeed); writes target the table itself")
    new GraftWriteBuilder(meta.dir, info)
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    callerSchemaMismatch.foreach { caller =>
      throw new IllegalArgumentException(
        s"graft: the caller-supplied read schema ($caller) does not " +
          s"match the manifest schema of ${meta.dir} v${meta.version} " +
          s"(${meta.schema.simpleString}) — the manifest is the " +
          "schema authority; drop .schema(...) or make it match")
    }
    if (cdf)
      return new ScanBuilder {
        override def build(): Scan = new GraftCdfScan(meta,
          Option(options.get("maxVersionsPerTrigger")).map(_.toInt),
          GraftTable.resolveStartingVersion(meta.dir, options))
      }
    // the CDF schema must be part of the resolved TABLE for the plan
    // to carry the extra columns — which only the path route can do
    // (the option reaches inferSchema/getTable there); a catalog
    // handle can't grow columns at scan time, so fail with the route
    if (options.getBoolean(GraftTable.CdfOption, false))
      throw new IllegalArgumentException(
        "graft: readChangeFeed resolves through the PATH API — " +
          "spark.readStream.format(\"graft\")" +
          s".option(\"${GraftTable.CdfOption}\", true)" +
          s".load(\"${meta.dir}\") — not through a catalog table name")
    new GraftScanBuilder(meta,
      Option(options.get("maxVersionsPerTrigger")).map(_.toInt),
      options.getBoolean("ignoreChanges", false),
      GraftTable.resolveStartingVersion(meta.dir, options))
  }

  /** SQL `DELETE FROM` ([[org.apache.spark.sql.connector.catalog
    * .SupportsDelete]]) — and, via its default `truncateTable`,
    * `TRUNCATE TABLE`: the pushed condition is translated EXACTLY to
    * a Catalyst predicate (this is row-level semantics, never the
    * stats may-contain test — an untranslatable filter REFUSES at
    * `canDeleteWhere`, it does not over-delete), then executed by
    * [[ManagedTable.deleteWhere]]: matching row positions land as a
    * DELETION VECTOR in one new manifest version, no data file
    * rewritten — on a 100 TB table a DELETE costs O(matching files
    * scanned once) + a metadata commit, and the tombstones become
    * real bytes at the next `compact`. Refused when this handle is
    * not the table head (time travel, or a concurrent writer moved
    * the head after resolution) — the same optimistic discipline as
    * every manifest commit.
    */
  /** `_file` — the segment a row lives in, the group identity of the
    * copy-on-write tier (same role as Delta/Iceberg's `_file`): SQL
    * UPDATE/MERGE scan it to learn which files hold matching rows,
    * runtime-filter the rewrite scan down to those files, and the
    * replacing write swaps exactly that set in one manifest commit.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftTable.FileMetaCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "absolute path of the row's segment file"
    })

  /** SQL `UPDATE` / `MERGE INTO` (and `DELETE` whose predicate the
    * exact-translation tier refuses) via group-based COPY-ON-WRITE
    * ([[org.apache.spark.sql.connector.catalog
    * .SupportsRowLevelOperations]]): Spark finds the files holding
    * matching rows through `_file`, re-reads ONLY those files
    * (runtime group filter on the rewrite scan), computes the
    * replacement rows, and [[GraftCowBatchWrite]] commits
    * staged-files-in / scanned-files-out as ONE manifest version —
    * O(affected files) rewrite cost, never a table rewrite, with the
    * optimistic manifest race arbitrating concurrent writers.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new GraftRowLevelOperation(meta.dir, info.command())

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftTable.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    val spark = SparkSession.active
    val head = ManagedTable.versions(spark, meta.dir).lastOption
    require(head.contains(meta.version),
      s"graft: DELETE refused — handle pinned at v${meta.version} " +
        s"but the table head is v${head.getOrElse(0)} (time travel " +
        "or a concurrent writer); re-resolve the table and retry")
    val cond = filters.toSeq
      .map(f => GraftTable.toColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"graft: cannot DELETE WHERE $f — not exactly translatable")))
      .reduceOption(_ && _).getOrElse(lit(true))
    ManagedTable.deleteWhere(spark, meta.dir, cond)
    ()
  }
}

private[sources] object GraftTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}

  /** Name of the file-identity metadata column (Iceberg's `_file`). */
  val FileMetaCol = "_file"

  /** `readChangeFeed` — Delta's option of the same name: resolve the
    * table as its streaming CHANGE FEED instead of its appends.
    */
  private[sources] val CdfOption = "readChangeFeed"

  /** The change-feed metadata columns, appended after the table's own
    * (Delta's CDF shape): what changed, in which commit, when (the
    * manifest commit wall-clock — informational, same source as
    * `system.history`).
    */
  private[sources] val CdfCols: Array[StructField] = Array(
    StructField("_change_type", StringType, nullable = false),
    // LONG at the boundary (versions are Int internally): the
    // upstream change-feed contract publishes _commit_version as
    // BIGINT, so schema-matched sinks port without a type mismatch
    StructField("_commit_version", LongType, nullable = false),
    StructField("_commit_timestamp", TimestampType, nullable = false))

  private[sources] def cdfSchema(base: StructType): StructType =
    StructType(base.fields ++ CdfCols)

  /** Epoch millis of `s`: a raw epoch-millis long, or an ANSI
    * timestamp string interpreted in the SESSION time zone — the
    * shared parse behind `timestampAsOf` and `startingTimestamp`.
    */
  private[sources] def parseTsMillis(s: String, option: String): Long =
    s.trim.toLongOption.getOrElse {
      val spark = SparkSession.active
      val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils
        .getZoneId(spark.sessionState.conf.sessionLocalTimeZone)
      val micros = org.apache.spark.sql.catalyst.util.DateTimeUtils
        .stringToTimestamp(UTF8String.fromString(s.trim), zone)
        .getOrElse(throw new IllegalArgumentException(
          s"graft: cannot parse $option '$s' as a timestamp " +
            "(epoch millis or an ANSI timestamp string)"))
      Math.floorDiv(micros, 1000L)
    }

  /** The streaming start: `startingVersion` verbatim, or
    * `startingTimestamp` (Delta's option — "commits made at or after
    * this instant") resolved HERE, at scan-build time, to the
    * SMALLEST retained version whose manifest landed at or after the
    * instant — one mtime sweep of the manifest log, then the
    * version-offset machinery runs unchanged. An instant past the
    * last commit fails fast (the stream would silently tail nothing
    * that the caller asked for); `startingVersion => 'latest'` is the
    * explicit way to tail only future commits.
    *
    * Manifest mtimes are NOT assumed strictly monotonic across
    * versions (coarse-granularity filesystems, object-store copies,
    * clock skew can reorder them): the sweep MONOTONIZES the mtime
    * sequence with a running max in version order, so the resolved
    * start is the smallest version n with max(mtime(1..n)) >= ts — a
    * later version can never resolve BEFORE an earlier one, and a
    * sub-resolution commit pair yields the earliest of the pair
    * (at-or-after semantics err toward re-reading, never skipping).
    */
  private[sources] def resolveStartingVersion(dir: String,
      options: CaseInsensitiveStringMap): Option[String] = {
    val sv = Option(options.get("startingVersion"))
    val st = Option(options.get("startingTimestamp"))
    require(sv.isEmpty || st.isEmpty,
      "graft: startingVersion and startingTimestamp are mutually " +
        "exclusive")
    sv.orElse(st.map { s =>
      val tsMs = parseTsMillis(s, "startingTimestamp")
      val spark = SparkSession.active
      val conf = spark.sessionState.newHadoopConf()
      val md = new HPath(dir, "_manifest")
      val fs = md.getFileSystem(conf)
      val ordered = ManagedTable.versions(spark, dir).sorted
      var runningMax = Long.MinValue
      val eligible = ordered.filter { n =>
        val m = fs.getFileStatus(new HPath(md, s"v$n.json"))
          .getModificationTime
        runningMax = math.max(runningMax, m)
        runningMax >= tsMs
      }
      require(eligible.nonEmpty,
        s"graft streaming: no version of $dir committed at or after " +
          s"startingTimestamp '$s' — to tail only FUTURE commits use " +
          ".option(\"startingVersion\", \"latest\")")
      eligible.min.toString
    })
  }

  /** Schema as a comparable (name, type) set — nullability normalized
    * away (parquet reads always surface nullable), field order
    * irrelevant. The equality every schema gate in this file uses.
    */
  def normSchema(s: StructType): Set[(String, DataType)] =
    s.fields.map(f => (f.name, f.dataType match {
      case ArrayType(et, _) => ArrayType(et, containsNull = true)
      case dt => dt
    })).toSet

  /** EXACT Column translation of one pushed v1 filter — `None` means
    * "refuse the DELETE", never "approximate". Nested attributes are
    * rejected (the connector's scalar tier has no nested columns).
    */
  def toColumn(f: Filter): Option[Column] = {
    def simple(a: String): Boolean = !a.contains(".")
    f match {
      case EqualTo(a, v) if simple(a) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) if simple(a) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) if simple(a) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) if simple(a) => Some(col(a) >= lit(v))
      case LessThan(a, v) if simple(a) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) if simple(a) => Some(col(a) <= lit(v))
      case In(a, vs) if simple(a) => Some(col(a).isin(vs.toSeq: _*))
      case IsNull(a) if simple(a) => Some(col(a).isNull)
      case IsNotNull(a) if simple(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) if simple(a) =>
        Some(col(a).startsWith(v))
      case StringEndsWith(a, v) if simple(a) => Some(col(a).endsWith(v))
      case StringContains(a, v) if simple(a) => Some(col(a).contains(v))
      case And(l, r) =>
        for (cl <- toColumn(l); cr <- toColumn(r)) yield cl && cr
      case Or(l, r) =>
        for (cl <- toColumn(l); cr <- toColumn(r)) yield cl || cr
      case Not(c) => toColumn(c).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }
}

private[graft] class GraftScanBuilder(meta: GraftTableMeta,
    maxVersionsPerTrigger: Option[Int] = None,
    ignoreChanges: Boolean = false,
    startingVersion: Option[String] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private var required: StructType = meta.schema
  private var usable: Array[Filter] = Array.empty
  private var agg: Option[(StructType, Seq[Any])] = None
  private var limit: Option[Int] = None
  private var topN: Option[GraftTopN] = None

  /** ORDER-BY-k LIMIT n → file-SUBSET planning
    * ([[SupportsPushDownTopN]], partial): a top-n on a single
    * stats-typed column keeps only files that might hold a valid
    * top-n row, proven from manifest facts alone — per-file
    * [min, max], non-null counts, row counts and DV sizes (see
    * [[GraftScan.selectTopN]] for the exact soundness argument). On a
    * table whose layout clusters the sort column (ingest order for
    * timestamps, q151's OPTIMIZE for anything else), `ORDER BY ts
    * DESC LIMIT 100` over 100 TB plans the newest segment(s) only.
    * Declared partially pushed, so Spark still sorts and limits the
    * SURVIVORS — which makes the file selection itself load-bearing
    * (a discarded file never reaches Spark's sort); see
    * [[GraftScan.selectTopN]]'s soundness argument.
    */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    if (orders.length != 1 || n <= 0) return false
    val o = orders(0)
    val column = o.expression() match {
      case fr: NamedReference if fr.fieldNames.length == 1 =>
        fr.fieldNames()(0)
      case _ => return false
    }
    val ok = meta.schema.fields.exists(f => f.name == column &&
      GraftScan.runtimePrunable(f.dataType))
    if (!ok) return false
    topN = Some(GraftTopN(column,
      o.direction() == SortDirection.DESCENDING,
      o.nullOrdering() == NullOrdering.NULLS_FIRST, n))
    true
  }

  /** LIMIT → file-list truncation ([[SupportsPushDownLimit]]): an
    * unordered `LIMIT n` needs ANY n rows, so the scan plans only a
    * prefix of its surviving files whose LIVE row count (manifest row
    * counts minus each file's DV positions) already covers n — on a
    * 100 TB table `SELECT * FROM t LIMIT 10` plans one file, not one
    * task per file. Always declared PARTIALLY pushed, so Spark keeps
    * its own limit operator and the scan only has to return AT LEAST
    * min(n, live) rows — which a live-count-sufficient file prefix
    * does by construction; files without recorded counts disable
    * truncation (never the query). Filters compose safely for free:
    * every graft filter stays post-scan, so a Filter node always
    * sits between the scan and any limit and Spark will not push the
    * limit through it.
    */
  override def pushLimit(l: Int): Boolean = {
    limit = Some(l)
    true
  }
  override def isPartiallyPushed: Boolean = true

  /** Keep EVERY filter post-scan (returned array) — stats pruning is a
    * file-level may-contain test, never a row-level guarantee — while
    * recording the stats-evaluable ones for [[build]]'s file plan.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    usable = filters.filter(GraftScanBuilder.prunable)
    filters
  }
  override def pushedFilters(): Array[Filter] = usable

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** MANIFEST-ONLY aggregates ([[SupportsPushDownAggregates]]): a
    * global `COUNT(*)` / `MIN(c)` / `MAX(c)` over the table is
    * answered from the per-file stats the manifest already carries —
    * the scan plans ONE synthetic partition emitting one precomputed
    * row and reads ZERO data files, which on a 100 TB table turns a
    * full-scan aggregate into a metadata lookup (exactly Delta's
    * count-from-log fast path). Pushed only when provably exact:
    *   - no grouping, and Spark guarantees no residual filters (every
    *     graft filter is post-scan, so any filtered query skips this);
    *   - no deletion vectors at this version (a DV'd row could BE the
    *     min/max, and invalidates file row counts);
    *   - every data file carries a stats entry (a stats-less file —
    *     pre-stats manifest, zero-row part — makes counts unprovable);
    *   - `COUNT(*)`: every file records [[ManagedTable.RowsStat]];
    *   - `COUNT(col)` (non-distinct): every file records the column's
    *     non-null count ([[ManagedTable.nnStat]]);
    *   - `MIN`/`MAX`: integral or string column (exact string
    *     round-trip + total order identical to Spark's); a file with
    *     a stats entry but no entry for the column is all-NULL there
    *     and contributes nothing, exactly like the aggregate itself.
    * `supportCompletePushDown` answers true for the same set, so the
    * final plan is scan+project with NO aggregate node at all.
    */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    planAgg(aggregation).isDefined
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    agg = planAgg(aggregation)
    agg.isDefined
  }
  def pushedAggSchema: Option[StructType] = agg.map(_._1)

  private def planAgg(aggregation: Aggregation)
      : Option[(StructType, Seq[Any])] =
    // malformed stats endpoints must mean "don't push", never a
    // planning-time crash — the table stays readable the slow way
    try planAggUnsafe(aggregation) catch { case _: Exception => None }

  private def planAggUnsafe(aggregation: Aggregation)
      : Option[(StructType, Seq[Any])] = {
    if (aggregation.groupByExpressions.nonEmpty) return None
    if (meta.dvFiles.nonEmpty) return None
    if (meta.files.exists(f => !meta.stats.contains(f))) return None
    val planned = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        val counts = meta.files
          .map(f => meta.stats(f).get(ManagedTable.RowsStat))
        if (counts.exists(_.isEmpty)) return None
        Some((StructField("count_star", LongType, nullable = false),
          counts.flatten.map(_._1.toLong).sum: Any))
      case c: Count if !c.isDistinct =>
        // COUNT(col) = Σ per-file non-null counts ([[ManagedTable
        // .nnStat]]); any file missing the entry (pre-nn manifest,
        // non-stats column type) makes it unprovable
        val name = c.column() match {
          case fr: NamedReference if fr.fieldNames.length == 1 =>
            fr.fieldNames()(0)
          case _ => return None
        }
        val counts = meta.files
          .map(f => meta.stats(f).get(ManagedTable.nnStat(meta.physOf(name))))
        if (counts.exists(_.isEmpty)) return None
        Some((StructField(s"count_$name", LongType, nullable = false),
          counts.flatten.map(_._1.toLong).sum: Any))
      case m: Min => minMax(m.column(), isMin = true)
      case m: Max => minMax(m.column(), isMin = false)
      case _ => None
    }
    if (planned.exists(_.isEmpty)) None
    else {
      val ps = planned.flatten
      Some((StructType(ps.map(_._1)), ps.map(_._2)))
    }
  }

  private def minMax(column: org.apache.spark.sql.connector.expressions
        .Expression, isMin: Boolean): Option[(StructField, Any)] = {
    val name = column match {
      case fr: NamedReference if fr.fieldNames.length == 1 =>
        fr.fieldNames()(0)
      case _ => return None
    }
    val field = meta.schema.fields.find(_.name == name)
      .getOrElse(return None)
    val endpoints = meta.files
      .flatMap(f => meta.stats(f).get(meta.physOf(name)))
      .map(p => if (isMin) p._1 else p._2)
    def pick[T](vs: Seq[T])(implicit o: Ordering[T]): T =
      if (isMin) vs.min else vs.max
    val value: Any = field.dataType match {
      case StringType =>
        if (endpoints.isEmpty) null
        else pick(endpoints)(Ordering.comparatorToOrdering(
          (a: String, b: String) => UTF8String.fromString(a)
            .compareTo(UTF8String.fromString(b))))
      case LongType | IntegerType | ShortType | ByteType =>
        if (endpoints.isEmpty) null
        else {
          val v = pick(endpoints.map(new java.math.BigDecimal(_)))(
            Ordering.comparatorToOrdering(
              (a: java.math.BigDecimal, b: java.math.BigDecimal) =>
                a.compareTo(b)))
          field.dataType match {
            case LongType => v.longValueExact()
            case IntegerType => v.intValueExact()
            case ShortType => v.shortValueExact()
            case ByteType => v.byteValueExact()
            case _ => return None
          }
        }
      case DateType | TimestampType =>
        // stats are epoch-day / epoch-micro numeric strings. These
        // types JOINED the stats tier after numerics/strings, so a
        // file with a stats map but no endpoint for the column is
        // AMBIGUOUS (all-null vs pre-tier manifest) — its recorded
        // non-null count disambiguates; a file with neither endpoint
        // nor a provably-zero count blocks the push (never a wrong
        // answer, just the slow path)
        val phys = meta.physOf(name)
        val unambiguous = meta.files.forall { f =>
          val st = meta.stats(f)
          st.contains(phys) ||
            st.get(ManagedTable.nnStat(phys)).exists(_._1.toLong == 0L) ||
            st.get(ManagedTable.RowsStat).exists(_._1.toLong == 0L)
        }
        if (!unambiguous) return None
        if (endpoints.isEmpty) null
        else {
          // internal representations: DateType = days Int,
          // TimestampType = micros Long
          val v = pick(endpoints.map(_.toLong))
          if (field.dataType == DateType) v.toInt else v
        }
      case _ => return None // float/double NaN/-0.0 order, others: no
    }
    Some((StructField(s"${if (isMin) "min" else "max"}_$name",
      field.dataType, nullable = true), value))
  }

  override def build(): Scan = {
    agg.foreach { case (schema, row) =>
      return new GraftAggScan(meta, schema, row)
    }
    val spark = SparkSession.active
    // stats pruning directly over THIS version's manifest stats (the
    // meta already carries them — no manifest re-read): a file
    // survives unless some pushed filter provably excludes it
    // one probe budget per pruning pass: a candidate set whose
    // digests exceed the cache cap stops consulting sidecars after
    // one cache-full of loads (fail-open) instead of thrashing
    val kept =
      if (usable.isEmpty) meta.files
      else BloomSkipping.withProbeBudget {
        meta.files.filter(rel =>
          usable.forall(f => GraftScanBuilder.mayMatch(f, meta, rel)))
      }
    val all = meta.files
    // the version's DV, resolved by the two-tier plan
    // ([[GraftDvReader.DvPlan]] — a driver-side read, no Spark job,
    // under the inline cap): positions inline for small versions,
    // per-file counts + executor-side per-task resolution for bulk
    // deletes, so the planner costs O(files) in driver memory however
    // many rows a delete hit
    val dvPlan = GraftDvReader.DvPlan.resolve(spark, meta.dir,
      meta.dvFiles)
    // per-file LIVE row counts (manifest count minus DV'd positions) —
    // only files with recorded counts appear; [[GraftScan]] truncates
    // for a pushed limit only when every candidate is covered
    val liveRows: Map[String, Long] = kept.flatMap { f =>
      meta.stats.get(f).flatMap(_.get(ManagedTable.RowsStat)).map(p =>
        f -> (p._1.toLong - dvPlan.counts.getOrElse(f, 0L)))
    }.toMap
    new GraftScan(meta, required, kept, all.size, dvPlan,
      maxVersionsPerTrigger, ignoreChanges, limit, liveRows, topN,
      startingVersion)
  }
}

private[sources] object GraftScanBuilder {
  private def simple(a: String): Boolean = !a.contains(".")

  /** Can this filter shape contribute to stats-based file pruning?
    * The evaluable tier: range conjuncts (`=`, `<`, `<=`, `>`, `>=`),
    * `IN` (a union of equality probes — the shape a selective
    * dimension filter or an `IN (…)` key list pushes), and arbitrary
    * `AND`/`OR` nestings of those. An `AND` prunes when EITHER side
    * can (the other side stays post-scan); an `OR` needs BOTH sides
    * evaluable, or it can never exclude a file.
    */
  def prunable(f: Filter): Boolean = f match {
    case EqualTo(a, v) => simple(a) && v != null
    case GreaterThan(a, v) => simple(a) && v != null
    case GreaterThanOrEqual(a, v) => simple(a) && v != null
    case LessThan(a, v) => simple(a) && v != null
    case LessThanOrEqual(a, v) => simple(a) && v != null
    case In(a, vs) => simple(a) && vs != null &&
      vs.exists(_ != null)
    case And(l, r) => prunable(l) || prunable(r)
    case Or(l, r) => prunable(l) && prunable(r)
    case _ => false
  }

  /** May file `rel` contain a row matching `f`, judged from the
    * manifest's per-file [min, max] alone? TRUE on ANY uncertainty —
    * missing stats, unparseable endpoints, unsupported shapes — so
    * pruning only ever drops provably-disjoint files (every filter is
    * re-applied post-scan regardless). Range endpoints stay INCLUSIVE
    * on both strict and non-strict comparisons (`k < 100` keeps a
    * min=100 file), matching [[ManagedTable.planFilesMulti]]'s
    * conservative contract, which downstream carried-files invariants
    * rely on.
    */
  def mayMatch(f: Filter, meta: GraftTableMeta, rel: String): Boolean = {
    // a file with a RECORDED zero row count provably matches nothing —
    // the empty part a CREATE or an empty write partition leaves
    // behind; it has no min/max or digest entries (nothing to record),
    // so without this fact it would survive every filtered scan forever
    if (GraftScan.recordedEmpty(meta, rel)) return false
    // stats key on the PHYSICAL name; the comparator on the logical
    def bounds(a: String): Option[(String, String)] =
      meta.stats.get(rel).flatMap(_.get(meta.physOf(a)))
    def cmp(a: String)(x: String, y: String): Int =
      GraftScan.cmp(meta.schema, a)(x, y)
    // value v may fall within the file's [min, max]; date/timestamp
    // values render to the numeric encodings the stats recorded
    def contains(a: String, v: Any): Boolean = bounds(a) match {
      case Some((mn, mx)) =>
        try cmp(a)(mn, GraftScan.renderStatsValue(v)) <= 0 &&
          cmp(a)(GraftScan.renderStatsValue(v), mx) <= 0
        catch { case _: Exception => true }
      case None => true
    }
    def atLeast(a: String, v: Any): Boolean = bounds(a) match {
      case Some((_, mx)) =>
        try cmp(a)(mx, GraftScan.renderStatsValue(v)) >= 0
        catch { case _: Exception => true }
      case None => true
    }
    def atMost(a: String, v: Any): Boolean = bounds(a) match {
      case Some((mn, _)) =>
        try cmp(a)(mn, GraftScan.renderStatsValue(v)) <= 0
        catch { case _: Exception => true }
      case None => true
    }
    // equality probes additionally consult the file's Bloom digest
    // when the column declares one ([[BloomSkipping]]) — the pruner
    // for point lookups on columns whose [min, max] spans everything;
    // digests answer "definitely absent", so they only ever EXCLUDE
    def bloomOk(a: String, v: Any): Boolean =
      meta.stats.get(rel)
        .flatMap(_.get(BloomSkipping.statKey(meta.physOf(a)))) match {
        case Some((sidecar, scheme))
            if meta.schema.fields.exists(fd =>
              fd.name == a && BloomSkipping.eligible(fd.dataType)) =>
          BloomSkipping.mightContain(meta.dir, sidecar, scheme,
            GraftScan.renderStatsValue(v))
        case _ => true
      }
    f match {
      case EqualTo(a, v) if v != null => contains(a, v) && bloomOk(a, v)
      case GreaterThan(a, v) if v != null => atLeast(a, v)
      case GreaterThanOrEqual(a, v) if v != null => atLeast(a, v)
      case LessThan(a, v) if v != null => atMost(a, v)
      case LessThanOrEqual(a, v) if v != null => atMost(a, v)
      // IN = union of equality probes; null list entries match no row
      // (three-valued IN) and contribute nothing to the union
      case In(a, vs) if vs != null && vs.exists(_ != null) =>
        vs.exists(v => v != null && contains(a, v) && bloomOk(a, v))
      case And(l, r) => mayMatch(l, meta, rel) && mayMatch(r, meta, rel)
      case Or(l, r) => mayMatch(l, meta, rel) || mayMatch(r, meta, rel)
      case _ => true
    }
  }
}

/** The scan a pushed-down aggregate builds: ONE synthetic partition
  * whose reader emits the single precomputed row — no data file is
  * opened. The values were derived from the manifest stats at planning
  * time; `description()` carries the evidence for plan inspection.
  */
private[sources] class GraftAggScan(meta: GraftTableMeta,
    aggSchema: StructType, row: Seq[Any]) extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftAggScan ${meta.dir} v${meta.version} filesRead=0 " +
      s"PushedAggregates=[${aggSchema.fieldNames.mkString(", ")}]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggPartition(aggSchema.json,
      row.map(v => if (v == null) null else v.toString).toArray,
      row.map(_ == null).toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftAggReaderFactory
}

/** Values travel as strings (+ null mask) — every pushable aggregate
  * type round-trips its string render exactly (that's the pushdown
  * precondition), and strings keep the partition trivially
  * serializable.
  */
private[sources] final case class GraftAggPartition(schemaJson: String,
    values: Array[String], nulls: Array[Boolean]) extends InputPartition

private[sources] class GraftAggReaderFactory
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val ap = p.asInstanceOf[GraftAggPartition]
    val schema = DataType.fromJson(ap.schemaJson).asInstanceOf[StructType]
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = !emitted && { emitted = true; true }
      override def get(): InternalRow = {
        val cells = schema.fields.zipWithIndex.map { case (f, i) =>
          if (ap.nulls(i)) null
          else f.dataType match {
            case LongType | TimestampType => ap.values(i).toLong
            case IntegerType | DateType => ap.values(i).toInt
            case ShortType => ap.values(i).toShort
            case ByteType => ap.values(i).toByte
            case StringType => UTF8String.fromString(ap.values(i))
            case dt => throw new IllegalStateException(
              s"graft: unexpected pushed-aggregate type $dt")
          }
        }
        new GenericInternalRow(cells.asInstanceOf[Array[Any]])
      }
      override def close(): Unit = ()
    }
  }
}

private[graft] class GraftScan(meta: GraftTableMeta,
    required: StructType, initialKept: Seq[String], totalFiles: Int,
    dvPlan: GraftDvReader.DvPlan,
    maxVersionsPerTrigger: Option[Int] = None,
    ignoreChanges: Boolean = false,
    limit: Option[Int] = None,
    liveRows: Map[String, Long] = Map.empty,
    topN: Option[GraftTopN] = None,
    startingVersion: Option[String] = None)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with SupportsRuntimeV2Filtering {

  /** A limit-sufficient PREFIX of `files`: the shortest prefix whose
    * cumulative live rows reach the pushed limit (partial-pushdown
    * contract: return at least min(limit, live) rows — Spark applies
    * the exact limit itself). A candidate without a recorded live
    * count disables truncation entirely: sufficiency would be
    * unprovable.
    */
  private def truncate(files: Seq[String]): Seq[String] = limit match {
    case Some(n) if files.forall(liveRows.contains) =>
      var acc = 0L
      files.takeWhile { f =>
        val need = acc < n
        acc += liveRows(f)
        need
      }
    case _ => files
  }

  /** The files that might hold a valid top-n row, proven from the
    * manifest alone. A file set D may be DISCARDED iff every possible
    * row of D is provably out-ranked by ≥ n rows that survive in the
    * kept set K — per-file facts used: [min, max] of the sort column
    * (over non-null values, DV'd rows included, so endpoints only ever
    * WIDEN), the column's non-null count nn, the row count, and the
    * file's DV size d. Lower bounds are DV-conservative (every
    * tombstone is assumed to hit the rows being counted):
    * live non-nulls ≥ nn − d, live nulls ≥ (rows − nn) − d.
    * Rank order: for ASC, value a out-ranks b iff a ≤ b (ties count —
    * any tied subset is a valid top-n); DESC mirrors via max/≥.
    *   - NULLS FIRST: a discarded null would rank before everything,
    *     so every file that may hold a null is force-kept; each
    *     discarded non-null row is ≥ B (the best endpoint over D), so
    *     it suffices that K provably holds n rows ranking ≤ B: kept
    *     live nulls plus live non-nulls of kept files whose WORST
    *     endpoint ranks ≤ B.
    *   - NULLS LAST: discarded nulls rank behind every live kept row,
    *     so they're covered once K provably holds n live rows; the
    *     non-null condition is as above (without the null credit).
    * Any file missing a needed fact keeps EVERYTHING — sufficiency
    * would be unprovable. NOTE: unlike the stats pruning elsewhere in
    * this file, this selection is LOAD-BEARING — under partial top-n
    * pushdown Spark only re-sorts the rows the scan returns, so a
    * wrongly discarded file holding a true top-n row would corrupt
    * the result. The coverage proof above is the correctness
    * argument; weaken it and the query is wrong, not just slow.
    */
  private def selectTopN(files: Seq[String]): Seq[String] = topN match {
    case None => files
    case Some(GraftTopN(column, desc, nullsFirst, n)) =>
      // per-file facts; mayNull uses RECORDED counts (rows − nn > 0):
      // DVs can't prove which rows they hit, so a null stays possible
      final case class F(rel: String, lo: Option[String],
          hi: Option[String], liveNn: Long, liveNulls: Long,
          live: Long, mayNull: Boolean)
      val physCol = meta.physOf(column)
      val facts = files.map { rel =>
        for {
          st <- meta.stats.get(rel)
          rows <- st.get(ManagedTable.RowsStat).map(_._1.toLong)
          nn <- st.get(ManagedTable.nnStat(physCol)).map(_._1.toLong)
        } yield {
          val d = dvPlan.counts.getOrElse(rel, 0L)
          F(rel, st.get(physCol).map(_._1), st.get(physCol).map(_._2),
            math.max(0L, nn - d), math.max(0L, rows - nn - d),
            rows - d, rows - nn > 0)
        }
      }
      if (facts.exists(_.isEmpty)) return files
      val fs = facts.flatten
      val c = GraftScan.cmp(meta.schema, column) _
      // EVERY endpoint must parse BEFORE any comparison is ordered:
      // swallowing a parse failure inside the sort comparator would
      // make it inconsistent mid-sort (TimSort throws "Comparison
      // method violates its general contract" at planning time) —
      // a malformed stats entry must mean keep-every-file, not crash
      if (!fs.forall(f => Seq(f.lo, f.hi).flatten.forall(v =>
          try { c(v, v); true } catch { case _: Exception => false })))
        return files
      def leq(a: String, b: String): Boolean =
        if (desc) c(a, b) >= 0 else c(a, b) <= 0
      def best(f: F) = if (desc) f.hi else f.lo // first-possible value
      def worst(f: F) = if (desc) f.lo else f.hi
      // NULLS FIRST: a possibly-null file can never be discarded (its
      // null would out-rank everything). All-endpoint-less files are
      // all-null: under NULLS LAST they are discardable candidates.
      val (keepAlways, cand) = fs.partition(f => nullsFirst && f.mayNull)
      val (valued, allNull) = cand.partition(_.lo.isDefined)
      def lt(a: F, b: F): Boolean = {
        val (x, y) = (best(a).get, best(b).get)
        leq(x, y) && !leq(y, x)
      }
      val sorted = valued.sortWith(lt)
      // smallest prefix p of `sorted` (plus keepAlways) covering every
      // discarded row n times over
      val choice = (0 to sorted.size).iterator.map { p =>
        (keepAlways ++ sorted.take(p), sorted.drop(p))
      }.find { case (k, dValued) =>
        val dNulls = dValued.exists(_.mayNull) ||
          (!nullsFirst && allNull.nonEmpty)
        // (a) every discarded non-null row is out-ranked n times: it
        // ranks no better than B, and K provably holds ≥ n rows
        // ranking ≤ B (kept live nulls under NULLS FIRST + live
        // non-nulls of kept files whose worst endpoint ≤ B)
        val coveredNonNull = dValued.headOption.forall { dBest =>
          val b = best(dBest).get
          k.map(f =>
            (if (nullsFirst) f.liveNulls else 0L) +
              (worst(f) match {
                case Some(w) if leq(w, b) => f.liveNn
                case _ => 0L
              })).sum >= n
        }
        // (b) every discarded null (NULLS LAST only) ranks behind all
        // live kept rows, so n of those suffice
        val coveredNulls = !dNulls || k.map(_.live).sum >= n
        coveredNonNull && coveredNulls
      }
      choice match {
        case Some((k, _)) if k.size < fs.size =>
          val keepSet = k.map(_.rel).toSet
          files.filter(keepSet.contains)
        case _ => files
      }
  }

  @volatile private var runtimeKept: Seq[String] = initialKept
  @volatile private var kept: Seq[String] =
    truncate(selectTopN(initialKept))
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftScan ${meta.dir} v${meta.version} " +
      s"files=${kept.size}/$totalFiles dvFiles=${meta.dvFiles.size}" +
      limit.map(n => s" pushedLimit=$n").getOrElse("") +
      topN.map(t => s" pushedTopN=${t.column}:" +
        s"${if (t.desc) "desc" else "asc"}:${t.n}").getOrElse("")
  override def planInputPartitions(): Array[InputPartition] = {
    GraftScan.trace(s"[graft-debug] id=${System.identityHashCode(this)} " +
      s"planInputPartitions kept=${kept.size}")
    kept.map(rel => GraftInputPartition(s"${meta.dir}/$rel",
      relPath = rel, dvRefs = dvPlan.refsFor(rel),
      dvInline = dvPlan.inlineFor(rel))
      : InputPartition).toArray
  }
  // columnar (vectorized) decode whenever at least one column is
  // requested — deletion vectors apply INSIDE the vectorized reader
  // (per-batch selection view), so a trickle of tombstones no longer
  // demotes the scan to the row reader. The reader decodes by
  // PHYSICAL column name (the name in the file — logical positions
  // and types are preserved, so the emitted rows need no
  // re-projection).
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(
      ColumnMapping.physicalFor(required, meta.schema).json,
      columnar = required.nonEmpty,
      confSer = GraftDvReader.sessionConfSer())

  /** JOIN-DRIVEN file pruning ([[SupportsRuntimeV2Filtering]]): when
    * this table is the big side of a join whose other side is small
    * and selective, Spark's dynamic pruning hands the build side's key
    * values here AT RUNTIME (after the broadcast materializes) as
    * `IN`/`=` predicates — and the scan drops every file whose
    * [min, max] for that column can contain NONE of the live keys,
    * BEFORE any task launches. This is the dimension-filter→fact-file
    * pruning that makes a selective star join on a 100 TB fact table
    * read only the matching segments; planning-time pushdown can never
    * do it because the key set only exists once the dim side runs.
    * Same safety contract as stats pruning everywhere else: missing
    * stats or untranslatable predicates keep the file, and Spark
    * re-applies the join itself, so pruning is advisory.
    */
  override def filterAttributes(): Array[NamedReference] = {
    // only attributes present in THIS scan's output: Spark's dynamic
    // pruning resolves every listed attribute against the scan's
    // output and fails analysis on a miss (a projected-out column can
    // never receive a runtime filter anyway)
    val out = required.fieldNames.toSet
    if (out.contains(GraftTable.FileMetaCol) &&
        !meta.schema.fieldNames.contains(GraftTable.FileMetaCol))
      // `_file` rides as metadata exactly when this scan feeds a
      // row-level operation (UPDATE/DELETE/MERGE re-scan). Advertise
      // ONLY the file identity: it IS the copy-on-write group key, and
      // a single pruning key makes Spark's runtime group filter a
      // plain `_file IN (subquery)` — translatable to a V2 predicate
      // and answered by the exact-match prune below. Listing user
      // columns too would turn the filter into a multi-column
      // `named_struct(...) IN subquery`, which DSv2 can't translate,
      // so the re-scan would lose file pruning entirely.
      Array(Expressions.column(GraftTable.FileMetaCol))
    else
      meta.schema.fields.collect {
        case f if out.contains(f.name) &&
            GraftScan.runtimePrunable(f.dataType) =>
          Expressions.column(f.name)
      }
  }

  /** The files this scan will actually read, AFTER every runtime
    * filter and truncation — what the copy-on-write commit swaps out.
    */
  private[sources] def keptFiles: Seq[String] = kept

  override def filter(predicates: Array[Predicate]): Unit = {
    // GRAFT_DEBUG_RUNTIME_FILTER=1 traces runtime-filter delivery and
    // per-file pruning decisions — NOTE the rendered plan string is a
    // pre-filter copy (Spark re-plans the node), so this trace is the
    // honest observation of what the EXECUTED scan pruned
    predicates.foreach(p => GraftScan.trace(
      s"[graft-debug] runtime predicate: ${p.name()} -> $p"))
    val sets = predicates.toSeq.flatMap(GraftScan.toValueSet)
    if (sets.isEmpty) return
    // prune BEFORE limit truncation (a pushed limit and a runtime
    // join filter shouldn't co-occur — Spark never pushes a limit
    // through a join's probe side — but if they ever do, the
    // limit-sufficient prefix must be taken from the files that
    // survive the join keys, not the other way around)
    runtimeKept = BloomSkipping.withProbeBudget {
      runtimeKept.filter { rel =>
      !GraftScan.recordedEmpty(meta, rel) && sets.forall {
        case (GraftTable.FileMetaCol, values)
            if !meta.schema.fieldNames.contains(GraftTable.FileMetaCol) =>
          // file identity is EXACT, not a may-contain test — this is
          // the copy-on-write group filter (a USER column named _file
          // shadows the metadata column and takes the stats path)
          values.contains(s"${meta.dir}/$rel")
        case (column, values) =>
          // a runtime key survives the file if it passes BOTH the
          // [min, max] test and (when the column is digested) the
          // Bloom probe — on an unclustered key the range test keeps
          // everything and the digest does the real pruning
          val bloomEntry = meta.stats.get(rel)
            .flatMap(_.get(BloomSkipping.statKey(meta.physOf(column))))
            .filter(_ => meta.schema.fields.exists(fd =>
              fd.name == column && BloomSkipping.eligible(fd.dataType)))
          val rangeOk: String => Boolean =
            meta.stats.get(rel).flatMap(_.get(meta.physOf(column))) match {
              case Some((mn, mx)) => v =>
                try GraftScan.cmp(meta.schema, column)(mn, v) <= 0 &&
                  GraftScan.cmp(meta.schema, column)(v, mx) <= 0
                catch { case _: Exception => true }
              case None => _ => true // no stats — may contain anything
            }
          val keep = values.exists(v => rangeOk(v) && bloomEntry.forall {
            case (sidecar, scheme) =>
              BloomSkipping.mightContain(meta.dir, sidecar, scheme, v)
          })
          GraftScan.trace(s"[graft-debug] file=$rel col=$column " +
            s"bloomEntry=$bloomEntry keep=$keep")
          keep
      }
    }
    }
    kept = truncate(runtimeKept)
  }

  /** Post-pruning byte size from the surviving files' lengths — what
    * lets Catalyst AUTO-BROADCAST a selectively-probed managed table
    * in a join, exactly as it would a pruned parquet scan. Column
    * pruning isn't modeled (file bytes are whole-row), so the
    * estimate errs large — the safe direction for broadcast planning.
    * ROW COUNT comes from the manifest's live counts (file row count
    * minus its DV positions) when every surviving file records one —
    * the exact post-pruning cardinality, no sampling; any uncovered
    * file leaves the estimate empty rather than wrong.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val bytes = kept.map { rel =>
      val p = new HPath(s"${meta.dir}/$rel")
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    val rows =
      if (kept.forall(liveRows.contains))
        java.util.OptionalLong.of(kept.map(liveRows).sum)
      else java.util.OptionalLong.empty()
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(meta.dir,
      ColumnMapping.physicalFor(required, meta.schema).json,
      maxVersionsPerTrigger, ignoreChanges, startingVersion)
}

/** One pushed `ORDER BY column [ASC|DESC] [NULLS FIRST|LAST] LIMIT n`. */
private[graft] final case class GraftTopN(column: String, desc: Boolean,
    nullsFirst: Boolean, n: Int)

private[sources] object GraftScan {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftScan])

  /** Runtime-filter trace: opt-in via `GRAFT_DEBUG_RUNTIME_FILTER=1`
    * (emitted at INFO so the env flip alone surfaces it under Spark's
    * default logging config), otherwise available at DEBUG through the
    * logger — never stdout: the per-file pruning trace is tens of
    * thousands of lines on a large table.
    */
  private[sources] def trace(msg: => String): Unit =
    if (sys.env.contains("GRAFT_DEBUG_RUNTIME_FILTER")) log.info(msg)
    else if (log.isDebugEnabled) log.debug(msg)

  /** Columns eligible as runtime-filter attributes: the manifest
    * keeps stats for these types and their string render orders
    * exactly like the live value.
    */
  def runtimePrunable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | StringType => true
    // date/timestamp stats are recorded as epoch-day / epoch-micro
    // NUMERIC strings ([[WriteStats]]) and runtime
    // literals arrive as the same internal numerics — no calendar
    // rendering on either side, so no timezone/format hazard
    case DateType | TimestampType => true
    case _ => false
  }

  /** The STATS-side render of a filter value: date/timestamp external
    * types convert to the same epoch-day / epoch-micro numerics the
    * manifest records (timezone-free, format-free — the canonical
    * render a probe and a digest must agree on); everything else is
    * the plain string render the writer records.
    */
  def renderStatsValue(v: Any): String = v match {
    case t: java.sql.Timestamp =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaTimestamp(t).toString
    case i: java.time.Instant =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .instantToMicros(i).toString
    case d: java.sql.Date =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaDate(d).toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case other => String.valueOf(other)
  }

  /** Does the manifest RECORD this file as zero-row? (Parse failures
    * and absent entries answer false — never prune on uncertainty.)
    */
  def recordedEmpty(meta: GraftTableMeta, rel: String): Boolean =
    meta.stats.get(rel).flatMap(_.get(ManagedTable.RowsStat)).exists(p =>
      try p._1.toLong == 0L catch { case _: NumberFormatException => false })

  /** `(column, candidate values as strings)` of one runtime predicate;
    * Nil = untranslatable (ignored — no pruning from it).
    */
  def toValueSet(p: Predicate): Seq[(String, Seq[String])] = {
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case fr: NamedReference if fr.fieldNames.length == 1 =>
        Some(fr.fieldNames()(0))
      case _ => None
    }
    def litOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_]
          if l.value != null =>
        Some(l.value.toString) // UTF8String/Long/Int render verbatim
      case _ => None
    }
    p.name() match {
      case "IN" if p.children().length >= 2 =>
        (for {
          column <- fieldOf(p.children()(0))
          values <- Some(p.children().toSeq.drop(1).map(litOf))
          if values.forall(_.isDefined)
        } yield (column, values.flatten)).toSeq
      case "=" if p.children().length == 2 =>
        (for {
          column <- fieldOf(p.children()(0))
          value <- litOf(p.children()(1))
        } yield (column, Seq(value))).toSeq
      case _ => Nil
    }
  }

  /** The comparator the manifest stats are sound under — identical to
    * [[ManagedTable.planFilesMulti]]'s: UTF8 binary order for string
    * columns, exact numeric order otherwise.
    */
  def cmp(schema: StructType, column: String)(a: String, b: String): Int =
    if (schema.fields.exists(f =>
        f.name == column && f.dataType == StringType))
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    else new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
}

private[sources] final case class GraftInputPartition(absPath: String,
    // DV RESOLUTION, two tiers decided at plan time by the version's
    // TOTAL tombstone count vs [[GraftDvReader.InlineMaxRowsConf]]:
    //   - INLINE (small versions): `dvInline` carries this file's
    //     sorted skip positions directly — zero per-task sidecar IO;
    //   - REFS (bulk deletes): `dvRefs` names the version's DV parquet
    //     files and the reading TASK resolves its own positions with
    //     a pushed `relPath` predicate ([[GraftDvReader.positions]]) —
    //     the driver cost stays O(changed files) however large the
    //     delete, and each task reads only its own file's DV rows.
    relPath: String = null,
    dvRefs: Array[String] = null,
    dvInline: Array[Long] = null,
    // CHANGE-FEED fields (readChangeFeed streams only; inert — "" /
    // -1 / null — on every plain scan partition): the constant
    // `_change_type` / `_commit_version` / `_commit_timestamp` this
    // partition's rows carry. Delete partitions EMIT the newly
    // tombstoned preimages: `emitInline` when the planner resolved
    // new ∖ old inline, else executor-side as
    // positions(dvRefs) ∖ positions(oldDvRefs)
    changeType: String = "",
    commitVersion: Int = -1,
    commitMs: Long = -1L,
    oldDvRefs: Array[String] = null,
    emitInline: Array[Long] = null)
    extends InputPartition

/** `spark.readStream.format("graft")` — a managed table AS A STREAM of
  * its appended versions, the reading half of the table-streaming
  * contract whose writing half is [[ManagedTable.streamingSink]]
  * (Delta's streaming-table read re-expressed over this layout):
  *
  *   - **Offsets are table versions.** The offset log records the
  *     highest version whose files have been emitted; a micro-batch
  *     covers `(start, end]` and its partitions are exactly the DATA
  *     files those versions ADDED (manifest set-difference — planning
  *     is manifest metadata, never a directory listing).
  *   - **Exactly-once across restarts** comes from the pairing Spark
  *     already provides: the checkpointed offset log replays the same
  *     version range into [[planInputPartitions]], and manifests are
  *     immutable, so a replayed batch re-reads byte-identical files.
  *   - **Append-only discipline.** A version that DROPS data files
  *     (compaction, replaceWhere, restore, merge rewrite) is not
  *     representable as an append delta; the stream fails fast naming
  *     the version, unless `.option("ignoreChanges", true)` accepts
  *     Delta's documented relaxation (rewritten files re-emit their
  *     rows — downstream must tolerate duplicates). DV-only versions
  *     (deleteWhere) add no data files and emit nothing: this source
  *     streams APPENDS, not retractions — CDC-shaped consumption is
  *     [[ManagedTable.changes]] / the q152 change-data-feed tier.
  *   - **Admission control**: `.option("maxVersionsPerTrigger", n)`
  *     caps each micro-batch at n versions (the analogue of Delta's
  *     maxFilesPerTrigger), so a backfilled table drains in bounded
  *     batches instead of one giant initial snapshot; under
  *     Trigger.AvailableNow Spark drains batch-by-batch to the
  *     stream-start head and stops.
  *
  * The initial offset is version 0, so a first run emits the full
  * existing table (initial snapshot) before tailing new commits.
  */
private[sources] class GraftMicroBatchStream(dir: String,
    requiredJson: String, maxVersionsPerTrigger: Option[Int],
    ignoreChanges: Boolean, startingVersion: Option[String] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset => SOffset,
    ReadLimit}

  private def spark = SparkSession.active
  private def liveHead: Int =
    ManagedTable.versions(spark, dir).lastOption.getOrElse(0)

  // Trigger.AvailableNow contract: pin the drain target at trigger
  // start; every admission-controlled batch then advances toward THIS
  // head and the engine stops there, even if concurrent commits move
  // the live head meanwhile
  @volatile private var availableNowTarget: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(liveHead)
  private def head: Int =
    availableNowTarget.getOrElse(liveHead)

  /** A fresh stream starts just below the OLDEST RETAINED version and
    * consumes it as a FULL INITIAL SNAPSHOT (marked in the offset —
    * see [[GraftStreamOffset.initialSnapshot]]). For a never-vacuumed
    * table that is version 0 / plain semantics, byte-identical to the
    * original contract; after [[ManagedTable.vacuumHistory]] it is
    * what keeps fresh streams startable at all — version 1's manifest
    * is gone, but the oldest retained manifest IS the cumulative
    * snapshot of everything before it.
    *
    * `.option("startingVersion", n | "latest")` overrides the initial
    * snapshot (Delta's option of the same name): `n` consumes the
    * COMMITS from version n onward as deltas (n's predecessor manifest
    * must be retained, or the start fails fast like any vacuumed
    * offset; n = the oldest retained version streams it as a
    * snapshot); `"latest"` tails only commits made after the stream
    * starts.
    */
  override def initialOffset(): SOffset = {
    val vs = ManagedTable.versions(spark, dir)
    val head = vs.headOption.getOrElse(1)
    startingVersion match {
      case Some(s) if s.equalsIgnoreCase("latest") =>
        GraftStreamOffset(liveHead)
      case Some(s) =>
        val n = s.toIntOption.getOrElse(throw new IllegalArgumentException(
          s"graft streaming: startingVersion wants an integer or " +
            s"'latest', got '$s'"))
        require(n >= 1,
          s"graft streaming: startingVersion must be >= 1, got $n")
        // a start past the NEXT commit slot would silently tail
        // nothing forever — fail fast like every other invalid start
        // (n == liveHead + 1 is legal: tail from the next commit)
        require(n <= liveHead + 1,
          s"graft streaming: startingVersion $n is beyond the table " +
            s"head (current head ${liveHead}; the largest valid " +
            s"start is ${liveHead + 1}, which tails from the next " +
            "commit)")
        // n == oldest retained: its predecessor can never exist —
        // stream it as the snapshot base, same as a fresh start
        GraftStreamOffset(n - 1, initialSnapshot = n == head && n > 1)
      case None =>
        GraftStreamOffset(math.max(0, head - 1),
          initialSnapshot = head > 1)
    }
  }
  override def deserializeOffset(json: String): SOffset = {
    val t = json.trim
    if (t.endsWith("i"))
      GraftStreamOffset(t.dropRight(1).toInt, initialSnapshot = true)
    else GraftStreamOffset(t.toInt)
  }
  override def latestOffset(): SOffset = GraftStreamOffset(head)
  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())
  override def latestOffset(start: SOffset, limit: ReadLimit): SOffset = {
    val s = start.asInstanceOf[GraftStreamOffset].version
    val cap = maxVersionsPerTrigger
      .map(n => math.min(head, s + n)).getOrElse(head)
    GraftStreamOffset(math.max(s, cap))
  }
  override def reportLatestOffset(): SOffset = GraftStreamOffset(head)
  override def commit(end: SOffset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: SOffset, end: SOffset)
      : Array[InputPartition] = {
    val s0 = start.asInstanceOf[GraftStreamOffset]
    val e = end.asInstanceOf[GraftStreamOffset].version
    val adds = ((s0.version + 1) to e).flatMap { v =>
      versionAdds(v, ignoreChanges,
        snapshotBase = s0.initialSnapshot && v == s0.version + 1)
    }
    adds.map { case (abs, rel, dvRefs, dvInline) =>
      GraftInputPartition(abs, relPath = rel, dvRefs = dvRefs,
        dvInline = dvInline): InputPartition
    }.toArray
  }

  /** (absolute path, DV positions) of the data files version `v`
    * ADDED over `v-1` (`snapshotBase`: the initial-snapshot version of
    * a fresh stream — emitted whole, no predecessor, MINUS the rows
    * the base version's deletion vectors tombstone, so the snapshot a
    * fresh stream sees equals what `spark.read` of that version sees;
    * Delta's initial snapshot applies deletes the same way). Append
    * deltas carry no DV (appended files are never born tombstoned).
    * Fails fast on a non-append version unless relaxed, and on offsets
    * whose manifests [[ManagedTable.vacuumHistory]] dropped —
    * computing an append delta from a vacuumed predecessor would
    * silently re-emit or skip rows, so the stream names the remedy
    * instead.
    */
  private def versionAdds(v: Int, ignoreChanges: Boolean, snapshotBase: Boolean)
      : Seq[(String, String, Array[String], Array[Long])] = {
    val vs = ManagedTable.versions(spark, dir)
    def vacuumed(missing: Int): Nothing = throw new IllegalStateException(
      s"graft streaming: version $missing of $dir has been removed by " +
        "history retention (vacuumHistory) — this checkpoint predates " +
        "the horizon; restart the stream with a FRESH checkpoint (it " +
        s"will emit the oldest retained version ${vs.headOption
          .getOrElse(0)} as an initial snapshot and tail from there)")
    if (!vs.contains(v)) vacuumed(v)
    val (_, all, _, _) = ManagedTable.readManifest(spark, dir, v)
    val (files, dvFiles) = ManagedTable.splitDv(all)
    // the snapshot base is the one emission that can carry tombstones;
    // the two-tier DV plan (job-free under the inline cap) inlines
    // positions for a small version or ships refs for executor-side
    // per-task resolution ([[GraftDvReader]]); append deltas never
    // carry DV
    val dvp =
      if (!snapshotBase) GraftDvReader.DvPlan.Empty
      else GraftDvReader.DvPlan.resolve(spark, dir, dvFiles)
    val prev: Set[String] =
      if (v == 1 || snapshotBase) Set.empty
      else {
        if (!vs.contains(v - 1)) vacuumed(v - 1)
        val (_, pAll, _, _) = ManagedTable.readManifest(spark, dir, v - 1)
        ManagedTable.splitDv(pAll)._1.toSet
      }
    if (!ignoreChanges && !prev.subsetOf(files.toSet))
      throw new IllegalStateException(
        s"graft streaming: version $v of $dir rewrites or removes " +
          "data files (compaction/replaceWhere/restore/merge) and " +
          "cannot stream as an append; use ManagedTable.changes for " +
          "CDC-shaped consumption, or .option(\"ignoreChanges\", " +
          "true) to re-emit rewritten files")
    files.filterNot(prev.contains)
      .map(rel => (s"$dir/$rel", rel, dvp.refsFor(rel),
        dvp.inlineFor(rel)))
  }

  // micro-batches decode through the vectorized columnar path — a
  // DV-carrying initial snapshot included (the reader applies DV
  // positions through its per-batch selection view)
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(requiredJson,
      columnar = DataType.fromJson(requiredJson)
        .asInstanceOf[StructType].nonEmpty,
      confSer = GraftDvReader.sessionConfSer())
}

/** STREAMING CHANGE FEED ([[GraftTable.CdfOption]] — Delta's
  * `readChangeFeed`): the table as a stream of ROW-LEVEL CHANGES
  * instead of appended rows. Offsets, admission control, AvailableNow
  * pinning, startingVersion/startingTimestamp and the vacuum-horizon
  * guards are all inherited from the append stream — only what a
  * version EMITS differs. Per version, derived purely from manifest
  * metadata plus the deleted-rows-sized DV parquet:
  *
  *   - files ADDED → their rows as `insert` (minus any tombstones the
  *     same commit carries for them, so a replaceWhere emits exactly
  *     its replacement rows);
  *   - DV growth on CARRIED files → the newly tombstoned rows' last
  *     visible values as `delete`, via a POSITIONAL read of the data
  *     file ([[GraftPositionalReader]]): row groups holding no newly
  *     tombstoned position are skipped wholesale, reading stops after
  *     the last one — cost bounded by the tombstoned row groups'
  *     prefixes, never a table scan;
  *   - a version that REMOVES data files (copy-on-write UPDATE/MERGE,
  *     compaction, restore) fails fast: without keys a file swap is
  *     not attributable as row-level changes — the keyed batch diff
  *     ([[ManagedTable.changes]] / `CALL system.changes`) is the
  *     CDC surface for those.
  *
  * Each row carries `_change_type` / `_commit_version` /
  * `_commit_timestamp` (manifest commit wall-clock, as in
  * `system.history`). This is the live half of the CDF tier the
  * index-maintenance family (q184–q199) consumes in batch: an
  * incremental consumer keeps indexes/aggregates fresh from a
  * changes-scale stream instead of rescanning the table.
  */
private[sources] class GraftCdfScan(meta: GraftTableMeta,
    maxVersionsPerTrigger: Option[Int], startingVersion: Option[String])
    extends Scan {
  override def readSchema(): StructType =
    GraftTable.cdfSchema(meta.userSchema)
  override def description(): String =
    s"GraftCdfScan ${meta.dir} (change feed)"
  override def toBatch: Batch =
    throw new UnsupportedOperationException(
      "graft: readChangeFeed is a streaming read " +
        "(spark.readStream...); for a batch change diff use " +
        "ManagedTable.changes or CALL system.changes")
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftCdfMicroBatchStream(meta.dir,
      ColumnMapping.physicalFor(meta.userSchema, meta.schema).json,
      maxVersionsPerTrigger, startingVersion)
}

private[sources] class GraftCdfMicroBatchStream(dir: String,
    baseJson: String, maxVersionsPerTrigger: Option[Int],
    startingVersion: Option[String])
    extends GraftMicroBatchStream(dir, baseJson, maxVersionsPerTrigger,
      ignoreChanges = false, startingVersion) {

  private def cdfSpark = SparkSession.active

  private def vacuumedCdf(missing: Int): Nothing =
    throw new IllegalStateException(
      s"graft streaming: version $missing of $dir has been removed " +
        "by history retention (vacuumHistory) — this change-feed " +
        "checkpoint predates the horizon; restart with a fresh " +
        "checkpoint")

  private def commitMs(v: Int): Long = {
    val md = new HPath(dir, "_manifest")
    md.getFileSystem(cdfSpark.sessionState.newHadoopConf())
      .getFileStatus(new HPath(md, s"v$v.json")).getModificationTime
  }


  override def planInputPartitions(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      end: org.apache.spark.sql.connector.read.streaming.Offset)
      : Array[InputPartition] = {
    val s0 = start.asInstanceOf[GraftStreamOffset]
    val e = end.asInstanceOf[GraftStreamOffset].version
    ((s0.version + 1) to e).flatMap { v =>
      cdfVersion(v, snapshotBase = s0.initialSnapshot && v == s0.version + 1)
    }.toArray
  }

  /** The change partitions of ONE version — manifest set arithmetic
    * plus one [[GraftDvReader.DvPlan]] per side (O(changed files) on
    * the driver; a Spark job only for a bulk side). Positions take
    * the two-tier shipping path ([[GraftInputPartition]]): INLINE
    * when both sides' totals fit the
    * [[GraftDvReader.InlineMaxRowsConf]] cap (the planner
    * diffs new ∖ old itself, validates cumulativity up front, and
    * skips no-change files — zero per-task sidecar IO), else DV file
    * REFS with executor-side resolution — a bulk-delete version
    * (10⁸+ tombstones) plans in O(files) driver memory and its
    * tombstone rows distribute across the delete partitions' tasks.
    */
  private def cdfVersion(v: Int, snapshotBase: Boolean)
      : Seq[InputPartition] = {
    val spark = cdfSpark
    val vs = ManagedTable.versions(spark, dir)
    if (!vs.contains(v)) vacuumedCdf(v)
    val (_, all, _, _) = ManagedTable.readManifest(spark, dir, v)
    val (files, dvFiles) = ManagedTable.splitDv(all)
    val ms = commitMs(v)
    val newDvp = GraftDvReader.DvPlan.resolve(spark, dir, dvFiles)
    def insertPart(rel: String): InputPartition =
      GraftInputPartition(s"$dir/$rel", relPath = rel,
        dvRefs = newDvp.refsFor(rel), dvInline = newDvp.inlineFor(rel),
        changeType = "insert", commitVersion = v, commitMs = ms)
    // the snapshot base (fresh stream / oldest retained start) emits
    // the whole version as inserts, tombstones applied — exactly what
    // a batch read of that version sees, typed as the feed's inserts
    if (snapshotBase || v == 1) return files.map(insertPart)
    if (!vs.contains(v - 1)) vacuumedCdf(v - 1)
    val (_, pAll, _, _) = ManagedTable.readManifest(spark, dir, v - 1)
    val (pFiles, pDvFiles) = ManagedTable.splitDv(pAll)
    val pSet = pFiles.toSet
    val removed = pFiles.filterNot(files.toSet)
    if (removed.nonEmpty)
      throw new IllegalStateException(
        s"graft streaming: version $v of $dir removes or rewrites " +
          "data files (copy-on-write UPDATE/MERGE, compaction, " +
          "restore) — a file swap is not attributable as row-level " +
          "changes without keys; use ManagedTable.changes / CALL " +
          "system.changes for keyed CDC across it, or restart the " +
          "change feed past this version")
    val inserts = files.filterNot(pSet).map(insertPart)
    val oldDvp = GraftDvReader.DvPlan.resolve(spark, dir, pDvFiles)
    val carried = files.filter(pSet)
      .filter(rel =>
        newDvp.counts.contains(rel) || oldDvp.counts.contains(rel))
    val deletes: Seq[InputPartition] = (newDvp.inline, oldDvp.inline) match {
      case (Some(ndm), Some(odm)) =>
        // inline tier: diff + cumulativity check at plan time, same
        // contract as the executor path; no-change files skipped
        carried.flatMap { rel =>
          val nd = ndm.getOrElse(rel, Array.empty[Long])
          val od = odm.getOrElse(rel, Array.empty[Long])
          require(od.forall(x =>
            java.util.Arrays.binarySearch(nd, x) >= 0),
            s"graft streaming: version $v REMOVES deletion-vector " +
              s"tombstones on $rel without rewriting the file — not " +
              "a representable row-level change")
          val odSet = od.toSet
          val fresh = nd.filterNot(odSet)
          if (fresh.isEmpty) None
          else Some(GraftInputPartition(s"$dir/$rel", relPath = rel,
            changeType = "delete", commitVersion = v, commitMs = ms,
            emitInline = fresh): InputPartition)
        }
      case _ =>
        // refs tier: one delete partition per DV-touched carried file;
        // the task resolves both sides, validates cumulativity
        // (equal-count position swaps included — every DV-carrying
        // file gets a partition), and emits new ∖ old
        carried.map { rel =>
          GraftInputPartition(s"$dir/$rel", relPath = rel,
            dvRefs = newDvp.refs,
            changeType = "delete", commitVersion = v, commitMs = ms,
            oldDvRefs =
              if (oldDvp.counts.contains(rel)) oldDvp.refs else null)
            : InputPartition
        }
    }
    inserts ++ deletes
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCdfReaderFactory(baseJson, GraftDvReader.sessionConfSer())
}

/** Deletion-vector resolution for BOTH read paths. A read resolves its
  * version's DV ONCE, on the driver and with no Spark job for the
  * common small case ([[GraftDvReader.DvPlan]]); the connector's
  * readers then skip the positions while decoding, and every
  * [[ManagedTable]] scan filters them out in the scan with [[DvLive]].
  * Bulk versions resolve ONE data file's sorted tombstoned positions
  * executor-side, from the version's DV parquet with a pushed
  * `__file = <rel>` predicate (parquet filter2 — row-group stats,
  * dictionary, and record-level filtering), so each task touches only
  * its own file's rows of the deleted-rows-sized sidecar and driver
  * memory stays O(changed files) however large the delete.
  */
private[sources] object GraftDvReader {
  import org.apache.parquet.filter2.compat.FilterCompat
  import org.apache.parquet.filter2.predicate.FilterApi
  import org.apache.parquet.io.api.Binary

  /** Versions whose TOTAL tombstone count is at or under this inline
    * their positions into the plan (one bounded driver-side read —
    * ≤ ~800 KB of longs at the default, the size class where per-task
    * sidecar probes cost more than they save); versions beyond it
    * ship DV file refs and resolve executor-side. The cap is what
    * makes the driver cost BOUNDED, not table-shaped: a bulk delete
    * can never land whole on the driver.
    */
  val InlineMaxRowsConf = "spark.graft.dv.inlineMaxRows"
  private val DefaultInlineMaxRows = 100000L

  private def inlineMaxRows(spark: SparkSession): Long =
    spark.conf.getOption(InlineMaxRowsConf).map(_.toLong)
      .getOrElse(DefaultInlineMaxRows)

  /** The plan-time DV decision of one version. The driver reads the DV
    * parquet itself (parquet-mr under the session's Hadoop conf — no
    * Spark job), footers first. If the footers record at most `cap`
    * rows, every tombstone is read: sorted positions inline, counts
    * derived for free. Past the cap, the version is bulk and no row
    * is read on the driver: a per-file COUNT aggregation (one Spark
    * job — the only fact planning still needs) replaces positions,
    * and readers resolve their own file's rows from `refs`. Driver
    * memory is capped at `cap` rows either way. Equality is by VALUE — the counts,
    * then the inline positions or the refs — so two reads of one
    * version plan equal filters and a cached read is found again.
    */
  private[sources] final case class DvPlan(counts: Map[String, Long],
      inline: Option[Map[String, Array[Long]]], refs: Array[String]) {
    /** The DV files a reader of `rel` resolves itself: bulk tier, and
      * only for a tombstoned file; else null.
      */
    def refsFor(rel: String): Array[String] =
      if (inline.isEmpty && counts.contains(rel)) refs else null
    /** `rel`'s inline positions; null on the bulk tier or clean files. */
    def inlineFor(rel: String): Array[Long] =
      inline.flatMap(_.get(rel)).orNull
    /** `rel`'s sorted positions on either tier; `conf` opens the DV
      * files on the bulk tier only.
      */
    def positionsOf(rel: String, conf: => Configuration): Array[Long] =
      if (!counts.contains(rel)) Array.emptyLongArray
      else inline.fold(positions(refs, rel, conf))(_(rel))

    override def equals(o: Any): Boolean = o match {
      case p: DvPlan => (this eq p) || counts == p.counts &&
        ((inline, p.inline) match {
          case (Some(a), Some(b)) => a.forall { case (f, x) =>
            b.get(f).exists(java.util.Arrays.equals(x, _)) }
          case (None, None) => refs.sameElements(p.refs)
          case _ => false
        })
      case _ => false
    }
    override def hashCode: Int = counts.hashCode
    // plan strings (EXPLAIN, every execution's description) stay short
    override def toString: String =
      s"DvPlan(${counts.size} files, ${counts.values.sum} rows, " +
        s"${if (inline.isDefined) "inline" else "refs"})"
  }

  private[sources] object DvPlan {
    val Empty: DvPlan = DvPlan(Map.empty, Some(Map.empty), Array.empty)

    def resolve(spark: SparkSession, dir: String,
        dvFiles: Seq[String]): DvPlan =
      if (dvFiles.isEmpty) Empty
      else {
        val refs = dvFiles.map(p => s"$dir/$p").toArray
        readUpTo(refs, inlineMaxRows(spark),
          spark.sessionState.newHadoopConf()) match {
          case Some(m) =>
            DvPlan(m.map { case (f, a) => f -> a.length.toLong }, Some(m),
              refs)
          case None =>
            DvPlan(ManagedTable.dvRows(spark, dir, dvFiles)
              .groupBy("__file").count().collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap, None, refs)
        }
      }
  }

  /** Every file's sorted positions in the DV files `refs`, read on the
    * driver — or None, reading no row, when their footers record more
    * than `cap` rows. Each file is opened once, for both.
    */
  private def readUpTo(refs: Array[String], cap: Long,
      conf: Configuration): Option[Map[String, Array[Long]]] = {
    val files = scala.collection.mutable.ArrayBuffer.empty[ParquetFileReader]
    try {
      refs.foreach(p => files += openFile(p, conf))
      if (files.map(_.getRecordCount).sum > cap) None
      else {
        val byFile = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
        files.foreach { f =>
          val schema = f.getFooter.getFileMetaData.getSchema
          val io = new org.apache.parquet.io.ColumnIOFactory()
            .getColumnIO(schema)
          var rowGroup = f.readNextRowGroup()
          while (rowGroup != null) {
            val rows = io.getRecordReader(rowGroup,
              new org.apache.parquet.example.data.simple.convert
                .GroupRecordConverter(schema))
            var i = 0L
            while (i < rowGroup.getRowCount) {
              val g = rows.read()
              byFile.getOrElseUpdate(g.getString("__file", 0),
                new scala.collection.mutable.ArrayBuilder.ofLong) +=
                g.getLong("__pos", 0)
              i += 1
            }
            rowGroup = f.readNextRowGroup()
          }
        }
        Some(byFile.map { case (f, b) => f -> sortedUnique(b.result()) }
          .toMap)
      }
    } finally files.foreach(_.close())
  }

  /** The SESSION's Hadoop configuration wrapped for task shipping —
    * built driver-side at plan time and serialized into the reader
    * factory or the [[DvLive]] filter, so executor-side file opens
    * (data segments, DV sidecars) see object-store credentials and
    * filesystem overrides exactly as a `spark.read.parquet` task
    * would. A bare `new Configuration()` on the executor drops all of
    * it — the defect class the bloom sidecar writes fixed in round 13
    * ([[BloomSkipping.writeSidecarBytes]]); this closes it for reads.
    */
  private[sources] def sessionConfSer(
      spark: SparkSession = SparkSession.active)
      : org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())

  def positions(dvRefs: Array[String], relFile: String,
      conf: Configuration = new Configuration()): Array[Long] = {
    if (dvRefs == null || dvRefs.isEmpty) return Array.empty
    val pred = FilterApi.eq(FilterApi.binaryColumn("__file"),
      Binary.fromString(relFile))
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    dvRefs.foreach { path =>
      val r = groupReader(path, conf, FilterCompat.get(pred))
      try {
        var g = r.read()
        while (g != null) {
          buf += g.getLong(g.getType.getFieldIndex("__pos"), 0)
          g = r.read()
        }
      } finally r.close()
    }
    sortedUnique(buf.toArray)
  }

  /** A footer reader of one parquet file under `conf`. Passing the
    * read options keeps parquet-mr from building its defaults over a
    * `new Configuration()`, which parses the Hadoop default resources
    * on every open (14 ms each).
    */
  private[sources] def openFile(path: String,
      conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(path), conf),
      HadoopReadOptions.builder(conf).build())

  /** A row reader of one parquet file (a DV, or a data file for
    * [[GraftPartitionReader]]) under `conf`. It is built from a
    * `HadoopInputFile`, so parquet-mr takes its read options — the
    * read schema included — from `conf`: the `Path` builder first
    * makes a `new Configuration()` and parses the Hadoop default
    * resources for it, 14 ms per open, against the microseconds a
    * DV's rows take.
    */
  private[sources] def groupReader(path: String, conf: Configuration,
      filter: FilterCompat.Filter = FilterCompat.NOOP): ParquetReader[Group] =
    new ParquetReader.Builder[Group](
        HadoopInputFile.fromPath(new HPath(path), conf)) {
      override protected def getReadSupport(): ReadSupport[Group] =
        new GroupReadSupport()
    }.withFilter(filter).build()

  /** `a` sorted, in place, with duplicates dropped. deleteWhere and
    * replaceWhere collapse the DV into one duplicate-free union
    * segment today, but nothing in the format forbids a position
    * appearing in two DV files of one version — and
    * [[GraftPositionalReader]]'s catch-up walk emits the WRONG row
    * (the one after the target) on a duplicate target. Uniqueness is
    * enforced here, where both tiers resolve positions.
    */
  private def sortedUnique(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (n == 0 || a(n - 1) != a(i)) { a(n) = a(i); n += 1 }
      i += 1
    }
    if (n == a.length) a else java.util.Arrays.copyOf(a, n)
  }

  /** The partition's skip positions: inline when the planner shipped
    * them (small-version fast path — no per-task sidecar IO), else
    * resolved here from the refs; empty when the file carries no DV.
    */
  def skipPositions(p: GraftInputPartition, conf: Configuration)
      : Array[Long] =
    if (p.dvInline != null) p.dvInline
    else if (p.dvRefs == null) Array.empty
    else positions(p.dvRefs, p.relPath, conf)
}

/** TRUE for a LIVE row of a [[ManagedTable.scanFiles]] scan under a
  * version's deletion vector: the in-scan DV filter of every
  * [[ManagedTable]] read, `filter(DvLive(_metadata.file_path,
  * _metadata.row_index))` — no join, no broadcast, no extra Spark
  * job. Rows arrive in per-file runs, so each file's positions are
  * looked up once per run: in the plan on the inline tier, or
  * resolved right here, on the executor, with
  * [[GraftDvReader.positions]] under the session's Hadoop `conf` on
  * the bulk tier (`conf` is null on the inline tier and takes no part
  * in equality, so equal reads still plan equal filters).
  */
private[sources] final case class DvLive(filePath: Expression,
    rowIndex: Expression, plan: GraftDvReader.DvPlan)(
    conf: org.apache.spark.util.SerializableConfiguration)
    extends BinaryExpression {
  override def left: Expression = filePath
  override def right: Expression = rowIndex
  override def dataType: DataType = BooleanType
  override protected def otherCopyArgs: Seq[AnyRef] = conf :: Nil

  // (file path, its positions) of the current run of rows
  @transient @volatile private var run: (UTF8String, Array[Long]) = _

  def live(path: UTF8String, pos: Long): Boolean = {
    var r = run
    if (r == null || r._1 != path) {
      r = (path.clone(), plan.positionsOf(
        ManagedTable.relOf(path.toString), conf.value))
      run = r
    }
    java.util.Arrays.binarySearch(r._2, pos) < 0
  }

  override protected def nullSafeEval(path: Any, pos: Any): Any =
    live(path.asInstanceOf[UTF8String], pos.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("dvLive", this)
    defineCodeGen(ctx, ev, (path, pos) => s"$self.live($path, $pos)")
  }
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DvLive = copy(newLeft, newRight)(conf)
}

private[sources] object DvLive {
  /** The DV filter of a `scanFiles` frame: true for its live rows. */
  def column(spark: SparkSession, plan: GraftDvReader.DvPlan)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(DvLive(
      ColumnBridge.expression(col("_metadata.file_path")),
      ColumnBridge.expression(col("_metadata.row_index")), plan)(
      if (plan.inline.isDefined) null
      else GraftDvReader.sessionConfSer(spark)))
  }
}

/** Change-feed decode. Insert partitions are the plain row reader
  * with executor-resolved skip positions; DELETE partitions resolve
  * BOTH versions' positions for their file, validate that tombstones
  * only ever accumulate, and drive a positional read
  * ([[GraftPositionalReader]] — row groups without a newly tombstoned
  * position are skipped wholesale, and reading stops after the last
  * one) that emits exactly the fresh preimages. Every row is joined
  * with the partition's constant CDF metadata columns.
  */
private[sources] class GraftCdfReaderFactory(baseJson: String,
    confSer: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    val base = DataType.fromJson(baseJson).asInstanceOf[StructType]
    val conf = confSer.value
    val inner: PartitionReader[InternalRow] =
      if (p.changeType == "delete") {
        val fresh =
          if (p.emitInline != null) p.emitInline // planner pre-diffed
          else {
            val nd = GraftDvReader.positions(p.dvRefs, p.relPath, conf)
            val od = GraftDvReader.positions(p.oldDvRefs, p.relPath, conf)
            // tombstones are cumulative (deleteWhere unions); a
            // position leaving the DV without a file swap has no
            // change-feed meaning — fail the stream, same contract
            // the inline tier enforces at plan time
            require(od.forall(x =>
              java.util.Arrays.binarySearch(nd, x) >= 0),
              s"graft streaming: version ${p.commitVersion} REMOVES " +
                s"deletion-vector tombstones on ${p.relPath} without " +
                "rewriting the file — not a representable row-level " +
                "change")
            val odSet = od.toSet
            nd.filterNot(odSet)
          }
        new GraftPositionalReader(p.absPath, base, fresh, conf)
      } else new GraftPartitionReader(p.absPath, base,
        GraftDvReader.skipPositions(p, conf), conf)
    new GraftCdfProjectReader(inner,
      UTF8String.fromString(p.changeType), p.commitVersion,
      p.commitMs * 1000L)
  }
}

/** Append the constant `_change_type`/`_commit_version`/
  * `_commit_timestamp` cells to every row of the inner reader.
  */
private[sources] class GraftCdfProjectReader(
    inner: PartitionReader[InternalRow], changeType: UTF8String,
    version: Int, tsMicros: Long)
    extends PartitionReader[InternalRow] {
  private val joined =
    new org.apache.spark.sql.catalyst.expressions.JoinedRow()
  private val consts = new GenericInternalRow(
    Array[Any](changeType, version.toLong, tsMicros))
  override def next(): Boolean = inner.next()
  override def get(): InternalRow = joined(inner.get(), consts)
  override def close(): Unit = inner.close()
}

/** NOT a case class: the connector Offset base compares BY JSON,
  * which is what lets the engine equate a deserialized
  * `SerializedOffset` from the offset log with a live instance — a
  * case-class `equals` would break that bridge (observed as
  * AvailableNow stopping after one micro-batch).
  *
  * `initialSnapshot` (json suffix `i`) marks the fresh-stream start
  * offset of a history-vacuumed table: the NEXT version is consumed
  * as a full snapshot (no predecessor manifest needed). The marker
  * rides in the json so a crash-replayed batch 0 keeps snapshot
  * semantics, while a PRE-vacuum checkpoint (plain json) can never be
  * misread as one — its resume fails fast instead of double-emitting.
  */
private[sources] final class GraftStreamOffset(val version: Int,
    val initialSnapshot: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    if (initialSnapshot) s"${version}i" else version.toString
}
private[sources] object GraftStreamOffset {
  def apply(version: Int, initialSnapshot: Boolean = false): GraftStreamOffset =
    new GraftStreamOffset(version, initialSnapshot)
}

private[sources] class GraftReaderFactory(requiredJson: String,
    columnar: Boolean = false,
    confSer: org.apache.spark.util.SerializableConfiguration = null)
    extends PartitionReaderFactory {
  // specs construct the factory directly without a session conf; a
  // production `createReaderFactory` always ships the session's
  private def conf: Configuration =
    if (confSer != null) confSer.value else new Configuration()

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    val c = conf
    new GraftPartitionReader(p.absPath,
      DataType.fromJson(requiredJson).asInstanceOf[StructType],
      GraftDvReader.skipPositions(p, c), c)
  }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    val c = conf
    new GraftColumnarPartitionReader(p.absPath,
      DataType.fromJson(requiredJson).asInstanceOf[StructType],
      GraftDvReader.skipPositions(p, c), c)
  }
}

/** VECTORIZED decode of one data file — Spark's own
  * [[org.apache.spark.sql.execution.datasources.parquet
  * .VectorizedParquetRecordReader]] (the engine under every
  * `spark.read.parquet`) driving the scan as [[org.apache.spark.sql
  * .vectorized.ColumnarBatch]]es, so `format("graft")` wide scans
  * decode at the same per-byte cost as [[ManagedTable.read]] instead
  * of the row-oriented Group API's. Requested columns absent from a
  * pre-evolution segment — and the `_file` metadata column — ride as
  * zero-copy
  * [[org.apache.spark.sql.execution.vectorized.ConstantColumnVector]]s
  * next to the decoded ones, permuted into the exact requested order
  * (the batch is a thin view over the reader's vectors — no copy).
  *
  * Deletion vectors stay columnar: a batch whose file-order row range
  * intersects `dvPositions` is served through a SELECTION view
  * ([[GraftSelectionColumnVector]] — getters remap output ordinal →
  * surviving inner ordinal via a per-batch int map; no data copied),
  * while DV-free batches (the overwhelming majority of a trickle-
  * delete table) take the untouched direct path. One tombstone no
  * longer demotes a 100 TB scan to the row-at-a-time Group reader.
  */
private[sources] class GraftColumnarPartitionReader(absPath: String,
    required: StructType, dvPositions: Array[Long] = Array.empty,
    baseConf: Configuration = new Configuration())
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
  import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val Capacity = 4096

  private val fileSchema: MessageType = {
    val fr = GraftDvReader.openFile(absPath, baseConf)
    try fr.getFooter.getFileMetaData.getSchema finally fr.close()
  }
  private val present: Array[StructField] =
    required.fields.filter(f => fileSchema.containsField(f.name))

  // rebase modes pinned CORRECTED/UTC for BOTH datetime and INT96 so
  // the columnar decode of timestamps agrees exactly with the row
  // reader's fromJulianDay / raw-micros arithmetic at every epoch.
  // CONNECTOR BOUNDARY CONTRACT: graft's own writers (Spark's parquet
  // writer under this session) never emit LEGACY (hybrid Julian/
  // Gregorian) rebased files, so the footer's rebase metadata is not
  // consulted. A FOREIGN parquet file written in LEGACY mode would
  // decode pre-1582 timestamps shifted — if such files ever enter a
  // managed segment directory out-of-band, read them through
  // spark.read.parquet (which honors the footer keys), not this
  // connector.
  private val reader = new VectorizedParquetRecordReader(
    null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, Capacity)
  private val inner: ColumnarBatch =
    try {
      // a fully-pruned projection (every requested column missing from
      // this segment) still needs ONE decoded column to drive the row
      // count — same dummy-column rule as the row reader; prefer a
      // scalar field (exact file-side type known), fall back to the
      // first field for all-complex segments
      val fields: Seq[StructField] =
        if (present.nonEmpty) present.toSeq.map { f =>
          StructField(f.name, GraftPartitionReader.fileScalarType(
            fileSchema.getType(fileSchema.getFieldIndex(f.name)))
            .getOrElse(f.dataType))
        } else (0 until fileSchema.getFieldCount)
          .map(fileSchema.getFields.get(_))
          .flatMap(t => GraftPartitionReader.fileScalarType(t)
            .map(dt => StructField(t.getName, dt)).toSeq)
          .take(1)
      if (fields.nonEmpty) {
        // PRODUCTION initialize route (split + context): the schema
        // converter then honors INT96-as-timestamp and DATE columns —
        // the convenience (path, columns) overload hardcodes
        // int96AsTimestamp=false and refuses timestamp segments
        val conf = new Configuration(baseConf) // clone before mutating
        conf.setBoolean("spark.sql.parquet.binaryAsString", false)
        conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
        conf.setBoolean("spark.sql.caseSensitive", false)
        conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled",
          false)
        conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
        conf.set("org.apache.spark.sql.parquet.row.requested_schema",
          StructType(fields.toArray).json)
        conf.set("parquet.read.support.class",
          classOf[org.apache.spark.sql.execution.datasources.parquet
            .ParquetReadSupport].getName)
        val path = new HPath(absPath)
        val len = path.getFileSystem(conf).getFileStatus(path).getLen
        // mapred.FileSplit extends the mapreduce one in Hadoop 3 and
        // is the concrete type the reader base casts to
        val split = new org.apache.hadoop.mapred.FileSplit(
          path, 0, len, Array.empty[String])
        reader.initialize(split,
          new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
            conf, new org.apache.hadoop.mapreduce.TaskAttemptID()))
      } else
        // all-complex segment with a fully-pruned projection: the
        // legacy overload types the dummy from the file directly
        reader.initialize(absPath,
          java.util.List.of(fileSchema.getFields.get(0).getName))
      reader.initBatch(new StructType(), InternalRow.empty)
      reader.enableReturningBatches()
      reader.resultBatch()
    } catch { case e: Throwable => reader.close(); throw e }

  private val batch: ColumnarBatch = {
    val presentIdx = present.map(_.name).zipWithIndex.toMap
    val vectors: Array[ColumnVector] = required.fields.map { f =>
      presentIdx.get(f.name) match {
        case Some(i) =>
          // a pre-widening segment stores the NARROW type under a
          // now-wider manifest column: answer the wide getters from
          // the narrow vector, zero copy (the columnar half of
          // metadata-only ALTER COLUMN … TYPE)
          val fileT = GraftPartitionReader.fileScalarType(
            fileSchema.getType(fileSchema.getFieldIndex(f.name)))
          fileT match {
            case Some(ft) if ft != f.dataType &&
                ManagedTable.widenable(ft, f.dataType) =>
              new GraftWideningColumnVector(inner.column(i), ft,
                f.dataType)
            case _ => inner.column(i)
          }
        case None =>
          val cv = new ConstantColumnVector(Capacity, f.dataType)
          if (f.name == GraftTable.FileMetaCol)
            cv.setUtf8String(UTF8String.fromString(absPath))
          else cv.setNull() // column absent from this segment
          cv
      }
    }
    new ColumnarBatch(vectors)
  }

  // ---- deletion-vector selection tier (built only when DVs exist) --
  // `sel` maps output ordinal -> surviving inner ordinal for the
  // CURRENT batch; `selBatch` wraps every positional vector of `batch`
  // in a view that answers through that map. ConstantColumnVectors are
  // position-independent and ride unwrapped.
  private val sel: Array[Int] =
    if (dvPositions.isEmpty) null else new Array[Int](Capacity)
  private val selBatch: ColumnarBatch =
    if (dvPositions.isEmpty) null
    else new ColumnarBatch(Array.tabulate(required.length) { i =>
      batch.column(i) match {
        case c: ConstantColumnVector => c
        case v => new GraftSelectionColumnVector(v, sel)
      }
    })
  private var selCount = 0
  private var selected = false // current batch served through selBatch
  private var baseRow = 0L // file-order index of the batch's first row

  override def next(): Boolean = {
    while (reader.nextBatch()) {
      val n = inner.numRows()
      if (dvPositions.isEmpty) return true
      val lo = baseRow
      baseRow += n
      // first DV position at or after this batch's range
      var d = java.util.Arrays.binarySearch(dvPositions, lo)
      if (d < 0) d = -d - 1
      if (d >= dvPositions.length || dvPositions(d) >= lo + n) {
        selected = false // no tombstone in range: direct path
        return true
      }
      selCount = 0
      var i = 0
      while (i < n) {
        if (d < dvPositions.length && dvPositions(d) == lo + i) d += 1
        else { sel(selCount) = i; selCount += 1 }
        i += 1
      }
      if (selCount > 0) { selected = true; return true }
      // every row of this batch tombstoned: fall through to the next
    }
    false
  }

  override def get(): ColumnarBatch =
    if (selected) { selBatch.setNumRows(selCount); selBatch }
    else { batch.setNumRows(inner.numRows()); batch }

  override def close(): Unit = reader.close()
}

/** Zero-copy SELECTION view over a decoded vector: getters remap the
  * output ordinal through the reader-owned survivor map (`sel(i)` =
  * surviving inner ordinal), which is how deletion vectors apply
  * INSIDE the vectorized path — O(survivors) ints per batch, no
  * column data copied. For struct columns [[getChild]] re-wraps the
  * child with the SAME map (a `ColumnarRow` reads children by the
  * parent's row id); arrays/maps need no child wrapping because their
  * offsets are read via the already-remapped [[getArray]]/[[getMap]].
  * `hasNull`/`numNulls` delegate (conservative over-report is safe —
  * Spark uses them only to pick the null-checking decode path).
  */
private[sources] class GraftSelectionColumnVector(
    inner: org.apache.spark.sql.vectorized.ColumnVector,
    sel: Array[Int])
    extends org.apache.spark.sql.vectorized.ColumnVector(inner.dataType) {
  override def isNullAt(i: Int): Boolean = inner.isNullAt(sel(i))
  override def hasNull: Boolean = inner.hasNull
  override def numNulls(): Int = inner.numNulls()
  override def getBoolean(i: Int): Boolean = inner.getBoolean(sel(i))
  override def getByte(i: Int): Byte = inner.getByte(sel(i))
  override def getShort(i: Int): Short = inner.getShort(sel(i))
  override def getInt(i: Int): Int = inner.getInt(sel(i))
  override def getLong(i: Int): Long = inner.getLong(sel(i))
  override def getFloat(i: Int): Float = inner.getFloat(sel(i))
  override def getDouble(i: Int): Double = inner.getDouble(sel(i))
  override def getUTF8String(i: Int): UTF8String =
    inner.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = inner.getBinary(sel(i))
  override def getDecimal(i: Int, p: Int, s: Int)
      : org.apache.spark.sql.types.Decimal =
    inner.getDecimal(sel(i), p, s)
  override def getInterval(i: Int)
      : org.apache.spark.unsafe.types.CalendarInterval =
    inner.getInterval(sel(i))
  override def getArray(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarArray =
    inner.getArray(sel(i))
  override def getMap(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarMap = inner.getMap(sel(i))
  private lazy val children =
    new java.util.concurrent.ConcurrentHashMap[Integer,
      GraftSelectionColumnVector]()
  override def getChild(i: Int)
      : org.apache.spark.sql.vectorized.ColumnVector =
    children.computeIfAbsent(i,
      o => new GraftSelectionColumnVector(inner.getChild(o), sel))
  // ColumnarToRowExec calls closeIfFreeable() after EVERY consumed
  // batch; the base class routes it to close(). This view is reused
  // across batches over reader-owned buffers — freeing here would
  // tear down the parquet reader's vectors mid-stream (same no-op
  // contract as WritableColumnVector).
  override def closeIfFreeable(): Unit = ()
  override def close(): Unit = inner.close()
}

/** A zero-copy WIDENING view over a narrower decoded vector: the wide
  * getters ([[getLong]]/[[getDouble]]/…) answer from the file-typed
  * inner vector, so a pre-widening INT32 segment serves a BIGINT
  * column at full vectorized speed — the columnar half of
  * metadata-only `ALTER COLUMN … TYPE` ([[ManagedTable.widenColumn]]).
  * Only the [[ManagedTable.widenable]] pairs are constructed, so the
  * getter matrix below is total for every reachable (from, to).
  */
private[sources] class GraftWideningColumnVector(
    inner: org.apache.spark.sql.vectorized.ColumnVector,
    from: DataType, to: DataType)
    extends org.apache.spark.sql.vectorized.ColumnVector(to) {
  private def narrowLong(i: Int): Long = from match {
    case ByteType => inner.getByte(i).toLong
    case ShortType => inner.getShort(i).toLong
    case IntegerType => inner.getInt(i).toLong
    case _ => inner.getLong(i)
  }
  override def getLong(i: Int): Long = narrowLong(i)
  override def getInt(i: Int): Int = narrowLong(i).toInt
  override def getShort(i: Int): Short = narrowLong(i).toShort
  override def getByte(i: Int): Byte = inner.getByte(i)
  override def getDouble(i: Int): Double = from match {
    case FloatType => inner.getFloat(i).toDouble
    case _ => inner.getDouble(i)
  }
  override def getFloat(i: Int): Float = inner.getFloat(i)
  override def getBoolean(i: Int): Boolean = inner.getBoolean(i)
  override def isNullAt(i: Int): Boolean = inner.isNullAt(i)
  override def hasNull: Boolean = inner.hasNull
  override def numNulls(): Int = inner.numNulls()
  override def getUTF8String(i: Int): UTF8String = inner.getUTF8String(i)
  override def getBinary(i: Int): Array[Byte] = inner.getBinary(i)
  override def getArray(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarArray = inner.getArray(i)
  override def getMap(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarMap = inner.getMap(i)
  override def getDecimal(i: Int, p: Int, s: Int)
      : org.apache.spark.sql.types.Decimal = inner.getDecimal(i, p, s)
  override def getInterval(i: Int)
      : org.apache.spark.unsafe.types.CalendarInterval =
    inner.getInterval(i)
  override def getChild(i: Int)
      : org.apache.spark.sql.vectorized.ColumnVector = inner.getChild(i)
  // reused across batches over reader-owned buffers — see
  // GraftSelectionColumnVector.closeIfFreeable
  override def closeIfFreeable(): Unit = ()
  override def close(): Unit = inner.close()
}

/** Row-level parquet decode of ONE data file against the manifest
  * schema: requested columns present in the file are projected at the
  * parquet layer; absent ones (pre-evolution segments) null-fill; DV
  * positions are skipped by the file-order row index (exactly
  * `_metadata.row_index` — no row-group or page filtering is
  * configured, so decode order IS file order).
  */
/** Group → InternalRow decode of one file under a requested schema —
  * the projection/widening/absent-column logic shared by the
  * sequential row reader ([[GraftPartitionReader]]) and the
  * positional reader ([[GraftPositionalReader]]), so both decode
  * byte-identically.
  */
private[sources] final class GroupDecoder(absPath: String,
    required: StructType, fileSchema: MessageType) {

  // requested fields present in this file, in requested order
  private val present: Array[StructField] =
    required.fields.filter(f => fileSchema.containsField(f.name))
  private val presentNames = present.map(_.name).toSet
  // decode by the FILE's type, upcast to the requested one — what
  // makes ALTER COLUMN … TYPE (type widening) metadata-only: a
  // pre-widening segment stores INT32 under a now-BIGINT column
  private val decodeTypes: Array[DataType] = present.map { f =>
    GraftPartitionReader
      .fileScalarType(fileSchema.getType(fileSchema.getFieldIndex(f.name)))
      .filter(ft => ft != f.dataType &&
        ManagedTable.widenable(ft, f.dataType))
      .getOrElse(f.dataType)
  }

  // a projection must be non-empty: for a fully-pruned read (e.g.
  // count(*), or all requested columns missing from this segment)
  // decode the file's narrowest-by-position first column purely to
  // drive the record count
  val proj: MessageType =
    if (present.nonEmpty)
      new MessageType(fileSchema.getName,
        present.map(f =>
          fileSchema.getType(fileSchema.getFieldIndex(f.name))).toSeq
          .asJava)
    else new MessageType(fileSchema.getName,
      java.util.List.of(fileSchema.getFields.get(0)))

  private val fileMeta = UTF8String.fromString(absPath)

  def decode(current: Group): InternalRow = {
    val out = new Array[Any](required.length)
    var gi = 0 // field index within the projected group
    var i = 0
    while (i < required.length) {
      val f = required.fields(i)
      if (presentNames.contains(f.name)) {
        out(i) =
          if (current.getFieldRepetitionCount(gi) == 0) null
          else GraftPartitionReader.widen(
            GraftPartitionReader.value(current, gi, decodeTypes(gi)),
            f.dataType)
        gi += 1
      } else if (f.name == GraftTable.FileMetaCol) {
        out(i) = fileMeta // the _file metadata column (COW group id)
      } // else: column absent from this segment — stays null
      i += 1
    }
    new GenericInternalRow(out)
  }
}

private[sources] class GraftPartitionReader(absPath: String,
    required: StructType, dvPositions: Array[Long],
    baseConf: Configuration = new Configuration())
    extends PartitionReader[InternalRow] {

  // CLONE before mutating: baseConf may be the factory's shared
  // session conf, and this reader sets a per-file read schema on it
  private val conf = new Configuration(baseConf)

  private val fileSchema: MessageType = {
    val fr = GraftDvReader.openFile(absPath, conf)
    try fr.getFooter.getFileMetaData.getSchema finally fr.close()
  }

  private val decoder = new GroupDecoder(absPath, required, fileSchema)

  private val reader: ParquetReader[Group] = {
    conf.set(ReadSupport.PARQUET_READ_SCHEMA, decoder.proj.toString)
    GraftDvReader.groupReader(absPath, conf)
  }

  private var pos: Long = -1L
  private var current: Group = _

  override def next(): Boolean = {
    var g = reader.read()
    pos += 1
    while (g != null &&
        java.util.Arrays.binarySearch(dvPositions, pos) >= 0) {
      g = reader.read()
      pos += 1
    }
    current = g
    g != null
  }

  override def get(): InternalRow = decoder.decode(current)

  override def close(): Unit = reader.close()
}

/** POSITIONAL decode: emit EXACTLY the listed (sorted) file positions
  * — the reader behind change-feed delete partitions (the newly
  * tombstoned rows' preimages). Physical cost is bounded by where the
  * positions land, not by the file: row groups containing no listed
  * position are skipped WHOLESALE (their column chunks are never
  * fetched — footer row counts alone place each position), reading
  * within a group stops after its last listed position, and the
  * reader stops entirely after the last position overall. A sparse
  * late-file delete therefore reads one row group's prefix, not the
  * whole file. (Within a kept group the walk is sequential — parquet
  * record assembly has no random row seek; page-level skipping would
  * need page indexes, which the writer does not emit.)
  */
private[sources] class GraftPositionalReader(absPath: String,
    required: StructType, emit: Array[Long],
    conf: Configuration = new Configuration())
    extends PartitionReader[InternalRow] {
  import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
  import org.apache.parquet.io.ColumnIOFactory

  // targets must be strictly increasing: a duplicate would skip the
  // catch-up walk and silently emit the FOLLOWING row. positions()
  // dedupes ref-resolved vectors; this guards the inline path too.
  require(emit.length <= 1 ||
    (1 until emit.length).forall(i => emit(i) > emit(i - 1)),
    s"graft positional read: emit positions not strictly increasing " +
      s"for $absPath")

  private val fileReader = GraftDvReader.openFile(absPath, conf)
  private val fileSchema: MessageType =
    fileReader.getFooter.getFileMetaData.getSchema
  private val decoder = new GroupDecoder(absPath, required, fileSchema)
  fileReader.setRequestedSchema(decoder.proj)
  private val blocks = fileReader.getFooter.getBlocks

  // observability for specs/telemetry: row groups actually fetched
  // and records actually assembled — the proof the skip works
  private[sources] var groupsRead: Int = 0
  private[sources] var rowsDecoded: Long = 0L

  private var emitIdx = 0
  private var nextBlock = 0     // next unconsumed row group
  private var blockStart = 0L   // global row offset of current group
  private var rowInBlock = 0L   // rows already read from current group
  private var blockRows = 0L
  private var recordReader
      : org.apache.parquet.io.RecordReader[Group] = _
  private var current: Group = _

  override def next(): Boolean = {
    if (emitIdx >= emit.length) return false
    val target = emit(emitIdx)
    // advance to the row group containing `target`, skipping whole
    // groups (no column-chunk IO) that hold no wanted position
    while (recordReader == null || target >= blockStart + blockRows) {
      if (recordReader != null) { // current group exhausted of targets
        blockStart += blockRows
        recordReader = null
      }
      if (nextBlock >= blocks.size()) return false // positions past EOF
      val rows = blocks.get(nextBlock).getRowCount
      if (target >= blockStart + rows) {
        fileReader.skipNextRowGroup()
        blockStart += rows
      } else {
        val pages = fileReader.readNextRowGroup()
        groupsRead += 1
        recordReader = new ColumnIOFactory()
          .getColumnIO(decoder.proj, fileSchema)
          .getRecordReader(pages, new GroupRecordConverter(decoder.proj))
        blockRows = rows
        rowInBlock = 0L
      }
      nextBlock += 1
    }
    // sequential walk within the group up to the target position
    while (blockStart + rowInBlock < target) {
      recordReader.read(); rowsDecoded += 1; rowInBlock += 1
    }
    current = recordReader.read()
    rowsDecoded += 1; rowInBlock += 1
    emitIdx += 1
    true
  }

  override def get(): InternalRow = decoder.decode(current)

  override def close(): Unit = fileReader.close()
}

private[sources] object GraftPartitionReader {
  /** The Spark type a parquet SCALAR field decodes as — `None` for
    * groups (arrays) and exotic annotations. Drives the
    * file-vs-manifest type comparison of the widening tier.
    */
  def fileScalarType(t: org.apache.parquet.schema.Type)
      : Option[DataType] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    if (!t.isPrimitive) return None
    t.asPrimitiveType().getPrimitiveTypeName match {
      case INT32 => t.getLogicalTypeAnnotation match {
        case a: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
          a.getBitWidth match {
            case 8 => Some(ByteType)
            case 16 => Some(ShortType)
            case _ => Some(IntegerType)
          }
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
          Some(DateType)
        case null => Some(IntegerType)
        case _ => None
      }
      case INT64 if t.getLogicalTypeAnnotation == null ||
          t.getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] =>
        Some(LongType)
      case INT64 if t.getLogicalTypeAnnotation.isInstanceOf[
            LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] &&
          t.getLogicalTypeAnnotation.asInstanceOf[
            LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
            .isAdjustedToUTC =>
        Some(TimestampType)
      // Spark's default parquet timestamp encoding (outputTimestampType
      // INT96): instant semantics, decoded to micros by both readers
      case INT96 => Some(TimestampType)
      case FLOAT => Some(FloatType)
      case DOUBLE => Some(DoubleType)
      case BOOLEAN => Some(BooleanType)
      case BINARY =>
        if (t.getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation])
          Some(StringType)
        else Some(BinaryType)
      case _ => None
    }
  }

  /** Upcast one decoded value to the manifest's (possibly wider)
    * type — identity when the file already stores the wide type.
    */
  def widen(v: Any, to: DataType): Any = (v, to) match {
    case (null, _) => null
    case (b: Byte, ShortType) => b.toShort
    case (b: Byte, IntegerType) => b.toInt
    case (b: Byte, LongType) => b.toLong
    case (s: Short, IntegerType) => s.toInt
    case (s: Short, LongType) => s.toLong
    case (i: Int, LongType) => i.toLong
    case (f: Float, DoubleType) => f.toDouble
    case _ => v
  }

  /** One non-null value at (group, fieldIdx) decoded as `dt`. */
  def value(g: Group, fi: Int, dt: DataType): Any = dt match {
    case ArrayType(et, _) =>
      // standard 3-level list: group<col> { repeated group list
      // { optional <element> } } — Spark's non-legacy parquet layout
      val lg = g.getGroup(fi, 0)
      val n = lg.getFieldRepetitionCount(0)
      val arr = new Array[Any](n)
      var i = 0
      while (i < n) {
        val el = lg.getGroup(0, i)
        arr(i) =
          if (el.getFieldRepetitionCount(0) == 0) null
          else scalar(el, 0, et)
        i += 1
      }
      new GenericArrayData(arr)
    case _ => scalar(g, fi, dt)
  }

  private def scalar(g: Group, fi: Int, dt: DataType): Any = dt match {
    case LongType => g.getLong(fi, 0)
    case IntegerType => g.getInteger(fi, 0)
    case ShortType => g.getInteger(fi, 0).toShort
    case ByteType => g.getInteger(fi, 0).toByte
    case FloatType => g.getFloat(fi, 0)
    case DoubleType => g.getDouble(fi, 0)
    case BooleanType => g.getBoolean(fi, 0)
    case StringType => UTF8String.fromBytes(g.getBinary(fi, 0).getBytes)
    case BinaryType => g.getBinary(fi, 0).getBytes
    case DateType => g.getInteger(fi, 0) // epoch days, verbatim
    case TimestampType =>
      // the PHYSICAL encoding varies by writer config — inspect the
      // projected group's own schema: INT96 (Spark's default
      // outputTimestampType; 12 bytes LE: nanos-in-day + julian day),
      // or INT64 micros/millis (instant-adjusted)
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
      import org.apache.parquet.schema.LogicalTypeAnnotation
      val pt = g.getType.getType(fi).asPrimitiveType()
      pt.getPrimitiveTypeName match {
        case PrimitiveTypeName.INT96 =>
          val bb = java.nio.ByteBuffer
            .wrap(g.getInt96(fi, 0).getBytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val nanosInDay = bb.getLong
          val julianDay = bb.getInt
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .fromJulianDay(julianDay, nanosInDay)
        case _ =>
          val unit = pt.getLogicalTypeAnnotation match {
            case a: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              a.getUnit
            case _ => LogicalTypeAnnotation.TimeUnit.MICROS
          }
          val raw = g.getLong(fi, 0)
          if (unit == LogicalTypeAnnotation.TimeUnit.MILLIS) raw * 1000L
          else raw
      }
    case other => throw new IllegalStateException(
      s"graft: unreachable decode type $other") // guarded at resolve
  }
}

// ---------------------------------------------------------------------------
// Write path: df.write.format("graft").mode("append" | "overwrite").save(dir)
// ---------------------------------------------------------------------------

/** The connector's WRITE side — executors stream rows straight into
  * parquet segment files (parquet-hadoop Group API, matching Spark's
  * non-legacy layout bit-for-bit: 3-level lists, standard logical
  * annotations), and the DRIVER makes the result visible with one
  * manifest commit, exactly the two-phase protocol every
  * [[ManagedTable]] writer uses:
  *
  *   - **append** adds the staged files to the current version's file
  *     list (DV references carried forward — an append cannot
  *     resurrect deleted rows);
  *   - **overwrite** (Spark calls [[SupportsTruncate.truncate]])
  *     commits a full-snapshot manifest of only the staged files;
  *   - a FIRST write creates the table (the provider reports
  *     `supportsExternalMetadata`, so Spark hands the query schema to
  *     [[GraftDataSource.getTable]] and an empty dir resolves to an
  *     empty table of that schema);
  *   - task/driver failure leaves only unreferenced staged files —
  *     invisible to every reader and reclaimed by
  *     [[ManagedTable.vacuum]] — because visibility IS the manifest
  *     write, which is create-fails-if-exists; a racing committer
  *     loses the version number cleanly and retries on the new head.
  *
  * Appends to an existing table must match its schema by name AND
  * type ([[ManagedTable]]'s own append discipline — evolution goes
  * through `merge`); overwrite records the new schema. Each task
  * folds its file's manifest stats and Bloom digests as it writes the
  * rows ([[WriteStats]], the fold [[ManagedTable]]'s writer uses too)
  * and returns them in its [[GraftWriteCommit]], so connector-written
  * segments prune identically and the commit reads nothing back.
  */
private[sources] class GraftWriteBuilder(dir: String,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite {
  private var truncateFirst = false
  private var replaceFilters: Option[Array[Filter]] = None
  override def truncate()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    truncateFirst = true; this
  }

  /** `INSERT INTO … REPLACE WHERE cond` / `DataFrameWriterV2
    * .overwrite(cond)` ([[org.apache.spark.sql.connector.write
    * .SupportsOverwrite]]): the staged rows replace exactly the rows
    * matching `cond` — executed as [[ManagedTable.replaceStaged]]
    * (constraint-checked tombstones + staged files in ONE manifest
    * version, the q179 idempotent-backfill discipline on the DSv2
    * seam). The filter translation is EXACT or refused
    * (`canOverwrite`), same contract as DELETE. `AlwaysTrue`
    * degenerates to truncate (INSERT OVERWRITE).
    */
  override def canOverwrite(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftTable.toColumn(f).isDefined)
  override def overwrite(filters: Array[Filter])
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    if (filters.forall(_.isInstanceOf[AlwaysTrue])) truncateFirst = true
    else replaceFilters = Some(filters)
    this
  }

  override def build(): org.apache.spark.sql.connector.write.Write = {
    val schema = info.schema()
    schema.fields.foreach { f =>
      require(GraftTableMeta.supported(f.dataType),
        s"graft: unsupported column type ${f.dataType.sql} for " +
          s"'${f.name}' — writes accept the same stats-typed tier " +
          "the reader decodes")
    }
    val spark = SparkSession.active
    if (!truncateFirst &&
        ManagedTable.versions(spark, dir).nonEmpty) {
      val existing = GraftTableMeta.resolve(dir, None).schema
      def norm(s: StructType) = GraftTable.normSchema(s)
      // AUTO-EVOLUTION (Delta's mergeSchema): a widened source evolves
      // the table in the same statement instead of requiring a manual
      // ALTER first — opt-in per write (.option("mergeSchema", true))
      // or per session (spark.graft.mergeSchema). Delta's semantics in
      // full: columns present in BOTH sides must arrive type-identical;
      // source columns absent from the table are ADDED via the same
      // one-manifest-write evolution ALTER TABLE ADD COLUMNS runs (old
      // segments null-fill, nothing is rewritten); table columns
      // absent from the source are tolerated when NULLABLE — the
      // staged segment is simply narrower, and the manifest-schema
      // read null-fills it through the exact mechanism every
      // pre-evolution segment already relies on. The missing-column
      // tolerance is what makes RACING widening appends composable
      // (the mergerace spec): a writer whose build() runs only after
      // another writer's evolution landed must not refuse on the
      // winner's freshly-added column.
      val mergeRequested =
        info.options.getBoolean("mergeSchema",
          spark.conf.getOption("spark.graft.mergeSchema")
            .exists(_.equalsIgnoreCase("true")))
      // the RECORDED schema, not the nullable-forced read schema: a
      // source omitting a genuinely NOT-NULL column must still refuse
      def headSchema(): StructType =
        ManagedTable.headContext(spark, dir)._2.getOrElse(existing)
      def compatible(table: StructType): Boolean =
        schema.fields.forall(g =>
          table.fields.find(_.name == g.name)
            .forall(_.dataType == g.dataType)) &&
          table.fields.forall(f =>
            schema.fieldNames.contains(f.name) || f.nullable)
      if (mergeRequested && compatible(headSchema())) {
        // add-only evolution loop: the head is re-read EVERY attempt,
        // so a concurrent writer's evolution (or plain commit) landing
        // between our read and our claim surfaces as a retryable lost
        // version race — never as evolveSchema's "must survive
        // unchanged" refusal — and our additions idempotently vanish
        // once a winner (us, or a racer adding the same column) has
        // landed them
        var attempts = 0
        var settled = false
        while (!settled) {
          attempts += 1
          val head = headSchema()
          require(compatible(head),
            s"graft: append schema ${schema.simpleString} stopped " +
              s"matching table schema ${head.simpleString} of $dir — " +
              "a concurrent writer evolved it incompatibly")
          val added = schema.fields
            .filterNot(g => head.fieldNames.contains(g.name))
            .map(_.copy(nullable = true))
          if (added.isEmpty) settled = true
          else
            try {
              ManagedTable.evolveSchema(spark, dir,
                StructType(head.fields ++ added), tag = "mergeSchema")
              settled = true
            } catch {
              // lost the claim (or the head moved under evolveSchema's
              // own re-read): back off to a fresh head; a genuine
              // incompatibility re-surfaces via compatible() above
              case _: Exception if attempts < 5 => ()
            }
        }
      } else require(norm(existing) == norm(schema),
        s"graft: append schema ${schema.simpleString} does not match " +
          s"table schema ${existing.simpleString} of $dir — add " +
          "columns via .option(\"mergeSchema\", true) / ALTER TABLE " +
          "ADD COLUMNS, or evolve through ManagedTable.merge")
    }
    if (truncateFirst && ManagedTable.versions(spark, dir).nonEmpty) {
      // the table's CONTRACTS survive an overwrite (the commit carries
      // the __table ledger) — so a CHECK constraint the overwrite's
      // schema can no longer express must refuse HERE, before any data
      // stages, naming the remedy
      ManagedTable.constraintsOf(
        ManagedTable.tableProperties(spark, dir)).foreach { case (n, e) =>
        try ManagedTable.requireConstraintResolves(spark, schema, n, e)
        catch { case ex: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"graft: overwrite schema ${schema.simpleString} breaks " +
              s"CHECK constraint '$n' ($e) — constraints survive " +
              "INSERT OVERWRITE; drop it first (ALTER TABLE … UNSET " +
              "TBLPROPERTIES) or keep the columns it references", ex)
        }
      }
    }
    val replaceCond = replaceFilters.map(_.toSeq
      .map(f => GraftTable.toColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"graft: cannot REPLACE WHERE $f — not exactly translatable")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true)))
    new GraftWrite(dir, schema, truncateFirst, replaceCond)
  }
}

private[sources] class GraftWrite(dir: String, schema: StructType,
    truncateFirst: Boolean,
    replaceCond: Option[org.apache.spark.sql.Column] = None)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write
      .RequiresDistributionAndOrdering {
  override def description(): String =
    s"GraftWrite $dir ${if (truncateFirst) "overwrite"
      else if (replaceCond.isDefined) "replaceWhere" else "append"}"

  // DECLARED CLUSTERING on the DSv2 seam: when the table carries
  // graft.clusterBy, declare an ordered distribution + in-partition
  // ordering on the cluster key and let SPARK plan the range shuffle
  // and sort before the write executes — INSERT INTO then lands
  // range-disjoint, internally sorted files whose min/max stats prune
  // from the first probe onward. Spark sizes the shuffle (AQE), which
  // is the 1000-executor-correct division of labor; the connector
  // never materializes rows on the driver.
  private lazy val tableProps: Map[String, String] =
    ManagedTable.tableProperties(SparkSession.active, dir)

  private lazy val clusterOrdering
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    ManagedTable.clusterByOf(tableProps)
      .filter(schema.fieldNames.contains)
      .map(c => Expressions.sort(Expressions.column(c),
        org.apache.spark.sql.connector.expressions
          .SortDirection.ASCENDING))
      .toArray

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    if (clusterOrdering.isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions
        .unspecified()
    else org.apache.spark.sql.connector.distributions.Distributions
      .ordered(clusterOrdering)

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    clusterOrdering

  // graft.targetFileSize sizes the range partitions AQE coalesces the
  // clustered shuffle into — i.e. the approximate on-disk file size
  // every clustered INSERT lands (0 = Spark's default advisory size)
  override def advisoryPartitionSizeInBytes(): Long =
    if (clusterOrdering.isEmpty) 0L
    else tableProps.get(ManagedTable.TargetFileSizeProp)
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .filter(_ > 0L)
      .getOrElse(0L)
  override def toBatch
      : org.apache.spark.sql.connector.write.BatchWrite =
    new GraftBatchWrite(dir, schema, truncateFirst, replaceCond)
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(replaceCond.isEmpty,
      "graft: REPLACE WHERE is a batch write shape")
    new GraftStreamingWrite(dir, schema)
  }
}

/** `df.writeStream.format("graft").start(dir)` — the native streaming
  * sink: each micro-batch's rows stream from executors into epoch-
  * scoped segment files and the epoch commits as ONE table version
  * tagged `b<epochId>` — the exact two-ledger idempotence discipline
  * of [[ManagedTable.streamingSink]], now with no foreachBatch
  * indirection: a crash-replayed epoch finds its tag already in the
  * manifest log, discards its re-staged files, and commits nothing,
  * so exactly-once holds across restarts with the offset log as the
  * other ledger. Append output mode only (streaming retractions are
  * the CDC tier's job). Files from failed/replayed attempts stay
  * unreferenced and fall to [[ManagedTable.vacuum]].
  */
private[sources] class GraftStreamingWrite(dir: String,
    schema: StructType)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.{PhysicalWriteInfo,
    WriterCommitMessage}

  private val segment =
    s"data/w-${java.util.UUID.randomUUID().toString.take(8)}"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(segment,
      GraftBatchWrite.writeStats(dir, schema, truncateFirst = false))

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val tag = s"b$epochId"
    val newStats = GraftWriteCommit.stats(messages)
    val newFiles = newStats.keys.toSeq.sorted
    if (ManagedTable.committedTagSet(spark, dir).contains(tag)) {
      // replayed epoch: the ORIGINAL attempt's commit is the one the
      // manifest references — this attempt's staged files are dead
      abort(epochId, messages)
      return
    }
    ManagedTable.enforceConstraintsOnFiles(spark, dir, newFiles,
      s"streaming epoch $epochId")
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      val vs = ManagedTable.versions(spark, dir)
      val next = vs.lastOption.getOrElse(0) + 1
      val (allPrev, schemaJson, prevStats) =
        if (vs.isEmpty)
          (Seq.empty[String], schema.json, Map.empty: ManagedTable.FileStats)
        else {
          val (_, all, sj, st) =
            ManagedTable.readManifest(spark, dir, vs.last)
          (all, sj.getOrElse(schema.json), st)
        }
      try {
        ManagedTable.writeManifest(spark, dir, next, tag,
          allPrev ++ newFiles, schemaJson, prevStats ++ newStats)
        done = true
      } catch {
        case e: Exception if attempt < 5 &&
            ManagedTable.versions(spark, dir).lastOption
              .exists(_ >= next) =>
          // lost a version race (concurrent maintenance commit);
          // re-read the head — but a replayed epoch that raced US
          // must still dedupe by tag
          if (ManagedTable.committedTagSet(spark, dir).contains(tag)) {
            abort(epochId, messages); done = true
          }
      }
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GraftWriteCommit.deleteStaged(dir, messages)
}

private[sources] class GraftStreamingWriterFactory(segment: String,
    stats: WriteStats)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftDataWriter(s"$segment/e$epochId", stats, partitionId, taskId)
}

/** One task's commit message: the manifest stats of each file it
  * staged (none for an empty partition), keyed by segment-relative path.
  */
private[sources] final case class GraftWriteCommit(
    stats: ManagedTable.FileStats)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage {
  def relFiles: Seq[String] = stats.keys.toSeq.sorted
}

private[sources] object GraftWriteCommit {
  /** The staged files of a write's messages, with their stats. */
  def stats(messages: Array[org.apache.spark.sql.connector.write
      .WriterCommitMessage]): ManagedTable.FileStats =
    messages.iterator.collect { case c: GraftWriteCommit => c.stats }
      .foldLeft(Map.empty: ManagedTable.FileStats)(_ ++ _)

  /** Best-effort delete of a write's staged files and their Bloom
    * sidecars (an aborted write, or a replayed epoch's dead copy).
    */
  def deleteStaged(dir: String, messages: Array[org.apache.spark.sql
      .connector.write.WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    stats(messages).foreach { case (rel, st) =>
      val sidecars = st.collect {
        case (k, (side, _)) if k.startsWith(BloomSkipping.StatPrefix) => side }
      (rel +: sidecars.toSeq).foreach { f =>
        val p = new HPath(s"$dir/$f")
        try { p.getFileSystem(conf).delete(p, false); () }
        catch { case _: Exception => () }
      }
    }
  }
}

private[sources] class GraftBatchWrite(dir: String, schema: StructType,
    truncateFirst: Boolean,
    replaceCond: Option[org.apache.spark.sql.Column] = None)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write.{DataWriterFactory,
    PhysicalWriteInfo, WriterCommitMessage}

  private val segment =
    s"data/w-${java.util.UUID.randomUUID().toString.take(8)}"

  // appends to a MAPPED table stage files under physical names (a
  // truncate/new table resets the layout authority to the query
  // schema); resolved on the driver, shipped to executors as json
  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    new GraftWriterFactory(segment,
      GraftBatchWrite.writeStats(dir, schema, truncateFirst))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val newStats = GraftWriteCommit.stats(messages)
    val newFiles = newStats.keys.toSeq.sorted
    replaceCond.foreach { cond =>
      ManagedTable.replaceStaged(spark, dir, cond, newStats, schema)
      return
    }
    val headProps = ManagedTable.tableProperties(spark, dir)
    // constraints survive a truncate ([[ManagedTable
    // .carryLedgerForSchema]]) — enforce them on the overwrite rows
    // too; the staged files carry the QUERY schema on an overwrite
    // (layout authority resets), the head's physical mapping otherwise
    if (truncateFirst) {
      val cs = ManagedTable.constraintsOf(headProps)
      if (cs.nonEmpty && newFiles.nonEmpty)
        ManagedTable.enforceConstraints(
          ManagedTable.scanFiles(spark, dir, newFiles, schema),
          headProps, "INSERT OVERWRITE")
    } else
      ManagedTable.enforceConstraintsOnFiles(spark, dir, newFiles,
        "INSERT INTO")
    // optimistic create-fails-if-exists loop, same discipline as the
    // DataFrame writers: losing a version race re-reads the head and
    // re-commits on top of it (the staged files never move)
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      val vs = ManagedTable.versions(spark, dir)
      val next = vs.lastOption.getOrElse(0) + 1
      val (allPrev, schemaJson, prevStats) =
        if (vs.isEmpty)
          (Seq.empty[String], schema.json, Map.empty: ManagedTable.FileStats)
        else if (truncateFirst)
          // full-snapshot replace: fresh file list and schema, but the
          // table's CONTRACTS (properties, constraints, retired
          // columns) carry — layout lists filtered to the new schema
          (Seq.empty[String], schema.json,
            ManagedTable.carryLedgerForSchema(
              ManagedTable.readManifest(spark, dir, vs.last)._4, schema))
        else {
          val (_, all, sj, st) =
            ManagedTable.readManifest(spark, dir, vs.last)
          (all, sj.getOrElse(schema.json), st)
        }
      try {
        ManagedTable.writeManifest(spark, dir, next, tag = "",
          allPrev ++ newFiles, schemaJson, prevStats ++ newStats)
        done = true
      } catch {
        case e: Exception if attempt < 5 &&
            ManagedTable.versions(spark, dir).lastOption
              .exists(_ >= next) => // lost the race; retry on new head
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftWriteCommit.deleteStaged(dir, messages)
}

private[sources] object GraftBatchWrite {
  /** The stats fold of a staged connector write: over the
    * [[writerSchema]], with the Bloom columns the head declares mapped
    * through the schema being committed (the query schema on a
    * truncate, the head's otherwise).
    */
  def writeStats(dir: String, query: StructType,
      truncateFirst: Boolean): WriteStats = {
    val spark = SparkSession.active
    val (props, head) = ManagedTable.headContext(spark, dir)
    WriteStats(spark, dir, writerSchema(dir, query, truncateFirst), props,
      if (truncateFirst) Some(query) else head)
  }

  /** Parquet-facing schema for a staged connector write: the query
    * schema translated to the table's PHYSICAL column names when
    * appending to a mapped table; the query schema verbatim for a
    * truncate or a table being created (a full replace resets the
    * layout authority, exactly like [[ManagedTable.commit]]). Field
    * order/types follow the QUERY (rows are positional).
    */
  def writerSchema(dir: String, query: StructType,
      truncateFirst: Boolean): StructType = {
    if (truncateFirst) return query
    val spark = SparkSession.active
    if (ManagedTable.versions(spark, dir).isEmpty) query
    else ColumnMapping.physicalFor(query,
      GraftTableMeta.resolve(dir, None).schema)
  }
}

/** One SQL UPDATE / MERGE INTO / (untranslatable) DELETE, as a
  * group-based COPY-ON-WRITE ([[org.apache.spark.sql.connector.write
  * .RowLevelOperation]]). The protocol Spark drives:
  *
  *   1. a scan of this operation finds the rows matching the
  *      condition, carrying [[GraftTable.FileMetaCol]] so the
  *      matching FILES are known;
  *   2. Spark feeds those file identities back into the SAME scan as
  *      a runtime group filter ([[GraftScan]]'s exact `_file` path),
  *      so the rewrite re-reads ONLY affected files (their live rows
  *      — DV'd positions never resurrect);
  *   3. the replacement rows (survivors + updates + merge-inserts)
  *      stream through the normal executor write, and
  *      [[GraftCowBatchWrite.commit]] swaps scanned-files-out /
  *      staged-files-in as ONE manifest version.
  *
  * The operation object is the scan↔write bridge: the write reads the
  * scan's post-filter file set at commit time (Iceberg's COW shape).
  * O(affected files) rewrite, never O(table); aborts leave only
  * unreferenced staged files for [[ManagedTable.vacuum]].
  */
private[sources] class GraftRowLevelOperation(dir: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {

  @volatile private var scan: GraftScan = _
  @volatile private var resolved: GraftTableMeta = _

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command =
    cmd

  override def description(): String = s"GraftCow $cmd $dir"

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    resolved = GraftTableMeta.resolve(dir, None)
    new GraftScanBuilder(resolved) {
      override def build(): Scan = super.build() match {
        case g: GraftScan => scan = g; g
        case other => other // agg-pushed scans never reach a rewrite
      }
    }
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write
            with org.apache.spark.sql.connector.write
              .RequiresDistributionAndOrdering {
          override def description(): String = s"GraftCowWrite $dir"
          override def toBatch
              : org.apache.spark.sql.connector.write.BatchWrite =
            new GraftCowBatchWrite(dir, info.schema(),
              () => Option(scan).map(_.keptFiles).getOrElse(Seq.empty),
              () => Option(resolved))
          // a rewrite of a CLUSTERED table re-sorts the replacement
          // rows on the declared key, so UPDATE/MERGE preserve the
          // layout discipline instead of eroding it
          private lazy val cowOrdering: Array[
              org.apache.spark.sql.connector.expressions.SortOrder] =
            ManagedTable.clusterByOf(
              ManagedTable.tableProperties(SparkSession.active, dir))
              .filter(info.schema().fieldNames.contains)
              .map(c => Expressions.sort(Expressions.column(c),
                org.apache.spark.sql.connector.expressions
                  .SortDirection.ASCENDING))
              .toArray
          override def requiredDistribution(): org.apache.spark.sql
              .connector.distributions.Distribution =
            if (cowOrdering.isEmpty)
              org.apache.spark.sql.connector.distributions
                .Distributions.unspecified()
            else org.apache.spark.sql.connector.distributions
              .Distributions.ordered(cowOrdering)
          override def requiredOrdering(): Array[
              org.apache.spark.sql.connector.expressions.SortOrder] =
            cowOrdering
        }
    }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftTable.FileMetaCol))
}

/** The replacing write of one copy-on-write operation: staged files
  * in, the operation's scanned files out, atomically. The scanned set
  * is read AT COMMIT TIME (after the rewrite query ran, so the
  * runtime group filter has already shrunk it to the affected files).
  * A concurrent commit that touched any replaced file fails the swap
  * (the row images this rewrite was computed from are stale) — the
  * same optimistic discipline as every manifest writer, surfaced as
  * an error instead of a silent lost update. "Touched" covers BOTH
  * ways a replaced file's live rows can change: the file leaving the
  * data-file list (rewrite/compaction — the subset check) AND a
  * DV-only commit gaining tombstones on it (a concurrent `deleteWhere`
  * keeps the file list identical and moves only the deletion vector;
  * replacing the file from the pre-delete row image would silently
  * resurrect the deleted rows). The DV comparison is restricted to the
  * replaced files and runs only when the DV segment set moved —
  * deleted-rows-scale, never table-scale.
  */
private[sources] class GraftCowBatchWrite(dir: String,
    schema: StructType, scanned: () => Seq[String],
    resolvedAt: () => Option[GraftTableMeta] = () => None)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write.{DataWriterFactory,
    PhysicalWriteInfo, WriterCommitMessage}

  private val segment =
    s"data/w-${java.util.UUID.randomUUID().toString.take(8)}"

  // the rewrite stages files under the table's PHYSICAL column names
  // (the operation's resolved snapshot carries the mapping)
  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    val spark = SparkSession.active
    val (props, head) = ManagedTable.headContext(spark, dir)
    new GraftWriterFactory(segment, WriteStats(spark, dir,
      resolvedAt().map(rm => ColumnMapping.physicalFor(schema, rm.schema))
        .getOrElse(schema), props, head))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val newStats = GraftWriteCommit.stats(messages)
    val staged = newStats.keys.toSeq.sorted
    val removed = scanned().toSet
    if (staged.isEmpty && removed.isEmpty) return // matched nothing
    // an UPDATE/MERGE may not rewrite rows INTO violation
    ManagedTable.enforceConstraintsOnFiles(spark, dir, staged,
      "row-level operation")
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      val vs = ManagedTable.versions(spark, dir)
      require(vs.nonEmpty, s"graft: row-level op on a missing table $dir")
      val next = vs.last + 1
      val (_, all, schemaJson, stats) =
        ManagedTable.readManifest(spark, dir, vs.last)
      val (files, dvFiles) = ManagedTable.splitDv(all)
      require(removed.subsetOf(files.toSet),
        "graft: a concurrent write replaced files this row-level " +
          s"operation was rewriting in $dir — re-run the statement")
      // DV-only conflicts: tombstones on a replaced file that changed
      // since the operation's scan resolved mean the staged rows were
      // computed from a stale row image (a concurrent DELETE's
      // tombstones would silently vanish in the swap) — refuse as a
      // retryable conflict, same as the file-list check above
      resolvedAt().foreach { rm =>
        if (dvFiles.toSet != rm.dvFiles.toSet && removed.nonEmpty) {
          import org.apache.spark.sql.functions.col
          // set equality as a DISTRIBUTED symmetric difference — the
          // comparison never collects positions (a concurrent bulk
          // delete's tombstones on the rewrite set could be huge).
          // Exactly one side can be empty here (the sets differ);
          // the empty frame borrows the other side's schema
          val anyDv = if (dvFiles.nonEmpty) dvFiles else rm.dvFiles
          def dvOnRemoved(dv: Seq[String]): org.apache.spark.sql.DataFrame =
            if (dv.isEmpty)
              ManagedTable.dvRows(spark, dir, anyDv).limit(0)
            else ManagedTable.dvRows(spark, dir, dv)
              .filter(col("__file").isin(removed.toSeq: _*))
          val a = dvOnRemoved(dvFiles)
          val b = dvOnRemoved(rm.dvFiles)
          require(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
            "graft: a concurrent DELETE changed tombstones on files " +
              s"this row-level operation was rewriting in $dir — " +
              "re-run the statement")
        }
      }
      val keptData = files.filterNot(removed)
      // DV entries for removed files die with them (their tombstones
      // were materialized by the rewrite); kept files keep theirs
      val dvRefs =
        if (keptData.isEmpty) Nil else dvFiles.map("dv:" + _)
      try {
        ManagedTable.writeManifest(spark, dir, next, tag = "",
          keptData ++ staged ++ dvRefs,
          schemaJson.getOrElse(schema.json),
          stats.view.filterKeys(f => !removed.contains(f)).toMap ++
            newStats)
        done = true
      } catch {
        case e: Exception if attempt < 5 &&
            ManagedTable.versions(spark, dir).lastOption
              .exists(_ >= next) => // lost the race; re-check the head
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftWriteCommit.deleteStaged(dir, messages)
}

private[sources] class GraftWriterFactory(segment: String,
    stats: WriteStats)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftDataWriter(segment, stats, partitionId, taskId)
}

/** One task's parquet file, created lazily on the first row (an empty
  * partition contributes no file, matching Spark's own writers). The
  * file's manifest stats fold as its rows are written ([[WriteStats]]).
  */
private[sources] class GraftDataWriter(segment: String, stats: WriteStats,
    partitionId: Int, taskId: Long)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.io.api.Binary

  private val dir = stats.dir
  private val schema = stats.schema
  private val conf = stats.conf.value
  private val name = f"part-$partitionId%05d-$taskId.snappy.parquet"
  private val rel = s"$segment/$name"
  private val fold = stats.fold(segment)
  private val messageType = GraftParquetSchema.fromSpark(schema)
  private val factory = new SimpleGroupFactory(messageType)
  private var writer
      : org.apache.parquet.hadoop.ParquetWriter[Group] = _

  private def open(): Unit = {
    writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new HPath(s"$dir/$rel"))
      .withConf(conf)
      .withType(messageType)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
  }

  override def write(row: InternalRow): Unit = {
    if (writer == null) open()
    fold.add(row)
    val g = factory.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) {
        val f = schema.fields(i)
        f.dataType match {
          case ArrayType(et, _) =>
            val arr = row.getArray(i)
            val lg = g.addGroup(f.name)
            var j = 0
            while (j < arr.numElements()) {
              val el = lg.addGroup("list")
              if (!arr.isNullAt(j)) et match {
                case LongType => el.add("element", arr.getLong(j))
                case IntegerType => el.add("element", arr.getInt(j))
                case ShortType =>
                  el.add("element", arr.getShort(j).toInt)
                case ByteType => el.add("element", arr.getByte(j).toInt)
                case FloatType => el.add("element", arr.getFloat(j))
                case DoubleType => el.add("element", arr.getDouble(j))
                case BooleanType => el.add("element", arr.getBoolean(j))
                case StringType => el.add("element",
                  Binary.fromConstantByteArray(
                    arr.getUTF8String(j).getBytes))
                case BinaryType => el.add("element",
                  Binary.fromConstantByteArray(arr.getBinary(j)))
                case other => throw new IllegalStateException(
                  s"graft: unreachable write type $other")
              }
              j += 1
            }
          case LongType => g.add(f.name, row.getLong(i))
          case IntegerType => g.add(f.name, row.getInt(i))
          case ShortType => g.add(f.name, row.getShort(i).toInt)
          case ByteType => g.add(f.name, row.getByte(i).toInt)
          case FloatType => g.add(f.name, row.getFloat(i))
          case DoubleType => g.add(f.name, row.getDouble(i))
          case BooleanType => g.add(f.name, row.getBoolean(i))
          case StringType => g.add(f.name,
            Binary.fromConstantByteArray(row.getUTF8String(i).getBytes))
          case BinaryType => g.add(f.name,
            Binary.fromConstantByteArray(row.getBinary(i)))
          case TimestampType => g.add(f.name, row.getLong(i)) // micros
          case DateType => g.add(f.name, row.getInt(i)) // epoch days
          case other => throw new IllegalStateException(
            s"graft: unreachable write type $other")
        }
      }
      i += 1
    }
    writer.write(g)
  }

  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    if (writer == null) GraftWriteCommit(Map.empty)
    else {
      writer.close()
      GraftWriteCommit(Map(rel -> fold.finish(name)))
    }
  }

  override def abort(): Unit = {
    if (writer != null) writer.close()
    val p = new HPath(s"$dir/$rel")
    try { p.getFileSystem(conf).delete(p, false); () }
    catch { case _: Exception => () }
  }

  override def close(): Unit = ()
}

/** Spark StructType → parquet MessageType in Spark's own non-legacy
  * layout (standard logical annotations; 3-level "list"/"element"
  * lists), so segments written here are byte-compatible with both the
  * vectorized v1 parquet scan under [[ManagedTable.read]] and
  * the connector's Group reader.
  */
private[sources] object GraftParquetSchema {
  import org.apache.parquet.schema.{LogicalTypeAnnotation => L,
    PrimitiveType, Type, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
  import org.apache.parquet.schema.Type.Repetition

  private def primitive(name: String, dt: DataType,
      rep: Repetition): Type = {
    val b = dt match {
      case LongType => Types.primitive(INT64, rep)
      case IntegerType => Types.primitive(INT32, rep)
      case ShortType =>
        Types.primitive(INT32, rep).as(L.intType(16, true))
      case ByteType =>
        Types.primitive(INT32, rep).as(L.intType(8, true))
      case FloatType => Types.primitive(FLOAT, rep)
      case DoubleType => Types.primitive(DOUBLE, rep)
      case BooleanType => Types.primitive(BOOLEAN, rep)
      case StringType => Types.primitive(BINARY, rep).as(L.stringType())
      case BinaryType => Types.primitive(BINARY, rep)
      // standard annotations (never INT96): instant micros / epoch days
      case TimestampType => Types.primitive(INT64, rep)
        .as(L.timestampType(true, L.TimeUnit.MICROS))
      case DateType => Types.primitive(INT32, rep).as(L.dateType())
      case other => throw new IllegalArgumentException(
        s"graft: unsupported parquet primitive for $other")
    }
    b.named(name)
  }

  def fromSpark(schema: StructType): org.apache.parquet.schema.MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      f.dataType match {
        case ArrayType(et, _) =>
          b.addField(Types.buildGroup(Repetition.OPTIONAL)
            .as(L.listType())
            .addField(Types.repeatedGroup()
              .addField(primitive("element", et, Repetition.OPTIONAL))
              .named("list"))
            .named(f.name))
        case dt =>
          b.addField(primitive(f.name, dt, Repetition.OPTIONAL))
      }
    }
    b.named("spark_schema")
  }
}
