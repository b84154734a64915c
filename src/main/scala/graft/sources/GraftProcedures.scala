package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure,
  ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL `CALL` surface for table MAINTENANCE — the operations a table
  * needs run on a schedule (compaction, retention GC, restore) exposed
  * through Spark's DSv2 procedure SPI, so a pure-SQL operator can run
  * them by name with zero Scala in sight (Iceberg's
  * `CALL cat.system.…` shape, over the manifest log):
  *
  * {{{
  *   CALL graft.system.compact(`table` => 'ns.t')
  *   CALL graft.system.vacuum_history(`table` => 'ns.t', retain_versions => 7)
  *   CALL graft.system.vacuum(`table` => 'ns.t')
  *   CALL graft.system.restore(`table` => 'ns.t', version => 3)
  *   CALL graft.system.history(`table` => 'ns.t')
  *   CALL graft.system.changes(`table` => 'ns.t', from_version => 2,
  *                             to_version => 5, keys => 'id')
  *   CALL graft.system.detail(`table` => 'ns.t')
  * }}}
  *
  * Each procedure resolves `ns.t` against THIS catalog's warehouse
  * (the same pure identifier→directory mapping every table name
  * uses), executes the corresponding [[ManagedTable]] operation, and
  * returns its outcome as rows (a driver-local [[LocalScan]] — every
  * result here is metadata-scale by construction). Procedures are
  * side-effecting, so they are declared non-deterministic and Spark
  * executes each CALL exactly once.
  */
private[sources] object GraftProcedures {

  /** Procedure identifiers live under the `system` namespace. */
  val Namespace: Array[String] = Array("system")

  val Names: Seq[String] =
    Seq("compact", "vacuum", "vacuum_history", "restore", "history",
      "changes", "detail")

  def load(catalog: GraftCatalog, ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(Namespace) &&
      Names.contains(ident.name()),
      s"graft: unknown procedure $ident — available: " +
        Names.map(n => s"${catalog.name()}.system.$n").mkString(", "))
    new GraftProcedure(catalog, ident.name())
  }

  private def spark = SparkSession.active

  /** One row, rendered as an [[InternalRow]] (strings → UTF8String). */
  private def row(values: Any*): InternalRow =
    new GenericInternalRow(values.map {
      case s: String => UTF8String.fromString(s)
      case v => v
    }.toArray)

  private def result(schema: StructType, out: Seq[InternalRow])
      : java.util.Iterator[Scan] = {
    val outArray = out.toArray
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] = outArray
      override def readSchema(): StructType = schema
      override def description(): String = "GraftProcedureResult"
    }
    java.util.List.of(scan).iterator()
  }

  /** `run` returns (result schema, rows) — the schema travels WITH the
    * call because `changes` is table-shaped (its columns are the
    * target table's); fixed-schema procedures just return theirs.
    */
  private[sources] final case class Spec(parameters: Seq[ProcedureParameter],
      run: (GraftCatalog, InternalRow) => (StructType, Seq[InternalRow]))

  private def in(name: String, dt: DataType) =
    ProcedureParameter.in(name, dt).build()
  private def inDefault(name: String, dt: DataType, default: String) =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  private[sources] def spec(name: String): Spec = name match {
    case "compact" => Spec(
      Seq(in("table", StringType),
        inDefault("small_file_bytes", LongType,
          (32L * 1024 * 1024).toString),
        // comma-separated cluster columns = OPTIMIZE ZORDER BY: packed
        // segments carry disjoint key ranges so stats pruning works
        // across them (empty = arrival-order packing)
        inDefault("cluster_by", StringType, "''"),
        // files whose DV tombstones cover ≥ this fraction of their
        // rows are rewritten regardless of size (purge: deletes
        // materialize, Bloom digests rebuild from survivors);
        // ≤ 0 disables the trigger
        inDefault("rewrite_dv_fraction", DoubleType, "-1.0")),
      (cat, args) => {
        val cluster = Option(args.getUTF8String(2)).map(_.toString)
          .getOrElse("").split(",").map(_.trim).filter(_.nonEmpty)
          .toSeq.map(org.apache.spark.sql.functions.col)
        val frac =
          if (args.isNullAt(3) || args.getDouble(3) <= 0) None
          else Some(args.getDouble(3))
        val v = ManagedTable.compact(spark, cat.resolveTableDir(
          args.getUTF8String(0).toString), args.getLong(1),
          clusterBy = cluster, rewriteDvFraction = frac)
        (StructType(Seq(
          StructField("version", IntegerType, nullable = false))),
          Seq(row(v)))
      })
    case "vacuum" => Spec(
      Seq(in("table", StringType),
        inDefault("retention_ms", LongType,
          ManagedTable.DefaultVacuumRetentionMs.toString)),
      (cat, args) => {
        val swept = ManagedTable.vacuum(spark, cat.resolveTableDir(
          args.getUTF8String(0).toString), args.getLong(1))
        (StructType(Seq(
          StructField("swept_segments", IntegerType, nullable = false))),
          Seq(row(swept.size)))
      })
    case "vacuum_history" => Spec(
      Seq(in("table", StringType),
        in("retain_versions", IntegerType),
        inDefault("retention_ms", LongType,
          ManagedTable.DefaultVacuumRetentionMs.toString)),
      (cat, args) => {
        val st = ManagedTable.vacuumHistory(spark, cat.resolveTableDir(
          args.getUTF8String(0).toString), args.getInt(1), args.getLong(2))
        (StructType(Seq(
          StructField("dropped_versions", IntegerType, nullable = false),
          StructField("swept_segments", IntegerType, nullable = false),
          StructField("reclaimed_bytes", LongType, nullable = false))),
          Seq(row(st.droppedVersions.size, st.sweptSegments.size,
            st.reclaimedBytes)))
      })
    case "restore" => Spec(
      Seq(in("table", StringType), in("version", IntegerType)),
      (cat, args) => {
        val v = ManagedTable.restore(spark, cat.resolveTableDir(
          args.getUTF8String(0).toString), args.getInt(1))
        (StructType(Seq(
          StructField("version", IntegerType, nullable = false))),
          Seq(row(v)))
      })
    case "history" => Spec(
      Seq(in("table", StringType)),
      (cat, args) => {
        val rows = ManagedTable.history(spark, cat.resolveTableDir(
          args.getUTF8String(0).toString))
          .collect() // |versions| rows — manifest metadata only
          .map(r => row(r.getInt(0), r.getString(1), r.getLong(2),
            r.getInt(3), r.getInt(4), r.getInt(5)))
          .toSeq
        (StructType(Seq(
          StructField("version", IntegerType, nullable = false),
          StructField("tag", StringType, nullable = false),
          StructField("commit_ms", LongType, nullable = false),
          StructField("n_data_files", IntegerType, nullable = false),
          StructField("n_dv_files", IntegerType, nullable = false),
          StructField("n_columns", IntegerType, nullable = false))),
          rows)
      })
    // CHANGE DATA FEED through SQL — Delta's `table_changes` TVF shape
    // as a CALL: the row-level diff [[ManagedTable.changes]] plans
    // (files the two manifests do NOT share, ∝ changed data — never a
    // table scan), materialized as the CALL's driver-local result.
    // Result size is DIFF-scale; for changeset-sized consumption in a
    // pipeline use ManagedTable.changes directly (a distributed frame)
    // — the CALL is the operator/debug surface.
    case "changes" => Spec(
      Seq(in("table", StringType),
        in("from_version", IntegerType),
        in("to_version", IntegerType),
        // comma-separated key columns the diff pairs rows on
        in("keys", StringType),
        inDefault("delete_expr", StringType, "'false'"),
        inDefault("except_columns", StringType, "''"),
        // hard bound on the rows this CALL materializes on the driver
        // — a CALL's result IS a driver-local row set, so an unbounded
        // diff would be a driver OOM; past the cap the call fails fast
        // and names the distributed remedy
        inDefault("max_rows", LongType, "100000")),
      (cat, args) => {
        val dir = cat.resolveTableDir(args.getUTF8String(0).toString)
        def csv(i: Int): Seq[String] =
          Option(args.getUTF8String(i)).map(_.toString).getOrElse("")
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val delete = org.apache.spark.sql.functions.expr(
          Option(args.getUTF8String(4)).map(_.toString)
            .filter(_.nonEmpty).getOrElse("false"))
        val cap = args.getLong(6)
        require(cap > 0, "graft: system.changes max_rows must be > 0")
        val df = ManagedTable.changes(spark, dir,
          args.getInt(1), args.getInt(2), csv(3), delete, csv(5))
        val schema = df.schema
        val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(schema)
        // collect cap+1 so over-cap is detected without materializing
        // the whole diff
        val capInt = math.min(cap, Int.MaxValue - 1L).toInt
        val rows = df.limit(capInt + 1).collect()
        if (rows.length > capInt)
          throw new IllegalArgumentException(
            s"graft: system.changes result exceeds max_rows=$cap for " +
              s"$dir — a CALL materializes its rows on the driver. " +
              "For changeset-scale consumption use the distributed " +
              "frame ManagedTable.changes (or raise max_rows " +
              "deliberately).")
        (schema,
          rows.toSeq.map(r => conv(r).asInstanceOf[InternalRow]))
      })
    // DESCRIBE DETAIL parity: one metadata-only row about the table's
    // current version — layout counts and bytes from the manifest and
    // file statuses, LIVE row count from the recorded per-file counts
    // (null when any file lacks one or deletion vectors are present:
    // counting DV'd positions would need a scan, and `detail` never
    // scans), declared clustering/digest layout contracts verbatim.
    case "detail" => Spec(
      Seq(in("table", StringType)),
      (cat, args) => {
        val dir = cat.resolveTableDir(args.getUTF8String(0).toString)
        val vs = ManagedTable.versions(spark, dir)
        require(vs.nonEmpty, s"graft: no committed versions in $dir")
        val (_, all, _, stats) =
          ManagedTable.readManifest(spark, dir, vs.last)
        val (files, dvFiles) = ManagedTable.splitDv(all)
        val conf = spark.sessionState.newHadoopConf()
        val bytes = files.map { rel =>
          val p = new org.apache.hadoop.fs.Path(s"$dir/$rel")
          p.getFileSystem(conf).getFileStatus(p).getLen
        }.sum
        val counts = files.map(f =>
          stats.get(f).flatMap(_.get(ManagedTable.RowsStat))
            .flatMap(p => scala.util.Try(p._1.toLong).toOption))
        val liveRows: Any =
          if (dvFiles.isEmpty && counts.forall(_.isDefined))
            counts.flatten.sum
          else null
        val props = ManagedTable.propertiesOf(stats)
        // DIGEST STALENESS: Bloom sidecars are built at commit and
        // never mutated, so deleteWhere tombstones leave a digested
        // file's digest full of dead values — fail-open (correct) but
        // its effective fpp decays. Report how many digested files
        // are tombstoned and the worst tombstoned fraction, so an
        // operator knows when `CALL system.compact(rewrite_dv_fraction
        // => …)` is due. Cost: the resolved DV's per-file counts (no
        // job under the inline cap), only when both digests and DVs
        // exist.
        val digested = files.filter(f => stats.get(f).exists(
          _.keys.exists(_.startsWith(BloomSkipping.StatPrefix))))
        val tomb: Map[String, Long] =
          if (digested.isEmpty) Map.empty
          else GraftDvReader.DvPlan.resolve(spark, dir, dvFiles).counts
        val staleFracs = digested.flatMap { f =>
          val t = tomb.getOrElse(f, 0L)
          if (t == 0L) None
          else stats.get(f).flatMap(_.get(ManagedTable.RowsStat))
            .flatMap(p => scala.util.Try(p._1.toLong).toOption)
            .filter(_ > 0).map(n => t.toDouble / n)
        }
        val staleCount = digested.count(f => tomb.getOrElse(f, 0L) > 0L)
        val maxStale: Any =
          if (staleFracs.isEmpty) null else staleFracs.max
        (StructType(Seq(
          StructField("version", IntegerType, nullable = false),
          StructField("location", StringType, nullable = false),
          StructField("num_versions", IntegerType, nullable = false),
          StructField("num_data_files", IntegerType, nullable = false),
          StructField("num_dv_files", IntegerType, nullable = false),
          StructField("size_bytes", LongType, nullable = false),
          StructField("live_rows", LongType, nullable = true),
          StructField("cluster_by", StringType, nullable = false),
          StructField("bloom_filter_columns", StringType,
            nullable = false),
          StructField("num_digested_files", IntegerType,
            nullable = false),
          StructField("num_stale_digests", IntegerType,
            nullable = false),
          StructField("max_digest_staleness", DoubleType,
            nullable = true),
          StructField("num_properties", IntegerType, nullable = false))),
          Seq(row(vs.last, dir, vs.size, files.size, dvFiles.size,
            bytes, liveRows,
            props.getOrElse(ManagedTable.ClusterByProp, ""),
            props.getOrElse(BloomSkipping.ColumnsProp, ""),
            digested.size, staleCount, maxStale,
            props.size)))
      })
  }

  private class GraftProcedure(catalog: GraftCatalog, procName: String)
      extends UnboundProcedure {
    override def name(): String = procName
    override def description(): String =
      s"graft maintenance procedure $procName"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        private val s = spec(procName)
        override def name(): String = procName
        override def description(): String =
          s"graft maintenance procedure $procName"
        override def parameters(): Array[ProcedureParameter] =
          s.parameters.toArray
        // side-effecting table maintenance: never constant-folded,
        // never re-executed speculatively
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val (schema, rows) = s.run(catalog, input)
          result(schema, rows)
        }
      }
  }
}
