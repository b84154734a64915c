package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A minimal manifest-versioned table over plain parquet — the atomic-
  * visibility core of the lakehouse formats (Delta/Iceberg/Hudi) the
  * reference gets from its managed runtime
  * (notebooks/pipeline.json:28 materializes every DLT table as Delta),
  * re-expressed openly:
  *
  *   dir/
  *     data/v<N>-<uuid>/part-*.parquet   (immutable data segments)
  *     _manifest/v<N>.json               (THE commit: file list per version)
  *
  * Invariants:
  *   - readers resolve the LATEST manifest and read ONLY files it lists
  *     — data files landing without a manifest are invisible, so a
  *     writer crashing mid-write leaves the table bit-identical to the
  *     previous version (crash-safety spec kills the write between data
  *     and manifest);
  *   - the manifest write is a single create of a small file — the
  *     rename-based atomic primitive every object store / HDFS offers;
  *     version numbers are dense, so concurrent committers conflict on
  *     the same v<N> name instead of silently interleaving
  *     (create-if-absent = optimistic concurrency, as Delta's
  *     transaction log);
  *   - every version's file list is retained: `read(dir, Some(v))` is
  *     time travel, `versions` is the history, `vacuum` deletes
  *     segments unreferenced by any retained manifest (after a
  *     retention window protecting in-flight commits);
  *   - the manifest also records the version's SCHEMA (empty versions
  *     read back typed) and per-file min/max column stats — the zone
  *     map `planFiles`/`readWhere` prune with, and what `merge` (CDC
  *     row-level upsert), `compact` (small-file OPTIMIZE) and the
  *     streaming sinks maintain incrementally, rewriting only affected
  *     files and carrying the rest by reference.
  *
  * At 100 TB: the manifest holds file PATHS + stats (one small JSON
  * per commit), readers plan directly from it (no directory listing of
  * the data tree — the object-store listing cost Delta removes), range
  * probes open only stats-matching files, and overwrite never touches
  * old segments, so concurrent readers of v N−1 are unaffected by the
  * v N writer. Every scan of manifest-listed or staged files goes
  * through [[scanFiles]]: one `getFileStatus` per listed file on the
  * driver, the manifest's schema, and no listing job, glob or footer
  * inference.
  */
object ManagedTable {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(dir: String) = new Path(dir, "_manifest")

  /** Committed versions, ascending (empty for a nonexistent table). */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val f = fs(spark, dir)
    val md = manifestDir(dir)
    if (!f.exists(md)) Seq.empty
    else f.listStatus(md).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toInt }
      .sorted
  }

  /** Per-file column statistics: relative file path → column name →
    * (min, max) rendered as strings. The manifest-level zone map Delta
    * keeps in its transaction log — what [[planFiles]] prunes with.
    */
  type FileStats = Map[String, Map[String, (String, String)]]

  /** Manifest content, one field per line:
    *   1. committer tag (may be empty);
    *   2. JSON file list — data segment files, plus DELETION-VECTOR
    *      files carried with a `dv:` prefix (see [[deleteWhere]]): DV
    *      entries ride inside the same validated line, so a torn read
    *      can never drop the DV list while keeping the data list (the
    *      resurrection hazard a separate trailing line would create);
    *      manifests predating DVs simply have no `dv:` entries;
    *   3. the version's schema as Spark DataType JSON — what lets an
    *      EMPTY version read back as a typed empty DataFrame instead
    *      of failing parquet schema inference, and what every scan
    *      uses instead of footer inference;
    *   4. per-file min/max column stats JSON (at least `{}`).
    * All 4 lines are REQUIRED — every writer produces them, so a
    * shorter read can only be a torn read of an in-flight commit and
    * is rejected (see the completeness check in parse). The tag lives
    * INSIDE the file — the manifest NAME is always `v<N>.json`, so
    * create-if-absent arbitrates every committer regardless of tag.
    */
  /** Split a manifest file list into (data files, deletion-vector
    * files) — DV entries are marked by the `dv:` prefix.
    */
  private[sources] def splitDv(all: Seq[String]): (Seq[String], Seq[String]) = {
    val (dv, data) = all.partition(_.startsWith("dv:"))
    (data, dv.map(_.stripPrefix("dv:")))
  }

  /** Reserved STATS key for table-level facts (never a real file —
    * data files all live under `data/`). Today it holds the RETIRED
    * PHYSICAL COLUMN ledger: each `retired:<physical>` entry names a
    * column some [[dropColumn]] removed, so a later ADD of the same
    * logical name maps to a fresh physical name instead of
    * resurrecting the dead column's bytes (see [[ColumnMapping]]).
    * Rides the ordinary stats carry-forward of every append-shaped
    * commit; the rewriting commits ([[compact]], [[merge]], COW) carry
    * it explicitly.
    */
  private[sources] val TableStatsFile = "__table"
  private[sources] val RetiredPrefix = "retired:"

  /** The retired-physical-column ledger of a stats map. */
  private[sources] def retiredPhysical(stats: FileStats): Set[String] =
    stats.getOrElse(TableStatsFile, Map.empty).keysIterator
      .filter(_.startsWith(RetiredPrefix))
      .map(_.stripPrefix(RetiredPrefix)).toSet

  /** The `__table` pseudo-entry of `stats`, as a FileStats fragment to
    * `++` onto a rewritten stats map — the carry every
    * filterKeys-style stats rewrite must include.
    */
  private[sources] def tableStats(stats: FileStats): FileStats =
    stats.get(TableStatsFile) match {
      case Some(m) => Map(TableStatsFile -> m)
      case None => Map.empty
    }

  /** TABLE PROPERTIES ride the same `__table` ledger as `prop:<key>`
    * entries — the manifest-versioned analogue of the reference's DLT
    * `table_properties={'quality': 'silver'}`
    * (/root/reference/notebooks/03_Data_Ingestion.py:62,91,117) and
    * Delta's TBLPROPERTIES. Properties whose key starts with
    * [[ConstraintPrefix]] are CHECK CONSTRAINTS: the value is a SQL
    * boolean expression every row-adding commit enforces (the DLT
    * `expect_or_fail` tier; the drop/quarantine tier is
    * [[graft.operators.Expectations]]).
    */
  private[sources] val PropPrefix = "prop:"

  /** Property-key prefix marking a CHECK constraint (Delta's
    * `delta.constraints.<name>` convention): `graft.constraints.<name>`
    * → SQL expression.
    */
  val ConstraintPrefix = "graft.constraints."

  /** Declarative clustering (`CREATE TABLE … CLUSTER BY (a, b)` /
    * `TBLPROPERTIES('graft.clusterBy'='a,b')`): comma-separated
    * LOGICAL column names every data-landing write range-clusters by,
    * so file-level min/max stats prune selective probes immediately
    * after plain INSERTs — no maintenance CALL needed to establish
    * layout discipline. Honored by [[appendCommit]], the DSv2 write
    * (as a declared distribution+ordering Spark plans the shuffle
    * for), the COW rewrite, and [[compact]]'s default cluster key.
    */
  val ClusterByProp = "graft.clusterBy"

  /** Advisory clustered-write file size in bytes (Delta's
    * `targetFileSize`): when set on a CLUSTERED table, the DSv2 write
    * passes it to AQE as the advisory partition size, so each INSERT
    * splits into range-disjoint files of roughly this size instead of
    * one full-range file — the knob that sizes clustered files to the
    * executor/scan sweet spot at any scale.
    */
  val TargetFileSizeProp = "graft.targetFileSize"

  /** The clustering columns recorded in `props` (empty = unclustered). */
  private[sources] def clusterByOf(props: Map[String, String]): Seq[String] =
    props.get(ClusterByProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** Range-cluster `df` on the table's clustering columns (columns
    * absent from this frame are skipped — e.g. a physical-named frame
    * mid-rename). Global range partition + in-file sort = disjoint
    * per-file key ranges = stats pruning works from the first INSERT.
    */
  private def clusterFrame(df: DataFrame, cols: Seq[String]): DataFrame = {
    val present = cols.filter(df.columns.contains)
    if (present.isEmpty) df
    else {
      val cs = present.map(org.apache.spark.sql.functions.col)
      df.repartitionByRange(cs: _*).sortWithinPartitions(cs: _*)
    }
  }

  /** The table properties of a stats map. */
  private[sources] def propertiesOf(stats: FileStats): Map[String, String] =
    stats.getOrElse(TableStatsFile, Map.empty).collect {
      case (k, (v, _)) if k.startsWith(PropPrefix) =>
        k.stripPrefix(PropPrefix) -> v
    }

  /** (current properties, current schema) of the table head — the
    * context a pre-commit stats pass (bloom digest columns, mapped
    * names) needs; empty for a not-yet-created table.
    */
  private[sources] def headContext(spark: SparkSession, dir: String)
      : (Map[String, String],
         Option[org.apache.spark.sql.types.StructType]) = {
    val vs = versions(spark, dir)
    if (vs.isEmpty) (Map.empty, None)
    else {
      val (_, _, schemaJson, stats) = readManifest(spark, dir, vs.last)
      (propertiesOf(stats), schemaJson.map(schemaOf))
    }
  }

  /** Current table properties (empty before any SET). */
  def tableProperties(spark: SparkSession, dir: String): Map[String, String] = {
    val vs = versions(spark, dir)
    if (vs.isEmpty) Map.empty
    else propertiesOf(readManifest(spark, dir, vs.last)._4)
  }

  /** SET / UNSET table properties as ONE metadata-only commit (same
    * files, same schema, updated `__table` ledger). A key under
    * [[ConstraintPrefix]] is validated at SET time: the value must
    * parse and resolve as a boolean expression against the CURRENT
    * schema — a constraint that can't be evaluated must fail here,
    * not at the first write. Returns the new version.
    */
  def setTableProperties(spark: SparkSession, dir: String,
      set: Map[String, String], unset: Seq[String] = Nil,
      tag: String = ""): Int = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty,
      s"ManagedTable.setTableProperties: no versions in $dir")
    val current = vs.last
    val (_, all, schemaJson, stats) = readManifest(spark, dir, current)
    val schema = schemaJson.map(schemaOf).getOrElse(
      org.apache.spark.sql.types.StructType(Nil))
    set.foreach { case (k, v) =>
      require(!k.contains("\n") && !v.contains("\n"),
        s"ManagedTable.setTableProperties: no newlines in '$k'")
      if (k.startsWith(ConstraintPrefix))
        requireConstraintResolves(spark, schema,
          k.stripPrefix(ConstraintPrefix), v)
    }
    // layout declarations must name REAL columns — a typo'd list would
    // silently never cluster/digest anything (the write side skips
    // absent names); digest columns must also be digest-eligible
    // types, or no sidecar would ever be built for them
    if (schema.fields.nonEmpty)
      Seq(ClusterByProp -> false, BloomSkipping.ColumnsProp -> true)
        .foreach { case (key, needEligible) =>
          set.get(key).toSeq
            .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
            .foreach { c =>
              val f = schema.fields.find(_.name == c)
              require(f.isDefined,
                s"ManagedTable.setTableProperties: $key column '$c' " +
                  s"is not in the table schema " +
                  schema.fieldNames.mkString("(", ", ", ")"))
              if (needEligible)
                require(BloomSkipping.eligible(f.get.dataType),
                  s"ManagedTable.setTableProperties: $key column " +
                    s"'$c' has type ${f.get.dataType.sql} — digests " +
                    "support integral, string, date and timestamp " +
                    "columns (canonical render on both build and " +
                    "probe sides)")
            }
        }
    val entry = stats.getOrElse(TableStatsFile, Map.empty)
    val updated = (entry -- unset.map(PropPrefix + _)) ++
      set.map { case (k, v) => (PropPrefix + k) -> (v, v) }
    val next = current + 1
    writeManifest(spark, dir, next, tag, all,
      schemaJson.getOrElse(""), stats + (TableStatsFile -> updated))
    next
  }

  /** The `__table` ledger carried across a FULL OVERWRITE (INSERT
    * OVERWRITE / DataFrame overwrite): replacing every row is not
    * replacing the table's CONTRACTS — properties, constraints and
    * the retired-physical ledger survive verbatim (Delta keeps
    * TBLPROPERTIES and constraints across INSERT OVERWRITE), while
    * the layout lists (clusterBy, digest columns) keep only columns
    * the overwrite's schema still has — a list naming a vanished
    * column would silently disable clustering/digesting forever.
    * Constraints are re-validated against the new schema at write
    * BUILD time, before any data stages.
    */
  private[sources] def carryLedgerForSchema(stats: FileStats,
      schema: org.apache.spark.sql.types.StructType): FileStats = {
    val entry = stats.getOrElse(TableStatsFile, Map.empty)
    if (entry.isEmpty) return Map.empty
    val names = schema.fieldNames.toSet
    val layoutKeys = Set(PropPrefix + ClusterByProp,
      PropPrefix + BloomSkipping.ColumnsProp)
    val updated = entry.flatMap {
      case (k, (v, _)) if layoutKeys(k) =>
        val filtered = v.split(",").map(_.trim)
          .filter(c => c.nonEmpty && names(c)).mkString(",")
        if (filtered.isEmpty) None else Some(k -> ((filtered, filtered)))
      case (k, pv) => Some(k -> pv)
    }
    if (updated.isEmpty) Map.empty else Map(TableStatsFile -> updated)
  }

  /** The CHECK constraints of a property map: name → SQL expression. */
  def constraintsOf(props: Map[String, String]): Map[String, String] =
    props.collect { case (k, v) if k.startsWith(ConstraintPrefix) =>
      k.stripPrefix(ConstraintPrefix) -> v
    }

  /** Fail unless `expr` parses and resolves as a filter against
    * `schema` — the gate both SET TBLPROPERTIES and the schema DDLs
    * (rename/drop of a referenced column) run.
    */
  private[sources] def requireConstraintResolves(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, name: String,
      expr: String): Unit =
    try {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        ColumnMapping.strip(schema))
        .filter(org.apache.spark.sql.functions.expr(expr))
        .queryExecution.analyzed
      ()
    } catch {
      case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"graft: CHECK constraint '$name' ($expr) does not resolve " +
            s"against schema ${schema.map(_.name).mkString("(", ", ", ")")}" +
            s": ${e.getMessage}", e)
    }

  /** Enforce every CHECK constraint on rows about to COMMIT — SQL
    * CHECK semantics: a row violates only when the expression is
    * FALSE (NULL passes). One job over the new/rewritten rows only
    * (never the table), and zero cost when no constraints are set.
    */
  private[sources] def enforceConstraints(df: DataFrame,
      props: Map[String, String], op: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val cs = constraintsOf(props)
    if (cs.isEmpty) return
    cs.foreach { case (name, sql) =>
      val bad = df.filter(not(coalesce(expr(sql), lit(true))))
      if (!bad.isEmpty)
        throw new IllegalArgumentException(
          s"graft: $op violates CHECK constraint '$name' ($sql) — " +
            "no rows were committed")
    }
  }

  /** [[enforceConstraints]] over STAGED segment files (the DSv2
    * writers: rows already on disk, manifest not yet claimed) — read
    * back under the head schema's mapping, logical names, one scan of
    * the staged files only. A violation throws BEFORE any manifest
    * write; the staged orphans fall to [[vacuum]] like any abort.
    */
  private[sources] def enforceConstraintsOnFiles(spark: SparkSession,
      dir: String, relFiles: Seq[String], op: String): Unit = {
    if (relFiles.isEmpty) return
    val vs = versions(spark, dir)
    if (vs.isEmpty) return
    val (_, _, schemaJson, stats) = readManifest(spark, dir, vs.last)
    val props = propertiesOf(stats)
    if (constraintsOf(props).isEmpty) return
    val schema = schemaJson.map(schemaOf).getOrElse(return)
    val written = relogical(
      scanFiles(spark, dir, relFiles, ColumnMapping.physSchema(schema)),
      schema)
    enforceConstraints(written, props, op)
  }

  private[sources] def readManifest(spark: SparkSession, dir: String,
      v: Int): (String, Seq[String], Option[String], FileStats) = {
    val f = fs(spark, dir)
    def readRaw(): String = {
      val in = f.open(new Path(manifestDir(dir), s"v$v.json"))
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        bytes.toString("UTF-8")
      } finally in.close()
    }
    // The manifest NAME is claimed (create-excl) a moment before its
    // content lands; an empty or torn read means the committer is
    // inside that window — spin briefly instead of misreading an
    // in-flight commit as an empty/garbled version (a race the
    // concurrent-merge spec actually caught). A manifest still
    // unreadable after the timeout means a writer crashed mid-commit:
    // surfaced as an error, never as silent data loss. Completeness
    // check = all 4 lines present and the stats JSON parses (the
    // manifest's last bytes — if they parse, everything before landed).
    def parse(raw: String): (String, Seq[String], Option[String], FileStats) = {
      val lines = raw.split("\n", 4)
      // Every manifest writeManifest produces has exactly 4 lines and a
      // non-empty stats tail (at least "{}"); a shorter or stats-empty
      // read is a torn read of an in-flight commit — rejecting it here
      // (→ the retry loop below) is what stops a cut inside line 2
      // from being misread as a complete manifest with a truncated
      // file list. The stats JSON is the final bytes: if it parses,
      // everything before it landed.
      require(lines.length == 4 && lines(3).trim.nonEmpty,
        "manifest incomplete")
      val tag = lines(0)
      val list = lines(1)
      val schema = Some(lines(2).trim).filter(_.nonEmpty)
      val stats = parseStats(lines(3))
      val files = list.trim.stripPrefix("[").stripSuffix("]").split(",").toSeq
        .filter(_.nonEmpty).map(_.trim.stripPrefix("\"").stripSuffix("\""))
      (tag, files, schema, stats)
    }
    var waitedMs = 0
    var result: Option[(String, Seq[String], Option[String], FileStats)] = None
    var lastErr: Throwable = null
    while (result.isEmpty && waitedMs <= 2000) {
      try result = Some(parse(readRaw()))
      catch {
        case scala.util.control.NonFatal(e) =>
          lastErr = e; Thread.sleep(10); waitedMs += 10
      }
    }
    result.getOrElse(throw new java.io.IOException(
      s"ManagedTable: manifest v$v of $dir unreadable after ${waitedMs}ms " +
        "(committer crashed between claim and content write?)", lastErr))
  }

  /** Manifest line 3 → the version's schema. */
  private[sources] def schemaOf(json: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  // stats JSON via Jackson (already on Spark's classpath — it's what
  // Spark itself parses JSON with); values are all strings, so the
  // shape is a plain nested map: {"file":{"col":["min","max"],…},…}
  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def renderStats(stats: FileStats): String = {
    val root = new java.util.LinkedHashMap[String, Object]()
    stats.toSeq.sortBy(_._1).foreach { case (file, cols) =>
      val m = new java.util.LinkedHashMap[String, Object]()
      cols.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
        m.put(c, java.util.List.of(lo, hi))
      }
      root.put(file, m)
    }
    mapper.writeValueAsString(root)
  }

  private def parseStats(json: String): FileStats = {
    val t = json.trim
    if (t.isEmpty || t == "{}") return Map.empty
    val root = mapper.readTree(t)
    val out = Map.newBuilder[String, Map[String, (String, String)]]
    root.properties().forEach { e =>
      val cols = Map.newBuilder[String, (String, String)]
      e.getValue.properties().forEach { c =>
        cols += c.getKey -> (c.getValue.get(0).asText(),
          c.getValue.get(1).asText())
      }
      out += e.getKey -> cols.result()
    }
    out.result()
  }

  /** Columns stats are kept for: orderable atomics whose recorded
    * render round-trips exactly — numerics via BigDecimal, strings
    * verbatim, and date/timestamp as epoch-day / epoch-micro NUMERIC
    * strings ([[statExpr]]: no calendar text render ever touches the
    * manifest, so there is no timezone or format hazard on either the
    * build or the probe side). Everything else is skipped — absent
    * stats mean "never pruned", which is always safe.
    */
  private def statsColumns(
      schema: org.apache.spark.sql.types.StructType): Seq[String] =
    schema.fields.toSeq.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
        || f.dataType == org.apache.spark.sql.types.StringType
        || f.dataType == org.apache.spark.sql.types.DateType
        || f.dataType == org.apache.spark.sql.types.TimestampType => f.name
    }

  /** The expression whose min/max/digest the stats pass records for a
    * column: the column itself, except date/timestamp which convert
    * to their internal numerics (monotone, so min/max commute with
    * the conversion). Probes convert their values the same way
    * ([[GraftScan.renderStatsValue]]); runtime-filter literals arrive
    * as these numerics natively.
    */
  private def statExpr(df: org.apache.spark.sql.DataFrame,
      c: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, unix_date, unix_micros}
    df.schema.fields.find(_.name == c).map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) =>
        unix_micros(col(c))
      case Some(org.apache.spark.sql.types.DateType) => unix_date(col(c))
      case _ => col(c)
    }
  }

  /** One aggregation pass over freshly written segment files: per-file
    * min/max for every [[statsColumns]] column, plus the file's ROW
    * COUNT under the [[RowsStat]] pseudo-column and each stats
    * column's NON-NULL count under [[nnStat]] (all stored as
    * `(count, count)` so they ride the existing stats format — old
    * manifests simply lack the entries and stats consumers that need
    * counts fall back). One extra scan of the
    * NEW segment only (Delta folds this into the writer; a plain
    * parquet write can't be hooked, so the segment — just written and
    * page-cached — is re-read once). All-null columns in a file are
    * omitted from min/max (no stats = never pruned) but still carry
    * their zero non-null count.
    */
  private[sources] def segmentStats(spark: SparkSession, dir: String,
      relFiles: Seq[String], props: Map[String, String] = Map.empty,
      logical: Option[org.apache.spark.sql.types.StructType] = None)
      : FileStats = {
    if (relFiles.isEmpty) return Map.empty
    // FAST PATH — derive the stats from the parquet FOOTERS the write
    // already produced instead of re-reading the segment with a Spark
    // job (guide §1.2 "don't compute things you throw away": the old
    // pass re-scanned every fresh segment once per commit, a full
    // extra read of all written data plus one job of fixed scheduling
    // cost — the dominant slice of a small streaming append). Tables
    // declaring Bloom digest columns still need a data pass (digests
    // are built from the values) — but a COLUMN-PRUNED one reading
    // only the digest columns, with footers supplying the rest. Any
    // file/column the footer can't prove exactly falls back to the
    // full scan path, so the output contract is unchanged.
    footerStats(spark, dir, relFiles) match {
      case Some(st) =>
        if (BloomSkipping.bloomColsOf(props).isEmpty) return st
        val dg = digestStats(spark, dir, relFiles, props, logical)
        return st.map { case (rel, kv) =>
          rel -> (kv ++ dg.getOrElse(rel, Map.empty)) }
      case None => ()
    }
    scanStats(spark, dir, relFiles, props, logical)
  }

  /** The digest half of [[scanStats]] alone — one grouped pass whose
    * aggs reference ONLY the declared Bloom columns, so the parquet
    * scan prunes every other column (the min/max/count half comes from
    * [[footerStats]]). Executor-side sidecar writes and the
    * (file → digest stat entry) shape are identical to the fused pass.
    */
  private def digestStats(spark: SparkSession, dir: String,
      relFiles: Seq[String], props: Map[String, String],
      logical: Option[org.apache.spark.sql.types.StructType])
      : FileStats = {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(relFiles.map(p => s"$dir/$p"): _*)
    // pseudo-column collision: same "record nothing" rule as scanStats
    val recordRows = !df.schema.fieldNames.exists(n =>
      n == RowsStat || n.startsWith(NnPrefix) ||
        n.startsWith(BloomSkipping.StatPrefix))
    if (!recordRows) return Map.empty
    val declared = BloomSkipping.bloomColsOf(props)
    val phys = logical match {
      case Some(sch) => declared.filter(sch.fieldNames.contains)
        .map(c => ColumnMapping.physOf(sch, c))
      case None => declared
    }
    val bloomPhys = phys.distinct.filter(c => df.schema.fields.exists(f =>
      f.name == c && BloomSkipping.eligible(f.dataType)))
    if (bloomPhys.isEmpty) return Map.empty
    val fpp = BloomSkipping.fppOf(props)
    val aggs = bloomPhys.map(c =>
      BloomSkipping.digestColumn(statExpr(df, c), fpp).as(s"__bf_$c"))
    val grouped = df
      .groupBy(col("_metadata.file_path").as("__file"))
      .agg(aggs.head, aggs.tail: _*)
    val fieldNames = grouped.schema.fieldNames
    val rels = relFiles
    val dirStr = dir
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    grouped.rdd.map { r =>
      val abs = r.getString(0)
      val rel = rels.find(abs.endsWith(_)).getOrElse(abs)
      val kv = fieldNames.zipWithIndex.drop(1).flatMap { case (n, i) =>
        if (r.isNullAt(i)) None
        else {
          val c = n.stripPrefix("__bf_")
          val sidecar = BloomSkipping.sidecarRelFor(rel, c)
          BloomSkipping.writeSidecarBytes(s"$dirStr/$sidecar",
            r.getAs[Array[Byte]](i), serConf.value)
          Some((BloomSkipping.statKey(c),
            (sidecar, BloomSkipping.Scheme)))
        }
      }.toMap
      (rel, kv)
    }.collect().toMap
  }

  /** The original stats pass: one Spark aggregation job over the fresh
    * segment (still the path for Bloom-digest tables, and the fallback
    * when a footer is unusable — see [[footerStats]]).
    */
  private[sources] def scanStats(spark: SparkSession, dir: String,
      relFiles: Seq[String], props: Map[String, String] = Map.empty,
      logical: Option[org.apache.spark.sql.types.StructType] = None)
      : FileStats = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    if (relFiles.isEmpty) return Map.empty
    val df = spark.read.parquet(relFiles.map(p => s"$dir/$p"): _*)
    val cols = statsColumns(df.schema)
    // a user column literally named like a pseudo-column would collide
    // in the stats map — skip count recording for that table
    val recordRows = !df.schema.fieldNames.exists(n =>
      n == RowsStat || n.startsWith(NnPrefix) ||
        n.startsWith(BloomSkipping.StatPrefix))
    // Bloom digest columns ride the SAME grouped pass: the declared
    // property names LOGICAL columns; files carry PHYSICAL names —
    // translate through the schema being committed (identity for
    // unmapped tables), keep only present + digest-eligible types
    val bloomPhys: Seq[String] =
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
    if (cols.isEmpty && !recordRows && bloomPhys.isEmpty) return Map.empty
    val fpp = BloomSkipping.fppOf(props)
    val aggs = cols.flatMap(c => Seq(
      min(statExpr(df, c)).cast("string").as(s"__min_$c"),
      max(statExpr(df, c)).cast("string").as(s"__max_$c")) ++
      (if (recordRows) Seq(count(col(c)).cast("string").as(s"__nn_$c"))
       else Nil)) ++
      (if (recordRows) Seq(count(lit(1)).cast("string").as("__nrows"))
       else Nil) ++
      bloomPhys.map(c =>
        BloomSkipping.digestColumn(statExpr(df, c), fpp).as(s"__bf_$c"))
    val grouped = df
      .groupBy(col("_metadata.file_path").as("__file"))
      .agg(aggs.head, aggs.tail: _*)
    // digest sidecars are written ON THE EXECUTORS as the grouped rows
    // stream out — the driver collects only (file, small string cells);
    // digest BYTES never cross the driver boundary. The SESSION's
    // Hadoop configuration rides into the closure (serialized) so the
    // executor-side sidecar write resolves filesystems exactly as the
    // session would — object-store credentials and FS overrides live
    // there, and this path is not fail-open.
    val fieldNames = grouped.schema.fieldNames
    val rels = relFiles
    val dirStr = dir
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val collected: Array[(String, Map[String, String])] =
      grouped.rdd.map { r =>
        val abs = r.getString(0)
        val rel = rels.find(abs.endsWith(_)).getOrElse(abs)
        val kv = fieldNames.zipWithIndex.drop(1).flatMap { case (n, i) =>
          if (r.isNullAt(i)) None
          else if (n.startsWith("__bf_")) {
            val c = n.stripPrefix("__bf_")
            val sidecar = BloomSkipping.sidecarRelFor(rel, c)
            BloomSkipping.writeSidecarBytes(s"$dirStr/$sidecar",
              r.getAs[Array[Byte]](i), serConf.value)
            Some((BloomSkipping.statKey(c), sidecar))
          } else Some((n, r.getString(i)))
        }.toMap
        (rel, kv)
      }.collect()
    val nonEmpty = collected.map { case (rel, kv) =>
      val colStats = cols.flatMap { c =>
        for {
          lo <- kv.get(s"__min_$c")
          hi <- kv.get(s"__max_$c")
        } yield c -> (lo, hi)
      }.toMap
      val withRows =
        if (recordRows)
          colStats ++
            cols.flatMap(c =>
              kv.get(s"__nn_$c").map(nn => nnStat(c) -> ((nn, nn)))) ++
            kv.get("__nrows").map(n => RowsStat -> ((n, n)))
        else colStats
      val withBf = withRows ++ bloomPhys.flatMap(c =>
        kv.get(BloomSkipping.statKey(c)).map(s =>
          BloomSkipping.statKey(c) -> ((s, BloomSkipping.Scheme))))
      rel -> withBf
    }.toMap
    // a file the grouped pass never saw has ZERO rows (an empty
    // CREATE/empty-partition part file) — record that as a fact, so
    // one empty file can't forever disqualify count-from-manifest
    val empty = relFiles.filterNot(nonEmpty.contains).map { rel =>
      rel -> (if (recordRows)
                cols.map(c => nnStat(c) -> ("0", "0")).toMap +
                  (RowsStat -> ("0", "0"))
              else Map.empty[String, (String, String)])
    }.toMap
    nonEmpty ++ empty
  }

  /** Derive a fresh segment's manifest stats from its parquet FOOTERS —
    * zero data reads, zero Spark jobs (a driver loop over O(files)
    * footers, each a few KB and page-hot right after the write). This
    * is Delta's model (the writer emits the stats with the file); a
    * plain `df.write.parquet` can't be hooked, but the footer already
    * carries exactly what the manifest records:
    *
    *   - min/max per column, EXACT for the whitelisted types whose
    *     footer value IS the recorded render: integral (INT32/INT64 →
    *     decimal string), string (BINARY/UTF8 verbatim — the footer
    *     comparator is unsigned-lexicographic, identical to the
    *     UTF8String order [[planFilesMulti]]/`GraftScan.cmp` compare
    *     with), date (INT32 days = `unix_date`), timestamp
    *     (INT64 micros, adjusted-to-UTC = `unix_micros` — why
    *     [[writeSegment]] pins TIMESTAMP_MICROS), and decimal
    *     (unscaled+scale → plain string; consumers parse BigDecimal);
    *   - float/double min/max are deliberately NOT taken from footers
    *     (parquet NaN statistics semantics differ by writer version;
    *     absent stats only ever mean "never pruned", and MIN/MAX
    *     pushdown already refuses float/double) — their non-null
    *     counts still record;
    *   - row count and per-column non-null counts from block
    *     rowCount / numNulls.
    *
    * Returns None — caller falls back to the [[scanStats]] data pass —
    * whenever exactness can't be PROVEN from the footer alone: a
    * statistics-less chunk that isn't provably all-null (parquet-mr
    * drops binary stats past 4 KB), an unexpected physical/logical
    * type, mixed file schemas, a column-index-truncated endpoint
    * (detected as a non-value by max < min re-check), or any read
    * error. The MIN/MAX-from-manifest pushdown's "stats entry with no
    * column entry = all-NULL file" contract is preserved exactly: a
    * column omits its endpoints only when every chunk is provably
    * all-null.
    */
  private[sources] def footerStats(spark: SparkSession, dir: String,
      relFiles: Seq[String]): Option[FileStats] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.io.InputFile
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.{LogicalTypeAnnotation => L,
      PrimitiveType}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val conf = spark.sessionState.newHadoopConf()
    // the render for one top-level primitive column, or None when the
    // type is outside the exact-render whitelist (caller falls back)
    type Render = Comparable[_] => String
    def renderOf(t: org.apache.parquet.schema.Type): Option[Option[Render]] = {
      // Some(Some(r)) = stats column with render r; Some(None) =
      // numeric-tier column tracked for counts only (float/double);
      // None = not a stats column (skip entirely)
      if (!t.isPrimitive) return None // arrays/groups: never stats
      val p = t.asPrimitiveType()
      val ann = p.getLogicalTypeAnnotation
      (p.getPrimitiveTypeName, ann) match {
        case (INT32 | INT64, null) => Some(Some(v => String.valueOf(v)))
        case (INT32 | INT64, i: L.IntLogicalTypeAnnotation)
            if i.isSigned => Some(Some(v => String.valueOf(v)))
        case (BINARY, _: L.StringLogicalTypeAnnotation) =>
          Some(Some(v => new String(
            v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
            java.nio.charset.StandardCharsets.UTF_8)))
        case (INT32, _: L.DateLogicalTypeAnnotation) =>
          Some(Some(v => String.valueOf(v)))
        case (INT64, ts: L.TimestampLogicalTypeAnnotation)
            if ts.isAdjustedToUTC &&
              ts.getUnit == L.TimeUnit.MICROS =>
          Some(Some(v => String.valueOf(v)))
        case (INT32 | INT64, d: L.DecimalLogicalTypeAnnotation) =>
          Some(Some(v => java.math.BigDecimal.valueOf(
            v.asInstanceOf[Number].longValue, d.getScale).toPlainString))
        case (FIXED_LEN_BYTE_ARRAY | BINARY,
            d: L.DecimalLogicalTypeAnnotation) =>
          Some(Some(v => new java.math.BigDecimal(
            new java.math.BigInteger(v
              .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes),
            d.getScale).toPlainString))
        case (FLOAT | DOUBLE, null) => Some(None) // counts only
        case (BOOLEAN, _) | (BINARY, null) => None // not a stats column
        case _ =>
          // INT96, unsigned ints, exotic annotations: a type the scan
          // path WOULD record — refuse the fast path rather than
          // silently dropping its stats
          throw FooterUnusable
      }
    }
    def statsOfFile(rel: String,
        expectSchema: org.apache.parquet.schema.MessageType)
        : (org.apache.parquet.schema.MessageType,
           Map[String, (String, String)]) = {
      val in: InputFile = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/$rel"), conf)
      val r = ParquetFileReader.open(in)
      try {
        val md = r.getFooter
        val schema = md.getFileMetaData.getSchema
        if (expectSchema != null && schema != expectSchema)
          throw FooterUnusable // mixed segment schemas: scan path
        val names = schema.getFields
        // pseudo-column collision discipline — identical to scanStats
        val recordRows = !(0 until names.size).exists { i =>
          val n = names.get(i).getName
          n == RowsStat || n.startsWith(NnPrefix) ||
            n.startsWith(BloomSkipping.StatPrefix)
        }
        val blocks = md.getBlocks
        val nRows = (0 until blocks.size)
          .map(i => blocks.get(i).getRowCount).sum
        val out = Map.newBuilder[String, (String, String)]
        if (recordRows)
          out += RowsStat -> ((nRows.toString, nRows.toString))
        (0 until names.size).foreach { fi =>
          val field = names.get(fi)
          renderOf(field).foreach { render =>
            val colPath = org.apache.parquet.hadoop.metadata.ColumnPath
              .get(field.getName)
            var nn = 0L
            var mn: Comparable[_] = null
            var mx: Comparable[_] = null
            (0 until blocks.size).foreach { bi =>
              val block = blocks.get(bi)
              val chunks = block.getColumns
              var chunk: org.apache.parquet.hadoop.metadata
                .ColumnChunkMetaData = null
              (0 until chunks.size).foreach { ci =>
                if (chunks.get(ci).getPath == colPath)
                  chunk = chunks.get(ci)
              }
              if (chunk == null) throw FooterUnusable
              val st = chunk.getStatistics
              if (st == null || st.isEmpty || !st.isNumNullsSet)
                throw FooterUnusable
              val chunkRows = block.getRowCount
              nn += chunkRows - st.getNumNulls
              if (st.hasNonNullValue) {
                val cmp = st.comparator()
                  .asInstanceOf[java.util.Comparator[Any]]
                val bMin = st.genericGetMin
                  .asInstanceOf[Comparable[_]]
                val bMax = st.genericGetMax
                  .asInstanceOf[Comparable[_]]
                if (mn == null || cmp.compare(bMin, mn) < 0) mn = bMin
                if (mx == null || cmp.compare(bMax, mx) > 0) mx = bMax
              } else if (st.getNumNulls != chunkRows && render.isDefined)
                // values exist but no endpoints recorded (oversized
                // binary stats dropped at write): unprovable. Only
                // fatal when the column needs endpoints — float/double
                // (counts-only; parquet-mr omits min/max whenever a
                // chunk holds a NaN) just keep their null counts.
                throw FooterUnusable
            }
            if (recordRows)
              out += nnStat(field.getName) -> ((nn.toString, nn.toString))
            render match {
              case Some(rd) if mn != null && mx != null =>
                out += field.getName -> ((rd(mn), rd(mx)))
              case _ => () // all-null column, or counts-only type
            }
          }
        }
        (schema, out.result())
      } finally r.close()
    }
    try {
      var schema0: org.apache.parquet.schema.MessageType = null
      val b = Map.newBuilder[String, Map[String, (String, String)]]
      relFiles.foreach { rel =>
        val (sch, st) = statsOfFile(rel, schema0)
        if (schema0 == null) schema0 = sch
        b += rel -> st
      }
      Some(b.result())
    } catch {
      case FooterUnusable => None
      case _: java.io.IOException => None
    }
  }

  /** Control-flow sentinel of [[footerStats]]: "this footer can't
    * prove the stats — take the scan path". Stackless, never observed
    * outside footerStats.
    */
  private object FooterUnusable
    extends RuntimeException(null, null, false, false)

  /** Pseudo-column key in [[FileStats]] holding the file's row count
    * (as `(n, n)`). Never a real column name ([[planFilesMulti]] only
    * looks up pushed columns, so the entry is invisible to pruning);
    * what lets COUNT-shaped aggregates answer from the manifest alone.
    */
  private[sources] val RowsStat = "__rows"

  /** Pseudo-column key holding a column's per-file NON-NULL count (as
    * `(n, n)`) — what lets `COUNT(col)` answer from the manifest. Same
    * collision discipline as [[RowsStat]]: recording is skipped for
    * tables with user columns in the pseudo namespace.
    */
  private[sources] def nnStat(column: String): String = NnPrefix + column
  private[sources] val NnPrefix = "__nn:"

  /** Write `df` as the table's next version. The data lands in a fresh
    * immutable segment directory first; the version becomes VISIBLE
    * only when the manifest file is created (create-fails-if-exists —
    * a concurrent committer racing to the same version number loses
    * cleanly and must retry on top of the new state).
    *
    * `tag`: opaque committer metadata recorded INSIDE the manifest file
    * (its first line — the name stays `v<N>.json`); the streaming sink
    * stores the micro-batch id there to make replayed batches
    * detectable.
    */
  def commit(df: DataFrame, dir: String, tag: String = ""): Int = {
    val spark = df.sparkSession
    val next = versions(spark, dir).lastOption.getOrElse(0) + 1
    val files = writeSegment(df, dir, next)
    writeManifest(spark, dir, next, tag, files, df.schema.json,
      segmentStats(spark, dir, files))
    next
  }

  /** Name AND type compatibility against the table schema —
    * column-name equality alone would let a writer land e.g. an int32
    * segment into a long column and break every subsequent read of
    * the table (the failure would surface far from the faulty
    * writer). Nullability is not part of the contract.
    */
  private def requireSchemaCompatible(op: String, df: DataFrame,
      table: org.apache.spark.sql.types.StructType): Unit = {
    def norm(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => f.name -> f.dataType).sortBy(_._1).toSeq
    require(norm(df.schema) == norm(table),
      s"ManagedTable.$op: frame schema ${norm(df.schema)} must match " +
        s"the table schema ${norm(table)} (names AND types)")
  }

  /** APPEND `df` as a new version: the previous version's full file
    * list (deletion vectors included, unchanged) plus the fresh
    * segment — Delta's append mode, vs [[commit]]'s full-snapshot
    * replace. Column order is normalized and names AND types are
    * checked against the table schema so mixed writers can't
    * interleave incompatible parquet layouts.
    */
  def appendCommit(df: DataFrame, dir: String, tag: String = ""): Int = {
    val spark = df.sparkSession
    val vs = versions(spark, dir)
    if (vs.isEmpty) return commit(df, dir, tag)
    val current = vs.last
    val (_, all, schemaJson, stats) = readManifest(spark, dir, current)
    val schema = schemaJson.map(schemaOf)
    schema.foreach(requireSchemaCompatible("appendCommit", df, _))
    val (files, dvFiles) = splitDv(all)
    val next = current + 1
    val logicalOrdered = schema.map(sch =>
      df.select(sch.fieldNames.map(org.apache.spark.sql.functions.col): _*))
      .getOrElse(df)
    enforceConstraints(logicalOrdered, propertiesOf(stats), "appendCommit")
    // declared clustering: range-sort the staged rows on the cluster
    // key (logical names) so this append's files carry disjoint
    // min/max ranges from the start
    val clustered = clusterFrame(logicalOrdered,
      clusterByOf(propertiesOf(stats)))
    val ordered = schema.map(sch =>
      ColumnMapping.toPhysicalFrame(clustered, sch))
      .getOrElse(clustered)
    val newData = writeSegment(ordered, dir, next)
    writeManifest(spark, dir, next, tag,
      files ++ newData ++ dvFiles.map("dv:" + _),
      schema.map(_.json).getOrElse(df.schema.json),
      stats ++ segmentStats(spark, dir, newData,
        propertiesOf(stats), schema))
    next
  }

  /** Commit exactly once per streaming micro-batch: append under the
    * `b<batchId>` idempotence tag, skipping if ANY prior attempt
    * already landed it — the shared foreachBatch tail of
    * `Expectations.quarantineStreamingSink` and
    * `StreamingOps.dedupAgainstStore` ([[streamingSink]] keeps its
    * original one-version-per-batch REPLACE semantics, which its
    * readers consume version-by-version). Returns true when this
    * call committed (false = replay of an already-landed batch).
    */
  def idempotentAppend(df: DataFrame, dir: String,
      batchId: Long): Boolean = {
    val spark = df.sparkSession
    val done = committedTags(spark, dir).contains(s"b$batchId")
    if (!done) appendCommit(df, dir, s"b$batchId")
    !done
  }

  /** Write `df` as version `v`'s fresh data segment; returns the
    * segment-relative parquet paths (empty for a no-row write).
    *
    * Timestamps are written as INT64 micros (TIMESTAMP_MICROS), never
    * Spark's INT96 default: the connector's own Group-API writer
    * already uses the standard annotation ([[GraftParquetSchema]]),
    * both custom readers decode it, and — unlike INT96, which parquet
    * deprecated without statistics support — INT64 columns carry
    * footer min/max/null-count stats, which lets [[segmentStats]]
    * derive the manifest stats from the footers instead of re-reading
    * the segment (set/restore around the one write; concurrent
    * writers racing the conf both set the same value).
    */
  private def writeSegment(df: DataFrame, dir: String, v: Int): Seq[String] = {
    val segment = s"data/v$v-${java.util.UUID.randomUUID()}"
    val sess = df.sparkSession
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = sess.conf.getOption(tsKey)
    sess.conf.set(tsKey, "TIMESTAMP_MICROS")
    try df.write.mode("error").parquet(s"$dir/$segment")
    finally prevTs match {
      case Some(p) => sess.conf.set(tsKey, p)
      case None => sess.conf.unset(tsKey)
    }
    val f = fs(df.sparkSession, dir)
    f.listStatus(new Path(s"$dir/$segment")).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .sorted
      .map(n => s"$segment/$n")
  }

  /** Atomically claim version `v` with an explicit file list — the
    * shared commit tail of [[commit]], [[merge]] and [[compact]] (which
    * reuse untouched segments from the previous version instead of
    * rewriting them).
    */
  private[sources] def writeManifest(spark: SparkSession, dir: String, v: Int,
      tag: String, files: Seq[String], schemaJson: String,
      stats: FileStats): Unit = {
    require(!tag.contains("\n"), s"ManagedTable: invalid tag '$tag'")
    val f = fs(spark, dir)
    val manifest = tag + "\n" +
      files.map(p => "\"" + p + "\"").mkString("[", ",", "]") + "\n" +
      schemaJson + "\n" +
      renderStats(stats)
    f.mkdirs(manifestDir(dir))
    val target = new Path(manifestDir(dir), s"v$v.json")
    if (f.getUri.getScheme == "file") {
      // Local FS: Hadoop's create(path, overwrite = false) is
      // CHECK-THEN-ACT (RawLocalFileSystem tests exists() and then
      // opens a plain FileOutputStream — no O_EXCL), so two racing
      // committers can BOTH "claim" the same version and one silently
      // overwrites the other (the barrier-raced concurrent-merge spec
      // caught exactly this). link(2) is the real fail-if-exists
      // primitive: write the full content to a private temp file, then
      // hard-link it to the manifest name — EEXIST arbitration AND
      // content publication in one atomic syscall (no claim/content
      // window at all, so readers never see a torn local manifest).
      val mdir = java.nio.file.Paths.get(
        f.makeQualified(manifestDir(dir)).toUri.getPath)
      val tmp = java.nio.file.Files.createTempFile(mdir, s".v$v-", ".tmp")
      try {
        // force(true) before the link: the link publishes the content,
        // so the bytes must be durable first or a crash right after
        // commit() returns can leave v<N>.json torn after reboot (the
        // hsync the non-local branch has always had).
        val ch = java.nio.channels.FileChannel.open(tmp,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          ch.write(java.nio.ByteBuffer.wrap(manifest.getBytes("UTF-8")))
          ch.force(true)
        } finally ch.close()
        try {
          java.nio.file.Files.createLink(mdir.resolve(s"v$v.json"), tmp)
        } catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            throw new java.io.IOException(
              s"ManagedTable: version $v already claimed", e)
          case _: UnsupportedOperationException =>
            // Filesystems without link(2) (some container/network
            // mounts): fall back to CREATE_NEW, which is still
            // O_EXCL-atomic for the claim; the content window it opens
            // is the same one readManifest already spins through on
            // non-local stores.
            try {
              java.nio.file.Files.copy(tmp, mdir.resolve(s"v$v.json"))
            } catch {
              case e: java.nio.file.FileAlreadyExistsException =>
                throw new java.io.IOException(
                  s"ManagedTable: version $v already claimed", e)
            }
        }
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      // Non-local FS: create(..., overwrite = false) is the store's
      // put-if-absent (atomic on HDFS and O_EXCL-semantics object
      // stores). The claim lands before the content: readManifest
      // spins through that window (see its scaladoc) rather than
      // observing an empty manifest.
      val out = f.create(target, false)
      try { out.write(manifest.getBytes("UTF-8")); out.hsync() }
      finally out.close()
    }
  }

  /** Committer tags in version order (empty string where untagged). */
  def tags(spark: SparkSession, dir: String): Seq[(Int, String)] =
    versions(spark, dir).map(v => v -> readManifest(spark, dir, v)._1)

  /** The committed tag SET through the incremental per-table tag index
    * — the read every per-micro-batch replay/resume check should use:
    * O(1 + new versions) manifest reads per call instead of `tags()`'s
    * full-history scan, which over a stream's lifetime is O(batches²).
    * Same validity-probed cache as the built-in streaming sinks.
    */
  def committedTagSet(spark: SparkSession, dir: String): Set[String] =
    committedTags(spark, dir)

  /** Per-table (version → tag) cache for the streaming sinks' replay
    * check: a full `tags()` on every micro-batch reads EVERY version's
    * manifest, which over a stream's lifetime is O(batches²) reads and
    * per-batch latency growing with table history. Manifests are
    * immutable once claimed, so the index only ever extends — each
    * batch reads the manifests of versions it hasn't seen plus ONE
    * validity probe (the cached newest version's tag must still match,
    * which catches a table deleted and re-created at the same path
    * mid-session; version regression catches the rest). Driver-local
    * state only: a fresh driver rebuilds it from the manifest log, so
    * crash-replay idempotence never depends on the cache.
    */
  private val tagIndex =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Seq[String])]()

  private def committedTags(spark: SparkSession, dir: String): Set[String] = {
    val vs = versions(spark, dir)
    // tags of versions [[vacuumHistory]] dropped live on in the
    // retired-tags ledger — one extra listStatus per call, the same
    // cost class as versions()'s own listing
    val retired = retiredTags(spark, dir)._2.toSet
    if (vs.isEmpty) { tagIndex.remove(dir); return retired }
    // validity probe: beyond "newest cached version still exists with
    // its cached tag", also require the HISTORY SHAPE to match — same
    // number of versions up to maxV and the same first version's tag.
    // A table deleted and re-created at the same path can reach the
    // same max version with the same newest tag (e.g. a replayed
    // bootstrap) while carrying a different earlier history; trusting
    // the stale cache there would mark old-table tags as committed and
    // silently skip batches that never landed in the new table. Two
    // O(1) manifest reads per batch, not a full history scan.
    val cached = Option(tagIndex.get(dir)).filter { case (maxV, ts) =>
      vs.contains(maxV) &&
        ts.size == vs.count(_ <= maxV) &&
        readManifest(spark, dir, maxV)._1 == ts.last &&
        readManifest(spark, dir, vs.head)._1 == ts.head
    }
    val entry = cached match {
      case Some((maxV, ts)) =>
        (vs.last, ts ++ vs.filter(_ > maxV)
          .map(v => readManifest(spark, dir, v)._1))
      case None =>
        (vs.last, vs.map(v => readManifest(spark, dir, v)._1))
    }
    tagIndex.put(dir, entry)
    entry._2.toSet ++ retired
  }

  /** Streaming append sink: each micro-batch commits as one table
    * version tagged `b<batchId>`. EXACTLY-ONCE across restarts by
    * idempotence: foreachBatch can replay a batch after a crash, but a
    * replayed id is already present in the manifest tags and is
    * skipped — the pair (checkpointed source offsets, tagged manifest
    * log) is precisely the two-ledger design of the reference's Delta
    * streaming sink. Start with `.option("checkpointLocation", …)` and
    * any trigger.
    */
  def streamingSink(stream: DataFrame, dir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val done = committedTags(spark, dir).contains(s"b$batchId")
      if (!done) { commit(batch, dir, s"b$batchId"); () }
    }

  /** Read a version (default: latest). Only manifest-listed files are
    * read — never a directory listing of `data/`, and no Spark job runs
    * to build the frame ([[scanFiles]]) — and the scan uses
    * the MANIFEST's recorded schema, not footer inference: a version
    * whose older segments predate a schema evolution (see [[merge]])
    * gets the missing columns null-filled deterministically (inference
    * would pick an arbitrary file's footer), and a version with an
    * EMPTY file list (a no-row commit — e.g. an empty micro-batch from
    * [[streamingSink]]) reads back as a typed empty DataFrame instead
    * of failing.
    */
  def read(spark: SparkSession, dir: String,
      version: Option[Int] = None): DataFrame = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"ManagedTable.read: no committed versions in $dir")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"ManagedTable.read: version $v not in $vs")
    val (_, all, schemaJson, _) = readManifest(spark, dir, v)
    val (files, dvFiles) = splitDv(all)
    val schema = schemaJson.map(schemaOf).getOrElse(
      throw new IllegalStateException(
        s"ManagedTable.read: version $v of $dir has no recorded schema"))
    if (files.nonEmpty) scanMinusDv(spark, dir, files, schema, dvFiles)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        ColumnMapping.strip(schema))
  }

  /** The relative `data/<segment>/<file>` form of the scanned file's
    * `_metadata.file_path` — the file identity deletion vectors key on
    * (stable across mounts/URI schemes, unlike the absolute path).
    */
  private def relPathCol: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    concat(lit("data/"),
      substring_index(col("_metadata.file_path"), "/data/", -1))
  }

  /** A parquet scan of exactly `relFiles` (relative to `dir`) under the
    * given PHYSICAL `schema` — the one primitive every read of
    * manifest-listed or staged files goes through. The file list comes
    * from the caller, not from storage: one driver-side `getFileStatus`
    * per file on the same FileSystem handle [[readManifest]] uses, and
    * no Spark job, glob or footer inference (`spark.read.parquet` over
    * more than 32 paths runs a listing job, and without a schema a
    * footer-inference job). The schema is made nullable exactly as
    * `spark.read.schema(s)` does, the relation keeps the v1 vectorized
    * reader and `_metadata.file_path`/`row_index`, and equal file lists
    * give equal plans, so `cache()` on one read is hit by the next. A
    * listed file missing on disk fails here — it never drops rows.
    */
  private[sources] def scanFiles(spark: SparkSession, dir: String,
      relFiles: Seq[String],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val f = fs(spark, dir)
    val index = new ManifestFileIndex(
      relFiles.map(p => f.getFileStatus(new Path(s"$dir/$p"))))
    spark.baseRelationToDataFrame(
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(index,
        org.apache.spark.sql.types.StructType(Nil),
        org.apache.spark.sql.graftshim.ColumnBridge.asNullable(schema),
        None,
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat(),
        Map.empty)(spark))
  }

  /** The fixed layout of a deletion-vector segment. */
  private val DvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("__file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("__pos",
      org.apache.spark.sql.types.LongType)))

  /** The (file, pos) rows of a version's deletion vector, read under
    * the fixed DV schema (no footer inference).
    */
  private[sources] def dvRows(spark: SparkSession, dir: String,
      dvFiles: Seq[String]): DataFrame =
    scanFiles(spark, dir, dvFiles, DvSchema)

  /** Per-file TOMBSTONE COUNTS of a version's deletion vector — the
    * only DV fact planning ever needs on the driver (live-row math,
    * which files carry tombstones at all). O(files-with-tombstones)
    * driver memory regardless of how many rows a bulk delete hit;
    * the POSITIONS are resolved executor-side per task from the DV
    * file refs the partitions carry (see GraftDvReader).
    */
  private[sources] def dvCounts(spark: SparkSession, dir: String,
      dvFiles: Seq[String]): Map[String, Long] =
    if (dvFiles.isEmpty) Map.empty
    else dvRows(spark, dir, dvFiles).groupBy("__file").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Scan `files` under the recorded `schema`, minus any rows the
    * deletion vector lists — the DV-aware primitive every read path
    * routes through. Both sides are [[scanFiles]] scans, so building
    * the frame lists nothing and runs no job. Zero overhead when
    * `dvFiles` is empty; otherwise one anti-join keyed (relative file,
    * row position), where the DV side is deleted-rows-sized (broadcast
    * by Spark's own size heuristics when small — the common case).
    */
  private def scanMinusDv(spark: SparkSession, dir: String,
      files: Seq[String], schema: org.apache.spark.sql.types.StructType,
      dvFiles: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    // segments are written under PHYSICAL names (identical to logical
    // until a rename/drop activates mapping — see [[ColumnMapping]]);
    // the scan reads physical and re-projects to logical at the end
    val physS = ColumnMapping.physSchema(schema)
    val base = scanFiles(spark, dir, files, physS)
    val deDv =
      if (dvFiles.isEmpty) base
      else base
        .withColumn("__file", relPathCol)
        .withColumn("__pos", col("_metadata.row_index"))
        .join(dvRows(spark, dir, dvFiles), Seq("__file", "__pos"), "left_anti")
        .drop("__file", "__pos")
    if (physS eq schema) deDv else deDv.toDF(schema.fieldNames: _*)
  }

  /** A physical-named scan (optionally carrying `__file`/`__pos`
    * bookkeeping columns) re-projected to LOGICAL names — what lets
    * the DML paths evaluate user predicates after a mapped read.
    * Identity for unmapped schemas.
    */
  private def relogical(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType,
      aux: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (!ColumnMapping.isMapped(schema)) df
    else df.select(schema.fields.toSeq.map(f =>
      col(ColumnMapping.phys(f)).as(f.name)) ++ aux.map(col): _*)
  }

  /** The LIVE rows of `files` under logical names, each tagged with its
    * (`__file`, `__pos`) identity — the row image the DML paths
    * evaluate predicates on. `_metadata` is tagged ON the scan, before
    * the DV anti-join (metadata columns don't resolve through derived
    * plans).
    */
  private def taggedLive(spark: SparkSession, dir: String,
      files: Seq[String], schema: org.apache.spark.sql.types.StructType,
      dvFiles: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val tagged = scanFiles(spark, dir, files, ColumnMapping.physSchema(schema))
      .withColumn("__file", relPathCol)
      .withColumn("__pos", col("_metadata.row_index"))
    val live =
      if (dvFiles.isEmpty) tagged
      else tagged.join(dvRows(spark, dir, dvFiles),
        Seq("__file", "__pos"), "left_anti")
    relogical(live, schema, Seq("__file", "__pos"))
  }

  /** The tombstone side of a [[replaceWhere]]-shaped commit: the union
    * of the live DV and the (`__file`, `__pos`) of every live row of
    * `files` matching `predicate`, written as one DV segment of version
    * `next` — or nothing when that union is empty. Zone-map pruned like
    * [[deleteWhere]]: only files whose recorded stats can hold a
    * matching row are opened; pruning all of them proves the fresh
    * tombstone set empty without any scan (old DV entries, if any,
    * still consolidate — identical manifest to the unpruned path).
    */
  private def tombstoneSegment(spark: SparkSession, dir: String,
      files: Seq[String], stats: FileStats,
      schema: org.apache.spark.sql.types.StructType, dvFiles: Seq[String],
      predicate: org.apache.spark.sql.Column, next: Int): Seq[String] = {
    if (files.isEmpty) return Seq.empty
    val candidates = predicateCandidates(files, stats, schema, predicate)
    val fresh: Option[DataFrame] =
      if (candidates.isEmpty) None
      else Some(taggedLive(spark, dir, candidates, schema, dvFiles)
        .filter(predicate).select("__file", "__pos"))
    if (fresh.isEmpty && dvFiles.isEmpty) return Seq.empty
    // cached: emptiness probe + DV write below share one tombstone scan
    // (deleted-rows-sized result)
    val union =
      ((fresh, dvFiles.isEmpty) match {
        case (Some(f), true) => f
        case (Some(f), false) => dvRows(spark, dir, dvFiles).unionByName(f)
        case (None, _) => dvRows(spark, dir, dvFiles)
      }).cache()
    try {
      if (union.isEmpty) Seq.empty
      else writeSegment(union.coalesce(1), dir, next)
    } finally { union.unpersist(); () }
  }

  /** DELETE WHERE, by DELETION VECTOR — row-level delete that rewrites
    * NO data segment (Delta's deletion vectors / Iceberg's position
    * deletes): the matching rows' (file, position) pairs land as a
    * small DV parquet segment, the new manifest carries the SAME data
    * files plus the DV reference, and every read path
    * ([[read]]/[[readCurrent]]/[[readWhere]]/[[merge]]/[[compact]]/
    * [[changes]]) anti-joins the DV. THE point at 100 TB: deleting a
    * few rows (GDPR erasure, bad-record retraction) from a table of
    * multi-GB segments costs O(deleted rows) + one manifest write —
    * not a segment rewrite; [[compact]] later folds DVs into real
    * bytes. The DV is CUMULATIVE: each delete commit writes the union
    * of all live (file, pos) tombstones as one fresh segment and
    * references only that, so readers always apply exactly one DV set
    * and old DV segments age out with their manifests ([[vacuum]]).
    * Per-file stats stay as written — a DV only removes rows, so
    * min/max stay sound for pruning (possibly wide, never wrong).
    * Time travel to pre-delete versions still sees the rows.
    * Returns the new version, or the current one when nothing
    * matched (no empty commits).
    */
  def deleteWhere(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column, tag: String = ""): Int = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"ManagedTable.deleteWhere: no versions in $dir")
    val current = vs.last
    val (_, all, schemaJson, stats) = readManifest(spark, dir, current)
    val (files, dvFiles) = splitDv(all)
    if (files.isEmpty) return current
    val schema = schemaJson.map(schemaOf).getOrElse(
      throw new IllegalStateException(
        s"ManagedTable.deleteWhere: version $current of $dir has no schema"))
    // zone-map pruning BEFORE the tombstone scan: a file whose recorded
    // per-column [min, max] is provably disjoint from the predicate's
    // implied bounds holds no matching row, so the scan below opens
    // only the files that can match — on a clustered table a selective
    // delete touches O(overlapping files), never the whole table.
    // Fail-open ([[predicateCandidates]]): untranslatable predicates
    // and missing stats scan everything, exactly as before.
    val candidates = predicateCandidates(files, stats, schema, predicate)
    // every candidate pruned: provably nothing matches — same no-op
    // version as a predicate matching no rows (the fresh.isEmpty path)
    if (candidates.isEmpty) return current
    // cached: the emptiness probe and the DV write below would each
    // re-run the full tombstone scan otherwise; the result is
    // deleted-rows-sized
    val fresh = taggedLive(spark, dir, candidates, schema, dvFiles)
      .filter(predicate).select("__file", "__pos").cache()
    try {
      if (fresh.isEmpty) return current
      val union =
        if (dvFiles.isEmpty) fresh
        else dvRows(spark, dir, dvFiles).unionByName(fresh)
      val next = current + 1
      // one small file: the DV is deleted-rows-sized by construction (at
      // real scale you'd bin per data file; the read side is identical)
      val dvSeg = writeSegment(union.coalesce(1), dir, next)
      writeManifest(spark, dir, next, tag,
        files ++ dvSeg.map("dv:" + _), schema.json, stats)
      next
    } finally { fresh.unpersist(); () }
  }

  /** replaceWhere — Delta's idempotent BACKFILL primitive: atomically
    * replace ALL rows matching `predicate` with the rows of
    * `replacement`, as ONE committed version — matching live rows are
    * tombstoned by deletion vector (no data segment rewritten: the
    * 100 TB property shared with [[deleteWhere]]) and the replacement
    * lands as a fresh segment in the SAME manifest, so readers see
    * either the old partition or the new one, never a mix. Like
    * Delta, every replacement row must itself satisfy the predicate —
    * which is what makes a backfill re-run replace exactly its own
    * previous output (idempotent by construction). An empty
    * `replacement` degrades to a delete; a predicate matching no live
    * rows degrades to a constrained append.
    */
  def replaceWhere(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column, replacement: DataFrame,
      tag: String = "", maxAttempts: Int = 3): Int = {
    // same optimistic-concurrency shape as [[merge]]: losing the
    // version claim re-plans against the winner's state — safe here
    // because the tombstone set is recomputed from the NEW current
    // version (a re-run replaces whatever now matches the predicate)
    @annotation.tailrec
    def attemptLoop(attempt: Int): Int = {
      val r =
        try Some(replaceWhereOnce(spark, dir, predicate, replacement, tag))
        catch {
          case _: java.io.IOException if attempt < maxAttempts => None
        }
      r match {
        case Some(v) => v
        case None => attemptLoop(attempt + 1)
      }
    }
    attemptLoop(1)
  }

  private def replaceWhereOnce(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column, replacement: DataFrame,
      tag: String): Int = {
    import org.apache.spark.sql.functions._
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"ManagedTable.replaceWhere: no versions in $dir")
    val current = vs.last
    val (_, all, schemaJson, stats) = readManifest(spark, dir, current)
    val (files, dvFiles) = splitDv(all)
    val schema = schemaJson.map(schemaOf).getOrElse(
      throw new IllegalStateException(
        s"ManagedTable.replaceWhere: version $current of $dir has no schema"))
    requireSchemaCompatible("replaceWhere", replacement, schema)
    val next = current + 1
    // Write the replacement FIRST and run the predicate constraint on
    // the rows actually written: evaluating `replacement` once for the
    // check and again for the segment would let a non-deterministic
    // frame (rand/uuid, or one re-reading a concurrently-changing
    // source) pass the check yet commit different rows that violate
    // the predicate — silently breaking the idempotent-backfill
    // invariant. Delta enforces the constraint on the written files for
    // the same reason. A constraint failure deletes the orphan segment
    // before throwing (a crash between write and manifest leaves the
    // same unreferenced files [[vacuum]] already handles).
    val newDataAll = writeSegment(
      ColumnMapping.toPhysicalFrame(
        replacement.select(schema.fieldNames.map(col): _*), schema),
      dir, next)
    val written =
      if (newDataAll.isEmpty) spark.emptyDataFrame
      else relogical(scanFiles(spark, dir, newDataAll,
        ColumnMapping.physSchema(schema)), schema)
    val writtenEmpty = newDataAll.isEmpty || written.isEmpty
    val constraintOk = writtenEmpty ||
      written.filter(!coalesce(predicate, lit(false))).isEmpty
    // file paths are "data/v<N>-<uuid>/<part>.parquet" — the segment
    // directory is everything before the final path component
    def dropSegments(): Unit =
      newDataAll.map(p => p.substring(0, p.lastIndexOf('/'))).distinct
        .foreach(seg => fs(spark, dir).delete(new Path(s"$dir/$seg"), true))
    if (!constraintOk) {
      dropSegments()
      throw new IllegalArgumentException(
        "ManagedTable.replaceWhere: every replacement row must satisfy " +
          "the predicate (Delta's replaceWhere constraint — it is what " +
          "makes the backfill idempotent)")
    }
    if (!writtenEmpty)
      try enforceConstraints(written, propertiesOf(stats), "replaceWhere")
      catch { case e: Throwable => dropSegments(); throw e }
    val newData =
      if (!writtenEmpty) newDataAll
      else { // empty replacement degrades to a delete: drop the empty segment
        dropSegments(); Seq.empty }
    // tombstone the live rows the predicate selects (deleteWhere's
    // scan, zone-map pruned the same way)
    val dvSeg = tombstoneSegment(spark, dir, files, stats, schema,
      dvFiles, predicate, next)
    writeManifest(spark, dir, next, tag,
      files ++ newData ++ dvSeg.map("dv:" + _), schema.json,
      stats ++ segmentStats(spark, dir, newData,
        propertiesOf(stats), Some(schema)))
    next
  }

  /** The commit side of [[replaceWhere]] over PRE-STAGED segment files
    * — the DSv2 write path's twin (`INSERT INTO … REPLACE WHERE` /
    * `DataFrameWriterV2.overwrite(cond)`): executors have already
    * streamed the replacement rows into `newFiles`; this checks the
    * replaceWhere constraint on those exact files (every written row
    * must satisfy the predicate — same idempotent-backfill rationale
    * as [[replaceWhere]], and here the staged files ARE the written
    * rows, so the non-determinism hazard the DataFrame path guards
    * against cannot arise), tombstones the live rows the predicate
    * selects, and commits both in ONE manifest version. Optimistic
    * retry on version races; a lost race re-plans tombstones against
    * the winner's head and leaves only unreferenced DV segments for
    * [[vacuum]]. Returns the committed version.
    */
  private[sources] def replaceStaged(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column, newFiles: Seq[String],
      writeSchema: org.apache.spark.sql.types.StructType): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    require(versions(spark, dir).nonEmpty,
      s"graft: REPLACE WHERE needs an existing table at $dir")
    if (newFiles.nonEmpty) {
      // staged files carry PHYSICAL names (the executor writers used
      // the table's mapping); the predicate speaks logical
      val headSchema = readManifest(spark, dir, versions(spark, dir).last)
        ._3.map(schemaOf).getOrElse(writeSchema)
      val written = relogical(scanFiles(spark, dir, newFiles,
        ColumnMapping.physSchema(headSchema)), headSchema)
      require(written.filter(!coalesce(predicate, lit(false))).isEmpty,
        "graft: every REPLACE WHERE row must satisfy the predicate " +
          "(Delta's replaceWhere constraint — it is what makes the " +
          "backfill idempotent)")
    }
    enforceConstraintsOnFiles(spark, dir, newFiles, "REPLACE WHERE")
    val head = readManifest(spark, dir, versions(spark, dir).last)
    val newStats = segmentStats(spark, dir, newFiles,
      propertiesOf(head._4), head._3.map(schemaOf).orElse(Some(writeSchema)))
    var attempt = 0
    while (true) {
      attempt += 1
      val current = versions(spark, dir).last
      val next = current + 1
      val (_, all, schemaJson, stats) = readManifest(spark, dir, current)
      val (files, dvFiles) = splitDv(all)
      val schema = schemaJson.map(schemaOf).getOrElse(writeSchema)
      // zone-map pruned like [[replaceWhere]]: open only files whose
      // recorded stats can hold a predicate-matching row
      val dvSeg = tombstoneSegment(spark, dir, files, stats, schema,
        dvFiles, predicate, next)
      try {
        writeManifest(spark, dir, next, tag = "",
          files ++ newFiles ++ dvSeg.map("dv:" + _), schema.json,
          stats ++ newStats)
        return next
      } catch {
        case e: Exception =>
          // lost the version race: re-plan tombstones on the new head
          // (the stale dvSeg stays unreferenced — vacuum's job)
          if (!(attempt < 5 && versions(spark, dir).lastOption
              .exists(_ >= next))) throw e
      }
    }
    -1 // unreachable
  }

  /** Record a WIDENED schema as a new table version — the declarative
    * half of the schema evolution [[merge]] performs implicitly
    * (Delta's `ALTER TABLE ADD COLUMNS`, and the DLT tables' implicit
    * schema authority — reference:
    * notebooks/03_Data_Ingestion.py:59-64): the new manifest carries
    * the SAME file list and stats and only the schema line changes, so
    * the commit is metadata-only — on a 100 TB table adding a column
    * costs one manifest write, zero data bytes. Existing segments
    * simply lack the new columns and every read path null-fills them
    * from the manifest schema (the [[read]] rule evolved segments
    * already rely on). Evolution may only ADD columns: every existing
    * column must survive with its exact type (drops/retypes would
    * strand data bytes the schema can no longer describe), and added
    * columns must be nullable (old segments read null there).
    * Returns the new version.
    */
  def evolveSchema(spark: SparkSession, dir: String,
      newSchema: org.apache.spark.sql.types.StructType,
      tag: String = ""): Int = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"ManagedTable.evolveSchema: no versions in $dir")
    val current = vs.last
    val (_, all, schemaJson, stats) = readManifest(spark, dir, current)
    val old = schemaJson.map(schemaOf).getOrElse(
      throw new IllegalStateException(
        s"ManagedTable.evolveSchema: version $current of $dir has no schema"))
    old.fields.foreach { f =>
      val kept = newSchema.fields.find(_.name == f.name)
      require(kept.exists(_.dataType == f.dataType),
        s"ManagedTable.evolveSchema: column '${f.name}' " +
          s"${f.dataType.sql} must survive unchanged — evolution may " +
          "only ADD columns")
    }
    newSchema.fields.filterNot(f => old.fieldNames.contains(f.name))
      .foreach { f =>
        require(f.nullable,
          s"ManagedTable.evolveSchema: added column '${f.name}' must " +
            "be nullable (existing segments read null there)")
      }
    val next = current + 1
    // on a mapped table (or one with retired physical columns) the
    // manifest's mapping is re-attached to surviving fields and added
    // columns get collision-checked physical names; byte-identical to
    // the caller's json otherwise
    val recorded =
      if (!ColumnMapping.isMapped(old) && retiredPhysical(stats).isEmpty)
        newSchema
      else ColumnMapping.evolve(old, newSchema, retiredPhysical(stats), next)
    writeManifest(spark, dir, next, tag, all, recorded.json, stats)
    next
  }

  /** RENAME a column — METADATA-ONLY (Delta's column mapping, name
    * mode, via [[ColumnMapping]]): the field keeps the PHYSICAL name
    * already baked into every committed segment and only the logical
    * name changes, so the commit is one manifest write on a table of
    * any size. Per-file stats are keyed by physical name and keep
    * pruning; time travel below the rename sees the old name.
    * Returns the new version.
    */
  def renameColumn(spark: SparkSession, dir: String, from: String,
      to: String, tag: String = ""): Int = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"ManagedTable.renameColumn: no versions in $dir")
    val current = vs.last
    val (_, all, schemaJson, stats) = readManifest(spark, dir, current)
    val old = schemaJson.map(schemaOf).getOrElse(
      throw new IllegalStateException(
        s"ManagedTable.renameColumn: version $current of $dir has no schema"))
    require(old.fieldNames.contains(from),
      s"ManagedTable.renameColumn: no column '$from' in " +
        s"${old.fieldNames.mkString("(", ", ", ")")}")
    require(!old.fieldNames.contains(to),
      s"ManagedTable.renameColumn: column '$to' already exists")
    val renamed = org.apache.spark.sql.types.StructType(old.fields.map { f =>
      if (f.name != from) f
      else ColumnMapping.withPhys(f.copy(name = to), ColumnMapping.phys(f))
    })
    // a CHECK constraint referencing the old name would stop
    // resolving — refuse the rename (Delta's rule), naming the culprit
    constraintsOf(propertiesOf(stats)).foreach { case (n, e) =>
      requireConstraintResolves(spark, renamed, n, e)
    }
    // layout contracts FOLLOW the rename (Delta updates its clustering
    // domain metadata the same way): a clusterBy/bloom list naming the
    // old column would silently stop clustering/digesting new writes —
    // clusterFrame and the digest build skip names absent from the frame
    val ledger0 = stats.getOrElse(TableStatsFile, Map.empty)
    val ledger = ledger0 ++
      Seq(ClusterByProp, BloomSkipping.ColumnsProp).flatMap { key =>
        ledger0.get(PropPrefix + key).map { case (v, _) =>
          val updated = v.split(",").map(_.trim).filter(_.nonEmpty)
            .map(c => if (c == from) to else c).mkString(",")
          (PropPrefix + key) -> ((updated, updated))
        }
      }
    val next = current + 1
    writeManifest(spark, dir, next, tag, all, renamed.json,
      stats + (TableStatsFile -> ledger))
    next
  }

  /** DROP a column — METADATA-ONLY: the field leaves the schema (its
    * bytes stay in the segments, unread, and age out with their
    * manifests under [[vacuumHistory]]), and its PHYSICAL name joins
    * the retired ledger ([[TableStatsFile]]) so a later ADD of the
    * same name maps to a fresh physical column instead of resurrecting
    * the dead one's data. One manifest write on a table of any size;
    * time travel below the drop still sees the column. Returns the
    * new version.
    */
  def dropColumn(spark: SparkSession, dir: String, name: String,
      tag: String = ""): Int = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"ManagedTable.dropColumn: no versions in $dir")
    val current = vs.last
    val (_, all, schemaJson, stats) = readManifest(spark, dir, current)
    val old = schemaJson.map(schemaOf).getOrElse(
      throw new IllegalStateException(
        s"ManagedTable.dropColumn: version $current of $dir has no schema"))
    val field = old.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"ManagedTable.dropColumn: no column '$name' in " +
          s"${old.fieldNames.mkString("(", ", ", ")")}"))
    require(old.fields.length > 1,
      s"ManagedTable.dropColumn: cannot drop the only column '$name'")
    val remaining = org.apache.spark.sql.types.StructType(
      old.fields.filterNot(_.name == name))
    // a CHECK constraint referencing the dropped column would stop
    // resolving — refuse the drop, naming the culprit
    constraintsOf(propertiesOf(stats)).foreach { case (n, e) =>
      requireConstraintResolves(spark, remaining, n, e)
    }
    // a CLUSTERING column cannot be dropped (Delta's rule): the
    // declared layout contract depends on it — re-declare with
    // ALTER TABLE ... CLUSTER BY first. A digest column CAN go: its
    // name just leaves the list (existing sidecars die with their
    // segments; no reader consults a digest for an absent column).
    require(!clusterByOf(propertiesOf(stats)).contains(name),
      s"ManagedTable.dropColumn: '$name' is a clustering column " +
        s"($ClusterByProp) — re-declare the clustering first")
    val ledger0 = stats.getOrElse(TableStatsFile, Map.empty) +
      (RetiredPrefix + ColumnMapping.phys(field) ->
        (s"v${current + 1}", s"v${current + 1}"))
    val ledger = ledger0 ++
      ledger0.get(PropPrefix + BloomSkipping.ColumnsProp).map {
        case (v, _) =>
          val updated = v.split(",").map(_.trim)
            .filter(c => c.nonEmpty && c != name).mkString(",")
          (PropPrefix + BloomSkipping.ColumnsProp) -> ((updated, updated))
      }
    val next = current + 1
    writeManifest(spark, dir, next, tag, all, remaining.json,
      stats + (TableStatsFile -> ledger))
    next
  }

  /** Is `from` → `to` a lossless, order-preserving WIDENING every
    * reader can apply at decode time? (Delta's type widening set,
    * restricted to the connector's scalar tier: integral upcasts and
    * float→double. Arrays are excluded — a container rewrite, not a
    * scalar upcast.)
    */
  private[sources] def widenable(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** WIDEN a column's type — METADATA-ONLY (Delta's type widening):
    * the manifest schema records the wider type and every reader
    * upcasts narrower committed segments at decode time ([[read]] via
    * Spark's own parquet type promotion; the connector's row and
    * columnar readers via file-footer-keyed upcast), so `ALTER COLUMN
    * … TYPE BIGINT` on a 100 TB table costs one manifest write and
    * zero data bytes. Only the lossless, order-preserving set is
    * accepted ([[widenable]]): integral upcasts and float→double —
    * per-file min/max stats parse identically under the wider type,
    * so pruning is unaffected. Post-widen writes land the wide type;
    * files of both generations coexist indefinitely. Returns the new
    * version.
    */
  def widenColumn(spark: SparkSession, dir: String, name: String,
      to: org.apache.spark.sql.types.DataType, tag: String = ""): Int = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"ManagedTable.widenColumn: no versions in $dir")
    val current = vs.last
    val (_, all, schemaJson, stats) = readManifest(spark, dir, current)
    val old = schemaJson.map(schemaOf).getOrElse(
      throw new IllegalStateException(
        s"ManagedTable.widenColumn: version $current of $dir has no schema"))
    val field = old.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"ManagedTable.widenColumn: no column '$name' in " +
          s"${old.fieldNames.mkString("(", ", ", ")")}"))
    require(widenable(field.dataType, to),
      s"ManagedTable.widenColumn: ${field.dataType.sql} → ${to.sql} " +
        "is not a supported widening (integral upcasts and " +
        "FLOAT → DOUBLE only — anything else would strand or corrupt " +
        "committed bytes)")
    val widened = org.apache.spark.sql.types.StructType(old.fields.map(f =>
      if (f.name == name) f.copy(dataType = to) else f))
    constraintsOf(propertiesOf(stats)).foreach { case (n, e) =>
      requireConstraintResolves(spark, widened, n, e)
    }
    val next = current + 1
    writeManifest(spark, dir, next, tag, all, widened.json, stats)
    next
  }

  /** RESTORE to an earlier version (Delta's `RESTORE TABLE … TO VERSION
    * AS OF`): re-publish version `toVersion`'s exact manifest — file
    * list (data segments AND deletion vectors), schema, per-file
    * stats — as a NEW version. Metadata-only: no data segment is read,
    * copied or rewritten, so undoing a bad write on a 100 TB table
    * costs one manifest write. History is preserved — the undone
    * versions stay time-travelable — and because the restored manifest
    * references the old segments again, [[vacuum]] keeps protecting
    * them for as long as the restore is live. Returns the new version.
    */
  def restore(spark: SparkSession, dir: String, toVersion: Int): Int = {
    val vs = versions(spark, dir)
    require(vs.contains(toVersion),
      s"ManagedTable.restore: version $toVersion not in $vs of $dir")
    val (_, files, schemaJson, stats) = readManifest(spark, dir, toVersion)
    val next = vs.last + 1
    writeManifest(spark, dir, next, s"restore:v$toVersion", files,
      schemaJson.getOrElse(""), stats)
    next
  }

  /** DESCRIBE HISTORY: one row per version — version, committer tag,
    * commit wall-clock (manifest mtime — informational, NOT an
    * ordering key; the version number is the order), data-file and
    * deletion-vector counts, and the schema's column count. Pure
    * manifest metadata: |versions| rows, no data file touched.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val f = fs(spark, dir)
    val rows = versions(spark, dir).map { v =>
      val (tag, all, schemaJ, _) = readManifest(spark, dir, v)
      val (data, dv) = splitDv(all)
      val mtime = f.getFileStatus(new Path(manifestDir(dir), s"v$v.json"))
        .getModificationTime
      (v, tag, mtime, data.size, dv.size,
        schemaJ.map(schemaOf(_).size).getOrElse(0))
    }
    import spark.implicits._
    rows.toDF("version", "tag", "commit_ms", "n_data_files",
      "n_dv_files", "n_columns")
  }

  /** Time travel BY TIMESTAMP (Delta's `TIMESTAMP AS OF`): read the
    * latest version whose manifest landed at or before `tsMs`
    * (manifest mtime — on object stores, upload completion time).
    * Version-number ordering breaks ties; a timestamp before the first
    * commit is an error, mirroring Delta.
    */
  def readAsOf(spark: SparkSession, dir: String, tsMs: Long): DataFrame = {
    val f = fs(spark, dir)
    val eligible = versions(spark, dir).filter { v =>
      f.getFileStatus(new Path(manifestDir(dir), s"v$v.json"))
        .getModificationTime <= tsMs
    }
    require(eligible.nonEmpty,
      s"ManagedTable.readAsOf: no version of $dir committed at or before $tsMs")
    read(spark, dir, Some(eligible.max))
  }

  /** Export a version's data file list for EXTERNAL readers (Delta's
    * `GENERATE symlink_format_manifest`): one absolute path per line,
    * published atomically (ATOMIC_MOVE on local filesystems; on
    * stores without atomic rename-over-existing, export to a new
    * name per version — see the inline note). Engines with no knowledge
    * of the manifest log (DuckDB, Trino/Presto via symlink input
    * format, plain `read_parquet([...])`) scan exactly the exported
    * version — never a torn directory listing that catches an
    * in-flight writer's half-landed segment. REFUSES versions with
    * deletion vectors: a path list cannot express row-level
    * tombstones, and exporting one would silently resurrect deleted
    * rows in every external engine — run [[compact]] first to
    * materialize the deletes. Returns the exported absolute paths.
    */
  def exportManifest(spark: SparkSession, dir: String,
      outFile: String, version: Option[Int] = None): Seq[String] = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"ManagedTable.exportManifest: no versions in $dir")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v),
      s"ManagedTable.exportManifest: version $v not in $vs")
    val (_, all, exSchemaJ, _) = readManifest(spark, dir, v)
    val (files, dvFiles) = splitDv(all)
    require(dvFiles.isEmpty,
      s"ManagedTable.exportManifest: version $v of $dir carries " +
        "deletion vectors — a symlink manifest would resurrect the " +
        "deleted rows in external engines; compact() first")
    require(!exSchemaJ.map(schemaOf).exists(ColumnMapping.isMapped),
      s"ManagedTable.exportManifest: version $v of $dir uses column " +
        "mapping (renamed/re-added columns) — an external engine " +
        "reading the raw files would see PHYSICAL column names; " +
        "reset the layout with commit(read(...)) first, or read " +
        "through graft")
    val f = fs(spark, dir)
    val abs = files.map(p =>
      f.makeQualified(new Path(s"$dir/$p")).toString)
    val out = new Path(outFile)
    // unique tmp name: concurrent exports never clobber each other's
    // in-flight content
    val tmp = new Path(out.getParent,
      s".${out.getName}.${java.util.UUID.randomUUID()}.tmp")
    val os = f.create(tmp, true)
    try { os.write((abs.mkString("\n") + "\n").getBytes("UTF-8")) }
    finally os.close()
    if (f.getUri.getScheme == "file") {
      // local FS: ATOMIC_MOVE + REPLACE_EXISTING — external readers
      // see the old export or the new one, never a missing/torn file
      def local(p: Path) = java.nio.file.Paths.get(
        f.makeQualified(p).toUri.getPath)
      java.nio.file.Files.move(local(tmp), local(out),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      // HDFS rename replaces atomically only when the target is
      // absent; on re-export fall back to delete+rename and accept
      // the store's own visibility window (object stores without
      // atomic rename-over should export to a NEW name per version)
      if (!f.rename(tmp, out)) {
        f.delete(out, false)
        require(f.rename(tmp, out),
          s"ManagedTable.exportManifest: cannot publish $outFile")
      }
    }
    abs
  }

  /** What one [[vacuumHistory]] call did: the versions whose manifests
    * were dropped, the data/DV segments swept because no retained
    * manifest references them, and the bytes those segments held.
    */
  final case class HistoryVacuumStats(droppedVersions: Seq[Int],
      sweptSegments: Seq[String], reclaimedBytes: Long)

  private def ledgerName(upto: Int) = s"retired-v$upto.json"

  /** The retired-tags LEDGER: `(highest retired version, all tags of
    * every retired version)` — what keeps streaming replay idempotence
    * alive across [[vacuumHistory]]: a replayed micro-batch whose
    * `b<id>`/`m<id>` tag landed in a since-dropped manifest must STILL
    * be recognized as committed, or the replay would double-apply it.
    * One file `_manifest/retired-v<N>.json` (newest N wins; content is
    * deterministic for a given N — the union of every retired tag — so
    * racing maintenance writers produce identical bytes). `(0, Nil)`
    * for tables never history-vacuumed.
    */
  private[sources] def retiredTags(spark: SparkSession,
      dir: String): (Int, Seq[String]) = {
    val f = fs(spark, dir)
    val md = manifestDir(dir)
    if (!f.exists(md)) return (0, Nil)
    val uptos = f.listStatus(md).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("retired-v") && n.endsWith(".json"))
      .flatMap(n =>
        n.stripPrefix("retired-v").stripSuffix(".json").toIntOption)
    if (uptos.isEmpty) return (0, Nil)
    val upto = uptos.max
    // spin through an in-flight writer's claim/content window, same
    // discipline as readManifest; the JSON parsing IS the completeness
    // check (one document — it parses iff every byte landed)
    var waitedMs = 0
    var result: Option[Seq[String]] = None
    var lastErr: Throwable = null
    while (result.isEmpty && waitedMs <= 2000) {
      try {
        val in = f.open(new Path(md, ledgerName(upto)))
        val raw = try {
          val bytes = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
          bytes.toString("UTF-8")
        } finally in.close()
        val root = mapper.readTree(raw)
        require(root.get("tags") != null, "ledger incomplete")
        val tags = Seq.newBuilder[String]
        root.get("tags").forEach(t => tags += t.asText())
        result = Some(tags.result())
      } catch {
        case scala.util.control.NonFatal(e) =>
          lastErr = e; Thread.sleep(10); waitedMs += 10
      }
    }
    (upto, result.getOrElse(throw new java.io.IOException(
      s"ManagedTable: retired-tags ledger v$upto of $dir unreadable " +
        s"after ${waitedMs}ms", lastErr)))
  }

  /** Retention GC for TABLE HISTORY — the missing half of [[vacuum]]
    * (which only sweeps segments no manifest references): versions and
    * their dead segments otherwise accumulate FOREVER, because every
    * retained manifest protects its files. Keep the newest
    * `retainVersions` manifests and drop the rest, in an order that is
    * crash-safe at every step:
    *
    *   1. the dropped versions' committer TAGS are folded into the
    *      retired-tags ledger FIRST ([[retiredTags]]) — streaming
    *      replay idempotence must survive the manifests' deletion, or
    *      a replayed old micro-batch would re-commit;
    *   2. the dropped manifests are deleted (time travel below the
    *      horizon now fails cleanly with "version not in …"; a stream
    *      resuming from a below-horizon offset fails fast naming the
    *      remedy, and a FRESH stream start emits the oldest retained
    *      version as its initial snapshot — see GraftMicroBatchStream);
    *   3. data/DV segments referenced ONLY by dropped manifests are
    *      swept (same orphan rule and `retentionMs` window as
    *      [[vacuum]] — an in-flight commit's segment is never raced).
    *
    * A crash between any two steps leaves a table that is merely
    * LESS vacuumed than asked: extra ledger tags are harmless
    * (idempotence is a superset property), undropped manifests keep
    * protecting their segments, unswept segments fall to the next
    * vacuum. At 100 TB this is the Delta `logRetentionDuration` +
    * VACUUM pairing: history cost becomes O(retained), not O(all
    * commits ever), and reclaiming N old versions costs O(their
    * private segments), never a table scan.
    */
  def vacuumHistory(spark: SparkSession, dir: String,
      retainVersions: Int,
      retentionMs: Long = DefaultVacuumRetentionMs): HistoryVacuumStats = {
    require(retainVersions >= 1,
      s"ManagedTable.vacuumHistory: retainVersions must be >= 1, " +
        s"got $retainVersions")
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"ManagedTable.vacuumHistory: no versions in $dir")
    val dropped = vs.dropRight(retainVersions)
    if (dropped.isEmpty) return HistoryVacuumStats(Nil, Nil, 0L)
    val f = fs(spark, dir)
    // 1. ledger first: tags of dropped versions survive the deletion
    val droppedTags = dropped.map(v => readManifest(spark, dir, v)._1)
      .filter(_.nonEmpty)
    val (prevUpto, prevTags) = retiredTags(spark, dir)
    val newUpto = dropped.max
    if (newUpto > prevUpto) {
      val root = new java.util.LinkedHashMap[String, Object]()
      root.put("upto", Integer.valueOf(newUpto))
      val list = new java.util.ArrayList[String]()
      (prevTags ++ droppedTags).distinct.sorted.foreach(list.add)
      root.put("tags", list)
      val target = new Path(manifestDir(dir), ledgerName(newUpto))
      // ledger content is a pure function of `upto` (tags of every
      // version ≤ upto, deduped and sorted), so a racing maintenance
      // writer that landed the same ledger first wrote THESE bytes —
      // losing the create race is success, not an error
      try {
        val out = f.create(target, false)
        try { out.write(mapper.writeValueAsString(root).getBytes("UTF-8"))
          out.hsync() }
        finally out.close()
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
        case _: java.nio.file.FileAlreadyExistsException => ()
      }
    }
    // 2. drop the manifests; old ledgers only after the new one landed
    dropped.foreach(v =>
      f.delete(new Path(manifestDir(dir), s"v$v.json"), false))
    if (newUpto > prevUpto && prevUpto > 0)
      f.delete(new Path(manifestDir(dir), ledgerName(prevUpto)), false)
    tagIndex.remove(dir) // history shape changed; rebuild from survivors
    // 3. sweep segments no retained manifest references (size first,
    // for the byte accounting; same orphan + retention rule as vacuum)
    val dataDir = new Path(dir, "data")
    val (swept, bytes) =
      if (!f.exists(dataDir)) (Seq.empty[String], 0L)
      else {
        val referenced = versions(spark, dir).flatMap { v =>
          readManifest(spark, dir, v)._2
            .map(_.stripPrefix("dv:").split("/")(1))
        }.toSet
        val cutoff = System.currentTimeMillis() - retentionMs
        val orphans = f.listStatus(dataDir).toSeq
          .filter(st => !referenced(st.getPath.getName) &&
            st.getModificationTime <= cutoff)
        val sized = orphans.map { st =>
          st.getPath.getName ->
            f.getContentSummary(st.getPath).getLength
        }
        orphans.foreach(st => f.delete(st.getPath, true))
        (sized.map(_._1).sorted, sized.map(_._2).sum)
      }
    HistoryVacuumStats(dropped, swept, bytes)
  }

  /** Default [[vacuum]] retention: long enough that a writer whose data
    * segment has landed can finish writing its manifest (segment-then-
    * manifest is the commit order — a zero-retention vacuum racing that
    * window would delete the segment of a commit about to succeed).
    */
  val DefaultVacuumRetentionMs: Long = 10L * 60 * 1000

  /** Delete data segments unreferenced by ANY committed manifest (e.g.
    * segments from writers that crashed before their manifest landed)
    * and older than `retentionMs` (modification time — Delta's VACUUM
    * retention, defaulted so an IN-FLIGHT commit, which writes its
    * segment before its manifest, is never swept mid-window). Never
    * touches referenced segments, so every retained version stays
    * readable. Pass `retentionMs = 0` only when no writer can be
    * concurrent (tests, single-writer maintenance windows).
    */
  def vacuum(spark: SparkSession, dir: String,
      retentionMs: Long = DefaultVacuumRetentionMs): Seq[String] = {
    val f = fs(spark, dir)
    val dataDir = new Path(dir, "data")
    if (!f.exists(dataDir)) return Seq.empty
    // DV segments are referenced files too — sweeping one would
    // silently resurrect its deleted rows
    val referenced = versions(spark, dir).flatMap { v =>
      readManifest(spark, dir, v)._2
        .map(_.stripPrefix("dv:").split("/")(1))
    }.toSet
    val cutoff = System.currentTimeMillis() - retentionMs
    val orphans = f.listStatus(dataDir).toSeq
      .filter(st => !referenced(st.getPath.getName) &&
        st.getModificationTime <= cutoff)
      .map(_.getPath.getName)
    orphans.foreach(seg => f.delete(new Path(dataDir, seg), true))
    orphans.sorted
  }

  /** MERGE a CDC changeset into the table — the row-level-upsert commit
    * Delta's `apply_changes` target performs
    * (reference: notebooks/03_Data_Ingestion.py:318-326), re-expressed
    * on the manifest log:
    *
    *   1. plan: semi-join the CURRENT version's rows (tagged with
    *      `_metadata.file_path`) against the changeset's distinct keys —
    *      only files that CONTAIN a changed key are affected; the
    *      file-path list that comes back to the driver is manifest-scale
    *      metadata, exactly what Delta's MERGE collects;
    *   2. rewrite: latest-per-key (partial-agg `max_by`, same engine as
    *      [[graft.operators.ApplyChanges.latestByKey]]) over ONLY
    *      (affected-file rows ∪ changeset) lands as a fresh segment;
    *   3. commit: new manifest = untouched files (reused as-is, never
    *      rewritten or copied) + the fresh segment, claimed atomically
    *      like any [[commit]].
    *
    * The stored state keeps each key's WINNING row verbatim — including
    * delete tombstones and bookkeeping columns — which is what makes
    * merging changesets one at a time, in ANY batch grouping, equal to
    * one big `applyChanges` over their union: latest-per-key is an
    * associative fold, but only if losers (including tombstoned keys)
    * stay defeated by a stored winner. Read the user-facing state (live
    * rows, bookkeeping dropped) with [[readCurrent]].
    *
    * `sequenceBy` must be total per key across ALL changesets (the
    * [[graft.operators.ApplyChanges]] determinism contract). Schemas
    * EVOLVE by name: a changeset may add columns (the table widens;
    * prior rows read null there — Delta's mergeSchema) or omit stored
    * ones (its rows get nulls); key and sequence columns must always
    * be present.
    *
    * At 100 TB: the semi-join is a broadcast of the changeset's keys
    * against a manifest-planned scan, shuffle is proportional to
    * |affected rows| + |changes| (not table size), and unaffected
    * segments move by manifest reference only.
    *
    * Concurrency: on a manifest-create conflict (another committer
    * claimed the version first) the merge RE-PLANS from the new
    * current version and retries — the standard optimistic-commit
    * loop. The loser's orphaned segment is invisible (no manifest
    * references it) and is reclaimed by [[vacuum]].
    */
  def merge(changes: DataFrame, dir: String, keys: Seq[String],
      sequenceBy: Seq[org.apache.spark.sql.Column],
      tag: String = "", maxAttempts: Int = 3): Int = {
    @annotation.tailrec
    def attemptLoop(attempt: Int): Int = {
      val r =
        try Some(mergeOnce(changes, dir, keys, sequenceBy, tag))
        catch {
          // lost the version race: re-plan against the winner's state
          case _: java.io.IOException if attempt < maxAttempts => None
        }
      r match {
        case Some(v) => v
        case None => attemptLoop(attempt + 1)
      }
    }
    attemptLoop(1)
  }

  private def mergeOnce(changes: DataFrame, dir: String, keys: Seq[String],
      sequenceBy: Seq[org.apache.spark.sql.Column],
      tag: String): Int = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val spark = changes.sparkSession
    val vs = versions(spark, dir)
    if (vs.isEmpty)
      return commit(
        graft.operators.ApplyChanges.latestByKey(changes, keys, sequenceBy),
        dir, tag)
    val current = vs.last
    val (_, currentAll, currentSchemaJ, currentStats) =
      readManifest(spark, dir, current)
    val (currentFiles, currentDv) = splitDv(currentAll)
    // the MANIFEST schema (its column mapping included) drives every
    // segment-facing read/write below
    val tableSchema = currentSchemaJ.map(schemaOf).getOrElse(
      throw new IllegalStateException(
        s"ManagedTable.merge: version $current of $dir has no recorded schema"))
    // step 1: which files contain a changed key? (file paths only —
    // driver-side metadata, same scale as the manifest itself). The DV
    // is applied before the semi-join: a file whose only changed-key
    // rows are all tombstoned needs no rewrite.
    // cached: the key frame feeds the bounds agg AND the discovery
    // semi-join broadcast — and it is the COLUMN-PRUNED projection of
    // the changeset (caching the full-width changeset instead would
    // force one full materialization of wide payload columns the
    // write is the only consumer of)
    val changeKeys = changes.select(keys.map(col): _*).distinct().cache()
    try {
    // candidate pruning BEFORE the discovery scan: a file whose
    // recorded per-column [min, max] is provably disjoint from the
    // changeset's key bounds cannot hold an affected key, so the
    // semi-join scan below opens only the overlapping files — on a
    // clustered table the discovery cost is O(files overlapping the
    // changeset), never a full-table scan per merge tick. The bounds
    // agg is one tiny job on the (cached) changeset. Null keys never
    // equi-match (the semi-join is null-unsafe), so bounds over the
    // NON-null values cover every matchable key — and a key column
    // that is entirely null in the changeset can match nothing at all.
    val candidates =
      if (currentFiles.isEmpty) Seq.empty[String]
      else {
        import org.apache.spark.sql.functions.{max => fmax, min => fmin}
        val aggs = keys.flatMap(k => Seq(fmin(col(k)), fmax(col(k))))
        val b = changeKeys.agg(aggs.head, aggs.tail: _*).head()
        if (keys.indices.exists(i => b.isNullAt(2 * i)))
          Seq.empty // some key column all-null: no key can equi-match
        else
          pruneByStats(currentFiles, currentStats, Some(tableSchema),
            keys.zipWithIndex.map { case (k, i) =>
              (k, Option(b.get(2 * i)), Option(b.get(2 * i + 1))) })
      }
    val affectedPaths =
      if (candidates.isEmpty) Set.empty[String]
      else {
        taggedLive(spark, dir, candidates, tableSchema, currentDv)
          .select((keys.map(col) :+ col("__file")): _*)
          .join(broadcast(changeKeys), keys, "left_semi")
          .select("__file").distinct()
          .collect().map(_.getString(0)).toSet
      }
    val affected = currentFiles.filter(affectedPaths.contains)
    val untouched = currentFiles.diff(affected)
    // steps 2+3: rewrite ONLY affected rows ∪ changes; reuse the rest.
    // unionByName(allowMissingColumns) is the SCHEMA EVOLUTION seam
    // (Delta's mergeSchema): a changeset with new columns widens the
    // table — base rows read null there — and the EVOLVED schema is
    // recorded in the new manifest, so untouched old segments are
    // null-filled at read time by the manifest-schema scan in [[read]].
    val next = current + 1
    val affectedRows =
      if (affected.isEmpty)
        // the schema a read of `current` has: logical, and nullable as
        // every parquet scan is (an empty version reads as recorded)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          if (currentFiles.isEmpty) ColumnMapping.strip(tableSchema)
          else org.apache.spark.sql.graftshim.ColumnBridge.asNullable(
            ColumnMapping.strip(tableSchema)))
      // DV-aware: rewriting an affected file must not resurrect its
      // deletion-vectored rows
      else scanMinusDv(spark, dir, affected, tableSchema, currentDv)
    val merged = graft.operators.ApplyChanges.latestByKey(
      affectedRows.unionByName(changes, allowMissingColumns = true),
      keys, sequenceBy)
    // the evolved schema re-attaches the manifest's column mapping to
    // surviving fields (the union stripped field metadata) and assigns
    // fresh physical names to changeset-introduced columns, checked
    // against the retired ledger — identical json to before when the
    // table is unmapped and nothing was ever dropped
    val mergedSchema =
      if (!ColumnMapping.isMapped(tableSchema) &&
          retiredPhysical(currentStats).isEmpty) merged.schema
      else ColumnMapping.evolve(tableSchema, merged.schema,
        retiredPhysical(currentStats), next)
    enforceConstraints(merged, propertiesOf(currentStats), "merge")
    val newFiles = writeSegment(
      ColumnMapping.toPhysicalFrame(merged, mergedSchema), dir, next)
    // untouched files keep their recorded stats (and their DV entries —
    // tombstones naming rewritten files match nothing and age out);
    // only the fresh segment is scanned for new ones
    writeManifest(spark, dir, next, tag,
      untouched ++ newFiles ++
        (if (untouched.isEmpty) Nil else currentDv.map("dv:" + _)),
      mergedSchema.json,
      currentStats.view.filterKeys(untouched.contains).toMap ++
        tableStats(currentStats) ++
        segmentStats(spark, dir, newFiles,
          propertiesOf(currentStats), Some(mergedSchema)))
    next
    } finally { changeKeys.unpersist(); () }
  }

  /** The user-facing state of a [[merge]]-maintained table: the winning
    * row per key with tombstones filtered and bookkeeping columns
    * dropped — `applyChanges(union of every merged changeset)`, read
    * from the manifest instead of recomputed.
    */
  def readCurrent(spark: SparkSession, dir: String,
      deleteExpr: org.apache.spark.sql.Column,
      exceptColumns: Seq[String] = Nil,
      version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    read(spark, dir, version)
      .filter(!coalesce(deleteExpr, lit(false)))
      .drop(exceptColumns: _*)
  }

  /** CHANGE DATA FEED between two committed versions — Delta's
    * `table_changes` re-expressed on the manifest log: the row-level
    * difference of the LIVE states (tombstones filtered, bookkeeping
    * dropped) at `fromVersion` and `toVersion`, as the union of
    *   - `insert`            rows live in `to` whose key is absent in `from`,
    *   - `delete`            rows live in `from` whose key is absent in `to`,
    *   - `update_preimage` / `update_postimage`  both rows of a key whose
    *     live value changed (two output rows, Delta's CDF shape).
    * Output schema = `toVersion`'s schema minus `exceptColumns`, plus
    * `_change_type`; preimage rows from a narrower pre-evolution schema
    * read null in added columns (and an "update" whose only difference
    * is such a widening is still a reported update — value semantics,
    * same as recomputing both snapshots).
    *
    * THE SCALE PROPERTY: nothing here scans the table. [[merge]] and
    * [[compact]] carry untouched files between versions BY REFERENCE,
    * so any file present in both manifests is byte-identical and can
    * contribute no difference — the diff plans ONLY the files the two
    * manifests do NOT share (∝ changed data; a 100 TB table with a
    * 1 GB changeset diffs ~1 GB). Files rewritten with identical
    * content (compaction bins, the unchanged neighbors merge carries
    * into its fresh segment) are scanned but emit nothing: the
    * key-level full-outer join drops value-equal pairs. The join
    * shuffles |differing-file rows| keyed rows — never the table.
    */
  def changes(spark: SparkSession, dir: String, fromVersion: Int,
      toVersion: Int, keys: Seq[String],
      deleteExpr: org.apache.spark.sql.Column = org.apache.spark.sql.functions.lit(false),
      exceptColumns: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    val vs = versions(spark, dir)
    require(Seq(fromVersion, toVersion).forall(vs.contains),
      s"ManagedTable.changes: versions ($fromVersion, $toVersion) not in $vs")
    require(fromVersion <= toVersion,
      s"ManagedTable.changes: fromVersion $fromVersion > toVersion $toVersion")
    val (_, fromAll, fromSchemaJ, _) = readManifest(spark, dir, fromVersion)
    val (_, toAll, toSchemaJ, _) = readManifest(spark, dir, toVersion)
    val (fromFiles0, fromDv) = splitDv(fromAll)
    val (toFiles0, toDv) = splitDv(toAll)
    // DV-aware identity: a file shared by both manifests is only truly
    // unchanged if its DELETION state is also identical — a deleteWhere
    // commit shares every data file and differs only in the DV. Files
    // whose tombstone set changed re-enter both sides' scans (each side
    // under its own DV), and the key-level value diff below reports
    // exactly the newly-deleted rows as deletes. The diff runs over DV
    // rows (deleted-rows-scale, never table-scale).
    val dvChanged: Set[String] =
      if (fromDv == toDv) Set.empty
      else {
        val a = if (fromDv.isEmpty) None else Some(dvRows(spark, dir, fromDv))
        val b = if (toDv.isEmpty) None else Some(dvRows(spark, dir, toDv))
        val sym = (a, b) match {
          case (Some(x), Some(y)) => x.exceptAll(y).unionAll(y.exceptAll(x))
          case (Some(x), None) => x
          case (None, Some(y)) => y
          case (None, None) => null
        }
        if (sym == null) Set.empty
        else sym.select("__file").distinct().collect()
          .map(_.getString(0)).toSet
      }
    val dvTouched = fromFiles0.intersect(toFiles0).filter(dvChanged)
    val fromFiles = fromFiles0.diff(toFiles0) ++ dvTouched
    val toFiles = toFiles0.diff(fromFiles0) ++ dvTouched
    val toSchema = ColumnMapping.strip(toSchemaJ.map(schemaOf).getOrElse(
      throw new IllegalStateException(
        s"ManagedTable.changes: version $toVersion of $dir has no schema")))
    val outCols = toSchema.filterNot(f => exceptColumns.contains(f.name))
    require(keys.forall(k => outCols.exists(_.name == k)),
      s"ManagedTable.changes: keys $keys must survive exceptColumns")
    val valCols = outCols.map(_.name).filterNot(keys.contains)
    // live state restricted to one side's non-shared files, aligned to
    // the to-schema (nulls where a pre-evolution schema lacks a column)
    def side(files: Seq[String], schemaJ: Option[String],
        dv: Seq[String]): DataFrame = {
      val schema = schemaJ.map(schemaOf).getOrElse(toSchema)
      val df =
        if (files.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else scanMinusDv(spark, dir, files, schema, dv)
      val have = schema.map(_.name).toSet
      // the explicit cast aligns a pre-widening side (narrower type)
      // to the to-version's type, exactly like the null-fill aligns a
      // pre-evolution side
      df.filter(!coalesce(deleteExpr, lit(false)))
        .select(outCols.map(f =>
          (if (have(f.name)) col(f.name).cast(f.dataType)
           else lit(null).cast(f.dataType))
            .as(f.name)): _*)
    }
    val f = side(fromFiles, fromSchemaJ, fromDv)
      .withColumn("__pre", lit(true))
    val t = side(toFiles, toSchemaJ, toDv)
      .withColumn("__post", lit(true))
    def img(src: String): org.apache.spark.sql.Column = struct(
      outCols.map(c => col(s"$src.${c.name}").as(c.name)): _*)
    val fVal = struct(valCols.map(c => col(s"f.$c")): _*)
    val tVal = struct(valCols.map(c => col(s"t.$c")): _*)
    f.as("f").join(t.as("t"),
        keys.map(k => col(s"f.$k") === col(s"t.$k")).reduce(_ && _),
        "full_outer")
      // value-equal pairs (rows merely sharing a rewritten file with a
      // changed neighbor, or compaction's byte-moves) are no change
      .where(col("f.__pre").isNull || col("t.__post").isNull ||
        !(fVal <=> tVal))
      .select(explode(
        when(col("f.__pre").isNull,
          array(struct(lit("insert").as("_change_type"), img("t").as("row"))))
        .when(col("t.__post").isNull,
          array(struct(lit("delete").as("_change_type"), img("f").as("row"))))
        .otherwise(array(
          struct(lit("update_preimage").as("_change_type"), img("f").as("row")),
          struct(lit("update_postimage").as("_change_type"), img("t").as("row"))))
      ).as("c"))
      .select((col("c._change_type") +:
        outCols.map(n => col(s"c.row.${n.name}").as(n.name))): _*)
  }

  /** Streaming CDC upsert sink: each micro-batch of a changelog stream
    * is [[merge]]d into the table as one row-level-upsert version,
    * tagged `m<batchId>` — exactly-once across restarts by the same
    * replayed-tag idempotence as [[streamingSink]]. This is the full
    * reference write path (Kafka CDC stream → `apply_changes` → Delta
    * table, notebooks/03_Data_Ingestion.py:300-326) on the open
    * manifest log.
    */
  def mergeStreamingSink(changes: DataFrame, dir: String,
      keys: Seq[String],
      sequenceBy: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val done = committedTags(spark, dir).contains(s"m$batchId")
      if (!done && !batch.isEmpty) {
        merge(batch, dir, keys, sequenceBy, s"m$batchId"); ()
      }
    }

  /** Compact ("OPTIMIZE"): bin small files into full segments. Files of
    * the current version smaller than `smallFileBytes` are rewritten
    * TOGETHER into one fresh segment (coalesced toward
    * `smallFileBytes`-sized outputs); files already at size are carried
    * into the new version by manifest reference, byte-untouched. A
    * content-identical commit — only the file layout changes — so time
    * travel to pre-compaction versions still works and concurrent
    * readers are unaffected. No-op (returns the current version) when
    * fewer than two small files exist.
    *
    * At 100 TB this is the small-file compaction every streaming sink
    * needs: micro-batch commits land thousands of KB-scale files whose
    * per-file open/footer cost dominates scans; compaction is
    * proportional to the SMALL files' bytes, never a table rewrite.
    */
  /** Keep a STANDING CONSUMER's table at a bounded live-file count:
    * when the manifest head references more than `maxLiveFiles` data
    * files, fold the small ones with [[compact]]; otherwise a cheap
    * no-op (one manifest read, no file IO). A streaming maintainer
    * that appends per tick (q232/q233's shape) accumulates one file
    * per tick per table FOREVER without this — every later tick then
    * re-plans and re-opens all of them. Called once per tick, the
    * steady-state planning cost stays O(maxLiveFiles) however long
    * the subscription runs; compaction work remains proportional to
    * the small files' bytes, never a table rewrite. At 100 TB the
    * same call runs with a production `smallFileBytes` (64 MB+) on a
    * maintenance cadence instead of inline.
    */
  def boundFiles(spark: SparkSession, dir: String,
      maxLiveFiles: Int, smallFileBytes: Long = 32L * 1024 * 1024): Int = {
    val vs = versions(spark, dir)
    if (vs.isEmpty) return 0
    val (_, all, _, _) = readManifest(spark, dir, vs.last)
    val live = splitDv(all)._1.size
    if (live <= maxLiveFiles) vs.last
    else compact(spark, dir, smallFileBytes)
  }

  def compact(spark: SparkSession, dir: String,
      smallFileBytes: Long = 32L * 1024 * 1024, tag: String = "",
      clusterBy: Seq[org.apache.spark.sql.Column] = Nil,
      rewriteDvFraction: Option[Double] = None): Int = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"ManagedTable.compact: no versions in $dir")
    val current = vs.last
    val (_, all, schemaJson, stats) = readManifest(spark, dir, current)
    val (files, dvFiles) = splitDv(all)
    val f = fs(spark, dir)
    val sized = files.map(p => p -> f.getFileStatus(new Path(s"$dir/$p")).getLen)
    val small = sized.filter(_._2 < smallFileBytes).map(_._1)
    // PURGE trigger: with `rewriteDvFraction` set, a file of ANY size
    // whose deletion-vector tombstones cover at least that fraction of
    // its recorded rows joins the rewrite set — materializing its
    // deletes into real bytes and REBUILDING its Bloom digests from
    // the survivors (the stats pass below digests the packed segment).
    // This is what keeps digests honest on hot deleteWhere tables:
    // digests are built at commit and a heavily-tombstoned file's
    // digest stays full of dead values (fail-open, so correct — but
    // its effective fpp decays toward no-skipping). Cost is one
    // tombstone-count aggregation over the DV parquet (deleted-rows-
    // sized) plus the rewrite of exactly the triggered files. Files
    // with no recorded row count are skipped (fraction unprovable).
    val dvHeavy: Seq[String] = rewriteDvFraction match {
      case Some(frac) if dvFiles.nonEmpty && frac > 0 =>
        val tomb = dvCounts(spark, dir, dvFiles)
        files.filter { rel =>
          val rows = stats.get(rel).flatMap(_.get(RowsStat))
            .flatMap(p => scala.util.Try(p._1.toLong).toOption)
          val t = tomb.getOrElse(rel, 0L)
          t > 0 && rows.exists(n => n > 0 && t.toDouble / n >= frac)
        }
      case _ => Nil
    }
    val rewrite = (small ++ dvHeavy).distinct
    // binning needs ≥2 small files to be worth a commit, but a single
    // DV-heavy file is a purge in its own right
    if (dvHeavy.isEmpty && small.size < 2) return current
    val keep = files.diff(rewrite)
    val totalSmall = sized.filter(s => rewrite.contains(s._1)).map(_._2).sum
    // never MORE outputs than inputs: packing bins toward
    // smallFileBytes-sized files, and a tiny smallFileBytes (size
    // trigger disabled for a pure DV purge) must not explode the
    // output count
    val outFiles = math.min(rewrite.size,
      math.max(1, (totalSmall / smallFileBytes).toInt +
        (if (totalSmall % smallFileBytes > 0) 1 else 0)))
    val next = current + 1
    // Read with the MANIFEST schema, never footer inference: after a
    // schema evolution (see [[merge]]) the small segments have
    // different physical schemas, and inference would take one file's
    // footer and silently drop the newer columns from the packed
    // segment while the manifest still records the wide schema.
    val schema = schemaJson.map(schemaOf).getOrElse(
      throw new IllegalStateException(
        s"ManagedTable.compact: version $current of $dir has no " +
          "recorded schema"))
    // DV-aware: compaction MATERIALIZES deletes for the files it
    // rewrites (the rows simply don't land in the packed segment) —
    // this is how DVs eventually become real bytes. Kept files carry
    // their DV entries forward; when nothing is kept the DV reference
    // is dropped entirely (all tombstones were materialized).
    val packed0 = scanMinusDv(spark, dir, rewrite, schema, dvFiles)
    // clusterBy = Delta's OPTIMIZE ZORDER BY: instead of packing small
    // files in arrival order, GLOBALLY range-partition the packed rows
    // on the cluster key (pass a Morton-interleave expression for
    // multi-dim clustering) and sort within each output file — output
    // segments then carry DISJOINT cluster-key ranges, so the
    // manifest's per-file min/max stats ([[planFiles]]) prune across
    // the compacted segments, which arrival-order packing can never
    // offer. Same rows, same schema (the key is an expression, not a
    // stored column) — only the layout changes.
    // explicit clusterBy wins; otherwise the table's DECLARED
    // clustering (graft.clusterBy) keys the packed layout, so
    // maintenance compaction preserves the clustering discipline
    // without the caller restating it
    val effectiveCluster =
      if (clusterBy.nonEmpty) clusterBy
      else clusterByOf(propertiesOf(stats))
        .filter(schema.fieldNames.contains)
        .map(org.apache.spark.sql.functions.col)
    val packed =
      if (effectiveCluster.isEmpty) packed0.coalesce(outFiles)
      else packed0.repartitionByRange(outFiles, effectiveCluster: _*)
        .sortWithinPartitions(effectiveCluster: _*)
    val newFiles = writeSegment(
      ColumnMapping.toPhysicalFrame(packed, schema), dir, next)
    // the DV reference is carried forward ONLY while some KEPT file
    // still has tombstones — rewritten files materialized theirs, so
    // once no kept file is tombstoned the DV is dropped and `detail`
    // stops reporting DV presence (one distinct-files pass over the
    // deleted-rows-sized DV parquet decides it)
    val keepsTombstones = keep.nonEmpty && dvFiles.nonEmpty && {
      val keepSet = keep.toSet
      dvRows(spark, dir, dvFiles).select("__file").distinct()
        .collect().exists(r => keepSet.contains(r.getString(0)))
    }
    writeManifest(spark, dir, next, tag,
      keep ++ newFiles ++
        (if (keepsTombstones) dvFiles.map("dv:" + _) else Nil),
      schema.json,
      stats.view.filterKeys(keep.contains).toMap ++
        tableStats(stats) ++
        segmentStats(spark, dir, newFiles,
          propertiesOf(stats), Some(schema)))
    next
  }

  /** The data-skipping plan for a `column BETWEEN lower AND upper`
    * read: (files kept, all files) of the version. A file is kept
    * unless its recorded [min, max] for `column` provably excludes the
    * range — missing stats (old manifests, all-null files, non-stats
    * types) keep the file. Comparison is typed: numerics via
    * BigDecimal (exact for every numeric Spark renders, including
    * scientific notation), strings in Spark's own UTF8String binary
    * order (java.lang.String order differs beyond the BMP). Unparseable
    * endpoints (NaN) keep the file — pruning must only ever drop
    * provably-disjoint files.
    */
  def planFiles(spark: SparkSession, dir: String, column: String,
      lower: Any, upper: Any,
      version: Option[Int] = None): (Seq[String], Seq[String]) =
    planFilesMulti(spark, dir,
      Seq((column, Some(lower), Some(upper))), version)

  /** [[planFiles]] generalized to a CONJUNCTION of (possibly
    * one-sided) range constraints `(column, lower?, upper?)` — the
    * planning primitive behind [[readWhere]] and the `graft` DSv2
    * connector's filter pushdown: a file is kept unless SOME
    * constraint provably excludes it (`None` endpoint = unbounded
    * side). Same safety contract as [[planFiles]]: missing stats and
    * unparseable endpoints always keep the file, so pruning only ever
    * drops provably-disjoint files.
    */
  def planFilesMulti(spark: SparkSession, dir: String,
      bounds: Seq[(String, Option[Any], Option[Any])],
      version: Option[Int] = None): (Seq[String], Seq[String]) = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"ManagedTable.planFiles: no versions in $dir")
    val v = version.getOrElse(vs.last)
    val (_, all, schemaJson, stats) = readManifest(spark, dir, v)
    // plan over DATA files only (a DV can only remove rows, so stats
    // stay sound and DV presence never changes which files can match)
    val (files, _) = splitDv(all)
    (pruneByStats(files, stats, schemaJson.map(schemaOf), bounds), files)
  }

  /** The filter core of [[planFilesMulti]], over ALREADY-READ manifest
    * state — so callers holding the manifest in hand ([[mergeOnce]]'s
    * affected-file discovery) prune without a second manifest read.
    * Same safety contract: missing stats, unparseable endpoints and a
    * failed render keep the file.
    */
  private[sources] def pruneByStats(files: Seq[String], stats: FileStats,
      tableSchema: Option[org.apache.spark.sql.types.StructType],
      bounds: Seq[(String, Option[Any], Option[Any])]): Seq[String] = {
    val stringCols: Set[String] = tableSchema.map(_.fields.collect {
        case f if f.dataType == org.apache.spark.sql.types.StringType =>
          f.name
      }.toSet).getOrElse(Set.empty)
    def cmp(column: String)(a: String, b: String): Int =
      if (stringCols.contains(column))
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
      else new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    // stats are keyed by PHYSICAL column name (the name in the file)
    def physOf(column: String): String = tableSchema
      .map(ColumnMapping.physOf(_, column)).getOrElse(column)
    files.filter { p =>
      // a file with a RECORDED zero row count provably matches nothing
      // (same rule as the connector's mayMatch)
      !stats.get(p).flatMap(_.get(RowsStat)).exists(x =>
        try x._1.toLong == 0L
        catch { case _: NumberFormatException => false }) &&
      bounds.forall { case (column, lower, upper) =>
        stats.get(p).flatMap(_.get(physOf(column))) match {
          case Some((mn, mx)) =>
            try
              lower.forall(l => cmp(column)(mx,
                GraftScan.renderStatsValue(l)) >= 0) &&
                upper.forall(u => cmp(column)(mn,
                  GraftScan.renderStatsValue(u)) <= 0)
            catch { case _: NumberFormatException => true }
          case None => true // no stats recorded — never prune blind
        }
      }
    }
  }

  /** Fail-open translation of a row-level-DML predicate `Column` to
    * the conjunction-of-range bounds [[pruneByStats]] consumes — the
    * zone-map planning step for [[deleteWhere]] / [[replaceWhere]]
    * tombstone discovery. Every emitted bound is IMPLIED by the
    * predicate (a row satisfying the predicate has that column's value
    * inside the emitted range), so pruning with the bounds only ever
    * drops files that provably hold no matching row:
    *   - only `column <cmp> literal` conjuncts under top-level `AND`s
    *     translate; anything else (`OR`, `NOT`, arithmetic like
    *     `doc_id % 5 === 0`, functions, nested fields) contributes
    *     nothing — soundness over coverage, the same contract as
    *     [[pruneByStats]] itself;
    *   - strict comparisons widen to inclusive bounds (x > v ⇒ x ≥ v);
    *   - a bound is emitted only when the literal's type and the
    *     column's declared type sit in the same comparison family
    *     (numeric/numeric, string/string, date/date, ts/ts), so the
    *     string render compared against the recorded stats obeys
    *     exactly the comparison SQL will run — a cross-family literal
    *     (e.g. a string compared to a numeric column, where SQL's
    *     implicit cast has its own semantics) is skipped rather than
    *     risked;
    *   - literal values stay in the EXTERNAL form the Column API
    *     carries (String, java.sql.Timestamp/Date, numerics):
    *     [[GraftScan.renderStatsValue]] renders each of those to
    *     exactly the string the manifest stats record — the same
    *     render the [[merge]] key-bounds path feeds it.
    * Null literals emit nothing (`x = NULL` is never true, but
    * fail-open is the simpler invariant), and bounds over non-null
    * stats are sound because no comparison is satisfied by a null row.
    *
    * The tree walk itself lives in
    * [[org.apache.spark.sql.graftshim.ColumnBridge.predicateBounds]]:
    * a Spark-4 Column is an unresolved `internal.ColumnNode` tree
    * (comparison operators are `UnresolvedFunction("="/"<"/…)` nodes,
    * never analyzed Catalyst BinaryComparisons), and that node type is
    * private[sql].
    */
  private[sources] def predicateBounds(
      schema: org.apache.spark.sql.types.StructType,
      predicate: org.apache.spark.sql.Column)
      : Seq[(String, Option[Any], Option[Any])] =
    org.apache.spark.sql.graftshim.ColumnBridge
      .predicateBounds(schema, predicate)

  /** The data files of `files` that MAY hold a row matching
    * `predicate`, by manifest stats — [[predicateBounds]] ∘
    * [[pruneByStats]]. An untranslatable predicate keeps every file
    * (identical behavior to no pruning); result ⊇ the files with
    * matching rows, always.
    */
  private[sources] def predicateCandidates(files: Seq[String],
      stats: FileStats, schema: org.apache.spark.sql.types.StructType,
      predicate: org.apache.spark.sql.Column): Seq[String] = {
    val bounds = predicateBounds(schema, predicate)
    if (bounds.isEmpty) files
    else pruneByStats(files, stats, Some(schema), bounds)
  }

  /** Range read with manifest-level data skipping: plan the file subset
    * with [[planFiles]], scan only it, apply the residual predicate.
    * Result always equals `read(...).filter(column between lower and
    * upper)` — stats only ever EXCLUDE provably-disjoint files. This is
    * the zone-map pruning that makes the q90 Z-order layout pay off:
    * clustered commits give each file a tight [min, max], so a range
    * probe of a 100 TB table opens the few files that can match
    * instead of all of them.
    */
  def readWhere(spark: SparkSession, dir: String, column: String,
      lower: Any, upper: Any, version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (kept, _) = planFiles(spark, dir, column, lower, upper, version)
    val pred = col(column) >= lit(lower) && col(column) <= lit(upper)
    val (_, all, schemaJson, _) =
      readManifest(spark, dir, version.getOrElse(versions(spark, dir).last))
    val (_, dvFiles) = splitDv(all)
    val schema = schemaJson.map(schemaOf).getOrElse(
      org.apache.spark.sql.types.StructType(Nil))
    if (kept.isEmpty)
      // all files pruned: empty result of the recorded schema
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      // manifest schema, never footer inference — same evolved-segment
      // rule as [[read]]: a pruned scan of a schema-evolved version
      // must null-fill the old segments' missing columns, not adopt
      // one file's footer. DV applied like every read path.
      scanMinusDv(spark, dir, kept, schema, dvFiles).filter(pred)
  }
}

/** The [[org.apache.spark.sql.execution.datasources.FileIndex]] behind
  * [[ManagedTable.scanFiles]]: a fixed list of file statuses taken from
  * a manifest (or a writer's staged files). It lists nothing — the
  * files are immutable once written, so `refresh` has nothing to do —
  * and has no partition columns, as the segment directories are not
  * `key=value` named. Equal file lists give equal indexes (as
  * `InMemoryFileIndex` compares its root paths), which is what lets a
  * cached read be found again by the next read of the same version.
  */
private[sources] final class ManifestFileIndex(
    files: Seq[org.apache.hadoop.fs.FileStatus])
    extends org.apache.spark.sql.execution.datasources.FileIndex {
  import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata,
    PartitionDirectory}

  override val rootPaths: Seq[Path] = files.map(_.getPath)

  override def listFiles(
      partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[PartitionDirectory] =
    Seq(PartitionDirectory(org.apache.spark.sql.catalyst.InternalRow.empty,
      files.map(FileStatusWithMetadata(_))))

  override def inputFiles: Array[String] =
    files.map(_.getPath.toUri.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.getLen).sum

  override def partitionSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Nil)

  override def equals(other: Any): Boolean = other match {
    case o: ManifestFileIndex => rootPaths == o.rootPaths
    case _ => false
  }

  override def hashCode(): Int = rootPaths.hashCode()
}
