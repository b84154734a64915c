package graft.sources

import java.io.{DataInputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.util.{LinkedHashMap => JLinkedHashMap}

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** BLOOM-FILTER FILE SKIPPING — per-file membership digests for the
  * columns a table declares under `graft.bloomFilterColumns`, probed
  * by equality/IN planning-time pruning and by join-driven runtime
  * file pruning wherever the min/max zone maps cannot help.
  *
  * Why this exists at 100 TB: min/max stats prune RANGE-clustered
  * layouts, but a point lookup on a HIGH-CARDINALITY, UNCLUSTERED
  * column (a trace id, a user id on a time-clustered fact table) sees
  * every file's [min, max] span the whole domain — zone maps keep
  * everything and the probe scans the table. A per-file Bloom filter
  * answers "definitely not in this file" for exactly that shape, the
  * same role Delta's Bloom-filter index and Parquet's optional bloom
  * pages play. Design properties:
  *
  *   - SIDECAR, not inline: digests are sized ~1.2 bytes per distinct
  *     value (fpp 1%), far too big for a JSON manifest at 100 TB, so
  *     each (file, column) digest lives in the segment directory
  *     (`<segment>/_bf/<file>.<col>.bf`) and the manifest stats carry
  *     only its relative path under the pseudo-column
  *     `__bf:<physical col>` — the same sidecar discipline as
  *     deletion vectors. Segments are immutable and swept whole, so
  *     vacuum/compaction GC the digests with their segment for free.
  *   - BUILT BY THE WRITER, not a pass of its own: the task that
  *     writes a file folds each digest column's value hashes as the
  *     rows stream by ([[WriteStats]]) and writes the file's sidecar
  *     when it closes the file, so a digested table pays no extra read
  *     or Spark job per commit. Values hash to 64-bit on the executors;
  *     the driver sees one tiny (file, column, path) cell per digest
  *     in the commit message, never values or digest bytes.
  *   - PROBE PARITY BY CONSTRUCTION: the probe hashes the SAME
  *     canonical string render through the SAME function
  *     ([[XXH64.hashUTF8String]], seed 42) that the write applied to
  *     the value's string render, so a present value can never be
  *     missed (false negatives impossible, false positives only make
  *     pruning weaker). Eligible columns are restricted to the types
  *     whose string render is canonical on both sides: integrals and
  *     strings.
  *   - FAIL-OPEN: a missing/corrupt/foreign-versioned sidecar, an
  *     ineligible type, or any IO error keeps the file — identical to
  *     the absent-stats contract everywhere else in the manifest tier.
  *
  * Old segments written before the property was set simply lack the
  * entries (never pruned); RENAME COLUMN rewrites the property list
  * in the same commit ([[ManagedTable.renameColumn]]), and existing
  * digests stay valid across it (stats key on the PHYSICAL name).
  */
object BloomSkipping {
  /** Comma-separated LOGICAL column names to digest on every write. */
  val ColumnsProp = "graft.bloomFilterColumns"

  /** Target false-positive rate per digest (default 0.01). */
  val FppProp = "graft.bloomFilterFpp"

  /** Stats pseudo-column prefix: `__bf:<physical col>` →
    * `(sidecar relative path, scheme)`. Invisible to min/max pruning
    * (lookups key on pushed column names) like `__rows`/`__nn:`.
    */
  private[sources] val StatPrefix = "__bf:"

  /** Digest scheme tag — a probe ignores entries it doesn't speak. */
  private[sources] val Scheme = "xx42km"

  private[sources] def statKey(physCol: String): String =
    StatPrefix + physCol

  /** The digest columns recorded in `props` (logical names). */
  private[sources] def bloomColsOf(props: Map[String, String]): Seq[String] =
    props.get(ColumnsProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** Types whose recorded render is canonical and identical between
    * the build side and the probe side: integrals and strings
    * verbatim, date/timestamp through their internal numerics (the
    * writer digests epoch days / epoch micros and probes convert the
    * same way — [[graft.sources.GraftScan.renderStatsValue]]).
    * Floats/decimals are excluded — `5.10` vs `5.1` would silently
    * break the no-false-negative contract.
    */
  private[sources] def eligible(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | ShortType | ByteType => true
    case DateType | TimestampType => true
    case _ => false
  }

  private[sources] def fppOf(props: Map[String, String]): Double =
    props.get(FppProp).flatMap(s => scala.util.Try(s.toDouble).toOption)
      .filter(p => p > 0 && p < 1).getOrElse(0.01)

  /** May the digested (file, column) contain `value`? TRUE on any
    * uncertainty — foreign scheme, unreadable sidecar, IO error, or an
    * exhausted per-pass probe budget (see [[withProbeBudget]]).
    */
  private[sources] def mightContain(dir: String, sidecarRel: String,
      scheme: String, value: String): Boolean = {
    if (scheme != Scheme) return true
    try {
      val (k, mBits, words) = cached(s"$dir/$sidecarRel") match {
        case Some(e) => e
        case None => return true // budget-skipped probe: keep the file
      }
      // EXACTLY the build side's hash: XxHash64(seed 42) over the
      // value's UTF-8 bytes — what xxhash64(cast(c as string)) ran
      val h1 = XXH64.hashUTF8String(UTF8String.fromString(value), 42L)
      val h2 = XXH64.hashLong(h1, 42L)
      var i = 0
      while (i < k) {
        val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, mBits)
        if ((words((bit >>> 6).toInt) & (1L << (bit & 63))) == 0L)
          return false
        i += 1
      }
      true
    } catch { case NonFatal(_) => true }
  }

  /** Kirsch–Mitzenmacher double hashing: bit_i = (h1 + i·h2) mod m. */
  private def insert(words: Array[Long], mBits: Long, k: Int,
      h1: Long): Unit = {
    val h2 = XXH64.hashLong(h1, 42L)
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, mBits)
      words((bit >>> 6).toInt) |= (1L << (bit & 63))
      i += 1
    }
  }

  /** (k hashes, m bits — multiple of 64) for `n` distinct values at
    * false-positive rate `p`: the standard m = −n·ln p / ln²2,
    * k = (m/n)·ln 2, floored at one 64-bit word. n = 0 (an all-null
    * file) gives an all-zero digest: every equality probe is
    * definitely-absent there, which is exact.
    */
  private def sizeFor(n: Int, p: Double): (Int, Long) = {
    val ln2 = math.log(2)
    val m0 = math.ceil(-n.max(1) * math.log(p) / (ln2 * ln2)).toLong
    val mBits = ((m0 + 63) >>> 6) << 6
    val k = math.round(mBits.toDouble / n.max(1) * ln2)
      .max(1L).min(16L).toInt
    (k, mBits)
  }

  /** `data/v7-u/part-0.parquet` + col → `data/v7-u/_bf/part-0.parquet
    * .<enc col>.bf` — inside the segment (underscore-prefixed dirs are
    * invisible to parquet file listing), swept with it.
    */
  private[sources] def sidecarRelFor(rel: String, c: String): String = {
    val enc = java.net.URLEncoder.encode(c, "UTF-8")
    val i = rel.lastIndexOf('/')
    if (i < 0) s"_bf/$rel.$enc.bf"
    else s"${rel.take(i)}/_bf/${rel.drop(i + 1)}.$enc.bf"
  }

  private val Magic = 0x47424631 // "GBF1"

  /** The sidecar payload of one (file, column) digest over the value
    * hashes `hashes`, sized to their distinct count at `fpp`.
    */
  private[sources] def digestPayload(hashes: java.util.Set[java.lang.Long],
      fpp: Double): Array[Byte] = {
    val (k, mBits) = sizeFor(hashes.size(), fpp)
    val words = new Array[Long]((mBits >>> 6).toInt)
    val it = hashes.iterator()
    while (it.hasNext) insert(words, mBits, k, it.next().longValue())
    payload(k, mBits, words)
  }

  /** Render a digest as its sidecar payload. */
  private def payload(k: Int, mBits: Long, words: Array[Long])
      : Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 4 + 8 + 8 * words.length)
    bb.putInt(Magic); bb.putInt(k); bb.putLong(mBits)
    var i = 0
    while (i < words.length) { bb.putLong(words(i)); i += 1 }
    bb.array()
  }

  /** Executor-side sidecar write of a [[digestPayload]];
    * overwrite=true makes task retries idempotent (content is
    * deterministic for a given file+column). The caller threads the
    * SESSION's Hadoop configuration in (serialized into the closure) —
    * a bare `new Configuration()` would drop object-store credentials
    * and filesystem overrides, and unlike the probe side this path is
    * NOT fail-open: a failed sidecar write fails the write task.
    */
  private[sources] def writeSidecarBytes(abs: String,
      bytes: Array[Byte], conf: Configuration): Unit = {
    val p = new Path(abs)
    val fs = p.getFileSystem(conf)
    val out = new DataOutputStream(fs.create(p, true))
    try out.write(bytes) finally out.close()
  }

  /** The session's Hadoop configuration when a session is active (the
    * probe runs on the driver during planning, where one always is),
    * else a bare default — probes are fail-open so a missing session
    * costs pruning strength, never correctness.
    */
  private def probeConf(): Configuration =
    try SparkSession.active.sessionState.newHadoopConf()
    catch { case NonFatal(_) => new Configuration() }

  private def readSidecar(abs: String): (Int, Long, Array[Long]) = {
    val p = new Path(abs)
    val fs = p.getFileSystem(probeConf())
    val in = new DataInputStream(fs.open(p))
    try {
      require(in.readInt() == Magic, s"not a graft bloom sidecar: $abs")
      val k = in.readInt()
      val mBits = in.readLong()
      val words = new Array[Long]((mBits >>> 6).toInt)
      var i = 0
      while (i < words.length) { words(i) = in.readLong(); i += 1 }
      (k, mBits, words)
    } finally in.close()
  }

  /** Cap on the digest cache's accumulated PAYLOAD bytes (below).
    * Session-configurable because the right number is a driver-memory
    * decision, not a universal one.
    */
  private[sources] val CacheBytesConf = "spark.graft.bloom.cacheMaxBytes"
  private val DefaultCacheBytes = 64L << 20 // 64 MiB

  private def cacheMaxBytes: Long =
    (try SparkSession.active.conf
      .getOption(CacheBytesConf).map(_.toLong)
    catch { case NonFatal(_) => None }).getOrElse(DefaultCacheBytes)

  /** Driver-side digest cache (planning probes run on the driver):
    * LRU over absolute sidecar paths, bounded by accumulated PAYLOAD
    * BYTES — digests scale with the file's distinct count (~1.2 B per
    * distinct value), so a high-cardinality file's entry is megabytes
    * and an entry-count bound would let the cache retain gigabytes.
    * An entry bigger than a quarter of the cap is served uncached (it
    * would evict everything else for one probe pass). Segments are
    * immutable, so an entry can never go stale — eviction is purely a
    * size bound.
    */
  private val cache: JLinkedHashMap[String, (Int, Long, Array[Long])] =
    new JLinkedHashMap[String, (Int, Long, Array[Long])](64, 0.75f, true)
  private var cacheBytes = 0L

  private def entryBytes(e: (Int, Long, Array[Long])): Long =
    8L * e._3.length + 64 // payload words + fixed overhead estimate

  /** PER-PLANNING-PASS probe budget — the guard against sidecar
    * THRASH: when one pruning pass's candidate digests exceed what
    * the cache can hold, every further probe is a guaranteed
    * miss-load-evict, re-read from the store on EVERY planning pass
    * for zero retained benefit. A pass bracketed by
    * [[withProbeBudget]] charges each cache MISS's payload bytes
    * against one cache-capacity's worth of budget (hits are free);
    * once exhausted, remaining probes in the pass return None and
    * the caller fails open (keeps the file). Correctness is
    * unaffected — bloom pruning is advisory and the zone-map test
    * still applies to every candidate; a pathological candidate set
    * costs at most one cache fill of IO per pass instead of
    * candidate-set-sized IO.
    */
  private val probeBudget = new ThreadLocal[Array[Long]]()

  private[sources] def withProbeBudget[T](body: => T): T = {
    val prev = probeBudget.get()
    probeBudget.set(Array(cacheMaxBytes))
    try body finally probeBudget.set(prev)
  }

  /** Loads skipped by an exhausted budget (cumulative; test/telemetry
    * observability only).
    */
  private[sources] val budgetSkips = new java.util.concurrent.atomic.AtomicLong

  private def cached(abs: String): Option[(Int, Long, Array[Long])] = {
    cache.synchronized {
      val hit = cache.get(abs)
      if (hit != null) return Some(hit)
    }
    val budget = probeBudget.get()
    if (budget != null && budget(0) <= 0L) {
      budgetSkips.incrementAndGet()
      return None // pass already loaded a cache-full; stop thrashing
    }
    val loaded = readSidecar(abs) // IO outside the lock
    val bytes = entryBytes(loaded)
    if (budget != null) budget(0) -= bytes
    val cap = cacheMaxBytes
    if (bytes <= cap / 4) cache.synchronized {
      if (!cache.containsKey(abs)) {
        cache.put(abs, loaded)
        cacheBytes += bytes
        val it = cache.entrySet().iterator()
        while (cacheBytes > cap && it.hasNext) {
          val eldest = it.next()
          if (eldest.getKey != abs) {
            cacheBytes -= entryBytes(eldest.getValue)
            it.remove()
          }
        }
      }
    }
    Some(loaded)
  }
}
