package graft.core

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** The MANIFEST layer of [[Collection]], split out for maintainability
  * (the behavior and every access path are unchanged — `object
  * Collection` mixes this trait in, so `Collection.Manifest`,
  * `Collection.registerCommitArbiter`, `import Collection._` all
  * resolve exactly as before):
  *
  *  - the snapshot data model ([[Collection.ShardEntry]] /
  *    [[Collection.ShardData]] / [[Collection.ColStat]] and the
  *    [[Collection.Manifest]] class with its lazy shard cache);
  *  - shard/manifest JSON serialization and the content-addressed
  *    shard store;
  *  - zone-map/bloom skip-layer primitives ([[Collection.AxisDomain]],
  *    footer stats decode, the JVM-wide bloom bitset cache);
  *  - the exclusive-publish commit arbitration
  *    ([[Collection.CommitArbiter]], built-in arbiters, scheme
  *    registry, [[graft.core.ConditionalPutArbiter]] plugging in via
  *    `registerCommitArbiter`).
  */
// Serializable: nested case classes (ColStat, ShardData, ...) carry an
// $outer reference to the mixing object — task results holding one
// (e.g. commit-time footer-stats rows) must serialize through it (the
// module deserializes back to the singleton via generated readResolve)
private[graft] trait CollectionManifestLayer extends Serializable {

  /** Sentinel column key under which LEGACY axis-only shard stats
    * (`"stats": {file: [lo, hi]}`) surface in [[ShardData.stats]]; the
    * prune layer resolves it when filtering on the axis column. */
  private[core] val LegacyAxisKey = ""

  private[core] val ManifestName = "manifest-([0-9]+)\\.json".r

  private[core] val ShardDir = "shards"

  /** Diagnostic counter: shard-file JSON reads (the spec proving that a
    * partition-filtered query opens only the touched shards). */
  private[graft] val shardReadCounter = new java.util.concurrent.atomic.AtomicLong(0)

  private[core] def writeJson(fs: FileSystem, path: Path, value: Object): Unit = {
    val out = fs.create(path, true)
    try out.write(new ObjectMapper().writerWithDefaultPrettyPrinter().writeValueAsBytes(value))
    finally out.close()
  }


  /** One entry per partition SUBTREE (all-but-last path segment) in the
    * root manifest: the subtree's partition names (root-resident, so
    * listings and collision checks never open a shard) and the
    * content-addressed shard file holding its data-file list. An empty
    * `file` means the list is inline (legacy single-JSON manifests).
    *
    * `rollup` aggregates the shard's per-file zone maps to subtree
    * granularity: `rollup(col)` is present ONLY when every file in the
    * subtree recorded stats for `col`, so a filter that can't overlap
    * the rolled-up interval skips the whole subtree WITHOUT loading its
    * shard JSON — the layer that keeps axis-range queries O(matching
    * subtrees) even on partitionings with no monotonic key derivation
    * (the Iceberg manifest-list partition-summary shape). */
  private[graft] final case class ShardEntry(
      prefix: String, partitions: Seq[String], file: String,
      rollup: Map[String, ColStat] = Map.empty,
      /** Subtree row total (present iff every file recorded a count) —
        * a full-collection count() is O(root), zero shard IO. */
      rowTotal: Option[Long] = None,
      /** Subtree byte total (present iff every file recorded a size) —
        * [[Collection.sizeOnDisk]] and the SQL relation's CBO
        * `sizeInBytes` read it off the root, zero shard IO. */
      byteTotal: Option[Long] = None,
      /** Subtree DELETION-VECTOR row total (r11): 0 = no file in this
        * subtree has deleted rows, so whole-table metadata MIN/MAX can
        * refuse DV'd snapshots off the root, zero shard IO (a DV'd
        * file's zone maps bound a SUPERSET — still sound for pruning,
        * no longer exact for aggregates). `rowTotal` above is LIVE rows
        * (physical minus this). */
      dvCount: Long = 0L)

  private[core] def joinPath(prefix: String, last: String): String =
    if (prefix.isEmpty) last else s"$prefix/$last"

  /** A committed snapshot. The root holds metadata + the shard table
    * (O(partitions)); per-subtree FILE lists load lazily and are cached —
    * a 10^7-file collection never parses more than the touched subtrees
    * on a pruned read path. */
  /** Comparison domain of an axis column for zone-map pruning: decodes
    * filter literals (`Long | String` from [[FilterExpr]]) and the
    * canonical stat strings into one ordered value space. Canonical
    * encodings: timestamps = epoch MICROS, dates = epoch DAYS, integrals
    * = long, fractionals = double, strings = raw — exactly what
    * [[footerAxisStats]] extracts from parquet footers. */
  private[core] sealed abstract class AxisDomain {
    def decodeLit(v: Any): Option[Any]
    def decodeStat(s: String): Option[Any]
    def cmp(a: Any, b: Any): Int
  }

  private[core] object AxisDomain {
    import org.apache.spark.sql.types._

    def of(dt: DataType, zone: java.time.ZoneId): Option[AxisDomain] = dt match {
      case LongType | IntegerType | ShortType | ByteType => Some(Integral)
      case DoubleType | FloatType                        => Some(Fractional)
      case TimestampType                                 => Some(new Ts(zone))
      // NTZ values (and their parquet footer stats, isAdjustedToUTC=false)
      // are zone-FREE local-wallclock micros; decoding filter literals via
      // the session zone would skew the comparison by the zone offset and
      // prune files that contain matching rows. UTC is the identity zone:
      // ldt.atZone(UTC).toInstant = the wallclock micros the stats carry.
      case TimestampNTZType                              => Some(new Ts(java.time.ZoneOffset.UTC))
      case DateType                                      => Some(Dates)
      case StringType                                    => Some(Str)
      case _                                             => None
    }

    private def longCmp(a: Any, b: Any): Int =
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])

    object Integral extends AxisDomain {
      def decodeLit(v: Any): Option[Any] = v match {
        case l: Long => Some(l)
        case i: Int  => Some(i.toLong)
        case s: String => s.toLongOption
        case _ => None
      }
      def decodeStat(s: String): Option[Any] = s.toLongOption
      def cmp(a: Any, b: Any): Int = longCmp(a, b)
    }

    object Fractional extends AxisDomain {
      def decodeLit(v: Any): Option[Any] = v match {
        case d: Double => Some(d)
        case l: Long => Some(l.toDouble)
        case i: Int  => Some(i.toDouble)
        case s: String => s.toDoubleOption
        case _ => None
      }
      def decodeStat(s: String): Option[Any] = s.toDoubleOption
      def cmp(a: Any, b: Any): Int =
        java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    }

    /** Timestamp literals parse like Spark's string->timestamp cast:
      * `yyyy-MM-dd[ HH:mm:ss[.S...]]` in `zone` — the SESSION zone for
      * `TimestampType` (canonical domain: UTC-instant micros), and
      * fixed UTC for `TimestampNTZType` (canonical domain: zone-free
      * wallclock micros, matching the isAdjustedToUTC=false footer
      * stats). */
    final class Ts(zone: java.time.ZoneId) extends AxisDomain {
      def decodeLit(v: Any): Option[Any] = v match {
        case s: String => try {
          val ldt =
            if (s.length <= 10) java.time.LocalDate.parse(s.trim).atStartOfDay
            else java.time.LocalDateTime.parse(s.trim.replace(' ', 'T'))
          val inst = ldt.atZone(zone).toInstant
          Some(inst.getEpochSecond * 1000000L + inst.getNano / 1000L)
        } catch { case _: Exception => None }
        case _ => None // a bare number vs a timestamp axis: don't guess units
      }
      def decodeStat(s: String): Option[Any] = s.toLongOption
      def cmp(a: Any, b: Any): Int = longCmp(a, b)
    }

    object Dates extends AxisDomain {
      def decodeLit(v: Any): Option[Any] = v match {
        case s: String =>
          try Some(java.time.LocalDate.parse(s.trim).toEpochDay)
          catch { case _: Exception => None }
        case _ => None
      }
      def decodeStat(s: String): Option[Any] = s.toLongOption
      def cmp(a: Any, b: Any): Int = longCmp(a, b)
    }

    object Str extends AxisDomain {
      def decodeLit(v: Any): Option[Any] = v match {
        case s: String => Some(s)
        case _ => None
      }
      def decodeStat(s: String): Option[Any] = Some(s)
      def cmp(a: Any, b: Any): Int = a.asInstanceOf[String].compareTo(b.asInstanceOf[String])
    }
  }

  /** Per-column `(min, max)` of one parquet file from its FOOTER
    * statistics — metadata-only, no data pages read, ONE footer open for
    * every requested column. Returns the canonical string encoding
    * ([[AxisDomain]]); a column is absent from the result whenever the
    * footer can't prove its bounds in every block (missing/empty stats,
    * INT96 timestamps, unexpected physical type, or timestamp stats
    * whose `isAdjustedToUTC` doesn't match the declared column type —
    * instant and wallclock micros differ by the zone offset and must
    * never be compared) — callers then record nothing and readers never
    * prune the file on that column. Runs on executors for large commits
    * ([[Collection]]'s `fileStats`); `conf` must be the session Hadoop
    * configuration (credentials, endpoints, custom schemes), shipped
    * there via [[SerializableHadoopConf]].
    *
    * Each entry of `cols` pairs a column name with its expected
    * timestamp adjustment: `Some(true)` for `TimestampType` (footer
    * stats are UTC-instant micros), `Some(false)` for `TimestampNTZType`
    * (local-wallclock micros), `None` for non-timestamp columns. */
  private[core] def footerColumnStats(rootStr: String, rel: String,
                                      cols: Seq[(String, Option[Boolean])],
                                      conf: org.apache.hadoop.conf.Configuration): (String, Map[String, ColStat], Option[Long], Option[Long]) =
    try {
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      import org.apache.parquet.schema.LogicalTypeAnnotation
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(absOf(rootStr, rel)), conf)
      // file length rides the footer open for free (HadoopInputFile
      // wraps the FileStatus) -> per-file bytes in the manifest, so
      // compaction planning and CBO size estimates go metadata-only
      val bytes = Some(in.getLength)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        if (blocks.isEmpty) return (rel, Map.empty, Some(0L), bytes)
        val out = cols.flatMap { case (colName, expectTsAdjusted) =>
          var lo: Any = null
          var hi: Any = null
          var ok = true
          var nulls: Option[Long] = Some(0L) // drops to None if any block omits it
          for (b <- blocks if ok) {
            b.getColumns.asScala.find(_.getPath.toDotString == colName) match {
              case None => ok = false
              case Some(c) =>
                val st = c.getStatistics
                if (st == null || st.isEmpty || !st.hasNonNullValue) ok = false
                else {
                  nulls = if (st.isNumNullsSet && st.getNumNulls >= 0)
                    nulls.map(_ + st.getNumNulls) else None
                  val pt = c.getPrimitiveType
                  // canonicalize this block's bounds; isMax steers rounding
                  // so the interval only ever WIDENS (nanos -> micros)
                  def canon(v: AnyRef, isMax: Boolean): Option[Any] = pt.getPrimitiveTypeName match {
                    case INT64 =>
                      val x = v.asInstanceOf[java.lang.Long].longValue
                      pt.getLogicalTypeAnnotation match {
                        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                          // trust only stats in the declared column type's
                          // domain: an isAdjustedToUTC mismatch means these
                          // micros are offset by the writer zone relative to
                          // the filter literals — pruning would drop matches
                          if (!expectTsAdjusted.contains(t.isAdjustedToUTC)) None
                          else t.getUnit match {
                            case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(x * 1000L)
                            case LogicalTypeAnnotation.TimeUnit.MICROS => Some(x)
                            case LogicalTypeAnnotation.TimeUnit.NANOS  =>
                              val q = Math.floorDiv(x, 1000L)
                              Some(if (isMax && Math.floorMod(x, 1000L) != 0L) q + 1L else q)
                          }
                        case _: LogicalTypeAnnotation.TimeLogicalTypeAnnotation => None
                        // declared-timestamp column but unannotated INT64 (or
                        // a non-timestamp logical type): unknown, don't guess
                        case _ => if (expectTsAdjusted.isDefined) None else Some(x)
                      }
                    case INT32 if expectTsAdjusted.isEmpty =>
                      Some(v.asInstanceOf[java.lang.Integer].longValue)
                    case FLOAT  => Some(v.asInstanceOf[java.lang.Float].doubleValue)
                    case DOUBLE => Some(v.asInstanceOf[java.lang.Double].doubleValue)
                    case BINARY =>
                      pt.getLogicalTypeAnnotation match {
                        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
                          Some(v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
                        case _ => None
                      }
                    case _ => None // INT96 etc: no trustworthy stats
                  }
                  def merge(cur: Any, cand: Any, wantMax: Boolean): Any = {
                    if (cur == null) return cand
                    val c0 = (cur, cand) match {
                      case (a: Long, b: Long)     => java.lang.Long.compare(a, b)
                      case (a: Double, b: Double) => java.lang.Double.compare(a, b)
                      case (a: String, b: String) => a.compareTo(b)
                      case _                      => return cur
                    }
                    if ((wantMax && c0 < 0) || (!wantMax && c0 > 0)) cand else cur
                  }
                  (canon(st.genericGetMin.asInstanceOf[AnyRef], isMax = false),
                   canon(st.genericGetMax.asInstanceOf[AnyRef], isMax = true)) match {
                    case (Some(mn), Some(mx)) =>
                      lo = merge(lo, mn, wantMax = false)
                      hi = merge(hi, mx, wantMax = true)
                    case _ => ok = false
                  }
                }
            }
          }
          if (ok && lo != null && hi != null)
            Some(colName -> ColStat(lo.toString, hi.toString, nulls))
          else None
        }.toMap
        (rel, out, Some(blocks.map(_.getRowCount).sum), bytes)
      } finally reader.close()
    } catch {
      case e: Exception =>
        // a failed footer open on a real deployment (credentials, HA
        // nameservice) must be DIAGNOSABLE, not a silent no-stats file —
        // the file stays unprunable either way, which is always correct
        statsLog.warn(s"zone-map stats unavailable for $rootStr/$rel: $e")
        (rel, Map.empty, None, None)
    }

  /** One bloom-prune obligation: the filter implies `col` ∈ `values`
    * (domain-canonical `Long | Double | String`); a file whose blooms
    * prove every value absent from every row group cannot match. */
  private[core] final case class BloomCheck(
      col: String, expectTsAdjusted: Option[Boolean], values: Seq[Any]) {
    /** The values' bloom hashes in each physical form a chunk may store
      * them in, computed once per check (a query builds its checks
      * once); `None` for a form some value has no unambiguous encoding
      * in. Hashed through a private filter instance: parquet's
      * `BloomFilter.hash` writes a per-instance buffer, so shared
      * cached filters never hash. */
    @transient private[core] lazy val hashes: Map[BloomRepr, Option[Array[Long]]] = {
      val h = new org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter(
        org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter.LOWER_BOUND_BYTES)
      BloomRepr.all.map { r =>
        val hs = values.map(r.hash(h, _))
        r -> (if (hs.forall(_.isDefined)) Some(hs.flatten.toArray) else None)
      }.toMap
    }
  }

  /** The physical form in which a bloom column's chunks store a value —
    * what a pinned literal is hashed as. */
  private[core] sealed abstract class BloomRepr {
    def hash(h: org.apache.parquet.column.values.bloomfilter.BloomFilter, v: Any): Option[Long]
  }
  private[core] object BloomRepr {
    import org.apache.parquet.column.values.bloomfilter.BloomFilter
    case object Int64 extends BloomRepr {
      def hash(h: BloomFilter, v: Any): Option[Long] =
        v match { case l: Long => Some(h.hash(l)); case _ => None }
    }
    case object Int32 extends BloomRepr {
      def hash(h: BloomFilter, v: Any): Option[Long] =
        v match { case l: Long if l.isValidInt => Some(h.hash(l.toInt)); case _ => None }
    }
    case object Utf8 extends BloomRepr {
      def hash(h: BloomFilter, v: Any): Option[Long] = v match {
        case s: String => Some(h.hash(org.apache.parquet.io.api.Binary.fromString(s)))
        case _         => None
      }
    }
    case object Float64 extends BloomRepr {
      def hash(h: BloomFilter, v: Any): Option[Long] =
        v match { case d: Double => Some(h.hash(d)); case _ => None }
    }
    case object Float32 extends BloomRepr {
      def hash(h: BloomFilter, v: Any): Option[Long] =
        v match { case d: Double => Some(h.hash(d.toFloat)); case _ => None }
    }
    val all: Seq[BloomRepr] = Seq(Int64, Int32, Utf8, Float64, Float32)

    /** The form a chunk of physical type `pt` stores a check's values in,
      * or None when the type can't represent them unambiguously (then
      * the file is never pruned on the check). */
    def of(pt: org.apache.parquet.schema.PrimitiveType,
           expectTs: Option[Boolean]): Option[BloomRepr] = {
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      import org.apache.parquet.schema.LogicalTypeAnnotation
      pt.getPrimitiveTypeName match {
        case INT64 => pt.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            // same domain discipline as the zone maps: only trust
            // micros in the declared adjustment, the unit we write
            if (expectTs.contains(t.isAdjustedToUTC) &&
                t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS) Some(Int64)
            else None
          case _: LogicalTypeAnnotation.TimeLogicalTypeAnnotation => None
          case _ => if (expectTs.isDefined) None else Some(Int64)
        }
        case INT32 if expectTs.isEmpty => Some(Int32)
        case BINARY => pt.getLogicalTypeAnnotation match {
          case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => Some(Utf8)
          case _ => None
        }
        case DOUBLE => Some(Float64)
        case FLOAT  => Some(Float32)
        case _      => None
      }
    }
  }

  /** One data file's bloom filters for one column, one per row group,
    * with the chunks' physical type the probe hashes into. */
  private[core] final class FileBlooms(
      ptype: org.apache.parquet.schema.PrimitiveType,
      filters: Array[org.apache.parquet.column.values.bloomfilter.BloomFilter]) {
    val bytes: Long = filters.iterator.map(_.getBitsetSize.toLong).sum

    /** Do the blooms prove every value of `chk` absent from every row
      * group? Each filter is probed under its own lock: parquet 1.16's
      * `findHash` writes a per-instance mask, and cached filters are
      * shared by concurrent queries. */
    def provesAbsent(chk: BloomCheck): Boolean =
      BloomRepr.of(ptype, chk.expectTsAdjusted).flatMap(chk.hashes) match {
        case Some(hs) => !filters.exists(f => f.synchronized(hs.exists(f.findHash)))
        case None     => false
      }
  }

  /** JVM-wide cache of each data file's per-row-group bloom filters for
    * a column, keyed by (absolute file, physical column); `None` when
    * the file can never be pruned on the column (some row group lacks
    * the column or its bloom, no row groups, a foreign hash strategy).
    * Sound without invalidation because data files are immutable:
    * rewrites produce NEW names, so an entry never goes stale. Filled
    * wherever a probe reads a footer — on a cluster each executor
    * holds its own. Bounded by [[BloomCacheCapBytes]] of bitsets and
    * cleared when a put would exceed it — a cache, not a store. */
  private val bloomCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Option[FileBlooms]]()
  private var bloomCacheBytes = 0L // guarded by bloomCache
  private val BloomCacheCapBytes = Runtime.getRuntime.maxMemory / 32
  /** Per-entry overhead charged beside the bitsets (key, arrays). */
  private val BloomEntryBytes = 256L

  /** Footer opens performed by bloom checks in this JVM — the spec's
    * observable for cache hits. */
  private[core] val bloomFooterOpens = new java.util.concurrent.atomic.AtomicLong(0L)

  private def bloomCachePut(k: (String, String), v: Option[FileBlooms]): Unit =
    bloomCache.synchronized {
      val bytes = BloomEntryBytes + v.fold(0L)(_.bytes)
      if (bloomCacheBytes + bytes > BloomCacheCapBytes) {
        bloomCache.clear()
        bloomCacheBytes = 0L
      }
      if (bloomCache.putIfAbsent(k, v) == null) bloomCacheBytes += bytes
    }

  /** Are the blooms of every column of `checks` cached for this file? */
  private[core] def bloomsCached(rootStr: String, rel: String,
                                 checks: Seq[BloomCheck]): Boolean = {
    val abs = absOf(rootStr, rel)
    checks.forall(chk => bloomCache.containsKey((abs, chk.col)))
  }

  /** Could this file contain a row satisfying every [[BloomCheck]]?
    * False ONLY on proof: for some check, every row group has a bloom
    * filter for the column, every value hashes unambiguously into the
    * column's physical type, and no hash hits. Anything less — missing
    * bloom, absent column, unhashable literal, foreign physical type,
    * IO failure — keeps the file. The file's blooms come from the
    * cache; only a miss reads its footer and bloom pages (one open for
    * every checked column). Runs on executors for large candidate sets. */
  private[core] def bloomMayContain(rootStr: String, rel: String,
                                    checks: Seq[BloomCheck],
                                    conf: => org.apache.hadoop.conf.Configuration): Boolean = {
    val abs = absOf(rootStr, rel)
    val cached = checks.map(chk => chk.col -> bloomCache.get((abs, chk.col)))
    val blooms =
      if (cached.forall(_._2 != null)) cached.toMap
      else loadBlooms(abs, checks.map(_.col).distinct, conf) match {
        case Some(loaded) => loaded
        case None         => return true // IO failure: no proof, nothing cached
      }
    !checks.exists(chk => blooms(chk.col).exists(_.provesAbsent(chk)))
  }

  /** Read one file's bloom filters for `cols` from its footer and bloom
    * pages, and cache them. None on an IO failure (not cached: it may
    * be transient). */
  private def loadBlooms(abs: String, cols: Seq[String],
                         conf: org.apache.hadoop.conf.Configuration)
      : Option[Map[String, Option[FileBlooms]]] =
    try {
      bloomFooterOpens.incrementAndGet()
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(abs), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val loaded = try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        cols.map { c =>
          val chunks = blocks.flatMap(_.getColumns.asScala.find(_.getPath.toDotString == c))
          val entry =
            if (blocks.isEmpty || chunks.size < blocks.size) None
            else {
              val filters = blocks.zip(chunks).map { case (b, cc) =>
                reader.getBloomFilterDataReader(b).readBloomFilter(cc)
              }
              val ptypes = chunks.map(_.getPrimitiveType).distinct
              if (ptypes.size != 1 || filters.exists(f => f == null ||
                  f.getHashStrategy !=
                    org.apache.parquet.column.values.bloomfilter.BloomFilter.HashStrategy.XXH64))
                None
              else Some(new FileBlooms(ptypes.head, filters.toArray))
            }
          c -> entry
        }.toMap
      } finally reader.close()
      loaded.foreach { case (c, e) => bloomCachePut((abs, c), e) }
      Some(loaded)
    } catch {
      case e: Exception =>
        statsLog.warn(s"bloom skip check unavailable for $abs: $e")
        None
    }

  private[core] lazy val statsLog =
    org.slf4j.LoggerFactory.getLogger("graft.core.Collection")

  /** Java-serializable carrier for a Hadoop `Configuration` (which is
    * `Writable` but not `Serializable`): ships the SESSION configuration
    * — S3A credentials, HA nameservices, custom schemes — to executor
    * tasks of the distributed footer-stat job. */
  private[core] final class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** One column's per-file zone map: [min, max] in the domain-canonical
    * string encoding of [[AxisDomain]], plus the file's NULL count for
    * the column when every row group reported one — `nulls = Some(0)`
    * lets `is null` filters prune the file, and makes `is not null`
    * row-independent for the negation algebra
    * ([[FilterExpr.mayMatchInterval]]). */
  private[graft] final case class ColStat(
      lo: String, hi: String, nulls: Option[Long] = None)

  /** DELETION VECTOR reference (r11): the rows of one data file deleted
    * without rewriting it — Delta-DV / Iceberg-v2 position-delete shape
    * over graft's PERSISTED row ids (`_zc_row` is written into every
    * file and globally unique, so a DV is a sorted rowid set, valid
    * under any later read plan or file slicing). The ids live in a
    * section of a shared per-commit DV file under `_dv/`:
    * `[magic, count, count x int64]` at `offset`. `count` rides the
    * manifest so metadata row counts stay exact with zero DV IO. A file
    * has at most ONE ref — a second delete merges (unions) into a fresh
    * section, copy-on-write, so manifests stay immutable snapshots. */
  final case class DvRef(path: String, offset: Long, count: Long) {
    /** Section byte length: magic(4) + count(4) + 8*count. */
    def length: Long = 8L + 8L * count
  }

  /** A shard file's payload: the subtree's data files plus per-file zone
    * maps — `stats(file)(column) = [[ColStat]]`, covering the axis plus
    * any declared `statsColumns` (files written before stats existed, or
    * whose footer had no usable statistics for a column, simply have no
    * entry — readers treat them as unprunable). Legacy axis-only shards
    * parse their single interval under the [[Collection.LegacyAxisKey]]
    * sentinel — the prune layer resolves it for the axis column. */
  private[graft] final case class ShardData(
      files: Seq[String],
      stats: Map[String, Map[String, ColStat]] = Map.empty,
      /** Per-file ROW counts (footer block totals) — the O(metadata)
        * substrate of [[Collection.countRows]]. Absent for files written
        * before counts were recorded. */
      rows: Map[String, Long] = Map.empty,
      /** Per-file COMMIT generation — files whose generation predates a
        * column's [[Manifest.columnSince]] entry are provably all-null
        * for it (schema-generation pruning). Absent for legacy files. */
      gens: Map[String, Long] = Map.empty,
      /** Per-file SIZE in bytes (captured off the same FileStatus the
        * commit-time footer pass opens — zero extra RPCs): compaction
        * planning and CBO size estimates go metadata-only. Absent for
        * files written before sizes were recorded
        * ([[Collection.backfillStats]] fills them in). */
      bytes: Map[String, Long] = Map.empty,
      /** Per-file DELETION VECTOR refs (r11): files absent from this map
        * have no deleted rows. `rows` above stays PHYSICAL (fsck's
        * footer comparison); live rows = rows(f) − dvs(f).count. */
      dvs: Map[String, DvRef] = Map.empty)

  private[graft] final class Manifest(
      val generation: Long,
      val taskBase: Long,
      val schemaDdl: String,
      val fills: Map[String, String],
      val shards: Seq[ShardEntry],
      loader: String => ShardData,
      /** Per-streaming-query high-water mark: the last micro-batch id
        * committed by each `insertStream` query. Committed ATOMICALLY
        * with the files of that batch, so a foreachBatch replay after a
        * crash is detected and skipped — exactly-once ingestion on top
        * of the manifest swap (the lakehouse idempotent-sink pattern). */
      val streams: Map[String, Long] = Map.empty,
      /** Shard lists synthesized from a legacy inline-`files` root that
        * exist only in this handle's memory. The first commit descending
        * from such a snapshot must materialize them to disk
        * (`Collection.publish`) or the new root would reference
        * shard names no other handle can resolve. */
      private[core] val inline: Map[String, Seq[String]] = Map.empty,
      /** Generation at which each EVOLVED column first existed
        * (`addVariable` records it): a file whose commit generation
        * predates `columnSince(c)` provably holds only nulls for `c` —
        * the schema-generation prune signal. Base-schema columns have no
        * entry (present since generation 0). */
      val columnSince: Map[String, Long] = Map.empty,
      /** Every column name EVER dropped from this collection. dropVariable
        * rewrites no data files, so a re-added column of the same name is
        * physically present in pre-drop files (readDataFiles resolves by
        * name) — the all-null proof would be unsound for it. addVariable
        * consults this set and omits the `columnSince` entry for such
        * names, permanently: generation pruning stays off for that column,
        * correctness stays on. */
      val droppedEver: Set[String] = Set.empty,
      /** Partitions THIS commit rewrote content-preserving (compact /
        * auto-compact): same rows, fresh files. Per-commit — never
        * inherited by later manifests. Streaming sources consult it to
        * skip re-delivering a compaction's files in their manifest
        * diffs. */
      val rewrites: Set[String] = Set.empty,
      /** The partition LAYOUT this snapshot's paths follow, as canonical
        * spec JSON — stamped by [[Collection.changePartitioning]] and
        * inherited by every later commit. `None` = the layout the root
        * config declared at create time (pre-evolution manifests).
        * Handles whose partitioning disagrees with the head manifest's
        * spec refuse to operate ([[Collection.currentManifest]]) — a
        * stale handle interpreting paths under the wrong layout would
        * silently mis-prune. */
      val partSpec: Option[String] = None,
      /** Wall-clock commit time (epoch millis), stamped at publish —
        * drives `TIMESTAMP AS OF` time travel
        * ([[Collection.generationAsOf]]) and age-based vacuum. Absent on
        * manifests written before the stamp existed. Writer-local clock:
        * monotonicity across writers is as good as their clocks. */
      val committedAtMs: Option[Long] = None,
      /** CHECK constraints (`name -> boolean SQL over the data columns`,
        * ANSI semantics: NULL passes). Enforced INSIDE every write job
        * as a per-row guard — a violating insert/update/merge fails
        * before its manifest commits, so no snapshot ever holds a
        * violating row ([[Collection.addConstraint]]). */
      val constraints: Map[String, String] = Map.empty,
      /** What KIND of commit produced this snapshot (`insert`, `update`,
        * `delete`, `compact`, `merge`, `repartition`, `add-column`, …)
        * — pure observability, surfaced by [[Collection
        * .describeHistory]] (the DESCRIBE HISTORY shape). Absent on
        * pre-label manifests. */
      val op: Option[String] = None,
      /** COLUMN RENAMES (r11): `logical name -> physical name`, the
        * Iceberg field-id shape over names — the PHYSICAL name is
        * pinned when a column is added (it is what every parquet file,
        * footer stat, and bloom structure carries, forever), the
        * LOGICAL name is what the schema declares and every API speaks.
        * Only genuinely renamed columns have entries; identity is
        * implicit. Metadata-only commits — no data file is ever
        * rewritten by a rename. */
      val renames: Map[String, String] = Map.empty) {

    /** Physical (file-resident) name of a logical column. */
    def physName(logical: String): String = renames.getOrElse(logical, logical)

    /** This snapshot as `generation`, labelled `op`, with publish stamp
      * `committedAtMs` — `Collection.publish` stamps every commit with
      * the first two and caches the third, what a re-read of the
      * just-written JSON would parse. */
    private[core] def stamped(generation: Long, op: Option[String],
                              committedAtMs: Option[Long] = None): Manifest =
      new Manifest(generation, taskBase, schemaDdl, fills, shards, loader,
        streams, inline, columnSince, droppedEver, rewrites, partSpec,
        committedAtMs, constraints, op, renames)

    /** All partition paths — served from the root manifest, zero shard IO. */
    def partitionPaths: Seq[String] =
      shards.flatMap(s => s.partitions.map(p => joinPath(s.prefix, p)))

    private val shardCache = scala.collection.concurrent.TrieMap.empty[String, ShardData]

    def shardData(e: ShardEntry): ShardData =
      shardCache.getOrElseUpdate(e.file, loader(e.file))

    def shardFiles(e: ShardEntry): Seq[String] = shardData(e).files

    /** Zone maps of exactly the shards containing `files` (keyed by
      * file, then column; absent = no stats recorded, never prune). */
    def statsForFiles(files: Seq[String]): Map[String, Map[String, ColStat]] = {
      val prefixes = files.map(f => prefixOf(parentRel(f))).toSet
      shards.filter(e => prefixes(e.prefix))
        .flatMap(e => shardData(e).stats).toMap
    }

    /** Commit generations of exactly the shards containing `files`. */
    def gensForFiles(files: Seq[String]): Map[String, Long] = {
      val prefixes = files.map(f => prefixOf(parentRel(f))).toSet
      shards.filter(e => prefixes(e.prefix))
        .flatMap(e => shardData(e).gens).toMap
    }

    /** Recorded file sizes of exactly the shards containing `files`. */
    def bytesForFiles(files: Seq[String]): Map[String, Long] = {
      val prefixes = files.map(f => prefixOf(parentRel(f))).toSet
      shards.filter(e => prefixes(e.prefix))
        .flatMap(e => shardData(e).bytes).toMap
    }

    /** Recorded PHYSICAL row counts of exactly the given files' shards. */
    def rowsForFiles(files: Seq[String]): Map[String, Long] = {
      val prefixes = files.map(f => prefixOf(parentRel(f))).toSet
      shards.filter(e => prefixes(e.prefix))
        .flatMap(e => shardData(e).rows).toMap
    }

    /** DELETION-VECTOR refs of exactly the given files (r11) — loads
      * only their shards, returns only entries for `files` (a shard can
      * hold DVs for siblings the read did not select). Empty = every
      * selected file is read whole. */
    def dvsForFiles(files: Seq[String]): Map[String, DvRef] = {
      val prefixes = files.map(f => prefixOf(parentRel(f))).toSet
      val wanted = files.toSet
      shards.filter(e => prefixes(e.prefix))
        .flatMap(e => shardData(e).dvs.filter { case (f, _) => wanted(f) }).toMap
    }

    /** Every DV ref in this snapshot — vacuum/fsck's live-set source
      * (loads all shards, like [[files]]). */
    def allDvs: Map[String, DvRef] =
      shards.flatMap(e => shardData(e).dvs).toMap

    /** Collection bytes from the ROOT alone — present iff every subtree
      * carries a byte rollup (all files size-recorded). Zero shard IO. */
    def byteTotal: Option[Long] =
      if (shards.isEmpty) Some(0L)
      else if (shards.forall(_.byteTotal.isDefined)) Some(shards.flatMap(_.byteTotal).sum)
      else None

    /** How many shard file lists this snapshot has loaded — the
      * observable proving a pruned read touched only its shards. */
    def loadedShardCount: Int = shardCache.size

    /** Full file list — loads EVERY shard; full-scan, GC, and diff-less
      * paths only. Pruned reads go through [[filesForPartitions]]. */
    lazy val files: Seq[String] = shards.flatMap(shardFiles)

    /** Files of exactly the given partitions, loading only the shards
      * whose subtree contains one. */
    def filesForPartitions(wanted: Set[String]): Seq[String] =
      filesFromShards(shards, wanted)

    /** Files of the given partitions restricted to a PRE-FILTERED shard
      * list (the rollup skip layer) — only surviving shards load. */
    def filesFromShards(entries: Seq[ShardEntry], wanted: Set[String]): Seq[String] =
      entries
        .filter(e => e.partitions.exists(p => wanted(joinPath(e.prefix, p))))
        .flatMap(e => shardFiles(e).filter(f => wanted(parentRel(f))))

    /** Same shards + loader, new metadata — the zero-IO commit shape for
      * schema evolution. */
    def withMeta(schemaDdl: String = schemaDdl,
                 fills: Map[String, String] = fills,
                 columnSince: Map[String, Long] = columnSince,
                 droppedEver: Set[String] = droppedEver,
                 constraints: Map[String, String] = constraints,
                 renames: Map[String, String] = renames): Manifest =
      new Manifest(generation, taskBase, schemaDdl, fills, shards, loader,
        streams, inline, columnSince, droppedEver, partSpec = partSpec,
        constraints = constraints, op = op, renames = renames)

    /** New shard table, same loader. `newRewrites` marks THIS commit's
      * content-preserving rewrites — deliberately not inherited;
      * `newPartSpec` (a repartitioning commit) IS inherited onward. */
    def withShards(taskBase: Long, newShards: Seq[ShardEntry],
                   newStreams: Map[String, Long] = streams,
                   newRewrites: Set[String] = Set.empty,
                   newPartSpec: Option[String] = None): Manifest =
      new Manifest(generation, taskBase, schemaDdl, fills, newShards, loader,
        newStreams, inline, columnSince, droppedEver, newRewrites,
        newPartSpec.orElse(partSpec), constraints = constraints, op = op,
        renames = renames)
  }

  private[core] def isDataFile(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")

  // --- external file references (shallow clones) -------------------
  //
  // A data-file reference inside a shard list is normally a path
  // RELATIVE to the collection root (`date=2021-01-01/part-x.parquet`).
  // A SHALLOW CLONE ([[Collection.cloneTo]]) instead references the
  // source collection's physical files without copying them, encoding
  // the source root into the reference: `<base-uri>::<rel>`. The rel
  // part still carries the partition directories, so every layer that
  // derives partition identity from a reference ([[parentRel]]) works
  // unchanged; only the points that do physical IO resolve the base
  // ([[absOf]]). External files are NEVER deleted by the referencing
  // collection — rewrites simply drop the reference (the file belongs
  // to the source; Delta shallow clones share the same contract).
  private[graft] val ExtSep = "::"

  /** Is `f` a reference into another collection's tree? */
  private[graft] def isExternal(f: String): Boolean = f.indexOf(ExtSep) >= 0

  /** The root-relative part of a reference (identity for local refs). */
  private[graft] def relOf(f: String): String = {
    val i = f.indexOf(ExtSep)
    if (i < 0) f else f.substring(i + ExtSep.length)
  }

  /** The external base of a reference, if any. */
  private[graft] def baseOf(f: String): Option[String] = {
    val i = f.indexOf(ExtSep)
    if (i < 0) None else Some(f.substring(0, i))
  }

  /** Physical path of a reference: `root`-resolved for local refs,
    * base-resolved for external ones. */
  private[graft] def absOf(root: String, f: String): String = {
    val i = f.indexOf(ExtSep)
    if (i < 0) s"$root/$f" else f.substring(0, i) + "/" + f.substring(i + ExtSep.length)
  }

  /** Rebase a local reference onto `base`. Already-external refs keep
    * their ORIGINAL base (a clone of a clone still points at whichever
    * tree physically holds each file — chains never stack bases). */
  private[graft] def externalRef(base: String, f: String): String =
    if (isExternal(f)) f else base + ExtSep + f

  /** Partition path of a data-file reference (external-ref aware). */
  private[graft] def parentRel(file: String): String = {
    val r = relOf(file)
    r.substring(0, r.lastIndexOf('/'))
  }

  /** Shard key of a partition path: everything but the last segment
    * ("" for single-level partitionings). */
  private[core] def prefixOf(partition: String): String = {
    val i = partition.lastIndexOf('/')
    if (i < 0) "" else partition.substring(0, i)
  }

  private[core] def manifestPath(dir: Path, gen: Long): Path =
    new Path(dir, f"manifest-$gen%012d.json")

  /** Content-addressed shard name: identical file lists (same subtree,
    * same state) resolve to the same name, so unchanged subtrees carry
    * over across commits without a write, and generation diffs compare
    * shard names instead of file lists. */
  private[core] def shardName(
      files: Seq[String],
      stats: Map[String, Map[String, ColStat]] = Map.empty,
      rows: Map[String, Long] = Map.empty,
      gens: Map[String, Long] = Map.empty,
      bytes: Map[String, Long] = Map.empty,
      dvs: Map[String, DvRef] = Map.empty): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(files.mkString("\n").getBytes("UTF-8"))
    // stats participate in the content address (same file list with new
    // zone maps is new content); stats-free hashing is unchanged, so
    // every pre-stats shard name stays stable across this format change
    if (stats.nonEmpty)
      md.update(stats.toSeq.sortBy(_._1).map { case (f, byCol) =>
        f + " " + byCol.toSeq.sortBy(_._1)
          .map(e => e._1 + "=" + e._2.lo + ".." + e._2.hi +
            e._2.nulls.fold("")("~" + _))
          .mkString(";")
      }.mkString("\n").getBytes("UTF-8"))
    if (rows.nonEmpty)
      md.update(rows.toSeq.sorted.map(e => e._1 + "#" + e._2)
        .mkString("\n").getBytes("UTF-8"))
    if (gens.nonEmpty)
      md.update(gens.toSeq.sorted.map(e => e._1 + "@" + e._2)
        .mkString("\n").getBytes("UTF-8"))
    if (bytes.nonEmpty)
      md.update(bytes.toSeq.sorted.map(e => e._1 + "!" + e._2)
        .mkString("\n").getBytes("UTF-8"))
    // DV refs are content (same files, new deletions = new shard); the
    // dv-free hash is unchanged so every existing shard name is stable
    if (dvs.nonEmpty)
      md.update(dvs.toSeq.sortBy(_._1)
        .map(e => e._1 + "^" + e._2.path + ":" + e._2.offset + ":" + e._2.count)
        .mkString("\n").getBytes("UTF-8"))
    s"$ShardDir/shard-${md.digest().map("%02x".format(_)).mkString}.json"
  }

  private[core] def readShard(fs: FileSystem, manifestDir: Path, rel: String): ShardData = {
    shardReadCounter.incrementAndGet()
    val in: java.io.InputStream = fs.open(new Path(manifestDir, rel))
    val doc =
      try new ObjectMapper().readValue(in, classOf[java.util.Map[String, Object]])
      finally in.close()
    val files = Option(doc.get("files"))
      .map(_.asInstanceOf[java.util.List[Object]].asScala.map(_.toString).toSeq)
      .getOrElse(Nil)
    // legacy axis-only shape: "stats": {file: [lo, hi]} — surface under
    // the sentinel key so old shards keep pruning axis filters unchanged
    val legacy = Option(doc.get("stats"))
      .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.map { case (f, mm) =>
        val l = mm.asInstanceOf[java.util.List[Object]]
        f -> Map(LegacyAxisKey -> ColStat(l.get(0).toString, l.get(1).toString))
      }.toMap)
      .getOrElse(Map.empty[String, Map[String, ColStat]])
    // current shape: "colstats": {file: {column: [lo, hi] | [lo, hi, nulls]}}
    val cols = Option(doc.get("colstats"))
      .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.map { case (f, cm) =>
        f -> cm.asInstanceOf[java.util.Map[String, Object]].asScala.map { case (c, mm) =>
          val l = mm.asInstanceOf[java.util.List[Object]]
          c -> ColStat(l.get(0).toString, l.get(1).toString,
            if (l.size > 2) Some(l.get(2).toString.toLong) else None)
        }.toMap
      }.toMap)
      .getOrElse(Map.empty[String, Map[String, ColStat]])
    val rows = Option(doc.get("rows"))
      .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.map {
        case (f, n) => f -> n.toString.toLong
      }.toMap)
      .getOrElse(Map.empty[String, Long])
    val gens = Option(doc.get("gens"))
      .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.map {
        case (f, n) => f -> n.toString.toLong
      }.toMap)
      .getOrElse(Map.empty[String, Long])
    val bytes = Option(doc.get("bytes"))
      .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.map {
        case (f, n) => f -> n.toString.toLong
      }.toMap)
      .getOrElse(Map.empty[String, Long])
    // "dvs": {file: [path, offset, count]}
    val dvs = Option(doc.get("dvs"))
      .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.map { case (f, v) =>
        val l = v.asInstanceOf[java.util.List[Object]]
        f -> DvRef(l.get(0).toString, l.get(1).toString.toLong, l.get(2).toString.toLong)
      }.toMap)
      .getOrElse(Map.empty[String, DvRef])
    ShardData(files, legacy ++ cols, rows, gens, bytes, dvs)
  }

  /** Write a shard file if absent (content-addressed: an existing file
    * with this name already holds exactly these bytes' content). */
  private[core] def writeShardIfAbsent(
      fs: FileSystem, manifestDir: Path, rel: String, files: Seq[String],
      stats: Map[String, Map[String, ColStat]] = Map.empty,
      rows: Map[String, Long] = Map.empty,
      gens: Map[String, Long] = Map.empty,
      bytes: Map[String, Long] = Map.empty,
      dvs: Map[String, DvRef] = Map.empty): Unit = {
    val p = new Path(manifestDir, rel)
    if (fs.exists(p)) return
    val doc = new java.util.LinkedHashMap[String, Object]()
    doc.put("files", new java.util.ArrayList[Object](files.asJava))
    if (stats.nonEmpty) {
      val sm = new java.util.LinkedHashMap[String, Object]()
      stats.toSeq.sortBy(_._1).foreach { case (f, byCol) =>
        val cm = new java.util.LinkedHashMap[String, Object]()
        byCol.toSeq.sortBy(_._1).foreach { case (c, st) =>
          val l = new java.util.ArrayList[Object]()
          l.add(st.lo); l.add(st.hi)
          st.nulls.foreach(n => l.add(java.lang.Long.valueOf(n)))
          cm.put(c, l)
        }
        sm.put(f, cm)
      }
      doc.put("colstats", sm)
    }
    if (rows.nonEmpty) {
      val rm = new java.util.LinkedHashMap[String, Object]()
      rows.toSeq.sortBy(_._1).foreach { case (f, n) => rm.put(f, java.lang.Long.valueOf(n)) }
      doc.put("rows", rm)
    }
    if (gens.nonEmpty) {
      val gm = new java.util.LinkedHashMap[String, Object]()
      gens.toSeq.sortBy(_._1).foreach { case (f, n) => gm.put(f, java.lang.Long.valueOf(n)) }
      doc.put("gens", gm)
    }
    if (bytes.nonEmpty) {
      val bm = new java.util.LinkedHashMap[String, Object]()
      bytes.toSeq.sortBy(_._1).foreach { case (f, n) => bm.put(f, java.lang.Long.valueOf(n)) }
      doc.put("bytes", bm)
    }
    if (dvs.nonEmpty) {
      val dm = new java.util.LinkedHashMap[String, Object]()
      dvs.toSeq.sortBy(_._1).foreach { case (f, d) =>
        val l = new java.util.ArrayList[Object]()
        l.add(d.path); l.add(java.lang.Long.valueOf(d.offset))
        l.add(java.lang.Long.valueOf(d.count))
        dm.put(f, l)
      }
      doc.put("dvs", dm)
    }
    writeJson(fs, p, doc)
  }

  /** Group a full file list into shard entries, writing any missing shard
    * files. Used by bootstrap paths (create/repair); incremental commits
    * go through `Collection.publish` and only rewrite touched shards. */
  private[core] def shardify(fs: FileSystem, manifestDir: Path,
                             files: Seq[String]): Seq[ShardEntry] =
    files.groupBy(f => prefixOf(parentRel(f))).toSeq.sortBy(_._1).map {
      case (pfx, fl) =>
        val sorted = fl.sorted
        val name = shardName(sorted)
        writeShardIfAbsent(fs, manifestDir, name, sorted)
        ShardEntry(pfx,
          sorted.map(f => parentRel(f).substring(pfx.length).stripPrefix("/")).distinct.sorted,
          name)
    }

  private[graft] def readManifest(fs: FileSystem, dir: Path, gen: Long): Manifest = {
    val in: java.io.InputStream = fs.open(manifestPath(dir, gen))
    val doc =
      try new ObjectMapper().readValue(in, classOf[java.util.Map[String, Object]])
      finally in.close()
    val fills = Option(doc.get("fills"))
      .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.map {
        case (k, v) => k -> String.valueOf(v)
      }.toMap)
      .getOrElse(Map.empty[String, String])
    val generation = doc.get("generation").toString.toLong
    val taskBase = doc.get("taskBase").toString.toLong
    val schemaDdl = doc.get("schema").toString
    val streams = Option(doc.get("streams"))
      .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.map {
        case (k, v) => k -> v.toString.toLong
      }.toMap)
      .getOrElse(Map.empty[String, Long])
    val columnSince = Option(doc.get("columnSince"))
      .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.map {
        case (k, v) => k -> v.toString.toLong
      }.toMap)
      .getOrElse(Map.empty[String, Long])
    val droppedEver = Option(doc.get("droppedColumns"))
      .map(_.asInstanceOf[java.util.List[Object]].asScala.map(_.toString).toSet)
      .getOrElse(Set.empty[String])
    val rewrites = Option(doc.get("rewrites"))
      .map(_.asInstanceOf[java.util.List[Object]].asScala.map(_.toString).toSet)
      .getOrElse(Set.empty[String])
    val partSpec = Option(doc.get("partitioning")).map(_.toString)
    val committedAt = Option(doc.get("committedAt")).map(_.toString.toLong)
    val opLabel = Option(doc.get("op")).map(_.toString)
    val constraints = Option(doc.get("constraints"))
      .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.map {
        case (k, v) => k -> v.toString
      }.toMap)
      .getOrElse(Map.empty[String, String])
    val renames = Option(doc.get("renames"))
      .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.map {
        case (k, v) => k -> v.toString
      }.toMap)
      .getOrElse(Map.empty[String, String])
    Option(doc.get("shards")) match {
      case Some(raw) =>
        val entries = raw.asInstanceOf[java.util.List[Object]].asScala.map { o =>
          val m = o.asInstanceOf[java.util.Map[String, Object]]
          ShardEntry(
            prefix = String.valueOf(m.get("prefix")),
            partitions = m.get("partitions").asInstanceOf[java.util.List[Object]]
              .asScala.map(_.toString).toSeq,
            file = m.get("file").toString,
            rollup = Option(m.get("rollup"))
              .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.map { case (c, mm) =>
                val l = mm.asInstanceOf[java.util.List[Object]]
                c -> ColStat(l.get(0).toString, l.get(1).toString,
                  if (l.size > 2) Some(l.get(2).toString.toLong) else None)
              }.toMap)
              .getOrElse(Map.empty),
            rowTotal = Option(m.get("rows")).map(_.toString.toLong),
            byteTotal = Option(m.get("bytes")).map(_.toString.toLong),
            dvCount = Option(m.get("dvrows")).map(_.toString.toLong).getOrElse(0L))
        }.toSeq
        new Manifest(generation, taskBase, schemaDdl, fills, entries,
          rel => readShard(fs, dir, rel), streams,
          columnSince = columnSince, droppedEver = droppedEver,
          rewrites = rewrites, partSpec = partSpec,
          committedAtMs = committedAt, constraints = constraints, op = opLabel,
          renames = renames)
      case None =>
        // legacy single-JSON manifest: inline file list, synthetic
        // content-addressed names so generation diffs still work
        val files = Option(doc.get("files"))
          .map(_.asInstanceOf[java.util.List[Object]].asScala.map(_.toString).toSeq)
          .getOrElse(Nil)
        val byPrefix = files.groupBy(f => prefixOf(parentRel(f)))
        val inline = byPrefix.map { case (pfx, fl) => shardName(fl.sorted) -> fl.sorted }
        val entries = byPrefix.toSeq.sortBy(_._1).map { case (pfx, fl) =>
          val sorted = fl.sorted
          ShardEntry(pfx,
            sorted.map(f => parentRel(f).substring(pfx.length).stripPrefix("/")).distinct.sorted,
            shardName(sorted))
        }
        // loader: serve synthesized lists from memory, but FALL BACK to
        // disk — after a commit on this handle, new shards exist only as
        // files and must resolve through the inherited loader too
        new Manifest(generation, taskBase, schemaDdl, fills, entries,
          rel => inline.get(rel).map(ShardData(_)).getOrElse(readShard(fs, dir, rel)),
          streams, inline, columnSince, droppedEver, rewrites, partSpec,
          committedAt, constraints, opLabel, renames)
    }
  }

  /** Atomic commit with optimistic concurrency: write the manifest to a
    * writer-unique `manifest-<gen>.<nonce>.tmp`, then publish it under
    * the final name with an EXCLUSIVE atomic primitive
    * ([[publishExclusive]]) — POSIX `link(2)` on local filesystems
    * (creation fails with EEXIST instead of silently replacing, unlike
    * `rename(2)`), `FileContext.rename(..., Options.Rename.NONE)`
    * elsewhere (atomic + exclusive at the HDFS namenode). Generations
    * only grow, so the target name is claimed exactly once — of two
    * writers racing the SAME generation exactly one publish succeeds and
    * the loser gets a conflict to rebase on, never a silently-lost
    * commit (the Icechunk conflict-on-commit model). The `exists`
    * pre-check below is a fast path only; the publish primitive is the
    * arbiter. Filesystems without an exclusive rename (object stores)
    * REFUSE to publish until a [[Collection.CommitArbiter]] — a
    * conditional-PUT/lock adapter, or the explicit single-writer
    * declaration — is registered for their scheme
    * ([[Collection.registerCommitArbiter]]).
    * Shard files are written BEFORE this root publish — a crash in
    * between leaves only unreferenced shard JSONs (and an orphan tmp),
    * reclaimed by [[Collection.vacuum]]. */
  private[core] def writeManifest(fs: FileSystem, dir: Path, m: Manifest,
                                  stampMs: Long = System.currentTimeMillis()): Unit = {
    val doc = new java.util.LinkedHashMap[String, Object]()
    doc.put("generation", java.lang.Long.valueOf(m.generation))
    doc.put("taskBase", java.lang.Long.valueOf(m.taskBase))
    doc.put("schema", m.schemaDdl)
    val fillsMap = new java.util.LinkedHashMap[String, Object]()
    m.fills.foreach { case (k, v) => fillsMap.put(k, v) }
    doc.put("fills", fillsMap)
    val shardsArr = new java.util.ArrayList[Object]()
    m.shards.foreach { e =>
      val em = new java.util.LinkedHashMap[String, Object]()
      em.put("prefix", e.prefix)
      em.put("partitions", new java.util.ArrayList[Object](e.partitions.asJava))
      em.put("file", e.file)
      if (e.rollup.nonEmpty) {
        val rm = new java.util.LinkedHashMap[String, Object]()
        e.rollup.toSeq.sortBy(_._1).foreach { case (c, st) =>
          val l = new java.util.ArrayList[Object]()
          l.add(st.lo); l.add(st.hi)
          st.nulls.foreach(n => l.add(java.lang.Long.valueOf(n)))
          rm.put(c, l)
        }
        em.put("rollup", rm)
      }
      e.rowTotal.foreach(n => em.put("rows", java.lang.Long.valueOf(n)))
      e.byteTotal.foreach(n => em.put("bytes", java.lang.Long.valueOf(n)))
      if (e.dvCount > 0L) em.put("dvrows", java.lang.Long.valueOf(e.dvCount))
      shardsArr.add(em)
    }
    doc.put("shards", shardsArr)
    if (m.streams.nonEmpty) {
      val sm = new java.util.LinkedHashMap[String, Object]()
      m.streams.toSeq.sortBy(_._1).foreach { case (k, v) => sm.put(k, java.lang.Long.valueOf(v)) }
      doc.put("streams", sm)
    }
    if (m.columnSince.nonEmpty) {
      val cm = new java.util.LinkedHashMap[String, Object]()
      m.columnSince.toSeq.sortBy(_._1).foreach { case (k, v) => cm.put(k, java.lang.Long.valueOf(v)) }
      doc.put("columnSince", cm)
    }
    if (m.droppedEver.nonEmpty)
      doc.put("droppedColumns",
        new java.util.ArrayList[Object](m.droppedEver.toSeq.sorted.asJava))
    if (m.rewrites.nonEmpty)
      doc.put("rewrites",
        new java.util.ArrayList[Object](m.rewrites.toSeq.sorted.asJava))
    m.partSpec.foreach(s => doc.put("partitioning", s))
    m.op.foreach(s => doc.put("op", s))
    if (m.constraints.nonEmpty) {
      val km = new java.util.LinkedHashMap[String, Object]()
      m.constraints.toSeq.sortBy(_._1).foreach { case (k, v) => km.put(k, v) }
      doc.put("constraints", km)
    }
    if (m.renames.nonEmpty) {
      val rm = new java.util.LinkedHashMap[String, Object]()
      m.renames.toSeq.sortBy(_._1).foreach { case (k, v) => rm.put(k, v) }
      doc.put("renames", rm)
    }
    // commit wall-clock, stamped at publish: TIMESTAMP AS OF time travel
    // + age-based vacuum read it back
    doc.put("committedAt", java.lang.Long.valueOf(stampMs))
    // writer-unique nonce: object-store arbiters resolve AMBIGUOUS
    // publishes (timeout after the bytes left) by reading the target
    // back and comparing content ([[ConditionalPutArbiter]]); without
    // this, two writers committing the identical logical change in the
    // same millisecond would produce byte-identical manifests and both
    // would claim the win
    doc.put("commitNonce", java.util.UUID.randomUUID().toString)
    val target = manifestPath(dir, m.generation)
    def conflict(): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"generation ${m.generation} was committed by another writer at $dir; " +
        "re-read the collection and retry the mutation")
    if (fs.exists(target)) conflict()
    // writer-unique tmp: two same-generation writers must never write
    // through the same tmp name (the old shared name let the loser
    // corrupt the winner's in-flight bytes before either renamed)
    val nonce = java.util.UUID.randomUUID().toString.substring(0, 8)
    val tmp = new Path(dir, f"manifest-${m.generation}%012d.$nonce.tmp")
    writeJson(fs, tmp, doc)
    if (!publishExclusive(fs, tmp, target)) conflict()
  }

  /** Publish `tmp` as `target` atomically, returning false (tmp cleaned
    * up) iff `target` already exists — the loser of a same-name race
    * must LOSE, not overwrite. Local filesystems: POSIX `link(2)`, whose
    * creation is exclusive-or-EEXIST at the syscall level (plain
    * `rename(2)` — and so `fs.rename` — silently replaces an existing
    * target on POSIX). Everything else: `FileContext` rename with
    * `Options.Rename.NONE`, the exclusive namenode-atomic variant on
    * HDFS. */
  /** The exclusive-publish primitive behind every manifest commit:
    * atomically install `tmp` as `target` IFF `target` does not exist.
    * Returning `false` (someone else claimed the generation) triggers
    * the caller's rebase; returning `true` twice for one target would
    * silently lose a commit — implementations MUST be genuinely
    * exclusive. The reference's Icechunk store solves the same problem
    * with conditional-update sessions (store/icechunk_store.py:159-170);
    * an object-store adapter does it with a conditional PUT
    * (`If-None-Match: *`) or an external lock/CAS table keyed by the
    * target name. Register per URI scheme via
    * [[Collection.registerCommitArbiter]]. */
  trait CommitArbiter {
    def publish(fs: FileSystem, tmp: Path, target: Path): Boolean
  }

  /** `FileContext.rename(..., Options.Rename.NONE)` — atomic + exclusive
    * where the filesystem's rename enforces no-overwrite atomically (the
    * HDFS namenode contract). Register it for a scheme ONLY when that
    * guarantee is known to hold there. */
  object ExclusiveRenameArbiter extends CommitArbiter {
    def publish(fs: FileSystem, tmp: Path, target: Path): Boolean =
      try {
        org.apache.hadoop.fs.FileContext
          .getFileContext(target.toUri, fs.getConf)
          .rename(tmp, target, org.apache.hadoop.fs.Options.Rename.NONE)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          try fs.delete(tmp, false) catch { case _: Exception => () }
          false
      }
  }

  /** Non-atomic `exists` + rename. The name says it all: the TOCTOU
    * window means two concurrent writers CAN both "win" — registering
    * this arbiter is an explicit declaration that exactly one process
    * ever writes the collection (the quiesced-single-writer mode). */
  object UnsafeSingleWriterArbiter extends CommitArbiter {
    def publish(fs: FileSystem, tmp: Path, target: Path): Boolean =
      if (fs.exists(target)) {
        try fs.delete(tmp, false) catch { case _: Exception => () }
        false
      } else fs.rename(tmp, target)
  }

  /** Schemes whose `FileContext.rename(NONE)` is exclusive at the
    * metadata service — no arbiter registration needed. */
  private val ExclusiveRenameSchemes = Set("hdfs", "viewfs")

  private val arbiters =
    scala.collection.concurrent.TrieMap.empty[String, CommitArbiter]

  /** Install the exclusive-publish primitive for a URI scheme (e.g. an
    * S3 conditional-PUT or DynamoDB-lock adapter for `"s3a"`). */
  def registerCommitArbiter(scheme: String, arbiter: CommitArbiter): Unit =
    arbiters.put(scheme, arbiter)

  def unregisterCommitArbiter(scheme: String): Unit = arbiters.remove(scheme)

  private[core] def publishExclusive(fs: FileSystem, tmp: Path, target: Path): Boolean = {
    import org.apache.hadoop.fs.{LocalFileSystem, RawLocalFileSystem}
    import java.nio.file.{Files, Paths, FileAlreadyExistsException => NioExists}
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    arbiters.get(scheme) match {
      case Some(a) => a.publish(fs, tmp, target)
      case None => fs match {
        case _: LocalFileSystem | _: RawLocalFileSystem if scheme == "file" =>
          val t = Paths.get(tmp.toUri.getPath)
          val d = Paths.get(target.toUri.getPath)
          def crcOf(p: java.nio.file.Path) =
            p.resolveSibling("." + p.getFileName.toString + ".crc")
          // the atomic claim — ONLY this call decides the race: once the
          // link lands the generation is durably published, so the
          // housekeeping below must never convert its own failure into a
          // "lost" verdict (a rebase past one's own commit = duplicates)
          val claimed =
            try { Files.createLink(d, t); true }
            catch { case _: NioExists => false }
          if (!claimed) {
            Files.deleteIfExists(crcOf(t)); Files.deleteIfExists(t)
            false
          } else {
            try {
              // carry the ChecksumFileSystem sidecar across (not the
              // arbiter: readers tolerate an absent crc, never a
              // mismatched one)
              val (tc, dc) = (crcOf(t), crcOf(d))
              if (Files.exists(tc)) { Files.deleteIfExists(dc); Files.move(tc, dc) }
              Files.deleteIfExists(t)
            } catch { case _: Exception => () } // best-effort post-publish
            true
          }
        case _ if ExclusiveRenameSchemes(scheme) =>
          ExclusiveRenameArbiter.publish(fs, tmp, target)
        case _ =>
          // LOUD refusal beats silent lost commits: an object store's
          // plain rename overwrites, so the optimistic-rebase contract
          // would not hold. The deployer must choose: a real CAS/lock
          // arbiter, or the explicit single-writer declaration.
          throw new UnsupportedOperationException(
            s"no exclusive commit primitive for filesystem scheme '$scheme': " +
            "its rename does not guarantee atomic no-overwrite, so multi-writer " +
            "commits could be silently lost. Register a conditional-PUT/lock " +
            "adapter via Collection.registerCommitArbiter(\"" + scheme + "\", ...), " +
            "or Collection.UnsafeSingleWriterArbiter to declare single-writer mode.")
      }
    }
  }
}
