package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

import graft.core.{Collection, FilterExpr}

/** V1 batch relation over a graft collection — the plain-Spark surface:
  * {{{
  *   spark.read.format("graft").load(root).where("user_id = 7")
  *   // or register and use SQL:
  *   spark.read.format("graft").load(root).createOrReplaceTempView("events")
  * }}}
  * Catalyst pushes its data-source `Filter`s here; the supported subset
  * compiles to the [[FilterExpr]] skip stack, so the scan prunes
  * subtrees → partitions → zone-mapped files → bloom-checked files
  * exactly like [[Collection.query]] — SQL users get the full metadata
  * pruning without graft's own API. Every filter is also left for the
  * engine to re-apply ([[unhandledFilters]] returns all), so a filter
  * the translation cannot express costs pruning, never correctness. */
class GraftRelation(override val sqlContext: SQLContext, root: String,
                    asOfGen: Option[Long] = None)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  private val collection =
    Collection.open(sqlContext.sparkSession, root, readOnly = true)

  /** Collection root / AS-OF pin — for the SQL DML rule's target match. */
  private[sources] def collRoot: String = root
  private[sources] def pinned: Boolean = asOfGen.isDefined

  /** SQL `INSERT INTO` / `INSERT OVERWRITE` on a registered graft table.
    * The relation's schema exposes partition-DERIVED columns (`day`...)
    * so the analyzer expects them in the insert projection, but their
    * values are always recomputed from the axis on write — supplied
    * values for derived columns are ignored, never trusted (the same
    * rule as writing through the DataFrame API, where they are not part
    * of the declared schema at all). `INSERT OVERWRITE` follows
    * `spark.sql.sources.partitionOverwriteMode`: STATIC truncates the
    * collection in one atomic commit, DYNAMIC replaces only colliding
    * partitions. Time-travel relations (AS OF) refuse writes. */
  override def insert(data: org.apache.spark.sql.DataFrame, overwrite: Boolean): Unit = {
    require(asOfGen.isEmpty,
      "cannot INSERT into a time-travel (versionAsOf/timestampAsOf) relation")
    val c = Collection.open(sqlContext.sparkSession, root)
    // positional resolution against THIS relation's schema, then keep
    // only the declared (non-derived) columns
    val named = data.toDF(schema.fieldNames.toSeq: _*)
    val declared = named.select(c.schema.fieldNames.toSeq.map(col): _*)
    if (!overwrite) c.insert(declared, graft.core.MergeStrategy.Concat)
    else {
      val dynamic = sqlContext.sparkSession.conf
        .get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        .equalsIgnoreCase("dynamic")
      if (dynamic) c.insert(declared, graft.core.MergeStrategy.Replace)
      else c.overwrite(declared)
    }
  }

  /** Data + partition-derived columns: `WHERE day = 3` is first-class
    * SQL and prunes at the partition layer. The hidden row id stays
    * hidden. */
  override val schema: StructType = StructType(
    collection.readSchema.fields.filterNot(_.name == Collection.RowIdCol))

  /** The internal scan already produces InternalRows. */
  override def needConversion: Boolean = false

  /** EXACTLY-translatable filters are claimed (pruned AND applied
    * row-level in [[buildScan]] — the engine plans no re-filter for
    * them); anything outside the strict domain returns for engine
    * re-application, with its weakened form still pruning. Same
    * contract the V2 face adopted for the filtered-aggregate path. */
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters.filterNot(f =>
      GraftRelation.toAstExact(Array(f), schema.fieldNames.toSet, sessionZone).isDefined)

  /** Metadata-only size estimate for Catalyst's join planning, so a
    * small graft dimension joined to a big fact broadcasts instead of
    * shuffling. Preference order: the manifest's exact byte rollup
    * (r8 — the same on-disk-bytes convention Spark's own file relations
    * report, O(root), zero stats), else row count x the schema's
    * default row width, else unknown. */
  override def sizeInBytes: Long =
    try {
      collection.sizeOnDisk() match {
        case Some(b) => b
        case None =>
          val rows = collection.countRows()
          if (rows < 0) super.sizeInBytes else rows * math.max(1, schema.defaultSize)
      }
    } catch { case _: Exception => super.sizeInBytes }

  private def sessionZone: java.time.ZoneId =
    java.time.ZoneId.of(sqlContext.sparkSession.conf
      .get("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID))

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    val zone = sessionZone
    val known = schema.fieldNames.toSet
    val ast = GraftRelation.toAst(filters, known, zone)
    // the filters [[unhandledFilters]] claimed must be APPLIED here,
    // not just pruned — the engine dropped its own re-filter for them
    val claimed = filters.flatMap(f => GraftRelation.toAstExact(Array(f), known, zone))
    val scanned = collection.scanWithAst(ast, asOfGen)
    val filtered = claimed.foldLeft(scanned)((d, a) => d.where(FilterExpr.toColumn(a)))
    filtered.select(requiredColumns.map(col).toSeq: _*)
      .queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

object GraftRelation {
  private type Ast = FilterExpr.Ast

  /** Catalyst source filters → FilterExpr, best-effort: the top-level
    * array is a conjunction, so unconvertible members simply drop
    * (prune less, never wrong). INSIDE a conversion the translation is
    * polarity-tracked WEAKENING: the produced AST only ever prunes, so
    * it is safe whenever the true predicate IMPLIES it. In positive
    * polarity an `And` may drop an unconvertible conjunct
    * (`a AND f(x)` → `a`, so `(a AND f(x)) OR b` still prunes on
    * `a OR b`); under an odd number of `Not`s the roles flip — an `Or`
    * may drop a disjunct (`NOT (a OR f(x))` → `NOT a` ⊇ the true rows)
    * while `And` must convert exactly (dropping a conjunct there would
    * STRENGTHEN the negation and prune wrongly). */
  private[graft] def toAst(fs: Array[Filter], known: Set[String],
                           zone: java.time.ZoneId = java.time.ZoneOffset.UTC): Ast =
    fs.flatMap(f => conv(f, known, zone))
      .reduceOption(FilterExpr.And(_, _)).getOrElse(FilterExpr.True)

  /** EXACT translation or refusal — no weakening anywhere. The DSv2
    * `DELETE FROM` path needs the AST to hold on precisely the SQL
    * predicate's TRUE rows (a weaker AST would delete extra rows), so
    * any unconvertible node refuses the whole conjunction and the
    * caller reports `canDeleteWhere = false`. */
  private[graft] def toAstExact(fs: Array[Filter], known: Set[String],
                                zone: java.time.ZoneId): Option[Ast] = {
    val parts = fs.map(f => conv(f, known, zone, strict = true))
    if (parts.contains(None)) None
    else Some(parts.flatten.reduceOption(FilterExpr.And(_, _)).getOrElse(FilterExpr.True))
  }

  private val TsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Literals in FilterExpr's domain (Long / Double / String). Temporal
    * values render as the session-zone wall-clock string the mini-
    * language parses back to the same micros (and that Spark's
    * string→timestamp cast reads identically at the row level) — so
    * `WHERE ts >= timestamp'…'` prunes the axis zone maps. Decimals and
    * binaries refuse the conversion. */
  private def litOf(v: Any, zone: java.time.ZoneId): Option[Any] = v match {
    case null       => None
    case i: Int     => Some(i.toLong)
    case l: Long    => Some(l)
    case s: Short   => Some(s.toLong)
    case b: Byte    => Some(b.toLong)
    case f: Float   => Some(f.toDouble)
    case d: Double  => Some(d)
    case s: String  => Some(s)
    case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
    case t: java.sql.Timestamp =>
      Some(TsFmt.format(t.toInstant.atZone(zone).toLocalDateTime))
    case t: java.time.Instant =>
      Some(TsFmt.format(t.atZone(zone).toLocalDateTime))
    case t: java.time.LocalDateTime => Some(TsFmt.format(t)) // NTZ wallclock
    case d: java.sql.Date => Some(d.toLocalDate.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case _          => None
  }

  private def cmp(op: String, a: String, v: Any, known: Set[String],
                  zone: java.time.ZoneId): Option[Ast] =
    if (!known(a)) None
    else litOf(v, zone).map(x => FilterExpr.Cmp(op, FilterExpr.Name(a), FilterExpr.Lit(x)))

  private def conv(f: Filter, known: Set[String], zone: java.time.ZoneId,
                   pos: Boolean = true, strict: Boolean = false): Option[Ast] = f match {
    case EqualTo(a, v)            => cmp("==", a, v, known, zone)
    case GreaterThan(a, v)        => cmp(">", a, v, known, zone)
    case GreaterThanOrEqual(a, v) => cmp(">=", a, v, known, zone)
    case LessThan(a, v)           => cmp("<", a, v, known, zone)
    case LessThanOrEqual(a, v)    => cmp("<=", a, v, known, zone)
    case In(a, vs) if known(a) =>
      val ls = vs.toSeq.map(litOf(_, zone))
      if (ls.nonEmpty && ls.forall(_.isDefined))
        Some(FilterExpr.In(a, ls.flatten, negated = false))
      else None
    case IsNull(a) if known(a)    => Some(FilterExpr.IsNull(a, negated = false))
    case IsNotNull(a) if known(a) => Some(FilterExpr.IsNull(a, negated = true))
    case And(l, r) =>
      (conv(l, known, zone, pos, strict), conv(r, known, zone, pos, strict)) match {
        case (Some(cl), Some(cr))         => Some(FilterExpr.And(cl, cr))
        // positive polarity: And is implied by each conjunct, so the
        // convertible one alone is a sound (weaker) pruning predicate
        case (one, other) if pos && !strict => one.orElse(other)
        case _                            => None
      }
    case Or(l, r) =>
      (conv(l, known, zone, pos, strict), conv(r, known, zone, pos, strict)) match {
        case (Some(cl), Some(cr))         => Some(FilterExpr.Or(cl, cr))
        // negative polarity: keeping one disjunct STRENGTHENS the
        // subtree, which WEAKENS the enclosing Not — NOT(a OR f)
        // implies NOT(a), so pruning on NOT(a) keeps a superset.
        // Sound only under an odd number of Nots.
        case (one, other) if !pos && !strict => one.orElse(other)
        case _                            => None
      }
    case Not(x) => conv(x, known, zone, !pos, strict).map(FilterExpr.Not(_))
    // DELETE FROM with no WHERE arrives as the literal TRUE predicate
    case _: AlwaysTrue  => Some(FilterExpr.True)
    case _: AlwaysFalse => Some(FilterExpr.Not(FilterExpr.True))
    case _      => None
  }
}
