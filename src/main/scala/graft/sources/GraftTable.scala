package graft.sources

import java.util.{Map => JMap, Set => JSet}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{Collection, DatePartitioning, FilterExpr, GroupedSequencePartitioning,
  MergeStrategy, Partitioning, SequencePartitioning}

/** A graft collection as a DataSource **V2** table — what
  * [[GraftCatalog]] hands the analyzer for `graft.<ns>.<table>`
  * identifiers, and (as the path face) for `spark.read.format("graft")`.
  * Every read plans the native [[GraftBatchScan]] over Spark's parquet
  * reader, or a [[GraftLocalScan]] when manifest metadata answers an
  * aggregate; `readStream.table` streams through the same reader
  * ([[graft.streaming.GraftMicroBatchStream]]). Catalog-table writes
  * (`INSERT`, `INSERT OVERWRITE`, `REPLACE WHERE`, `writeStream.toTable`)
  * plan the native [[GraftNativeWrite]]; the path face's writes plan a
  * [[org.apache.spark.sql.connector.write.V1Write]] into
  * [[Collection.insert]]/[[Collection.overwrite]] (see [[capabilities]]).
  * What the table face offers:
  *
  *  - catalog identity: `CREATE/DROP/ALTER TABLE graft.db.t`, INSERT,
  *    `DESCRIBE`, `SHOW TABLES` — no temp-view registration step;
  *  - native SQL time travel: `SELECT ... FROM graft.db.t VERSION AS OF
  *    3` (generation or tag name) and `TIMESTAMP AS OF ...`, resolved
  *    by [[GraftCatalog.loadTable]] to a pinned-manifest table;
  *  - `DELETE FROM` with EXACT predicate translation into the
  *    file-granular [[Collection.deleteWhereAst]] (refused — loudly —
  *    when a predicate falls outside the translatable domain, never
  *    approximated);
  *  - derived partition columns (`year`/`month`/`day`...) as V2
  *    METADATA columns: queryable and pushdown-pruning like any column,
  *    but never demanded by INSERT (the Iceberg `_partition` shape);
  *  - metadata-only aggregate pushdown: `COUNT(*)` answers from the
  *    manifest row rollup (E14) — including FILTERED counts when the
  *    predicate translates exactly and aligns with the partition
  *    columns (`WHERE day = 3`: per-partition recorded rows, O(shards))
  *    — and `MIN`/`MAX` over the axis or a declared stats column from
  *    the zone-map rollup (E6/E7) — zero data files opened at any
  *    collection size;
  *  - partition-exact predicates (translated EXACTLY, partition
  *    columns only, decided on every partition key) are claimed: file
  *    pruning enforces them, so the engine drops its post-scan Filter;
  *    every other predicate prunes (weakened where it must be) and is
  *    re-applied by the engine;
  *  - exact `sizeInBytes`/`rowCount` statistics from the manifest byte
  *    rollup (E32), so a small graft dimension auto-broadcasts in joins
  *    against big facts.
  */
class GraftTable(spark: SparkSession, val root: String, identName: String,
                 asOfGen: Option[Long] = None,
                 /** The PATH face (`spark.read.format("graft")`, and
                   * session-catalog `USING graft` tables): reads plan the
                   * native DSv2 scan; writes advertise `V1_BATCH_WRITE`,
                   * `TRUNCATE` and `OVERWRITE_BY_FILTER` but no
                   * `BATCH_WRITE` or streaming capability, so
                   * `DataFrameWriter.save` and `writeStream.format`
                   * keep the provider's V1 faces (see [[capabilities]]). */
                 pathFace: Boolean = false)
    extends Table with SupportsRead with SupportsWrite with SupportsDeleteV2
    with SupportsMetadataColumns {

  private lazy val collection = Collection.open(spark, root, readOnly = true)
  private def partStrategy: Partitioning = collection.partitioning

  /** VERSION/TIMESTAMP AS OF pin — immutable; the SQL DML rule refuses. */
  private[sources] def pinned: Boolean = asOfGen.isDefined

  /** The collection's CHECK constraints as catalog constraints —
    * `DESCRIBE`-visible, and enforced (inside every write job) whether
    * the write arrives through SQL or the programmatic API. */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    collection.constraints.toSeq.sortBy(_._1).map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(sql).enforced(true).build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  override def name(): String = identName

  /** The DECLARED data schema only — INSERT supplies exactly these;
    * derived partition columns ride as metadata columns instead. The
    * PATH face keeps its historical V1 contract: derived partition
    * columns are REAL schema columns (`WHERE day = 3` is first-class
    * and `SELECT *` includes them). */
  override def schema(): StructType =
    if (pathFace) StructType(collection.schema.fields ++
      partStrategy.derivedCols.map(c =>
        StructField(c, partStrategy.colType(c, collection.schema), nullable = false)))
    else collection.schema

  override def metadataColumns(): Array[MetadataColumn] =
    (if (pathFace) Seq.empty else partStrategy.derivedCols).map { c =>
      new MetadataColumn {
        override def name(): String = c
        override def dataType(): DataType = partStrategy.colType(c, collection.schema)
        override def isNullable: Boolean = false
        override def comment(): String =
          s"partition component derived from '${partStrategy.dimension}'"
      }
    }.toArray

  override def partitioning(): Array[Transform] = partStrategy match {
    case DatePartitioning(v, res) =>
      val name = res match {
        case "Y" => "years"; case "M" => "months"; case "D" => "days"
        case "h" => "hours"; case "m" => "minutes"; case _ => "seconds"
      }
      Array(Expressions.apply(name, Expressions.column(v)))
    case SequencePartitioning(vars, _) =>
      vars.map(v => Expressions.identity(v)).toArray
    case g @ GroupedSequencePartitioning(vars, _, size, _) =>
      (vars.init.map(v => Expressions.identity(v)) :+
        Expressions.apply("chunk", Expressions.literal(size), Expressions.column(vars.last))).toArray
  }

  override def properties(): JMap[String, String] = {
    val m = new java.util.LinkedHashMap[String, String]()
    m.put(TableCatalog.PROP_PROVIDER, "graft")
    m.put(TableCatalog.PROP_LOCATION, root)
    m.put("axis", collection.axis)
    asOfGen.foreach(g => m.put("asOfGeneration", g.toString))
    collection.attrs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  override def version(): String =
    asOfGen.getOrElse(collection.generation).toString

  /** Every catalog table advertises one constant set: the native scan
    * and micro-batch reader, and the native write with append,
    * truncate, overwrite-by-filter (`REPLACE WHERE`), dynamic overwrite
    * and streaming (`writeStream.toTable`). No IO.
    *
    * The path face reads natively but keeps its writes on the V1
    * bridge: `V1_BATCH_WRITE` serves session-catalog `USING graft`
    * tables' INSERT / INSERT OVERWRITE, while `DataFrameWriter.save`
    * sees no `BATCH_WRITE` and falls back to the provider's
    * `CreatableRelationProvider`. Spark's V2 `save` leg plans only a
    * full overwrite and refuses `ignore` and `errorifexists`, so
    * advertising `BATCH_WRITE` there would lose those modes and
    * dynamic overwrite through `save`. */
  override def capabilities(): JSet[TableCapability] = {
    import TableCapability._
    if (pathFace) JSet.of(BATCH_READ, V1_BATCH_WRITE, TRUNCATE, OVERWRITE_BY_FILTER)
    else JSet.of(BATCH_READ, MICRO_BATCH_READ, BATCH_WRITE, STREAMING_WRITE, TRUNCATE,
      OVERWRITE_BY_FILTER, OVERWRITE_DYNAMIC)
  }

  // --- read ---------------------------------------------------------

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, collection, schema(), asOfGen,
      options.asCaseSensitiveMap().asScala.map {
        case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v
      }.toMap)

  // --- write --------------------------------------------------------

  private def writable(): Collection = {
    require(asOfGen.isEmpty,
      s"table $identName is pinned VERSION/TIMESTAMP AS OF ${asOfGen.get} — time-travel reads are immutable")
    Collection.open(spark, root)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(spark, () => writable(), identName, info,
      native = !pathFace, translate = deleteAst)

  // --- DELETE FROM --------------------------------------------------

  private def sessionZone: java.time.ZoneId =
    java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID))

  private def deleteAst(predicates: Array[Predicate]): Option[FilterExpr.Ast] = {
    val v1: Array[Option[Filter]] = predicates.map(org.apache.spark.sql.graftbridge.Bridge.predicateToV1)
    if (v1.contains(None)) None
    else {
      val known = (collection.schema.fieldNames ++ partStrategy.axis).toSet
      SourceFilters.toAstExact(v1.flatten, known, sessionZone)
    }
  }

  /** DELETE pushes down ONLY when every predicate translates EXACTLY —
    * a weakened translation would delete rows the SQL predicate does
    * not select. (Reads weaken safely because the engine re-applies
    * the filter; a delete has no second chance.) */
  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    deleteAst(predicates).isDefined

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    val ast = deleteAst(predicates).getOrElse(throw new IllegalArgumentException(
      s"DELETE predicate not exactly translatable: ${predicates.mkString(", ")}"))
    val c = writable()
    if (ast == FilterExpr.True) c.overwrite(emptyBatch())
    else c.deleteWhereAst(ast)
  }

  override def truncateTable(): Boolean = {
    writable().overwrite(emptyBatch())
    true
  }

  private def emptyBatch(): DataFrame =
    spark.createDataFrame(java.util.List.of[Row](), collection.schema)
}

/** Pushdown state machine for one scan: filters compile (weakening,
  * polarity-tracked) into the [[FilterExpr]] skip stack, projections
  * narrow the read, and an eligible aggregate replaces the scan with
  * manifest metadata. Pushed filters are returned as post-scan filters
  * unless file pruning provably enforces them (`exactPush`) — pruning
  * can only skip files, never change a row. */
class GraftScanBuilder(spark: SparkSession, collection: Collection,
                       tableSchema: StructType, asOfGen: Option[Long],
                       scanOptions: Map[String, String] = Map.empty)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private val partStrategy = collection.partitioning
  // dedup: the path face's tableSchema already carries the derived cols
  private val fullSchema: StructType = StructType(
    tableSchema.fields ++ partStrategy.derivedCols
      .filterNot(tableSchema.fieldNames.contains).map(c =>
        StructField(c, partStrategy.colType(c, tableSchema), nullable = false)))

  private var requiredSchema: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var ast: FilterExpr.Ast = FilterExpr.True
  /** The pushed filters are CLAIMED: they translate EXACTLY (the
    * DELETE-grade strict translator), name partition columns only and
    * decide every partition of the pinned generation, so file pruning
    * alone enforces them and the engine drops its re-filter — which is
    * what unlocks FILTERED aggregate pushdown (Spark never offers an
    * aggregate to a source that left post-scan filters behind). */
  private var exactPush: Boolean = false
  /** When an aggregate pushed completely: (output schema, the
    * metadata-computed rows — one for a global aggregate, one per
    * group for a partition-column GROUP BY). */
  private var aggResult: Option[(StructType, Seq[Row])] = None

  /** The generation every answer of this scan reads — the claim, the
    * metadata aggregate and the file plan — pinned on the builder's
    * first manifest read (`asOfGen` when time-travelling, else the
    * head), so none of them can see a commit that raced the others. */
  private lazy val pin: Long = collection.manifestFor(asOfGen).generation

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID))
    pushed = filters
    SourceFilters.toAstExact(filters, fullSchema.fieldNames.toSet, zone) match {
      case Some(exact) if collection.canClaimStrict(exact, Some(pin)) =>
        // partition-only + strictly decidable on every partition key:
        // file-level pruning IS exact row-level filtering (every row of
        // a kept file shares the key), so the native scan claims it
        // without ever re-checking a row — and the claim is what keeps
        // filtered metadata-aggregate pushdown (E33/E34) on the table
        ast = exact; exactPush = true
        Array.empty
      case Some(exact) =>
        // exact but touching data columns: the native scan prunes with
        // it (zone maps, blooms) and hands the parquet reader the V1
        // filters for row-group pruning, while the ENGINE re-applies
        // rows vectorized — the stock parquet-source contract
        ast = exact; exactPush = false
        filters
      case None =>
        ast = SourceFilters.toAst(filters, fullSchema.fieldNames.toSet, zone)
        exactPush = false
        filters // engine re-applies everything — pruning-only weakening
    }
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = {
    // keep scan-side order stable; `required` may include metadata cols
    requiredSchema = StructType(required.fields.map(f =>
      fullSchema(fullSchema.fieldIndex(f.name))))
  }

  /** `COUNT(*)` answers from the manifest row rollup; `MIN`/`MAX` over
    * the axis or a declared stats column from the zone-map rollup —
    * parquet footer min/max are exact (and files whose writers dropped
    * stats — all-null or NaN-bearing — poison the rollup to None, which
    * refuses the pushdown rather than guessing). Only COMPLETE pushdown
    * with no residual filters and no grouping: anything else falls back
    * to the ordinary scan. A VERSION/TIMESTAMP AS OF pin answers too
    * (r10b): counts from the PINNED manifest's recorded rows, MIN/MAX
    * from the pinned snapshot's own per-file zone maps — the
    * time-travel audit `SELECT count(*)/min/max ... VERSION AS OF n`
    * stays zero-data-files at any collection size (a snapshot holding
    * files without stats for the asked column refuses and scans). */
  private def resolveAggregation(agg: Aggregation): Option[(StructType, Seq[Row])] = {
    // weakened filters leave post-scan residuals (Spark never offers the
    // aggregate then anyway); exact filters feed the metadata count below
    if (!exactPush && (ast != FilterExpr.True || pushed.nonEmpty)) return None
    if (agg.groupByExpressions.nonEmpty) return resolveGroupedAggregation(agg)

    def boundOf(name: String, hi: Boolean): Option[(Any, DataType)] = {
      if (!tableSchema.fieldNames.contains(name)) return None
      val dt = tableSchema(name).dataType
      // filtered bounds answer when the (exact) predicate is partition-
      // aligned: merged per-file zone maps of exactly the matching
      // partitions — same metadata contract as the filtered count
      collection.columnBoundsAst(name, ast, Some(pin))
        .map { case (lo, up) => (if (hi) up else lo, dt) }
    }

    val resolved: Array[Option[(StructField, Any)]] = agg.aggregateExpressions.map {
      case _: CountStar =>
        // filtered counts answer from the per-partition recorded rows
        // when the (exact) predicate is partition-aligned — O(shards),
        // zero data files, `SELECT count(*) ... WHERE day = 3` at any
        // collection size; anything metadata can't prove refuses
        collection.countRowsMeta(ast, Some(pin))
          .map(n => (StructField("count(*)", LongType, nullable = false), n))
      case m: Min =>
        for {
          c <- colOf(m.column); (v, dt) <- boundOf(c, hi = false)
        } yield (StructField(s"min($c)", dt), external(v, dt))
      case m: Max =>
        for {
          c <- colOf(m.column); (v, dt) <- boundOf(c, hi = true)
        } yield (StructField(s"max($c)", dt), external(v, dt))
      case _ => None
    }
    if (resolved.contains(None)) return None
    val fields = resolved.flatten
    Some((StructType(fields.map(_._1)), Seq(Row(fields.map(_._2).toSeq: _*))))
  }

  private def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case n: NamedReference if n.fieldNames.length == 1 => Some(n.fieldNames.head)
      case _ => None
    }

  /** Metadata value (Long/Double/String canonical domain) → the Spark
    * external type of the declared column. */
  private def external(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _)               => null // null-keyed partition group value
    case (l: Long, LongType)     => l
    case (l: Long, IntegerType)  => l.toInt
    case (l: Long, ShortType)    => l.toShort
    case (l: Long, ByteType)     => l.toByte
    case (d: Double, DoubleType) => d
    case (d: Double, FloatType)  => d.toFloat
    case (l: Long, TimestampType) =>
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(l, 1000000L), Math.floorMod(l, 1000000L) * 1000L))
    case (l: Long, TimestampNTZType) =>
      java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(l, 1000000L), (Math.floorMod(l, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
    case (l: Long, DateType)     => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(l))
    case (s: String, StringType) => s
    case (i: Int, IntegerType)   => i
    case (i: Int, LongType)      => i.toLong
    case _ => throw new IllegalStateException(s"unexpected metadata value $v for $dt")
  }

  /** `GROUP BY <partition components>` with `COUNT(*)`/`MIN`/`MAX`:
    * every partition's RECORDED row count lands in the group its
    * decoded key projects onto, and per-group bounds merge exactly that
    * group's per-file zone maps — `SELECT day, count(*), min(user_id)
    * ... GROUP BY day` answers from the manifest, O(shards), zero data
    * files, under the same exact partition-aligned filters as the
    * global form. Only single-column group keys that ARE partition
    * components; anything unprovable falls back to the ordinary scan. */
  private def resolveGroupedAggregation(agg: Aggregation): Option[(StructType, Seq[Row])] = {
    val groupCols: Seq[String] = agg.groupByExpressions.toSeq.map { e =>
      colOf(e).getOrElse(return None)
    }
    if (groupCols.exists(c => !fullSchema.fieldNames.contains(c))) return None
    // (field, None = the group's count | Some((col, hi)) = a bound)
    val aggSpecs: Seq[(StructField, Option[(String, Boolean)])] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          (StructField("count(*)", LongType, nullable = false), None)
        case m: Min =>
          val c = colOf(m.column).getOrElse(return None)
          if (!tableSchema.fieldNames.contains(c)) return None
          (StructField(s"min($c)", tableSchema(c).dataType), Some((c, false)))
        case m: Max =>
          val c = colOf(m.column).getOrElse(return None)
          if (!tableSchema.fieldNames.contains(c)) return None
          (StructField(s"max($c)", tableSchema(c).dataType), Some((c, true)))
        case _ => return None
      }
    if (aggSpecs.isEmpty) return None
    val boundsFor = aggSpecs.flatMap(_._2).map(_._1).distinct
    collection.groupedAggMeta(groupCols, ast, boundsFor, Some(pin)).map { groups =>
      val gTypes = groupCols.map(c => fullSchema(fullSchema.fieldIndex(c)).dataType)
      val schema = StructType(
        // nullable: a null-keyed partition surfaces as a SQL NULL group
        groupCols.zip(gTypes).map { case (c, t) => StructField(c, t, nullable = true) }
          ++ aggSpecs.map(_._1))
      val rows = groups.map { case (vals, n, bounds) =>
        // a key `external` cannot type (the directory string of a
        // timestamp, decimal or boolean key) refuses: the scan answers
        Row.fromSeq(vals.zip(gTypes).map { case (v, t) =>
          scala.util.Try(external(v, t)).getOrElse(return None) }
          ++ aggSpecs.map {
            case (_, None) => n
            case (f, Some((c, hi))) =>
              external(if (hi) bounds(c)._2 else bounds(c)._1, f.dataType)
          })
      }
      (schema, rows)
    }
  }

  // Spark probes supportCompletePushDown and then pushAggregation with
  // the same aggregation — memoize so the O(shards) metadata resolution
  // (partition-path decode + per-file stats) runs ONCE per query, keyed
  // on the connector expressions' stable renderings
  private var aggMemo: Option[(Seq[String], Option[(StructType, Seq[Row])])] = None

  private def resolveAggregationMemo(agg: Aggregation): Option[(StructType, Seq[Row])] = {
    val key = (agg.groupByExpressions.map(_.describe) ++
      Seq("|") ++ agg.aggregateExpressions.map(_.describe)).toSeq
    aggMemo match {
      case Some((k, r)) if k == key => r
      case _ =>
        val r = resolveAggregation(agg)
        aggMemo = Some((key, r))
        r
    }
  }

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggResult = resolveAggregationMemo(agg)
    aggResult.isDefined
  }

  /** Called by the optimizer BEFORE [[pushAggregation]]: partial
    * pushdown of a one-row metadata answer would be correct but leaves
    * a pointless re-aggregation in the plan, so only the complete form
    * is offered. */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    resolveAggregationMemo(agg).isDefined

  /** Unfiltered LIMIT: the scan schedules files (manifest order) only
    * until their RECORDED row counts cover n — `SELECT * FROM t LIMIT
    * 10` reads one file, not the collection. Partial by contract (the
    * engine's own LIMIT stays on top; the file set is a provable
    * superset of n rows). Filtered limits refuse: post-filter
    * cardinality per file is unknowable from metadata. */
  private var limit: Option[Int] = None

  override def pushLimit(n: Int): Boolean = {
    if (ast != FilterExpr.True || pushed.nonEmpty) return false
    limit = Some(n)
    true
  }
  override def isPartiallyPushed(): Boolean = true

  /** A metadata aggregate answer becomes a [[LocalScan]] of its rows
    * (Spark plans a `LocalTableScanExec`: no data file opens); every
    * other read is the native [[GraftBatchScan]] over the pinned
    * generation. */
  override def build(): Scan = aggResult match {
    case Some((s, rows)) => new GraftLocalScan(s, () => rows,
      s"graft ${collection.root} metadata-agg ${s.fieldNames.mkString(", ")}")
    case None =>
      new GraftBatchScan(spark, collection, tableSchema, requiredSchema, ast, asOfGen,
        limit.map(_.toLong), pushed, scanOptions, pin, claimed = exactPush)
  }
}

/** Rows graft answers from metadata as a DSv2 local scan (Spark plans a
  * `LocalTableScanExec`): a [[GraftScanBuilder]] `COUNT`/`MIN`/`MAX`
  * pushdown answer, or a [[GraftMetaTable]]'s rows. `answer` runs when
  * Spark plans the scan. */
final class GraftLocalScan(schema: StructType, answer: () => Seq[Row], desc: String)
    extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    answer().map(r => toCatalyst(r).asInstanceOf[InternalRow]).toArray
  }
  override def description(): String = desc
}

/** INSERT INTO (append), static INSERT OVERWRITE (truncate-and-write),
  * TRUNCATE, and on catalog tables (`native`) dynamic INSERT OVERWRITE
  * and `REPLACE WHERE`, each landing as one atomic manifest commit.
  * Catalog tables build a [[GraftNativeWrite]]; the path face builds a
  * `V1Write` into [[Collection.insert]]/[[Collection.overwrite]] (see
  * [[GraftTable.capabilities]]). Partial `INSERT OVERWRITE ...
  * PARTITION (k=v)` would need delete+insert in ONE commit and is
  * refused at analysis rather than done non-atomically. */
class GraftWriteBuilder(spark: SparkSession, open: () => Collection,
                        tableName: String, info: LogicalWriteInfo,
                        native: Boolean,
                        translate: Array[Predicate] => Option[FilterExpr.Ast] = _ => None)
    extends WriteBuilder with SupportsTruncate with SupportsDynamicOverwrite
    with SupportsOverwriteV2 {

  private var mode: String = "append"
  private var replaceAst: FilterExpr.Ast = null

  override def truncate(): WriteBuilder = { mode = "truncate"; this }

  /** Dynamic partition overwrite — native-only (the path face does not
    * advertise OVERWRITE_DYNAMIC, so this is unreachable there; the
    * guard keeps a capability/builder drift loud). */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    require(native, s"dynamic overwrite of $tableName requires the native write path")
    mode = "dynamic"
    this
  }

  /** `INSERT INTO ... REPLACE WHERE <cond>` (r10): ANSI
    * overwrite-by-expression, accepted ONLY when the predicate
    * translates EXACTLY and every current partition key strictly
    * decides it — then replacing those partitions IS deleting the
    * matching rows (the Delta replaceWhere shape, partition-aligned).
    * `canOverwrite` refuses anything else at analysis; row-level
    * replace semantics stay with UPDATE/DELETE/MERGE. */
  override def canOverwrite(predicates: Array[Predicate]): Boolean =
    native && translate(predicates).exists { ast =>
      // canReplaceWhere answers the ANALYSIS question (partition-aligned
      // or not) and only that; a manifest-IO failure or the repartition
      // guard PROPAGATES — swallowing it here would convert a transient
      // store error into Spark's misleading "table does not support
      // overwrite by expression"
      ast != FilterExpr.True && open().canReplaceWhere(ast)
    }

  override def overwrite(predicates: Array[Predicate]): WriteBuilder = {
    val ast = translate(predicates).getOrElse(throw new IllegalArgumentException(
      s"REPLACE WHERE predicate not exactly translatable: ${predicates.mkString(", ")}"))
    if (ast == FilterExpr.True) return truncate()
    require(native, s"REPLACE WHERE on $tableName requires the native write path")
    mode = "replace-where"
    replaceAst = ast
    this
  }

  /** FOLLOWS the table face (the capability set and the Write instance
    * must agree for Spark's write strategy): a native write on catalog
    * tables, a `V1Write` on the path face. */
  override def build(): Write = {
    val c = open()
    if (native) {
      GraftNativeWrite.requireTableSchema(c, info.schema())
      // the streaming leg's exactly-once idempotence key: an explicit
      // streamName beats the checkpoint location beats the query id —
      // the same precedence as the V1 path sink (several streams feeding
      // one collection need distinct names). The query id fallback is
      // RESTART-STABLE: Spark passes StreamExecution.id, which persists
      // in the checkpoint's metadata file across restarts (proven by
      // StreamTableWriteSpec's same-checkpoint stability test).
      val streamName = Option(info.options.get("streamName"))
        .orElse(Option(info.options.get("checkpointLocation")))
        .getOrElse(info.queryId())
      new GraftNativeWrite(spark, c, c.nativeWriteSpec(), mode, info.schema(), replaceAst,
        reopen = () => open(), streamName = streamName)
    } else new V1Write {
      override def toInsertableRelation: InsertableRelation =
        (data: DataFrame, _: Boolean) => {
          mode match {
            case "append"   => c.insert(data, MergeStrategy.Concat)
            case "truncate" => c.overwrite(data)
          }
        }
    }
  }
}
