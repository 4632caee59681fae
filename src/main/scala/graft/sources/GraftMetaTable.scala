package graft.sources

import java.util.{Map => JMap, Set => JSet}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.Collection

/** Iceberg-style METADATA TABLES: for any catalog collection
  * `graft.db.t`, the suffixed identifiers are queryable system tables —
  * plain SQL over the manifest layer, zero data files opened:
  *
  * {{{
  *   SELECT * FROM graft.db.t.history      -- commits: generation, time, op
  *   SELECT * FROM graft.db.t.partitions   -- per-partition files/rows/bytes/axis bounds
  *   SELECT * FROM graft.db.t.files        -- per-file rows/bytes/write generation
  *   SELECT * FROM graft.db.t.tags         -- named GC-pinned snapshots
  *   SELECT * FROM graft.db.t.branches     -- live in-tree forks
  * }}}
  *
  * Each resolves in [[GraftCatalog.loadTable]] when `db.t` is a
  * collection and the trailing name part is one of [[GraftMetaTable
  * .Kinds]]; the scan is a [[GraftLocalScan]] whose rows are read from
  * the CURRENT manifest when the query is planned, so a metadata query
  * is always fresh. The reference exposes the same
  * information only through Python introspection calls; this is the
  * SQL-native face a monitoring dashboard actually queries. */
class GraftMetaTable(spark: SparkSession, root: String, identName: String,
                     kind: String) extends Table with SupportsRead {

  private def df(): DataFrame = {
    val c = Collection.open(spark, root, readOnly = true)
    kind match {
      case "history"    => c.describeHistory()
      case "partitions" => c.describePartitions()
      case "files"      => c.describeFiles()
      case "tags" =>
        import spark.implicits._
        c.tags().toSeq.sortBy(_._1).toDF("tag", "generation")
      case "branches" =>
        import spark.implicits._
        c.branches().sorted.toDF("branch")
    }
  }

  override def name(): String = identName
  override val schema: StructType = df().schema
  override def partitioning(): Array[Transform] = Array.empty
  override def properties(): JMap[String, String] =
    java.util.Map.of(TableCatalog.PROP_PROVIDER, "graft",
      TableCatalog.PROP_LOCATION, root, "metadataTable", kind)
  override def capabilities(): JSet[TableCapability] =
    JSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new GraftLocalScan(schema, () => df().collect().toSeq,
      s"graft $root metadata-table $kind")
}

object GraftMetaTable {
  val Kinds: Set[String] = Set("history", "partitions", "files", "tags", "branches")
}
