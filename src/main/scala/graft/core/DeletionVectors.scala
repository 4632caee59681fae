package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.SerializableConfiguration

import Collection.DvRef

/** DELETION-VECTOR storage (r11) — the physical half of the Delta-DV /
  * Iceberg-v2 position-delete shape re-expressed over graft's persisted
  * row ids (reference analogue: none — zcollection rewrites partitions;
  * this is the lakehouse extension that makes `deleteWhere` cost
  * proportional to DELETED ROWS instead of rewritten files).
  *
  * One commit writes ONE file `_dv/dv-<uuid>.bin` holding a section per
  * touched data file: `[magic:int32][count:int32][count x int64]`, the
  * rowids sorted ascending. Readers seek to the manifest's
  * `(path, offset, count)` ref and read exactly `8 + 8*count` bytes —
  * no footer, no listing. Sections are immutable once referenced; a
  * later delete on the same data file writes a MERGED section into its
  * own commit's file (copy-on-write, manifests stay true snapshots) and
  * the superseded section ages out with its manifest via vacuum.
  *
  * Scale shape: the writer is driver-side and BOUNDED — the delete path
  * gates per-file and total DV cardinality ([[Collection.deleteWhere]])
  * and falls back to the classic file rewrite beyond the caps, exactly
  * the regime where a rewrite is the cheaper plan anyway. Readers are
  * fully distributed: each executor task reads only its own files'
  * sections inside the scan — the native scan's partition reader and
  * the DataFrame read's file format both mask through [[mask]]. Public
  * only for that file format, which lives in Spark's package. */
object DeletionVectors {

  private[graft] val DvDir = "_dv"
  private[graft] val Magic = 0x5a445631 // "ZDV1"

  /** Write one DV file with a section per data file; returns each data
    * file's ref (path root-relative). Sections are written in sorted
    * data-file order for determinism. */
  private[graft] def write(fs: FileSystem, root: String,
                           sections: Seq[(String, Array[Long])]): Map[String, DvRef] = {
    require(sections.nonEmpty, "no DV sections to write")
    val rel = s"$DvDir/dv-${java.util.UUID.randomUUID().toString}.bin"
    val p = new Path(s"$root/$rel")
    val out = fs.create(p, false)
    val refs = Map.newBuilder[String, DvRef]
    try {
      val data = new java.io.DataOutputStream(new java.io.BufferedOutputStream(out))
      var offset = 0L
      for ((file, rowsRaw) <- sections.sortBy(_._1)) {
        val rows = rowsRaw.clone()
        java.util.Arrays.sort(rows)
        data.writeInt(Magic)
        data.writeInt(rows.length)
        var i = 0
        while (i < rows.length) { data.writeLong(rows(i)); i += 1 }
        refs += file -> DvRef(rel, offset, rows.length.toLong)
        offset += 8L + 8L * rows.length
      }
      data.flush()
    } finally out.close()
    refs.result()
  }

  /** Read one section's rowids (sorted). `abs` is the resolved absolute
    * DV file path — callers resolve clone-external refs via
    * [[Collection.absOf]] first. Magic/count mismatches fail loudly:
    * a damaged DV silently read short would RESURRECT deleted rows. */
  private[graft] def readSection(conf: Configuration, abs: String, ref: DvRef): Array[Long] = {
    val p = new Path(abs)
    val in = p.getFileSystem(conf).open(p)
    try {
      in.seek(ref.offset)
      val data = new java.io.DataInputStream(new java.io.BufferedInputStream(in))
      val magic = data.readInt()
      require(magic == Magic,
        s"corrupt deletion vector at $abs:${ref.offset} (magic ${magic.toHexString})")
      val n = data.readInt()
      require(n.toLong == ref.count,
        s"deletion vector at $abs:${ref.offset} holds $n rows, manifest says ${ref.count}")
      val rows = new Array[Long](n)
      var i = 0
      while (i < n) { rows(i) = data.readLong(); i += 1 }
      rows
    } finally in.close()
  }

  /** The deleted rowids of `refs` merged into one mask. `refs` carry
    * ABSOLUTE DV paths; a scan task passes its own files' refs (rowids
    * are globally unique, so several files' sections merge into one
    * sorted array, probed by binary search per row). */
  def mask(conf: Configuration, refs: Seq[DvRef]): DvMask = {
    val all = refs.flatMap(r => readSection(conf, r.path, r)).toArray
    java.util.Arrays.sort(all)
    new DvMask(all)
  }

  /** The key a data file's deletion vector is found under: the decoded
    * path without scheme or authority. Manifest paths and a scan's
    * `PartitionedFile` paths (URL-encoded) agree on it only after
    * decoding. */
  def pathKey(p: Path): String = p.toUri.getPath

  /** The deleted rowids of `refs` as a one-column DataFrame `(row)` —
    * the change feed's DV delta joins against it. Distributed: one task
    * per section batch reads its own bytes; nothing accumulates on the
    * driver. `resolve` maps each ref's root-relative path to the
    * absolute one (clone-aware). */
  private[graft] def rowsDf(spark: SparkSession, refs: Seq[DvRef],
                            resolve: String => String): DataFrame = {
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // distinct sections only (several data files can share a path but
    // never an offset; several manifest entries can alias one section)
    val sections = refs.map(r => (resolve(r.path), r.offset, r.count))
      .distinct
    val slices = math.max(1, math.min(sections.size,
      spark.sparkContext.defaultParallelism))
    val rdd = spark.sparkContext
      .parallelize(sections, slices)
      .flatMap { case (abs, off, cnt) =>
        readSection(conf.value, abs, DvRef(abs, off, cnt))
      }
      .map(org.apache.spark.sql.Row(_))
    spark.createDataFrame(rdd, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_zc_dv_row",
        org.apache.spark.sql.types.LongType, nullable = false))))
  }
}

/** A sorted set of deleted rowids ([[DeletionVectors.mask]]). */
final class DvMask private[graft] (sorted: Array[Long]) {
  def deleted(rowId: Long): Boolean =
    java.util.Arrays.binarySearch(sorted, rowId) >= 0
}
