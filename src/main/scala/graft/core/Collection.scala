package graft.core

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ManifestRead, ParquetReadBridge, ParquetWriteBridge}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType,
  LongType, ShortType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

import scala.jdk.CollectionConverters._

/** A partitioned parquet collection — the Spark-native re-expression of the
  * reference's `zcollection.Collection` (collection/base.py:81-803) with the
  * transactional commit protocol of its Icechunk store
  * (store/icechunk_store.py:60-282).
  *
  * Design (NOT a port): partitions are Hive-style parquet directories
  * (`year=2024/month=3/...`) under `root`, and every mutation commits a new
  * immutable MANIFEST under `_manifest/` — a JSON snapshot listing exactly
  * the data files that make up that generation. Readers resolve the highest
  * committed manifest and scan precisely those files:
  *
  *  - **atomicity / crash safety**: data files are only ever APPENDED under
  *    unique names; a manifest commit is one `create tmp + rename` of a new
  *    `manifest-<gen>.json`. A writer that dies mid-insert leaves orphan
  *    files no reader can see (clean them with [[vacuum]]); replaced files
  *    stay on disk until the new manifest lands, so readers always observe
  *    either the old or the new snapshot, never a mix — the reference's
  *    Icechunk session→write→commit story, re-expressed on any Hadoop FS;
  *  - **no directory walks on the read path**: the manifest doubles as the
  *    reference's `_catalog` partition cache; at 10^6 partitions a query
  *    costs one manifest read instead of an object-store LIST storm;
  *  - insert + merge strategies  -> read ONLY colliding partitions, append
  *    the merged output, commit a manifest that swaps the replaced files
  *    ([[MergeStrategy]]); `concat` never reads existing data at all;
  *  - query(filters, variables)  -> pruned scan + projection; the filter
  *    mini-language compiles to a Catalyst predicate over partition columns
  *    ([[FilterExpr]]), pruned against the manifest's file list;
  *  - `_immutable/` group        -> a small parquet broadcast-joined into
  *    every read (reference base.py:819-836), row count cached at write
  *    time so the read path never runs an extra job;
  *  - schema evolution           -> [[addVariable]]/[[dropVariable]] commit
  *    a new declared schema (reference schema/versioning.py, builder.py);
  *    reads pass the declared schema explicitly, so files written before an
  *    `addVariable` surface the new column as null (or its fill value) and
  *    files written before a `dropVariable` simply project it away.
  *
  * Write parallelism: inserts range-repartition on (partition cols, axis),
  * so a hot partition splits across many tasks proportional to its data —
  * parallelism is `spark.sql.shuffle.partitions`, not the number of
  * distinct partition keys — while each output file stays a contiguous,
  * axis-sorted time slice (parquet zone maps on the axis remain tight).
  *
  * A hidden `_zc_row` column gives [[View]] overlays and the [[Indexer]] a
  * stable positional key, mirroring the reference's positional alignment.
  * Ids are `(taskBase + task) << 33 | row`: the manifest persists a
  * `taskBase` high-water mark bumped by every write, so ids are unique
  * within a partition across any number of append/merge commits, and
  * monotone in (commit, axis) order — appended rows always sort after
  * existing ones, like the reference's along-axis concat.
  *
  * Concurrency: single writer, any number of readers (the reference's
  * Icechunk sessions make the same assumption). Readers never lock.
  */
final class Collection private (
    val spark: SparkSession,
    val root: String,
    createSchema: StructType,
    val axis: String,
    val partitioning: Partitioning,
    val catalogEnabled: Boolean,
    val readOnly: Boolean,
    val profile: CodecProfile,
    /** Free-form collection metadata (reference: Dataset.attrs persisted
      * in the root config). */
    val attrs: Map[String, String],
    /** How many PAST generations stay physically readable: 0 (default)
      * GCs replaced files right after each commit (append history still
      * time-travels); N > 0 defers deletion to [[vacuum]], which keeps
      * the newest N+1 snapshots intact — the lakehouse retention model. */
    val retainGenerations: Int = 0,
    /** HOT data columns beyond the axis whose per-file [min,max] is
      * recorded in the manifest zone maps at commit time — equality and
      * range filters on them skip non-overlapping files before the
      * driver ever schedules them (Iceberg column-metrics shape). */
    val statsColumns: Seq[String] = Nil,
    /** Data columns written with parquet BLOOM FILTERS: high-cardinality
      * equality predicates (`col == v`, `col in (...)`) test the footer
      * blooms of candidate files at query time and drop definite
      * misses — the skip layer zone maps can't provide when values are
      * uniformly spread across every file's [min,max]. */
    val bloomColumns: Seq[String] = Nil,
    /** Optional expected distinct-value count per bloom column —
      * parquet-mr sizes each bloom's bitset from it (fewer distincts =
      * smaller filter at the same false-positive rate; the default is
      * the 1 MiB maximum). Keys must appear in [[bloomColumns]]. */
    val bloomNdv: Map[String, Long] = Map.empty,
    /** When > 0: after a commit, any touched partition holding more than
      * this many data files is immediately rewritten as one fresh
      * axis-sorted file set in a follow-up atomic commit — bounding the
      * small-file accumulation of `Concat` append streams without a
      * manual [[compact]] schedule. 0 (default) disables the policy. */
    val autoCompactFiles: Int = 0,
) {
  import Collection._

  private val partCols: Seq[String] = partitioning.axis

  private def fs: FileSystem = fileSystem(spark, root)

  private def requireWritable(): Unit =
    if (readOnly) throw new IllegalStateException(s"collection at $root is read-only")

  // --- manifest ----------------------------------------------------

  private def manifestDir = new Path(s"$root/$ManifestDir")

  /** Parsed manifests are immutable per generation — memoize. */
  private val manifestCache = scala.collection.concurrent.TrieMap.empty[Long, Manifest]

  /** All committed snapshot generations, oldest first. */
  def generations(): Seq[Long] = {
    if (!fs.exists(manifestDir))
      throw new IllegalStateException(
        s"no manifest directory under $root — this tree predates the manifest " +
        "format (or was damaged); recreate the collection or restore _manifest/")
    fs.listStatus(manifestDir).toSeq
      .map(_.getPath.getName)
      .collect { case ManifestName(g) => g.toLong }
      .sorted
  }

  /** Last generation this handle has observed — snapshot discovery
    * probes FORWARD from here (`exists(gen+1)`, `exists(gen+2)`, …)
    * instead of re-listing `_manifest/`: generations grow by one and
    * root manifests are never deleted, so the probe is equivalent to
    * LIST+max at O(new commits) point lookups — at 10^5 commits a read
    * costs 1 existence check, not a 10^5-entry directory listing. */
  @volatile private var knownMaxGen: Long = -1L

  private def latestGeneration(): Long = {
    var g = knownMaxGen
    if (g < 0L) {
      val gens = generations()
      if (gens.isEmpty) return -1L
      g = gens.max
    }
    while (fs.exists(manifestPath(manifestDir, g + 1))) g += 1
    knownMaxGen = g
    g
  }

  /** Canonical JSON of this handle's partition layout — compared against
    * each head manifest's [[Manifest.partSpec]] stamp. */
  private[core] lazy val partSpecJson: String = Collection.specJson(partitioning)

  /** [[currentManifest]] without the layout guard — commit internals and
    * [[Collection.open]]'s spec resolution only. */
  private[core] def currentManifestRaw(): Manifest = {
    val g = latestGeneration()
    if (g < 0L)
      throw new IllegalStateException(s"no committed manifest under $root/$ManifestDir")
    manifestCache.getOrElseUpdate(g, readManifest(fs, manifestDir, g))
  }

  /** The highest committed generation's manifest (point lookups + at
    * most one small JSON read; parsed manifests are cached). Refuses a
    * head whose partition layout ([[Manifest.partSpec]]) disagrees with
    * this handle's — after a [[changePartitioning]] by another handle,
    * interpreting the new paths under the old layout would silently
    * mis-prune; the stale handle must reopen. */
  private[core] def currentManifest(): Manifest = {
    val m = currentManifestRaw()
    if (m.partSpec.exists(_ != partSpecJson))
      throw new IllegalStateException(
        s"collection at $root was repartitioned (manifest layout " +
        s"${m.partSpec.get}; this handle opened with $partSpecJson) — " +
        "reopen via Collection.open")
    m
  }

  /** Commit generation — bumped by every successful write. [[View]]s record
    * it to detect a stale overlay (reference view sync). */
  def generation: Long = currentManifest().generation

  /** The current declared data schema (evolves via [[addVariable]] /
    * [[dropVariable]]; persisted per manifest generation). */
  def schema: StructType = {
    val man = currentManifest()
    schemaCache.getOrElseUpdate(man.generation, StructType.fromDDL(man.schemaDdl))
  }
  private val schemaCache = scala.collection.concurrent.TrieMap.empty[Long, StructType]

  // --- insert ------------------------------------------------------

  /** Insert `df`, splitting it by the partitioning. Default (`Replace`)
    * overwrites colliding partitions wholesale; other strategies combine
    * with the existing content; `Concat` is a pure append (existing data is
    * never read or rewritten). Returns the partition paths written. */
  def insert(df: DataFrame, merge: MergeStrategy = MergeStrategy.Replace): Seq[String] =
    insertInternal(df, merge, streamMark = None)

  /** Full-truncate overwrite (Spark's conventional `mode("overwrite")`
    * semantics under `partitionOverwriteMode=STATIC`): ONE atomic commit
    * whose snapshot contains ONLY `df`'s rows — every pre-existing
    * partition is replaced, including those the incoming data does not
    * touch. Contrast [[insert]] with [[MergeStrategy.Replace]] (dynamic
    * partition overwrite: non-colliding partitions survive). The commit
    * pins the head it read, so a racing writer conflicts instead of
    * having its partitions silently truncated. */
  def overwrite(df: DataFrame): Seq[String] = {
    requireWritable()
    val assigned = partitioning.assign(conformTypes(df))
    val man0 = currentManifest()
    writeAndCommit(assigned, Commit("overwrite", man0,
      removedPartitions = man0.partitionPaths.toSet))
    currentManifest().partitionPaths.sorted
  }

  private[graft] def insertInternal(df: DataFrame, merge: MergeStrategy,
                                    streamMark: Option[(String, Long)]): Seq[String] = {
    requireWritable()
    val assigned = partitioning.assign(conformTypes(df))
    // one manifest read serves collision detection, the merge's read of
    // existing rows, AND (for read-modify-write merges) the commit base —
    // see Commit's `base` contract
    val man0 = currentManifest()
    val existing = man0.partitionPaths.toSet

    if (existing.isEmpty) {
      // Initial-load fast path: nothing can collide, so skip the
      // distinct-keys pass entirely — the write reports exactly the
      // files its tasks created (crash orphans are never adopted).
      val newFiles = writeAndCommit(assigned,
        Commit("insert", man0, streamMark = streamMark))
      return newFiles.map(parentRel).distinct.sorted
    }

    val incomingKeys = distinctKeys(assigned)
    val incomingPaths = incomingKeys.map(keyPath)
    val colliding = incomingPaths.filter(existing.contains)

    // upsert-within-tolerance can match existing rows in ADJACENT
    // partitions (a 23:59:59.99 row vs a 00:00:00.04 insert): widen the
    // colliding set to every existing partition any inserted axis value
    // could reach at +-tolerance. Only axis-derived partitionings can be
    // affected — identity-partitioned keys don't move under an axis shift.
    val tolExtra: Seq[String] = merge match {
      case MergeStrategy.Upsert(Some(tol)) if partitioning.derivedCols.nonEmpty =>
        val isTs = schema(axis).dataType == org.apache.spark.sql.types.TimestampType
        val shifted = Seq(-tol, tol).map { d =>
          val sh =
            if (isTs) df.withColumn(axis, col(axis) + expr(s"INTERVAL $d MICROSECOND"))
            else df.withColumn(axis, col(axis) + lit(d))
          partitioning.assign(sh)
        }
        shifted.flatMap(s => distinctKeys(s).map(keyPath))
          .filter(p => existing.contains(p) && !colliding.contains(p))
          .distinct
      case _ => Nil
    }
    val replacedPaths = merge match {
      case MergeStrategy.Replace => colliding                  // overwrite, no read
      case MergeStrategy.Concat  => Nil                        // pure append
      case _                     => colliding ++ tolExtra      // read + rewrite
    }

    var mergeRead = false
    val toWrite: DataFrame = merge match {
      case MergeStrategy.Replace | MergeStrategy.Concat => assigned
      case _ if replacedPaths.isEmpty                   => assigned
      case strategy =>
        mergeRead = true
        val collidePred = pathPredicate(replacedPaths)
        // pruned: loads only the colliding partitions' shards — resolved
        // against the PINNED manifest, the same snapshot the commit will
        // use as its base
        val existingColliding =
          readManifestFiles(man0, man0.filesForPartitions(replacedPaths.toSet))
          .where(collidePred).drop(RowIdCol)
          .select(assigned.columns.toSeq.map(col): _*)
        // the full incoming dataset is the merge's right side: a tolerance
        // match may remove an existing row in a partition the incoming row
        // itself does not land in.
        strategy(existingColliding, assigned, axis, partCols)
    }

    // read-modify-write merges pin their snapshot as the commit base so a
    // commit racing into the same partitions conflicts instead of being
    // erased; blind writes (Replace/Concat) keep the late base read
    writeAndCommit(toWrite, Commit("insert",
      if (mergeRead) man0 else currentManifest(),
      removedPartitions = replacedPaths.toSet, streamMark = streamMark))
    maybeAutoCompact(incomingPaths)
    incomingPaths.sorted
  }

  /** Size-triggered compaction policy ([[autoCompactFiles]]): after a
    * commit, rewrite any just-touched partition whose file count exceeds
    * the threshold as one fresh axis-sorted set — a follow-up atomic
    * commit, so readers observe either the fragmented or the compacted
    * snapshot, never a mix. Bounded per insert: only the partitions this
    * insert touched are examined (file counts come from the root-reachable
    * shards of exactly those partitions, no full listing), and the
    * rewrite itself cannot re-trigger. Like [[compact]], row ids are
    * reassigned — overlaying views detect the rewrite as staleness. */
  private def maybeAutoCompact(touched: Seq[String]): Unit = {
    if (autoCompactFiles <= 0 || touched.isEmpty) return
    val man = currentManifest()
    val over = touched.distinct
      .filter(p => man.filesForPartitions(Set(p)).size > autoCompactFiles)
    if (over.isEmpty) return
    val paths = over.toSet
    // PIN `man` for both the row read and the commit base: with a late
    // base read, a concurrent commit landing between the two would be
    // silently erased (its files replaced, its rows absent from the
    // rewrite). Pinned, that race hits rebaseGuard's overlap check.
    val out = readManifestFiles(man, man.filesForPartitions(paths))
      .select(schema.fieldNames.toSeq.map(col): _*)
    try writeAndCommit(partitioning.assign(out), Commit("auto-compact", man,
      removedPartitions = paths, rewrite = true))
    catch { case _: java.util.ConcurrentModificationException =>
      // auto-compaction is opportunistic: losing the race leaves the
      // partition fragmented-but-correct; the next insert retries
      ()
    }
  }

  /** The last micro-batch id committed by streaming query `queryName`
    * (None if it never committed) — see [[insertStreamBatch]]. */
  def streamHighWaterMark(queryName: String): Option[Long] =
    streamMarks().get(queryName)

  /** Every streaming query's committed high-water mark (stream name ->
    * last committed micro-batch id), as the head manifest records it. */
  def streamMarks(): Map[String, Long] = currentManifest().streams

  /** Idempotent micro-batch insert for streaming ingestion
    * ([[graft.streaming.StreamOps.insertStream]]): the batch id is
    * committed ATOMICALLY with the batch's files, so when foreachBatch
    * replays a batch after a failure (Spark's at-least-once contract)
    * the replay is detected against the committed high-water mark and
    * skipped — exactly-once ingestion on top of the manifest swap, the
    * idempotent-sink pattern of the lakehouse formats. Returns the
    * partitions written (empty for a skipped replay). */
  def insertStreamBatch(queryName: String, batchId: Long, df: DataFrame,
                        merge: MergeStrategy = MergeStrategy.Concat): Seq[String] = {
    requireWritable()
    if (currentManifest().streams.get(queryName).exists(_ >= batchId)) return Nil
    insertInternal(df, merge, Some(queryName -> batchId))
  }

  /** `df` with each declared column it carries at its declared type, as
    * SQL `INSERT INTO` would store it: a column of another type is cast
    * where ANSI store assignment allows it (DECIMAL into DOUBLE, INT
    * into BIGINT) and refused otherwise (STRING into DOUBLE), before
    * anything is written. Nullability differences pass unchanged. */
  private def conformTypes(df: DataFrame): DataFrame = {
    val declared = schema
    val casts = df.schema.fields.flatMap { f =>
      declared.find(_.name == f.name).map(_.dataType)
        .filterNot(DataTypeUtils.sameType(f.dataType, _))
        .map { to =>
          require(Cast.canANSIStoreAssign(f.dataType, to),
            s"cannot write column '${f.name}' of type ${f.dataType.sql} into a " +
              s"collection that declares it ${to.sql}")
          f.name -> to
        }
    }.toMap
    if (casts.isEmpty) df
    else df.select(df.columns.toSeq.map(c => casts.get(c).fold(col(c))(col(c).cast(_).as(c))): _*)
  }

  /** Write the small non-axis dataset to `_immutable/`; it is merged back
    * into every read. The row count is recorded at write time so reads
    * never pay a counting job (single-row datasets attach as constant
    * columns via a broadcast cross join; multi-row datasets broadcast-join
    * on their shared columns, reference io/immutable.py). */
  def writeImmutable(df: DataFrame): Unit = {
    requireWritable()
    val n = df.count()
    df.coalesce(1).write.mode("overwrite").parquet(s"$root/$ImmutableDir")
    val m = new java.util.LinkedHashMap[String, Object]()
    m.put("rows", java.lang.Long.valueOf(n))
    writeJson(fs, new Path(s"$root/$ImmutableDir/$ImmutableMeta"), m)
    immutableCache = null
  }

  // --- write internals ---------------------------------------------

  private def writeTasks: Int =
    spark.conf.get("spark.sql.shuffle.partitions", "200").toInt

  /** Range-repartition on (partition cols, axis) — parallelism follows the
    * DATA, not the partition-key count; each task writes contiguous
    * axis-sorted slices. Row ids are not a column here: the task writer
    * assigns them, collision-free above the manifest's task base, and
    * any incoming `_zc_row` is dropped. */
  private def prepareForWrite(df: DataFrame, cluster: Seq[Column] = null): DataFrame = {
    // Row-id ordering: axis first, then a deterministic hash tiebreak over
    // the SCALAR columns only — hashing wide array/struct payloads (e.g. a
    // 240-float swath) would dominate the insert cost for no extra
    // stability in practice.
    val scalarCols = df.schema.fields
      .filter(f => schema.fieldNames.contains(f.name))
      .filterNot(f => f.dataType match {
        case _: org.apache.spark.sql.types.ArrayType
           | _: org.apache.spark.sql.types.StructType
           | _: org.apache.spark.sql.types.MapType
           | org.apache.spark.sql.types.BinaryType => true
        case _ => false
      })
      .map(f => col(f.name)).toSeq
    val tiebreak =
      if (scalarCols.nonEmpty) xxhash64(scalarCols: _*) else lit(0L)
    // default clustering is the axis (tight axis zone maps per file); a
    // z-ordered compaction passes its Morton value instead
    val order = if (cluster == null) Seq(col(axis)) else cluster
    df.drop(RowIdCol)
      .repartitionByRange(writeTasks, (partCols.map(col) ++ order): _*)
      .sortWithinPartitions((partCols.map(col) ++ order :+ tiebreak): _*)
  }

  /** Append-mode physical write: never deletes or overwrites. The
    * native task writer ([[GraftWriterFactory]], the same one the SQL
    * face runs) streams each task's rows into final, uniquely-named
    * files in the partition dirs; the files stay invisible until a
    * manifest commits them. The tasks report the EXACT relative paths
    * they created, so the commit's file set is KNOWN, not discovered by
    * listing: a concurrent writer appending to the same partition can
    * neither be adopted into this commit nor have its files clobbered.
    * A mid-write crash leaves unreferenced files that [[vacuum]]'s
    * age-gated GC reclaims. Row ids start at `man.taskBase`. The codec,
    * bloom options and INT64-micros timestamps (footer min/max stats
    * feed [[axisFileStats]]) ride the job's own hadoop conf; no session
    * or SparkContext setting changes. */
  private def physicalWrite(df: DataFrame, man: Manifest): Seq[String] = {
    val factory = GraftWriterFactory.forFrame(spark, root, writeSpec(man), df.schema)
    GraftNativeCommit.files(ParquetWriteBridge.runWriteJob(df, factory)(committed =>
      dropUncommittedFiles(GraftNativeCommit.files(committed)))).sorted
  }

  /** The write half of a data commit: CHECK-guard `df` against the
    * commit base's constraints (content-preserving rewrites skip the
    * guard — their rows already live in a validated snapshot), write it
    * (the task commits report the exact new-file set, so crash orphans
    * and a concurrent writer's files in the same partitions are
    * structurally excluded), then [[publish]] `c` with those files.
    * Returns the files published. */
  private def writeAndCommit(df: DataFrame, c: Commit,
                             cluster: Seq[Column] = null): Seq[String] = {
    val checked =
      if (c.rewrite || c.base.constraints.isEmpty) df
      else constraintGuard(df, c.base.constraints)
    val files = physicalWrite(prepareForWrite(checked, cluster), c.base)
    publish(c.copy(added = files, taskBump = writeTasks))
    files
  }

  /** The ONE writer of this collection's next manifest generation: every
    * mutation builds a [[Commit]] and lands it here, the Icechunk
    * session→write→commit story. `publish` alone numbers the generation
    * (`base.generation + 1`), labels it `c.op`, and:
    *
    *  - EDIT commits (`c.edit`: metadata and whole-table rewrites of the
    *    base) publish `edit(base)` once. A lost race throws and deletes
    *    nothing — an adopting edit's copies may be exactly the files the
    *    winner committed ([[fastForwardPromote]]);
    *  - DELTA commits rebuild only the touched shards of the base and, on
    *    a lost race, REBASE onto the winner when the two commits touched
    *    disjoint partitions ([[rebaseGuard]]) — the Icechunk
    *    session-rebase model, no data IO (data files are on disk and
    *    named collision-free; the rebased task base advances past both
    *    writers). A conflict that survives [[MaxCommitRebases]] rebases
    *    proves the commit did not land (the publish is exclusive), so
    *    the just-written data and DV files are deleted; any other failure
    *    is AMBIGUOUS (an IO error after the claim may mean the manifest
    *    IS published) and leaves them for [[vacuum]]'s liveness check;
    *  - then GC: with `retainGenerations == 0` the files of the removed
    *    partitions and the removed files are deleted — except EXTERNAL
    *    references (a shallow clone's source owns them) and files a
    *    TAGGED snapshot or a live in-tree BRANCH head still references
    *    (a branch forked before this commit keeps reading its fork-point
    *    files; standalone clones can't be discovered and rely on tags).
    *    Readers on the old snapshot may still be streaming them, so the
    *    delete is best-effort. A retention window defers all of it to
    *    [[vacuum]]. */
  private[core] def publish(c: Commit): Unit = {
    def land(next: Manifest, base: Manifest): Unit = {
      val m = next.stamped(base.generation + 1, Some(c.op))
      // A manifest descended from a legacy inline-`files` root may carry
      // shard entries whose lists exist only in this handle's memory —
      // materialize them BEFORE the root rename so any fresh handle can
      // resolve every referenced shard (one-time cost on the first commit
      // over a migrated tree; content-addressed, so repeats are no-ops).
      if (m.inline.nonEmpty)
        m.shards.foreach { e =>
          m.inline.get(e.file).foreach(writeShardIfAbsent(fs, manifestDir, e.file, _))
        }
      val ts = System.currentTimeMillis()
      writeManifest(fs, manifestDir, m, ts)
      // cache what a re-read would parse — including the publish stamp
      manifestCache.put(m.generation, m.stamped(m.generation, m.op, Some(ts)))
      if (m.generation > knownMaxGen) knownMaxGen = m.generation
    }
    c.edit match {
      case Some(edit) => land(edit(c.base), c.base)
      case None =>
        val (stats, rows, bytes) = fileStats(c.added, c.base.renames) // once — rebases reuse it
        var base = c.base
        var attempts = 0
        var landed = false
        try while (!landed) {
          try { land(deltaManifest(base, c, stats, rows, bytes), base); landed = true }
          catch {
            case e: java.util.ConcurrentModificationException =>
              attempts += 1
              if (attempts > MaxCommitRebases) throw e
              val head = currentManifest() // probes forward past the winner(s)
              rebaseGuard(base, head, c.added, c.removedPartitions ++
                (c.removedFiles ++ c.dvEdits.keys).map(parentRel), c.streamMark, e)
              // a DV computed against `base` names rowids of `base`'s files;
              // rebasing is sound only if the head carries those files AND
              // their DV state unchanged (the guard above admits only
              // non-overlapping partition deltas, which implies it)
              base = head
          }
        } catch {
          case e: java.util.ConcurrentModificationException =>
            dropUncommittedFiles((c.added ++ c.dvEdits.values.map(_.path)).distinct)
            throw e
        }
    }
    // the files this commit replaced, resolved from the base (a rebase
    // only ever admits disjoint partitions, so the head lists the same)
    val doomed =
      if (retainGenerations != 0) Nil
      else (c.base.filesForPartitions(c.removedPartitions) ++ c.removedFiles)
        .filterNot(isExternal)
    if (doomed.nonEmpty) {
      // only the affected partitions' shards of each pinning head load
      val affected = c.removedPartitions ++ c.removedFiles.map(parentRel)
      val byTag = tags().values.toSet.flatMap { g: Long =>
        try manifestAt(g).filesForPartitions(affected) catch { case _: Exception => Nil }
      }
      val pinned = byTag ++ branchPinnedRels(Some(affected))
      doomed.filterNot(pinned.contains)
        .foreach(f => try fs.delete(new Path(s"$root/$f"), false) catch { case _: Exception => () })
    }
  }

  /** OUR rel paths that live in-tree branch heads still reference
    * (their `base::rel` refs whose base is this collection). `affected
    * = Some(partitions)` restricts the scan to those partitions' shards
    * (the commit-GC shape); `None` loads each branch head fully (the
    * vacuum/fsck shape). An unreadable branch pins nothing — it is
    * damaged, not a veto on the parent's progress. */
  private def branchPinnedRels(affected: Option[Set[String]]): Set[String] = {
    val names = branches()
    if (names.isEmpty) return Set.empty
    val mine = fs.makeQualified(new Path(root)).toString.stripSuffix("/")
    names.flatMap { name =>
      try {
        val bman = Collection.open(spark, s"$root/$BranchDir/$name", readOnly = true)
          .currentManifestRaw()
        val refs = affected match {
          case Some(parts) => bman.filesForPartitions(parts)
          case None        =>
            // full shape (vacuum/fsck): the branch's deletion-vector
            // files pin like its data files — same `base::rel` form
            bman.files ++ bman.allDvs.values.map(_.path)
        }
        refs.filter(f => baseOf(f).contains(mine)).map(relOf)
      } catch { case _: Exception => Nil }
    }.toSet
  }

  /** PARTITION EVOLUTION: rewrite the whole collection under a new
    * partition layout, IN PLACE, in one atomic commit (the Delta
    * "overwrite with new partitioning" migration shape — a day-keyed
    * telemetry tree becomes hour-keyed, a sequence tree becomes
    * date-keyed, without changing the root anyone points at). The commit
    * stamps the new layout into the manifest ([[Manifest.partSpec]]),
    * which is AUTHORITATIVE from that generation on: a crash before the
    * follow-up config rewrite costs nothing (open() prefers the head
    * manifest's stamp), and every pre-existing handle — including this
    * one — detects the stamp mismatch and refuses loudly instead of
    * mis-pruning ([[currentManifest]]). Returns the NEW handle; use it.
    *
    * The rewrite is the full-scan rewrite it sounds like (every row
    * re-bucketed — cost ∝ collection size, like any layout migration);
    * it is rewrite-MARKED, so the CDC diff cancels to empty. LIVE
    * streaming tails fail loudly (their source handle holds the old
    * layout — same reopen contract as every stale handle); a RESTARTED
    * stream resumes from its checkpoint and skips the evolution batch
    * via the all-rewrites + global-row-total check — no re-delivery.
    * Row ids are reassigned: views and indexes detect staleness as with
    * [[compact]]. Single-writer operation: a commit racing it conflicts
    * on the all-partitions overlap. */
  def changePartitioning(newPartitioning: Partitioning): Collection = {
    requireWritable()
    require(newPartitioning.dimension == axis,
      s"new partitioning is keyed on '${newPartitioning.dimension}'; the " +
      s"collection axis is '$axis' (the axis cannot change)")
    newPartitioning.inputCols.foreach(c => require(
      schema.fieldNames.contains(c),
      s"partitioning input '$c' is not a data column"))
    val man = currentManifest()
    val next = new Collection(spark, root, schema, axis, newPartitioning,
      catalogEnabled, readOnly = false, profile, attrs, retainGenerations,
      statsColumns, bloomColumns, bloomNdv, autoCompactFiles)
    require(next.partSpecJson != partSpecJson,
      "new partitioning is identical to the current layout")
    val rows = readManifestFiles(man, man.files)
      .select(schema.fieldNames.toSeq.map(col): _*)
    // the NEW handle performs the write: its partition columns drive the
    // physical layout, its spec stamps the manifest
    next.writeAndCommit(newPartitioning.assign(rows), Commit("repartition", man,
      removedPartitions = man.partitionPaths.toSet, rewrite = true,
      partSpec = Some(next.partSpecJson)))
    // repair the root config LAST (cosmetic once the manifest is
    // stamped; open() trusts the manifest over the config)
    try {
      val cfg = new Path(s"$root/$ConfigFile")
      val in: java.io.InputStream = fs.open(cfg)
      val doc =
        try new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(in, classOf[java.util.Map[String, Object]])
        finally in.close()
      doc.put("partitioning", newPartitioning.toJsonMap)
      writeJson(fs, cfg, doc)
    } catch { case _: Exception => () }
    next
  }

  /** Refuse a rebase that would change semantics: overlapping partition
    * deltas, a concurrent schema/fill evolution, or a replay of a stream
    * batch the winner already committed. Cost is proportional to the
    * subtrees the two commits touched (shard-level diff first, file
    * lists only for differing subtrees). */
  private def rebaseGuard(prev: Manifest, head: Manifest, newFiles: Seq[String],
                          dropped: Set[String], streamMark: Option[(String, Long)],
                          cause: Throwable): Unit = {
    def conflict(msg: String): Nothing = {
      val e = new java.util.ConcurrentModificationException(
        s"commit conflict at generation ${head.generation}: $msg — " +
        "re-read the collection and retry the mutation")
      e.initCause(cause)
      throw e
    }
    if (head.schemaDdl != prev.schemaDdl || head.fills != prev.fills)
      conflict("the schema evolved concurrently")
    if (head.constraints != prev.constraints)
      conflict("CHECK constraints changed concurrently — this write was " +
        "validated against the old set")
    streamMark.foreach { case (q, b) =>
      if (head.streams.get(q).exists(_ >= b))
        conflict(s"stream batch $b of '$q' was already committed by another writer")
    }
    val ours = newFiles.map(parentRel).toSet ++ dropped
    val prevByPfx = prev.shards.map(e => e.prefix -> e).toMap
    val headByPfx = head.shards.map(e => e.prefix -> e).toMap
    val differing = (prevByPfx.keySet ++ headByPfx.keySet)
      .filter(p => prevByPfx.get(p).map(_.file) != headByPfx.get(p).map(_.file))
    val theirs: Set[String] = differing.flatMap { p =>
      val aD = prevByPfx.get(p).map(prev.shardData)
      val bD = headByPfx.get(p).map(head.shardData)
      val a = aD.map(_.files).getOrElse(Nil).groupBy(parentRel)
      val b = bD.map(_.files).getOrElse(Nil).groupBy(parentRel)
      // a partition differs if its file list OR its deletion-vector
      // state moved: a concurrent DV delete changes rows without
      // touching files, and a rewrite rebased over it would resurrect
      // the deleted rows
      val aDv = aD.map(_.dvs).getOrElse(Map.empty).groupBy { case (f, _) => parentRel(f) }
      val bDv = bD.map(_.dvs).getOrElse(Map.empty).groupBy { case (f, _) => parentRel(f) }
      (a.keySet ++ b.keySet ++ aDv.keySet ++ bDv.keySet)
        .filter(part => a.get(part) != b.get(part) || aDv.get(part) != bDv.get(part))
    }
    val overlap = ours & theirs
    if (overlap.nonEmpty)
      conflict(s"both writers touched partition(s) ${overlap.toSeq.sorted.take(3).mkString(", ")}")
  }

  /** [[publish]]'s next manifest for delta commit `c` over `prev`, built
    * at SHARD granularity: subtrees that gained no files and dropped no
    * partitions carry their entry over BY NAME — zero IO; only affected
    * subtrees load and rewrite.
    * A commit touching one partition of a 10^7-file collection writes
    * one shard + the root, regardless of collection size. */
  private def deltaManifest(prev: Manifest, c: Commit,
                            newStats: Map[String, Map[String, ColStat]],
                            newRows: Map[String, Long],
                            newBytes: Map[String, Long]): Manifest = {
    val newByPrefix = c.added.groupBy(f => prefixOf(parentRel(f)))
    val affected = newByPrefix.keySet ++ c.removedPartitions.map(prefixOf) ++
      (c.removedFiles ++ c.dvEdits.keySet).map(f => prefixOf(parentRel(f)))
    val kept = prev.shards.filterNot(e => affected(e.prefix))
    val prevByPrefix = prev.shards.map(e => e.prefix -> e).toMap
    val rebuilt = affected.toSeq.sorted.flatMap { pfx =>
      val oldData = prevByPrefix.get(pfx).map(prev.shardData)
        .getOrElse(ShardData(Nil))
      val files = (oldData.files
        .filterNot(f => c.removedPartitions(parentRel(f)) || c.removedFiles(f)) ++
        newByPrefix.getOrElse(pfx, Nil)).sorted
      if (files.isEmpty) None
      else {
        // zone maps: surviving files keep theirs (legacy sentinel keys
        // normalize to the axis name on rebuild), new files bring theirs
        val fileSet = files.toSet
        val oldNorm = oldData.stats.map { case (f, byCol) =>
          f -> byCol.map {
            case (LegacyAxisKey, st) => axis -> st
            case kv                  => kv
          }
        }
        val stats = (oldNorm ++ newStats).filter { case (f, _) => fileSet(f) }
        val rows = (oldData.rows ++ newRows).filter { case (f, _) => fileSet(f) }
        val bytes = (oldData.bytes ++ newBytes).filter { case (f, _) => fileSet(f) }
        val newGen = prev.generation + 1
        val gens = (oldData.gens ++
          newByPrefix.getOrElse(pfx, Nil).map(_ -> newGen))
          .filter { case (f, _) => fileSet(f) }
        // deletion vectors: surviving files keep theirs, this commit's
        // updates override (pre-merged rowid unions), refs of dropped /
        // rewritten files fall away with the file — compaction
        // materializes a DV simply by replacing its file
        val dvs = (oldData.dvs ++ c.dvEdits).filter { case (f, _) => fileSet(f) }
        val name = shardName(files, stats, rows, gens, bytes, dvs)
        writeShardIfAbsent(fs, manifestDir, name, files, stats, rows, gens, bytes, dvs)
        Some(ShardEntry(pfx,
          files.map(f => parentRel(f).substring(pfx.length).stripPrefix("/")).distinct.sorted,
          name, rollupOf(files, stats, prev.renames),
          // rowTotal is LIVE rows (physical minus DV'd): countRows and
          // CBO stats answer what a reader would see
          rowTotal = if (files.forall(rows.contains))
            Some(files.map(rows).sum - dvs.values.map(_.count).sum) else None,
          byteTotal = if (files.forall(bytes.contains)) Some(files.map(bytes).sum) else None,
          dvCount = dvs.values.map(_.count).sum))
      }
    }
    prev.withShards(prev.taskBase + c.taskBump,
      (kept ++ rebuilt).sortBy(_.prefix),
      c.streamMark.fold(prev.streams)(prev.streams + _),
      newRewrites = if (c.rewrite) c.removedPartitions else Set.empty,
      newPartSpec = c.partSpec)
  }

  /** Reclaim unreachable data files: crash leftovers of writers that
    * died before their commit, plus — when a retention window is set —
    * files only referenced by snapshots OLDER than the newest
    * `retainGenerations + 1`. Returns deleted paths.
    *
    * Concurrent-writer safety: data and shard files are written BEFORE
    * their root rename, so an unreferenced-but-RECENT file may belong to
    * another writer's in-flight commit — deleting it would corrupt that
    * commit if its rename then succeeds. With `graceMs > 0` (default
    * 15 min) only files already older than the newest committed root by
    * more than the grace window are reclaimed; any commit in flight when
    * that root landed has either renamed or conflicted within the
    * window. `graceMs = 0` skips the gate — the quiesced-single-writer
    * mode (this collection's declared concurrency contract) where every
    * unreferenced file is by definition a crash leftover. */
  /** @param retainMillis ADDITIONAL time-based retention: snapshots whose
    *        commit stamp is younger than this many millis stay readable
    *        even past the `retainGenerations` count (the Delta
    *        `delta.deletedFileRetentionDuration` shape — size it to the
    *        longest CDC consumer lag / time-travel window). 0 = count
    *        only. Immediate GC on commit applies only when
    *        `retainGenerations == 0`; time-based windows require a
    *        retention count > 0 so deletes defer to vacuum. */
  /** @param dryRun report the data files vacuum WOULD reclaim without
    *        deleting anything (no shard/tmp/stage cleanup either) — the
    *        operator pre-flight before an irreversible GC. */
  def vacuum(graceMs: Long = DefaultVacuumGraceMs,
             retainMillis: Long = 0L,
             dryRun: Boolean = false): Seq[String] = {
    requireWritable()
    val gens = generations()
    val newestRootMtime =
      gens.lastOption.map(g => fs.getFileStatus(manifestPath(manifestDir, g)).getModificationTime)
        .getOrElse(Long.MaxValue)
    val now = System.currentTimeMillis()
    def aged(mtime: Long): Boolean =
      graceMs <= 0L || (mtime < newestRootMtime && now - mtime > graceMs)
    val retained = retainedGenerations(gens, now, retainMillis)
    // live = retained snapshots' refs + anything a live in-tree branch
    // head still references of OURS (branch fork points must survive
    // the parent's GC — same pin the commit-time GC honors)
    val live: Set[String] = retained.flatMap { g =>
      manifestCache.getOrElseUpdate(g, readManifest(fs, manifestDir, g)).files
    }.toSet ++ branchPinnedRels(None)
    val all = walkDataFiles()
    val doomed = all.filterNot(live.contains).filter { f =>
      try aged(fs.getFileStatus(new Path(s"$root/$f")).getModificationTime)
      catch { case _: Exception => false }
    }
    if (dryRun) return doomed
    doomed.foreach(f => try fs.delete(new Path(s"$root/$f"), false) catch { case _: Exception => () })
    // shard-file GC: reclaim shard JSONs referenced by NO committed root
    // manifest (leftovers of commits that crashed between shard write and
    // root rename), under the same age gate
    val shardDirPath = new Path(manifestDir, ShardDir)
    if (fs.exists(shardDirPath)) {
      val referenced = gens.flatMap(g =>
        manifestCache.getOrElseUpdate(g, readManifest(fs, manifestDir, g)).shards.map(_.file)).toSet
      fs.listStatus(shardDirPath).toSeq.filter(_.isFile).foreach { st =>
        val rel = s"$ShardDir/${st.getPath.getName}"
        if (!referenced.contains(rel) && st.getPath.getName.startsWith("shard-") &&
            aged(st.getModificationTime))
          try fs.delete(st.getPath, false) catch { case _: Exception => () }
      }
    }
    // deletion-vector file GC (r11): DV files referenced by NO retained
    // snapshot — superseded sections, crash leftovers of writers that
    // died before their commit, refs dropped by compaction/rewrites —
    // age out under the same grace gate (the `live` set above already
    // carries branch-pinned DV rels via branchPinnedRels)
    val dvDirPath = new Path(s"$root/${DeletionVectors.DvDir}")
    if (fs.exists(dvDirPath)) {
      val liveDv: Set[String] = retained.flatMap { g =>
        manifestCache.getOrElseUpdate(g, readManifest(fs, manifestDir, g))
          .allDvs.values.map(_.path).filterNot(isExternal).map(relOf)
      }.toSet ++ live
      fs.listStatus(dvDirPath).toSeq.filter(_.isFile).foreach { st =>
        val rel = s"${DeletionVectors.DvDir}/${st.getPath.getName}"
        if (!liveDv.contains(rel) && st.getPath.getName.startsWith("dv-") &&
            aged(st.getModificationTime))
          try fs.delete(st.getPath, false) catch { case _: Exception => () }
      }
    }
    // orphan manifest tmps: a writer that crashed between its
    // writer-unique tmp write and the exclusive publish leaves the tmp
    // behind; same age gate as everything else
    fs.listStatus(manifestDir).toSeq.filter(_.isFile).foreach { st =>
      if (st.getPath.getName.endsWith(".tmp") && aged(st.getModificationTime))
        try fs.delete(st.getPath, false) catch { case _: Exception => () }
    }
    // legacy staging dirs: earlier builds staged each write under
    // `_stage/<uuid>`, and a crash mid-write left that subtree behind.
    // Gate on the NEWEST mtime anywhere in the subtree — a write still
    // running in an older build keeps landing task files, so its newest
    // entry stays inside the grace window even when the top dir's
    // creation time has aged out.
    def newestMtime(p: Path): Long = {
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) st.getModificationTime
      else (st.getModificationTime +:
        fs.listStatus(p).toSeq.map(s => newestMtime(s.getPath))).max
    }
    val stageRoot = new Path(s"$root/$StageDir")
    if (fs.exists(stageRoot))
      fs.listStatus(stageRoot).toSeq.foreach { st =>
        val newest = try newestMtime(st.getPath) catch { case _: Exception => Long.MaxValue }
        if (aged(newest))
          try fs.delete(st.getPath, true) catch { case _: Exception => () }
      }
    doomed
  }

  /** The generations whose files must survive a GC: the newest
    * `retainGenerations + 1` snapshots by count, plus — when
    * `retainMillis > 0` — every generation whose files were REPLACED
    * inside the window. A snapshot stays current until its SUCCESSOR
    * commits, so time retention keys on the successor's commit stamp,
    * not the generation's own (Delta's deletedFileRetentionDuration
    * likewise keys on deletion time): on a quiet-then-burst history
    * (gen G committed 25 h ago, replaced 1 h ago) a consumer lagging
    * within the window still reads G. Shared by [[vacuum]] and [[fsck]]
    * so the orphan report matches what vacuum would actually reclaim. */
  private def retainedGenerations(gens: Seq[Long], now: Long,
                                  retainMillis: Long): Seq[Long] = {
    val byCount = gens.takeRight(retainGenerations + 1)
    val byTime =
      if (retainMillis <= 0L) Nil
      else gens.sliding(2).collect {
        case Seq(g, next) if manifestCache
          .getOrElseUpdate(next, readManifest(fs, manifestDir, next))
          .committedAtMs.exists(ts => now - ts < retainMillis) => g
      }.toSeq
    // TAGGED snapshots are pinned unconditionally: a tag is the user's
    // explicit promise that this generation stays readable (Icechunk
    // tags share the semantics) — vacuum never reclaims its files,
    // fsck never reports them as orphans, until the tag is deleted.
    val byTag = tags().values.toSeq.filter(gens.contains)
    (byCount ++ byTime ++ byTag).distinct
  }

  /** Integrity check of the current snapshot against the filesystem —
    * the pre-flight a 100 TB deployment runs before betting a training
    * job on a collection (and after restoring one from a backup).
    *
    * Shallow (default): ONE tree listing (O(directories), no per-file
    * RPCs) diffed against the manifest both ways — files the manifest
    * references that are gone from disk (`missingFiles`: every read
    * touching them will fail) and data files no retained snapshot
    * references (`orphanFiles`: crash leftovers, [[vacuum]] fodder —
    * files referenced only by retained older generations are NOT
    * flagged). `statlessFiles` counts files invisible to the skip
    * layers ([[backfillStats]] fixes them).
    *
    * Deep (`deep = true`): additionally re-reads the parquet FOOTERS of
    * every present file (distributed like [[backfillStats]] past the
    * driver threshold) and compares actual row counts against the
    * manifest's recorded counts — catching silently truncated or
    * swapped files that existence checks cannot see. Footer-only: cost
    * is one metadata read per file, no data IO.
    *
    * `retainMillis` — pass the SAME window the deployment's [[vacuum]]
    * uses: `orphanFiles` is computed against the identical retained-
    * generation set ([[retainedGenerations]]), so the report names
    * exactly what vacuum would reclaim; with the default 0 a file still
    * protected by time-based retention would be mis-reported as vacuum
    * fodder. */
  def fsck(deep: Boolean = false, retainMillis: Long = 0L): FsckReport = {
    val man = currentManifest()
    val byShard = man.shards.map(e => man.shardData(e))
    val files = byShard.flatMap(_.files)
    val onDisk = walkDataFiles().toSet
    // local refs check against one walk of our own tree; EXTERNAL refs
    // (shallow clones) stat their source path individually — a source
    // that was vacuumed past the clone point shows up here as missing
    val missing = files.filterNot { f =>
      if (isExternal(f)) {
        val p = new Path(absOf(root, f))
        try p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
        catch { case _: Exception => false }
      } else onDisk.contains(f)
    }
    val retained = retainedGenerations(generations(),
      System.currentTimeMillis(), retainMillis)
    val live = retained.flatMap(g =>
      manifestCache.getOrElseUpdate(g, readManifest(fs, manifestDir, g)).files).toSet ++
      branchPinnedRels(None) // matches vacuum: branch-pinned files are not orphans
    val orphans = onDisk.diff(live).toSeq.sorted
    val statless = byShard.flatMap(d => d.files.filterNot(d.stats.contains))
    val (mismatches, unreadable) =
      if (!deep) (Nil, Nil)
      else {
        val recorded = byShard.flatMap(_.rows).toMap
        val missingSet = missing.toSet
        val present = files.filterNot(missingSet.contains)
        val (_, actualRows, _) = fileStats(present, man.renames)
        val mm = present.flatMap { f =>
          for (r <- recorded.get(f); a <- actualRows.get(f) if r != a)
            yield (f, r, a)
        }
        // a present file whose FOOTER cannot be read at all (truncation,
        // checksum damage, non-parquet bytes) is its own damage class —
        // every read touching it will fail, and the row-count compare
        // above would otherwise silently skip it (r10e: found by planting
        // a truncated file that the deep pass waved through). Gated on
        // fileStats having actually run: with no usable stats column the
        // footer pass is skipped entirely and an empty actualRows would
        // mis-flag EVERY file
        val statsRan = statsCols.exists(c => columnDomain(c).isDefined)
        val ur =
          if (statsRan) present.filterNot(actualRows.contains).sorted else Nil
        (mm, ur)
      }
    // DELETION VECTORS (r11): a missing/short/corrupt DV file would
    // RESURRECT deleted rows on every read — its own damage class.
    // Shallow checks existence; deep re-reads every section (magic +
    // declared count, [[DeletionVectors.readSection]] fails loudly on
    // both) — section reads are `8 + 8*count` bytes, no data IO.
    val dvRefs = byShard.flatMap(_.dvs.values)
    val badDvs = dvRefs.flatMap { ref =>
      val abs = absOf(root, ref.path)
      val p = new Path(abs)
      try {
        val dfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!dfs.exists(p)) Some(ref.path)
        else if (!deep) None
        else {
          DeletionVectors.readSection(
            spark.sparkContext.hadoopConfiguration, abs, ref)
          None
        }
      } catch { case _: Exception => Some(s"${ref.path}@${ref.offset}") }
    }.distinct.sorted
    FsckReport(files.size, missing, mismatches, statless, orphans, unreadable,
      badDvs)
  }

  // --- schema evolution --------------------------------------------

  /** Add a data variable (reference schema/builder.py add_variable +
    * versioning.py bump): partitions written before this commit read the
    * column as null — or `fill`, a SQL literal (e.g. `"0.0"`, `"'n/a'"`),
    * the parquet analogue of Zarr's fill_value. */
  def addVariable(name: String, dataType: DataType, fill: Option[String] = None): Unit = {
    requireWritable()
    val man = currentManifest()
    val s = StructType.fromDDL(man.schemaDdl)
    require(!s.fieldNames.contains(name), s"variable '$name' already exists")
    require(!partCols.contains(name), s"'$name' collides with a partition column")
    // a new column must not shadow any column's PHYSICAL (file-resident)
    // name — files would then carry two meanings under one name (r11)
    require(!man.renames.values.toSet.contains(name),
      s"'$name' is the physical (file-resident) name of a renamed column")
    // metadata-only commit: the shard table carries over by name, zero IO.
    // A name that was EVER dropped gets no columnSince entry: pre-drop
    // files still physically carry the old column's values, so the
    // "predates columnSince => all-null" proof would silently skip rows.
    val since =
      if (man.droppedEver.contains(name)) man.columnSince
      else man.columnSince + (name -> (man.generation + 1))
    publish(Commit("add-column", man, edit = Some(_.withMeta(
      schemaDdl = StructType(s.fields :+ StructField(name, dataType)).toDDL,
      fills = man.fills ++ fill.map(name -> _),
      columnSince = since))))
  }

  /** CHECK constraint (Delta `ALTER TABLE ADD CONSTRAINT` shape): a
    * boolean SQL expression over the data columns, ANSI semantics (NULL
    * passes). EXISTING data validates first — a collection never holds
    * a row its constraints reject; from this commit on, every
    * insert/update/merge write job carries a per-row guard that fails
    * the job (and therefore the commit) on the first violating row, at
    * zero extra passes over the data. Metadata-only commit. */
  def addConstraint(name: String, sql: String): Unit = {
    requireWritable()
    require(name.nonEmpty && sql.nonEmpty, "constraint needs a name and an expression")
    val man = currentManifest()
    require(!man.constraints.contains(name), s"constraint '$name' already exists")
    val bad = query().where(coalesce(expr(sql).cast("boolean"), lit(true)) === false).count()
    if (bad > 0) throw new IllegalStateException(
      s"cannot add CHECK constraint '$name' ($sql): $bad existing row(s) violate it")
    publish(Commit("add-constraint", man,
      edit = Some(_.withMeta(constraints = man.constraints + (name -> sql)))))
  }

  /** Remove a CHECK constraint (metadata-only commit). */
  def dropConstraint(name: String): Unit = {
    requireWritable()
    val man = currentManifest()
    require(man.constraints.contains(name), s"no constraint '$name'")
    publish(Commit("drop-constraint", man,
      edit = Some(_.withMeta(constraints = man.constraints - name))))
  }

  /** Declared CHECK constraints of the current snapshot. */
  def constraints: Map[String, String] = currentManifest().constraints

  /** The per-row constraint guard: evaluates inside the write job's own
    * scan (no extra pass); the first violating row fails the job before
    * any manifest commit. Content-preserving rewrites skip it — their
    * rows already live in a validated snapshot. */
  private def constraintGuard(df: DataFrame, cs: Map[String, String]): DataFrame =
    cs.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, sql)) =>
      d.where(when(coalesce(expr(sql).cast("boolean"), lit(true)), lit(true))
        .otherwise(raise_error(
          concat(lit(s"CHECK constraint '$n' violated: ($sql) is false for row "),
            to_json(struct(df.columns.map(col): _*)))).cast("boolean")))
    }

  /** Drop a data variable: no data files are rewritten — the declared
    * schema stops projecting it (reference schema versioning deletes the
    * Zarr array; parquet lets us simply stop reading the column). */
  def dropVariable(name: String): Unit = {
    requireWritable()
    val man = currentManifest()
    val s = StructType.fromDDL(man.schemaDdl)
    require(s.fieldNames.contains(name), s"no variable '$name'")
    require(name != axis, "cannot drop the partition axis")
    require(!partitioning.inputCols.contains(name), "cannot drop a partitioning input")
    publish(Commit("drop-column", man, edit = Some(_.withMeta(
      schemaDdl = StructType(s.fields.filterNot(_.name == name)).toDDL,
      fills = man.fills - name,
      columnSince = man.columnSince - name,
      // a dropped RENAMED column also retires its physical name: files
      // keep those bytes, so the schema-generation proof must stay off
      // for any future same-named column (the droppedEver contract)
      droppedEver = man.droppedEver + name + man.physName(name),
      renames = man.renames - name))))
  }

  /** RENAME a data variable (r11, the last schema-evolution verb):
    * metadata-only — the column's PHYSICAL name (what every parquet
    * file, footer stat, and bloom structure carries) was pinned when it
    * was added and never changes; the manifest's name mapping
    * ([[Collection.Manifest.renames]]) redirects reads, writes, and
    * every skip-layer lookup, the Iceberg field-id indirection
    * re-expressed over names. Old snapshots keep reading under their
    * own names (time travel is rename-aware per manifest); stale
    * handles refuse at their next commit like any schema evolution
    * (rebase guard: "the schema evolved concurrently").
    *
    * The axis and partitioning inputs cannot rename (partition paths
    * and the collection config speak their names); a CHECK constraint
    * referencing the column must be dropped first (its SQL is raw
    * text); the new name must not collide with any logical OR physical
    * name. Tables renamed mid-stream: a pinned streaming schema keeps
    * resolving as long as the pinned names' physical bindings are
    * unchanged — renaming an ALREADY-renamed column out from under a
    * running stream is not supported (restart the stream). */
  def renameVariable(oldName: String, newName: String): Unit = {
    requireWritable()
    val man = currentManifest()
    val s = StructType.fromDDL(man.schemaDdl)
    require(s.fieldNames.contains(oldName), s"no variable '$oldName'")
    require(oldName != axis, "cannot rename the partition axis")
    require(!partitioning.inputCols.contains(oldName), "cannot rename a partitioning input")
    require(oldName != newName, "old and new names are identical")
    require(!s.fieldNames.contains(newName) && !partCols.contains(newName),
      s"'$newName' already exists")
    val phys = man.physName(oldName)
    val otherPhys = s.fieldNames.filterNot(_ == oldName).map(man.physName).toSet
    require(!otherPhys.contains(newName),
      s"'$newName' is the physical (file-resident) name of another column")
    man.constraints.find { case (_, sql) =>
      sql.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(oldName)}\\b.*")
    }.foreach { case (n, sql) =>
      throw new IllegalStateException(
        s"CHECK constraint '$n' ($sql) references '$oldName' — " +
        "drop the constraint, rename, then re-add it under the new name")
    }
    publish(Commit("rename-column", man, edit = Some(_.withMeta(
      schemaDdl = StructType(s.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f)).toDDL,
      fills = (man.fills - oldName) ++ man.fills.get(oldName).map(newName -> _),
      columnSince = (man.columnSince - oldName) ++
        man.columnSince.get(oldName).map(newName -> _),
      // rename-back to the physical name leaves no entry (identity)
      renames = (man.renames - oldName) ++
        (if (phys == newName) Map.empty[String, String] else Map(newName -> phys))))))
  }

  // --- read --------------------------------------------------------

  private def readSchemaFields(dataSchema: StructType): Seq[StructField] =
    dataSchema.fields.toSeq ++
      // identity partitionings (Sequence/GroupedSequence) key on DATA
      // columns — appending those again would duplicate the field
      // (latent everywhere, ambiguous on the empty-file-set read)
      partCols.filterNot(dataSchema.fieldNames.contains)
        .map(c => StructField(c, partitioning.colType(c, dataSchema))) :+
      StructField(RowIdCol, LongType)

  /** Raw snapshot scan: data columns + partition columns + `_zc_row`,
    * resolved from the current manifest's file list (no directory walk).
    * The declared schema is passed explicitly, so partition columns come
    * back with their declared types and schema evolution applies
    * (missing-in-file columns read as null, then fill values). */
  /** The full scan schema (data + partition cols + `_zc_row`) without
    * building a scan — what streaming readers must declare. */
  def readSchema: StructType = StructType(readSchemaFields(schema))

  def readRaw(): DataFrame = readRawManifest(currentManifest())

  private def readRawManifest(man: Manifest): DataFrame =
    readManifestFiles(man, man.files)

  /** Scan an explicit subset of a manifest's files under that manifest's
    * declared schema + fills — the micro-batch primitive for the
    * manifest-consistent streaming source
    * ([[graft.streaming.GraftCollectionSource]]). `schemaOverride` pins a
    * different declared schema (a stream's schema is fixed at start even
    * as the collection's evolves); fills apply only to its columns. */
  private[graft] def readManifestFiles(man: Manifest, files: Seq[String],
                                       schemaOverride: Option[StructType] = None,
                                       /** Snapshot whose DELETION VECTORS
                                         * mask the read — defaults to
                                         * `man`; the CDC diff reads each
                                         * side under its OWN side's DVs. */
                                       dvMan: Manifest = null,
                                       /** false = PHYSICAL read (deleted
                                         * rows included) — the DV
                                         * writer's victim scan, where
                                         * `input_file_name()` must stay
                                         * join-free and re-deleting an
                                         * already-DV'd rowid is an
                                         * idempotent union. */
                                       applyDvs: Boolean = true): DataFrame = {
    val dataSchema = schemaOverride.getOrElse(
      schemaCache.getOrElseUpdate(man.generation, StructType.fromDDL(man.schemaDdl)))
    val fields = readSchemaFields(dataSchema)
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], StructType(fields))
    val dvs =
      if (!applyDvs) Map.empty[String, DvRef]
      else (if (dvMan != null) dvMan else man).dvsForFiles(files)
    // COLUMN RENAMES (r11): request the files' PHYSICAL names, alias
    // back to the declared logical names — physical names are pinned at
    // add time, so one mapping serves every file of every generation
    val renames = man.renames
    val physical = StructType(fields.map(f =>
      renames.get(f.name).fold(f)(p => f.copy(name = p))))
    // One scan over every reference base, its files and sizes served by
    // the manifest (no listing, no existence checks): local refs sit
    // under `root`, clone-external refs under their source root, and
    // partition columns derive identically from either tree. Deletion
    // vectors mask inside the scan, each task reading its own files'
    // sections.
    val sizeOf = fileSizes(man, files)
    val trees = files.groupBy(Collection.baseOf).toSeq
      .sortBy(_._1.getOrElse("")) // deterministic plan across runs
      .map { case (base, group) =>
        base.getOrElse(root) -> group.map(f => Collection.absOf(root, f) -> sizeOf(f))
      }
    val scan = ManifestRead.dataFrame(spark, trees, physical,
      dvs.map { case (f, r) =>
        Collection.absOf(root, f) -> r.copy(path = Collection.absOf(root, r.path))
      })
    var df =
      if (fields.forall(f => !renames.contains(f.name))) scan
      else scan.select(fields.map(f =>
        col(renames.getOrElse(f.name, f.name)).as(f.name)): _*)
    for ((c, fillSql) <- man.fills if dataSchema.fieldNames.contains(c))
      df = df.withColumn(c, coalesce(col(c), expr(fillSql).cast(dataSchema(c).dataType)))
    df.select(fields.map(f => col(f.name)): _*)
  }

  /** Byte length of each of `files` (manifest refs): the size the
    * manifest recorded, or one `getFileStatus` for an entry written
    * before sizes were recorded. */
  private def fileSizes(man: Manifest, files: Seq[String]): String => Long = {
    val recorded = man.bytesForFiles(files)
    f => recorded.getOrElse(f, {
      val p = new Path(Collection.absOf(root, f))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    })
  }

  /** The committed manifest at `gen` (cached; manifests are immutable). */
  private[graft] def manifestAt(gen: Long): Manifest =
    manifestCache.getOrElseUpdate(gen, readManifest(fs, manifestDir, gen))

  /** TIME TRAVEL: read the collection exactly as committed at `gen`
    * (that snapshot's files AND schema). Snapshots are immutable, but
    * files REPLACED by later merge/update/drop commits are physically
    * GC'd right after the replacing commit — so arbitrary history is
    * fully readable only for append-style workloads (`Concat` inserts
    * never replace); a GC'd snapshot fails at scan time with the missing
    * file's path. */
  def snapshotAt(gen: Long, filters: String = null): DataFrame = {
    require(generations().contains(gen), s"no committed generation $gen at $root")
    val man = manifestCache.getOrElseUpdate(gen, readManifest(fs, manifestDir, gen))
    val dataSchema = StructType.fromDDL(man.schemaDdl)
    val ast = FilterExpr.parse(filters)
    // time-travel reads prune exactly like current-generation reads: the
    // snapshot's own shard stats/rollups/blooms drive the same layers
    val df = ast match {
      case FilterExpr.True => readRawManifest(man)
      case _ =>
        readManifestFiles(man,
          pruneFilesForRead(man, man.files, ast),
          schemaOverride = Some(dataSchema))
    }
    df.where(FilterExpr.toColumn(ast))
      .select(dataSchema.fieldNames.toSeq.map(col): _*)
  }

  /** DESCRIBE HISTORY: one row per committed snapshot — generation,
    * commit wall-clock, operation label, rewrite markers, partition and
    * file counts — straight from the (cached) root manifests, zero data
    * IO. Pre-label manifests show a null operation. */
  def describeHistory(): DataFrame = {
    val rows = generations().map { g =>
      val m = manifestCache.getOrElseUpdate(g, readManifest(fs, manifestDir, g))
      (g, m.committedAtMs, m.op, m.partitionPaths.size,
        m.shards.size, m.rewrites.size)
    }
    import spark.implicits._
    rows.toDF("generation", "committed_at_ms", "operation",
      "partitions", "subtrees", "rewritten_partitions")
  }

  /** `TIMESTAMP AS OF` resolution: the latest generation committed at or
    * before `tsMillis` (by each manifest's publish-time stamp). Binary
    * search over the generation list — O(log history) cached JSON reads;
    * pre-stamp legacy manifests count as "old enough". None: every
    * snapshot postdates the timestamp. */
  def generationAsOf(tsMillis: Long): Option[Long] = {
    val gens = generations().toIndexedSeq
    def at(i: Int): Long =
      manifestCache.getOrElseUpdate(gens(i), readManifest(fs, manifestDir, gens(i)))
        .committedAtMs.getOrElse(Long.MinValue)
    var lo = 0
    var hi = gens.length - 1
    var best = -1
    while (lo <= hi) {
      val mid = (lo + hi) / 2
      if (at(mid) <= tsMillis) { best = mid; lo = mid + 1 } else hi = mid - 1
    }
    if (best < 0) None else Some(gens(best))
  }

  /** [[snapshotAt]] by wall-clock instead of generation (Delta/Iceberg
    * `TIMESTAMP AS OF`). */
  def snapshotAsOf(tsMillis: Long, filters: String = null): DataFrame =
    snapshotAt(generationAsOf(tsMillis).getOrElse(throw new IllegalArgumentException(
      s"no snapshot committed at or before $tsMillis at $root")), filters)

  // --- tags (named snapshots) --------------------------------------
  //
  // A tag is a NAME for a committed generation (the Icechunk tag shape,
  // store/icechunk_store.py repository refs; Delta has no first-class
  // analogue — users abuse table copies). Tags are tiny JSON refs under
  // `_manifest/tags/`, created exclusively (the same loser-must-lose
  // publish as manifests), and they PIN their snapshot: vacuum and the
  // commit-time GC never reclaim a tagged generation's files until the
  // tag is deleted — the "release dataset v1.2 stays reproducible"
  // contract a training pipeline needs.

  private def tagsDir = new Path(manifestDir, "tags")
  private def tagPath(name: String) = new Path(tagsDir, s"$name.json")

  private def requireTagName(name: String): Unit = require(
    name.nonEmpty && name.forall(c => c.isLetterOrDigit || "._-".contains(c)),
    s"invalid tag name '$name' (allowed: letters, digits, '.', '_', '-')")

  /** Name generation `gen` (default: the current head). Refuses an
    * existing name — tags are immutable; delete and re-create to move
    * one (the audit trail is the point). */
  def tag(name: String, gen: Long = -1L): Unit = {
    requireWritable()
    requireTagName(name)
    val g = if (gen < 0) currentManifest().generation else gen
    require(generations().contains(g), s"no committed generation $g at $root")
    val doc = new java.util.LinkedHashMap[String, Object]()
    doc.put("generation", java.lang.Long.valueOf(g))
    doc.put("createdAt", java.lang.Long.valueOf(System.currentTimeMillis()))
    val tmp = new Path(tagsDir,
      s".$name.${java.util.UUID.randomUUID().toString.substring(0, 8)}.tmp")
    writeJson(fs, tmp, doc)
    if (!publishExclusive(fs, tmp, tagPath(name)))
      throw new IllegalStateException(s"tag '$name' already exists at $root")
  }

  /** All tags: name -> generation. One directory listing + one tiny
    * JSON read per tag (tags are few by construction). */
  def tags(): Map[String, Long] = {
    if (!fs.exists(tagsDir)) return Map.empty
    fs.listStatus(tagsDir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      .flatMap { st =>
        try {
          val in: java.io.InputStream = fs.open(st.getPath)
          val doc =
            try new ObjectMapper().readValue(in, classOf[java.util.Map[String, Object]])
            finally in.close()
          Some(st.getPath.getName.stripSuffix(".json") ->
            doc.get("generation").toString.toLong)
        } catch { case _: Exception => None }
      }.toMap
  }

  /** Drop a tag — its generation becomes reclaimable under the normal
    * retention rules at the next vacuum/GC. */
  def deleteTag(name: String): Unit = {
    requireWritable()
    requireTagName(name)
    if (!fs.delete(tagPath(name), false))
      throw new IllegalArgumentException(s"no tag '$name' at $root")
  }

  /** Read the collection as of a tag (`VERSION AS OF <name>`). */
  def snapshotAtTag(name: String, filters: String = null): DataFrame =
    snapshotAt(tags().getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' at $root")), filters)

  // --- clones & branches -------------------------------------------

  /** [[Collection.cloneTo]] with this collection as the source.
    * `asOfGeneration` clones a PAST snapshot; `asOfTag` resolves a
    * [[tag]] (which conveniently also pins the files being cloned). */
  def cloneTo(destRoot: String, asOfGeneration: Long = -1L,
              asOfTag: String = null): Collection = {
    require(asOfGeneration < 0 || asOfTag == null,
      "pass asOfGeneration or asOfTag, not both")
    val gen =
      if (asOfTag != null) tags().getOrElse(asOfTag,
        throw new IllegalArgumentException(s"no tag '$asOfTag' at $root"))
      else asOfGeneration
    Collection.cloneTo(spark, root, destRoot, gen)
  }

  /** A named BRANCH: a shallow clone living INSIDE this collection's
    * tree (`_branches/<name>` — invisible to the data-file walk, so
    * vacuum/fsck of the parent never see its files), for the Icechunk
    * `writable_session(branch=...)` workflow (store/icechunk_store.py:
    * 112-145): fork, mutate freely, read back, [[promoteBranch]] or
    * drop. Because branches are in-tree they are DISCOVERABLE, and the
    * parent's commit-time GC and [[vacuum]] PIN every file a live
    * branch head still references — parent rewrites never break a
    * branch (standalone [[cloneTo]] clones can't be discovered and
    * rely on [[tag]] pins instead). [[dropBranch]] releases the pin. */
  def branch(name: String, asOfGeneration: Long = -1L,
             asOfTag: String = null): Collection = {
    requireTagName(name)
    cloneTo(s"$root/$BranchDir/$name", asOfGeneration, asOfTag)
  }

  /** Open an existing branch. */
  def openBranch(name: String, readOnly: Boolean = false): Collection = {
    requireTagName(name)
    Collection.open(spark, s"$root/$BranchDir/$name", readOnly)
  }

  /** Branch names present under this collection's tree. */
  def branches(): Seq[String] = {
    val d = new Path(s"$root/$BranchDir")
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
  }

  /** Drop a branch and everything it wrote. Only the branch's OWN files
    * die — its references into this collection are just metadata. */
  def dropBranch(name: String): Unit = {
    requireWritable()
    requireTagName(name)
    val d = new Path(s"$root/$BranchDir/$name")
    if (!fs.exists(d))
      throw new IllegalArgumentException(s"no branch '$name' at $root")
    fs.delete(d, true)
  }

  /** Does this collection's head reference files outside its own tree? */
  def isExternalClone: Boolean =
    currentManifest().shards.exists(e => currentManifest().shardData(e).files.exists(isExternal))

  /** MATERIALIZE a shallow clone: copy every still-external file into
    * this collection's own tree and commit a manifest with purely local
    * references — the escape hatch from the clone durability contract
    * (run it BEFORE the source is vacuumed or decommissioned, and the
    * clone becomes a self-contained deep copy; Delta: `CLONE` deep).
    *
    * The byte copies run as ONE distributed Spark job (a 100 TB
    * materialize is bounded by cluster IO, not the driver); rel paths
    * are preserved, so zone maps, blooms, row counts and commit
    * generations carry over by re-key — no footer is re-read, no row
    * re-written. The commit is content-preserving and marks every
    * touched partition as a REWRITE, so tailing streams skip it exactly
    * like a compaction. Crash-safe: copies land before the commit;
    * a crash leaves unreferenced local copies for [[vacuum]].
    *
    * Returns the localized references (empty = nothing was external). */
  def materialize(): Seq[String] = {
    requireWritable()
    val man = currentManifest()
    val byShard = man.shards.map(e => e -> man.shardData(e))
    val ext = byShard.flatMap(_._2.files).filter(isExternal)
    if (ext.isEmpty) return Nil
    val rootStr = root
    val bc = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    spark.sparkContext.parallelize(ext, math.min(ext.size, 256)).foreach { f =>
      val conf = bc.value.value
      val src = new Path(absOf(rootStr, f))
      val dst = new Path(s"$rootStr/${relOf(f)}")
      val dstFs = dst.getFileSystem(conf)
      if (dstFs.exists(dst)) {
        // rel names are writer-unique task UUIDs — an existing file of a
        // DIFFERENT length is a genuine collision, not idempotent retry
        val srcLen = src.getFileSystem(conf).getFileStatus(src).getLen
        if (dstFs.getFileStatus(dst).getLen != srcLen)
          throw new IllegalStateException(
            s"materialize collision: $dst exists with different content than $src")
      } else {
        dstFs.mkdirs(dst.getParent)
        org.apache.hadoop.fs.FileUtil.copy(
          src.getFileSystem(conf), src, dstFs, dst, false, conf)
      }
    }
    val rewritten = scala.collection.mutable.Set.empty[String]
    val entries = byShard.map { case (e, d) =>
      if (!d.files.exists(isExternal)) e
      else {
        val files = d.files.map(relOf)
        val stats = d.stats.map { case (f, v) => relOf(f) -> v }
        val rows = d.rows.map { case (f, v) => relOf(f) -> v }
        val gens = d.gens.map { case (f, v) => relOf(f) -> v }
        val sizes = d.bytes.map { case (f, v) => relOf(f) -> v }
        // DV refs follow their (now-local) data file; the DV bytes stay
        // where they were written — still readable through the ref path
        val dvs = d.dvs.map { case (f, v) => relOf(f) -> v }
        val name = shardName(files, stats, rows, gens, sizes, dvs)
        writeShardIfAbsent(fs, manifestDir, name, files, stats, rows, gens, sizes, dvs)
        rewritten ++= e.partitions.map(p => joinPath(e.prefix, p))
        ShardEntry(e.prefix, e.partitions, name, e.rollup, e.rowTotal, e.byteTotal, e.dvCount)
      }
    }
    publish(Commit("materialize", man,
      edit = Some(_.withShards(man.taskBase, entries, newRewrites = rewritten.toSet))))
    ext.sorted
  }

  /** FAST-FORWARD promote (r15): adopt the branch head STATE at file
    * granularity when the parent is still AT the fork point.
    *
    * Sound because with the parent unmoved, "apply the branch's row
    * diff to the parent" and "make the parent's state the branch's
    * state" are the same multiset — but the diff path pays a CDC diff
    * computation plus a full REWRITE of every touched partition, while
    * adoption pays one byte COPY of the branch's own files (never a
    * decode), re-keys the branch manifest's shard data (zone maps, row
    * counts, commit gens, DV refs carry with zero footer IO — the
    * [[materialize]] re-key precedent), and publishes one commit.
    * Untouched subtrees re-key to byte-identical shard content, so
    * content addressing makes them free. The branch stays readable
    * (its tree is copied from, never moved), preserving the documented
    * promote contract.
    *
    * Equivalence guards — any failure returns None and the caller runs
    * the exact diff path: identical schema (caller-checked), fills,
    * constraints, renames, droppedEver, columnSince and partition
    * layout; every external ref resolvable (the parent's own base, or
    * a ref the parent manifest itself also carries — a clone-of-clone).
    *
    * Commit semantics: adopted new files stamp the NEW parent
    * generation (a change-feed read across the promote sees exactly
    * the branch's net file delta); partitions that lost a fork file or
    * changed DV state mark as REWRITES (tailing streams skip them,
    * like the diff path's rewritten partitions), pure-append
    * partitions stream as appends (like the r11b append-only path);
    * `taskBase` takes the branch head's so adopted rowids stay unique.
    * A lost commit race surfaces the standard conflict and LEAVES the
    * copies for [[vacuum]] — a concurrent promote of the same branch
    * adopts the same deterministic rel names, so the loser's copies
    * may be exactly the winner's committed files. Fork files the
    * branch dropped are left to the pin-honoring GC/vacuum (the live
    * branch still references them until [[dropBranch]]). */
  private def fastForwardPromote(b: Collection, forkGen: Long,
                                 man: Manifest): Option[Seq[String]] = {
    val bm = b.currentManifestRaw()
    if (bm.fills != man.fills || bm.constraints != man.constraints ||
        bm.renames != man.renames || bm.droppedEver != man.droppedEver ||
        bm.columnSince != man.columnSince ||
        bm.partSpec.getOrElse(partSpecJson) != man.partSpec.getOrElse(partSpecJson))
      return None
    val parentBase = fs.makeQualified(new Path(root)).toString.stripSuffix("/")
    val newGen = man.generation + 1
    val byShard = bm.shards.map(e => e -> bm.shardData(e))
    // external refs that are neither the parent's own base nor refs the
    // parent manifest itself carries (e.g. the parent root under a
    // different spelling) would survive as self-external refs, which
    // vacuum's liveness walk does not recognize — refuse those
    val foreign = byShard.flatMap(_._2.files)
      .filter(f => isExternal(f) && !baseOf(f).contains(parentBase)).distinct
    if (foreign.nonEmpty) {
      lazy val parentRefs = man.files.toSet
      if (!foreign.forall(parentRefs.contains)) return None
    }
    def rekey(f: String): String =
      if (!isExternal(f)) f // branch-local rel: copied to the same rel below
      else if (baseOf(f).contains(parentBase)) relOf(f)
      else f // clone-of-clone ref the parent also carries
    // ---- physical adoption: copy branch-local data files + DV payloads
    // as a Spark job (r16 advice — materialize's parallelize+broadcast-
    // conf shape; the sequential driver loop made a large-branch promote
    // driver-IO-bound)
    val bRoot = b.fs.makeQualified(new Path(b.root)).toString.stripSuffix("/")
    val localFiles = byShard.flatMap(_._2.files).filterNot(isExternal).distinct
    val localDvs = byShard.flatMap(_._2.dvs.values.map(_.path))
      .filterNot(isExternal).distinct
    val copied = localFiles ++ localDvs
    if (copied.nonEmpty) {
      val rootStr = root
      val bc = spark.sparkContext.broadcast(
        new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
      spark.sparkContext.parallelize(copied, math.min(copied.size, 256)).foreach { rel =>
        val conf = bc.value.value
        val src = new Path(s"$bRoot/$rel")
        val dst = new Path(s"$rootStr/$rel")
        val dstFs = dst.getFileSystem(conf)
        if (dstFs.exists(dst)) {
          // UUID names make collisions a same-content re-promote artifact;
          // anything else refuses loudly rather than adopting wrong bytes
          val srcLen = src.getFileSystem(conf).getFileStatus(src).getLen
          if (dstFs.getFileStatus(dst).getLen != srcLen)
            throw new IllegalStateException(
              s"promote collision: $dst exists with different content than $src")
        } else {
          dstFs.mkdirs(dst.getParent)
          org.apache.hadoop.fs.FileUtil.copy(
            src.getFileSystem(conf), src, dstFs, dst, false, conf)
        }
      }
    }
    // ---- re-keyed shard entries (materialize's carry-by-re-key shape):
    // every subtree rebuilds into the PARENT's manifest dir; an
    // untouched subtree re-keys to byte-identical content, so content
    // addressing reproduces the parent's existing blob name and
    // writeShardIfAbsent is a no-op
    val rekeyed = byShard.map { case (e, d) =>
      val files = d.files.map(rekey)
      val stats = d.stats.map { case (f, v) => rekey(f) -> v }
      val rows = d.rows.map { case (f, v) => rekey(f) -> v }
      val bytes = d.bytes.map { case (f, v) => rekey(f) -> v }
      // branch commits (gens > fork) squash into the ONE promote gen
      val gens = d.gens.map { case (f, g) =>
        rekey(f) -> (if (g > forkGen) newGen else g) }
      val dvs = d.dvs.map { case (f, v) =>
        rekey(f) -> v.copy(path = rekey(v.path)) }
      val name = shardName(files, stats, rows, gens, bytes, dvs)
      writeShardIfAbsent(fs, manifestDir, name, files, stats, rows, gens, bytes, dvs)
      (ShardEntry(e.prefix, e.partitions, name, e.rollup, e.rowTotal,
        e.byteTotal, e.dvCount), files, dvs)
    }
    val entries = rekeyed.map(_._1)
    // ---- touched partitions + rewrite marking, at SHARD granularity:
    // only subtrees whose content-addressed shard name moved diff at
    // file level — untouched subtrees cost nothing, at any size
    val prevByPrefix = man.shards.map(e => e.prefix -> e).toMap
    val newByPrefix = rekeyed.map(r => r._1.prefix -> r).toMap
    val touched = scala.collection.mutable.Set.empty[String]
    val rewrites = scala.collection.mutable.Set.empty[String]
    (prevByPrefix.keySet ++ newByPrefix.keySet).foreach { pfx =>
      val pe = prevByPrefix.get(pfx)
      val ne = newByPrefix.get(pfx)
      if (pe.map(_.file) != ne.map(_._1.file)) {
        val od = pe.map(man.shardData).getOrElse(ShardData(Nil))
        val (newFiles, newDvs) = ne.map(r => (r._2, r._3))
          .getOrElse((Seq.empty[String], Map.empty[String, DvRef]))
        val oldByPart = od.files.groupBy(parentRel)
        val newByPart = newFiles.groupBy(parentRel)
        val oldDvByPart = od.dvs.groupBy { case (f, _) => parentRel(f) }
        val newDvByPart = newDvs.groupBy { case (f, _) => parentRel(f) }
        (oldByPart.keySet ++ newByPart.keySet).foreach { part =>
          val o = oldByPart.getOrElse(part, Nil).toSet
          val n = newByPart.getOrElse(part, Nil).toSet
          val dvMoved = oldDvByPart.getOrElse(part, Map.empty) !=
            newDvByPart.getOrElse(part, Map.empty)
          if (o != n || dvMoved) {
            touched += part
            if ((o -- n).nonEmpty || dvMoved) rewrites += part
          }
        }
      }
    }
    if (touched.isEmpty) return Some(Nil) // state-identical branch head
    // ---- publish as an EDIT commit: a lost race LEAVES the copies in
    // place for [[vacuum]] (the documented materialize crash contract) —
    // it must NOT delete them: adopted destinations
    // are deterministic (the branch's own rel names), so when two drivers
    // promote the SAME branch concurrently the loser's "invisible" copies
    // are the exact files the winner's committed manifest now references
    // — deleting them would be silent data loss. (The diff path stays
    // self-cleaning because it writes fresh writer-unique UUID files.)
    publish(Commit("promote", man, edit = Some(_.withShards(
      math.max(man.taskBase, bm.taskBase), entries.sortBy(_.prefix),
      newRewrites = rewrites.toSet))))
    Some(touched.toSeq.sorted)
  }

  /** PROMOTE a branch: apply the exact row-level diff the branch made
    * since it was forked back into this (parent) collection, as one
    * atomic commit — the merge-back the Icechunk session workflow ends
    * with (`session.commit()`), re-expressed through the CDC layer:
    * the branch's [[changes]] from its fork point to its head is the
    * promotion payload (deletes subtract multiset-exactly, inserts
    * append), and only the touched partitions rewrite.
    *
    * Fast-forward by default: refuses when the parent has committed
    * past the fork point (`allowDiverged = true` applies the branch
    * diff on top of the parent's CURRENT state instead — last-writer-
    * wins at row granularity, no 3-way merge). Refuses if the branch
    * evolved its schema (evolve the parent first, then promote).
    * CHECK constraints re-validate the promoted rows. Returns the
    * parent partitions rewritten. */
  def promoteBranch(name: String, allowDiverged: Boolean = false): Seq[String] = {
    requireWritable()
    val b = openBranch(name, readOnly = true)
    val forkGen = b.generations().head
    if (b.generation == forkGen) return Nil // branch never committed
    val man = currentManifest()
    // FAST-FORWARD (r15, the r14 trigger-profile finding): when the
    // parent has NOT moved past the fork, the branch head state IS the
    // desired parent state — adopt it at FILE granularity (copy the
    // branch's own files in, re-key the branch manifest's shard data,
    // one commit) instead of computing the row-level CDC diff and
    // REWRITING every touched partition. Publish cost ∝ the branch's
    // own bytes + touched-shard metadata, with zero data decode at any
    // collection size; zone maps / row counts / DV refs carry by
    // re-key. Falls back to the exact diff path whenever a guard
    // cannot prove equivalence.
    if (!allowDiverged && man.generation == forkGen &&
        b.schema.toDDL == StructType.fromDDL(man.schemaDdl).toDDL) {
      fastForwardPromote(b, forkGen, man) match {
        case Some(touched) => return touched
        case None => () // guard failed: exact diff path below
      }
    }
    if (!allowDiverged && man.generation != forkGen)
      // dedicated type (r12): transaction() classifies conflicts by
      // CATCHING this, not by substring-matching the message — the
      // public exception contract survives any rewording
      throw new BranchDivergedException(
        s"parent advanced past the branch fork point ($forkGen -> " +
        s"${man.generation}); re-branch, rebaseBranch(keys) for checked " +
        "divergence, or pass allowDiverged=true to apply the branch's " +
        "row diff onto the current state unchecked")
    applyBranchDiff(b, forkGen, man, op = "promote")
  }

  /** REBASE a branch onto a DIVERGED parent with row-level conflict
    * DETECTION — the checked middle ground between [[promoteBranch]]'s
    * fast-forward refusal and its unchecked `allowDiverged` overwrite
    * (the Icechunk session-rebase contract, expressed through CDC):
    * both sides' diffs since the fork are compared on `keys` (the row
    * identity, e.g. the primary key a `mergeInto` would use); any key
    * BOTH sides touched is a conflict and the rebase refuses, naming
    * samples. Disjoint-key divergence applies cleanly onto the
    * CURRENT parent state.
    *
    * Reading the parent's own diff requires its replaced files to
    * still exist: set `retainGenerations > 0` (or [[tag]] the fork
    * point) on rebase workflows — at retain=0 a GC'd parent snapshot
    * fails the diff read with a missing-file error. */
  def rebaseBranch(name: String, keys: Seq[String],
                   resolve: RebaseResolve = RebaseResolve.Refuse): Seq[String] = {
    requireWritable()
    require(keys.nonEmpty, "rebaseBranch requires conflict-detection keys")
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"unknown conflict key '$k'"))
    val b = openBranch(name, readOnly = true)
    val forkGen = b.generations().head
    if (b.generation == forkGen) return Nil
    val man = currentManifest()
    if (man.generation == forkGen) // not diverged: plain fast-forward
      return applyBranchDiff(b, forkGen, man, op = "promote")
    val kcols = keys.map(col)
    val ours = changes(forkGen, man.generation).select(kcols: _*).distinct()
    val theirs = b.changes(forkGen, b.generation).select(kcols: _*).distinct()
    resolve match {
      case RebaseResolve.Refuse =>
        val conflicts = ours.intersect(theirs).limit(6).collect()
        if (conflicts.nonEmpty)
          throw new IllegalStateException(
            s"rebase conflict: ${if (conflicts.length > 5) "5+" else conflicts.length.toString} " +
            s"key(s) modified on both the parent and branch '$name' since " +
            s"fork generation $forkGen — e.g. ${conflicts.take(5).mkString(", ")}; " +
            "resolve by re-branching, merging manually (mergeInto), or " +
            "rebasing with RebaseResolve.Ours/Theirs")
        applyBranchDiff(b, forkGen, man, op = "rebase")
      case RebaseResolve.Ours =>
        applyBranchDiff(b, forkGen, man, op = "rebase",
          conflict = Some((keys, ours.intersect(theirs), false)))
      case RebaseResolve.Theirs =>
        applyBranchDiff(b, forkGen, man, op = "rebase",
          conflict = Some((keys, ours.intersect(theirs), true)))
    }
  }

  /** MULTI-OPERATION TRANSACTION (r11b): run several mutations as ONE
    * atomic, all-or-nothing commit — the Iceberg `Transaction` /
    * Icechunk writable-session shape, which single-statement lakehouse
    * DML cannot express ("insert the corrections AND delete the
    * retracted rows, atomically"). Built entirely from proven pieces:
    *
    *  - `body` receives a WORKING collection: an anonymous branch
    *    forked at the current head (metadata-only shallow clone, data
    *    files referenced not copied). Every mutation the Collection API
    *    offers works on it — insert/deleteWhere/updateWhere/mergeInto/
    *    compact — and each op SEES the previous ops' effects
    *    (sequential within-transaction visibility), while parent
    *    readers see NOTHING until publish (snapshot isolation).
    *  - publish = [[promoteBranch]]: the branch's row-level CDC diff
    *    since the fork applies to the parent as ONE atomic commit —
    *    readers observe all of the transaction's effects or none, and
    *    time travel shows ONE generation.
    *  - `body` throwing aborts: the branch (and every file it wrote)
    *    is dropped, the parent is untouched.
    *  - optimistic concurrency: a parent commit racing the transaction
    *    makes the publish REFUSE (ConcurrentModificationException —
    *    rerun the transaction against the new head). Passing
    *    `rebaseKeys` upgrades the refusal to [[rebaseBranch]]'s checked
    *    row-level divergence handling (disjoint keys apply cleanly;
    *    conflicts follow `resolve`).
    *
    * Scale shape: the fork is O(manifest); publish cost is promote's —
    * the CDC diff of what the transaction actually changed, touched
    * parent partitions rewrite, untouched subtrees carry by name. A
    * crash INSIDE `body` leaves only the invisible branch directory;
    * it is reclaimed like any branch (`dropBranch`), never visible to
    * readers. Schema evolution inside a transaction refuses at publish
    * (promote's contract: evolve the parent first).
    *
    * Returns the parent partitions the publish rewrote (empty for a
    * no-op transaction, which publishes nothing). */
  def transaction(body: Collection => Unit, rebaseKeys: Seq[String] = Nil,
                  resolve: RebaseResolve = RebaseResolve.Refuse): Seq[String] = {
    requireWritable()
    val name = s"txn-${java.util.UUID.randomUUID().toString.take(12)}"
    val forkGen = generation
    val work = branch(name)
    try {
      body(work)
      if (work.generation == forkGen) Nil // no-op transaction: publish nothing
      else if (rebaseKeys.nonEmpty) rebaseBranch(name, rebaseKeys, resolve)
      else try promoteBranch(name)
      catch {
        case e: BranchDivergedException =>
          val c = new java.util.ConcurrentModificationException(
            s"transaction conflict: the collection advanced past generation $forkGen " +
            "while the transaction ran — rerun it against the new head (or pass " +
            "rebaseKeys for checked row-level divergence)")
          c.initCause(e)
          throw c
      }
    } finally dropBranch(name)
  }

  /** Null-safe key-equality anti/semi join helper for the rebase
    * conflict sets (the conflict keys came from a DISTINCT/INTERSECT,
    * where NULL groups — the joins must agree). */
  private def keyJoin(rows: DataFrame, conflictKeys: DataFrame,
                      keys: Seq[String], joinType: String): DataFrame = {
    val c = conflictKeys.toDF(keys.map(k => s"_zc_ck_$k"): _*)
    val cond = keys.map(k => rows(k) <=> c(s"_zc_ck_$k")).reduce(_ && _)
    rows.join(c, cond, joinType)
  }

  /** Apply `b`'s row-level diff since `forkGen` onto `man` as one
    * atomic commit (shared by promote/rebase — callers have already
    * decided the divergence policy). `conflict = (keys, conflictKeys,
    * theirsWins)` carries a rebase resolution: the branch's edits to
    * conflicted keys drop from the payload, and with `theirsWins` the
    * parent's CURRENT rows at those keys are swapped for the branch's
    * HEAD rows (plain diff replay would subtract the FORK-time rows,
    * which the diverged parent no longer holds — state-level
    * replacement is the sound form). */
  private def applyBranchDiff(b: Collection, forkGen: Long,
                              man: Manifest, op: String,
                              conflict: Option[(Seq[String], DataFrame, Boolean)] = None)
      : Seq[String] = {
    require(b.schema.toDDL == StructType.fromDDL(man.schemaDdl).toDDL,
      "the branch evolved its schema; evolve the parent to match " +
      "before promoting")
    val cols = StructType.fromDDL(man.schemaDdl).fieldNames.toSeq
    val diff = b.changes(forkGen, b.generation)
    var inserts = diff.where(col(ChangeTypeCol) === "insert").select(cols.map(col): _*)
    var deletes = diff.where(col(ChangeTypeCol) === "delete").select(cols.map(col): _*)
    // the conflict-key set feeds four joins and one bounds agg — cache
    // it for the duration of the commit (freed below)
    var cachedConflicts: Option[DataFrame] = None
    // partitions of the theirs-wins parent-side delete leg, computed by a
    // NARROW action (see the touched-partition derivation below): this leg
    // is the one delete source whose rows can sit in files the fork->head
    // manifest diff never touched (a duplicate-key row carried unchanged
    // while its twin was edited), so metadata alone cannot bound it
    var conflictTouched: Seq[String] = Nil
    conflict.foreach { case (keys, conflictKeys0, theirsWins) =>
      val conflictKeys = conflictKeys0.persist()
      cachedConflicts = Some(conflictKeys)
      locally {
        inserts = keyJoin(inserts, conflictKeys, keys, "left_anti")
        deletes = keyJoin(deletes, conflictKeys, keys, "left_anti")
        if (theirsWins) {
          // bound BOTH state scans by the conflict keys' [min,max]
          // ranges (the MERGE file-prune trick): the skip layers cut to
          // files that can hold a conflicted key; the null-safe semi
          // joins stay exact on the superset. Non-literal-typed keys
          // contribute no constraint (full scan, still correct).
          def lit2(v: Any): Option[Any] = v match {
            case i: Int    => Some(i.toLong)
            case l: Long   => Some(l)
            case s: String => Some(s)
            case d: Double => Some(d)
            case f: Float  => Some(f.toDouble)
            case _         => None
          }
          val aggs = keys.flatMap(k =>
            Seq(min(col(k)).as(s"_zc_lo_$k"), max(col(k)).as(s"_zc_hi_$k")))
          val srow = conflictKeys.agg(aggs.head, aggs.tail: _*).collect()(0)
          val ranges: Seq[FilterExpr.Ast] = keys.flatMap { k =>
            val lo = Option(srow.getAs[Any](s"_zc_lo_$k")).flatMap(lit2)
            val hi = Option(srow.getAs[Any](s"_zc_hi_$k")).flatMap(lit2)
            for (l <- lo; h <- hi) yield FilterExpr.And(
              FilterExpr.Cmp(">=", FilterExpr.Name(k), FilterExpr.Lit(l)),
              FilterExpr.Cmp("<=", FilterExpr.Name(k), FilterExpr.Lit(h)))
          }
          val rangeAst = ranges.reduceOption(FilterExpr.And).getOrElse(FilterExpr.True)
          val current = readManifestFiles(man,
              pruneFilesForRead(man, man.files, rangeAst))
            .select(cols.map(col): _*)
          val currentDeletes = keyJoin(current, conflictKeys, keys, "left_semi")
          // partitions this leg deletes from — unlike the CDC-derived
          // sides there is no exceptAll in this plan, so Catalyst prunes
          // the scan to the key + axis columns and the action is a cheap
          // pruned scan + broadcast semi + distinct
          conflictTouched = distinctKeys(partitioning.assign(currentDeletes))
            .map(keyPath)
          deletes = currentDeletes.unionByName(deletes)
          inserts = keyJoin(b.scanWithAst(rangeAst).select(cols.map(col): _*),
              conflictKeys, keys, "left_semi")
            .unionByName(inserts)
        }
      }
    }
    // PURE-APPEND fast path (r11b): if every fork-time file survives at
    // the branch head with identical deletion-vector state, the fork's
    // row multiset is a subset of the head's — the diff CANNOT contain
    // deletes, and the promotion is a plain append of the diff's insert
    // rows: no existing-partition read, no rewrite, publish cost ∝ the
    // branch's own rows. Decided entirely from the two manifests (zero
    // data IO); any replace/compact/delete on the branch breaks the
    // file-survival check and falls back to the exact rewrite below.
    val bForkMan = b.manifestAt(forkGen)
    val bHeadMan = b.currentManifestRaw()
    val appendOnly = conflict.isEmpty && {
      val headFiles = bHeadMan.files.toSet
      def dvOf(m: Manifest): Map[String, DvRef] =
        m.shards.flatMap(e => m.shardData(e).dvs).toMap
      bForkMan.files.forall(headFiles.contains) && {
        val fDv = dvOf(bForkMan); val hDv = dvOf(bHeadMan)
        bForkMan.files.forall(f => fDv.get(f) == hDv.get(f))
      }
    }
    if (appendOnly) {
      // one assignment, PERSISTED across the two actions (the touched-key
      // listing and the write) — without the cache each action replayed
      // the branch CDC diff computation from scratch (r12)
      val assigned = partitioning.assign(inserts)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val touchedA = distinctKeys(assigned).map(keyPath)
        writeAndCommit(assigned, Commit(op, man))
        return touchedA.sorted
      } finally {
        assigned.unpersist(blocking = false)
        cachedConflicts.foreach(_.unpersist(blocking = false))
      }
    }
    // Touched parent partitions, derived from MANIFEST file diffs with
    // zero data IO (r16, the second attempt at killing this action).
    // History of the exact-action alternatives, both measured:
    //  - r16 attempt 1: persist `inserts`/`deletes` to share the CDC diff
    //    between a row-level touched action and the rewrite — 3-10x WORSE
    //    (the cache materializes the full-width diff and competes with
    //    the optimizer; BenchOne zc_rebase_theirs 10.2 s -> 30+ s).
    //  - pre-r16: run the row-level touched action un-persisted — exact,
    //    but it re-executed the whole branch CDC (exceptAll over the
    //    rewritten files) plus both theirs-wins scans, a full third of
    //    the rebase's wall time, only to throw the rows away.
    // The metadata form is a SUPERSET of the row-level touched set, and
    // a superset is safe: every extra partition is read into
    // `existingRows` and rewritten byte-identical (its diff is empty),
    // so the committed data — and the CDC feed across the commit — are
    // unchanged; only the returned "rewritten partitions" list grows.
    // Coverage proof, delete source by delete source (deletes are the
    // only side that NEEDS covering — an insert appends wherever it
    // lands, replaced or not):
    //  - branch CDC deletes are BY CONSTRUCTION rows of files removed
    //    between the fork and head manifests, or rows of carried files
    //    whose deletion vector grew (changesAs builds them from exactly
    //    those file sets);
    //  - the theirs-wins parent-side delete leg is bounded by its own
    //    narrow action (`conflictTouched` above) because a duplicate-key
    //    twin can sit in a file no manifest diff touched.
    // Branch CDC inserts live in added branch files; theirs-wins
    // re-inserts of branch-head rows may come from carried files, but
    // their parent-side copies are deleted via the covered legs, so the
    // append lands consistently. At 100 TB this turns a second full
    // evaluation of the diff into shard-list arithmetic; the cost is
    // rewrite amplification bounded by file churn that carried no row
    // change (mid-branch compaction) — rare, and correct either way.
    val headFiles2 = bHeadMan.files.toSet
    val forkFiles2 = bForkMan.files.toSet
    val carriedB = bHeadMan.files.filter(forkFiles2)
    val dvForkB = bForkMan.dvsForFiles(carriedB)
    val dvHeadB = bHeadMan.dvsForFiles(carriedB)
    val changedB = bForkMan.files.filterNot(headFiles2) ++
      bHeadMan.files.filterNot(forkFiles2) ++
      carriedB.filter(f => dvForkB.get(f) != dvHeadB.get(f))
    val touched = (changedB.map(parentRel) ++ conflictTouched).distinct
    val existing = man.partitionPaths.toSet
    val replaced = touched.filter(existing.contains).toSet
    val existingRows = readManifestFiles(man, man.filesForPartitions(replaced))
      .select(cols.map(col): _*)
    val out = existingRows.exceptAll(deletes).unionAll(inserts)
    try writeAndCommit(partitioning.assign(out), Commit(op, man, removedPartitions = replaced))
    finally cachedConflicts.foreach(_.unpersist(blocking = false))
    touched.sorted
  }

  /** RESTORE (Delta `RESTORE TABLE ... TO VERSION AS OF`): roll the
    * collection BACK to snapshot `gen` as a NEW commit — the head
    * becomes a copy of the old manifest (shards carried by NAME, zero
    * data IO), history stays intact, and the restoring commit is
    * CDC-visible (the change feed across it is exactly the inverse of
    * what the undone commits did). Requires the old snapshot's files
    * still on disk (`retainGenerations` / `retainMillis` sized to the
    * undo window — a reclaimed snapshot fails at scan time) and the
    * SAME partition layout (repartition back first; restoring across a
    * layout change would mix path schemes). The row-id high-water mark
    * and stream high-water marks are NOT rolled back — future writes
    * never reuse id space, replayed stream batches stay detected. */
  def restore(gen: Long): Unit = {
    requireWritable()
    val head = currentManifest()
    require(generations().contains(gen), s"no committed generation $gen at $root")
    require(gen < head.generation, s"generation $gen is not in the past")
    val old = manifestAt(gen)
    // a None stamp means "the create-time config layout": same as the
    // head only if no evolution ever happened (head unstamped too)
    val sameLayout = old.partSpec match {
      case Some(s) => s == partSpecJson
      case None    => head.partSpec.isEmpty
    }
    require(sameLayout,
      "cannot restore across a partition-layout change — repartition back first")
    publish(Commit("restore", head, edit = Some(h => new Manifest(
      h.generation,
      h.taskBase, // ids only ever grow
      old.schemaDdl, old.fills, old.shards,
      // a legacy inline-format snapshot's synthetic shard lists may exist
      // only in the old handle's memory: carry them (publish
      // materializes them to disk before the root lands) and resolve
      // reads through them until then — without this, a restored head
      // could reference shard JSONs no handle can load
      rel => old.inline.get(rel).map(ShardData(_))
        .getOrElse(readShard(fs, manifestDir, rel)),
      h.streams, // exactly-once stream marks never roll back
      columnSince = old.columnSince,
      // droppedEver is MONOTONE: a name dropped after `gen` stays
      // poisoned for the all-null proof even once restored
      droppedEver = h.droppedEver ++ old.droppedEver,
      partSpec = h.partSpec,
      constraints = old.constraints,
      inline = old.inline))))
  }

  /** CHANGE FEED (CDC): the exact row-level difference between two
    * committed snapshots, computed FILE-granularly — only files ADDED or
    * REMOVED between the generations are ever read; untouched files cost
    * nothing. The dominant append-only history therefore reads exactly
    * the new files with no diffing at all, and a file-granular
    * `deleteWhere`/`updateWhere`/`mergeInto`/compaction pays one
    * multiset difference (`exceptAll`, a hash aggregate) bounded by its
    * own rewritten files: rows carried unchanged through a rewrite
    * appear on both sides and cancel, so only genuinely inserted /
    * deleted rows surface (an in-place update = one delete + one
    * insert). This is the Delta CDF `table_changes` shape COMPUTED
    * rather than stored — graft trades a diff read over rewritten files
    * at CDC-query time for zero per-commit change-file writes, the
    * right side of the trade for append-mostly analytics collections.
    *
    * Both sides read under `toGen`'s schema and fill values, so the
    * consumer sees one schema across the range (columns added in the
    * range surface as their fill/null in delete rows; dropped columns
    * are absent). Requires the `fromGen` snapshot still readable:
    * replaced files must not be GC'd yet (set [[retainGenerations]] on
    * collections that serve CDC) — a reclaimed snapshot fails at scan
    * time with the missing path.
    *
    * Result: the to-schema data columns plus `_change_type`
    * (`'insert' | 'delete'`). Partition-derived columns and row ids are
    * not content (rewrites reassign them) and are excluded from the
    * diff. */
  def changes(fromGen: Long, toGen: Long): DataFrame =
    changesAs(fromGen, toGen, None)

  /** [[changes]] with the output schema pinned by the caller — the
    * streaming change feed reads every batch under its start-of-stream
    * schema ([[graft.streaming.GraftCollectionSource]]), exactly as the
    * append-mode source pins `readSchema`. */
  private[graft] def changesAs(fromGen: Long, toGen: Long,
                               pinned: Option[StructType]): DataFrame = {
    val gens = generations()
    require(gens.contains(fromGen), s"no committed generation $fromGen at $root")
    require(gens.contains(toGen), s"no committed generation $toGen at $root")
    require(fromGen <= toGen, s"fromGen $fromGen must not exceed toGen $toGen")
    val mFrom = manifestAt(fromGen)
    val mTo = manifestAt(toGen)
    val before = mFrom.files.toSet
    val after = mTo.files.toSet
    val removed = mFrom.files.filterNot(after)
    val added = mTo.files.filterNot(before)
    val toSchema = pinned.getOrElse(StructType.fromDDL(mTo.schemaDdl))
    val cols = toSchema.fieldNames.toSeq.map(col)
    // each side reads under ITS snapshot's deletion vectors: the from-
    // side sees what a fromGen reader saw, the to-side what a toGen
    // reader sees — a row DV'd before fromGen is on neither side
    def side(files: Seq[String], dvMan: Manifest): DataFrame =
      readManifestFiles(mTo, files, schemaOverride = Some(toSchema),
        dvMan = dvMan).select(cols: _*)
    val ins = side(added, mTo)
    val del = side(removed, mFrom)
    // files CARRIED across the range whose DV grew: the delta rowids
    // are rows deleted in-place inside the range — read exactly those
    // rows (a rowid semi-filter over only the touched files) as deletes.
    // DVs only grow on a carried file (shrinking = a rewrite = new
    // file), so the delta is toDv minus fromDv.
    val carried = mTo.files.filter(before)
    val dvTo = mTo.dvsForFiles(carried)
    val dvFrom = mFrom.dvsForFiles(carried)
    val dvDelta: Seq[(String, DvRef, Option[DvRef])] =
      dvTo.toSeq.collect {
        case (f, to) if !dvFrom.get(f).contains(to) => (f, to, dvFrom.get(f))
      }
    val dvDeletes =
      if (dvDelta.isEmpty) None
      else {
        val newer = DeletionVectors.rowsDf(spark, dvDelta.map(_._2),
          p => Collection.absOf(root, p))
        val older = dvDelta.flatMap(_._3) match {
          case Nil  => None
          case olds => Some(DeletionVectors.rowsDf(spark, olds,
            p => Collection.absOf(root, p)))
        }
        val deltaIds = older.fold(newer)(o =>
          newer.join(o, Seq("_zc_dv_row"), "left_anti"))
        val rightIds =
          if (dvDelta.map(_._2.count).sum <= Collection.DvBroadcastMaxRows)
            broadcast(deltaIds)
          else deltaIds
        Some(readManifestFiles(mTo, dvDelta.map(_._1),
            schemaOverride = Some(toSchema), applyDvs = false)
          .join(rightIds,
            col(Collection.RowIdCol) === col("_zc_dv_row"), "left_semi")
          .select(cols: _*))
      }
    val base = ins.exceptAll(del).withColumn(ChangeTypeCol, lit("insert"))
      .unionByName(del.exceptAll(ins).withColumn(ChangeTypeCol, lit("delete")))
    dvDeletes.fold(base)(d =>
      base.unionByName(d.withColumn(ChangeTypeCol, lit("delete"))))
  }

  /** [[changes]] from `gen` to the current head. */
  def changesSince(gen: Long): DataFrame = changes(gen, generation)

  /** Pruned scan of a snapshot ([[rebaseBranch]]'s range read): data +
    * partition-derived columns (row id dropped), all skip layers plus
    * the compiled row predicate applied. `asOfGen` pins a committed
    * snapshot — pruning then runs against that snapshot's own stats. */
  private[graft] def scanWithAst(ast: FilterExpr.Ast,
                                 asOfGen: Option[Long] = None): DataFrame = {
    val pinned = asOfGen.map { g =>
      require(generations().contains(g), s"no committed generation $g at $root")
      manifestAt(g)
    }.orNull
    prunedRaw(ast, pinned).drop(RowIdCol)
  }

  /** Read matching partitions, reference base.py:526-595. `filters` is the
    * partition-filter expression; `variables` an optional projection. The
    * result carries exactly the declared data columns (partition-derived
    * columns and `_zc_row` dropped), with the immutable dataset attached. */
  def query(filters: String = null, variables: Seq[String] = null): DataFrame = {
    val ast = FilterExpr.parse(filters)
    var df = prunedRaw(ast)
    // restore declared column order; drop derived partition cols + row id
    df = df.select(schema.fieldNames.toSeq.map(col): _*)
    df = attachImmutable(df)
    if (variables != null) df = df.select(variables.map(col): _*)
    df
  }

  /** Escape hatch to the reference's per-partition Dataset / xarray
    * shape (reference data/dataset.py:76 Dataset, dataset.py:205
    * to_xarray, collection/base.py:526 query->Dataset): ONE ROW PER
    * PARTITION carrying the partition key, the axis-dim length `n`, and
    * every requested variable as an AXIS-ORDERED array — the columnar
    * chunk a scientific caller hands to xarray/numpy, or a trainer uses
    * as a pre-windowed feature block. Arrays are ROW-ALIGNED (packed
    * from one struct sort, totally ordered by (axis, vars...)), so
    * element i of every array belongs to the same original row. Exactly
    * ONE shuffle — the partition key — and each group is memory-bounded
    * by the partitioning's own contract (the reference materializes the
    * same unit as one in-memory Dataset). [[Collection.arraysToRows]]
    * inverts it. Variables of un-orderable types (maps) are rejected —
    * project them away first. */
  def queryArrays(filters: String = null, variables: Seq[String] = null): DataFrame = {
    val dataVars = resolveArrayVars(variables)
    val ast = FilterExpr.parse(filters)
    Collection.packArrays(prunedRaw(ast), axis, partCols, dataVars)
  }

  /** Validate + resolve the variable list for [[queryArrays]]-shaped
    * packing (also the streaming incremental path,
    * [[graft.streaming.StreamOps.streamArrays]]). */
  private[graft] def resolveArrayVars(variables: Seq[String]): Seq[String] = {
    val dataVars = Option(variables)
      .map(_.filterNot(v => v == axis || partCols.contains(v)))
      .getOrElse(schema.fieldNames.toSeq.filterNot(v => v == axis || partCols.contains(v)))
    val unknown = dataVars.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty, s"unknown variable(s): ${unknown.mkString(", ")}")
    val cols = axis +: dataVars
    // "n" is the output's dim-size column; a variable of that name would
    // collide there AND be mis-dropped by arraysToRows — refuse loudly
    require(!cols.contains("n") && !partCols.contains("n"),
      "queryArrays reserves the column name 'n' for the dim size; " +
      "rename or project away the conflicting variable")
    cols.foreach { c =>
      require(org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(schema(c).dataType),
        s"variable '$c' has an un-orderable type (${schema(c).dataType.catalogString}); " +
        "project it away or convert it before queryArrays")
    }
    dataVars
  }

  private[graft] def partColumns: Seq[String] = partCols

  /** Exact row count, answered from MANIFEST METADATA whenever the
    * filter is decidable per partition — no filter is O(root) (summed
    * subtree totals, zero shard IO), a partition-key filter loads only
    * the matching subtrees' shards and sums their recorded per-file
    * counts (no scan, no Spark job). Filters touching data columns, or
    * any file without a recorded count (pre-format files — rewrite via
    * [[compact]] to upgrade), fall back to a pruned scan-count. The
    * reference answers `len()` from Zarr array metadata the same way. */
  /** Collection size in bytes from manifest metadata alone — `Some`
    * iff every file recorded a size at commit ([[backfillStats]] fills
    * legacy gaps). O(root): served entirely from the byte rollups, zero
    * shard IO, zero filesystem stats. The SQL relation surfaces it to
    * Catalyst as `sizeInBytes`, so a small registered graft table picks
    * the broadcast side of a join automatically. */
  def sizeOnDisk(): Option[Long] = currentManifest().byteTotal

  /** [[sizeOnDisk]] pinned to a committed generation (AS-OF scan
    * statistics) — `None` reads the head. */
  private[graft] def sizeOnDiskAt(at: Option[Long]): Option[Long] =
    at.map(manifestAt).getOrElse(currentManifest()).byteTotal

  def countRows(filters: String = null): Long = {
    val ast = FilterExpr.parse(filters)
    if (ast != FilterExpr.True) requireKnownNames(ast)
    countRowsMeta(ast).getOrElse(prunedRaw(ast).count())
  }

  /** The METADATA-ONLY half of [[countRows]]: the manifest row rollup
    * (unfiltered) or the per-partition recorded row counts (a filter
    * naming only partition columns, strictly evaluated against every
    * decoded partition key). `None` = the metadata cannot answer — the
    * caller decides whether to scan; the SQL aggregate pushdown refuses
    * instead, so a pushed `COUNT(*)` never hides a data scan. `at` pins
    * the answer to a committed generation (AS-OF scan statistics) —
    * `None` reads the head. */
  private[graft] def countRowsMeta(ast: FilterExpr.Ast,
                                   at: Option[Long] = None): Option[Long] = {
    val man = at.map(manifestAt).getOrElse(currentManifest())
    ast match {
      case FilterExpr.True =>
        man.shards.foldLeft(Option(0L)) { (acc, e) =>
          for (a <- acc; b <- e.rowTotal) yield a + b
        }
      case _ =>
        if (!FilterExpr.names(ast).subsetOf(partCols.toSet)) None
        else {
          // strict per-partition eval: every partition must decode, else
          // the metadata answer could silently miss rows
          val decoded = man.partitionPaths.map(p => decodePath(p).map(p -> _))
          if (decoded.exists(_.isEmpty)) None
          else {
            val wanted = decoded.flatten
              .filter { case (_, k) => partitionSelected(ast, k).getOrElse(return None) }
              .map(_._1).toSet
            val files = man.filesForPartitions(wanted)
            val touched = man.shards
              .filter(e => e.partitions.exists(p => wanted(joinPath(e.prefix, p))))
            val rowsByFile = touched.flatMap(e => man.shardData(e).rows).toMap
            // live rows: physical minus deletion-vector counts (r11) —
            // the metadata COUNT answers what a reader would see
            val dvByFile = touched.flatMap(e => man.shardData(e).dvs).toMap
            if (files.forall(rowsByFile.contains))
              Some(files.map(rowsByFile).sum -
                files.flatMap(dvByFile.get).map(_.count).sum)
            else None
          }
        }
    }
  }

  /** Operational summary of every partition, straight from the manifest
    * (the Delta `DESCRIBE DETAIL` shape): file count, row count (when
    * recorded), and the axis [min,max] merged from the per-file zone
    * maps — one DataFrame row per partition, O(shards) metadata IO and
    * no data scan. Missing stats surface as nulls, never guesses. */
  /** Per-FILE manifest inventory (the Iceberg `files` metadata-table
    * shape): root-relative path (external clone refs keep their
    * `base::rel` form), owning partition, recorded row/byte counts and
    * the commit generation that wrote it — nulls where a legacy shard
    * recorded no stat, never guesses. O(shards) metadata, zero data
    * IO at any collection size. */
  /** Per-file deleted-row counts of the current snapshot's DELETION
    * VECTORS (r11): `file ref -> rows masked`. Empty = no file carries
    * deletions. Metadata-only — the operator face of the DV layer
    * (compaction materializes and clears them). */
  def deletionVectors(): Map[String, Long] =
    currentManifest().allDvs.map { case (f, r) => f -> r.count }

  def describeFiles(): DataFrame = {
    import org.apache.spark.sql.types._
    val man = currentManifest()
    val rows = man.shards.flatMap { e =>
      val d = man.shardData(e)
      d.files.map { f =>
        org.apache.spark.sql.Row(f, parentRel(f),
          d.rows.get(f).map(Long.box).orNull,
          d.bytes.get(f).map(Long.box).orNull,
          d.gens.get(f).map(Long.box).orNull)
      }
    }
    val schemaOut = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("partition", StringType, nullable = false),
      StructField("n_rows", LongType),
      StructField("bytes", LongType),
      StructField("generation", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schemaOut)
  }

  def describePartitions(): DataFrame = {
    import org.apache.spark.sql.types._
    val man = currentManifest()
    val dom = axisDomain
    val rows = man.shards.flatMap { e =>
      val d = man.shardData(e)
      val byPart = d.files.groupBy(parentRel)
      e.partitions.map { p =>
        val full = joinPath(e.prefix, p)
        val files = byPart.getOrElse(full, Nil)
        val nRows: Any =
          if (files.nonEmpty && files.forall(d.rows.contains))
            files.map(d.rows).sum
          else null
        val nBytes: Any =
          if (files.nonEmpty && files.forall(d.bytes.contains))
            files.map(d.bytes).sum
          else null
        val axisBounds: Option[(Any, Any)] = dom.flatMap { dm =>
          val sts = files.map(f => d.stats.get(f)
            .flatMap(bc => bc.get(axis).orElse(bc.get(LegacyAxisKey)))
            .flatMap(st => for (lo <- dm.decodeStat(st.lo); hi <- dm.decodeStat(st.hi)) yield (lo, hi)))
          if (sts.isEmpty || sts.exists(_.isEmpty)) None
          else Some((
            sts.flatten.map(_._1).reduce((a, b) => if (dm.cmp(a, b) <= 0) a else b),
            sts.flatten.map(_._2).reduce((a, b) => if (dm.cmp(a, b) >= 0) a else b)))
        }
        org.apache.spark.sql.Row(
          full, files.size, nRows, nBytes,
          axisBounds.map(_._1.toString).orNull,
          axisBounds.map(_._2.toString).orNull)
      }
    }
    val schemaOut = StructType(Seq(
      StructField("partition", StringType),
      StructField("n_files", IntegerType),
      StructField("n_rows", LongType),
      StructField("bytes", LongType),
      StructField("axis_min", StringType),
      StructField("axis_max", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schemaOut)
  }

  /** Dry-run the read path's skip layers for a filter and report what
    * each one would eliminate — the "why does this query scan so much"
    * debugging tool (Delta/Iceberg expose the same counters as scan
    * metrics). Metadata-only except the bloom layer, which reads the
    * surviving candidates' footers exactly as the real query would; no
    * data pages, no Spark scan. */
  def explainPruning(filters: String = null): PruneReport = {
    val ast = FilterExpr.parse(filters)
    val man = currentManifest()
    val all = man.partitionPaths
    ast match {
      case FilterExpr.True =>
        val files = man.files.size
        PruneReport(man.shards.size, man.shards.size, all.size, all.size,
          files, files, files)
      case _ =>
        requireKnownNames(ast)
        val keyBounds = axisKeyBoundsFromFilter(ast)
        val wanted = all
          .flatMap(p => decodePath(p).map(k => (p, k)))
          .filter { case (_, k) =>
            partitionMayHoldRows(ast, k) && keyInRange(k, keyBounds)
          }
          .map(_._1).toSet
        val okShards = man.shards.filter(e => shardMayMatch(man, e, ast))
        val candidates = man.filesFromShards(okShards, wanted)
        val afterStats = pruneByStats(man, candidates, ast)
        val afterBloom = pruneByBloom(afterStats, ast, man)
        PruneReport(man.shards.size, okShards.size, all.size, wanted.size,
          candidates.size, afterStats.size, afterBloom.size)
    }
  }

  /** [min, max] of a zone-mapped column (the axis or a declared
    * `statsColumns` entry) answered from MANIFEST METADATA, in the
    * column's canonical domain (timestamps = epoch micros, dates = epoch
    * days, integrals = Long, fractionals = Double, strings = raw).
    * Unfiltered: merged root rollups, zero shard IO when every subtree
    * carries one. With a PARTITION-KEY filter: merged per-file stats of
    * exactly the matching partitions (their shards only). `None` when
    * the column isn't zone-mapped, any relevant file lacks stats, or the
    * filter isn't partition-decidable — callers then aggregate the data
    * (`query(filters).agg(min, max)`). */
  def columnBounds(name: String, filters: String = null): Option[(Any, Any)] = {
    val ast = FilterExpr.parse(filters)
    if (ast != FilterExpr.True) requireKnownNames(ast)
    columnBoundsAst(name, ast)
  }

  /** Metadata-only GROUPED count: `GROUP BY <partition components>`
    * with `COUNT(*)`, optionally under a partition-aligned filter —
    * each partition's recorded row count contributes to the group its
    * decoded key projects onto (GROUP BY month merges the months of
    * every year, as SQL says). One pass over the wanted file set;
    * `None` whenever a partition fails to decode or a file lacks a
    * recorded count — the SQL pushdown refuses instead of scanning. */
  private[graft] def groupedCountMeta(groupCols: Seq[String],
      ast: FilterExpr.Ast): Option[Seq[(Seq[Any], Long)]] =
    groupedAggMeta(groupCols, ast, Nil).map(_.map { case (g, n, _) => (g, n) })

  /** The general grouped form: per group, the summed recorded row count
    * AND, for each requested zone-mapped column, the merged per-file
    * [min, max] (in the column's canonical domain) of exactly that
    * group's partitions — `SELECT day, count(*), min(user_id) ... GROUP
    * BY day` entirely from manifest metadata. All-or-nothing: one
    * undecodable partition, uncounted file, or statless file for a
    * requested column refuses the whole answer. */
  private[graft] def groupedAggMeta(groupCols: Seq[String], ast: FilterExpr.Ast,
      boundsFor: Seq[String], at: Option[Long] = None)
      : Option[Seq[(Seq[Any], Long, Map[String, (Any, Any)])]] = {
    if (groupCols.isEmpty || !groupCols.forall(partCols.contains)) return None
    if (ast != FilterExpr.True && !FilterExpr.names(ast).subsetOf(partCols.toSet))
      return None
    val man = at.map(manifestAt).getOrElse(currentManifest())
    if (!boundsFor.forall(c => statsCols.contains(man.physName(c)))) return None
    val doms = boundsFor.map(c => c -> columnDomain(c).getOrElse(return None)).toMap
    val decoded = man.partitionPaths.map(p => decodePath(p).map(p -> _))
    if (decoded.exists(_.isEmpty)) return None
    val wanted = decoded.flatten.filter { case (_, k) =>
      ast == FilterExpr.True || partitionSelected(ast, k).getOrElse(return None) }
    val files = man.filesForPartitions(wanted.map(_._1).toSet)
    val rowsByFile = man.shards.flatMap(e => man.shardData(e).rows).toMap
    if (!files.forall(rowsByFile.contains)) return None
    // deletion vectors (r11): group COUNTS subtract per-file DV'd rows
    // (still exact); group BOUNDS over a DV'd file refuse (see
    // columnBoundsAst — its min/max row may be deleted)
    val dvByFile = man.dvsForFiles(files)
    if (boundsFor.nonEmpty && dvByFile.nonEmpty) return None
    val stats = if (boundsFor.isEmpty) Map.empty[String, Map[String, ColStat]]
                else man.statsForFiles(files)
    val byPart = files.groupBy(parentRel)
    val perPartition: Seq[(Seq[Any], Long, Map[String, (Any, Any)])] =
      wanted.map { case (p, k) =>
        // sentinel → NULL: a null-keyed partition's GROUP value is SQL
        // NULL, not the literal __HIVE_DEFAULT_PARTITION__ string
        val km = nullableKey(k)
        val fl = byPart.getOrElse(p, Nil)
        val bounds = boundsFor.map { c =>
          val dom = doms(c)
          val pairs = fl.map(f => stats.get(f)
            .flatMap(byCol => byCol.get(man.physName(c)).orElse(
              if (c == axis) byCol.get(LegacyAxisKey) else None))
            .flatMap(st => for (lo <- dom.decodeStat(st.lo);
                                hi <- dom.decodeStat(st.hi)) yield (lo, hi)))
          if (pairs.isEmpty || pairs.exists(_.isEmpty)) return None
          c -> ((
            pairs.flatten.map(_._1).reduce((a, b) => if (dom.cmp(a, b) <= 0) a else b),
            pairs.flatten.map(_._2).reduce((a, b) => if (dom.cmp(a, b) >= 0) a else b)))
        }.toMap
        (groupCols.map(km),
          fl.map(rowsByFile).sum - fl.flatMap(dvByFile.get).map(_.count).sum,
          bounds)
      }
    Some(perPartition.groupBy(_._1).toSeq.map { case (g, parts) =>
      val n = parts.map(_._2).sum
      val merged = boundsFor.map { c =>
        val dom = doms(c)
        val all = parts.map(_._3(c))
        c -> ((
          all.map(_._1).reduce((a, b) => if (dom.cmp(a, b) <= 0) a else b),
          all.map(_._2).reduce((a, b) => if (dom.cmp(a, b) >= 0) a else b)))
      }.toMap
      (g, n, merged)
    })
  }

  /** [[columnBounds]] over an already-built AST — the SQL aggregate
    * pushdown's filtered MIN/MAX entry point (names pre-checked). `at`
    * answers from a PINNED generation's own shard rollups (AS-OF
    * aggregate pushdown); files the snapshot holds without stats for
    * `name` — e.g. written before the column existed — poison the merge
    * to None, refusing rather than answering off-snapshot. */
  private[graft] def columnBoundsAst(name: String, ast: FilterExpr.Ast,
                                     at: Option[Long] = None): Option[(Any, Any)] = {
    val man = at.map(manifestAt).getOrElse(currentManifest())
    val pname = man.physName(name) // renames (r11): stats key physically
    if (!statsCols.contains(pname)) return None
    val dom = columnDomain(name).getOrElse(return None)
    def decode(st: ColStat): Option[(Any, Any)] =
      for (lo <- dom.decodeStat(st.lo); hi <- dom.decodeStat(st.hi)) yield (lo, hi)
    def merge(pairs: Seq[Option[(Any, Any)]]): Option[(Any, Any)] =
      if (pairs.isEmpty || pairs.exists(_.isEmpty)) None
      else Some((
        pairs.flatten.map(_._1).reduce((a, b) => if (dom.cmp(a, b) <= 0) a else b),
        pairs.flatten.map(_._2).reduce((a, b) => if (dom.cmp(a, b) >= 0) a else b)))
    ast match {
      case FilterExpr.True =>
        // a deletion-vectored subtree's zone maps bound a SUPERSET of
        // its live rows — sound for pruning, not exact for MIN/MAX:
        // refuse off the root rollup, zero shard IO (r11)
        if (man.shards.exists(_.dvCount > 0L)) return None
        merge(man.shards.map(_.rollup.get(pname).flatMap(decode)))
      case _ =>
        requireKnownNames(ast)
        if (!FilterExpr.names(ast).subsetOf(partCols.toSet)) return None
        val decoded = man.partitionPaths.map(p => decodePath(p).map(p -> _))
        if (decoded.exists(_.isEmpty)) return None
        val wanted = decoded.flatten
          .filter { case (_, k) => partitionSelected(ast, k).getOrElse(return None) }
          .map(_._1).toSet
        val files = man.filesForPartitions(wanted)
        if (man.dvsForFiles(files).nonEmpty) return None // see above
        val stats = man.statsForFiles(files)
        merge(files.map(f => stats.get(f)
          .flatMap(byCol => byCol.get(pname).orElse(
            if (name == axis) byCol.get(LegacyAxisKey) else None))
          .flatMap(decode)))
    }
  }

  /** Record zone maps + row counts for files committed BEFORE stats
    * existed (legacy or [[repairCatalog]]-bootstrapped trees): reads
    * only the parquet FOOTERS of files lacking entries, rebuilds their
    * shards, and commits one metadata-only generation — no data IO, and
    * afterwards [[countRows]]/[[columnBounds]]/zone-map pruning work on
    * the old files too. Returns how many files were examined (files
    * whose footers genuinely carry no usable statistics stay statless
    * and are simply never pruned). */
  def backfillStats(): Int = {
    requireWritable()
    val man = currentManifest()
    val missingByShard = man.shards.map { e =>
      val d = man.shardData(e)
      e -> d.files.filterNot(f =>
        d.stats.contains(f) && d.rows.contains(f) && d.bytes.contains(f))
    }.toMap
    val missing = missingByShard.values.flatten.toSeq
    if (missing.isEmpty) return 0
    val (stats, rows, sizes) = fileStats(missing, man.renames)
    val entries = man.shards.map { e =>
      if (missingByShard(e).isEmpty) e
      else {
        val d = man.shardData(e)
        val fileSet = d.files.toSet
        val st = (d.stats ++ stats.filter { case (f, _) => fileSet(f) }).map {
          case (f, byCol) => f -> byCol.map {
            case (LegacyAxisKey, v) => axis -> v
            case kv                 => kv
          }
        }
        val rw = d.rows ++ rows.filter { case (f, _) => fileSet(f) }
        val bw = d.bytes ++ sizes.filter { case (f, _) => fileSet(f) }
        // carry the per-file commit generations through the rebuild —
        // dropping them would silently disable schema-generation pruning
        // for every file in the backfilled shard
        val name = shardName(d.files, st, rw, d.gens, bw, d.dvs)
        writeShardIfAbsent(fs, manifestDir, name, d.files, st, rw, d.gens, bw, d.dvs)
        e.copy(file = name, rollup = rollupOf(d.files, st, man.renames),
          rowTotal = if (d.files.forall(rw.contains))
            Some(d.files.map(rw).sum - d.dvs.values.map(_.count).sum) else None,
          byteTotal = if (d.files.forall(bw.contains)) Some(d.files.map(bw).sum) else None,
          dvCount = d.dvs.values.map(_.count).sum)
      }
    }
    publish(Commit("backfill-stats", man, edit = Some(_.withShards(man.taskBase, entries))))
    missing.size
  }

  /** Filtered raw scan, pruned in three layers before Catalyst ever sees
    * a row:
    *  1. PARTITIONS against the ROOT manifest's partition table — only
    *     shards holding a matching partition load their file lists (at
    *     10^7 files a one-partition query parses one shard, not the
    *     whole manifest). Predicates over non-partition columns (e.g. an
    *     axis range) are unknown at this layer and prune nothing
    *     ([[FilterExpr.mayMatch]] — `partitions()` keeps the strict
    *     partition-only eval).
    *  2. FILES against the manifest zone maps: candidate files whose
    *     recorded axis [min,max] cannot satisfy the filter are dropped
    *     from the scan entirely — the driver never even schedules them
    *     (parquet row-group stats would also skip their CONTENT, but
    *     only after listing, opening and footer-reading every file).
    *  3. ROWS: the full filter compiles to a Catalyst predicate on top.
    */
  private[core] def prunedRaw(ast: FilterExpr.Ast, pinned: Manifest = null): DataFrame = {
    val man = if (pinned != null) pinned else currentManifest()
    val df = ast match {
      case FilterExpr.True => readRawManifest(man)
      case _ => readManifestFiles(man, pruneCandidates(man, ast))
    }
    df.where(FilterExpr.toColumn(ast))
  }

  /** The layered FILE selection of [[prunedRaw]] without the scan:
    * partition-key tolerant eval + monotonic axis-key bounds, the
    * subtree stats rollup (non-overlapping shards never load their file
    * lists), per-file zone maps, then bloom filters. Shared by the
    * DataFrame read path and the native DSv2 batch scan planner. */
  private[core] def pruneCandidates(man: Manifest, ast: FilterExpr.Ast): Seq[String] = {
    requireKnownNames(ast)
    val all = man.partitionPaths
    val keyBounds = axisKeyBoundsFromFilter(ast)
    val wanted = all
      .flatMap(p => decodePath(p).map(k => (p, k)))
      .filter { case (_, k) =>
        partitionMayHoldRows(ast, k) && keyInRange(k, keyBounds)
      }
      .map(_._1).toSet
    // layer 1.5: subtree skip by the root-resident stats ROLLUP —
    // non-overlapping shards never even load their file lists (the
    // path that stays O(matching subtrees) when the partitioning has
    // no monotonic axis derivation)
    val okShards = man.shards.filter(e => shardMayMatch(man, e, ast))
    val candidates =
      if (wanted.size == all.size && okShards.size == man.shards.size) man.files
      else man.filesFromShards(okShards, wanted)
    pruneByBloom(pruneByStats(man, candidates, ast), ast, man)
  }

  // --- native DSv2 batch-scan planning -----------------------------

  /** The committed manifest at `asOfGen`, else the head. A generation
    * this handle already parsed is served from the cache without a
    * listing; any other is checked against the committed list first. */
  private[graft] def manifestFor(asOfGen: Option[Long]): Manifest = asOfGen.map { g =>
    manifestCache.getOrElse(g, {
      require(generations().contains(g), s"no committed generation $g at $root")
      manifestAt(g)
    })
  }.getOrElse(currentManifest())

  /** A decoded partition key with the Hive null sentinel mapped to real
    * NULL — the value domain [[FilterExpr.evalPartition]] expects. Every
    * driver-side partition decision routes through this: treating the
    * sentinel as an ordinary STRING gave SQL-wrong answers on null-keyed
    * partitions (`k IS NULL` pruned the exact partition holding its
    * rows; a metadata `COUNT(*) WHERE k IS NOT NULL` counted them). */
  private def nullableKey(kvs: Seq[(String, Any)]): Map[String, Any] =
    kvs.map { case (k, v) =>
      k -> (if (v == Collection.HiveDefaultPartition) null else v)
    }.toMap

  /** Tolerant null-sound PRUNING decision: drop the partition only when
    * the predicate provably selects NO row of it — definite FALSE, or
    * uniform UNKNOWN under SQL three-valued logic (an UNKNOWN row is
    * never selected by a WHERE). Row-dependence (a data-column
    * reference) keeps the partition for the engine's re-filter — the
    * [[FilterExpr.mayMatch]] contract, made sound for NULL keys. */
  private def partitionMayHoldRows(ast: FilterExpr.Ast,
                                   kvs: Seq[(String, Any)]): Boolean =
    FilterExpr.evalPartition(ast, nullableKey(kvs)) match {
      case FilterExpr.NoRows | FilterExpr.UnknownRows => false
      case _                                          => true
    }

  /** STRICT whole-partition selection: `Some(true)` iff the predicate
    * selects every row, `Some(false)` iff it selects none (definite
    * FALSE or uniform UNKNOWN), `None` when rows could disagree — the
    * caller refuses its metadata shortcut and falls back to a scan. */
  private def partitionSelected(ast: FilterExpr.Ast,
                                kvs: Seq[(String, Any)]): Option[Boolean] =
    FilterExpr.evalPartition(ast, nullableKey(kvs)) match {
      case FilterExpr.AllRows                         => Some(true)
      case FilterExpr.NoRows | FilterExpr.UnknownRows => Some(false)
      case FilterExpr.RowDependent                    => None
    }

  /** Can `ast` be CLAIMED as fully handled by file-level pruning alone?
    * True iff it references only partition columns and every partition
    * key in the snapshot decodes and reaches a WHOLE-PARTITION verdict
    * ([[FilterExpr.evalPartition]]) — then every partition the pruning
    * keeps is an every-row-selected partition, so the engine may drop
    * its re-filter without a row ever being checked. A NULL partition
    * key no longer refuses (r10): three-valued logic decides it
    * uniformly (kept by `k IS NULL`, dropped by any ordinary
    * comparison), and [[partitionMayHoldRows]] prunes by the SAME
    * procedure, keeping claim and prune agreed. Only a genuinely
    * row-dependent verdict (an incomparable value) refuses — tolerant
    * pruning plus an engine re-filter stays the contract there. */
  private[graft] def canClaimStrict(ast: FilterExpr.Ast, asOfGen: Option[Long]): Boolean = {
    if (ast == FilterExpr.True) return false
    if (!FilterExpr.names(ast).subsetOf(partCols.toSet)) return false
    manifestFor(asOfGen).partitionPaths.forall { p =>
      decodePath(p) match {
        case Some(kvs) =>
          FilterExpr.evalPartition(ast, nullableKey(kvs)) != FilterExpr.RowDependent
        case None => false
      }
    }
  }

  /** Plan a NATIVE parquet batch scan of generation `gen`: the pruned
    * file list with per-file physical path, size, and the partition key
    * as Catalyst INTERNAL values (aligned with [[partColumns]]).
    * `limitRows` applies the LIMIT file budget: manifest-ordered files
    * are scheduled only until their recorded row counts cover the limit
    * (unknown counts simply skip the optimization — the engine's own
    * LIMIT still applies). */
  private[graft] def nativeScanPlan(ast: FilterExpr.Ast, gen: Long,
                                    limitRows: Option[Long]): Seq[Collection.NativeFile] = {
    val man = manifestFor(Some(gen))
    val selected0 = ast match {
      case FilterExpr.True => man.files
      case _               => pruneCandidates(man, ast)
    }
    val selected = limitRows match {
      case Some(n) => headFilesByRows(man, selected0, n).getOrElse(selected0)
      case None    => selected0
    }
    nativeFilesFor(man, selected)
  }

  /** [[nativeScanPlan]]'s file-metadata half for an EXPLICIT file set —
    * the DSv2 streaming source's per-micro-batch planning primitive.
    * Every key decodes from its directory value the way
    * [[org.apache.spark.sql.graftbridge.ManifestFileIndex]]'s inference
    * does on the DataFrame face
    * ([[org.apache.spark.sql.graftbridge.ParquetReadBridge.partitionValue]]). */
  private[graft] def nativeFilesFor(man: Manifest, selected: Seq[String])
      : Seq[Collection.NativeFile] = {
    val keyTypes = partCols.map(c => partitioning.colType(c, schema))
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val sizeOf = fileSizes(man, selected)
    val dvs = man.dvsForFiles(selected)
    val keyCache = scala.collection.mutable.Map.empty[String, Seq[Any]]
    selected.map { f =>
      val parent = parentRel(f)
      val key = keyCache.getOrElseUpdate(parent, {
        if (decodePath(parent).isEmpty)
          throw new IllegalStateException(s"undecodable partition path '$parent' under $root")
        parent.split("/").toSeq.zip(keyTypes).map { case (seg, t) =>
          ParquetReadBridge.partitionValue(t, seg.substring(seg.indexOf('=') + 1), zone)
        }
      })
      Collection.NativeFile(Collection.absOf(root, f), sizeOf(f), key,
        dvs.get(f).map(r => r.copy(path = Collection.absOf(root, r.path))))
    }
  }

  /** Manifest-ordered file prefix whose RECORDED LIVE row counts
    * (physical minus deletion-vectored, r11) cover `n` rows — `None`
    * when any candidate lacks a count. */
  private def headFilesByRows(man: Manifest, files: Seq[String],
                              n: Long): Option[Seq[String]] = {
    val dvByFile = man.dvsForFiles(files)
    val rowsByFile = man.shards.flatMap(e => man.shardData(e).rows).toMap
      .map { case (f, r) => f -> (r - dvByFile.get(f).map(_.count).getOrElse(0L)) }
    val take = scala.collection.mutable.ArrayBuffer.empty[String]
    var acc = 0L
    val it = files.iterator
    while (acc < n && it.hasNext) {
      val f = it.next()
      rowsByFile.get(f) match {
        case Some(r) => take += f; acc += r
        case None    => return None
      }
    }
    Some(take.toSeq)
  }

  // --- native DSv2 batch-write planning ----------------------------

  /** What the task writer needs from a pinned snapshot: the generation
    * to commit against, the row-id task base, the partition layout, the
    * codec/bloom configuration, the CHECK constraints and the column
    * renames (the writer names each renamed column's file column by its
    * physical name). */
  private def writeSpec(man: Manifest): Collection.NativeWriteSpec =
    Collection.NativeWriteSpec(
      generation = man.generation,
      taskBase = man.taskBase,
      partCols = partCols,
      identityCols = partitioning.identityCols,
      compression = profile.compression,
      zstdLevel = profile.zstdLevel,
      bloomCols = bloomColumns,
      bloomNdv = bloomNdv,
      constraints = man.constraints.toSeq.sortBy(_._1),
      renames = man.renames)

  /** Plan a NATIVE DSv2 batch write (the write-side mirror of
    * [[nativeScanPlan]]) against the head snapshot. CHECK constraints
    * ride the spec and the native tasks enforce the [[constraintGuard]]
    * NULL-passes/raise semantics per row; renamed columns ride it too.
    * A constraint added or a column renamed CONCURRENTLY with the write
    * still refuses in the rebase guard (the spec is pinned at
    * planning). */
  private[graft] def nativeWriteSpec(): Collection.NativeWriteSpec = {
    requireWritable()
    writeSpec(currentManifest())
  }

  /** Publish a native batch write's task-committed files as one atomic
    * manifest commit — [[writeAndCommit]]'s [[publish]] with the data files
    * already on disk (the [[GraftWriterFactory]] tasks reported the
    * exact set; crash/abort leftovers are unreferenced and
    * vacuum-reclaimed, the same contract as [[physicalWrite]]). Modes:
    *
    *  - `"append"` mirrors [[insertInternal]]'s Concat leg, including
    *    the post-commit auto-compaction check;
    *  - `"truncate"` mirrors [[overwrite]]: the snapshot pinned at
    *    write planning supplies the replaced-partition set, so a racing
    *    writer conflicts instead of being silently truncated;
    *  - `"dynamic"` is dynamic partition overwrite
    *    ([[MergeStrategy.Replace]] semantics): exactly the partitions
    *    this write's files landed in are replaced, everything else
    *    survives — `INSERT OVERWRITE` under
    *    `partitionOverwriteMode=dynamic`.
    *
    * `streamMark` (the native STREAMING write, r10) commits a
    * `(queryName, epochId)` high-water mark ATOMICALLY with the files —
    * the [[insertStreamBatch]] exactly-once contract on the DSv2 write
    * protocol; the rebase guard refuses a replayed epoch another run
    * already committed. */
  private[graft] def commitNativeWrite(pinnedGen: Long, newFiles: Seq[String],
                                       mode: String,
                                       replaceAst: FilterExpr.Ast = null,
                                       streamMark: Option[(String, Long)] = None): Unit = {
    requireWritable()
    val base =
      if (generation == pinnedGen) currentManifest() else manifestAt(pinnedGen)
    val (removed, op) = mode match {
      case "truncate"      => (base.partitionPaths.toSet, "overwrite")
      // the incoming dirs: pre-existing files there are dropped (and
      // GC'd), non-existent ones are a no-op — the incoming files
      // themselves are in `newFiles`, never doomed
      case "dynamic"       => (newFiles.map(parentRel).toSet, "overwrite-dynamic")
      // ANSI overwrite-by-expression: delete the rows matching the
      // predicate, insert the new rows, atomically. Sound here ONLY
      // because every partition key STRICTLY decides the predicate
      // (re-proven against the commit base — a racing commit that
      // added an undecidable partition fails loudly, never partially)
      case "replace-where" => (replaceWherePartitions(base, replaceAst).toSet, "replace-where")
      case "append"        => (Set.empty[String], "insert")
      case other => throw new IllegalArgumentException(s"unknown write mode '$other'")
    }
    publish(Commit(op, base, added = newFiles, removedPartitions = removed,
      streamMark = streamMark, taskBump = writeTasks))
    if (mode == "append") maybeAutoCompact(newFiles.map(parentRel).distinct)
  }

  /** Partitions whose every row the REPLACE WHERE predicate selects —
    * defined ONLY when each partition key decodes cleanly and the
    * four-valued [[FilterExpr.evalPartition]] reaches a whole-partition
    * verdict: then "replace these partitions" IS "delete the matching
    * rows", exactly. A NULL partition key (`__HIVE_DEFAULT_PARTITION__`)
    * is NOT a refusal: SQL three-valued logic makes a comparison
    * against it uniformly UNKNOWN, so a WHERE selects none of the
    * partition's rows (keep), while `k IS NULL`-shaped predicates
    * select all of them (replace). Only a genuinely row-dependent
    * predicate throws — row-level replace-where would need a
    * read-modify-write, which `updateWhere`/`deleteWhere` already
    * provide. Keys outside [[Collection.nativeKeyType]] refuse too:
    * decimal, double and boolean keys decode as their directory strings
    * ('1.50', 'true'), which do not compare typed against the
    * predicate's literals, so a verdict there could keep the very
    * partitions the predicate selects; timestamp keys refuse with them. */
  private[graft] def replaceWherePartitions(man: Manifest,
                                            ast: FilterExpr.Ast): Seq[String] = {
    require(ast != null && ast != FilterExpr.True, "replace-where needs a predicate")
    partCols.find(c => !Collection.nativeKeyType(partitioning.colType(c, schema)))
      .foreach { c => throw new IllegalArgumentException(
        s"REPLACE WHERE cannot decide partition key '$c' of type " +
        s"${partitioning.colType(c, schema).simpleString} — use DELETE plus INSERT") }
    man.partitionPaths.filter { p =>
      decodePath(p) match {
        case Some(kvs) =>
          val key = kvs.map { case (k, v) =>
            k -> (if (v == Collection.HiveDefaultPartition) null else v)
          }.toMap
          FilterExpr.evalPartition(ast, key) match {
            case FilterExpr.AllRows => true
            case FilterExpr.NoRows | FilterExpr.UnknownRows => false
            case FilterExpr.RowDependent => throw new IllegalArgumentException(
              s"REPLACE WHERE predicate $ast does not strictly decide " +
              s"partition '$p' — align the predicate with the partition " +
              "columns, or use UPDATE/DELETE for row-level semantics")
          }
        case None => throw new IllegalArgumentException(
          s"REPLACE WHERE cannot decide partition '$p' (undecodable " +
          "partition key)")
      }
    }
  }

  /** Read-only probe: does every current partition strictly decide
    * `ast`? (The analysis-time `canOverwrite` answer; the commit leg
    * re-proves against its own base.) */
  private[graft] def canReplaceWhere(ast: FilterExpr.Ast): Boolean =
    try { replaceWherePartitions(currentManifest(), ast); true }
    catch { case _: IllegalArgumentException => false }

  /** Delete files a FAILED native write job left behind (the
    * BatchWrite.abort contract) — best-effort, vacuum covers stragglers. */
  private[graft] def dropUncommittedFiles(files: Seq[String]): Unit =
    files.foreach(f =>
      try fs.delete(new Path(s"$root/$f"), false) catch { case _: Exception => () })

  /** Aggregate a rebuilt shard's per-file zone maps to subtree
    * granularity ([[Collection.ShardEntry]] `rollup`). A column rolls up
    * ONLY when every file carries decodable stats for it — one
    * stats-less file makes the subtree unprunable on that column. Null
    * counts sum when all files report one. */
  private def rollupOf(files: Seq[String],
                       stats: Map[String, Map[String, ColStat]],
                       renames: Map[String, String] = Map.empty): Map[String, ColStat] = {
    if (files.isEmpty || stats.size < files.size) return Map.empty
    // statsCols and the stat keys are PHYSICAL; the type domain lives
    // under the LOGICAL name (r11)
    val inverse = renames.map(_.swap)
    statsCols.flatMap { c =>
      columnDomain(inverse.getOrElse(c, c)).flatMap { dom =>
        val perFile = files.map(f => stats.get(f).flatMap(_.get(c)))
        if (perFile.exists(_.isEmpty)) None
        else {
          val sts = perFile.flatten
          val los = sts.map(st => dom.decodeStat(st.lo))
          val his = sts.map(st => dom.decodeStat(st.hi))
          if (los.exists(_.isEmpty) || his.exists(_.isEmpty)) None
          else {
            val lo = los.flatten.reduce((a, b) => if (dom.cmp(a, b) <= 0) a else b)
            val hi = his.flatten.reduce((a, b) => if (dom.cmp(a, b) >= 0) a else b)
            val nulls = sts.map(_.nulls)
            Some(c -> ColStat(lo.toString, hi.toString,
              if (nulls.forall(_.isDefined)) Some(nulls.flatten.sum) else None))
          }
        }
      }
    }.toMap
  }

  /** Could any file of this subtree satisfy the filter, judged by the
    * root-resident rollup alone (no shard IO)? Conservative: a missing
    * rollup or column keeps the subtree. */
  private def shardMayMatch(man: Manifest, e: ShardEntry, ast: FilterExpr.Ast): Boolean = {
    if (e.rollup.isEmpty) return true
    val mentioned = FilterExpr.names(ast)
    // renames (r11): rollups are keyed by the PHYSICAL (footer) name
    mentioned.toSeq.filter(c => statsCols.contains(man.physName(c))).forall { c =>
      columnDomain(c) match {
        case None => true
        case Some(dom) =>
          e.rollup.get(man.physName(c)) match {
            case Some(st) =>
              (dom.decodeStat(st.lo), dom.decodeStat(st.hi)) match {
                case (Some(lo), Some(hi)) =>
                  FilterExpr.mayMatchInterval(ast, c, lo, hi,
                    dom.decodeLit, dom.cmp, st.nulls)
                case _ => true
              }
            case None => true
          }
      }
    }
  }

  /** File-level prune for an EXPLICIT file set — the streaming source's
    * pushdown path ([[graft.streaming.GraftCollectionSource]]): a
    * micro-batch's manifest-diff files drop (1) whole partitions the
    * filter can't match (tolerant key eval + monotonic axis-key bounds,
    * like [[prunedRaw]]'s layer 1), (2) files whose zone maps can't
    * overlap, (3) files whose bloom filters prove the pinned values
    * absent. Rows still need the compiled predicate on top — this layer
    * only shrinks the scan. */
  private[graft] def pruneFilesForRead(man: Manifest, files: Seq[String],
                                       ast: FilterExpr.Ast): Seq[String] = ast match {
    case FilterExpr.True => files
    case _ =>
      val keyBounds = axisKeyBoundsFromFilter(ast)
      val keep = files.groupBy(parentRel).filter { case (p, _) =>
        decodePath(p).forall(k =>
          partitionMayHoldRows(ast, k) && keyInRange(k, keyBounds))
      }.values.flatten.toSeq.sorted
      pruneByBloom(pruneByStats(man, keep, ast), ast, man)
  }

  /** Validate that a filter references only known columns — shared by
    * the batch read path and the streaming source's pushdown option. */
  private[graft] def requireKnownNames(ast: FilterExpr.Ast): Unit = {
    val unknown = FilterExpr.names(ast) -- partCols -- schema.fieldNames
    if (unknown.nonEmpty)
      throw new FilterExpr.ParseException(
        s"unknown column(s) ${unknown.mkString(", ")}; " +
        s"have partition keys ${partCols.mkString(",")} and data columns " +
        schema.fieldNames.mkString(","))
  }

  /** Zone-map layer of [[prunedRaw]]: keep only files whose recorded
    * per-column [min,max] MAY satisfy the filter — every stats column
    * the filter mentions must admit a match (intervals intersect per
    * column). Conservative everywhere — no recorded stats, an
    * undecodable bound, or a filter not mentioning any stats column all
    * keep the file. */
  private[core] def pruneByStats(man: Manifest, files: Seq[String],
                                 ast: FilterExpr.Ast): Seq[String] = {
    val mentioned = FilterExpr.names(ast)
    // renames (r11): predicates speak LOGICAL names, recorded stats are
    // keyed by the PHYSICAL (footer) name; statsCols carries physical
    val checks = mentioned.toSeq.filter(c => statsCols.contains(man.physName(c)))
      .flatMap(c => columnDomain(c).map(c -> _))
    // SCHEMA-GENERATION layer: a file whose commit generation predates
    // an `addVariable`d column holds only nulls for it (no footer read
    // needed) — comparisons on it can't match there. A declared fill
    // makes those rows read as the fill value instead, so fills disable
    // the proof.
    val ageChecks = mentioned.toSeq
      .filter(c => man.columnSince.contains(c) && !man.fills.contains(c))
      .map(c => c -> man.columnSince(c))
    if (checks.isEmpty && ageChecks.isEmpty) return files
    val stats = if (checks.nonEmpty) man.statsForFiles(files)
                else Map.empty[String, Map[String, ColStat]]
    val gens = if (ageChecks.nonEmpty) man.gensForFiles(files)
               else Map.empty[String, Long]
    files.filter { f =>
      val statsOk = stats.get(f) match {
        case Some(byCol) =>
          checks.forall { case (c, dom) =>
            // legacy axis-only shards key their interval by sentinel
            byCol.get(man.physName(c)).orElse(
              if (c == axis) byCol.get(LegacyAxisKey) else None) match {
              case Some(st) =>
                (dom.decodeStat(st.lo), dom.decodeStat(st.hi)) match {
                  case (Some(lo), Some(hi)) =>
                    FilterExpr.mayMatchInterval(ast, c, lo, hi,
                      dom.decodeLit, dom.cmp, st.nulls)
                  case _ => true
                }
              case None => true
            }
          }
        case None => true
      }
      val ageOk = ageChecks.forall { case (c, since) =>
        gens.get(f) match {
          case Some(g) if g < since => FilterExpr.mayMatchAllNull(ast, c)
          case _                    => true
        }
      }
      statsOk && ageOk
    }
  }

  /** Bloom layer of [[prunedRaw]]: when the filter pins a declared bloom
    * column to a finite value set ([[FilterExpr.impliedValueSet]] —
    * `col == v`, `col in (...)`, including under AND/OR), test each
    * candidate file's parquet footer bloom filters and drop files where
    * EVERY row group provably contains none of the values. The skip
    * layer zone maps can't provide when a high-cardinality column's
    * values are uniformly spread across every file's [min,max].
    *
    * Each pinned value is hashed once per query. The first probe of a
    * file reads its footer and bloom pages (no data pages) and keeps
    * the file's per-row-group bitsets in a JVM-wide cache; later probes
    * of that file — from any handle, query face or thread — run in
    * memory. The cache needs no invalidation because data files are
    * immutable (a rewrite writes new names), and it is bounded by a
    * share of the heap, cleared when full. Files not yet cached are
    * read on the driver when 64 or fewer, else as one Spark job.
    * Conservative: a missing bloom, an absent column, an unhashable
    * literal, an IO failure or a filter that pins nothing keeps the
    * file. */
  private def pruneByBloom(files: Seq[String], ast: FilterExpr.Ast,
                           man: Manifest): Seq[String] = {
    if (bloomColumns.isEmpty || files.isEmpty) return files
    val mentioned = FilterExpr.names(ast)
    // renames (r11): bloom structures are keyed by the PHYSICAL name
    val checks = mentioned.toSeq.filter(c => bloomColumns.contains(man.physName(c)))
      .flatMap { c =>
      for {
        dom <- columnDomain(c)
        vs  <- FilterExpr.impliedValueSet(ast, c)
        decoded = vs.map(dom.decodeLit)
        if decoded.nonEmpty && decoded.forall(_.isDefined)
      } yield BloomCheck(man.physName(c), expectTsAdjusted(c), decoded.flatten)
    }
    if (checks.isEmpty) return files
    val rootStr = root
    lazy val conf = spark.sessionState.newHadoopConf()
    val uncached = files.filterNot(f => bloomsCached(rootStr, f, checks))
    if (uncached.size <= 64) files.filter(f => bloomMayContain(rootStr, f, checks, conf))
    else {
      val bc = spark.sparkContext.broadcast(
        new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
      val keptUncached = spark.sparkContext
        .parallelize(uncached, math.min(uncached.size, 256))
        .filter(f => bloomMayContain(rootStr, f, checks, bc.value.value))
        .collect().toSet
      val probedByJob = uncached.toSet
      files.filter(f =>
        if (probedByJob(f)) keptUncached(f) else bloomMayContain(rootStr, f, checks, conf))
    }
  }

  private def sessionZone: java.time.ZoneId =
    java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID))

  /** A column's zone-map domain (None: unsupported type — stats are
    * neither recorded nor used for it). */
  private def columnDomain(name: String): Option[AxisDomain] =
    schema.fields.find(_.name == name).flatMap(f =>
      AxisDomain.of(f.dataType, sessionZone))

  /** The axis column's zone-map domain. */
  private def axisDomain: Option[AxisDomain] = columnDomain(axis)

  /** Partition-KEY interval implied by the filter's axis bounds, when
    * the partitioning derives its key monotonically from the axis
    * ([[Partitioning.axisKeyPrefix]]) — this is what lets
    * `query("ts >= X")` prune PARTITIONS (and so load only the touched
    * shards) even though `ts` is not a partition column. None = the
    * filter doesn't bound the axis, or no monotonic derivation. */
  private def axisKeyBoundsFromFilter(
      ast: FilterExpr.Ast): Option[(Option[Seq[Long]], Option[Seq[Long]])] = {
    if (!FilterExpr.names(ast).contains(axis)) return None
    val axisType = schema.fields.find(_.name == axis).map(_.dataType).getOrElse(return None)
    val dom = axisDomain.getOrElse(return None)
    val (lo, hi) = FilterExpr.impliedInterval(ast, axis, dom.decodeLit, dom.cmp)
    def keyOf(v: Any): Option[Seq[Long]] = v match {
      case l: Long => partitioning.axisKeyPrefix(l, axisType, sessionZone)
      case _       => None
    }
    val (klo, khi) = (lo.flatMap(keyOf), hi.flatMap(keyOf))
    if (klo.isEmpty && khi.isEmpty) None else Some((klo, khi))
  }

  private def keyInRange(k: Seq[(String, Any)],
                         bounds: Option[(Option[Seq[Long]], Option[Seq[Long]])]): Boolean =
    bounds.forall { case (klo, khi) =>
      val longs = k.map(_._2).collect { case l: Long => l }
      if (longs.length != k.length) true // non-integral key values: keep
      else {
        def lex(a: Seq[Long], b: Seq[Long]): Int =
          a.zip(b).collectFirst {
            case (x, y) if x != y => java.lang.Long.compare(x, y)
          }.getOrElse(0)
        klo.forall(lex(longs, _) >= 0) && khi.forall(lex(longs, _) <= 0)
      }
    }

  /** Per-file, per-column [min,max] AND row counts of freshly written
    * files, from parquet FOOTERS only (no data pages) — one footer open
    * covers the axis, every declared `statsColumns` entry, and the row
    * total. Small commits read footers on the driver; large ones fan the
    * footer reads out as one Spark job — at a 10^7-file initial load the
    * driver never serializes on footer IO. */
  private def fileStats(newFiles: Seq[String],
                        renames: Map[String, String] = Map.empty)
      : (Map[String, Map[String, ColStat]], Map[String, Long], Map[String, Long]) = {
    // statsCols carries PHYSICAL (footer) names; type information lives
    // under the LOGICAL name — resolve through the inverse mapping (r11)
    val inverse = renames.map(_.swap)
    val cols = statsCols
      .filter(c => columnDomain(inverse.getOrElse(c, c)).isDefined)
      .map(c => (c, expectTsAdjusted(inverse.getOrElse(c, c))))
    if (newFiles.isEmpty || cols.isEmpty) return (Map.empty, Map.empty, Map.empty)
    val rootStr = root
    val triples =
      if (newFiles.size <= 64) {
        val conf = spark.sessionState.newHadoopConf()
        newFiles.map(f => footerColumnStats(rootStr, f, cols, conf))
      } else {
        // session conf (credentials/endpoints) must reach the executors;
        // broadcast once instead of serializing it into every task closure
        val bc = spark.sparkContext.broadcast(
          new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
        spark.sparkContext.parallelize(newFiles, math.min(newFiles.size, 256))
          .map(f => footerColumnStats(rootStr, f, cols, bc.value.value))
          .collect().toSeq
      }
    val usable = triples.filter(_._2.nonEmpty)
    if (usable.size < newFiles.size)
      Collection.statsLog.info(
        s"zone maps recorded for ${usable.size}/${newFiles.size} new files under " +
        s"$rootStr (files without usable footer statistics are never pruned; " +
        "failed footer reads are logged at WARN)")
    (usable.map(t => t._1 -> t._2).toMap,
     triples.flatMap(t => t._3.map(t._1 -> _)).toMap,
     triples.flatMap(t => t._4.map(t._1 -> _)).toMap)
  }

  /** Zone-map columns: the axis plus the declared hot data columns. */
  private def statsCols: Seq[String] = (axis +: statsColumns).distinct

  /** Expected parquet `isAdjustedToUTC` of a column's footer stats:
    * Some(true) = instant micros ([[org.apache.spark.sql.types.TimestampType]]),
    * Some(false) = wallclock micros (NTZ), None = not a timestamp. */
  private def expectTsAdjusted(name: String): Option[Boolean] = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    schema.fields.find(_.name == name).map(_.dataType).flatMap {
      case TimestampType    => Some(true)
      case TimestampNTZType => Some(false)
      case _                => None
    }
  }

  /** Raw scan of exactly the given partitions — loads only their shards. */
  private[core] def readPartitionsRaw(paths: Set[String]): DataFrame = {
    val man = currentManifest()
    readManifestFiles(man, man.filesForPartitions(paths))
  }

  /** Cached immutable dataset + its row count (recorded at write time —
    * attaching costs no extra job on the read path). */
  @volatile private var immutableCache: Option[(DataFrame, Long)] = null

  private def loadImmutable(): Option[(DataFrame, Long)] = {
    var c = immutableCache
    if (c == null) {
      val p = new Path(s"$root/$ImmutableDir")
      c =
        if (!fs.exists(p)) None
        else {
          val df = spark.read.parquet(p.toString)
          val metaPath = new Path(s"$root/$ImmutableDir/$ImmutableMeta")
          val n =
            if (fs.exists(metaPath)) {
              val in: java.io.InputStream = fs.open(metaPath)
              try new ObjectMapper().readValue(in, classOf[java.util.Map[String, Object]])
                .get("rows").toString.toLong
              finally in.close()
            } else df.count() // legacy layout without the meta file
          Some((df, n))
        }
      immutableCache = c
    }
    c
  }

  private def attachImmutable(df: DataFrame): DataFrame = loadImmutable() match {
    case None => df
    case Some((imm, n)) =>
      val keep = imm.columns.filterNot(df.columns.contains) // data wins on conflict
      val shared = imm.columns.filter(df.columns.contains).toSeq
      if (keep.isEmpty) df
      else if (n == 1) df.crossJoin(broadcast(imm.select(keep.toSeq.map(col): _*)))
      else if (shared.nonEmpty) df.join(broadcast(imm), shared, "left")
      else df // multi-row with no shared dimension: exposed via `immutable()`
  }

  /** The `_immutable/` dataset, if any. */
  def immutable(): Option[DataFrame] = loadImmutable().map(_._1)

  // --- listing -----------------------------------------------------

  /** Relative partition paths matching `filters`, sorted by decoded key
    * (reference base.py:302-338). Served from the manifest — never a
    * directory walk. */
  def partitions(filters: String = null): Seq[String] =
    partitionsFrom(currentManifest(), FilterExpr.parse(filters))

  /** [[partitions]] against a PINNED snapshot — read-modify-write paths
    * resolve selection, read, and commit base from one manifest. */
  private def partitionsFrom(man: Manifest, ast: FilterExpr.Ast): Seq[String] =
    man.partitionPaths
      .flatMap(p => decodePath(p).map(k => (p, k)))
      .filter { case (_, k) =>
        partitionSelected(ast, k).getOrElse(throw new FilterExpr.ParseException(
          s"filter $ast does not decide partitions of $root — it may only " +
          s"reference partition keys ${partCols.mkString(",")}")) }
      .sortWith { case ((_, a), (_, b)) => keyLess(a, b) }
      .map(_._1)

  /** Served from the ROOT manifest — zero shard IO at any scale. */
  private def partitionPaths(): Seq[String] =
    currentManifest().partitionPaths

  private def walkDataFiles(): Seq[String] = {
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return Nil
    def walk(dir: Path, depth: Int): Seq[String] = {
      val children = fs.listStatus(dir).toSeq
        .filter(_.isDirectory)
        .map(_.getPath)
        .filter(p => p.getName.contains("=") && !p.getName.startsWith("_"))
      if (depth == 1)
        children.flatMap { d =>
          fs.listStatus(d).toSeq.filter(st => st.isFile && isDataFile(st.getPath.getName))
            .map(st => s"${relativize(rootPath, d)}/${st.getPath.getName}")
        }
      else children.flatMap(c => walk(c, depth - 1))
    }
    walk(rootPath, partCols.length).sorted
  }

  /** Rebuild the manifest by walking the store — the recovery path when the
    * manifest directory was lost (reference base.py:352-375 catalog
    * repair). Trusts every data file found on disk, so run [[vacuum]]
    * BEFORE losing the manifest, not after.
    *
    * When `_manifest/` is missing or empty, a fresh manifest is
    * bootstrapped from the root config's schema. Either way the repaired
    * `taskBase` is bumped past the highest task id observed in the
    * adopted files: repair adopts orphans of crashed writes whose ids may
    * sit ABOVE the recorded high-water mark, and a later insert reusing
    * that range would silently duplicate `_zc_row` ids (corrupting
    * projected updates and view joins). One max() job over just the row-id
    * column — parquet prunes the rest. */
  def repairCatalog(): Seq[String] = {
    requireWritable()
    val walked = walkDataFiles()
    val haveManifest = fs.exists(manifestDir) && generations().nonEmpty
    // a walk of OUR tree cannot see a shallow clone's external
    // references — "repairing" from it would silently drop every
    // source-owned file from the catalog. Refuse loudly; the recovery
    // path for a damaged clone is re-cloning from its source.
    if (haveManifest && isExternalClone)
      throw new IllegalStateException(
        s"$root is a shallow clone (its manifest references files outside " +
        "this tree); repairCatalog() rebuilds from a local walk and would " +
        "drop those references — re-clone from the source instead")
    // deletion vectors are manifest state a file walk cannot see:
    // rebuilding from the walk would drop every DV ref and RESURRECT
    // the deleted rows. Compact first (materializes the DVs into clean
    // files), then repair. (r11)
    if (haveManifest && currentManifest().allDvs.nonEmpty)
      throw new IllegalStateException(
        s"$root has deletion vectors; repairCatalog() rebuilds from a " +
        "local file walk and would resurrect the deleted rows — run " +
        "compact() to materialize them first")
    val baseSchema =
      if (haveManifest) schema
      else createSchema
    val observedBase: Long =
      if (walked.isEmpty) 0L
      else {
        val m = spark.read
          .option("basePath", root)
          .schema(StructType(readSchemaFields(baseSchema)))
          .parquet(walked.map(f => s"$root/$f"): _*)
          .agg(max(col(RowIdCol))).collect().head
        if (m.isNullAt(0)) 0L else (m.getLong(0) >> 33) + 1
      }
    val entries = shardify(fs, manifestDir, walked)
    // no manifest: bootstrap over the empty generation 0 `create` writes
    val base =
      if (haveManifest) currentManifest()
      else new Manifest(0L, 0L, baseSchema.toDDL, Map.empty, Nil,
        rel => readShard(fs, manifestDir, rel))
    publish(Commit("repair", base, edit = Some(_.withShards(
      math.max(base.taskBase, observedBase), entries))))
    walked.map(parentRel).distinct.sorted
  }

  // --- drop --------------------------------------------------------

  /** Drop matching partitions: the manifest commit makes them invisible
    * atomically (reference base.py:599-634); their files are GC'd like
    * any commit's replaced files — honouring the retention window, tags
    * and live branches — and a partition directory left empty is
    * removed. */
  def dropPartitions(filters: String = null): Seq[String] = {
    requireWritable()
    // PIN one snapshot for both the selection and the commit base: a
    // commit racing new files into a doomed partition then conflicts
    // via the rebase guard instead of being silently dropped with it
    val man = currentManifest()
    dropPartitionPaths(partitionsFrom(man, FilterExpr.parse(filters)), man)
  }

  /** TTL maintenance: drop every partition whose recorded AXIS upper
    * bound is strictly below `olderThan` (a [[FilterExpr]]-style
    * literal: epoch string for timestamps, number for numeric axes) —
    * decided ENTIRELY from manifest metadata, no data IO. The root
    * rollups short-circuit whole subtrees (hi < cutoff = all doomed,
    * lo >= cutoff = none), so only boundary shards load their stats —
    * the "expire data older than X" shape when the partitioning derives
    * no key the cutoff could filter on (e.g. Sequence-partitioned
    * telemetry with a time axis). Conservative: a partition with any
    * stat-less or undecodable file is KEPT. Same atomic commit and GC
    * as [[dropPartitions]]. */
  def expirePartitions(olderThan: Any): Seq[String] = {
    requireWritable()
    val dom = axisDomain.getOrElse(throw new IllegalArgumentException(
      s"axis '$axis' (${schema(axis).dataType.catalogString}) does not support stat-based expiry"))
    val cut = dom.decodeLit(olderThan).getOrElse(throw new IllegalArgumentException(
      s"cannot interpret cutoff '$olderThan' for axis type ${schema(axis).dataType.catalogString}"))
    val man = currentManifest()
    val doomed = man.shards.flatMap { e =>
      val roll = e.rollup.get(axis)
      val rollHi = roll.flatMap(st => dom.decodeStat(st.hi))
      val rollLo = roll.flatMap(st => dom.decodeStat(st.lo))
      if (rollHi.exists(hi => dom.cmp(hi, cut) < 0))
        e.partitions.map(joinPath(e.prefix, _)) // whole subtree expired
      else if (rollLo.exists(lo => dom.cmp(lo, cut) >= 0))
        Nil // whole subtree current — zero shard IO
      else {
        val d = man.shardData(e)
        d.files.groupBy(parentRel).toSeq.collect {
          case (p, fl) if fl.nonEmpty && fl.forall { f =>
            d.stats.get(f)
              .flatMap(bc => bc.get(axis).orElse(bc.get(LegacyAxisKey)))
              .flatMap(st => dom.decodeStat(st.hi))
              .exists(hi => dom.cmp(hi, cut) < 0)
          } => p
        }
      }
    }.sorted
    dropPartitionPaths(doomed, man)
  }

  private def dropPartitionPaths(doomed: Seq[String], man: Manifest): Seq[String] = {
    if (doomed.isEmpty) return doomed
    publish(Commit("drop-partitions", man, removedPartitions = doomed.toSet))
    // prune the directories the GC emptied, up to the root; pinned files
    // and unlisted ones (crash orphans, left to vacuum's grace-gated
    // sweep) keep theirs. Under a retention window nothing was deleted.
    val rootPath = new Path(root)
    if (retainGenerations == 0) doomed.foreach { rel =>
      var dir = new Path(s"$root/$rel")
      try while (dir != null && dir != rootPath && fs.exists(dir) &&
                 fs.listStatus(dir).isEmpty) {
        fs.delete(dir, false)
        dir = dir.getParent
      } catch { case _: Exception => () } // cosmetic: the commit has landed
    }
    doomed
  }

  // --- map / update ------------------------------------------------

  /** Apply `fn` to each matching partition's dataset ON THE DRIVER, one
    * partition at a time — mirrors reference base.py:638-696 but runs
    * |partitions| sequential Spark jobs. For distributed per-partition
    * work ALWAYS prefer [[transformPartitions]] (or a `groupBy` over the
    * partition columns); this method exists for API parity and small
    * partition counts only — it refuses more than `maxPartitions`
    * sequential jobs rather than silently degrading into a 10^6-job loop. */
  def map[A](fn: DataFrame => A, filters: String = null,
             variables: Seq[String] = null,
             maxPartitions: Int = 1024): Seq[(String, A)] = {
    val man = currentManifest()
    val parts = partitionsFrom(man, FilterExpr.parse(filters))
    // loads only the matching partitions' shards
    val byPart = man.filesForPartitions(parts.toSet).groupBy(parentRel)
    require(parts.size <= maxPartitions,
      s"map() would run ${parts.size} sequential driver-side jobs (> $maxPartitions); " +
      "use transformPartitions for distributed per-partition work, or raise maxPartitions")
    parts.map { p =>
      // the snapshot read: deletion vectors, renames and fills apply
      val df = readManifestFiles(man, byPart(p))
        .select(schema.fieldNames.toSeq.map(col): _*)
      // variables whitelist (reference map(..., variables=)): projection
      // after the immutable merge, so immutable columns are selectable;
      // parquet column pruning keeps the physical read to the subset
      val loaded = attachImmutable(df)
      p -> fn(if (variables != null) loaded.select(variables.map(col): _*) else loaded)
    }
  }

  /** Distributed per-partition transform: `fn` sees data + partition
    * columns; the result streams through Catalyst untouched. */
  def transformPartitions(fn: DataFrame => DataFrame, filters: String = null): DataFrame = {
    val ast = FilterExpr.parse(filters)
    fn(prunedRaw(ast).drop(RowIdCol))
  }

  /** Read matching partitions, apply `fn`, write the result back —
    * rewriting ONLY the touched partitions (reference base.py:698-794;
    * like the reference, `fn` must not move rows across partitions).
    *
    * When `variables` is given, `fn` sees `(partition cols, _zc_row,
    * variables)` and may only change the variables; the remaining columns
    * are carried through unchanged by re-joining on the per-partition
    * stable key `(partition cols, _zc_row)` — co-partitioned, and safe
    * even when the touched partitions were written by different insert
    * commits (row ids are only unique WITHIN a partition). */
  def update(
      fn: DataFrame => DataFrame,
      filters: String = null,
      variables: Seq[String] = null,
  ): Seq[String] = updateInternal(fn, filters, variables, rewrite = false)

  private def updateInternal(
      fn: DataFrame => DataFrame,
      filters: String,
      variables: Seq[String],
      rewrite: Boolean,
  ): Seq[String] = {
    requireWritable()
    val ast = FilterExpr.parse(filters)
    // PIN one snapshot for partition selection, the row read, and the
    // commit base: a concurrent commit to a touched partition then
    // conflicts (rebaseGuard) instead of being erased by the rewrite
    val man = currentManifest()
    val touched = partitionsFrom(man, ast)
    val prunedDf = prunedRaw(ast, man)
    val out: DataFrame =
      if (variables == null) {
        val pruned = prunedDf.select(schema.fieldNames.toSeq.map(col): _*)
        fn(attachImmutable(pruned)).select(schema.fieldNames.toSeq.map(col): _*)
      } else {
        require(variables.nonEmpty, "variables must be non-empty when given")
        require(!variables.exists(v => partCols.contains(v) || v == axis),
          "cannot update the axis or a partition column in place")
        val keyCols = partCols :+ RowIdCol
        val loaded = prunedDf.select((keyCols ++ variables).map(col): _*)
        val updated = fn(attachImmutable(loaded))
          .select((keyCols ++ variables).map(col): _*)
        // identity partitionings list partition cols among the data cols —
        // they are already in keyCols, so exclude them from the remainder
        val rest = prunedDf.select(
          (keyCols ++ schema.fieldNames
            .filterNot(n => variables.contains(n) || keyCols.contains(n))).map(col): _*)
        rest.join(updated, keyCols)
          .select(schema.fieldNames.toSeq.map(col): _*)
      }
    writeAndCommit(partitioning.assign(out), Commit(if (rewrite) "compact" else "update",
      man, removedPartitions = touched.toSet, rewrite = rewrite))
    touched
  }

  /** Row-level DELETE (SQL `DELETE WHERE` semantics: rows where the
    * predicate is TRUE are removed; FALSE and NULL rows stay). The
    * rewrite is FILE-granular: partitions prune by tolerant key eval,
    * then the skip layers (zone maps, blooms, schema generations) prove
    * which files cannot hold a matching row — those carry over into the
    * new manifest UNTOUCHED, so delete cost is proportional to the
    * affected file set, not the collection (the Delta/Iceberg DELETE
    * shape: at 100 TB a targeted purge — a PII removal, a contaminated-
    * document takedown — rewrites only files whose stats admit a match).
    * One atomic commit pinned to the read snapshot; a concurrent commit
    * into the same partitions conflicts via the rebase guard. Rewritten
    * rows get fresh row ids (views must re-run `update`; tailing streams
    * see survivors of rewritten files re-delivered, like `update`).
    * Returns the files that were rewritten or removed. */
  def deleteWhere(filters: String): Seq[String] =
    deleteWhereAst(FilterExpr.parse(filters))

  /** [[deleteWhere]] over an already-built AST — the SQL `DELETE FROM`
    * entry point ([[graft.sources.GraftTable]] translates Catalyst
    * predicates to the same [[FilterExpr]] domain EXACTLY, or refuses
    * the pushdown). */
  private[graft] def deleteWhereAst(ast: FilterExpr.Ast): Seq[String] = {
    require(ast != FilterExpr.True,
      "deleteWhere requires a filter — dropPartitions() drops whole partitions")
    requireKnownNames(ast)
    deleteWhereCols(FilterExpr.toColumn(ast), ast)
  }

  /** Partition + skip-layer candidate file set for a PRUNING ast:
    * tolerant three-valued partition eval (the predicate may mention
    * data columns), then the file-level skip layers — like
    * [[prunedRaw]]. Shared by the row-level DELETE/UPDATE rewrites. */
  private def candidateFiles(man: Manifest, ast: FilterExpr.Ast): Seq[String] = {
    val keyBounds = axisKeyBoundsFromFilter(ast)
    val parts = man.partitionPaths
      .flatMap(p => decodePath(p).map(k => (p, k)))
      .filter { case (_, k) => partitionMayHoldRows(ast, k) && keyInRange(k, keyBounds) }
      .map(_._1)
    if (parts.isEmpty) Nil
    else pruneFilesForRead(man, man.filesForPartitions(parts.toSet), ast)
  }

  /** [[deleteWhereAst]] generalized to an ARBITRARY row predicate — the
    * SQL `DELETE FROM` fallback when the predicate exceeds the
    * [[FilterExpr]] exact-translation domain. `cond` (full Spark Column
    * expressiveness) decides row fate EXACTLY; `pruneAst` — any sound
    * WEAKENING of `cond` (its TRUE rows ⊇ cond's) — feeds the skip
    * layers, so files the weakened form rules out carry BY NAME and only
    * candidate files are read and rewritten. `FilterExpr.True` is a
    * legal (prune-nothing) weakening. */
  /** @param augment applied to every read of the affected files BEFORE
    *        `cond` evaluates — the SQL-DML subquery hook (r11): an
    *        uncorrelated `IN (SELECT ...)` becomes a left-join-computed
    *        three-valued flag column `cond` references. Must be
    *        row-preserving on the frame's own rows (joins may only add
    *        columns) and is projected away by the schema select. */
  private[graft] def deleteWhereCols(cond: Column, pruneAst: FilterExpr.Ast,
      augment: DataFrame => DataFrame = identity): Seq[String] = {
    requireWritable()
    val man = currentManifest()
    val affected = candidateFiles(man, pruneAst)
    if (affected.isEmpty) return Nil
    if (dvEnabled) collectVictims(man, affected, cond, augment) match {
      case Some(victims) if victims.isEmpty => return Nil // no-op delete: no commit
      case Some(victims) =>
        // DELETION-VECTOR delete (r11): cost ∝ deleted rows. Per-file
        // adaptive — files past the DV caps join the rewrite leg of the
        // SAME atomic commit (the heavy-delete regime where a rewrite
        // is the cheaper plan anyway, and compaction-by-delete is free).
        val (light, heavy) = planDv(man, victims)
        if (light.isEmpty && heavy.isEmpty) return Nil // fully covered already
        val dvRefs =
          if (light.isEmpty) Map.empty[String, DvRef]
          else DeletionVectors.write(fs, root, light)
        if (heavy.nonEmpty) {
          val keep = augment(readManifestFiles(man, heavy))
            .where(!(cond <=> lit(true)))
            .select(schema.fieldNames.toSeq.map(col): _*)
          writeAndCommit(partitioning.assign(keep), Commit("delete", man,
            removedFiles = heavy.toSet, dvEdits = dvRefs))
        } else publish(Commit("delete", man, dvEdits = dvRefs))
        return (light.map(_._1) ++ heavy).sorted
      case None => () // over the collect budget: full rewrite below
    }
    val keep = augment(readManifestFiles(man, affected))
      .where(!(cond <=> lit(true)))
      .select(schema.fieldNames.toSeq.map(col): _*)
    writeAndCommit(partitioning.assign(keep),
      Commit("delete", man, removedFiles = affected.toSet))
    affected
  }

  /** Is this collection DELETION-VECTOR enabled? (the create-time
    * `graft.deletionVectors` attr — off, every row-level mutation keeps
    * the classic file rewrite). */
  private def dvEnabled: Boolean =
    attrs.get(Collection.DvEnabledAttr).exists(_.toBoolean)

  /** How many rows the last victim scan's collect returned — ONE per
    * touched file by construction (r12); exposed for the spec's
    * bounded-driver-rows assertion. */
  @volatile private[graft] var lastVictimScanDriverRows: Int = -1

  /** Spec seam: runs between the victim scan's count pass and its id
    * pass (no-op in production) — lets a test mutate what an `augment`
    * reads mid-scan to exercise the consistency fallback. */
  @volatile private[graft] var victimPassBarrier: () => Unit = () => ()

  /** Did the last victim scan's id pass DISAGREE with its count pass
    * (r14, the r13 advice)? True = the scan refused (fell back to the
    * single-evaluation rewrite path). */
  @volatile private[graft] var lastVictimPassMismatch: Boolean = false

  /** Victim scan for the DV write path: each affected file's rowids
    * matching `cond` — PHYSICAL read (an already-DV'd row may
    * re-collect; the union is idempotent) so `input_file_name()` rides
    * a join-free scan stage, and BOUNDED: `None` = more than
    * [[Collection.DvMaxTotalRows]] matches, the regime where the
    * classic rewrite wins (same gated-driver-pass shape as the dedup
    * union-find).
    *
    * r12 (the r11 verdict's driver-memory item): victims aggregate ON
    * THE EXECUTORS into one row per file, so the driver receives
    * ~file-count rows of primitive arrays instead of one Row per victim.
    *
    * r13 (the r12 advice's buffer item): TWO bounded passes instead of
    * one unbounded-buffer aggregation. Pass 1 counts matches per file —
    * constant aggregation state, no id buffering — which (a) aborts the
    * over-budget regime after a count-only scan (the old
    * `limit(cap+1)` early exit, restored without a row-object ship) and
    * (b) classifies files past [[Collection.DvMaxPerFile]] as heavy up
    * front (their exact id lists are never needed — [[planDv]] decides
    * on length alone, so they get a synthetic over-cap array). Pass 2
    * collects sorted rowids ONLY for the light files, where the
    * `collect_list` buffer is ≤ DvMaxPerFile per group BY CONSTRUCTION —
    * the previous single pass buffered every match of a 50M-victim file
    * in one aggregation buffer before the slice truncated the ship. */
  private def collectVictims(man: Manifest, affected: Seq[String],
                             cond: Column,
                             augment: DataFrame => DataFrame = identity)
      : Option[Map[String, Array[Long]]] = {
    val byAbs = affected
      .map(f => DeletionVectors.pathKey(new Path(absOf(root, f))) -> f).toMap
    // input_file_name() is URL-encoded: decode before the lookup, or a
    // partition path holding a space, ':' or '%' never matches
    def fileOf(r: org.apache.spark.sql.Row): String =
      byAbs(new java.net.URI(r.getString(0)).getPath)
    // file provenance is stamped BEFORE `augment`: input_file_name()
    // refuses plans with a second source (the subquery flag join), and
    // stamping in the scan-stage projection is also what keeps it exact
    def victimsOf(files: Seq[String]) = augment(
      readManifestFiles(man, files, applyDvs = false)
        .withColumn("_zc_f", input_file_name()))
      .where(cond <=> lit(true))
    // an `augment` join the planner chose to SHUFFLE loses per-task file
    // lineage (input_file_name comes back empty) — fall back to the
    // rewrite path rather than guessing provenance
    def provenanceLost(rows: Array[org.apache.spark.sql.Row]): Boolean =
      rows.exists(r => r.isNullAt(0) || r.getString(0).isEmpty ||
        !byAbs.contains(new java.net.URI(r.getString(0)).getPath))
    lastVictimPassMismatch = false
    // r15 (the r14 advice): pass 1 also folds a constant-state XOR
    // checksum of the matched rowids per file, so pass 2 can detect an
    // augment-over-mutable-state that changes WHICH rows match while
    // keeping each file's count equal (a count-only comparison would
    // commit pass-2 ids against a pass-1 heavy/light split).
    val counts = victimsOf(affected)
      .groupBy(col("_zc_f")).agg(count(lit(1)).as("_zc_n"),
        expr(s"bit_xor(`${Collection.RowIdCol}`)").as("_zc_x"))
      .collect()
    lastVictimScanDriverRows = counts.length
    victimPassBarrier()
    if (counts.iterator.map(_.getLong(1)).sum > Collection.DvMaxTotalRows) return None
    if (provenanceLost(counts)) return None
    val byFile = counts.map(r => fileOf(r) -> r.getLong(1)).toMap
    val xorByFile = counts.map(r => fileOf(r) -> r.getLong(2)).toMap
    val lightFiles = byFile.collect {
      case (f, n) if n <= Collection.DvMaxPerFile => f
    }.toSeq.sorted
    // heavy files: planDv classifies on length alone past the cap, so a
    // synthetic distinct over-cap array stands in for the never-needed list
    val heavyEntries = byFile.collect {
      case (f, n) if n > Collection.DvMaxPerFile =>
        f -> Array.tabulate(Collection.DvMaxPerFile + 1)(_.toLong)
    }
    val lightEntries: Map[String, Array[Long]] =
      if (lightFiles.isEmpty) Map.empty
      else {
        val rows = victimsOf(lightFiles)
          .groupBy(col("_zc_f"))
          .agg(sort_array(collect_list(col(Collection.RowIdCol))).as("_zc_ids"))
          .collect()
        if (provenanceLost(rows)) return None
        val got = rows.map(r => fileOf(r) -> r.getSeq[Long](1).toArray).toMap
        // r14 (r13 advice): the two passes are separate jobs — an
        // `augment` over mutable external state (a swapped temp view, a
        // rewritten upstream table) can answer differently in each. A
        // light file whose id list disagrees with its count — or that
        // vanished entirely — would silently drop victims; refuse and
        // fall back to the rewrite path, which evaluates cond/augment
        // exactly once. r15: the comparison is count AND rowid-XOR
        // checksum, so equal-count-different-membership drifts are also
        // caught (an XOR collision remains theoretically possible; the
        // rewrite path stays the authoritative single-evaluation plan).
        if (lightFiles.exists { f =>
              !got.get(f).exists(ids => ids.length == byFile(f) &&
                ids.foldLeft(0L)(_ ^ _) == xorByFile(f))
            }) {
          lastVictimPassMismatch = true
          return None
        }
        got
      }
    Some(lightEntries ++ heavyEntries)
  }

  /** Merge new victims with each file's existing DV (driver-side
    * section reads, bounded by the caps that wrote them) and classify:
    * light files keep a (merged) DV, files past [[Collection
    * .DvMaxPerFile]] or [[Collection.DvMaxFraction]] of their physical
    * rows go to the rewrite leg. */
  private def planDv(man: Manifest, victims: Map[String, Array[Long]])
      : (Seq[(String, Array[Long])], Seq[String]) = {
    val existing = man.dvsForFiles(victims.keys.toSeq)
    val phys = man.rowsForFiles(victims.keys.toSeq)
    val conf = spark.sessionState.newHadoopConf()
    val light = Seq.newBuilder[(String, Array[Long])]
    val heavy = Seq.newBuilder[String]
    victims.toSeq.sortBy(_._1).foreach { case (f, ids) =>
      val merged: Array[Long] = existing.get(f) match {
        case Some(ref) =>
          (DeletionVectors.readSection(conf, absOf(root, ref.path), ref).toSet
            ++ ids).toArray
        case None => ids.distinct
      }
      // victims already covered by the existing DV (the physical victim
      // scan re-collects them): nothing changed for this file — skip it,
      // so a fully-covered re-delete is a true no-op (no commit at all)
      val unchanged = existing.get(f).exists(_.count == merged.length)
      if (unchanged) ()
      else if (merged.length > Collection.DvMaxPerFile ||
          phys.get(f).exists(n => merged.length > Collection.DvMaxFraction * n))
        heavy += f
      else light += f -> merged
    }
    (light.result(), heavy.result())
  }

  /** Row-level UPDATE (SQL `UPDATE ... SET ... WHERE` semantics): rows
    * where the predicate is TRUE get `assignments` applied (column →
    * SQL expression over the row's columns); FALSE and NULL rows — and
    * every row of every file the skip layers prove cannot match — are
    * carried through untouched. Like [[deleteWhere]] the rewrite is
    * FILE-granular: update cost is proportional to the file set whose
    * stats admit a match, not the collection (the Delta/Iceberg UPDATE
    * shape — at 100 TB a targeted correction rewrites a handful of
    * files). Assignments preserve each column's type; the axis and
    * partition columns cannot be assigned (rows never migrate across
    * partitions — same contract as [[update]]). One atomic commit pinned
    * to the read snapshot; rewritten rows get fresh row ids (views must
    * re-run `update`). Returns the rewritten files. */
  def updateWhere(filters: String, assignments: Map[String, String]): Seq[String] = {
    val ast = FilterExpr.parse(filters)
    require(ast != FilterExpr.True,
      "updateWhere requires a filter — update() rewrites whole partitions")
    requireKnownNames(ast)
    updateWhereCols(FilterExpr.toColumn(ast), ast,
      assignments.view.mapValues(expr).toMap)
  }

  /** [[updateWhere]] generalized to an ARBITRARY row predicate and
    * Column-typed assignments — the SQL `UPDATE` entry point. `cond`
    * decides which rows take the assignments EXACTLY (TRUE rows only;
    * FALSE/NULL carry); `pruneAst` is any sound WEAKENING of `cond`
    * for the skip layers ([[FilterExpr.True]] = prune nothing, e.g. an
    * unconditional `UPDATE t SET ...`). */
  private[graft] def updateWhereCols(cond: Column, pruneAst: FilterExpr.Ast,
                                     assignments: Map[String, Column],
                                     augment: DataFrame => DataFrame = identity): Seq[String] = {
    requireWritable()
    require(assignments.nonEmpty, "updateWhere requires at least one assignment")
    assignments.keys.foreach { k =>
      require(schema.fieldNames.contains(k), s"unknown column in assignment: $k")
      require(!partCols.contains(k) && k != axis,
        "cannot update the axis or a partition column in place")
    }
    val man = currentManifest()
    val affected = candidateFiles(man, pruneAst)
    if (affected.isEmpty) return Nil
    val matches = cond <=> lit(true)
    def rewriteAll(df: DataFrame): DataFrame =
      df.select(schema.fieldNames.toSeq.map { n =>
        assignments.get(n) match {
          case Some(e) =>
            when(matches, e.cast(df.schema(n).dataType)).otherwise(col(n)).as(n)
          case None => col(n)
        }
      }: _*)
    if (dvEnabled) collectVictims(man, affected, cond, augment) match {
      case Some(victims) if victims.isEmpty => return Nil // no-op update
      case Some(victims) =>
        // DV UPDATE (r11) = delete-old + append-updated, the Delta-DV
        // shape: light files DV their matched rowids and the updated
        // COPIES (read under the current DV mask, so a previously
        // deleted row can never resurrect as a copy) append with fresh
        // row ids; heavy files take the classic in-place rewrite. One
        // atomic commit either way.
        val (light, heavy) = planDv(man, victims)
        if (light.isEmpty && heavy.isEmpty) return Nil // only DV'd rows matched
        val dvRefs =
          if (light.isEmpty) Map.empty[String, DvRef]
          else DeletionVectors.write(fs, root, light)
        val legs = Seq(
          if (light.isEmpty) None else Some {
            val df = augment(readManifestFiles(man, light.map(_._1))).where(matches)
            df.select(schema.fieldNames.toSeq.map { n =>
              assignments.get(n) match {
                case Some(e) => e.cast(df.schema(n).dataType).as(n)
                case None    => col(n)
              }
            }: _*)
          },
          if (heavy.isEmpty) None
          else Some(rewriteAll(augment(readManifestFiles(man, heavy))))
        ).flatten
        writeAndCommit(partitioning.assign(legs.reduce(_ union _)),
          Commit("update", man, removedFiles = heavy.toSet, dvEdits = dvRefs))
        return (light.map(_._1) ++ heavy).sorted
      case None => () // over the collect budget: full rewrite below
    }
    val out = rewriteAll(augment(readManifestFiles(man, affected)))
    writeAndCommit(partitioning.assign(out),
      Commit("update", man, removedFiles = affected.toSet))
    affected
  }

  /** General MERGE (Delta/Iceberg `MERGE INTO` shape): join `source`
    * against the collection on `on` equality (SQL semantics — NULL keys
    * never match) and, in ONE atomic commit:
    *   - matched target rows get `whenMatched` (replace with the source
    *     row, assign expressions, or delete);
    *   - unmatched target rows carry through — or take
    *     `notMatchedBySource` (delete/assign: the ANSI `WHEN NOT
    *     MATCHED BY SOURCE` sync leg; anything but Keep makes the
    *     rewrite full-table, see [[WhenNotMatchedBySource]]);
    *   - unmatched source rows insert (`insertUnmatched = false` drops
    *     them).
    *
    * FILE-granular like [[deleteWhere]]/[[updateWhere]]: the source's
    * per-key [min,max] bounds compile to a range filter and the skip
    * layers prove which files cannot hold a matching key — everything
    * else carries over BY NAME. Declare the merge keys in
    * `statsColumns` at create time or the prune has nothing to cut and
    * the merge rewrites every candidate partition (the same contract as
    * Delta's file-pruning MERGE). The rewrite join is a full-outer over
    * ONLY the affected files plus the source — its shuffle is bounded
    * by the source key spread, not the collection.
    *
    * `source` must carry the collection's full schema. It must be
    * UNIQUE on the key columns (checked; ambiguous multi-match MERGE is
    * an error, as in ANSI/Delta). [[WhenMatched.Update]] expressions
    * may reference target columns as `t.<col>` and source columns as
    * `s.<col>`; assigned columns keep their types; the axis and
    * partition columns cannot be assigned (inserted rows, by contrast,
    * land wherever their own axis says). Returns the rewritten files. */
  /** @param insertGate CONDITIONAL insert (r11b): with `insertUnmatched`,
    *        only unmatched source rows satisfying this predicate insert
    *        (SQL's `WHEN NOT MATCHED AND <cond> THEN INSERT`; NULL =
    *        skip). The condition must reference source columns as
    *        `s.<name>` — there IS no target row in that leg.
    * @param insertProjection EXPLICIT-COLUMN insert (r12): SQL's
    *        `WHEN NOT MATCHED THEN INSERT (cols) VALUES (exprs)` — each
    *        inserted row's target column takes its mapped expression
    *        (source columns as `s.<name>`); UNMAPPED target columns
    *        insert NULL (the ANSI/Delta contract). With a projection the
    *        source need NOT carry the collection's schema — only the
    *        `on` keys (by name) plus whatever the matched legs and the
    *        projection reference. `None` = whole-row insert (the
    *        pre-r12 contract: source carries the full schema). */
  def mergeInto(source: DataFrame, on: Seq[String],
                whenMatched: WhenMatched = WhenMatched.UpdateAll,
                insertUnmatched: Boolean = true,
                notMatchedBySource: WhenNotMatchedBySource =
                  WhenNotMatchedBySource.Keep,
                insertGate: Option[Column] = None,
                insertProjection: Option[Map[String, Column]] = None): Seq[String] =
    mergeIntoInternal(source, on, whenMatched, insertUnmatched, None,
      notMatchedBySource, insertGate, insertProjection)

  /** [[mergeInto]] carrying a streaming batch mark: the batch id commits
    * ATOMICALLY with the merge (the [[insertStreamBatch]] idempotent-sink
    * contract), so a foreachBatch replay of an already-merged batch is
    * detected by [[streamHighWaterMark]] and skipped — exactly-once
    * incremental view maintenance. */
  private[graft] def mergeIntoInternal(source: DataFrame, on: Seq[String],
                whenMatched: WhenMatched,
                insertUnmatched: Boolean,
                streamMark: Option[(String, Long)],
                bySource: WhenNotMatchedBySource =
                  WhenNotMatchedBySource.Keep,
                insertGate: Option[Column] = None,
                insertProjection: Option[Map[String, Column]] = None): Seq[String] = {
    requireWritable()
    require(on.nonEmpty, "mergeInto requires at least one key column")
    on.foreach(k => require(schema.fieldNames.contains(k), s"unknown key column: $k"))
    insertProjection.foreach(_.keys.foreach(k => require(
      schema.fieldNames.contains(k), s"unknown column in INSERT projection: $k")))
    def checkAssigned(ks: Iterable[String]): Unit = ks.foreach { k =>
      require(schema.fieldNames.contains(k), s"unknown column in assignment: $k")
      require(!partCols.contains(k) && k != axis,
        "cannot update the axis or a partition column in place")
      require(!on.contains(k), s"cannot assign merge key '$k'")
    }
    whenMatched match {
      case WhenMatched.UpdateCols(as, _) => checkAssigned(as.keys)
      case WhenMatched.Update(as, _) =>
        require(as.nonEmpty, "WhenMatched.Update requires at least one assignment")
        checkAssigned(as.keys)
      case _ => ()
    }
    bySource match {
      case WhenNotMatchedBySource.Update(as, _) =>
        require(as.nonEmpty, "WhenNotMatchedBySource.Update requires an assignment")
        checkAssigned(as.keys)
      case _ => ()
    }
    // with an explicit-column INSERT projection the source keeps ITS OWN
    // columns (the projection and the matched legs reference them by
    // `s.<name>`); whole-row merges align to the target schema up front
    val src = insertProjection match {
      case None    => source.select(schema.fieldNames.toSeq.map(col): _*)
      case Some(_) => source
    }
    // One source pass: duplicate-key guard + per-key bounds for pruning.
    val keysNonNull = on.map(col(_).isNotNull).reduce(_ && _)
    val aggs =
      sum(when(keysNonNull, 1L).otherwise(0L)).as("_zc_n") +:
      count_distinct(col(on.head), on.tail.map(col): _*).as("_zc_nk") +:
      on.flatMap(k => Seq(min(col(k)).as(s"_zc_lo_$k"), max(col(k)).as(s"_zc_hi_$k")))
    val srow = src.agg(aggs.head, aggs.tail: _*).collect()(0)
    require(srow.getLong(0) == srow.getLong(1),
      s"mergeInto source must be unique on (${on.mkString(", ")}): " +
      s"${srow.getLong(0)} keyed rows, ${srow.getLong(1)} distinct keys")
    // Source key bounds → a range ast the file skip layers understand.
    // Non-literal-typed keys (e.g. timestamps) contribute no constraint.
    def lit2(v: Any): Option[Any] = v match {
      case i: Int    => Some(i.toLong)
      case l: Long   => Some(l)
      case s: String => Some(s)
      case d: Double => Some(d)
      case f: Float  => Some(f.toDouble)
      case _         => None
    }
    val ranges: Seq[FilterExpr.Ast] = on.flatMap { k =>
      val lo = Option(srow.getAs[Any](s"_zc_lo_$k")).flatMap(lit2)
      val hi = Option(srow.getAs[Any](s"_zc_hi_$k")).flatMap(lit2)
      for (l <- lo; h <- hi) yield FilterExpr.And(
        FilterExpr.Cmp(">=", FilterExpr.Name(k), FilterExpr.Lit(l)),
        FilterExpr.Cmp("<=", FilterExpr.Name(k), FilterExpr.Lit(h)))
    }
    val ast = ranges.reduceOption(FilterExpr.And).getOrElse(FilterExpr.True)
    val man = currentManifest()
    val affected =
      // NOT MATCHED BY SOURCE puts EVERY target row in play: no file can
      // prove "none of my rows lack a source match" from stats alone, so
      // the rewrite is full-table (Delta's cost contract for the clause)
      if (bySource != WhenNotMatchedBySource.Keep) man.files
      else if (srow.getLong(0) == 0L) Nil // all-null-key source: nothing matches
      else pruneFilesForRead(man, man.files, ast)
    if (affected.isEmpty && !insertUnmatched) return Nil
    // DELETION-VECTOR merge (r11): on DV-enabled collections with the
    // Keep sync leg, matched rows DV out of light files and their new
    // versions append — merge cost follows the MATCHED set, not the
    // affected files. Heavy files and every out-of-model shape keep the
    // classic rewrite below.
    if (dvEnabled && bySource == WhenNotMatchedBySource.Keep &&
        affected.nonEmpty && srow.getLong(0) > 0L) {
      mergeDv(man, src, on, whenMatched, insertUnmatched, streamMark,
        affected, srow.getLong(0), insertGate, insertProjection) match {
        case Some(touched) => return touched
        case None          => () // over the victim budget: rewrite below
      }
    }
    val out: DataFrame =
      if (affected.isEmpty) {
        // nothing matches: the merge is a pure (possibly gated,
        // possibly explicit-column) insert
        val s0 = src.alias("s")
        val gated = insertGate.fold(s0)(g => s0.where(coalesce(g, lit(false))))
        val fields = StructType(readSchemaFields(schema))
        gated.select(schema.fieldNames.toSeq.map(n =>
          insertCol(insertProjection, fields, n).as(n)): _*)
      }
      else classicMergeOut(man, src, on, whenMatched, insertUnmatched,
        bySource, affected, insertGate, insertProjection)
    writeAndCommit(partitioning.assign(out), Commit("merge", man,
      removedFiles = affected.toSet, streamMark = streamMark))
    affected
  }

  /** The classic MERGE rewrite frame: full-outer join of the affected
    * files against the source, per-column three-leg projection.
    * `insertUnmatched = false` restricts it to carried/updated target
    * rows (the DV path's heavy leg computes inserts separately). */
  /** Column an INSERTED row takes for target field `n`: the explicit
    * projection's expression (cast), NULL when unmapped (ANSI/Delta),
    * or the source's same-named column for whole-row merges. The
    * expression's references resolve under the source alias `s`. */
  private def insertCol(proj: Option[Map[String, Column]],
                        fields: StructType, n: String): Column = proj match {
    case None    => col(s"s.$n")
    case Some(p) => p.get(n).map(_.cast(fields(n).dataType))
      .getOrElse(lit(null).cast(fields(n).dataType))
  }

  private def classicMergeOut(man: Manifest, src: DataFrame, on: Seq[String],
      whenMatched: WhenMatched, insertUnmatched: Boolean,
      bySource: WhenNotMatchedBySource, affected: Seq[String],
      insertGate: Option[Column] = None,
      insertProjection: Option[Map[String, Column]] = None): DataFrame = {
    locally {
        val tgt = readManifestFiles(man, affected)
          .select(schema.fieldNames.toSeq.map(col): _*)
          .withColumn("_zc_tp", lit(true)).alias("t")
        val s = src.withColumn("_zc_sp", lit(true)).alias("s")
        val cond = on.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
        val j = tgt.join(s, cond, "full_outer")
        val tPresent = col("t._zc_tp").isNotNull
        val sPresent = col("s._zc_sp").isNotNull
        // the insert leg's admission: false when inserts are off, the
        // (null-skipping) gate when conditional, true otherwise
        val ins: Column =
          if (!insertUnmatched) lit(false)
          else insertGate.map(g => coalesce(g, lit(false))).getOrElse(lit(true))
        val keepMatched = whenMatched match {
          case WhenMatched.Delete => (tPresent && !sPresent) || (!tPresent && ins)
          case WhenMatched.Update(_, Some(d)) =>
            // WHEN MATCHED AND <d> THEN DELETE: NULL condition keeps
            val del = tPresent && sPresent && coalesce(expr(d), lit(false))
            (tPresent || ins) && !del
          case WhenMatched.UpdateCols(_, Some(d)) =>
            val del = tPresent && sPresent && coalesce(d, lit(false))
            (tPresent || ins) && !del
          case WhenMatched.UpdateAllIf(_, Some(d)) =>
            val del = tPresent && sPresent && coalesce(d, lit(false))
            (tPresent || ins) && !del
          case _ => tPresent || ins
        }
        val keep = bySource match {
          case WhenNotMatchedBySource.Delete(w) =>
            val del = tPresent && !sPresent &&
              w.map(c => coalesce(c, lit(false))).getOrElse(lit(true))
            keepMatched && !del
          case _ => keepMatched
        }
        val fields = StructType(readSchemaFields(schema))
        j.where(keep).select(schema.fieldNames.toSeq.map { n =>
          val fromEither = when(tPresent, col(s"t.$n"))
            .otherwise(insertCol(insertProjection, fields, n))
          val matched = whenMatched match {
            // MATCHED rows take the whole source row; unmatched rows go
            // through fromEither so an insert PROJECTION still applies
            // (collapsing both legs to s.$n was correct only when the
            // insert was whole-row — r12)
            case WhenMatched.UpdateAll =>
              when(tPresent && sPresent, col(s"s.$n")).otherwise(fromEither)
            case WhenMatched.UpdateAllIf(g, _) =>
              when(tPresent && sPresent && coalesce(g, lit(false)), col(s"s.$n"))
                .otherwise(fromEither)
            case WhenMatched.Update(as, _) => as.get(n) match {
              case Some(e) => when(tPresent && sPresent,
                  expr(e).cast(fields(n).dataType)).otherwise(fromEither)
              case None => fromEither
            }
            case WhenMatched.UpdateCols(as, _) => as.get(n) match {
              case Some(e) => when(tPresent && sPresent,
                  e.cast(fields(n).dataType)).otherwise(fromEither)
              case None => fromEither
            }
            case WhenMatched.Delete => fromEither
          }
          (bySource match {
            case WhenNotMatchedBySource.Update(as, w) => as.get(n) match {
              case Some(e) =>
                val gate = tPresent && !sPresent &&
                  w.map(c => coalesce(c, lit(false))).getOrElse(lit(true))
                when(gate, e.cast(fields(n).dataType)).otherwise(matched)
              case None => matched
            }
            case _ => matched
          }).as(n)
        }: _*)
    }
  }

  /** The DV leg of [[mergeIntoInternal]] (r11): victims = matched
    * target rows that CHANGE (replaced, assigned, or delete-gated),
    * collected per file through the bounded victim scan with the source
    * joined in as the match flag; light files DV their victims and the
    * new versions append (read under the current mask — a DV'd row can
    * never resurrect as a copy); heavy files take the classic rewrite
    * WITHOUT its insert leg; inserts come from one anti-join of the
    * source against the affected files' live keys. One atomic commit.
    * `None` = victim budget exceeded (the caller's classic rewrite is
    * the better plan there). */
  private def mergeDv(man: Manifest, src: DataFrame, on: Seq[String],
      whenMatched: WhenMatched, insertUnmatched: Boolean,
      streamMark: Option[(String, Long)], affected: Seq[String],
      srcRows: Long, insertGate: Option[Column] = None,
      insertProjection: Option[Map[String, Column]] = None): Option[Seq[String]] = {
    val sMark = src.withColumn("_zc_sp", lit(true)).alias("s")
    def augment(df: DataFrame): DataFrame = {
      val right =
        if (srcRows <= Collection.DvBroadcastMaxRows) broadcast(sMark) else sMark
      df.alias("t").join(right,
        on.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _), "left")
    }
    val sPresent = col("_zc_sp").isNotNull
    // does a matched row CHANGE? (an empty-assignment matched leg with
    // no delete gate carries rows unchanged — no victim, no copy)
    val delGate: Option[Column] = whenMatched match {
      case WhenMatched.Delete                => Some(lit(true))
      case WhenMatched.Update(_, Some(d))    => Some(coalesce(expr(d), lit(false)))
      case WhenMatched.UpdateCols(_, Some(d)) => Some(coalesce(d, lit(false)))
      case WhenMatched.UpdateAllIf(_, Some(d)) => Some(coalesce(d, lit(false)))
      case _                                 => None
    }
    val hasAssign = whenMatched match {
      case WhenMatched.UpdateAll         => true
      case WhenMatched.UpdateAllIf(_, _) => true
      case WhenMatched.Update(as, _)     => as.nonEmpty
      case WhenMatched.UpdateCols(as, _) => as.nonEmpty
      case WhenMatched.Delete            => false
    }
    val changes: Column = whenMatched match {
      // the gated whole-row update changes ONLY gate-true (or
      // delete-gated) rows — a blanket true would DV (and copy) rows
      // both gates carry
      case WhenMatched.UpdateAllIf(g, _) =>
        coalesce(g, lit(false)) || delGate.getOrElse(lit(false))
      case _ if hasAssign             => lit(true)
      case _                          => delGate.getOrElse(lit(false))
    }
    val victims = collectVictims(man, affected, sPresent && changes, augment)
      .getOrElse(return None)
    val (light, heavy) = planDv(man, victims)
    val dvRefs =
      if (light.isEmpty) Map.empty[String, DvRef]
      else DeletionVectors.write(fs, root, light)
    val fields = StructType(readSchemaFields(schema))
    val updatedCopies: Option[DataFrame] =
      if (light.isEmpty || !hasAssign) None
      else Some {
        val copyFilter = whenMatched match {
          // copies = exactly the DV'd update rows, minus deletions
          case WhenMatched.UpdateAllIf(g, _) =>
            sPresent && coalesce(g, lit(false)) &&
              delGate.map(d => !(d <=> lit(true))).getOrElse(lit(true))
          case _ =>
            sPresent && delGate.map(d => !(d <=> lit(true))).getOrElse(lit(true))
        }
        val aug = augment(readManifestFiles(man, light.map(_._1)))
          .where(copyFilter)
        aug.select(schema.fieldNames.toSeq.map { n =>
          (whenMatched match {
            case WhenMatched.UpdateAll         => col(s"s.$n")
            case WhenMatched.UpdateAllIf(_, _) => col(s"s.$n")
            case WhenMatched.Update(as, _) =>
              as.get(n).map(e => expr(e).cast(fields(n).dataType))
                .getOrElse(col(s"t.$n"))
            case WhenMatched.UpdateCols(as, _) =>
              as.get(n).map(_.cast(fields(n).dataType)).getOrElse(col(s"t.$n"))
            case WhenMatched.Delete => col(s"t.$n") // unreachable (hasAssign)
          }).as(n)
        }: _*)
      }
    val heavyLeg: Option[DataFrame] =
      if (heavy.isEmpty) None
      else Some(classicMergeOut(man, src, on, whenMatched,
        insertUnmatched = false, WhenNotMatchedBySource.Keep, heavy))
    val inserts: Option[DataFrame] =
      if (!insertUnmatched) None
      else Some {
        // live keys only: a source row matching ONLY already-DV'd rows
        // is NOT MATCHED against the current snapshot, so it inserts
        val tKeys = readManifestFiles(man, affected)
          .select(on.map(col): _*).distinct()
        val anti = src.alias("s").join(tKeys, on, "left_anti")
        val gated = insertGate.fold(anti)(g => anti.where(coalesce(g, lit(false))))
        gated.select(schema.fieldNames.toSeq.map(n =>
          insertCol(insertProjection, fields, n).as(n)): _*)
      }
    val legs = Seq(updatedCopies, heavyLeg, inserts).flatten
    if (legs.isEmpty && dvRefs.isEmpty && streamMark.isEmpty)
      return Some(Nil) // nothing changed: no commit
    if (legs.isEmpty && streamMark.isEmpty) {
      publish(Commit("merge", man, dvEdits = dvRefs))
      return Some(light.map(_._1).sorted)
    }
    val out = legs.reduceOption(_ union _).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(schema.fields)))
    writeAndCommit(partitioning.assign(out), Commit("merge", man,
      removedFiles = heavy.toSet, streamMark = streamMark, dvEdits = dvRefs))
    Some((light.map(_._1) ++ heavy).sorted)
  }

  /** Rewrite matching partitions as a fresh, axis-sorted file set — the
    * cure for accumulations of small `Concat`-append files. One atomic
    * manifest swap; readers never observe a half-compacted partition.
    * Row ids are reassigned (a new write generation), so overlaying views
    * detect the rewrite and must re-run `update`. */
  def compact(filters: String = null): Seq[String] =
    updateInternal(identity, filters, null, rewrite = true)

  /** Plan a BUDGETED compaction: rank partitions by fragmentation (file
    * count, from the root + shard metadata — zero data IO), then fill a
    * byte budget most-fragmented-first, skipping partitions that do not
    * fit and continuing with smaller ones (greedy knapsack). Only the
    * examined candidates' file sizes are stat'ed, so planning cost is
    * proportional to the fragmented set, not the collection. Feed the
    * result to [[compactPartitions]] — at 100 TB a maintenance window
    * compacts the worst offenders under a known IO ceiling instead of
    * rewriting everything [[compact]]-style. */
  /** `coldestFirst` re-ranks the fragmented candidates by their AXIS
    * upper bound ascending (from the shard zone maps — partitions whose
    * newest row is oldest come first, file count breaking ties): a
    * maintenance window then prefers partitions no writer is actively
    * appending to, minimizing rewrite/ingest conflicts. Partitions
    * without recorded axis stats rank hot (conservative). */
  /** `dvReclaimFraction` (r11b) adds the DELETION-VECTOR trigger: a
    * partition whose masked rows reach this fraction of its recorded
    * rows qualifies even as a single file and ranks FIRST (largest
    * fraction first) — every read of such a partition pays the mask
    * for rows that are already dead, and compaction MATERIALIZES the
    * DVs (the Delta `OPTIMIZE`-applies-DVs shape). The test is
    * `maskedFraction >= dvReclaimFraction`, so 1.0 still admits a
    * FULLY-masked partition (arguably the one most worth reclaiming);
    * to disable the DV trigger entirely pass any value > 1.0
    * (e.g. `Double.PositiveInfinity`) — a fraction never exceeds 1. */
  def compactPlan(maxBytes: Long, minFiles: Int = 2,
                  coldestFirst: Boolean = false,
                  dvReclaimFraction: Double = 0.3): Seq[String] = {
    require(maxBytes > 0, "maxBytes must be positive")
    require(minFiles >= 2, "compacting < 2 files is a no-op")
    require(dvReclaimFraction > 0.0,
      "dvReclaimFraction must be positive (> 1.0 disables the DV trigger; " +
      "1.0 still admits fully-masked partitions)")
    val man = currentManifest()
    val dom = axisDomain
    // a candidate qualifies by FRAGMENTATION (>= minFiles small files)
    // or — r11b — by DELETION-VECTOR weight: a partition whose masked
    // rows reach `dvReclaimFraction` of its recorded rows is carrying
    // dead weight every read must mask around; compacting it
    // MATERIALIZES the DVs (refs drop with the replaced files), so
    // DV-heavy partitions qualify even as a single file and rank FIRST
    // (largest masked fraction first). All metadata-only.
    val candidates: Seq[(String, Seq[String], Option[Any], Double)] = man.shards.flatMap { e =>
      val d = man.shardData(e)
      d.files.groupBy(parentRel).toSeq.flatMap { case (p, fl) =>
        val dvRows = fl.map(f => d.dvs.get(f).map(_.count).getOrElse(0L)).sum
        val total = fl.map(f => d.rows.getOrElse(f, 0L)).sum
        val dvFrac = if (total > 0L) dvRows.toDouble / total else 0.0
        if (fl.size < minFiles && dvFrac < dvReclaimFraction) None
        else {
          val axisMax: Option[Any] = dom.flatMap { dm =>
            val his = fl.map(f => d.stats.get(f)
              .flatMap(bc => bc.get(axis).orElse(bc.get(LegacyAxisKey)))
              .flatMap(st => dm.decodeStat(st.hi)))
            if (his.isEmpty || his.exists(_.isEmpty)) None
            else Some(his.flatten.reduce((a, b) => if (dm.cmp(a, b) >= 0) a else b))
          }
          Some((p, fl, axisMax, dvFrac))
        }
      }
    }
    val (dvHeavy, byShape) =
      candidates.partition { case (_, _, _, f) => f >= dvReclaimFraction }
    val fragmented: Seq[(String, Seq[String])] =
      (dvHeavy.sortBy { case (p, _, _, f) => (-f, p) } ++
       (if (!coldestFirst) byShape.sortBy { case (p, fl, _, _) => (-fl.size, p) }
        else byShape.sortWith { case ((pa, fa, ma, _), (pb, fb, mb, _)) =>
          (ma, mb) match {
            case (Some(a), Some(b)) if dom.exists(_.cmp(a, b) != 0) =>
              dom.exists(_.cmp(a, b) < 0) // older newest-row first
            case (Some(_), None) => true  // stat-less ranks hot: compact last
            case (None, Some(_)) => false
            case _ => if (fa.size != fb.size) fa.size > fb.size else pa < pb
          }
        })).map { case (p, fl, _, _) => (p, fl) }
    var budget = maxBytes
    val chosen = Seq.newBuilder[String]
    fragmented.foreach { case (p, files) =>
      if (budget > 0L) {
        // manifest-recorded sizes first (metadata-only at 100 TB); a
        // per-file stat only for legacy files without one
        val recorded = man.bytesForFiles(files)
        val bytes =
          try files.map { f =>
            recorded.getOrElse(f, {
              val pp = new Path(absOf(root, f))
              pp.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(pp).getLen
            })
          }.sum
          catch { case _: Exception => Long.MaxValue } // unstat-able: skip
        if (bytes <= budget) { chosen += p; budget -= bytes }
      }
    }
    chosen.result()
  }

  /** Rewrite exactly the given partitions as fresh file sets (the
    * [[compactPlan]] executor) — one atomic rewrite-marked commit, same
    * semantics as [[compact]] restricted to `paths`. Unknown paths are
    * ignored; returns the partitions actually rewritten.
    *
    * `clusterBy` (1..4 columns) switches the rewrite from axis-sorted
    * to Z-ORDERED: rows cluster along the Morton curve of the given
    * columns ([[graft.functions.ZOrder]]), so per-file zone maps tighten
    * in EVERY clustered dimension at once and multi-column filters skip
    * files the axis sort alone never could (the Delta/Iceberg OPTIMIZE
    * ZORDER maintenance shape). Numeric/timestamp columns with manifest
    * bounds get range locality; others cluster equal values via a hash
    * bucket (what bloom skipping needs). */
  def compactPartitions(paths: Seq[String], clusterBy: Seq[String] = Nil): Seq[String] = {
    requireWritable()
    val man = currentManifest()
    val existing = man.partitionPaths.toSet
    val targets = paths.filter(existing.contains).distinct.sorted
    if (targets.isEmpty) return Nil
    val cluster: Seq[Column] =
      if (clusterBy.isEmpty) null
      else {
        val unknown = clusterBy.filterNot(schema.fieldNames.contains)
        require(unknown.isEmpty, s"unknown clusterBy column(s): ${unknown.mkString(", ")}")
        import org.apache.spark.sql.types.{TimestampType, TimestampNTZType, NumericType}
        import graft.functions.ZOrder
        val ranks = clusterBy.map { c =>
          val dt = schema(c).dataType
          val numeric = dt match {
            case TimestampType | TimestampNTZType => Some(unix_micros(col(c)))
            case _: NumericType                   => Some(col(c))
            case _                                => None
          }
          val bounds = columnBounds(c).flatMap { case (lo, hi) =>
            def d(v: Any): Option[Double] = v match {
              case l: Long => Some(l.toDouble)
              case i: Int => Some(i.toDouble)
              case x: Double => Some(x)
              case f: Float => Some(f.toDouble)
              case _ => None
            }
            for (l <- d(lo); h <- d(hi)) yield (l, h)
          }
          (numeric, bounds) match {
            case (Some(n), Some((lo, hi))) => ZOrder.normalize16(n, lo, hi)
            case _                         => ZOrder.hash16(col(c))
          }
        }
        Seq(ZOrder.zvalue(ranks))
      }
    val out = readManifestFiles(man, man.filesForPartitions(targets.toSet))
      .select(schema.fieldNames.toSeq.map(col): _*)
    writeAndCommit(partitioning.assign(out), Commit("compact", man,
      removedPartitions = targets.toSet, rewrite = true), cluster)
    targets
  }

  // --- key helpers -------------------------------------------------

  private def distinctKeys(assigned: DataFrame): Seq[Seq[(String, Any)]] =
    assigned.select(partCols.map(col): _*).distinct().collect()
      .map(r => partCols.zipWithIndex.map { case (c, i) => c -> r.get(i) })
      .toSeq

  /** Hive-escaped relative directory for a partition key — matches the
    * names Spark's file committer writes, so string/whatever partition
    * values with `=`/`:`/space/`%` compare correctly against on-disk
    * paths. */
  private[core] def keyPath(key: Seq[(String, Any)]): String =
    key.map { case (c, v) =>
      val vs = if (v == null) null else v.toString
      val escaped =
        if (vs == null || vs.isEmpty) "__HIVE_DEFAULT_PARTITION__"
        else ExternalCatalogUtils.escapePathName(vs)
      s"${ExternalCatalogUtils.escapePathName(c)}=$escaped"
    }.mkString("/")

  /** Predicate selecting rows belonging to the given partition paths,
    * built from DECODED key tuples (typed comparison, not string match). */
  private def pathPredicate(paths: Seq[String]): Column =
    paths.flatMap(decodePath)
      .map(k => k.map { case (c, v) => col(c) === lit(v) }.reduce(_ && _))
      .reduce(_ || _)

  private def partitionKeySet(): Set[String] = partitionPaths().toSet

  /** Decode a partition path against the DECLARED partition-column types:
    * only integral columns parse to Long — a string column whose values
    * happen to look numeric stays a string, so `pathPredicate`, sort
    * order, and `FilterExpr.eval` all see the declared type. Memoized
    * per path (pure; paths recur across generations), so a query that
    * walks partitions in several layers — claim check, pruning, native
    * planning — pays the string parse once. */
  private val decodePathCache =
    scala.collection.concurrent.TrieMap.empty[String, Option[Seq[(String, Any)]]]

  private def decodePath(path: String): Option[Seq[(String, Any)]] = {
    // bound the memo on long-lived handles (catalog-cached tables,
    // streaming sources): growth tracks distinct paths EVER seen, not
    // live partitions — under heavy partition churn a wholesale reset
    // beats unbounded growth, and re-decoding is a cheap string parse
    if (decodePathCache.size > Collection.DecodePathCacheMax) decodePathCache.clear()
    decodePathCache.getOrElseUpdate(path, decodePathUncached(path))
  }

  private def decodePathUncached(path: String): Option[Seq[(String, Any)]] = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}
    val segs = path.split("/").toSeq
    if (segs.length != partCols.length) return None
    val kvs = segs.map { s =>
      val i = s.indexOf('=')
      if (i < 0) return None
      val n = ExternalCatalogUtils.unescapePathName(s.substring(0, i))
      val v = ExternalCatalogUtils.unescapePathName(s.substring(i + 1))
      val decoded: Any = partitioning.colType(n, schema) match {
        case LongType | IntegerType | ShortType | ByteType =>
          scala.util.Try(v.toLong).getOrElse(v)
        case TimestampType | TimestampNTZType =>
          FilterExpr.WallClockKey.parse(v).map(FilterExpr.WallClockKey(_, v)).getOrElse(v)
        case _ => v
      }
      n -> decoded
    }
    if (kvs.map(_._1) == partCols) Some(kvs) else None
  }

  private def keyLess(a: Seq[(String, Any)], b: Seq[(String, Any)]): Boolean = {
    a.zip(b).foreach { case ((_, x), (_, y)) =>
      val c = (x, y) match {
        case (l: Long, r: Long)     => java.lang.Long.compare(l, r)
        case (l: String, r: String) => l.compareTo(r)
        case (l: FilterExpr.WallClockKey, r: FilterExpr.WallClockKey) => l.time.compareTo(r.time)
        case _                      => x.toString.compareTo(y.toString)
      }
      if (c != 0) return c < 0
    }
    false
  }
}

/** Matched-row action for [[Collection.mergeInto]]. */
sealed trait WhenMatched
object WhenMatched {
  /** Replace the matched target row with the source row. */
  case object UpdateAll extends WhenMatched
  /** [[UpdateAll]] gated by a condition (r12 — ANSI/Delta's
    * `WHEN MATCHED AND <cond> THEN UPDATE SET *`): matched rows
    * satisfying `cond` (t./s. vocabulary; NULL = not satisfied) take
    * the whole source row — including the axis, so they re-home like
    * UpdateAll's — and other matched rows carry unchanged. `deleteWhen`
    * composes the second matched action (`WHEN MATCHED [AND d] THEN
    * DELETE`, first-match-wins already folded in by the caller):
    * a matched row satisfying it is REMOVED (NULL keeps). */
  final case class UpdateAllIf(cond: Column,
                               deleteWhen: Option[Column] = None) extends WhenMatched
  /** Assign `column -> SQL expression`; expressions reference target
    * columns as `t.<col>` and source columns as `s.<col>`. Unassigned
    * columns keep the target value. `deleteWhen` (same `t.`/`s.`
    * vocabulary) is the ANSI/Delta `WHEN MATCHED AND <cond> THEN
    * DELETE` clause: a matched row satisfying it is REMOVED instead of
    * updated (NULL = not satisfied) — the self-maintainable-aggregate
    * path drops a group the moment its maintained count hits zero. */
  final case class Update(assignments: Map[String, String],
                          deleteWhen: Option[String] = None) extends WhenMatched
  /** [[Update]] with pre-built Columns instead of SQL text — the SQL
    * `MERGE INTO` rule's form (same `t.`/`s.` alias vocabulary; a
    * NULL/FALSE `deleteWhen` keeps the row). BOTH parts may be empty:
    * that is the no-op matched action (matched target rows carry
    * unchanged — SQL's insert-only MERGE). */
  private[graft] final case class UpdateCols(
      assignments: Map[String, Column],
      deleteWhen: Option[Column] = None) extends WhenMatched
  /** Remove matched target rows. */
  case object Delete extends WhenMatched
}

/** `WHEN NOT MATCHED BY SOURCE` action for [[Collection.mergeInto]] —
  * what happens to TARGET rows no source row matches (ANSI/Delta's
  * sync-merge third leg). Conditions and assignments are `t.<col>`
  * Columns (there IS no source row). Anything but [[Keep]] puts every
  * target row in play, so the rewrite is necessarily full-table — the
  * same cost contract as Delta's NOT MATCHED BY SOURCE. */
sealed trait WhenNotMatchedBySource
object WhenNotMatchedBySource {
  /** Unmatched target rows carry through (the default MERGE). */
  case object Keep extends WhenNotMatchedBySource
  /** Remove unmatched target rows ([AND `when`]; NULL/FALSE keeps) —
    * with an upsert source this makes MERGE a full one-commit SYNC:
    * target becomes exactly the source. */
  final case class Delete(when: Option[Column] = None) extends WhenNotMatchedBySource
  /** Assign unmatched target rows ([AND `when`]) — e.g. mark rows
    * stale when a feed stops carrying them. */
  final case class Update(assignments: Map[String, Column],
                          when: Option[Column] = None) extends WhenNotMatchedBySource
}

/** Conflict policy for [[Collection.rebaseBranch]] — what to do with a
  * key BOTH the parent and the branch modified since the fork (the
  * git-rebase vocabulary, row-granular). */
sealed trait RebaseResolve
object RebaseResolve {
  /** Refuse the rebase, naming sample conflict keys (default). */
  case object Refuse extends RebaseResolve
  /** Parent wins conflicted keys: the branch's edits to them DROP from
    * the promotion payload; its disjoint-key edits still apply. */
  case object Ours extends RebaseResolve
  /** Branch wins conflicted keys: the parent's CURRENT rows for them
    * are replaced by the branch's HEAD rows (state-level replacement —
    * sound even when the two sides rewrote different subsets of a
    * key's rows); disjoint-key edits apply as usual. */
  case object Theirs extends RebaseResolve
}

/** Result of [[Collection.fsck]]: manifest ↔ filesystem consistency.
  * `rowCountMismatches` entries are `(file, recordedRows, actualRows)`;
  * `unreadableFiles` are referenced files present on disk whose parquet
  * footer cannot be opened at all (truncation, checksum damage,
  * non-parquet bytes) — reads touching them WILL fail. Both populated
  * only by a deep check. */
final case class FsckReport(
    filesChecked: Int,
    missingFiles: Seq[String],
    rowCountMismatches: Seq[(String, Long, Long)],
    statlessFiles: Seq[String],
    orphanFiles: Seq[String],
    unreadableFiles: Seq[String] = Nil,
    /** Missing or (deep) corrupt DELETION-VECTOR sections (r11): damage
      * here silently resurrects deleted rows, so it fails `clean`. */
    badDvFiles: Seq[String] = Nil) {
  /** No reads will fail and no recorded count lies. Orphans and
    * statless files degrade space/pruning, not correctness. */
  def clean: Boolean =
    missingFiles.isEmpty && rowCountMismatches.isEmpty &&
      unreadableFiles.isEmpty && badDvFiles.isEmpty
}

/** Thrown by [[Collection.promoteBranch]] when the parent advanced past
  * the branch's fork point (optimistic-concurrency refusal). Subclasses
  * IllegalArgumentException so pre-r12 catch sites keep working;
  * [[Collection.transaction]] classifies conflicts by THIS type. */
class BranchDivergedException(msg: String) extends IllegalArgumentException(msg)

object Collection extends CollectionManifestLayer {
  val ConfigFile = "_graft.json"
  val ManifestDir = "_manifest"
  val ImmutableDir = "_immutable"
  val ImmutableMeta = "_meta.json"
  /** Staging subtree of earlier builds, which wrote each job under
    * `_stage/<uuid>` and renamed the files into place. Nothing writes it
    * any more; [[Collection.vacuum]] still sweeps trees a crash left. */
  val StageDir = "_stage"
  val BranchDir = "_branches"
  /** Hidden per-partition row id, the positional key for View overlays. */
  val RowIdCol = "_zc_row"

  // --- deletion vectors (r11) ---------------------------------------
  /** Collection attr enabling DV-backed row-level deletes:
    * `attrs("graft.deletionVectors") = "true"` at create. Off, every
    * row-level mutation keeps the classic file rewrite. */
  val DvEnabledAttr = "graft.deletionVectors"
  /** Per-file cap: a file losing more rowids than this (or more than
    * [[DvMaxFraction]] of its rows) is REWRITTEN instead — beyond these
    * points the rewrite is the cheaper plan and the DV would only tax
    * every later read. */
  val DvMaxPerFile = 1 << 20
  val DvMaxFraction = 0.5
  /** Per-commit driver cap on collected DV rowids (the DV writer is a
    * bounded driver pass, like the dedup union-find gate): over budget,
    * the whole mutation falls back to the classic rewrite. r12: the
    * victim scan ships PACKED per-file long arrays (one driver row per
    * file), so the cap rises 4M -> 16M (~128 MB of longs) — the old
    * Row-per-victim shape carried a full path string per id. */
  val DvMaxTotalRows = 1 << 24
  /** Reads broadcast the DV anti-join side up to this many rowids
    * (32 MB of longs); beyond it the join plans as a shuffle. */
  val DvBroadcastMaxRows = 1L << 22
  /** Hive's null-partition-value directory sentinel. */
  val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"
  /** Per-handle cap on the partition-path decode memo (~64k entries ≈
    * a few MB); exceeded = wholesale reset, see `decodePath`. */
  private[core] val DecodePathCacheMax = 65536

  /** One data file of a native batch-scan plan: physical path, size,
    * and the partition key as Catalyst internal values. */
  private[graft] final case class NativeFile(path: String, bytes: Long, key: Seq[Any],
      /** This file's deletion vector, if any — path pre-resolved to
        * ABSOLUTE so the executor-side reader needs no root context.
        * The native reader masks these rowids per batch (r11). */
      dv: Option[DvRef] = None)

  /** Everything the task writer ([[GraftWriterFactory]]) needs from a
    * pinned snapshot: the generation to commit against, the row-id task
    * base, the partition columns (in directory order) and which of them
    * are identity columns, the parquet codec/bloom configuration, and
    * the CHECK constraints (name -> predicate SQL, name-sorted) the SQL
    * face's tasks enforce per row, and the logical -> physical column
    * renames. */
  private[graft] final case class NativeWriteSpec(
      generation: Long, taskBase: Long,
      partCols: Seq[String],
      identityCols: Seq[String],
      compression: String, zstdLevel: Int,
      bloomCols: Seq[String], bloomNdv: Map[String, Long],
      constraints: Seq[(String, String)],
      renames: Map[String, String])

  /** Partition-key types whose decoded directory values
    * ([[Collection#decodePath]]) compare exactly as the keys do —
    * the gate for REPLACE WHERE, which decides whole partitions from
    * them. Reads and writes serve every key type. */
  private[graft] def nativeKeyType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | StringType | DateType => true
    case _ => false
  }
  /** [[Collection.changes]]' change-kind column: `'insert' | 'delete'`. */
  val ChangeTypeCol = "_change_type"
  /** On-disk format version this build reads and writes; `open` refuses a
    * NEWER format instead of silently mis-reading it (reference
    * schema/versioning.py FORMAT_VERSION). */
  val FormatVersion = 2


  /** What each skip layer of a filtered read would eliminate
    * ([[Collection.explainPruning]]): subtrees survive the root rollup,
    * partitions the key eval + monotonic axis bounds, then candidate
    * files shrink through zone maps and bloom filters. */
  final case class PruneReport(
      subtreesTotal: Int, subtreesKept: Int,
      partitionsTotal: Int, partitionsKept: Int,
      filesListed: Int, filesAfterStats: Int, filesAfterBloom: Int) {
    override def toString: String =
      s"subtrees $subtreesKept/$subtreesTotal -> partitions " +
      s"$partitionsKept/$partitionsTotal -> files $filesListed listed, " +
      s"$filesAfterStats after zone maps, $filesAfterBloom after blooms"
  }

  /** Default [[Collection.vacuum]] grace window: unreferenced files newer
    * than (newest committed root − 15 min) are presumed in-flight. */
  val DefaultVacuumGraceMs: Long = 15L * 60L * 1000L

  /** Max automatic commit rebases before a conflict surfaces to the
    * caller (each retry re-reads the head and re-verifies disjointness —
    * under heavy same-partition contention giving up is correct). */
  val MaxCommitRebases: Int = 5

  /** One mutation's next manifest generation, as [[Collection.publish]]
    * lands it. `base` is the snapshot the commit derives from:
    * read-modify-write callers PIN the manifest their read resolved
    * against, so a concurrent commit to the same partitions forces the
    * rebase-guard conflict instead of being silently erased (its files
    * dropped via `removedPartitions` while its rows are absent from a
    * rewrite computed off the older snapshot); blind writes pass the
    * head they read last.
    *
    * A DELTA commit (no `edit`) says what changed: `added` root-relative
    * files this commit wrote, whole `removedPartitions`, single
    * `removedFiles`, deletion-vector edits (`dvEdits`, pre-merged per
    * file), a streaming `(query, batch)` high-water mark committed
    * atomically with the files, `rewrite` (content-preserving: the
    * removed partitions are marked for tailing streams to skip), the
    * row-id `taskBump` and a new partition layout stamp (`partSpec`).
    * An EDIT commit instead maps the base to the next manifest whole
    * (metadata and whole-table edits); it is never rebased. */
  private[core] final case class Commit(
      op: String,
      base: Manifest,
      added: Seq[String] = Nil,
      removedPartitions: Set[String] = Set.empty,
      removedFiles: Set[String] = Set.empty,
      dvEdits: Map[String, DvRef] = Map.empty,
      streamMark: Option[(String, Long)] = None,
      rewrite: Boolean = false,
      taskBump: Long = 0L,
      partSpec: Option[String] = None,
      edit: Option[Manifest => Manifest] = None)


  /** Create a new collection rooted at `root` (reference base.py:161-234). */
  def create(
      spark: SparkSession,
      root: String,
      schema: StructType,
      axis: String,
      partitioning: Partitioning,
      catalogEnabled: Boolean = false,
      overwrite: Boolean = false,
      profile: String = "local-fast",
      attrs: Map[String, String] = Map.empty,
      retainGenerations: Int = 0,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      bloomNdv: Map[String, Long] = Map.empty,
      autoCompactFiles: Int = 0,
  ): Collection = {
    val fs = fileSystem(spark, root)
    val cfg = new Path(s"$root/$ConfigFile")
    if (fs.exists(cfg) && !overwrite)
      throw new IllegalStateException(s"a collection already exists at $root")
    if (overwrite && fs.exists(new Path(root))) fs.delete(new Path(root), true)
    require(schema.fieldNames.contains(axis), s"axis '$axis' is not a column of the schema")
    require(retainGenerations >= 0, "retainGenerations must be >= 0")
    require(autoCompactFiles >= 0, "autoCompactFiles must be >= 0")
    (statsColumns ++ bloomColumns).foreach(c => require(
      schema.fieldNames.contains(c),
      s"stats/bloom column '$c' is not a column of the schema"))
    bloomNdv.foreach { case (c, n) => require(
      bloomColumns.contains(c) && n > 0,
      s"bloomNdv for '$c' requires a positive count and membership in bloomColumns") }

    val m = new java.util.LinkedHashMap[String, Object]()
    m.put("formatVersion", Integer.valueOf(FormatVersion))
    m.put("axis", axis)
    m.put("schema", schema.toDDL)
    m.put("partitioning", partitioning.toJsonMap)
    m.put("catalog", java.lang.Boolean.valueOf(catalogEnabled))
    m.put("profile", profile)
    m.put("retain", Integer.valueOf(retainGenerations))
    if (statsColumns.nonEmpty)
      m.put("statsColumns", new java.util.ArrayList[Object](statsColumns.asJava))
    if (bloomColumns.nonEmpty)
      m.put("bloomColumns", new java.util.ArrayList[Object](bloomColumns.asJava))
    if (bloomNdv.nonEmpty) {
      val bm = new java.util.LinkedHashMap[String, Object]()
      bloomNdv.toSeq.sortBy(_._1).foreach { case (c, n) => bm.put(c, java.lang.Long.valueOf(n)) }
      m.put("bloomNdv", bm)
    }
    if (autoCompactFiles > 0)
      m.put("autoCompact", Integer.valueOf(autoCompactFiles))
    val attrsMap = new java.util.LinkedHashMap[String, Object]()
    attrs.foreach { case (k, v) => attrsMap.put(k, v) }
    m.put("attrs", attrsMap)
    writeJson(fs, cfg, m)
    writeManifest(fs, new Path(s"$root/$ManifestDir"),
      new Manifest(0L, 0L, schema.toDDL, Map.empty, Nil, _ => ShardData(Nil)))
    new Collection(spark, root, schema, axis, partitioning, catalogEnabled,
      readOnly = false, CodecProfile(profile), attrs, retainGenerations,
      statsColumns, bloomColumns, bloomNdv, autoCompactFiles)
  }

  /** Migrate a legacy pre-manifest tree (format 1) in place: stamp the
    * root config to the current format, then bootstrap a manifest from
    * the data files on disk via [[Collection.repairCatalog]] — adopting
    * every file found, so vacuum any known garbage FIRST. The reference
    * keeps the analogous `upgrade()` hooks in schema/versioning.py.
    * Returns the migrated collection, already open for writing. */
  def migrate(spark: SparkSession, root: String): Collection = {
    val fs = fileSystem(spark, root)
    val cfg = new Path(s"$root/$ConfigFile")
    if (!fs.exists(cfg))
      throw new IllegalStateException(s"no collection found at $root")
    val in: java.io.InputStream = fs.open(cfg)
    val doc =
      try new ObjectMapper().readValue(in, classOf[java.util.Map[String, Object]])
      finally in.close()
    val fmt = Option(doc.get("formatVersion")).orElse(Option(doc.get("version")))
      .map(_.toString.toInt).getOrElse(1)
    if (fmt > FormatVersion)
      throw new IllegalStateException(
        s"collection at $root uses format $fmt; this build reads up to $FormatVersion")
    if (fmt < FormatVersion) {
      val m = new java.util.LinkedHashMap[String, Object](doc)
      m.remove("version")
      m.put("formatVersion", Integer.valueOf(FormatVersion))
      writeJson(fs, cfg, m)
    }
    val c = open(spark, root)
    if (!fs.exists(new Path(s"$root/$ManifestDir")) || c.generations().isEmpty)
      c.repairCatalog()
    c
  }

  /** Open an existing collection (reference base.py:236-271). Refuses a
    * format newer than this build writes. */
  def open(spark: SparkSession, root: String, readOnly: Boolean = false): Collection = {
    val fs = fileSystem(spark, root)
    val cfg = new Path(s"$root/$ConfigFile")
    if (!fs.exists(cfg))
      throw new IllegalStateException(s"no collection found at $root")
    val in: java.io.InputStream = fs.open(cfg)
    val doc =
      try new ObjectMapper().readValue(in, classOf[java.util.Map[String, Object]])
      finally in.close()
    val fmt = Option(doc.get("formatVersion")).orElse(Option(doc.get("version")))
      .map(_.toString.toInt).getOrElse(1)
    if (fmt > FormatVersion)
      throw new IllegalStateException(
        s"collection at $root uses format $fmt; this build reads up to $FormatVersion")
    // fail FAST on older formats too: a pre-manifest tree would otherwise
    // open fine and then throw a confusing 'no manifest directory' from the
    // first read (ADVICE r2) — point at the recovery path instead
    if (fmt < FormatVersion)
      throw new IllegalStateException(
        s"collection at $root uses legacy format $fmt (< $FormatVersion, the " +
        "manifest format); recreate it by re-inserting into a new collection " +
        "(a pre-manifest tree has no committed snapshot to trust)")
    val schema = StructType.fromDDL(doc.get("schema").toString)
    val partitioning = Partitioning.fromJsonMap(
      doc.get("partitioning").asInstanceOf[java.util.Map[String, Object]])
    val profile = Option(doc.get("profile")).map(_.toString).getOrElse("local-fast")
    val attrs = Option(doc.get("attrs"))
      .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.map {
        case (k, v) => k -> String.valueOf(v)
      }.toMap)
      .getOrElse(Map.empty[String, String])
    val retain = Option(doc.get("retain")).map(_.toString.toInt).getOrElse(0)
    def strList(key: String): Seq[String] = Option(doc.get(key))
      .map(_.asInstanceOf[java.util.List[Object]].asScala.map(_.toString).toSeq)
      .getOrElse(Nil)
    val autoCompact = Option(doc.get("autoCompact")).map(_.toString.toInt).getOrElse(0)
    val ndv = Option(doc.get("bloomNdv"))
      .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.map {
        case (k, v) => k -> v.toString.toLong
      }.toMap)
      .getOrElse(Map.empty[String, Long])
    val c = new Collection(
      spark, root, schema, doc.get("axis").toString, partitioning,
      catalogEnabled = doc.get("catalog").asInstanceOf[java.lang.Boolean],
      readOnly = readOnly, profile = CodecProfile(profile), attrs = attrs,
      retainGenerations = retain, statsColumns = strList("statsColumns"),
      bloomColumns = strList("bloomColumns"), bloomNdv = ndv,
      autoCompactFiles = autoCompact)
    // the head manifest's layout stamp is AUTHORITATIVE over the config:
    // a crash between changePartitioning's commit and its config repair
    // must not hand out a handle that mis-reads the new paths
    val headSpec =
      try c.currentManifestRaw().partSpec catch { case _: Exception => None }
    headSpec.filter(_ != c.partSpecJson) match {
      case None => c
      case Some(s) =>
        val p2 = Partitioning.fromJsonMap(new ObjectMapper()
          .readValue(s, classOf[java.util.Map[String, Object]]))
        new Collection(
          spark, root, schema, doc.get("axis").toString, p2,
          catalogEnabled = doc.get("catalog").asInstanceOf[java.lang.Boolean],
          readOnly = readOnly, profile = CodecProfile(profile), attrs = attrs,
          retainGenerations = retain, statsColumns = strList("statsColumns"),
          bloomColumns = strList("bloomColumns"), bloomNdv = ndv,
          autoCompactFiles = autoCompact)
    }
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE`; Icechunk
    * branch-from-snapshot): a new, independently-writable collection at
    * `destRoot` whose head snapshot references the SOURCE's current data
    * files without copying a byte of data. O(metadata): one new config +
    * one shard JSON per subtree (with the source's zone maps, row counts
    * and commit generations carried over verbatim, so every skip layer
    * prunes identically on the clone) + one root manifest. The dev/test
    * sandbox shape at 100 TB — clone, experiment destructively, drop.
    *
    * Independence: writes to the clone land under `destRoot` and commit
    * to the clone's own manifest line; rewrites DROP source references
    * (never delete the source's files); the source never learns the
    * clone exists. The clone starts at the source's current GENERATION
    * number (not 0) so the per-file commit generations baked into the
    * carried shards keep ordering correctly against `columnSince` —
    * schema-generation pruning stays sound across the clone boundary.
    *
    * Durability contract (same as Delta's): the clone depends on the
    * source's files AS OF the clone point. `vacuum`/`deleteWhere`/
    * retention on the SOURCE can reclaim files the clone still
    * references — pin the clone point with [[Collection.tag]] on the
    * source if the source is actively mutating ([[Collection.fsck]] on
    * the clone detects a vacuumed-away base). */
  /** @param asOfGeneration clone the source AS OF this committed
    *        generation instead of its head (the Icechunk branch-from-
    *        snapshot shape; pin it with a [[Collection.tag]] first if
    *        the source GCs aggressively). -1 = the current head. */
  def cloneTo(spark: SparkSession, srcRoot: String, destRoot: String,
              asOfGeneration: Long = -1L): Collection = {
    val src = open(spark, srcRoot, readOnly = true)
    val destFs = fileSystem(spark, destRoot)
    val destCfg = new Path(s"$destRoot/$ConfigFile")
    if (destFs.exists(destCfg))
      throw new IllegalStateException(s"a collection already exists at $destRoot")
    val srcFs = src.fs
    // qualified base URI: refs must resolve from ANY working directory
    // and any handle, not just ones opened with the same root string
    val base = srcFs.makeQualified(new Path(srcRoot)).toString.stripSuffix("/")
    val man =
      if (asOfGeneration < 0) src.currentManifest()
      else {
        require(src.generations().contains(asOfGeneration),
          s"no committed generation $asOfGeneration at $srcRoot")
        val m = src.manifestAt(asOfGeneration)
        // an old snapshot must still be interpretable under the CURRENT
        // layout — cloning across a repartitioning would mis-prune
        require(m.partSpec == src.currentManifest().partSpec,
          s"generation $asOfGeneration predates a partition-layout change; " +
          "clone the head or restore first")
        m
      }
    val destManifestDir = new Path(s"$destRoot/$ManifestDir")
    destFs.mkdirs(destManifestDir)
    // per-subtree: rebase every file ref onto the source root (already-
    // external refs — cloning a clone — keep their original base), and
    // re-key the per-file stats/rows/gens maps to match. Content
    // addressing gives the rewritten list a fresh shard name.
    val entries = man.shards.map { e =>
      val d = man.shardData(e)
      val files = d.files.map(f => externalRef(base, f))
      val stats = d.stats.map { case (f, v) => externalRef(base, f) -> v }
      val rows = d.rows.map { case (f, v) => externalRef(base, f) -> v }
      val gens = d.gens.map { case (f, v) => externalRef(base, f) -> v }
      val sizes = d.bytes.map { case (f, v) => externalRef(base, f) -> v }
      // DV refs: the data-file key AND the DV file path both rebase onto
      // the source root — the clone reads the source's deletion vectors
      // exactly like its data files (and never deletes either)
      val dvs = d.dvs.map { case (f, v) =>
        externalRef(base, f) -> v.copy(path = externalRef(base, v.path)) }
      val name = shardName(files, stats, rows, gens, sizes, dvs)
      writeShardIfAbsent(destFs, destManifestDir, name, files, stats, rows, gens, sizes, dvs)
      ShardEntry(e.prefix, e.partitions, name, e.rollup, e.rowTotal, e.byteTotal, e.dvCount)
    }
    // config: byte-equivalent copy of the source's, plus provenance attrs
    val in: java.io.InputStream = srcFs.open(new Path(s"$srcRoot/$ConfigFile"))
    val doc =
      try new ObjectMapper().readValue(in, classOf[java.util.Map[String, Object]])
      finally in.close()
    val cfgDoc = new java.util.LinkedHashMap[String, Object](doc)
    val attrsMap = Option(cfgDoc.get("attrs"))
      .map(a => new java.util.LinkedHashMap[String, Object](
        a.asInstanceOf[java.util.Map[String, Object]]))
      .getOrElse(new java.util.LinkedHashMap[String, Object]())
    attrsMap.put("clonedFrom", base)
    attrsMap.put("cloneGeneration", java.lang.Long.valueOf(man.generation))
    cfgDoc.put("attrs", attrsMap)
    writeJson(destFs, destCfg, cfgDoc)
    // immutable metadata vars are small by construction (broadcast side
    // of every read) — physical copy keeps the clone self-contained for
    // the one layer whose files aren't manifest-tracked
    val srcImm = new Path(s"$srcRoot/$ImmutableDir")
    if (srcFs.exists(srcImm))
      org.apache.hadoop.fs.FileUtil.copy(srcFs, srcImm,
        destFs, new Path(s"$destRoot/$ImmutableDir"), false,
        spark.sparkContext.hadoopConfiguration)
    writeManifest(destFs, destManifestDir,
      new Manifest(man.generation, man.taskBase, man.schemaDdl, man.fills,
        entries, rel => readShard(destFs, destManifestDir, rel),
        streams = man.streams, columnSince = man.columnSince,
        droppedEver = man.droppedEver, partSpec = man.partSpec,
        constraints = man.constraints, op = Some("clone")))
    open(spark, destRoot)
  }

  private[graft] def fileSystem(spark: SparkSession, root: String): FileSystem =
    FileSystem.get(new Path(root).toUri, spark.sparkContext.hadoopConfiguration)

  /** Canonical single-line JSON of a partitioning spec (key order is the
    * spec's own LinkedHashMap order — deterministic per implementation,
    * so string equality decides layout equality). */
  private[core] def specJson(p: Partitioning): String =
    new ObjectMapper().writeValueAsString(p.toJsonMap)


  private[core] def relativize(root: Path, p: Path): String = {
    val rootUri = root.toUri.getPath.stripSuffix("/")
    p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
  }

  /** The [[Collection#queryArrays]] packing applied to an ARBITRARY
    * slice of collection rows (data + partition columns): group by the
    * partition key, sort each group by `(axis, variables...)` and emit
    * one record per partition — `(part cols, n, axis-ordered row-aligned
    * arrays)`. This is also the INCREMENTAL shape: inside `foreachBatch`
    * over the streaming source, each micro-batch (one manifest diff)
    * packs into the same records the batch API yields
    * ([[graft.streaming.StreamOps.streamArrays]]). Exactly one shuffle,
    * on the partition key. */
  def packArrays(df: DataFrame, axis: String, partCols: Seq[String],
                 variables: Seq[String]): DataFrame = {
    val cols = axis +: variables
    val packed = sort_array(collect_list(struct(cols.map(col): _*)))
    df.groupBy(partCols.map(col): _*)
      .agg(packed.as("_rows"))
      .select((partCols.map(col) :+ size(col("_rows")).cast("long").as("n")) ++
        cols.map(c => transform(col("_rows"), r => r.getField(c)).as(c)): _*)
  }

  /** Inverse of [[Collection.queryArrays]] (the from_xarray direction,
    * reference data/dataset.py:248): explode row-aligned array columns
    * back to one row per element, carrying every scalar column through.
    * The result round-trips into [[Collection.insert]]. Pure map-side
    * (one Generate, no shuffle). */
  def arraysToRows(df: DataFrame, arrayCols: Seq[String]): DataFrame = {
    require(arrayCols.nonEmpty, "arrayCols must be non-empty")
    val keep = df.columns.toSeq.filterNot(c => arrayCols.contains(c) || c == "n")
    df.select((keep.map(col) :+
        explode(arrays_zip(arrayCols.map(col): _*)).as("_e")): _*)
      .select((keep.map(col) ++
        arrayCols.map(c => col("_e").getField(c).as(c))): _*)
  }
}
