package graft

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.core.Collection

/** Simulates a writer that dies at the publish step of a commit: while
  * `body` runs, publishing any root manifest under `root`'s `_manifest/`
  * throws an IOException. The commit's data, deletion-vector, shard and
  * root tmp files are all written, but the generation is never claimed.
  * Every other target (branches, tags, other collections) publishes
  * through the plain single-writer rename, and the arbiter is
  * unregistered in `finally`. Returns what `body` threw, after checking
  * that the simulated crash is among its causes. */
object CrashAtPublish {
  def apply(root: String)(body: => Any): Throwable = {
    val fs = Collection.fileSystem(SparkTestSession.spark, root)
    val dir = fs.makeQualified(new Path(s"$root/${Collection.ManifestDir}")).toString + "/"
    val marker = "simulated crash at the publish of "
    Collection.registerCommitArbiter("file", new Collection.CommitArbiter {
      def publish(f: FileSystem, tmp: Path, target: Path): Boolean =
        if (target.getName.startsWith("manifest-") &&
            f.makeQualified(target).toString.startsWith(dir))
          throw new java.io.IOException(marker + target)
        else Collection.UnsafeSingleWriterArbiter.publish(f, tmp, target)
    })
    val thrown =
      try { body; None }
      catch { case e: Throwable => Some(e) }
      finally Collection.unregisterCommitArbiter("file")
    val e = thrown.getOrElse(
      throw new AssertionError(s"the operation on $root returned without publishing"))
    val causes = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    if (!causes.exists(t => t.isInstanceOf[java.io.IOException] &&
                            String.valueOf(t.getMessage).startsWith(marker)))
      throw new AssertionError(s"the operation on $root failed before its publish", e)
    e
  }
}
