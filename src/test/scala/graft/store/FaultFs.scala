package graft.store

import java.net.URI
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local filesystem under the `faultfs` scheme, with two faults a
  * spec can switch on: `create` throws for any path containing a given
  * fragment, and `rename` returns false when it moves a path out of a
  * store's `_compact_tmp` scratch root (renames inside it, which the
  * output committer makes, still succeed). */
class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = FaultFs.Uri
  override def getScheme: String = FaultFs.Scheme

  private def check(f: Path): Unit =
    FaultFs.createFault.filter(f.toString.contains).foreach { frag =>
      throw new java.io.IOException(s"injected create failure under $frag: $f")
    }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean =
    if (FaultFs.renameFault && src.toString.contains("/_compact_tmp/") &&
        !dst.toString.contains("/_compact_tmp")) false
    else super.rename(src, dst)
}

object FaultFs {
  val Scheme = "faultfs"
  val Uri: URI = URI.create(s"$Scheme:///")

  // JVM-global: local-mode tasks run in the same JVM as the spec
  @volatile private var createFault: Option[String] = None
  @volatile private var renameFault = false

  /** Make `faultfs://` paths resolve to this filesystem in `spark`. */
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[FaultFs].getName)

  /** A fresh local temp directory, addressed through `faultfs`. */
  def tempDir(prefix: String): String =
    s"$Scheme://" + java.nio.file.Files.createTempDirectory(prefix)

  /** Run `body` with every `create` under `fragment` throwing. */
  def failingCreate[T](fragment: String)(body: => T): T = {
    createFault = Some(fragment)
    try body finally createFault = None
  }

  /** Run `body` with renames out of `_compact_tmp` returning false. */
  def failingRenames[T](body: => T): T = {
    renameFault = true
    try body finally renameFault = false
  }
}
