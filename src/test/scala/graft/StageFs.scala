package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** The local filesystem under its own scheme, `stagefs://`, with
  * HDFS's rename contract: a rename onto an existing destination
  * fails instead of replacing it. A table on a `stagefs://` path
  * therefore commits through the stage-and-rename branch of
  * [[graft.ext.Commit.putIfAbsent]], on local disk. Renames into a
  * `_versions/` dir are counted, so a test can see how many control
  * files were published by rename. */
class StageFs extends graft.hadoop.NoChmodRawLocalFileSystem {
  override def getUri: URI = StageFs.Root
  override def getScheme: String = StageFs.Scheme

  // the local statuses load their permissions through java.io.File,
  // which accepts only file: paths — hand out plain statuses instead
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)

  private def plain(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime, null, "", "", st.getPath)

  override def rename(src: Path, dst: Path): Boolean =
    if (exists(dst)) false
    else {
      val ok = super.rename(src, dst)
      if (ok && Option(dst.getParent).exists(_.getName == "_versions"))
        StageFs.versionRenames.incrementAndGet()
      ok
    }
}

object StageFs {
  val Scheme = "stagefs"
  private val Root = URI.create(s"$Scheme:///")

  /** Renames into a `_versions/` dir since the JVM started. */
  val versionRenames = new AtomicInteger()

  /** `localDir` addressed through `stagefs://`, with the scheme
    * registered on the session's Hadoop configuration. */
  def qualify(spark: SparkSession, localDir: String): String = {
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[StageFs].getName)
    s"$Scheme://$localDir"
  }
}
