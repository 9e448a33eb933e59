package graft.hadoop

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{DelegateToFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** Local-filesystem performance shim (optimization guide §6: I/O layer).
  *
  * On a host without the native-hadoop library (`NativeCodeLoader`
  * warns at session start), `RawLocalFileSystem.setPermission` falls
  * back to `Shell.execCommand("chmod", …)` — a FORK+EXEC of a child
  * process for EVERY file create and EVERY mkdir. In a 32-thread
  * local JVM each fork costs 5–20 ms of driver/task time (page-table
  * copy of a multi-GB heap), and a single versioned commit performs
  * dozens of creates (task files, _temporary dirs, the manifest,
  * checkpoints, stream offset/commit logs). Thread dumps of the
  * protocol meters showed `ProcessImpl.forkAndExec` as a top driver
  * frame. The checksum layer doubles the damage: every data file
  * gets a sibling `.crc` create (with its own chmod fork).
  *
  * Neither chmod-to-the-default-umask nor local .crc sidecars buys
  * anything in this deployment, so this shim registers a local
  * filesystem whose `setPermission` is a no-op and whose checksum
  * write/verify are off. It binds to the `file://` scheme only —
  * production tables live on hdfs:// or object stores, where the
  * scheme never consults this class, so nothing here is a
  * local-mode-only tuning of distributed behavior: it removes a
  * local-FS environment artifact (the missing native lib).
  *
  * An explicitly configured `fs.file.impl` is always respected, which
  * is also the opt-out: `spark.hadoop.fs.file.impl=
  * org.apache.hadoop.fs.LocalFileSystem` keeps Hadoop's stock local FS.
  */
class NoChmodRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = ()
}

/** `fs.file.impl`: the FileSystem-API face (batch reads/writes,
  * commit protocols, manifest IO). */
class FastLocalFileSystem extends LocalFileSystem(new NoChmodRawLocalFileSystem) {
  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    setWriteChecksum(false)
    setVerifyChecksum(false)
  }
}

/** `fs.AbstractFileSystem.file.impl`: the FileContext face — Spark's
  * streaming checkpoint manager (offset/commit logs) goes through
  * FileContext, which resolves this hierarchy, not `fs.file.impl`.
  * Mirrors Hadoop's own `RawLocalFs` delegate shape (checksums were
  * already absent on this path's default only via ChecksumFs; the
  * delegate skips that layer entirely, like object-store schemes do). */
class FastLocalAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoChmodRawLocalFileSystem, conf, "file", false)

object FastLocalFs {
  @volatile private var installed = false

  /** Swap the `file://` scheme to the no-chmod/no-crc implementation,
    * once per JVM, before any long-lived reference to the old
    * instance can exist (first [[graft.Tables.configure]]). The
    * FileSystem cache is flushed so the already-instantiated default
    * local FS (session startup touches it) is not served stale. */
  def install(spark: SparkSession): Unit = {
    if (installed) return
    synchronized {
      if (installed) return
      val hc = spark.sparkContext.hadoopConfiguration
      if (hc.get("fs.file.impl") == null) {
        hc.setClass("fs.file.impl", classOf[FastLocalFileSystem],
          classOf[org.apache.hadoop.fs.FileSystem])
        if (hc.get("fs.AbstractFileSystem.file.impl") == null)
          hc.setClass("fs.AbstractFileSystem.file.impl", classOf[FastLocalAbstractFs],
            classOf[org.apache.hadoop.fs.AbstractFileSystem])
        // evict ONLY the file:// entry from the FileSystem cache (the
        // session startup already instantiated the default local FS):
        // a blanket closeAll() would close every cached FileSystem in
        // the JVM across all schemes/users, leaving any component that
        // grabbed a reference earlier (event log writer, a started
        // streaming checkpoint manager) holding a closed instance.
        try org.apache.hadoop.fs.FileSystem.get(new URI("file:///"), hc).close()
        catch { case _: java.io.IOException => () }
      }
      installed = true
    }
  }
}
