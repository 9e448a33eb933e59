package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption, Path => JPath}
import java.util.Comparator

/** A commit that lost to a version committed since its read: the
  * manifest claim found the version taken, or the version a write's
  * inputs were read at is no longer the latest. The one failure a
  * commutative commit (append, key delete) retries; every other commit
  * surfaces it. */
final class CommitConflict(msg: String) extends IllegalStateException(msg)

/** The commit seam: every crash-safe publish in this library reduces
  * to ONE primitive — make a small control file (a manifest, a version
  * claim) visible at a destination all-or-nothing, failing cleanly if
  * the destination already exists. The path's scheme picks the
  * implementation, in [[Commit.putIfAbsent]] only — Delta's LogStore
  * split (public design: HDFSLogStore renames, S3DynamoDBLogStore /
  * conditional-put stores create):
  *
  *   - `file://` (or no scheme): content goes to a uniquely-named
  *     sibling that is hard-linked into place — `link(2)` is atomic and
  *     fails on an existing destination, so the link IS the claim.
  *   - Object stores (S3/MinIO — the substrate the reference actually
  *     runs on, ref: mnt/spark-conf/spark-defaults.conf:4-10): rename
  *     is COPY+DELETE, not atomic, so the commit is a conditional put —
  *     create-if-absent of the whole object, which S3 exposes as
  *     `If-None-Match: *`.
  *   - Every other scheme (HDFS above all): stage-and-rename. There
  *     rename is atomic AND fails on an existing destination, so it
  *     doubles as the claim check. Rename is never used where it would
  *     replace the destination (POSIX) or copy (object stores).
  *
  * Data files never need the primitive: they are written ONCE into
  * uniquely-named immutable locations and become visible only when a
  * control file referencing them commits ([[graft.ext.Versioned]]'s
  * layout). Only the pointer flip must be atomic.
  */
private[graft] object Commit {

  /** Schemes where create/close maps to ONE whole-object PUT, so the
    * name claim and the content publish are the same atomic step. On
    * anything else (HDFS above all), create-no-overwrite claims the
    * NAME atomically but the content streams afterwards — a crash
    * between create and close would leave a visible partial manifest —
    * so those stage and rename instead. */
  private val wholeObjectPutSchemes =
    Set("s3a", "s3n", "s3", "gs", "abfs", "abfss", "wasb", "wasbs", "oss", "cos")

  /** Publish `content` at `dst` all-or-nothing iff `dst` is absent.
    * Returns true when this call committed; false when the claim was
    * lost (dst already exists — a concurrent writer won). Readers
    * never observe a partial `dst`. */
  def putIfAbsent(fs: FileSystem, dst: Path, content: Array[Byte]): Boolean = {
    val scheme = Option(dst.toUri.getScheme).getOrElse(fs.getUri.getScheme)
    if (scheme == "file" || scheme == null) linkIntoPlace(dst, content)
    else if (wholeObjectPutSchemes.contains(scheme)) {
      val out =
        try fs.create(dst, false)
        catch {
          // only a LOST CLAIM maps to false; genuine IO failures
          // (permissions, quota, connectivity) must surface, not be
          // masked as a commit conflict
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
          case _: java.nio.file.FileAlreadyExistsException        => return false
        }
      try out.write(content)
      finally out.close()
      true
    } else stageAndRename(fs, dst, content)
  }

  /** The local branch: write a uniquely-named sibling, hard-link it
    * into place (a reader sees no manifest or the complete one, and
    * two racers cannot both win), drop the sibling. */
  private def linkIntoPlace(dst: Path, content: Array[Byte]): Boolean = {
    val target = Paths.get(dst.toUri.getPath)
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, s".put-${dst.getName}", ".tmp")
    try {
      Files.write(tmp, content)
      try { Files.createLink(target, tmp); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          // no hardlinks on this FS: degrade to claim-then-move
          // (check→move is two steps — the single-writer caveat)
          if (Files.exists(target)) false
          else { Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE); true }
      }
    } finally Files.deleteIfExists(tmp)
  }

  /** The rename branch: write a staging name beside the destination,
    * then rename into place — the rename IS the commit, and on HDFS
    * semantics rename-to-existing fails, so it is the claim check too.
    * The staging name must NOT share dst's extension: a directory
    * lister keyed on the suffix (Versioned.versions() matches
    * *.manifest) would otherwise see the in-flight stage — or, after a
    * crash mid-commit, a permanent stray — as a committed name. And it
    * must be unique PER ATTEMPT: two writers racing the same
    * destination with a shared staging name would truncate each
    * other's half-written stage. */
  private def stageAndRename(fs: FileSystem, dst: Path, content: Array[Byte]): Boolean = {
    val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val tmp = new Path(dst.getParent, s".tmp-${dst.getName}.$nonce.staging")
    val out = fs.create(tmp, true)
    try out.write(content)
    finally out.close()
    if (fs.exists(dst) || !fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      false
    } else true
  }
}

/** How a live, mutable table is stored, resolved, and atomically
  * replaced — the seam between "what the rewrite computes" (upsert,
  * compaction, MV refresh) and "how the new state becomes visible".
  *
  *   - [[SwapStore]]: the table IS a directory; replace = sibling-tmp
  *     write + directory rename swap. Fast, zero indirection, crash
  *     windows closed by [[SwapStore.recover]] — but the
  *     guarantee holds ONLY where directory rename is atomic
  *     (HDFS/POSIX). The default, matching every existing call site.
  *   - [[ManifestStore]]: the table is a POINTER — immutable
  *     uniquely-named data dirs published by a single manifest-file
  *     commit through [[Commit.putIfAbsent]]
  *     ([[graft.ext.Versioned]]'s layout). On an object store that is
  *     a conditional put with no rename on any path; everywhere, a
  *     crash before the manifest commit leaves only an invisible
  *     orphan dir (reclaimed by [[Versioned.pruneVersions]]), and
  *     there is NO window in which the live table is missing or
  *     partial. Reads resolve the newest manifest — one small-file
  *     read of indirection, the price Delta's log pays too.
  */
sealed trait TableStore {
  def name: String
  def exists(spark: SparkSession, path: String): Boolean
  /** Resolve the current live state. */
  def readLive(spark: SparkSession, path: String): DataFrame
  /** Repair any interrupted publish. Safe to call any time. */
  def recover(spark: SparkSession, path: String): Unit
  /** Crash-safely replace (or bootstrap) the table: `write` receives
    * a scratch location and must produce the complete new state
    * there; reading the CURRENT live state inside `write` is safe —
    * nothing has moved yet. */
  def rewrite(spark: SparkSession, path: String)(write: String => Unit): Unit

  /** (path, bytes) of every parquet file in the CURRENT live state —
    * for a manifest store that is the newest version's file set, not
    * everything on disk (older versions' immutable files coexist
    * until pruned). */
  def liveFiles(spark: SparkSession, path: String): Seq[(String, Long)]
}

private[ext] object CommitFiles {
  def parquetUnder(spark: SparkSession, roots: Seq[String]): Seq[(String, Long)] =
    roots.flatMap { r =>
      val hPath = new Path(r)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.exists(hPath), s"no table at $r")
      val it = fs.listFiles(hPath, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) buf += ((f.getPath.toString, f.getLen))
      }
      buf.toSeq
    }
}

object SwapStore extends TableStore {
  val name = "swap"

  def exists(spark: SparkSession, path: String): Boolean =
    Files.exists(Paths.get(path))

  def readLive(spark: SparkSession, path: String): DataFrame =
    graft.Tables.readParquetNoInfer(spark, Seq(path))

  def recover(spark: SparkSession, path: String): Unit = {
    val (dir, old, tmp) = swapPaths(path)
    if (!Files.exists(dir) && Files.exists(old))
      Files.move(old, dir, StandardCopyOption.ATOMIC_MOVE)
    if (Files.exists(old)) deleteRecursively(old)
    if (Files.exists(tmp)) deleteRecursively(tmp)
  }

  def liveFiles(spark: SparkSession, path: String): Seq[(String, Long)] =
    CommitFiles.parquetUnder(spark, Seq(path))

  /** The crash-safe rewrite protocol, usable by any whole-table
    * rewriter (upsert, [[Maintenance]] compaction, the IVF index
    * swaps): `write` produces the replacement table at the tmp path
    * it is handed, then live → `__old`, tmp → live, delete `__old`.
    * A bootstrap (no live dir yet) stages to the same tmp and moves it
    * into place, so a crashed bootstrap never leaves a partial dir a
    * later call would read as the table. Every crash window is
    * repaired by [[recover]], which runs first: a missing live dir
    * with `__old` present is restored, leftover `__old`/tmp dirs
    * beside a live dir are garbage-collected. */
  def rewrite(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    recover(spark, path)
    val (dir, old, tmp) = swapPaths(path)
    write(tmp.toString)
    if (Files.exists(dir)) {
      Files.move(dir, old, StandardCopyOption.ATOMIC_MOVE)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      deleteRecursively(old)
    } else Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
  }

  /** (live, `__old`, `__upsert_tmp`) — the swap's sibling dirs. */
  private def swapPaths(path: String): (JPath, JPath, JPath) = {
    val base = path.stripSuffix("/")
    (Paths.get(path), Paths.get(base + "__old"), Paths.get(base + "__upsert_tmp"))
  }

  private def deleteRecursively(p: JPath): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[JPath]()).forEach(f => Files.delete(f))
}

object ManifestStore extends TableStore {
  val name = "manifest"

  def exists(spark: SparkSession, path: String): Boolean =
    Versioned.latestVersion(spark, path).nonEmpty

  def readLive(spark: SparkSession, path: String): DataFrame =
    Versioned.readLatest(spark, path)

  /** Nothing to repair: an uncommitted data dir is invisible to every
    * reader (no manifest references it) and the next write of that
    * version clears it; [[Versioned.pruneVersions]] reclaims old
    * orphans. That no-op recovery is the point of the layout. */
  def recover(spark: SparkSession, path: String): Unit = ()

  def rewrite(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    Versioned.writeVersionWith(spark, path)(write)
    ()
  }

  def liveFiles(spark: SparkSession, path: String): Seq[(String, Long)] =
    Versioned.liveFiles(spark, path)
}
