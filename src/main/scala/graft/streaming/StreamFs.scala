package graft.streaming

import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** Filesystem facade for the streaming commit protocols — the batch-dir
  * stores' [[BatchStore]], [[Scd2Stream]]'s history swap and the
  * [[CompactionLock]] — routed through
  * `org.apache.hadoop.fs.FileContext` instead of `java.io.File` so the
  * rename/marker contract holds on every Hadoop-reachable store (local,
  * HDFS, object stores via their connectors), not just the local POSIX
  * filesystem. Under a `GraftSession.builder` session, `file:` (and
  * scheme-less) paths resolve to [[graft.NioLocalFs]]: Hadoop's
  * checksumming LocalFs over a raw filesystem that sets modes and checks
  * for symlinks through `java.nio` instead of spawning `chmod` and
  * `readlink` (stock Hadoop does that without its native library: two
  * `readlink` per rename, one `chmod` per created file or dir, each spawn
  * costing milliseconds of every protocol step). Its renames are the same
  * atomic POSIX renames the protocols relied on before, and each write
  * still leaves its `.crc` sibling — FsContractSpec drives the full
  * protocols through that wrapper to prove no `java.io.File` assumption
  * remains.
  *
  * Durability notes: `hsync` is attempted on every protocol-metadata
  * write and ignored where a wrapper doesn't support it (checksummed
  * local FS) — there the contract covers process crashes, as before.
  * Atomicity notes: directory renames are atomic where the store provides
  * atomic rename (POSIX, HDFS); on stores that don't, the batch-dir
  * protocols do not trust rename visibility — commit is a marker FILE
  * created after the data is in place, and readers/recovery treat any
  * unmarked directory as uncommitted debris. The stream faces' local
  * temp state dirs are not this facade's concern: [[FaceState]] owns
  * them.
  */
object StreamFs {

  private def conf: Configuration =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()

  private def fc(p: Path): FileContext = {
    val uri = p.toUri
    if (uri.getScheme == null) FileContext.getFileContext(conf)
    else FileContext.getFileContext(uri, conf)
  }

  def exists(p: String): Boolean = {
    val path = new Path(p)
    fc(path).util.exists(path)
  }

  /** Recursive delete; no-op when absent. */
  def delete(p: String): Unit = {
    val path = new Path(p)
    val c = fc(path)
    if (c.util.exists(path)) c.delete(path, true)
    ()
  }

  def mkdirs(p: String): Unit = {
    val path = new Path(p)
    fc(path).mkdir(path, FsPermission.getDirDefault, true)
  }

  /** Child names of a directory (empty when absent). */
  def listNames(p: String): Seq[String] = {
    val path = new Path(p)
    val c = fc(path)
    if (!c.util.exists(path)) Seq.empty
    else c.util.listStatus(path).map(_.getPath.getName).toSeq
  }

  /** True when the directory holds at least one DATA file — anything
    * not underscore/dot-prefixed (protocol markers, _SUCCESS, hidden
    * files). Readers exclude marker-only batch dirs (post-compaction
    * id tombstones) from `spark.read.parquet` paths EXPLICITLY with
    * this, rather than leaning on Spark's hidden-file filter to skip a
    * dir that contains only the commit marker (round-13 ADVICE: a marker
    * rename, a non-Spark reader, or a file-index behavior change must
    * not break the read). A legitimately committed EMPTY batch (zero
    * part files) is also excluded — there is nothing to read. */
  def hasDataFiles(p: String): Boolean =
    listNames(p).exists(n => !n.startsWith("_") && !n.startsWith("."))

  /** Rename failing loudly if the destination exists (every directory
    * swap in the protocols renames onto a fresh destination). */
  def renameOrThrow(src: String, dst: String): Unit =
    fc(new Path(src)).rename(new Path(src), new Path(dst))

  /** File rename that replaces an existing destination atomically where
    * the store supports it (protocol-metadata files only). */
  private def renameOverwrite(src: String, dst: String): Unit =
    fc(new Path(src)).rename(new Path(src), new Path(dst),
      Options.Rename.OVERWRITE)

  def readString(p: String): Option[String] = {
    val path = new Path(p)
    val c = fc(path)
    if (!c.util.exists(path)) None
    else {
      val in = c.open(path)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Write + best-effort sync (a wrapper FS may not support hsync — then
    * the durability story covers process crashes, as before; on the local
    * scheme a real fd sync is attempted so power-loss durability matches
    * the pre-facade protocol). */
  private def writeFile(p: String, content: String): Unit = {
    val path = new Path(p)
    val out = fc(path).create(path,
      EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try {
      out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      try out.hsync() catch { case _: Exception => () }
    } finally out.close()
    localFsync(path, isDir = false)
  }

  /** Best-effort local-scheme fsync of a file or directory (persists the
    * bytes / the rename on power loss); non-local schemes rely on their
    * store's own visibility contract. */
  private def localFsync(path: Path, isDir: Boolean): Unit = {
    val uri = path.toUri
    if (uri.getScheme == null || uri.getScheme == "file") try {
      val local = java.nio.file.Paths.get(
        if (uri.getScheme == null) path.toString else uri.getPath)
      if (isDir) {
        val ch = java.nio.channels.FileChannel.open(local,
          java.nio.file.StandardOpenOption.READ)
        try ch.force(true) finally ch.close()
      } else {
        val raf = new java.io.RandomAccessFile(local.toFile, "r")
        try raf.getFD.sync() finally raf.close()
      }
    } catch { case _: Exception => () }
  }

  /** Write `content` to a sibling tmp file, then rename over `dst` — the
    * file is either absent, the previous version, or complete, never torn.
    * (The protocols' metadata files: markers, manifests, commit logs.) */
  def writeAtomicString(dst: String, content: String): Unit = {
    val tmp = dst + ".wtmp"
    writeFile(tmp, content)
    renameOverwrite(tmp, dst)
    localFsync(new Path(dst).getParent, isDir = true)
  }

  /** Create an (empty) commit-marker file — one atomic create/PUT; the
    * batch-dir protocols' commit point. */
  def createMarker(p: String): Unit = writeFile(p, "")

  /** ATOMIC create-if-absent (CreateFlag.CREATE without OVERWRITE):
    * throws if the path already exists — the lock-acquisition
    * primitive [[CompactionLock]] builds on (round-13 ADVICE: the old
    * exists()-then-create was a check-then-act race). */
  def createExclusive(p: String): Unit = {
    val path = new Path(p)
    val out = fc(path).create(path, EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.createParent())
    try { try out.hsync() catch { case _: Exception => () } }
    finally out.close()
  }

  /** Bump a file's modification time to now — the lock heartbeat. */
  def touch(p: String): Unit = touchAt(p, System.currentTimeMillis())

  /** Set a file's modification time explicitly (specs age locks with
    * this instead of sleeping through the staleness window). */
  def touchAt(p: String, mtimeMs: Long): Unit = {
    val path = new Path(p)
    fc(path).setTimes(path, mtimeMs, -1L)
  }

  /** Modification time in epoch millis, when the path exists. */
  def modificationTime(p: String): Option[Long] = {
    val path = new Path(p)
    val c = fc(path)
    if (!c.util.exists(path)) None
    else Some(c.getFileStatus(path).getModificationTime)
  }
}
