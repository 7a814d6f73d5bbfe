package graft.table

import java.io.{InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** Hadoop-FileSystem I/O for the whole metadata plane — status.json,
  * the commit log, bloom sidecars, schema.json, MV catalogs, lock
  * leases and streaming-source marks. The reference store is
  * Hadoop-FS-native end to end (splits and pruning over DFS paths in
  * hadoop/src/main/java/org/carbondata/hadoop/CarbonInputFormat.java:76-481,
  * HDFS locking in core/src/main/java/org/carbondata/core/locks/
  * HdfsFileLock.java); routing every metadata byte through this object
  * is what lets a graft table live on `hdfs://`/`s3a://` like the
  * reference's, not just on the driver's local disk.
  *
  * Commit discipline: every pointer flip is write-temp + atomic
  * overwriting rename — but THE atomic primitive is scheme-specific
  * (the same dispatch every production LogStore implementation makes):
  *
  *  - HDFS: `FileContext.rename(…, Options.Rename.OVERWRITE)` — one
  *    atomic namenode op (what Spark's checkpoint manager relies on).
  *  - local: POSIX `rename(2)` via java.nio ATOMIC_MOVE. Hadoop's own
  *    local rename-with-overwrite is DELETE-then-rename (a racing
  *    reader observes a missing file), and the checksummed
  *    LocalFileSystem pairs every file with a `.crc` sidecar that
  *    swaps non-atomically (a racing reader observes new data with a
  *    stale checksum). So local paths resolve to the RAW local
  *    filesystem throughout — no checksum plane, true atomic replace.
  *  - object stores without atomic rename (S3A) degrade to
  *    copy-then-delete; there the metadata lock keeps writers from
  *    colliding and readers can transiently re-read — the standard
  *    caveat for any rename-committed format on S3.
  */
object TableIO {

  /** The active session's Hadoop configuration (it carries
    * `fs.s3a.*`/`fs.defaultFS` and kerberos settings the data plane
    * already uses), falling back to a plain Configuration in
    * driver-less contexts (e.g. a bare `SegmentedTable.exists` probe
    * before any session is built).
    */
  def hadoopConf: Configuration =
    SparkSession.getActiveSession.map(sessionHadoopConf)
      .getOrElse(new Configuration())

  /** (the session's SQL settings, the context's Hadoop configuration
    * and the hash of its entries, the copy built from them).
    */
  @volatile private var confCache: (Map[String, String], Configuration, Int, Configuration) = _

  /** A Configuration's entries; `getProps` is protected. */
  private val propsOf: Option[java.lang.reflect.Method] = scala.util.Try {
    val m = classOf[Configuration].getDeclaredMethod("getProps")
    m.setAccessible(true)
    m
  }.toOption

  /** `newHadoopConf()` copies the whole Hadoop configuration (130–180
    * µs) and a commit makes dozens of metadata calls, so one copy serves
    * every call until the session's SQL settings change or the
    * context's Hadoop configuration does — a key added, removed or set
    * in place, seen through the hash of its entries (~8 µs; a changed
    * value whose string hash collides with the old one is missed).
    * Without access to the entries every call copies. The copy is
    * shared: callers only read it.
    */
  private def sessionHadoopConf(spark: SparkSession): Configuration = {
    val settings = spark.sessionState.conf.getAllConfs
    val base = spark.sparkContext.hadoopConfiguration
    val c = confCache
    val hash = propsOf.map(_.invoke(base).hashCode)
    if (c != null && (c._2 eq base) && hash.contains(c._3) && c._1 == settings) c._4
    else {
      val built = spark.sessionState.newHadoopConf()
      confCache = (settings, base, hash.getOrElse(0), built)
      built
    }
  }

  /** FileSystem instances are cached by Hadoop per (scheme, authority,
    * ugi) — a map lookup after the first call. Local paths (whether
    * spelled `file:` or scheme-less under a local defaultFS) resolve
    * to the RAW local filesystem: metadata files must not carry `.crc`
    * sidecars, whose non-atomic pair-swap breaks racing readers (see
    * the object doc).
    */
  def fs(p: Path): FileSystem = p.getFileSystem(hadoopConf) match {
    case l: LocalFileSystem => l.getRaw
    case other => other
  }

  /** True when `p` resolves to the driver's local disk — where the
    * sharper cache identity (inode) and the truly atomic primitives
    * (rename(2), O_CREAT|O_EXCL) live. Resolved through the
    * CONFIGURED filesystem, not the scheme string, so a scheme-less
    * path under an hdfs:// defaultFS is correctly non-local.
    */
  def isLocal(p: Path): Boolean = fs(p) match {
    case _: RawLocalFileSystem => true
    case _ => false
  }

  /** The java.nio view of a local path (valid only when [[isLocal]]). */
  private def localPath(p: Path): java.nio.file.Path =
    java.nio.file.Paths.get(p.toUri.getPath)

  def exists(p: Path): Boolean = fs(p).exists(p)

  def isDirectory(p: Path): Boolean =
    try fs(p).getFileStatus(p).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  def mkdirs(p: Path): Unit = fs(p).mkdirs(p)

  /** Delete a file or directory tree; absent paths are a no-op. */
  def delete(p: Path): Unit = {
    val f = fs(p)
    if (f.exists(p)) f.delete(p, true)
  }

  /** Children of `dir` (empty when absent) — one listing RPC; the
    * returned statuses carry length + mtime so callers never re-stat.
    */
  def listStatus(dir: Path): Seq[FileStatus] = {
    val f = fs(dir)
    if (!f.exists(dir)) Nil else f.listStatus(dir).toSeq
  }

  def mtime(p: Path): Long = fs(p).getFileStatus(p).getModificationTime

  def setMTime(p: Path, ms: Long): Unit = fs(p).setTimes(p, ms, -1)

  def open(p: Path): InputStream = fs(p).open(p)

  def createOverwrite(p: Path): OutputStream = fs(p).create(p, true)

  def readString(p: Path): String = {
    val in = fs(p).open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Plain (non-atomic) write — for temp files that a rename will
    * commit; never call this on a path readers resolve directly.
    */
  def writeString(p: Path, s: String): Unit = {
    val out = fs(p).create(p, true)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  /** Write-temp + atomic overwriting rename: the commit primitive for
    * every metadata pointer (status.json, schema.json, MV metas,
    * streaming marks).
    */
  def writeStringAtomic(p: Path, s: String): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp${System.nanoTime()}")
    writeString(tmp, s)
    renameOverwrite(tmp, p)
  }

  /** Atomic rename that REPLACES an existing destination. Local:
    * rename(2) (ATOMIC_MOVE — Hadoop's local overwrite-rename is
    * delete+rename, which a racing reader observes). DFS: FileContext
    * with Options.Rename.OVERWRITE — atomic on HDFS.
    */
  def renameOverwrite(src: Path, dst: Path): Unit =
    if (isLocal(dst))
      java.nio.file.Files.move(localPath(src), localPath(dst),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    else
      fileContext(dst).rename(src, dst, Options.Rename.OVERWRITE)

  /** Atomic rename that requires the destination to be absent (the
    * segment-dir promotion move) — fails loudly instead of merging or
    * clobbering.
    */
  def rename(src: Path, dst: Path): Unit =
    if (isLocal(dst))
      java.nio.file.Files.move(localPath(src), localPath(dst),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    else
      fileContext(dst).rename(src, dst, Options.Rename.NONE)

  private def fileContext(p: Path): FileContext = {
    val u = p.toUri
    if (u.getScheme == null) FileContext.getFileContext(hadoopConf)
    else FileContext.getFileContext(u, hadoopConf)
  }

  /** Atomic create-if-absent of a small file with `content`; returns
    * false when the path already exists — the lease-lock acquisition
    * primitive (reference HdfsFileLock.java locks with exactly this
    * namenode-atomic create). On the LOCAL filesystem Hadoop's create
    * is check-then-create (racy), so local paths drop to
    * O_CREAT|O_EXCL via java.nio, which IS atomic.
    */
  def atomicCreate(p: Path, content: String): Boolean =
    if (isLocal(p)) {
      try {
        java.nio.file.Files.write(localPath(p), content.getBytes(UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try {
        val out = fs(p).create(p, false) // HDFS: atomic at the namenode
        try out.write(content.getBytes(UTF_8)) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.io.IOException if exists(p) => false
      }
    }

  /** Identity of a file's CURRENT content, for rename-keyed caches: a
    * commit always renames a fresh temp file over the pointer, so the
    * identity changes with every commit. Local files use (inode, size,
    * mtime-nanos) — collision-free. DFS statuses expose only (length,
    * mtime-millis); the residual window (two commits in the same
    * millisecond with identical byte length, observed by a THIRD
    * process in between) is closed in-process by writers seeding the
    * cache with what they just committed, and is narrower than an HDFS
    * rename RPC cross-process.
    */
  def contentIdentity(p: Path): AnyRef =
    if (isLocal(p)) {
      val attrs = java.nio.file.Files.readAttributes(localPath(p),
        classOf[java.nio.file.attribute.BasicFileAttributes])
      (Option(attrs.fileKey()).map(_.toString).getOrElse(""),
        attrs.size(), attrs.lastModifiedTime().toInstant)
    } else {
      val st = fs(p).getFileStatus(p)
      (st.getLen, st.getModificationTime)
    }

  /** Fully-qualified form — the canonical cache key for a path that
    * different callers may spell with or without a scheme.
    */
  def qualified(p: Path): String = fs(p).makeQualified(p).toString
}
