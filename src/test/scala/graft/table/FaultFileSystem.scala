package graft.table

import java.net.URI
import java.util.concurrent.CompletableFuture

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, FSDataInputStream, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.impl.OpenFileParameters
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only Hadoop filesystem: a local directory served under its own
  * scheme, `faultfs:/p` being `<FaultFileSystem.localRoot>/p` on disk.
  * A table addressed through it is reachable ONLY through Hadoop's
  * FileSystem API — `faultfs:/t` has no `java.nio` twin at `/t` — so
  * it stands in for a remote store (hdfs://, s3a://) in specs that
  * must prove a code path never falls back to local-disk probes.
  *
  * Every data and metadata call passes [[FaultFileSystem.hook]] first
  * with the operation name and the `faultfs:` path, so a spec can
  * record the calls it cares about or throw to inject a fault.
  * Register it with [[FaultFileSystem.register]].
  */
class FaultFileSystem extends FilterFileSystem(new RawLocalFileSystem) {
  import FaultFileSystem._

  override def initialize(name: URI, conf: Configuration): Unit = {
    fs.initialize(URI.create("file:///"), conf)
    super.initialize(name, conf)
  }

  override def getScheme: String = Scheme
  override def getUri: URI = URI.create(s"$Scheme:///")
  override def getWorkingDirectory: Path = new Path(s"$Scheme:/")
  override def makeQualified(p: Path): Path =
    p.makeQualified(getUri, getWorkingDirectory)
  override protected def checkPath(p: Path): Unit = {
    val s = p.toUri.getScheme
    require(s == null || s == Scheme, s"Wrong FS: $p, expected: $Scheme:///")
  }

  /** `faultfs:/p` → `file:<localRoot>/p`. */
  private def toLocal(p: Path): Path =
    new Path("file", null, localRoot + makeQualified(p).toUri.getPath)

  /** A local status re-addressed under `faultfs:`. */
  private def fromLocal(st: FileStatus): FileStatus = {
    val rel = st.getPath.toUri.getPath.stripPrefix(localRoot)
    new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, makeQualified(new Path(if (rel.isEmpty) "/" else rel)))
  }

  private def call[T](op: String, p: Path)(f: => T): T = {
    hook(op, makeQualified(p))
    f
  }

  override def getFileStatus(p: Path): FileStatus =
    call("getFileStatus", p)(fromLocal(fs.getFileStatus(toLocal(p))))
  override def listStatus(p: Path): Array[FileStatus] =
    call("listStatus", p)(fs.listStatus(toLocal(p)).map(fromLocal))
  override def open(p: Path, bufferSize: Int): FSDataInputStream =
    call("open", p)(fs.open(toLocal(p), bufferSize))
  override protected def openFileWithOptions(p: Path, params: OpenFileParameters)
      : CompletableFuture[FSDataInputStream] =
    CompletableFuture.completedFuture(open(p, params.getBufferSize))
  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    call("create", p)(fs.create(toLocal(p), permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    call("rename", src)(fs.rename(toLocal(src), toLocal(dst)))
  override def delete(p: Path, recursive: Boolean): Boolean =
    call("delete", p)(fs.delete(toLocal(p), recursive))
  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    call("mkdirs", p)(fs.mkdirs(toLocal(p), permission))
}

object FaultFileSystem {
  val Scheme = "faultfs"

  /** The local directory `faultfs:/` maps to — one per JVM. */
  lazy val localRoot: String =
    java.nio.file.Files.createTempDirectory("faultfs").toRealPath().toString

  /** Called before every filesystem call with (operation, path). */
  @volatile var hook: (String, Path) => Unit = (_, _) => ()

  /** Serve `faultfs:` paths in this session (`fs.faultfs.impl`). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[FaultFileSystem].getName)

  /** `faultfs:/rel` for a path under [[localRoot]]. */
  def pathOf(local: String): String = {
    require(local.startsWith(localRoot + "/"), s"$local is not under $localRoot")
    s"$Scheme:${local.stripPrefix(localRoot)}"
  }

  /** Run `f` with every call recorded; returns (result, calls). */
  def recording[T](f: => T): (T, Seq[(String, Path)]) = {
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[(String, Path)]
    hook = (op, p) => calls.add(op -> p)
    try {
      val r = f
      import scala.jdk.CollectionConverters._
      (r, calls.asScala.toSeq)
    } finally hook = (_, _) => ()
  }
}
