package graft.table

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FilterFileSystem, Path, RawLocalFileSystem, UnsupportedFileSystemException}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** A filesystem under its own scheme, known only to the settings below. */
class ConfProbeFileSystem extends FilterFileSystem(new RawLocalFileSystem) {
  override def initialize(name: URI, conf: Configuration): Unit = {
    fs.initialize(URI.create("file:///"), conf)
    super.initialize(name, conf)
  }
  override def getScheme: String = "confprobe"
  override def getUri: URI = URI.create("confprobe:///")
}

/** Its FileContext side: creating one is all a spec needs to see. */
class ConfProbeAbstractFileSystem(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new ConfProbeFileSystem, conf, "confprobe", false) {
  throw new IllegalStateException(ConfProbeAbstractFileSystem.Created)
}

object ConfProbeAbstractFileSystem {
  val Created = "confprobe FileContext created"
}

class TableIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("one Hadoop conf copy serves calls until the session's settings change") {
    spark.range(1).count() // an active session
    val first = TableIO.hadoopConf
    assert(TableIO.hadoopConf eq first)
    spark.conf.set("spark.graft.spec.conf.probe", "1")
    try {
      val changed = TableIO.hadoopConf
      assert(!(changed eq first))
      assert(changed.get("spark.graft.spec.conf.probe") == "1")
    } finally spark.conf.unset("spark.graft.spec.conf.probe")
  }

  test("an in-place change to the context's Hadoop configuration reaches the next call") {
    spark.range(1).count()
    val base = spark.sparkContext.hadoopConfiguration
    val key = "fs.graftspec.endpoint"
    base.set(key, "a")
    try {
      assert(TableIO.hadoopConf.get(key) == "a")
      assert(TableIO.hadoopConf eq TableIO.hadoopConf)
      // the same keys, one value rotated
      base.set(key, "b")
      assert(TableIO.hadoopConf.get(key) == "b")
    } finally base.unset(key)
  }

  test("an fs.* setting made on the session after the first call reaches FileSystem and FileContext creation") {
    spark.range(1).count()
    val p = new Path("confprobe:/a")
    TableIO.hadoopConf
    intercept[UnsupportedFileSystemException](TableIO.fs(p))
    spark.conf.set("fs.confprobe.impl", classOf[ConfProbeFileSystem].getName)
    spark.conf.set("fs.AbstractFileSystem.confprobe.impl",
      classOf[ConfProbeAbstractFileSystem].getName)
    try {
      assert(TableIO.fs(p).isInstanceOf[ConfProbeFileSystem])
      // not a local filesystem, so the rename goes through FileContext
      val e = intercept[Exception](TableIO.rename(p, new Path("confprobe:/b")))
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => String.valueOf(c.getMessage)
        .contains(ConfProbeAbstractFileSystem.Created)), e.toString)
    } finally {
      spark.conf.unset("fs.confprobe.impl")
      spark.conf.unset("fs.AbstractFileSystem.confprobe.impl")
    }
  }
}
