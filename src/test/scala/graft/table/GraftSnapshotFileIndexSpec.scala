package graft.table

import java.nio.file.{Files, Path => NioPath, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Reads named by the catalog: every graft-built segment scan reads
  * through a [[GraftSnapshotFileIndex]] whose files come from the
  * segments' recorded entries, with no listing.
  */
class GraftSnapshotFileIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Four segments of three part files each: segment i holds ids
    * i*1000 until (i+1)*1000, with `k = id % 7` beside them.
    */
  private def fourSegments(under: NioPath, props: Map[String, String] = Map.empty)
      : SegmentedTable = {
    val t = SegmentedTable.create(spark, under.resolve("t").toString,
      spark.range(0).withColumn("k", col("id") % 7).schema, props)
    (0 until 4).foreach(i => t.load(
      spark.range(i * 1000L, (i + 1) * 1000L, 1, 3).withColumn("k", col("id") % 7)))
    t
  }

  private def relationsOf(df: DataFrame): Seq[HadoopFsRelation] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h
    }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  test("staging records each segment's data files; bytes stay the content summary") {
    val t = fourSegments(Files.createTempDirectory("graft_ix_files"))
    t.showSegments().foreach { m =>
      val dir = new Path(t.root, s"segment_${m.id}")
      val listed = spark.read.parquet(dir.toString).inputFiles
        .map(f => new Path(f).getName).sorted.toSeq
      assert(m.files.map(_.map(_.path)) == Some(listed), m)
      assert(m.bytes == TableIO.fs(dir).getContentSummary(dir).getLength)
    }
  }

  test("_metadata, input_file_name, inputFiles and sizeInBytes equal a listing of the same dirs") {
    val t = fourSegments(Files.createTempDirectory("graft_ix_meta"))
    val dirs = LiveDirs.of(t)
    def described(df: DataFrame): DataFrame = df.select(col("id"),
      col("_metadata.file_path"), col("_metadata.file_name"),
      col("_metadata.file_size"), col("_metadata.file_modification_time"),
      input_file_name())
    val graftRead = t.read()
    val plainRead = spark.read.parquet(dirs: _*)
    assert(relationsOf(graftRead).map(_.location.getClass) ==
      Seq(classOf[GraftSnapshotFileIndex]))
    assert(rows(described(graftRead)) == rows(described(plainRead)))
    assert(graftRead.inputFiles.sorted.toSeq == plainRead.inputFiles.sorted.toSeq)
    assert(relationsOf(graftRead).head.location.sizeInBytes ==
      relationsOf(plainRead).head.location.sizeInBytes)
    assert(relationsOf(graftRead).head.location.rootPaths ==
      relationsOf(plainRead).head.location.rootPaths)
  }

  test("a self-join of read() reuses its exchange") {
    val t = fourSegments(Files.createTempDirectory("graft_ix_reuse"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // two read() calls: two indexes over one snapshot, equal
      val a = t.read().groupBy("k").agg(max("id").as("m"))
      val b = t.read().groupBy("k").agg(max("id").as("m2"))
      val j = a.join(b, "k")
      assert(j.collect().length == 7)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"), plan)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a catalog written before files were recorded still reads, prunes and time-travels") {
    val t = fourSegments(Files.createTempDirectory("graft_ix_legacy"))
    val pred = col("id") >= 2500
    val v = t.currentVersion
    t.deleteSegments(Seq(0))
    val (current, pruned, asOf) =
      (rows(t.read()), rows(t.read().where(pred)), rows(t.readAsOf(v)))
    // strip `files` from status.json and every log entry
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, parse, render}
    val meta = new Path(t.root, "_meta")
    val entries = new Path(meta, "status.json") +:
      TableIO.listStatus(new Path(meta, "log")).map(_.getPath)
    entries.foreach { p =>
      val stripped = parse(TableIO.readString(p)).removeField(_._1 == "files")
      TableIO.writeStringAtomic(p, compact(render(stripped)))
    }
    val old = SegmentedTable.open(spark, t.root.toString)
    assert(old.status.segments.forall(_.files.isEmpty))
    assert(rows(old.read()) == current)
    val prunedOld = old.read().where(pred)
    assert(rows(prunedOld) == pruned)
    assert(relationsOf(prunedOld).flatMap(_.location.rootPaths).map(_.getName) ==
      Seq("segment_2", "segment_3"))
    assert(rows(old.readAsOf(v)) == asOf)
    assert(current.size == 3000 && asOf.size == 4000)
  }

  test("a commit that retires a segment drops its file list; restore revives it") {
    val t = fourSegments(Files.createTempDirectory("graft_ix_retire"))
    val before = t.currentVersion
    val want = rows(t.read())
    t.compact()
    val (live, retired) = t.status.segments.partition(_.status == SegmentedTable.SUCCESS)
    assert(retired.size == 4 && retired.forall(_.files.isEmpty), retired)
    assert(live.size == 1 && live.forall(_.files.exists(_.nonEmpty)), live)
    // the snapshot's own log entry still names the files it read
    assert(t.statusAt(before).segments.forall(_.files.exists(_.nonEmpty)))
    assert(rows(t.readAsOf(before)) == want)
    t.restoreTo(before)
    val revived = t.status.segments.filter(_.status == SegmentedTable.SUCCESS)
    assert(revived.map(_.id).sorted == retired.map(_.id).sorted)
    assert(revived.forall(_.files.exists(_.nonEmpty)), revived)
    assert(rows(t.read()) == want)
  }

  test("a rollup's base listing of a segmented table lists no segment dir") {
    FaultFileSystem.register(spark)
    val t = fourSegments(
      Files.createTempDirectory(Paths.get(FaultFileSystem.localRoot), "ix_mv_base"))
    val remote = FaultFileSystem.pathOf(t.root.toString)
    val (print, calls) = FaultFileSystem.recording {
      graft.mv.AggTables.fingerprint(spark, remote)
    }
    val segDir = "/segment_\\d+$".r
    val listings = calls.collect {
      case ("listStatus", p) if segDir.findFirstIn(p.toString).isDefined => p }
    assert(listings.isEmpty, s"segment dirs listed: $listings")
    // the same files, lengths and mtimes as the local spelling names
    assert(print == graft.mv.AggTables.fingerprint(spark, t.root.toString))
  }

  test("planning a graft.default read over a time window keeps the V1 rule's segments") {
    spark.sql("DROP TABLE IF EXISTS graft.default.ix_window")
    spark.sql("CREATE TABLE graft.default.ix_window (id BIGINT, d DATE) USING graft")
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO graft.default.ix_window SELECT id, date_add(DATE'2020-01-01', " +
        s"CAST(id % 30 AS INT) + ${i * 30}) FROM range(${i * 100}, ${(i + 1) * 100})"))
    val window = "d >= DATE'2020-02-15' AND d < DATE'2020-03-20'"
    val v2 = spark.sql(s"SELECT * FROM graft.default.ix_window WHERE $window")
    val v2Dirs = v2.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        org.apache.spark.sql.graftbridge.GraftV2ScanSupport.unwrapRuntime(r.scan) match {
          case ps: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
            ps.fileIndex.rootPaths
          case other => fail(s"not a parquet scan: $other")
        }
    }.flatten
    val v1 = graft.sql.GraftCatalog.open(spark, "ix_window").read().where(window)
    val v1Dirs = relationsOf(v1).flatMap(_.location.rootPaths)
    assert(v2Dirs.map(_.getName).sorted == Seq("segment_1", "segment_2"))
    assert(v2Dirs.sortBy(_.toString) == v1Dirs.sortBy(_.toString))
    assert(rows(v2) == rows(v1))
    spark.sql("DROP TABLE graft.default.ix_window")
  }

  test("read() and planning a point query list no segment dir and probe no data file") {
    FaultFileSystem.register(spark)
    val t = fourSegments(
      Files.createTempDirectory(Paths.get(FaultFileSystem.localRoot), "ix_zero"),
      Map("bloom_columns" -> "id"))
    val remote = SegmentedTable.open(spark, FaultFileSystem.pathOf(t.root.toString))
    val (df, calls) = FaultFileSystem.recording {
      val df = remote.read().where(col("id") === 2345L)
      df.queryExecution.executedPlan
      df
    }
    val segDir = "/segment_\\d+$".r
    val listings = calls.collect {
      case ("listStatus", p) if segDir.findFirstIn(p.toString).isDefined => p }
    val fileProbes = calls.collect {
      case ("getFileStatus", p) if p.getName.startsWith("part-") => p }
    assert(listings.isEmpty, s"segment dirs listed: $listings")
    assert(fileProbes.isEmpty, s"data files probed: $fileProbes")
    assert(relationsOf(df).flatMap(_.location.rootPaths).map(_.getName) == Seq("segment_2"))
    assert(rows(df) == rows(spark.read.parquet(LiveDirs.of(t): _*)
      .where(col("id") === 2345L)))
  }
}
