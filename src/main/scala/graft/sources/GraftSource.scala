package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.table.SegmentedTable

/** `format("graft")` DataSource — the reference's CarbonSource
  * equivalent (CarbonDatasourceRelation.scala:40-120):
  *
  * {{{
  * df.write.format("graft").mode(SaveMode.Append)
  *   .option("sort_columns", "ts").save("/store/t")
  * spark.read.format("graft").load("/store/t")
  * }}}
  *
  * Reads resolve to Spark's own vectorized Parquet relation over the
  * table's LIVE segments, their files named by the catalog
  * ([[graft.table.GraftSnapshotFileIndex]]) — filter/column pushdown,
  * row-group skipping and codegen all apply exactly as for a raw
  * parquet read; the only graft logic is which files participate. Writes run
  * the segment-commit protocol with the standard SaveMode matrix.
  */
class GraftSource extends RelationProvider with CreatableRelationProvider
    with DataSourceRegister with StreamSourceProvider with StreamSinkProvider {

  override def shortName(): String = "graft"

  private def path(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("graft source requires a path"))

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val t = SegmentedTable.open(sqlContext.sparkSession, path(parameters))
    if (t.hasDeclaredDefaults) {
      // an evolved table with declared column defaults must answer
      // IDENTICALLY through every read entry point: route through
      // t.read() (which coalesces the defaults) via a PrunedScan —
      // column pruning survives through the projection; scan-level
      // filter pushdown is traded away only for default-bearing tables
      val sqlc = sqlContext
      new BaseRelation with org.apache.spark.sql.sources.PrunedScan {
        override def sqlContext: SQLContext = sqlc
        override def schema: StructType = t.schema
        override def buildScan(requiredColumns: Array[String])
            : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
          val df = t.read()
          val pruned =
            if (requiredColumns.isEmpty) df
            else df.select(requiredColumns.toSeq.map(df.col): _*)
          pruned.rdd
        }
      }
    } else t.snapshotIndex(t.liveSegments).relation(t.schema)
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val props = parameters - "path"
    SegmentedTable.save(data, path(parameters), mode, props)
    createRelation(sqlContext, parameters)
  }

  // ---- spark.readStream.format("graft").load(path): the table as a
  // streaming source (see GraftStreamSource for semantics) ----

  private def changeFeedOpt(parameters: Map[String, String]): Boolean =
    parameters
      .collectFirst { case (k, v) if k.equalsIgnoreCase("readchangefeed") => v }
      .exists(_.toBoolean)

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val table =
      SegmentedTable.open(sqlContext.sparkSession, path(parameters)).schema
    val expected =
      if (changeFeedOpt(parameters))
        table.add("_change_type", org.apache.spark.sql.types.StringType)
          .add("_commit_version", org.apache.spark.sql.types.LongType)
      else table
    // the source always emits the TABLE's schema (+CDF columns) and
    // Spark aliases batch output to the declared attributes
    // POSITIONALLY — so a reordered/retyped/subset user schema would
    // silently mislabel columns. Accept a user schema only when it
    // matches exactly (a caller may legitimately pass the full CDF
    // schema captured from a previous read); reject anything else at
    // ANALYSIS time with the remedy named.
    schema.foreach { s =>
      def shape(st: StructType) = st.fields.map(f => (f.name, f.dataType)).toSeq
      require(shape(s) == shape(expected),
        s"graft streaming source does not support a user-specified schema " +
          s"different from the table's; got ${s.simpleString}, " +
          s"table carries ${expected.simpleString} — omit .schema(...)")
    }
    (shortName(), expected)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    // the source always emits the TABLE's schema (+CDF columns):
    // Spark aliases getBatch output to the declared attributes
    // POSITIONALLY, so honoring a reordered/subset user schema would
    // silently mislabel columns — accept only an exact match (by name
    // and type; sourceSchema already deduplicates caller-passed CDF
    // columns) and fail loudly otherwise
    schema.foreach { s =>
      val expected = sourceSchema(sqlContext, None, providerName, parameters)._2
      def shape(st: StructType) = st.fields.map(f => (f.name, f.dataType)).toSeq
      require(shape(s) == shape(expected),
        s"graft streaming source does not support a user-specified schema " +
          s"different from the table's; got ${s.simpleString}, " +
          s"table carries ${expected.simpleString} — omit .schema(...)")
    }
    val ignoreDeletes = parameters
      .collectFirst { case (k, v) if k.equalsIgnoreCase("ignoredeletes") => v }
      .exists(_.toBoolean)
    val maxVersions = parameters
      .collectFirst { case (k, v) if k.equalsIgnoreCase("maxversionsperbatch") => v }
      .map(_.toLong)
    new GraftStreamSource(sqlContext, path(parameters), ignoreDeletes,
      maxVersions, Some(metadataPath), changeFeed = changeFeedOpt(parameters))
  }

  // ---- df.writeStream.format("graft").start(path): exactly-once
  // micro-batch ingest (see GraftStreamSink) ----

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft sink supports Append output mode only, got $outputMode " +
        "(a segment store appends immutable segments; route " +
        "update/complete aggregations through foreachBatch + MERGE)")
    val p = path(parameters)
    require(SegmentedTable.exists(p),
      s"graft sink target does not exist: $p — create the table first " +
        "(SegmentedTable.create or CREATE GRAFT TABLE) so the schema " +
        "is explicit")
    val compactEvery = parameters
      .collectFirst { case (k, v) if k.equalsIgnoreCase("sink.compact.every") => v }
      .map(_.toInt).getOrElse(0)
    // the sink lineage id = the query's checkpoint location: epoch
    // dedup must be scoped to ONE query's epoch sequence (epochs
    // restart at 0 for a new query). Conf-based checkpoints
    // (spark.sql.streaming.checkpointLocation) resolve durably ONLY
    // when a queryName pins the subdirectory — Spark resolves an
    // UNNAMED conf-checkpointed query to <base>/<random-UUID> per
    // start (a fresh lineage with epochs restarting at 0), so mapping
    // those to a stable "<base>/" id would treat every restart as a
    // replay of the old lineage: batch 0 silently skipped, or the
    // checkpoint-reset error on a stream that reset nothing. Unnamed
    // conf checkpoints therefore fall through to the per-start UUID,
    // matching Spark's actual resolution.
    val sinkId = parameters
      .collectFirst { case (k, v) if k.equalsIgnoreCase("checkpointlocation") => v }
      .orElse {
        sqlContext.sparkSession.conf
          .getOption("spark.sql.streaming.checkpointLocation").flatMap { base =>
            parameters
              .collectFirst { case (k, v) if k.equalsIgnoreCase("queryname") => v }
              .map(qn => s"$base/$qn")
          }
      }
      // per-start lineage (temp checkpoint, or conf checkpoint with no
      // queryName): the UUID never recurs after this query ends, so
      // the entry is marked ephemeral and cleanFiles GCs it — a
      // durable id here would grow sinkEpochs by one dead entry per
      // restart, forever
      .getOrElse(
        s"${SegmentedTable.EphemeralSinkPrefix}${java.util.UUID.randomUUID()}")
    new GraftStreamSink(sqlContext, p, compactEvery, sinkId)
  }
}
