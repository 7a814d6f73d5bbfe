package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's sql-private column internals: Spark 4 removed
  * the public `Column.expr`, and the classic converter is
  * `private[sql]`. Living under `org.apache.spark.sql` grants access —
  * the one place the library needs a Catalyst `Expression` from a user
  * `Column` (segment min/max pruning reads the predicate tree).
  */
object ColumnExpr {
  def expr(c: Column): Expression = ExpressionUtils.expression(c)

  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** Eager conversion of a Column into a plain (possibly unresolved)
    * Catalyst tree — unlike [[expr]], the result contains no lazy
    * ColumnNodeExpression wrapper, so it can be returned from an
    * injected FunctionRegistry builder and resolved by the analyzer.
    */
  def eagerExpr(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Materialize a parsed logical plan as a DataFrame (classic
    * Dataset.ofRows is private[sql]).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Drain the async listener bus (private[spark]) so a registered
    * QueryExecutionListener has observed every completed action —
    * plan-shape assertions in tests need this to be deterministic.
    */
  def waitForListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Nullability-insensitive type equality (`DataType.sameType` is
    * private[sql]): file-source relation schemas are forced nullable,
    * so any schema check that compares nested types strictly would
    * reject a table's own rewrites.
    */
  def sameType(a: org.apache.spark.sql.types.DataType,
               b: org.apache.spark.sql.types.DataType): Boolean =
    a.sameType(b)

  /** The inverse of [[asStreamingBatch]], for SINKS: the DataFrame a
    * V1 Sink.addBatch receives is streaming-flagged, so any `.write`
    * on it throws CALL_ON_STREAMING_DATASET_UNSUPPORTED. Wrap its
    * EXECUTED rows (queryExecution.toRdd — no recomputation) as a
    * non-streaming LogicalRDD, exactly what ForeachBatchSink does
    * before handing the user their batch.
    */
  def asBatchForSink(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val node = org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      df.queryExecution.toRdd, classic, isStreaming = false)
    ofRows(df.sparkSession, node)
  }

  /** Re-tag a batch DataFrame's relation leaves as streaming.
    * MicroBatchExecution asserts every V1 Source.getBatch result has
    * isStreaming=true; file-based sources set the flag through
    * private[sql] constructors, which is exactly what this bridge
    * exists for. The plan itself is unchanged — the same vectorized
    * parquet scan, pushdown included — only the flag flips.
    */
  def asStreamingBatch(spark: org.apache.spark.sql.SparkSession,
                       df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // transform the ANALYZED plan: the reader's logical plan may still
    // be an unresolved data-source placeholder, which analysis would
    // re-expand into a fresh (non-streaming) LogicalRelation
    val tagged = df.queryExecution.analyzed.transform {
      case lr: LogicalRelation if !lr.isStreaming => lr.copy(isStreaming = true)
    }
    ofRows(spark, tagged)
  }

  /** An empty STREAMING batch of the given schema (for a trigger that
    * found offsets advanced but no data segments — e.g. a skipped
    * reorganization commit).
    */
  def emptyStreamingBatch(spark: org.apache.spark.sql.SparkSession,
                          schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(
      cs.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
      schema, isStreaming = true)
  }

  /** A Parquet relation over an already-built file index with a fixed
    * schema, as `spark.read.schema(schema).parquet(...)` resolves one
    * (data schema forced nullable, no partition columns, no options) —
    * the identical vectorized HadoopFsRelation a plain parquet read
    * gets, pushdown included, minus the path checks and the listing.
    */
  def indexRelation(spark: org.apache.spark.sql.SparkSession,
                    index: org.apache.spark.sql.execution.datasources.FileIndex,
                    schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation =
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(index,
      new org.apache.spark.sql.types.StructType(), schema.asNullable, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      Map.empty)(spark)

  /** Whether Spark's own file listing skips a file or directory of this
    * name (hidden, `_`-prefixed, in-flight copies) — the rule
    * `HadoopFSUtils` applies, which is `private[spark]`.
    */
  def hiddenByListing(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
