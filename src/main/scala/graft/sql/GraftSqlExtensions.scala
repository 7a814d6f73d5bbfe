package graft.sql

import java.util.Locale

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface, ParameterContext}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

import graft.table.{SegmentedTable, TableIO}

/** SQL command surface for segment management — the Spark-native form
  * of the reference's DDL/DML dialect (CarbonSqlParser.scala:175-180;
  * command semantics in cubeSchema.scala, see SURVEY.md §2.8):
  *
  *   CREATE GRAFT TABLE t [TBLPROPERTIES('k'='v', ...)] AS <query>
  *   LOAD GRAFT DATA INPATH '<csv-or-parquet-path>' INTO TABLE t
  *     [OPTIONS('delimiter'='|', 'quotechar'='"', 'escapechar'='\',
  *              'multiline'='true', 'header'='true',
  *              'fileheader'='c2,c1', 'complex_delimiter_level_1'='$',
  *              'complex_delimiter_level_2'=':')]
  *   LOAD GRAFT DATA FACT FROM '<path>'
  *     [DIMENSION FROM dim1:'<path1>', dim2:'<path2>', ...]
  *     INTO TABLE t [OPTIONS(...)]
  *   DELETE FROM GRAFT TABLE t WHERE <predicate>
  *   UPDATE GRAFT TABLE t SET c = <expr>[, ...] WHERE <predicate>
  *   MERGE GRAFT TABLE t FROM INPATH '<path>' ON (k1[, k2...])
  *   SHOW GRAFT TABLES
  *   SHOW GRAFT SEGMENTS FOR t
  *   SHOW GRAFT STATS FOR t
  *   DELETE GRAFT SEGMENT <id>[, <id>...] FROM t
  *   DELETE GRAFT SEGMENTS FROM t BEFORE '<utc timestamp>'
  *   COMPACT GRAFT TABLE t [MINOR]
  *   OPTIMIZE GRAFT TABLE t ZORDER BY (c1, c2)
  *   RESTORE GRAFT TABLE t TO VERSION n
  *   CLEAN GRAFT FILES FOR t
  *   DROP GRAFT TABLE t
  *
  * Table-valued functions (FROM-able):
  *
  *   graft_table('<name-or-path>'[, <version>])   -- read / time travel
  *   graft_changes('<name-or-path>', v1, v2)      -- change-data feed
  *   graft_skyline('<table-or-path>', '<dims>')   -- Pareto front
  *
  * Aggregate tables (materialized rollups, reference CREATE
  * AGGREGATETABLE — CarbonSqlParser.scala:182-224, AddAggregatesToCube
  * cubeSchema.scala:1970):
  *
  *   CREATE GRAFT AGGREGATE TABLE mv ON PATH '<parquet-dir>'
  *     GROUP BY (c1, c2) AGG (sum(x), min(y), max(z))
  *   REFRESH GRAFT AGGREGATE TABLE mv
  *   SHOW GRAFT AGGREGATE TABLES
  *   DROP GRAFT AGGREGATE TABLE mv
  *
  * Carbon-native cube dialect (thin aliases over the same commands;
  * reference CarbonSqlParser.scala:703-729, :182-224, :779-834):
  *
  *   CREATE CUBE [IF NOT EXISTS] c DIMENSIONS (col type, ...)
  *     MEASURES (col type, ...) [OPTIONS ('k'='v', ...)]
  *   ALTER CUBE c [DROP (col, ...)] [ADD DIMENSIONS/MEASURES (...)]
  *     [OPTIONS ('col'='default', ...)]
  *   LOAD DATA [LOCAL] INPATH '<path>' INTO CUBE c [OPTIONS (...)]
  *   CREATE AGGREGATETABLE dim1, sum(m1), ... FROM CUBE c
  *   SHOW CUBES
  *   DROP CUBE [IF EXISTS] c
  *
  * Tables live under the store root (`spark.graft.store` conf, default
  * /tmp/graft_store) as `<store>/<name>`. Registered with
  * `SparkSession.builder.withExtensions(new GraftSqlExtensions)`;
  * non-graft statements delegate untouched to Spark's parser. ANSI
  * `MERGE INTO` and `UPDATE` on a graft catalog table are Spark's own
  * statements: [[GraftRowLevelDml]] plans them after analysis.
  */
class GraftSqlExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectParser((_, delegate) => new GraftSqlParser(delegate))
    e.injectPostHocResolutionRule(_ => GraftRowLevelDml)
    e.injectOptimizerRule(s => graft.mv.AggTableRewrite(s))
    e.injectOptimizerRule(s => graft.mv.StatsAggFromCatalog(s))
    e.injectOptimizerRule(s => graft.table.GraftSegmentPruning(s))
    e.injectPlannerStrategy(s => graft.plans.GraftSortedScanStrategy(s))
    e.injectPlannerStrategy(s =>
      org.apache.spark.sql.graftbridge.GraftV2ScanSupport.GraftFoldScanStrategy(s))
    GraftFunctions.register(e)
    e.injectTableFunction((FunctionIdentifier("graft_table"),
      GraftTableFunction.info, GraftTableFunction.builder))
    e.injectTableFunction((FunctionIdentifier("graft_skyline"),
      GraftSkylineFunction.info, GraftSkylineFunction.builder))
    e.injectTableFunction((FunctionIdentifier("graft_changes"),
      GraftChangesFunction.info, GraftChangesFunction.builder))
    e.injectTableFunction((FunctionIdentifier("graft_dedup"),
      GraftDedupFunction.info, GraftDedupFunction.builder))
    e.injectTableFunction((FunctionIdentifier("graft_ann"),
      GraftAnnFunction.info, GraftAnnFunction.builder))
    e.injectTableFunction((FunctionIdentifier("graft_funnel"),
      GraftFunnelFunction.info, GraftFunnelFunction.builder))
    e.injectTableFunction((FunctionIdentifier("graft_sessionize"),
      GraftSessionizeFunction.info, GraftSessionizeFunction.builder))
    e.injectTableFunction((FunctionIdentifier("graft_redact"),
      GraftRedactFunction.info, GraftRedactFunction.builder))
    e.injectTableFunction((FunctionIdentifier("graft_chunk"),
      GraftChunkFunction.info, GraftChunkFunction.builder))
    e.injectTableFunction((FunctionIdentifier("graft_block_stats"),
      GraftBlockStatsFunction.info, GraftBlockStatsFunction.builder))
  }
}

/** Shared source resolution for the FROM-able table functions: a graft
  * table by catalog name, a graft table by absolute root path, a bare
  * parquet file/directory, or a temp view — one rule, so every TVF
  * accepts the same spellings.
  */
private[sql] object GraftTvfSource {
  def resolve(spark: SparkSession, source: String): org.apache.spark.sql.DataFrame =
    if (source.startsWith("/"))
      // absolute path: a graft table root opens through the catalog
      // read; anything else (a .parquet file OR a plain parquet
      // directory) reads as parquet — a leading '/' alone must
      // never route a non-graft path into SegmentedTable.open
      if (SegmentedTable.exists(source)) SegmentedTable.open(spark, source).read()
      else spark.read.parquet(source)
    else if (SegmentedTable.exists(GraftCatalog.tablePath(spark, source)))
      GraftCatalog.open(spark, source).read()
    else spark.table(source)
}

/** `graft_dedup('<table-or-path>', '<id_col>', '<text_col>')` — the
  * MinHash-LSH near-duplicate CANDIDATE PAIRS as a FROM-able table
  * function: the d02 pipeline (shingles → 16-hash signature → 4 band
  * keys → band-bucket self-join) reachable from pure SQL, the way the
  * reference routes every operator through its dialect.
  *
  *   SELECT * FROM graft_dedup('docs_t', 'doc_id', 'text')
  *   SELECT COUNT(*) FROM graft_dedup('/data/docs.parquet', 'id', 'body')
  *
  * Emits (id_a, id_b), id_a < id_b, distinct. The plan is built LAZILY
  * (this builder runs at analysis, so it must not execute anything —
  * no persist/checkpoint); the signature pipeline therefore evaluates
  * once per join side — roughly 2x the hashing cost of the DataFrame
  * spelling on a large corpus (the usage text below warns SQL users).
  * For the single-pass cached form, call
  * [[graft.dedup.Dedup.minhashCandidates]] from the DataFrame API.
  * The join routes through [[graft.dedup.Dedup.bandPairs]], so the
  * hot-bucket block-pair skew guard applies to the SQL spelling too.
  */
object GraftDedupFunction {
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private[sql] val info = new ExpressionInfo("graft", null, "graft_dedup",
    "MinHash-LSH near-duplicate candidate id pairs of a table's text " +
      "column. Note: the SQL form re-computes signatures once per join " +
      "side (~2x the hashing cost of Dedup.minhashCandidates, whose " +
      "cached single pass is preferred for large corpora)",
    "", "", "", "", "", "", "built-in")

  private[sql] val builder: Seq[Expression] => LogicalPlan = exprs => {
    require(exprs.size == 3,
      "usage: graft_dedup('<table-or-path>', '<id_col>', '<text_col>')")
    def litVal(e: Expression): String = {
      require(e.foldable, s"graft_dedup arguments must be literals, got: $e")
      String.valueOf(e.eval(org.apache.spark.sql.catalyst.InternalRow.empty))
    }
    val spark = SparkSession.active
    val df = GraftTvfSource.resolve(spark, litVal(exprs.head))
    graft.dedup.Dedup.bandPairs(
      graft.dedup.Dedup.saltedBands(
        df, litVal(exprs(1)), litVal(exprs(2)), 16, 4, 4096))
      .queryExecution.logical
  }

  /** Runtime registration — see [[GraftTableFunction.ensureRegistered]]. */
  def ensureRegistered(spark: SparkSession): Unit =
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_dedup"), info, builder)
}

/** `graft_ann('<corpus>', '<queries>', <k> [, '<id_col>', '<vec_col>'])`
  * — approximate-nearest-neighbor top-k serving as a FROM-able table
  * function: the s02 pipeline (sign-LSH bucketed cosine top-k,
  * [[graft.similarity.Similarity.bucketedTopK]] at 4 bucket bits)
  * reachable from pure SQL, completing the similarity surface beside
  * graft_dedup. Both sides resolve through the shared TVF source rule
  * (catalog table / absolute path / parquet / temp view); column
  * names default to the embeddings corpus shape (vec_id, embedding).
  *
  *   SELECT * FROM graft_ann('embeddings_t', 'queries_t', 3)
  *   SELECT * FROM graft_ann('/data/emb.parquet', 'q_view', 5,
  *                           'id', 'vec')
  *
  * Emits (query_id, rank, neighbor_id) — rank 1..k per query by
  * cosine DESC with neighbor-id tie-break, self-matches excluded,
  * exactly the DataFrame spelling's contract. Like graft_dedup, the
  * analysis-time builder cannot persist, so the corpus projection
  * evaluates inside one plan; at serving scale prefer a held
  * [[graft.similarity.AnnSession]] for repeated query sets.
  */
object GraftAnnFunction {
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private[sql] val info = new ExpressionInfo("graft", null, "graft_ann",
    "sign-LSH bucketed cosine top-k neighbors of each query vector " +
      "(query_id, rank, neighbor_id). Note: the SQL form builds the " +
      "bucketed corpus projection per call; hold an AnnSession for " +
      "repeated serving",
    "", "", "", "", "", "", "built-in")

  private[sql] val builder: Seq[Expression] => LogicalPlan = exprs => {
    require(exprs.size == 3 || exprs.size == 5,
      "usage: graft_ann('<corpus>', '<queries>', <k> [, '<id_col>', '<vec_col>'])")
    def litVal(e: Expression): Any = {
      require(e.foldable, s"graft_ann arguments must be literals, got: $e")
      e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    }
    val spark = SparkSession.active
    val corpus = GraftTvfSource.resolve(spark, String.valueOf(litVal(exprs.head)))
    val queries = GraftTvfSource.resolve(spark, String.valueOf(litVal(exprs(1))))
    val k = String.valueOf(litVal(exprs(2))).toInt
    require(k >= 1, s"graft_ann: k must be positive, got $k")
    val (idCol, vecCol) =
      if (exprs.size == 5)
        (String.valueOf(litVal(exprs(3))), String.valueOf(litVal(exprs(4))))
      else ("vec_id", "embedding")
    // lazyBuild: a TVF builder runs at analysis time and must stay a
    // pure plan constructor (the graft_dedup discipline) — no
    // partition probes, no count-probe jobs, EXPLAIN never launches
    // work. Costs only the spread lift + probed broadcast decision;
    // estimate-small query frames still broadcast.
    graft.similarity.Similarity
      .bucketedTopK(corpus, queries, idCol, vecCol, k, bits = 4,
        lazyBuild = true)
      .queryExecution.logical
  }

  /** Runtime registration — see [[GraftTableFunction.ensureRegistered]]. */
  def ensureRegistered(spark: SparkSession): Unit =
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_ann"), info, builder)
}

/** `graft_changes('<name-or-path>', <from>, <to>)` — the change-data
  * feed ([[SegmentedTable.readChanges]]) as a FROM-able table
  * function, completing the CDC surface in SQL the way graft_table
  * completes time travel:
  *
  *   SELECT * FROM graft_changes('sales', 3, 7)
  *   SELECT _change_type, COUNT(*) FROM graft_changes('sales', 3, 7)
  *   GROUP BY 1
  */
object GraftChangesFunction {
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private[sql] val info = new ExpressionInfo("graft", null, "graft_changes",
    "rows added/removed between two catalog versions, tagged with " +
      "_change_type and _commit_version",
    "", "", "", "", "", "", "built-in")

  private[sql] val builder: Seq[Expression] => LogicalPlan = exprs => {
    require(exprs.size == 3,
      "usage: graft_changes('<name-or-path>', <fromVersion>, <toVersion>)")
    def litVal(e: Expression): Any = {
      require(e.foldable, s"graft_changes arguments must be literals, got: $e")
      e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    }
    val spark = SparkSession.active
    val name = String.valueOf(litVal(exprs.head))
    val path =
      if (name.startsWith("/")) name else GraftCatalog.tablePath(spark, name)
    require(SegmentedTable.exists(path), s"graft table not found: $name ($path)")
    val t = SegmentedTable.open(spark, path)
    t.readChanges(String.valueOf(litVal(exprs(1))).toLong,
      String.valueOf(litVal(exprs(2))).toLong).queryExecution.logical
  }

  def ensureRegistered(spark: SparkSession): Unit =
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_changes"), info, builder)
}

/** `graft_skyline('<table-or-path>', '<dim1,dim2,...>')` — the skyline
  * operator as a FROM-able table function, completing the EDBT 2023
  * "Integration of Skyline Queries into Spark SQL" surface: the
  * Pareto front (all listed dimensions minimized; negate a column
  * upstream to maximize) of a graft table, a bare parquet path, or a
  * temp view.
  *
  *   SELECT * FROM graft_skyline('lineitem_t', 'l_extendedprice,l_quantity')
  */
object GraftSkylineFunction {
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private[sql] val info = new ExpressionInfo("graft", null, "graft_skyline",
    "Pareto front of a table over the listed minimized dimensions",
    "", "", "", "", "", "", "built-in")

  private[sql] val builder: Seq[Expression] => LogicalPlan = exprs => {
    require(exprs.size == 2,
      "usage: graft_skyline('<table-or-path>', '<dim1,dim2,...>')")
    def litVal(e: Expression): String = {
      require(e.foldable, s"graft_skyline arguments must be literals, got: $e")
      String.valueOf(e.eval(org.apache.spark.sql.catalyst.InternalRow.empty))
    }
    val spark = SparkSession.active
    val source = litVal(exprs.head)
    val dims = litVal(exprs(1)).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(dims.nonEmpty, "graft_skyline requires at least one dimension")
    val df = GraftTvfSource.resolve(spark, source)
    graft.queries.Skyline.skyline(df, dims).queryExecution.logical
  }
}

/** `graft_table('<name-or-path>'[, <version>])` — a table-valued
  * function that makes graft tables (and their catalog snapshots)
  * directly FROM-able in plain SQL, completing the time-travel surface
  * the way retention/DML/MERGE already were:
  *
  *   SELECT * FROM graft_table('sales')                 -- current
  *   SELECT * FROM graft_table('sales', 3)              -- VERSION AS OF 3
  *   SELECT * FROM graft_table('/abs/table/path', 3)    -- by path
  *
  * Resolution is driver-side catalog work only (open + segment-list
  * selection); the produced plan is the same multi-path parquet scan
  * [[SegmentedTable.read]]/[[SegmentedTable.readAsOf]] build, so
  * pruning rules and pushdown apply as usual. Registered declaratively
  * via [[GraftSqlExtensions]] or at runtime via [[ensureRegistered]]
  * (the pattern [[graft.table.GraftSegmentPruning]] uses for sessions
  * built without extensions).
  */
object GraftTableFunction {
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private[sql] val info = new ExpressionInfo("graft", null, "graft_table",
    "reads a graft table, optionally as of a catalog version",
    "", "", "", "", "", "", "built-in")

  private[sql] val builder
      : Seq[Expression] => LogicalPlan = exprs => {
    require(exprs.nonEmpty && exprs.size <= 2,
      "usage: graft_table('<name-or-path>'[, <version>])")
    def litVal(e: Expression): Any = {
      require(e.foldable, s"graft_table arguments must be literals, got: $e")
      e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    }
    val spark = SparkSession.active
    val name = String.valueOf(litVal(exprs.head))
    val path =
      if (name.startsWith("/")) name else GraftCatalog.tablePath(spark, name)
    require(SegmentedTable.exists(path), s"graft table not found: $name ($path)")
    val t = SegmentedTable.open(spark, path)
    val df =
      if (exprs.size == 2) t.readAsOf(String.valueOf(litVal(exprs(1))).toLong)
      else t.read()
    df.queryExecution.logical
  }

  /** Runtime registration for sessions built without
    * `.withExtensions(new GraftSqlExtensions)` — registerFunction
    * replaces any prior binding, so repeated calls are harmless.
    */
  def ensureRegistered(spark: SparkSession): Unit =
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_table"), info, builder)
}

/** `graft_funnel('<table-or-path>', '<s1>', '<s2>', '<s3>')` — the
  * strict first-occurrence ordered funnel
  * ([[graft.events.EventAnalytics.funnel]]) as a FROM-able table
  * function. The source needs (user_id, ts, event_type); ts
  * normalizes through the event-time portability boundary, so any
  * supported parquet encoding works:
  *
  *   SELECT * FROM graft_funnel('/data/events.parquet',
  *     'view', 'click', 'purchase')
  *
  * Always 3 rows (stage, step, n_users, conv_ppm) — a stage nobody
  * reached reports 0. Pure plan constructor (the lazy-builder
  * discipline): the broadcast totals hint is plan-only.
  */
object GraftFunnelFunction {
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private[sql] val info = new ExpressionInfo("graft", null, "graft_funnel",
    "strict first-occurrence 3-stage conversion funnel over an events " +
      "source: (stage, step, n_users, conv_ppm), always 3 rows; an " +
      "optional 5th argument adds a per-step conversion deadline in " +
      "minutes (the e08 windowed form)",
    "", "", "", "", "", "", "built-in")

  private[sql] val builder: Seq[Expression] => LogicalPlan = exprs => {
    require(exprs.size == 4 || exprs.size == 5,
      "usage: graft_funnel('<events>', '<stage1>', '<stage2>', " +
        "'<stage3>'[, <window_minutes>])")
    def litVal(e: Expression): Any = {
      require(e.foldable, s"graft_funnel arguments must be literals, got: $e")
      e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    }
    val spark = SparkSession.active
    val events = graft.Tables.normalizeEventTs(
      GraftTvfSource.resolve(spark, String.valueOf(litVal(exprs.head))))
    val (s1, s2, s3) = (String.valueOf(litVal(exprs(1))),
      String.valueOf(litVal(exprs(2))), String.valueOf(litVal(exprs(3))))
    val plan =
      if (exprs.size == 5)
        graft.events.EventAnalytics.funnelWindowed(events, s1, s2, s3,
          String.valueOf(litVal(exprs(4))).toLong * 60L * 1000000000L)
      else graft.events.EventAnalytics.funnel(events, s1, s2, s3)
    plan.queryExecution.logical
  }

  /** Runtime registration — see [[GraftTableFunction.ensureRegistered]]. */
  def ensureRegistered(spark: SparkSession): Unit =
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_funnel"), info, builder)
}

/** `graft_redact('<table-or-path>', '<id_col>', '<text_col>')` — the
  * PII scrub stage (t44) as a FROM-able table function: per row,
  * span counts by type plus the redacted text
  * ([[graft.functions.TextFunctions.redactPii]], email → phone → IP
  * pass order):
  *
  *   SELECT * FROM graft_redact('docs', 'doc_id', 'text')
  *   SELECT SUM(n_emails) FROM graft_redact('/data/docs.parquet', 'id', 'body')
  *
  * Emits (id, n_emails, n_phones, n_ips, redacted). Pure plan
  * constructor — a narrow in-row projection, the ideal 100 TB map
  * stage.
  */
object GraftRedactFunction {
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private[sql] val info = new ExpressionInfo("graft", null, "graft_redact",
    "PII span counts (email/phone/IPv4) and redacted text per row: " +
      "(id, n_emails, n_phones, n_ips, redacted)",
    "", "", "", "", "", "", "built-in")

  private[sql] val builder: Seq[Expression] => LogicalPlan = exprs => {
    require(exprs.size == 3,
      "usage: graft_redact('<table-or-path>', '<id_col>', '<text_col>')")
    def litVal(e: Expression): Any = {
      require(e.foldable, s"graft_redact arguments must be literals, got: $e")
      e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    }
    val spark = SparkSession.active
    val src = GraftTvfSource.resolve(spark, String.valueOf(litVal(exprs.head)))
    val idCol = String.valueOf(litVal(exprs(1)))
    val textCol = String.valueOf(litVal(exprs(2)))
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFunctions
    src.select(col(idCol).as("id"),
        TextFunctions.piiCount(col(textCol), TextFunctions.EmailPattern)
          .as("n_emails"),
        TextFunctions.piiCount(col(textCol), TextFunctions.PhonePattern)
          .as("n_phones"),
        TextFunctions.piiCount(col(textCol), TextFunctions.Ipv4Pattern)
          .as("n_ips"),
        TextFunctions.redactPii(col(textCol)).as("redacted"))
      .queryExecution.logical
  }

  /** Runtime registration — see [[GraftTableFunction.ensureRegistered]]. */
  def ensureRegistered(spark: SparkSession): Unit =
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_redact"), info, builder)
}

/** `graft_chunk('<table-or-path>', '<id_col>', '<text_col>'[, <window>,
  * <stride>])` — document chunking ([[graft.text.Chunker]], the t50
  * operator) as a FROM-able table function; default 64-token windows
  * with stride 48:
  *
  *   SELECT * FROM graft_chunk('docs', 'doc_id', 'text')
  *   SELECT chunk_h, count(*) FROM graft_chunk('docs', 'doc_id', 'text', 128, 96)
  *     GROUP BY 1
  *
  * Emits (doc_id, chunk_idx, start_tok, n_tokens, chunk_text,
  * chunk_h). Pure plan constructor — in-row explode, no shuffle.
  */
object GraftChunkFunction {
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private[sql] val info = new ExpressionInfo("graft", null, "graft_chunk",
    "fixed token-window document chunks with stride (default 64/48): " +
      "(doc_id, chunk_idx, start_tok, n_tokens, chunk_text, chunk_h)",
    "", "", "", "", "", "", "built-in")

  private[sql] val builder: Seq[Expression] => LogicalPlan = exprs => {
    require(exprs.size == 3 || exprs.size == 5,
      "usage: graft_chunk('<table-or-path>', '<id_col>', '<text_col>'" +
        "[, <window>, <stride>])")
    def litVal(e: Expression): Any = {
      require(e.foldable, s"graft_chunk arguments must be literals, got: $e")
      e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    }
    val spark = SparkSession.active
    val src = GraftTvfSource.resolve(spark, String.valueOf(litVal(exprs.head)))
    val idCol = String.valueOf(litVal(exprs(1)))
    val textCol = String.valueOf(litVal(exprs(2)))
    val (window, stride) =
      if (exprs.size == 5)
        (String.valueOf(litVal(exprs(3))).toInt,
          String.valueOf(litVal(exprs(4))).toInt)
      else (64, 48)
    graft.text.Chunker.chunk(src, idCol, textCol, window, stride)
      .queryExecution.logical
  }

  /** Runtime registration — see [[GraftTableFunction.ensureRegistered]]. */
  def ensureRegistered(spark: SparkSession): Unit =
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_chunk"), info, builder)
}

/** `graft_block_stats('<table-or-path>', '<block_col>'[, ...][,
  * <max_block_side>])` — the pre-flight histogram for blocked
  * quadratic dedup ([[graft.dedup.Dedup.blockStats]]): per
  * blocking-key combination its size, corpus share, the sub-block
  * fan-out the id-hash salt would apply, and the implied
  * pair-comparison work. A trailing INTEGER literal overrides the
  * default 4096 sub-block side:
  *
  *   SELECT * FROM graft_block_stats('docs', 'source', 'lang')
  *   SELECT max(pair_work) FROM graft_block_stats('/data/docs.parquet', 'lang', 1024)
  *
  * Emits (block cols..., n_docs, share_ppm, sub_blocks, pair_work).
  */
object GraftBlockStatsFunction {
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private[sql] val info = new ExpressionInfo("graft", null, "graft_block_stats",
    "per-block size histogram for blocked dedup pre-flight: " +
      "(block cols..., n_docs, share_ppm, sub_blocks, pair_work)",
    "", "", "", "", "", "", "built-in")

  private[sql] val builder: Seq[Expression] => LogicalPlan = exprs => {
    require(exprs.size >= 2,
      "usage: graft_block_stats('<table-or-path>', '<block_col>'[, ...]" +
        "[, <max_block_side>])")
    def litVal(e: Expression): Any = {
      require(e.foldable,
        s"graft_block_stats arguments must be literals, got: $e")
      e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    }
    val spark = SparkSession.active
    val src = GraftTvfSource.resolve(spark, String.valueOf(litVal(exprs.head)))
    // a trailing integer literal is the sub-block side; everything
    // between the source and it is a blocking column name
    val tailVals = exprs.tail.map(litVal)
    val (blockVals, side) = tailVals.last match {
      case n: Number => (tailVals.init, n.intValue())
      case _ => (tailVals, 4096)
    }
    require(blockVals.nonEmpty,
      "graft_block_stats needs at least one blocking column")
    graft.dedup.Dedup.blockStats(src,
      blockVals.map(String.valueOf), side).queryExecution.logical
  }

  /** Runtime registration — see [[GraftTableFunction.ensureRegistered]]. */
  def ensureRegistered(spark: SparkSession): Unit =
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_block_stats"), info, builder)
}

/** `graft_sessionize('<table-or-path>'[, <gap_minutes>])` — gap-based
  * batch sessionization
  * ([[graft.events.EventAnalytics.sessionize]]) as a FROM-able table
  * function; default gap 30 minutes:
  *
  *   SELECT * FROM graft_sessionize('events_view', 45)
  *   SELECT AVG(n_sessions) FROM graft_sessionize('/data/events.parquet')
  *
  * Emits (user_id, n_sessions, max_events, max_dur_ms).
  */
object GraftSessionizeFunction {
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private[sql] val info = new ExpressionInfo("graft", null, "graft_sessionize",
    "per-user gap-based sessions over an events source: " +
      "(user_id, n_sessions, max_events, max_dur_ms)",
    "", "", "", "", "", "", "built-in")

  private[sql] val builder: Seq[Expression] => LogicalPlan = exprs => {
    require(exprs.size == 1 || exprs.size == 2,
      "usage: graft_sessionize('<events>'[, <gap_minutes>])")
    def litVal(e: Expression): Any = {
      require(e.foldable,
        s"graft_sessionize arguments must be literals, got: $e")
      e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    }
    val spark = SparkSession.active
    val events = graft.Tables.normalizeEventTs(
      GraftTvfSource.resolve(spark, String.valueOf(litVal(exprs.head))))
    val gap =
      if (exprs.size == 2) String.valueOf(litVal(exprs(1))).toInt else 30
    graft.events.EventAnalytics.sessionize(events, gap)
      .queryExecution.logical
  }

  /** Runtime registration — see [[GraftTableFunction.ensureRegistered]]. */
  def ensureRegistered(spark: SparkSession): Unit =
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_sessionize"), info, builder)
}

/** SQL registration of the library's custom expressions so the whole
  * surface is reachable from pure SQL (the reference routes everything
  * through its SQL dialect).
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  import org.apache.spark.sql.graftbridge.ColumnExpr

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  def register(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("bitmap_distinct_count"),
      info("bitmap_distinct_count",
        "exact distinct count of an integral column via Roaring bitmap"),
      exprs => graft.functions.BitmapDistinctCount(exprs.head)
        .toAggregateExpression()))
    e.injectFunction((FunctionIdentifier("array_dot"),
      info("array_dot", "double dot product of two float arrays"),
      exprs => graft.functions.ArrayDotProduct(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("graft_simhash32"),
      info("graft_simhash32", "32-bit md5-SimHash of a text column"),
      exprs => ColumnExpr.eagerExpr(
        graft.functions.TextFunctions.simhash32(ColumnExpr.toColumn(exprs.head)))))
    e.injectFunction((FunctionIdentifier("graft_lang_id"),
      info("graft_lang_id", "marker-word language heuristic"),
      exprs => ColumnExpr.eagerExpr(
        graft.functions.TextFunctions.langId(ColumnExpr.toColumn(exprs.head)))))
    e.injectFunction((FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize",
        "Unicode NFC normalization (DuckDB-compatible name)"),
      exprs => graft.functions.NfcNormalize(exprs.head)))
    e.injectFunction((FunctionIdentifier("graft_canonicalize"),
      info("graft_canonicalize",
        "text canonicalization: NFC + control-strip + " +
          "whitespace-collapse + trim (the t49 pre-fingerprint stage)"),
      exprs => ColumnExpr.eagerExpr(
        graft.functions.TextFunctions.canonicalize(
          ColumnExpr.toColumn(exprs.head)))))
    e.injectFunction((FunctionIdentifier("mg_candidates"),
      info("mg_candidates",
        "Misra-Gries heavy-hitter candidate sketch: sorted array " +
          "superset of values with frequency > n/(k+1)"),
      exprs => {
        require(exprs.size == 2, "usage: mg_candidates(col, k)")
        val k = exprs(1) match {
          case e if e.foldable =>
            String.valueOf(e.eval(
              org.apache.spark.sql.catalyst.InternalRow.empty)).toInt
          case other => throw new IllegalArgumentException(
            s"mg_candidates k must be a literal, got $other")
        }
        graft.functions.MgCandidates(exprs(0), k).toAggregateExpression()
      }))
    e.injectFunction((FunctionIdentifier("kll_sketch"),
      info("kll_sketch",
        "KLL/MRL rank sketch over a DOUBLE column: struct(vs, ws, " +
          "err, n, mn, mx) — sorted sketch values with weights, the " +
          "tracked worst-case rank-error bound, exact count/min/max " +
          "(bracket a rank, then recount exactly: the t52 discipline)"),
      exprs => {
        require(exprs.size == 2, "usage: kll_sketch(col, k)")
        val k = exprs(1) match {
          case e if e.foldable =>
            String.valueOf(e.eval(
              org.apache.spark.sql.catalyst.InternalRow.empty)).toInt
          case other => throw new IllegalArgumentException(
            s"kll_sketch k must be a literal, got $other")
        }
        graft.functions.KllSketch(exprs(0), k).toAggregateExpression()
      }))
    e.injectFunction((FunctionIdentifier("kll_merge"),
      info("kll_merge",
        "merge STORED kll_sketch structs into one sketch (the " +
          "percentile-cube read side: per-cell sketches persisted as " +
          "rows, any cell slice merged in O(cells) with the error " +
          "bound summing — no corpus rescan)"),
      exprs => {
        require(exprs.size == 2, "usage: kll_merge(sketch_struct, k)")
        val k = exprs(1) match {
          case e if e.foldable =>
            String.valueOf(e.eval(
              org.apache.spark.sql.catalyst.InternalRow.empty)).toInt
          case other => throw new IllegalArgumentException(
            s"kll_merge k must be a literal, got $other")
        }
        graft.functions.KllMergeSketch(exprs(0), k).toAggregateExpression()
      }))
  }
}

object GraftCatalog {
  def storeRoot(spark: SparkSession): String =
    spark.conf.get("spark.graft.store", "/tmp/graft_store")

  /** Logical-name → directory indirection under the store root
    * (`_names.json`): RENAME TABLE remaps the NAME while the physical
    * segment directory keeps its path — so MV registrations and
    * streaming checkpoints, which embed PATHS, survive a rename
    * untouched. Absent from the file = identity (the common case).
    * The file is a handful of entries, written with the same
    * atomic-rename protocol as every catalog file; concurrent renames
    * are last-writer-wins (rename is a rare administrative action,
    * not a data-path operation).
    */
  private val NamesFile = "_names.json"
  private def namesPath(store: String) =
    new org.apache.hadoop.fs.Path(store, NamesFile)

  private[sql] def nameMap(spark: SparkSession): Map[String, String] =
    nameMap(storeRoot(spark))

  private[sql] def nameMap(store: String): Map[String, String] = {
    val p = namesPath(store)
    if (!TableIO.exists(p)) Map.empty
    else org.json4s.jackson.JsonMethods.parse(TableIO.readString(p)) match {
      case org.json4s.JObject(fields) =>
        fields.collect { case (k, org.json4s.JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
  }

  private def writeNameMap(store: String, m: Map[String, String]): Unit = {
    val p = namesPath(store)
    if (m.isEmpty) { if (TableIO.exists(p)) TableIO.delete(p) }
    else TableIO.writeStringAtomic(p,
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(org.json4s.JObject(
          m.toList.map { case (k, v) =>
            k -> (org.json4s.JString(v): org.json4s.JValue)
          }))))
  }

  /** Strict resolution of a LOGICAL name: the mapped directory when
    * renamed, the identity directory otherwise, and None when the
    * name is unreachable — it names a directory some rename claimed,
    * so the logical table that used to answer to it is gone.
    */
  private[sql] def resolvedPath(store: String, name: String): Option[String] = {
    val m = nameMap(store)
    m.get(name) match {
      case Some(dir) => Some(s"$store/$dir")
      case None if m.valuesIterator.contains(name) => None
      case None => Some(s"$store/$name")
    }
  }

  // ---- namespaces -----------------------------------------------------
  // Reference parity: CarbonMetastoreCatalog resolves
  // `schemaName.cubeName` and lays the store out as
  // `storePath/<db>/<table>` (CarbonMetastoreCatalog.scala:137-182;
  // SURVEY §1.3). Same layout here: a non-default namespace IS a
  // store-root subdirectory carrying a `_ns.json` marker (metadata
  // map); `default` is the store root itself, so every pre-namespace
  // table stays exactly where it was. Each namespace owns its own
  // `_names.json` rename indirection and browse memo — per-namespace
  // isolation falls out of passing the namespace root wherever a
  // store root was passed before.

  private val NsMarker = "_ns.json"

  /** The directory a namespace's tables live in. */
  private[sql] def nsRootOf(store: String, ns: String): String =
    if (ns == "default") store else s"$store/$ns"

  private[sql] def namespaceExists(store: String, ns: String): Boolean =
    ns == "default" ||
      TableIO.exists(new org.apache.hadoop.fs.Path(s"$store/$ns/$NsMarker"))

  private[sql] def listNamespaceNames(store: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(store)
    val marked =
      if (!TableIO.exists(root)) Nil
      else TableIO.listStatus(root).filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(n => TableIO.exists(
          new org.apache.hadoop.fs.Path(s"$store/$n/$NsMarker")))
    ("default" +: marked).distinct.sorted
  }

  private[sql] def namespaceMetadata(store: String, ns: String)
      : Map[String, String] = {
    if (ns == "default") return Map.empty
    val p = new org.apache.hadoop.fs.Path(s"$store/$ns/$NsMarker")
    if (!TableIO.exists(p)) Map.empty
    else org.json4s.jackson.JsonMethods.parse(TableIO.readString(p)) match {
      case org.json4s.JObject(fields) =>
        fields.collect { case (k, org.json4s.JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
  }

  private[sql] def createNamespace(store: String, ns: String,
                                   metadata: Map[String, String]): Unit = {
    require(ns.nonEmpty && ns != "default" &&
        ns.forall(c => c.isLetterOrDigit || c == '_'),
      s"invalid namespace name '$ns' (letters, digits, underscore)")
    // a table directory of the same name would make `store/<ns>`
    // ambiguous between the default namespace's table and this
    // namespace — refuse the collision up front
    require(!SegmentedTable.exists(s"$store/$ns"),
      s"cannot create namespace '$ns': a table of that name exists " +
        "in the default namespace")
    TableIO.writeStringAtomic(
      new org.apache.hadoop.fs.Path(s"$store/$ns/$NsMarker"),
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(org.json4s.JObject(
          metadata.toList.map { case (k, v) =>
            k -> (org.json4s.JString(v): org.json4s.JValue)
          }))))
  }

  private[sql] def alterNamespaceMetadata(store: String, ns: String,
      set: Map[String, String], unset: Seq[String]): Unit = {
    val next = namespaceMetadata(store, ns) ++ set -- unset
    TableIO.writeStringAtomic(
      new org.apache.hadoop.fs.Path(s"$store/$ns/$NsMarker"),
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(org.json4s.JObject(
          next.toList.map { case (k, v) =>
            k -> (org.json4s.JString(v): org.json4s.JValue)
          }))))
  }

  /** Table dir names currently inside a namespace (marker and
    * bookkeeping files excluded).
    */
  private[sql] def tablesInNamespace(store: String, ns: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(nsRootOf(store, ns))
    if (!TableIO.exists(root)) Nil
    else TableIO.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => isTablePath(s"${nsRootOf(store, ns)}/$n"))
  }

  private[sql] def dropNamespace(store: String, ns: String,
                                 cascade: Boolean): Boolean = {
    if (!namespaceExists(store, ns) || ns == "default") return false
    val tables = tablesInNamespace(store, ns)
    if (!cascade && tables.nonEmpty)
      throw new IllegalStateException(
        s"namespace '$ns' is not empty (${tables.mkString(", ")}); " +
          "use DROP NAMESPACE ... CASCADE")
    val nsRoot = nsRootOf(store, ns)
    tables.foreach(t => forgetTablePath(s"$nsRoot/$t"))
    TableIO.delete(new org.apache.hadoop.fs.Path(nsRoot))
    true
  }

  /** One store-root lease/file lock serializing every name-map
    * MUTATOR (rename, drop) — without it, a rename racing a
    * concurrent dropTable could re-write the dropped table's entry
    * from its pre-drop read, leaving a logical name mapped to a
    * deleted directory that silently shadows the dir name for future
    * CREATEs (r16 verdict). Readers stay lock-free: they see either
    * the old or the new atomically-renamed `_names.json`.
    */
  private def withNamesLock[T](store: String)(f: => T): T =
    graft.table.MetadataLock.forPath(new org.apache.hadoop.fs.Path(store))
      .withExclusive(new org.apache.hadoop.fs.Path(store, "_names.lock"))(f)

  /** Thrown by [[renameEntry]] when the target name is taken — a
    * typed signal the V2 catalog maps to TableAlreadyExistsException.
    */
  final class RenameTargetTakenException(msg: String)
    extends IllegalStateException(msg)

  /** Remap `from` to name `to` (same directory). `to == the physical
    * dir name` folds back to identity, keeping the map minimal.
    * Runs under the store's name-map lock and re-verifies the source
    * directory still exists INSIDE it, so a rename interleaving with
    * a drop fails loudly instead of resurrecting the dropped entry.
    */
  private[sql] def renameEntry(store: String, from: String, to: String): Unit =
    withNamesLock(store) {
      val m = nameMap(store)
      // STRICT re-resolution inside the lock: `from` must still be a
      // live logical name (not claimed by a concurrent rename) and its
      // directory must still exist (not dropped concurrently) — both
      // interleaves fail loudly here instead of writing a dangling or
      // duplicate mapping
      val dir = m.get(from)
        .orElse(if (m.valuesIterator.contains(from)) None else Some(from))
        .getOrElse(throw new IllegalArgumentException(
          s"cannot rename '$from': the name no longer resolves " +
            "(renamed concurrently?)"))
      require(SegmentedTable.exists(s"$store/$dir"),
        s"cannot rename '$from': its table directory '$dir' is gone " +
          "(dropped concurrently?)")
      // target availability re-verified INSIDE the critical section:
      // two racing renames to the same target would both pass a
      // caller-side pre-check, and the second write would silently
      // overwrite the first's mapping, stranding that table under its
      // physical dir name. Same taken-rules as the caller: a mapped
      // logical name, a dir claimed by a different entry, or an
      // unclaimed existing dir — renaming back to the source's OWN dir
      // name is the legal fold-away case.
      if (to != from) {
        val taken =
          (m - from).contains(to) ||
            (m.valuesIterator.contains(to) && to != dir) ||
            (!m.valuesIterator.contains(to) &&
              SegmentedTable.exists(s"$store/$to") && to != dir)
        if (taken) throw new RenameTargetTakenException(
          s"cannot rename '$from' to '$to': the target name is taken " +
            "(created or renamed-to concurrently)")
      }
      writeNameMap(store,
        if (dir == to) m - from else (m - from) + (to -> dir))
    }

  /** Drop a logical name's mapping entry (table dropped). */
  private[sql] def dropNameEntry(store: String, name: String): Unit =
    withNamesLock(store) {
      val m = nameMap(store)
      if (m.contains(name)) writeNameMap(store, m - name)
    }

  /** The dropTable sequence — name RE-RESOLUTION, directory delete,
    * browse-memo invalidation, name-map pruning — as ONE critical
    * section under the name-map lock. Resolution must happen INSIDE
    * the lock: the fuzz (ConcurrencySpec) proved a rename committing
    * between a caller's visibility check and the delete would
    * otherwise leave the renamed entry mapped to the deleted dir.
    * `lax` selects the dialect's path-style resolution (claimed dir
    * names still resolve) vs the V2 catalog's strict logical names;
    * either way EVERY map entry pointing at the deleted directory is
    * pruned, so no drop can strand a dangling name. Returns false
    * when the name no longer resolves (lost the race — nothing
    * deleted).
    */
  private[sql] def dropTableUnderLock(store: String, name: String,
                                      lax: Boolean): Boolean =
    withNamesLock(store) {
      val m = nameMap(store)
      val dirOpt =
        if (lax) Some(m.getOrElse(name, name))
        else m.get(name).orElse(
          if (m.valuesIterator.contains(name)) None else Some(name))
      dirOpt.map(d => d -> s"$store/$d")
        .filter { case (_, p) => isTablePath(p) } match {
        case Some((dir, path)) =>
          TableIO.delete(new org.apache.hadoop.fs.Path(path))
          forgetTablePath(path)
          val pruned = m.filterNot { case (k, v) => k == name || v == dir }
          if (pruned != m) writeNameMap(store, pruned)
          true
        case None => false
      }
    }

  /** MOVE a table across namespaces: a PHYSICAL directory move under
    * BOTH namespaces' name-map locks (ordered by root path — no
    * deadlock), with the registrations that embed the directory kept
    * coherent: every MV over the old path is re-based to the new one
    * (rollup data and incremental watermark stay valid — entries are
    * base-relative), and a table carrying DURABLE streaming-sink
    * lineages refuses to move without FORCE — those checkpoints embed
    * the old path, and a restarted writer would silently re-create the
    * table there. Detection covers sink lineages recorded ON the
    * table; checkpoints of downstream readStream consumers live
    * entirely outside the store and cannot be detected — the FORCE
    * error says so. The destination directory name IS the new logical
    * name (no indirection entry needed); the source's map entries are
    * pruned like a drop.
    */
  private[sql] def moveTable(spark: SparkSession, store: String,
      fromNs: String, fromName: String, toNs: String, toName: String,
      force: Boolean): Unit = {
    require(fromNs != toNs,
      s"MOVE GRAFT TABLE is for CROSS-namespace moves; within '$fromNs' " +
        "use ALTER TABLE ... RENAME TO (the zero-copy indirection)")
    require(namespaceExists(store, fromNs), s"no namespace '$fromNs'")
    require(namespaceExists(store, toNs), s"no namespace '$toNs'")
    val srcRoot = nsRootOf(store, fromNs)
    val dstRoot = nsRootOf(store, toNs)
    val (l1, l2) =
      if (srcRoot <= dstRoot) (srcRoot, dstRoot) else (dstRoot, srcRoot)
    withNamesLock(l1) { withNamesLock(l2) {
      // resolve the source INSIDE the locks (the rename/drop lesson)
      val m = nameMap(srcRoot)
      val dir = m.get(fromName)
        .orElse(if (m.valuesIterator.contains(fromName)) None
                else Some(fromName))
        .getOrElse(throw new IllegalArgumentException(
          s"cannot move '$fromNs.$fromName': the name does not resolve"))
      val srcPath = s"$srcRoot/$dir"
      require(SegmentedTable.exists(srcPath),
        s"cannot move '$fromNs.$fromName': no table at $srcPath")
      val md = nameMap(dstRoot)
      val dstPath = s"$dstRoot/$toName"
      require(!md.contains(toName) && !md.valuesIterator.contains(toName) &&
        !TableIO.exists(new org.apache.hadoop.fs.Path(dstPath)),
        s"cannot move to '$toNs.$toName': the target name is taken")
      val durable = SegmentedTable.open(spark, srcPath).status.sinkEpochs
        .keys.filterNot(_.startsWith(SegmentedTable.EphemeralSinkPrefix))
        .toSeq.sorted
      if (durable.nonEmpty && !force) throw new IllegalStateException(
        s"cannot move '$fromNs.$fromName': durable streaming-sink " +
          s"checkpoints embed its path (${durable.mkString(", ")}). " +
          "Stop those queries, then re-issue with FORCE and restart " +
          "them against the new path. (Checkpoints of readStream " +
          "CONSUMERS of this table cannot be detected — verify those " +
          "yourself before forcing.)")
      TableIO.rename(new org.apache.hadoop.fs.Path(srcPath),
        new org.apache.hadoop.fs.Path(dstPath))
      forgetTablePath(srcPath)
      forgetTablePath(dstPath)
      val pruned = m.filterNot { case (k, v) => k == fromName || v == dir }
      if (pruned != m) writeNameMap(srcRoot, pruned)
      // AFTER the physical move, so the metas point at live files
      graft.mv.AggTables.rebase(spark, srcPath, dstPath)
    } }
  }

  /** Path-style resolution honoring renames. NOTE the documented
    * laxness: a rename-CLAIMED physical dir name still resolves to
    * the directory here (paths are the storage identity, like
    * filesystem access under any table format); the V2 catalog
    * enforces strict logical-name visibility via [[resolvedPath]].
    */
  def tablePath(spark: SparkSession, name: String): String = {
    val m = nameMap(spark)
    s"${storeRoot(spark)}/${m.getOrElse(name, name)}"
  }

  def open(spark: SparkSession, name: String): SegmentedTable = {
    val p = tablePath(spark, name)
    require(SegmentedTable.exists(p), s"graft table not found: $name ($p)")
    SegmentedTable.open(spark, p)
  }

  /** Positive table-dir memo for catalog browsing: a path that once
    * validated as a graft table stays one until dropped (drop prunes
    * its entry; the plugin's listTables prunes entries whose dir
    * vanished out-of-band). A BI tool's SHOW TABLES over a 10³-table
    * store then costs ONE directory listing instead of 10³ status
    * stats. Negative verdicts are deliberately NEVER cached: create
    * writes the table meta a moment after the mkdir, so a cached
    * "not a table" could stick to a table being born. An out-of-band
    * `rm` of a table dir (bypassing every drop surface) leaves a
    * stale positive until the next listTables prune — loadTable on it
    * fails loudly at open, never silently.
    */
  private val knownTableDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[sql] def isTablePath(path: String): Boolean =
    knownTableDirs.contains(path) ||
      (SegmentedTable.exists(path) && { knownTableDirs.add(path); true })

  private[sql] def forgetTablePath(path: String): Unit =
    knownTableDirs.remove(path)

  private[sql] def pruneTablePaths(store: String, liveDirNames: Set[String]): Unit =
    knownTableDirs.removeIf { p =>
      p.startsWith(s"$store/") && {
        val rest = p.stripPrefix(s"$store/")
        !rest.contains('/') && !liveDirNames.contains(rest)
      }
    }
}

class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  // ---- carbon-native cube dialect (thin aliases over the graft
  // grammar; reference CarbonSqlParser.scala:703-729 createCube,
  // :182-224 createAggregateTable, :779-834 loadCube) ----
  private val createCubeRe =
    """(?is)\s*CREATE\s+CUBE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+(.+)""".r
  private val dropCubeRe =
    """(?is)\s*DROP\s+CUBE\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*""".r
  private val showCubesRe = """(?is)\s*SHOW\s+CUBES\s*;?\s*""".r
  // reference ShowCreateCube (CarbonSqlParser.scala grammar) — alias
  // of SHOW CREATE GRAFT TABLE, completing the cube-dialect surface
  private val showCreateCubeRe =
    """(?is)\s*SHOW\s+CREATE\s+CUBE\s+(\w+)\s*;?\s*""".r
  private val loadCubeRe =
    """(?is)\s*LOAD\s+DATA\s+(?:LOCAL\s+)?INPATH\s+'([^']+)'\s+INTO\s+CUBE\s+(\w+)\s*(?:OPTIONS\s*\((.*?)\)\s*)?;?\s*""".r
  private val createAggCubeRe =
    """(?is)\s*CREATE\s+AGGREGATETABLE\s+(.+?)\s+FROM\s+CUBE\s+(\w+)\s*;?\s*""".r
  private val alterCubeRe =
    """(?is)\s*ALTER\s+CUBE\s+(\w+)\s+(.+)""".r
  private val aggItemRe = """(?is)\s*(\w+)\s*\(\s*(?:(DISTINCT)\s+)?(\w+)\s*\)\s*""".r

  private val createAggRe =
    """(?is)\s*CREATE\s+GRAFT\s+AGGREGATE\s+TABLE\s+(\w+)\s+ON\s+PATH\s+'([^']+)'\s+GROUP\s+BY\s*\(([^)]*)\)\s*AGG\s*\((.*?)\)\s*""".r
  private val refreshAggRe =
    """(?is)\s*REFRESH\s+GRAFT\s+AGGREGATE\s+TABLE\s+(\w+)\s*""".r
  private val dropAggRe =
    """(?is)\s*DROP\s+GRAFT\s+AGGREGATE\s+TABLE\s+(\w+)\s*""".r
  private val showAggRe =
    """(?is)\s*SHOW\s+GRAFT\s+AGGREGATE\s+TABLES\s*""".r
  private val showTablesRe =
    """(?is)\s*SHOW\s+GRAFT\s+TABLES\s*""".r
  private val deleteSegBeforeRe =
    """(?is)\s*DELETE\s+GRAFT\s+SEGMENTS\s+FROM\s+(\w+)\s+BEFORE\s+'([^']+)'\s*""".r
  private val measureRe = """(\w+)\s*\(\s*(\w+)\s*\)""".r
  private val createRe =
    """(?is)\s*CREATE\s+GRAFT\s+TABLE\s+(\w+)\s*(?:TBLPROPERTIES\s*\((.*?)\)\s*)?AS\s+(.+)""".r
  private val loadRe =
    """(?is)\s*LOAD\s+GRAFT\s+DATA\s+INPATH\s+'([^']+)'\s+INTO\s+TABLE\s+(\w+)\s*(?:OPTIONS\s*\((.*?)\)\s*)?""".r
  private val loadFactDimRe =
    """(?is)\s*LOAD\s+GRAFT\s+DATA\s+FACT\s+FROM\s+'([^']+)'(?:\s+DIMENSION\s+FROM\s+(.+?))?\s+INTO\s+TABLE\s+(\w+)\s*(?:OPTIONS\s*\((.*?)\)\s*)?""".r
  private val dimMapRe = """(\w+)\s*:\s*'([^']+)'""".r
  private val showSegRe =
    """(?is)\s*SHOW\s+GRAFT\s+SEGMENTS\s+FOR\s+(\w+)\s*""".r
  private val showHistRe =
    """(?is)\s*SHOW\s+GRAFT\s+HISTORY\s+FOR\s+(\w+)\s*""".r
  private val showStatsRe =
    """(?is)\s*SHOW\s+GRAFT\s+STATS\s+FOR\s+(\w+)\s*""".r
  private val showCreateRe =
    """(?is)\s*SHOW\s+CREATE\s+GRAFT\s+TABLE\s+(\w+)\s*""".r
  private val describeRe =
    """(?is)\s*DESCRIBE\s+GRAFT\s+TABLE\s+(\w+)\s*""".r
  private val deleteSegRe =
    """(?is)\s*DELETE\s+GRAFT\s+SEGMENT\s+([\d\s,]+)\s+FROM\s+(\w+)\s*""".r
  private val deleteRowsRe =
    """(?is)\s*DELETE\s+FROM\s+GRAFT\s+TABLE\s+(\w+)\s+WHERE\s+(.+)""".r
  private val mergeRowsRe =
    """(?is)\s*MERGE\s+GRAFT\s+TABLE\s+(\w+)\s+FROM\s+INPATH\s+'([^']+)'\s+ON\s*\(([^)]*)\)\s*""".r
  private val updateRowsRe =
    """(?is)\s*UPDATE\s+GRAFT\s+TABLE\s+(\w+)\s+SET\s+(.+)""".r
  private val compactRe =
    """(?is)\s*COMPACT\s+GRAFT\s+TABLE\s+(\w+)\s*(MINOR)?\s*""".r
  private val optimizeRe =
    """(?is)\s*OPTIMIZE\s+GRAFT\s+TABLE\s+(\w+)\s+ZORDER\s+BY\s*\(([^)]+)\)\s*""".r
  private val restoreRe =
    """(?is)\s*RESTORE\s+GRAFT\s+TABLE\s+(\w+)\s+TO\s+VERSION\s+(\d+)\s*""".r
  private val cleanRe =
    """(?is)\s*CLEAN\s+GRAFT\s+FILES\s+FOR\s+(\w+)\s*""".r
  private val moveRe =
    """(?is)\s*MOVE\s+GRAFT\s+TABLE\s+(?:(\w+)\.)?(\w+)\s+TO\s+(?:(\w+)\.)?(\w+)\s*(FORCE)?\s*;?\s*""".r
  private val dropRe =
    """(?is)\s*DROP\s+GRAFT\s+TABLE\s+(IF\s+EXISTS\s+)?(\w+)\s*""".r
  private val addColRe =
    """(?is)\s*ALTER\s+GRAFT\s+TABLE\s+(\w+)\s+ADD\s+COLUMN\s+(\w+)\s+(\w+(?:\(\d+(?:,\d+)?\))?)\s*(?:DEFAULT\s+'([^']*)')?\s*""".r
  private val dropColRe =
    """(?is)\s*ALTER\s+GRAFT\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+(\w+)\s*""".r
  private val propRe = """'([^']+)'\s*=\s*'([^']*)'""".r

  override def parsePlan(sqlText: String): LogicalPlan =
    dialect.applyOrElse(sqlText, delegate.parsePlan)

  // a dialect statement takes no parameter markers; everything else
  // binds them in Spark's own parser
  override def parsePlanWithParameters(sqlText: String,
      ctx: ParameterContext): LogicalPlan =
    dialect.applyOrElse(sqlText, delegate.parsePlanWithParameters(_: String, ctx))

  private val dialect: PartialFunction[String, LogicalPlan] = {
    // carbon-native cube dialect first: its keywords never collide
    // with the graft grammar or with Spark SQL
    case sqlText @ createCubeRe(ifNotExists, name, body) =>
      parseCreateCube(sqlText, name, body, ifNotExists != null)
    case dropCubeRe(ifExists, name) =>
      DropGraftTableCommand(name, ifExists = ifExists != null)
    case showCubesRe() => ShowGraftTablesCommand()
    case showCreateCubeRe(name) => ShowCreateGraftTableCommand(name)
    case loadCubeRe(path, name, opts) =>
      val o = Option(opts).map(s =>
        propRe.findAllMatchIn(s).map(m =>
          m.group(1).toLowerCase(Locale.ROOT) -> m.group(2)).toMap)
        .getOrElse(Map.empty)
      LoadGraftDataCommand(name, path, o)
    case createAggCubeRe(aggSpec, cube) =>
      parseCreateAggregateTable(aggSpec, cube)
    case sqlText @ alterCubeRe(name, body) => parseAlterCube(sqlText, name, body)
    // aggregate-table DDL must match before the plain-table forms
    // (CREATE/DROP GRAFT TABLE would otherwise swallow the prefix)
    case createAggRe(name, path, groupCols, aggSpec) =>
      val dims = groupCols.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      // every AGG item must parse as f(col): a silently-dropped item
      // (count(*), avg(y,z)) would create the rollup WITHOUT the
      // requested measure and report success — same strictness as the
      // cube dialect's parseCreateAggregateTable
      val items = aggSpec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val measures = items.map {
        case measureRe(f, c) => f.toLowerCase(Locale.ROOT) -> c
        case bad => throw new IllegalArgumentException(
          s"malformed AGG item '$bad' — expected f(column) with f in " +
            "sum/min/max (COUNT(*) is derived automatically)")
      }
      require(dims.nonEmpty, "GROUP BY columns required")
      require(measures.nonEmpty, "AGG measures required")
      CreateGraftAggTableCommand(name, path, dims, measures)
    case refreshAggRe(name) => RefreshGraftAggTableCommand(name)
    case dropAggRe(name) => DropGraftAggTableCommand(name)
    case showAggRe() => ShowGraftAggTablesCommand()
    case showTablesRe() => ShowGraftTablesCommand()
    case deleteSegBeforeRe(name, ts) => DeleteGraftSegmentsBeforeCommand(name, ts)
    case createRe(name, props, query) =>
      val p = Option(props).map(s =>
        propRe.findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap)
        .getOrElse(Map.empty)
      CreateGraftTableCommand(name, p, delegate.parsePlan(query))
    case loadRe(path, name, opts) =>
      val o = Option(opts).map(s =>
        propRe.findAllMatchIn(s).map(m =>
          m.group(1).toLowerCase(Locale.ROOT) -> m.group(2)).toMap)
        .getOrElse(Map.empty)
      LoadGraftDataCommand(name, path, o)
    case sqlText @ loadFactDimRe(factPath, dimSpec, name, opts) =>
      val o = Option(opts).map(s =>
        propRe.findAllMatchIn(s).map(m =>
          m.group(1).toLowerCase(Locale.ROOT) -> m.group(2)).toMap)
        .getOrElse(Map.empty)
      // strict dimension-list parse (ADVICE r6): the `name: 'path'`
      // matches must COVER the whole spec up to separating commas and
      // whitespace — findAllMatchIn alone would silently drop a
      // malformed entry (missing quote, wrong separator) and load a
      // partially-ingested star schema. Matched spans are removed and
      // anything left beyond commas/whitespace is a parse error
      // (quoted paths may contain commas, so a naive split can't work).
      val dims = Option(dimSpec).map { s =>
        val ms = dimMapRe.findAllMatchIn(s).toList
        val leftover = {
          val sb = new StringBuilder(s)
          ms.reverse.foreach(m => sb.delete(m.start, m.end))
          sb.toString
        }
        if ((ms.isEmpty && s.trim.nonEmpty) ||
            leftover.exists(ch => !ch.isWhitespace && ch != ','))
          throw new org.apache.spark.sql.catalyst.parser.ParseException(
            command = Some(sqlText),
            start = org.apache.spark.sql.catalyst.trees.Origin(),
            errorClass = "PARSE_SYNTAX_ERROR",
            messageParameters = Map(
              "error" -> ("malformed DIMENSION list near " +
                s"'${leftover.trim.take(60)}' (expected name: 'path', ...)"),
              "hint" -> ""))
        ms.map(m => m.group(1) -> m.group(2))
      }.getOrElse(Seq.empty)
      LoadGraftFactDimCommand(name, factPath, dims, o)
    case showCreateRe(name) => ShowCreateGraftTableCommand(name)
    case describeRe(name) => DescribeGraftTableCommand(name)
    case showSegRe(name) => ShowGraftSegmentsCommand(name)
    case showHistRe(name) => ShowGraftHistoryCommand(name)
    case showStatsRe(name) => ShowGraftStatsCommand(name)
    case deleteSegRe(ids, name) =>
      DeleteGraftSegmentsCommand(name, ids.split(",").map(_.trim.toInt).toSeq)
    case deleteRowsRe(name, where) => DeleteGraftRowsCommand(name, where.trim)
    case mergeRowsRe(name, path, keys) =>
      MergeGraftDataCommand(name, path,
        keys.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    case updateRowsRe(name, rest) =>
      // the WHERE boundary is found quote- and paren-aware, so a
      // literal containing " where " (or a subquery) cannot split the
      // statement in the wrong place
      val i = topLevelIndexOf(rest, "WHERE")
      require(i > 0, "UPDATE GRAFT TABLE requires a WHERE clause")
      UpdateGraftRowsCommand(name, splitAssignments(rest.take(i)),
        rest.drop(i + "WHERE".length).trim)
    case compactRe(name, minor) =>
      CompactGraftTableCommand(name, minor != null)
    case optimizeRe(name, cols) =>
      OptimizeGraftTableCommand(name,
        cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    case restoreRe(name, version) =>
      RestoreGraftTableCommand(name, version.toLong)
    case cleanRe(name) => CleanGraftFilesCommand(name)
    case moveRe(fromNsOrNull, fromName, toNsOrNull, toName, force) =>
      MoveGraftTableCommand(
        Option(fromNsOrNull).getOrElse("default"), fromName,
        Option(toNsOrNull).getOrElse("default"), toName, force != null)
    case addColRe(name, colName, colType, default) =>
      AlterGraftAddColumnCommand(name, colName,
        delegate.parseDataType(colType), Option(default))
    case dropColRe(name, colName) => AlterGraftDropColumnCommand(name, colName)
    case dropRe(ifExists, name) =>
      DropGraftTableCommand(name, ifExists = ifExists != null)
  }

  /** Split `a = f(x, y), b = 'x, y'` on top-level commas
    * ([[SqlScan.splitTopCommas]]) and parse each part as `name = expr`.
    * A bare trailing comma is tolerated (the empty tail is dropped);
    * an empty part anywhere else fails the assignment parse loudly.
    */
  private def splitAssignments(setList: String): Seq[(String, String)] = {
    val raw = SqlScan.splitTopCommas(setList)
    val parts = if (raw.nonEmpty && raw.last.isEmpty) raw.init else raw
    parts.map { p =>
      val i = p.indexOf('=')
      require(i > 0, s"malformed assignment: $p")
      (p.take(i).trim, p.drop(i + 1).trim)
    }
  }

  /** Split on top-level commas — commas inside parentheses, angle
    * brackets (complex type arguments), or single-quoted literals are
    * content, not separators ([[SqlScan.splitTopCommas]]); parts are
    * trimmed and empties dropped.
    */
  private def splitTopCommas(s: String): Seq[String] =
    SqlScan.splitTopCommas(s, angleNests = true).map(_.trim).filter(_.nonEmpty)

  /** Reference scalar type aliases (normalizeType,
    * CarbonSqlParser.scala:1024-1050); complex types pass through to
    * Spark's DDL type parser unchanged.
    */
  private def normalizeCubeType(t: String): String =
    t.trim.toLowerCase(Locale.ROOT) match {
      case "integer" => "int"
      case "numeric" => "double"
      case other => other
    }

  /** CREATE CUBE [IF NOT EXISTS] name DIMENSIONS (col type, ...)
    * MEASURES (col type, ...) [OPTIONS ('k'='v', ...)] — the
    * carbon-native creation dialect (CarbonSqlParser.scala:703-729):
    * dimensions + measures concatenate into the table schema (the cube
    * IS a flat fact table, SURVEY §1.1); OPTIONS pairs land as table
    * properties, so sort/partition/bloom declarations work identically
    * to TBLPROPERTIES on CREATE GRAFT TABLE.
    */
  private def parseCreateCube(sqlText: String, name: String, body0: String,
                              ifNotExists: Boolean): LogicalPlan = {
    val body = body0.trim.stripSuffix(";")
    val kws = Seq("DIMENSIONS", "MEASURES", "OPTIONS")
      .map(k => k -> topLevelIndexOf(body, k)).filter(_._2 >= 0)
    def fail(msg: String): Nothing =
      throw new ParseException(Some(sqlText),
        org.apache.spark.sql.catalyst.trees.Origin(),
        "PARSE_SYNTAX_ERROR", Map("error" -> msg, "hint" -> ""))
    if (kws.isEmpty) fail("CREATE CUBE requires DIMENSIONS and/or MEASURES")
    val bounds = kws.map(_._2).sorted :+ body.length
    def section(kw: String): Option[String] = kws.find(_._1 == kw).map {
      case (k, i) =>
        val end = bounds.find(_ > i).getOrElse(body.length)
        val inner = body.substring(i + k.length, end).trim
        if (!(inner.startsWith("(") && inner.endsWith(")")))
          fail(s"$kw requires a parenthesized list")
        inner.substring(1, inner.length - 1)
    }
    def cols(sect: String, what: String): Seq[StructField] =
      splitTopCommas(sect).map { piece =>
        val cut = piece.indexWhere(Character.isWhitespace)
        if (cut < 0) fail(s"malformed $what column '$piece' (expected name type)")
        val (n, t) = (piece.take(cut).trim, piece.drop(cut).trim)
        StructField(n, delegate.parseDataType(normalizeCubeType(t)))
      }
    val dims = section("DIMENSIONS").map(cols(_, "DIMENSIONS")).getOrElse(Nil)
    val msrs = section("MEASURES").map(cols(_, "MEASURES")).getOrElse(Nil)
    if (dims.isEmpty && msrs.isEmpty) fail("CREATE CUBE defines no columns")
    val dup = (dims ++ msrs).groupBy(_.name.toLowerCase(Locale.ROOT))
      .collect { case (n, fs) if fs.sizeIs > 1 => n }
    if (dup.nonEmpty) fail(s"duplicate cube columns: ${dup.mkString(", ")}")
    val props = section("OPTIONS").map(s =>
      propRe.findAllMatchIn(s).map(m =>
        m.group(1).toLowerCase(Locale.ROOT) -> m.group(2)).toMap)
      .getOrElse(Map.empty)
    CreateCubeCommand(name, StructType((dims ++ msrs).toArray), props, ifNotExists)
  }

  /** CREATE AGGREGATETABLE sum(m1), col1, ... FROM CUBE c — bare
    * columns are the rollup dims, aggregate expressions the measures
    * (CarbonSqlParser.scala:182-224). avg materializes as sum (the
    * rewrite re-derives AVG from sum+count); count(col) as sum too
    * (the rollup always carries the non-null count beside a sum).
    * Distinct aggregates cannot re-aggregate from a rollup — rejected.
    */
  private def parseCreateAggregateTable(aggSpec: String,
                                        cube: String): LogicalPlan = {
    val bareRe = """(?s)\s*(\w+)\s*""".r
    var dims = Seq.empty[String]
    var measures = Seq.empty[(String, String)]
    splitTopCommas(aggSpec).foreach {
      case aggItemRe(func, distinct, colName) =>
        if (distinct != null)
          throw new IllegalArgumentException(
            s"distinct aggregates cannot be served from a rollup: $func(DISTINCT $colName)")
        func.toLowerCase(Locale.ROOT) match {
          case "sum" | "min" | "max" => measures :+= (func.toLowerCase(Locale.ROOT), colName)
          case "avg" | "count" => measures :+= ("sum", colName)
          case other => throw new IllegalArgumentException(
            s"unsupported aggregate for AGGREGATETABLE: $other")
        }
      case bareRe(colName) => dims :+= colName
      case piece => throw new IllegalArgumentException(
        s"malformed AGGREGATETABLE item: $piece")
    }
    require(dims.nonEmpty, "AGGREGATETABLE requires at least one grouping column")
    require(measures.nonEmpty, "AGGREGATETABLE requires at least one aggregate")
    CreateCubeAggTableCommand(cube, dims.distinct, measures.distinct)
  }

  /** ALTER CUBE c [DROP (col, ...)] [ADD DIMENSIONS (col type, ...)
    * [MEASURES (col type, ...)]] [OPTIONS ('col'='default', ...)] —
    * the carbon-native alter dialect (CarbonSqlParser.scala:731-760):
    * drops first, then adds (dimension and measure columns both land
    * in the flat schema), with OPTIONS assigning declared defaults to
    * the ADDED columns.
    */
  private def parseAlterCube(sqlText: String, name: String,
                             body0: String): LogicalPlan = {
    val body = body0.trim.stripSuffix(";")
    def fail(msg: String): Nothing =
      throw new ParseException(Some(sqlText),
        org.apache.spark.sql.catalyst.trees.Origin(),
        "PARSE_SYNTAX_ERROR", Map("error" -> msg, "hint" -> ""))
    val kws = Seq("DROP", "ADD", "OPTIONS")
      .map(k => k -> topLevelIndexOf(body, k)).filter(_._2 >= 0)
    if (kws.isEmpty) fail("ALTER CUBE requires DROP, ADD, or OPTIONS")
    val bounds = kws.map(_._2).sorted :+ body.length
    def section(kw: String): Option[String] = kws.find(_._1 == kw).map {
      case (k, i) =>
        val end = bounds.find(_ > i).getOrElse(body.length)
        body.substring(i + k.length, end).trim
    }
    def parens(s: String, what: String): String = {
      if (!(s.startsWith("(") && s.endsWith(")")))
        fail(s"$what requires a parenthesized list")
      s.substring(1, s.length - 1)
    }
    val drops = section("DROP").map(s =>
      splitTopCommas(parens(s, "DROP"))).getOrElse(Nil)
    val adds: Seq[(String, DataType)] = section("ADD").map { addBody =>
      val aks = Seq("DIMENSIONS", "MEASURES")
        .map(k => k -> topLevelIndexOf(addBody, k)).filter(_._2 >= 0)
      if (aks.isEmpty) fail("ADD requires DIMENSIONS and/or MEASURES")
      val abounds = aks.map(_._2).sorted :+ addBody.length
      aks.flatMap { case (k, i) =>
        val end = abounds.find(_ > i).getOrElse(addBody.length)
        val inner = parens(addBody.substring(i + k.length, end).trim, k)
        splitTopCommas(inner).map { piece =>
          val cut = piece.indexWhere(Character.isWhitespace)
          if (cut < 0) fail(s"malformed $k column '$piece' (expected name type)")
          (piece.take(cut).trim,
            delegate.parseDataType(normalizeCubeType(piece.drop(cut).trim)))
        }
      }
    }.getOrElse(Nil)
    val defaults = section("OPTIONS").map(s =>
      propRe.findAllMatchIn(parens(s, "OPTIONS"))
        .map(m => m.group(1) -> m.group(2)).toMap).getOrElse(Map.empty)
    val unknownDefaults = defaults.keySet.filterNot(k =>
      adds.exists(_._1.equalsIgnoreCase(k)))
    if (unknownDefaults.nonEmpty)
      fail(s"OPTIONS defaults for columns not being added: ${unknownDefaults.mkString(", ")}")
    if (drops.isEmpty && adds.isEmpty) fail("ALTER CUBE changes nothing")
    AlterCubeCommand(name, drops, adds, defaults)
  }

  // top-level keyword scanning: the shared quote/paren-aware scanner
  private def topLevelIndexOf(s: String, keyword: String): Int =
    SqlScan.topLevelIndexOf(s, keyword)

  override def parseExpression(s: String): Expression = delegate.parseExpression(s)
  override def parseTableIdentifier(s: String): TableIdentifier =
    delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String): Seq[String] =
    delegate.parseMultipartIdentifier(s)
  override def parseQuery(s: String): LogicalPlan = delegate.parseQuery(s)
  override def parseTableSchema(s: String): StructType = delegate.parseTableSchema(s)
  override def parseDataType(s: String): DataType = delegate.parseDataType(s)
  override def parseRoutineParam(s: String): StructType = delegate.parseRoutineParam(s)
}

/** CREATE CUBE: an EMPTY graft table from declared dimension/measure
  * columns (reference CreateCube, cubeSchema.scala — the cube is a
  * flat fact table; loads come separately via LOAD DATA INTO CUBE).
  */
case class CreateCubeCommand(name: String, cubeSchema: StructType,
    props: Map[String, String], ifNotExists: Boolean)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftCatalog.tablePath(spark, name)
    if (SegmentedTable.exists(path)) {
      if (ifNotExists) return Nil
      throw new IllegalArgumentException(s"cube $name already exists at $path")
    }
    val t = SegmentedTable.create(spark, path, cubeSchema, props)
    t.read().createOrReplaceTempView(name)
    Nil
  }
}

/** CREATE AGGREGATETABLE ... FROM CUBE c: registers a rollup over the
  * cube's table root (auto-named agg_<k>_<cube>, the reference's
  * naming shape). With this round's MV-over-segmented-table support
  * the rewrite serves matching aggregates over the cube's reads, and
  * `refresh_on_commit` on the cube keeps it maintained at load time
  * (AggregateTableSelecter semantics).
  */
case class CreateCubeAggTableCommand(cube: String, dims: Seq[String],
    measures: Seq[(String, String)]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("agg_table_name", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val base = GraftCatalog.tablePath(spark, cube)
    require(SegmentedTable.exists(base), s"cube not found: $cube ($base)")
    val schema = SegmentedTable.open(spark, base).schema
    val missing = (dims ++ measures.map(_._2))
      .filterNot(c => schema.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty, s"unknown cube columns: ${missing.mkString(", ")}")
    val existing = graft.mv.AggTables.registered(spark).map(_.name).toSet
    val name = Iterator.from(0).map(i => s"agg_${i}_$cube")
      .find(!existing(_)).get
    graft.mv.AggTables.create(spark, name, base, dims, measures)
    Seq(Row(name))
  }
}

case class CreateGraftTableCommand(name: String, props: Map[String, String],
    query: LogicalPlan) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftCatalog.tablePath(spark, name)
    // an existing table must fail loudly, exactly like CREATE CUBE:
    // recreating over it would reset the catalog on top of the old
    // commit log and reuse segment_0 — time-travel reads of old
    // versions would then silently return NEW rows
    require(!SegmentedTable.exists(path),
      s"graft table $name already exists at $path — DROP GRAFT TABLE " +
        "first (or load into it) instead of re-creating")
    val df = org.apache.spark.sql.graftbridge.ColumnExpr.ofRows(spark, query)
    val t = SegmentedTable.create(spark, path, df.schema, props)
    t.load(df)
    t.read().createOrReplaceTempView(name)
    Nil
  }
}

/** Shared load-path plumbing for the LOAD command family. */
private[sql] object GraftLoadSupport {
  /** Read a load input with the target schema applied. The reference's
    * LOAD DATA is CSV-first (LoadCube, cubeSchema.scala:1792) incl.
    * DELIMITER/QUOTECHAR/FILEHEADER/ESCAPECHAR/MULTILINE and two-level
    * complex delimiters (parser CarbonSqlParser.scala:779-834); parquet
    * for modern pipelines.
    */
  def readInput(spark: SparkSession, path: String, schema: StructType,
      options: Map[String, String]): org.apache.spark.sql.DataFrame =
    if (path.endsWith(".csv"))
      graft.sources.ComplexCsv.loadWithOptions(spark, path, schema, options)
    else spark.read.schema(schema).parquet(path)

  /** Append into the table; OPTIONS('dedup_keys'='k1,k2') routes
    * through the idempotent ingest path (rows whose key already exists
    * are skipped).
    */
  def loadInto(t: SegmentedTable, df: org.apache.spark.sql.DataFrame,
      options: Map[String, String]): Unit =
    options.get("dedup_keys") match {
      case Some(ks) =>
        t.loadUnique(df, ks.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case None => t.load(df)
    }
}

case class LoadGraftDataCommand(name: String, path: String,
    options: Map[String, String] = Map.empty) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftCatalog.open(spark, name)
    val df = GraftLoadSupport.readInput(spark, path, t.schema, options)
    GraftLoadSupport.loadInto(t, df, options)
    t.read().createOrReplaceTempView(name)
    Nil
  }
}

/** Star-schema bulk load — the reference's `LOAD DATA FACT FROM '<f>'
  * DIMENSION FROM d1:'<p1>', ... INTO CUBE c` (CarbonSqlParser.scala:
  * 779-793 loadData; DataLoadTableFileMapping cubeSchema.scala:128;
  * dim-folder plumbing cubeSchema.scala:1837-1842): one statement
  * ingests the fact file into the fact table and each dimension file
  * into its own table. The Spark-native form keeps dimensions as
  * first-class flat graft tables (SURVEY §2.1 maps cube-internal
  * hierarchies to flat tables + query-time joins, co-location via
  * bucketing): a dimension table is created on first load — schema
  * taken from the file (parquet footer, or CSV header/inference) —
  * and appended thereafter, with the same segment lifecycle,
  * pruning, and time travel as any other graft table.
  */
case class LoadGraftFactDimCommand(name: String, factPath: String,
    dims: Seq[(String, String)], options: Map[String, String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val fact = GraftCatalog.open(spark, name)
    GraftLoadSupport.loadInto(fact,
      GraftLoadSupport.readInput(spark, factPath, fact.schema, options), options)
    fact.read().createOrReplaceTempView(name)
    dims.foreach { case (dimName, dimPath) =>
      // dedup_keys and fileheader are FACT-file options: dedup_keys
      // would anti-join dimensions on a column they don't have, and
      // the fact's FILEHEADER names the fact file's columns — applied
      // to a dimension it either aborts the load mid-star (after the
      // fact segment committed) or binds wrong columns. Dimension
      // CSVs carry a header row by convention unless the caller says
      // otherwise.
      val base = options - "dedup_keys" - "fileheader"
      val dimOptions =
        if (dimPath.endsWith(".csv") && !base.contains("header"))
          base + ("header" -> "true")
        else base
      val p = GraftCatalog.tablePath(spark, dimName)
      val t =
        if (SegmentedTable.exists(p)) SegmentedTable.open(spark, p)
        else {
          // first delivery defines the dimension schema: parquet reads
          // its own footer; CSV uses header names + inferred types,
          // parsed with the SAME quote/escape/multiline options the
          // actual load will apply — inference under different CSV
          // rules would bake a wrong schema into the new table
          val schema =
            if (dimPath.endsWith(".csv"))
              spark.read
                .option("header", dimOptions.getOrElse("header", "true"))
                .option("inferSchema", "true")
                .option("sep", dimOptions.getOrElse("delimiter", ","))
                .option("quote", dimOptions.getOrElse("quotechar", "\""))
                .option("escape", dimOptions.getOrElse("escapechar", "\\"))
                .option("multiLine", dimOptions.getOrElse("multiline", "false"))
                .csv(dimPath).schema
            else spark.read.parquet(dimPath).schema
          SegmentedTable.create(spark, p, schema, Map.empty)
        }
      GraftLoadSupport.loadInto(t,
        GraftLoadSupport.readInput(spark, dimPath, t.schema, dimOptions), dimOptions)
      t.read().createOrReplaceTempView(dimName)
    }
    Nil
  }
}

case class ShowGraftSegmentsCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("segment_id", IntegerType, nullable = false)(),
    AttributeReference("status", StringType, nullable = false)(),
    AttributeReference("row_count", LongType, nullable = false)(),
    AttributeReference("created_at", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftCatalog.open(spark, name).showSegments().map(s =>
      Row(s.id, s.status, s.rowCount, s.createdAt))
}

/** Folded table-level column statistics, straight from the segment
  * catalog (the numbers [[graft.mv.StatsAggFromCatalog]] serves
  * aggregates from — zero executor job here too). `min`/`max` render
  * the catalog's stored representation: epoch-MICROS for timestamps,
  * epoch-DAYS for dates, exact decimal strings for numerics. NULL
  * min/max with null_count = row_count means a proven all-null
  * column; NULL with a smaller null_count means the fold is
  * unavailable for that column (ineligible type, unknown-vintage
  * segment, or a cross-segment NaN compare).
  */
case class ShowGraftStatsCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("column", StringType, nullable = false)(),
    AttributeReference("min", StringType, nullable = true)(),
    AttributeReference("max", StringType, nullable = true)(),
    AttributeReference("null_count", LongType, nullable = true)(),
    AttributeReference("row_count", LongType, nullable = false)(),
    AttributeReference("sum", StringType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftCatalog.open(spark, name)
    val live = t.showSegments().filter(_.status == SegmentedTable.SUCCESS)
    val rows = live.map(_.rowCount).sum
    t.schema.fields.toSeq.map { f =>
      def fold(isMin: Boolean): String =
        graft.mv.StatsAggFromCatalog.foldMinMax(live, f.name, f.dataType, isMin)
          .flatMap(Option(_)).map(String.valueOf).orNull
      val nulls: Any = graft.mv.StatsAggFromCatalog
        .foldNonNullCount(live, f.name).map(nn => rows - nn).orNull
      // the exact total (integral columns r19+, decimal columns r20+)
      // — the same number the SUM fold serves, routed by column type
      // (the stored string formats differ: integer vs plain decimal)
      val sumS: String = (f.dataType match {
        case _: org.apache.spark.sql.types.DecimalType =>
          graft.mv.StatsAggFromCatalog.foldSumDecimalExact(live, f.name)
            .flatMap(identity).map(_.bigDecimal.toPlainString)
        case _ =>
          graft.mv.StatsAggFromCatalog.foldSumExact(live, f.name)
            .flatMap(identity).map(_.toString)
      }).orNull
      Row(f.name, fold(isMin = true), fold(isMin = false), nulls, rows, sumS)
    }
  }
}

/** Catalog commit history — one row per version in the time-travel
  * log, with the live-segment set and row count as of that commit.
  */
case class ShowGraftHistoryCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("live_segments", StringType, nullable = false)(),
    AttributeReference("total_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftCatalog.open(spark, name)
    t.versions.map { v =>
      val live = t.statusAt(v).segments.filter(_.status == SegmentedTable.SUCCESS)
      Row(v, live.map(_.id).mkString(","), live.map(_.rowCount).sum)
    }
  }
}

/** Reverse-engineer DDL (reference ShowCreateCube). */
case class ShowCreateGraftTableCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("ddl", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftCatalog.open(spark, name)
    val cols = t.schema.fields
      .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
    val props =
      if (t.properties.isEmpty) ""
      else t.properties.toSeq.sorted
        .map { case (k, v) => s"'$k'='$v'" }
        .mkString(" TBLPROPERTIES(", ", ", ")")
    Seq(Row(s"CREATE GRAFT TABLE $name ($cols)$props"))
  }
}

/** Table + segment summary (reference DescribeFormattedCommand). */
case class DescribeGraftTableCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("col_name", StringType, nullable = false)(),
    AttributeReference("data_type", StringType, nullable = false)(),
    AttributeReference("comment", StringType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftCatalog.open(spark, name)
    val cols = t.schema.fields.map(f =>
      Row(f.name, f.dataType.simpleString, null))
    val live = t.showSegments().filter(_.status == SegmentedTable.SUCCESS)
    val meta = Seq(
      Row("# table", t.root.toString, null),
      Row("# live_segments", live.size.toString, null),
      Row("# total_rows", t.countFromCatalog.toString, null)) ++
      t.properties.toSeq.sorted.map { case (k, v) => Row(s"# $k", v, null) }
    cols.toSeq ++ meta
  }
}

case class DeleteGraftSegmentsCommand(name: String, ids: Seq[Int])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftCatalog.open(spark, name).deleteSegments(ids); Nil
  }
}

/** Row-level DELETE (copy-on-write segment rewrite, see
  * [[SegmentedTable.delete]]). Returns the count of removed rows.
  */
case class DeleteGraftRowsCommand(name: String, whereSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("deleted_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftCatalog.open(spark, name)
    val pred = org.apache.spark.sql.graftbridge.ColumnExpr.toColumn(
      spark.sessionState.sqlParser.parseExpression(whereSql))
    val n = t.delete(pred)
    t.read().createOrReplaceTempView(name)
    Seq(Row(n))
  }
}

/** MERGE (upsert) from a file: incoming rows replace same-key rows and
  * the rest append, one atomic commit (see [[SegmentedTable.merge]]).
  * Returns the count of replaced existing rows.
  */
case class MergeGraftDataCommand(name: String, path: String,
    keyCols: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("replaced_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftCatalog.open(spark, name)
    val df =
      if (path.endsWith(".csv"))
        graft.sources.ComplexCsv.load(spark, path, t.schema)
      else spark.read.schema(t.schema).parquet(path)
    val n = t.merge(df, keyCols)
    t.read().createOrReplaceTempView(name)
    Seq(Row(n))
  }
}

/** Row-level UPDATE (copy-on-write segment rewrite, see
  * [[SegmentedTable.update]]). Returns the count of updated rows.
  */
case class UpdateGraftRowsCommand(name: String,
    assignments: Seq[(String, String)], whereSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("updated_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftCatalog.open(spark, name)
    def expr(s: String) = org.apache.spark.sql.graftbridge.ColumnExpr.toColumn(
      spark.sessionState.sqlParser.parseExpression(s))
    val n = t.update(expr(whereSql),
      assignments.map { case (c, e) => c -> expr(e) }.toMap)
    t.read().createOrReplaceTempView(name)
    Seq(Row(n))
  }
}

/** COMPACT GRAFT TABLE t [MINOR] — MINOR folds only segments below
  * the `compact.small.bytes` threshold (size-tiered), the plain form
  * merges everything (major).
  */
case class CompactGraftTableCommand(name: String, minor: Boolean = false)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftCatalog.open(spark, name)
    if (minor) t.compactMinor() else t.compact()
    Nil
  }
}

case class CleanGraftFilesCommand(name: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftCatalog.open(spark, name).cleanFiles(); Nil
  }
}

/** `MOVE GRAFT TABLE [ns.]t TO [ns2.]t2 [FORCE]` — the cross-namespace
  * physical move ([[GraftCatalog.moveTable]]): directory rename under
  * both namespaces' name-map locks, MV registrations re-based, durable
  * streaming-sink lineages refuse without FORCE. Reports the new
  * namespace-qualified name.
  */
case class MoveGraftTableCommand(fromNs: String, fromName: String,
    toNs: String, toName: String, force: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("moved_to", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    GraftCatalog.moveTable(spark, GraftCatalog.storeRoot(spark),
      fromNs, fromName, toNs, toName, force)
    Seq(Row(s"$toNs.$toName"))
  }
}

/** RESTORE GRAFT TABLE t TO VERSION n: metadata-only rollback — a new
  * commit whose live set is the snapshot's (history preserved, CDC
  * visible; see [[graft.table.SegmentedTable.restoreTo]]).
  */
case class RestoreGraftTableCommand(name: String, version: Long)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftCatalog.open(spark, name).restoreTo(version); Nil
  }
}

/** OPTIMIZE GRAFT TABLE t ZORDER BY (c1, c2): re-layout the live data
  * z-ordered on the listed columns and persist them as the table's
  * zorder_columns. The rewrite is CDC-invisible (dataChange=false),
  * like compaction.
  */
case class OptimizeGraftTableCommand(name: String, cols: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftCatalog.open(spark, name).optimizeZOrder(cols); Nil
  }
}

/** ALTER CUBE: drops then adds applied through the same schema
  * evolution the ALTER GRAFT forms use (reference alterCube →
  * AlterCube, cubeSchema.scala — column-level restructure without
  * rewriting segments; defaults serve the pre-add rows).
  */
case class AlterCubeCommand(name: String, drops: Seq[String],
    adds: Seq[(String, DataType)], defaults: Map[String, String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    var t = GraftCatalog.open(spark, name)
    drops.foreach(c => t = t.dropColumn(c))
    adds.foreach { case (c, ty) =>
      t = t.addColumn(c, ty, defaults.find(_._1.equalsIgnoreCase(c)).map(_._2))
    }
    t.readWithDefaults().createOrReplaceTempView(name)
    Nil
  }
}

case class AlterGraftAddColumnCommand(name: String, colName: String,
    colType: DataType, default: Option[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftCatalog.open(spark, name).addColumn(colName, colType, default)
    t.readWithDefaults().createOrReplaceTempView(name)
    Nil
  }
}

case class AlterGraftDropColumnCommand(name: String, colName: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftCatalog.open(spark, name).dropColumn(colName)
    t.read().createOrReplaceTempView(name)
    Nil
  }
}

/** CREATE GRAFT AGGREGATE TABLE — SQL form of [[graft.mv.AggTables.create]]
  * (reference AddAggregatesToCube, cubeSchema.scala:1970). The rollup is
  * built immediately and registered; matching aggregates over the base
  * path are then answered from it by [[graft.mv.AggTableRewrite]].
  */
case class CreateGraftAggTableCommand(name: String, basePath: String,
    groupCols: Seq[String], measures: Seq[(String, String)])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.mv.AggTables.create(spark, name, basePath, groupCols, measures)
    Nil
  }
}

/** REFRESH brings the rollup up to the current base data and re-stamps
  * its freshness (see [[graft.mv.AggTables.isFresh]]), re-enabling the
  * rewrite after base appends.
  */
case class RefreshGraftAggTableCommand(name: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.mv.AggTables.refresh(spark, name); Nil
  }
}

case class DropGraftAggTableCommand(name: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.mv.AggTables.drop(spark, name); Nil
  }
}

/** Catalog enumeration of registered aggregate tables. */
case class ShowGraftAggTablesCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("mv_name", StringType, nullable = false)(),
    AttributeReference("base_path", StringType, nullable = false)(),
    AttributeReference("group_cols", StringType, nullable = false)(),
    AttributeReference("measures", StringType, nullable = false)(),
    AttributeReference("fresh", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    graft.mv.AggTables.registered(spark).sortBy(_.name).map { m =>
      Row(m.name, m.basePath, m.groupCols.mkString(","),
        m.measures.map(x => s"${x.func}(${x.baseCol})").mkString(","),
        graft.mv.AggTables.isFresh(spark, m))
    }
}

/** Enumerate every graft table in the store (reference ShowAllCubeCommand,
  * CarbonCatalystOperators.scala:97) — one driver-side directory listing
  * plus one catalog read per table; no data-plane work.
  */
case class ShowGraftTablesCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table_name", StringType, nullable = false)(),
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("live_segments", IntegerType, nullable = false)(),
    AttributeReference("total_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val storeRoot = GraftCatalog.storeRoot(spark).stripSuffix("/")
    val root = new org.apache.hadoop.fs.Path(storeRoot)
    if (!graft.table.TableIO.isDirectory(root)) return Nil
    // listStatus qualifies paths (file:/...); keep the store root's own
    // spelling in the displayed path so scheme-less configs stay stable
    graft.table.TableIO.listStatus(root)
      .map(_.getPath.getName)
      .map(name => name -> s"$storeRoot/$name")
      .filter { case (_, p) => SegmentedTable.exists(p) }
      .sortBy(_._1)
      .map { case (name, p) =>
        val t = SegmentedTable.open(spark, p)
        val live = t.showSegments().count(_.status == SegmentedTable.SUCCESS)
        Row(name, p, live, t.countFromCatalog)
      }
  }
}

/** Retention: DELETE GRAFT SEGMENTS FROM t BEFORE '<ts>' marks segments
  * loaded before the (UTC) cutoff as deleted (reference DeleteLoadByDate,
  * cubeSchema.scala:2400-2455). Accepts 'yyyy-MM-dd' or
  * 'yyyy-MM-dd HH:mm:ss'.
  */
case class DeleteGraftSegmentsBeforeCommand(name: String, cutoff: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val trimmed = cutoff.trim
    val ldt =
      try java.time.LocalDateTime.parse(trimmed.replace(' ', 'T'))
      catch {
        case _: java.time.format.DateTimeParseException =>
          java.time.LocalDate.parse(trimmed).atStartOfDay()
      }
    val millis = ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    GraftCatalog.open(spark, name).deleteSegmentsBefore(millis)
    Nil
  }
}

case class DropGraftTableCommand(name: String, ifExists: Boolean = true)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftCatalog.tablePath(spark, name)
    if (!SegmentedTable.exists(path)) {
      if (ifExists) return Nil
      throw new IllegalArgumentException(
        s"cube/table $name does not exist at $path (use IF EXISTS for " +
          "an idempotent drop)")
    }
    // same single critical section as the V2 catalog's dropTable —
    // re-resolve + delete + memo + name-map pruning under the store's
    // name-map lock (lax path-style resolution, the dialect contract)
    GraftCatalog.dropTableUnderLock(GraftCatalog.storeRoot(spark), name,
      lax = true)
    // the temp view CREATE/LOAD registered must not outlive the table:
    // a later query through it would read deleted files (or stale
    // cache) instead of failing with TABLE_OR_VIEW_NOT_FOUND
    spark.catalog.dropTempView(name)
    Nil
  }
}
