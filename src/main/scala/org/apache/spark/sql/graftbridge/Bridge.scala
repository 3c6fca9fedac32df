package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 moved these conversions behind
  * `private[sql] ExpressionUtils`, so custom Catalyst Expressions need a
  * shim inside the org.apache.spark.sql package namespace to surface as
  * user-facing Columns.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The session's function registry (also `private[sql]` in Spark 4). */
  def functionRegistry(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry

  /** DataFrame from a hand-built LogicalPlan (`Dataset.ofRows` is
    * `private[sql]`) — how a custom logical operator like
    * [[graft.plans.AsOfJoin]] enters the Dataset world. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Forward catalyst filter expressions to a builtin file ScanBuilder.
    * Spark 4's file sources (FileScanBuilder) take pushdown through
    * `private[sql] SupportsPushDownCatalystFilters` — NOT the public v1
    * `SupportsPushDownFilters` — so a wrapping connector that delegates
    * its scan (graft's snap tables) must hand filters over inside the
    * sql package namespace or the file-level pushdown silently no-ops. */
  def pushCatalystFilters(b: org.apache.spark.sql.connector.read.ScanBuilder,
      filters: Seq[Expression]): Unit = b match {
    case p: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
      p.pushFilters(filters)
    case _ =>
  }

  /** Spark's own parquet reader as a function of one file range — the
    * decode `FileSourceScanExec` runs, built outside any plan for the
    * active (executing) session; its Hadoop conf and
    * `StructType.asNullable` are private to Spark. Every field reads
    * nullable, because a file may lack any requested column; rows come
    * back one at a time, not as batches. The temporary row-index
    * column, when `schema` names it, serves each row's physical ordinal
    * in its file. */
  def parquetReader(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val s = org.apache.spark.sql.classic.SparkSession.active
    val nullable = schema.asNullable
    new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .buildReaderWithPartitionValues(s, nullable,
        new org.apache.spark.sql.types.StructType(), nullable, Nil,
        Map(org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "false"),
        s.sessionState.newHadoopConf())
  }

  /** The data schema Spark's non-merging parquet inference
    * (`ParquetUtils.inferSchema`) gives `paths`, read from ONE footer on
    * the driver instead of in a one-task job. The file is Spark's pick:
    * the index's files sorted by path, then `_common_metadata`, else
    * `_metadata`, else the first data file; the converter takes the
    * session flags `mergeSchemasInParallel` passes. None when the
    * session merges schemas, no data file is listed, or the session is
    * a Connect client (its server lists the files) — the caller then
    * leaves inference (and its error) to Spark. The session state and
    * its Hadoop conf are `private[sql]`. */
  def parquetFooterSchema(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String]): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE,
      PARQUET_METADATA_FILE}
    import org.apache.spark.sql.execution.datasources.parquet._
    spark match {
      case s: org.apache.spark.sql.classic.SparkSession
          if !s.sessionState.conf.isParquetSchemaMergingEnabled =>
        val conf = s.sessionState.conf
        val files = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
            s, paths.map(new org.apache.hadoop.fs.Path(_)), Map.empty, None)
          .allFiles().sortBy(_.getPath.toString)
        def named(n: String) = files.find(_.getPath.getName == n)
        files.find(f => f.getPath.getName != PARQUET_COMMON_METADATA_FILE &&
            f.getPath.getName != PARQUET_METADATA_FILE).map { firstData =>
          val pick = named(PARQUET_COMMON_METADATA_FILE)
            .orElse(named(PARQUET_METADATA_FILE)).getOrElse(firstData)
          val footer = ParquetFooterReader.readFooter(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
              pick, s.sessionState.newHadoopConf()),
            org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(
            new org.apache.parquet.hadoop.Footer(pick.getPath, footer),
            new ParquetToSparkSchemaConverter(
              assumeBinaryIsString = conf.isParquetBinaryAsString,
              assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
              inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
              nanosAsLong = conf.legacyParquetNanosAsLong,
              respectUnknownTypeAnnotation =
                conf.parquetReaderRespectUnknownTypeAnnotation))
        }
      case _ => None
    }
  }

  /** Catalyst predicate → public v1 `Filter` (the translation
    * `DataSourceStrategy` applies for v1 pushdown), for connectors that
    * evaluate predicates against their own metadata (graft's `#stats`
    * file skipping). */
  def translateFilter(e: Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)
}

/** Public face of `private[sql] SupportsPushDownCatalystFilters`, so a
  * connector outside the sql namespace can RECEIVE catalyst-expression
  * pushdown from V2ScanRelationPushDown (which offers this interface
  * first and falls back to translated v1 filters otherwise). */
trait GraftCatalystFilterPushdown
  extends org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
