package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Shim into Spark's private[sql] Expression<->Column bridges, needed to
  * expose custom Catalyst expressions as user-facing Columns on Spark 4's
  * ColumnNode API (the public `new Column(expr)` constructor of Spark 3 is
  * gone). Each shim is a few lines so the private-API surface stays small. */
package object graftx {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Convert a COMPOSED Column (function-call ColumnNodes, lambdas, …)
    * into the Catalyst expression tree the analyzer resolves —
    * [[toExpression]] only unwraps Columns that already hold a raw
    * expression and returns an Unevaluable ColumnNodeExpression for
    * anything composed, which blows up if returned from an
    * injectFunction builder. This is the same converter Dataset itself
    * runs at the Column -> LogicalPlan boundary. */
  def toAnalyzableExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** True when the session-shared Dataset cache has no entries — the
    * observable for "this operator does not leak persisted frames"
    * (CacheManager entries are strongly held until an explicit unpersist,
    * unlike checkpoint blocks, which the ContextCleaner releases on GC). */
  def datasetCacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** Build a DataFrame from a custom logical plan (Dataset.ofRows is
    * private[sql]; needed to surface custom operators like the as-of
    * join's logical node through the public Dataset API). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Read a hive-partitioned parquet directory the way
    * `spark.read.parquet` resolves it — one file listing, one footer
    * job — with two differences: the partition columns are declared
    * strings (values like "1.1" stay strings, and a rewrite keeps every
    * directory name as it is, without touching the session-wide
    * type-inference conf), and the data schema is the union of every
    * file's footer schema (`mergeSchema`), not the first file's. A
    * public `.schema(...)` read would need the merged schema up front
    * and so a second listing. */
  def readPartitionedParquet(spark: SparkSession, path: String,
                             partitionCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val s = spark.asInstanceOf[classic.SparkSession]
    val index = new InMemoryFileIndex(s, Seq(new org.apache.hadoop.fs.Path(path)),
      Map.empty, Some(StructType(partitionCols.map(StructField(_, StringType)))))
    val format = new ParquetFileFormat
    val merged = format.inferSchema(s, Map("mergeSchema" -> "true"), index.allFiles())
      .getOrElse(throw new IllegalArgumentException(s"no parquet files under $path"))
    // nullable like every file-source read: a merged column is absent
    // (null) in the files of tables that lack it
    s.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      StructType(merged.filterNot(f => partitionCols.contains(f.name))).asNullable, None, format,
      Map.empty)(s))
  }
}
