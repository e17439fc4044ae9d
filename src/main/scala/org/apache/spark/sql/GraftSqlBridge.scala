package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ↔ Expression converters, the standard
  * pattern for Spark extension libraries that define custom Catalyst
  * expressions (Spark 4 moved the classic converters behind
  * org.apache.spark.sql.classic.ExpressionUtils).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Plan-free emptiness probe for a foreachBatch micro-batch: true iff
    * every leaf of the analyzed plan statically carries zero rows — an
    * empty LocalRelation, a zero-partition LogicalRDD, or a streaming v2
    * scan whose start and end offsets are equal (the engine's empty
    * trigger cycle). Conservative: any other leaf shape → false and the
    * caller falls back to its write-then-count path. Costs analysis only
    * (already cached on the engine's batch Dataset) — never
    * optimization, physical planning, or a Spark job.
    */
  def isStaticallyEmpty(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.v2.StreamingDataSourceV2ScanRelation
    val leaves = df.queryExecution.analyzed.collectLeaves()
    leaves.nonEmpty && leaves.forall {
      case l: LocalRelation => l.data.isEmpty
      case r: LogicalRDD => r.rdd.getNumPartitions == 0
      case s: StreamingDataSourceV2ScanRelation =>
        (s.startOffset, s.endOffset) match {
          case (Some(a), Some(b)) => a.json == b.json
          case _ => false
        }
      case _ => false
    }
  }

  /** A parquet scan over files the caller has already listed: each root dir
    * with the data files under it (`k=v` dirs between a root and its files
    * become partition columns), read with `schema`. The scan's file index is
    * seeded with those listings, so building the Dataset runs no Spark job —
    * no schema inference and no parallel listing, however many roots.
    */
  def parquetScan(spark: SparkSession, listed: Seq[(org.apache.hadoop.fs.Path,
      Array[org.apache.hadoop.fs.FileStatus])], schema: types.StructType): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
      InMemoryFileIndex, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val files = listed.toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = files.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, listed.map(_._1), Map.empty, Some(schema), cache)
    val relation = HadoopFsRelation(index, index.partitionSchema, schema, None,
      new ParquetFileFormat, Map.empty)(spark)
    ofRows(spark, LogicalRelation(relation))
  }
}
