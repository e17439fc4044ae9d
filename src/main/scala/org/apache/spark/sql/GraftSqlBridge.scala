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

  /** The schema `spark.read.parquet(path)` infers, without its Spark job.
    * Spark's non-merging inference reads one footer — `_common_metadata`,
    * else `_metadata`, else the first data file in path order — but always
    * in a one-task job. This reads that same footer on the driver, decodes
    * it the same way (the footer's Spark-schema key when present, else the
    * session conf's parquet type mapping) and appends the inferred `k=v`
    * partition columns. The listing goes through the session's shared file
    * status cache, as the read's own listing does, so a following
    * `spark.read.schema(s).parquet(path)` lists nothing again. A missing
    * path raises the read's own `PATH_NOT_FOUND`; with schema merging on,
    * this is the read's inference itself.
    */
  def parquetSchema(spark: SparkSession, path: String): types.StructType = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.errors.QueryCompilationErrors
    import org.apache.spark.sql.execution.datasources.{DataSource, FileStatusCache,
      InMemoryFileIndex, PartitioningUtils}
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return spark.read.parquet(path).schema
    val hadoopConf = spark.sessionState.newHadoopConf()
    val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path), hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
    val index = new InMemoryFileIndex(spark, roots, Map.empty, None,
      FileStatusCache.getOrCreate(spark))
    val files = index.allFiles().sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val summary = Set(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    val footer = named(PARQUET_COMMON_METADATA_FILE).orElse(named(PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summary(f.getPath.getName)))
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(footer, hadoopConf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val data = ParquetFileFormat.readSchemaFromFooter(new Footer(footer.getPath, meta),
      new ParquetToSparkSchemaConverter(conf))
    PartitioningUtils.mergeDataAndPartitionSchema(data.asNullable, index.partitionSchema,
      conf.caseSensitiveAnalysis)._1
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

  /** `rows` moved into `n` partitions by one shuffle, each row to the
    * partition its key names: Spark's own row exchange (`UnsafeRowSerializer`
    * with partition-id passthrough) without the planner, so a job built on
    * it stays one job whatever the adaptive-execution setting (an adaptive
    * plan submits every shuffle as a job of its own). The rows must be
    * `UnsafeRow`s of `numFields` fields; the reduce side hands out one
    * reused row per partition.
    */
  def shuffleByPartitionId(rows: org.apache.spark.rdd.RDD[(Int, catalyst.InternalRow)],
      n: Int, numFields: Int): org.apache.spark.rdd.RDD[catalyst.InternalRow] =
    new org.apache.spark.rdd.ShuffledRDD[Int, catalyst.InternalRow, catalyst.InternalRow](
      rows, new org.apache.spark.PartitionIdPassthrough(n))
      .setSerializer(new execution.UnsafeRowSerializer(numFields))
      .map(_._2)

  /** A DataFrame over internal rows of `schema`, planned as a plain RDD scan. */
  def rowsToFrame(spark: SparkSession, rows: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
