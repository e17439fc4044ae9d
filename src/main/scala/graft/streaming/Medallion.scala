package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.cdc.Debezium

/** The composed bronze → silver → gold medallion CDC pipeline as ONE
  * checkpointed Structured Streaming query — the reference's DLT flow
  * (debezium-approach/notebooks/dlt_cdc_pipeline.py:112-372: bronze
  * ingest → silver parse + expectations → gold apply-changes + DLQ),
  * re-expressed on plain Spark.
  *
  * Topology per micro-batch (all splits are stateless column arithmetic,
  * so the whole batch is parsed exactly once and shuffles only inside
  * the gold merge):
  *
  *   bronze text  ─ parseEnvelopeWithDlq ─┬─ silver ─ expectOrDrop ─┬─ clean ─ gold SCD1 merge
  *                                        │                         └─ quarantine/batch_id=N
  *                                        └─ dlq/batch_id=N
  *
  * Exactly-once across kill/restart, without a table format:
  *  - source progress lives in the query checkpoint (file-source offsets);
  *  - DLQ/quarantine write `mode(overwrite)` into a per-batch_id
  *    directory — replaying a batch after a crash overwrites its own
  *    output instead of appending duplicates;
  *  - gold commits through [[BucketedGold.appendBatch]] under the
  *    foreachBatch `batchId`: a replayed batch replaces its own delta, and
  *    [[BucketedGold.read]] returns the latest-per-key state.
  *
  * Pipeline health rides [[CdcStreams.MetricsListener]] (attach to the
  * session; zero data-plane cost) and the silver latency view
  * ([[CdcStreams.streamingLatency]]).
  */
object Medallion {

  /** Default silver expectations — the reference's expect_all_or_drop set
    * (dlt_cdc_pipeline.py:149-165): a known operation, and a change image
    * consistent with the operation.
    */
  val defaultRules: Seq[(String, String)] = Seq(
    "valid_operation" -> "operation IN ('INSERT', 'UPDATE', 'DELETE', 'SNAPSHOT')",
    "has_after_image" -> "after_image IS NOT NULL OR operation = 'DELETE'",
    "has_key" -> ("coalesce(get_json_object(after_image, '$.user_id'), " +
      "get_json_object(before_image, '$.user_id')) IS NOT NULL"))

  /** Gold projection: a clean silver envelope row → a
    * [[BucketedGold.stateSchema]] row (key from the after image, falling
    * back to the before image for DELETEs).
    */
  def goldProjection(silver: DataFrame): DataFrame =
    silver.select(
      coalesce(get_json_object(col("after_image"), "$.user_id"),
        get_json_object(col("before_image"), "$.user_id")).cast("long").as("user_id"),
      col("operation"),
      (col("source_ts_ms") * 1000L).as("ts_us"),
      coalesce(get_json_object(col("after_image"), "$.event_id"),
        get_json_object(col("before_image"), "$.event_id")).cast("long").as("event_id"),
      coalesce(get_json_object(col("after_image"), "$.value").cast("double"),
        lit(0.0)).as("value"))

  /** #100 observe()-based parse-quality counters for the silver stage —
    * the data-plane twin of [[CdcStreams.MetricsListener]] (which reads
    * ENGINE progress: rows/durations). `observe` rides the silver frame
    * through the writes the batch already runs, so the counters cost no
    * extra action: rows that parsed, rows whose op code didn't map, and
    * upsert rows missing their after image — the three "the connector is
    * misbehaving" signals a medallion operator alerts on. Collected per
    * (gold path, batch) and exposed as a frame like the listener's.
    */
  final case class SilverQuality(batch_id: Long, n_parsed: Long,
      n_unknown_op: Long, n_missing_after: Long)

  private[graft] val qualityLog =
    new scala.collection.concurrent.TrieMap[(String, Long), SilverQuality]()

  def clearQuality(goldPath: String): Unit =
    qualityLog.keys.filter(_._1 == goldPath).foreach(qualityLog.remove)

  def silverQuality(goldPath: String): Seq[SilverQuality] =
    qualityLog.collect { case ((g, _), q) if g == goldPath => q }
      .toSeq.sortBy(_.batch_id)

  def silverQualityDF(spark: SparkSession, goldPath: String): DataFrame = {
    import spark.implicits._
    silverQuality(goldPath)
      .toDF("batch_id", "n_parsed", "n_unknown_op", "n_missing_after")
  }

  /** Batch-mode core of one micro-batch — also the replay/backfill path:
    * parse once, split three ways, idempotent writes keyed by `batchId`.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      goldPath: String, dlqPath: String, quarantinePath: String,
      rules: Seq[(String, String)]): Unit = {
    // three sinks = three actions: pin the micro-batch so the source scan
    // (and the envelope parse) runs once, not once per sink
    batch.persist()
    try {
      val (silver0, dlq) = Debezium.parseEnvelopeWithDlq(batch, "value")
      val obs = new org.apache.spark.sql.Observation(
        s"silver_quality_${batchId}_${java.util.UUID.randomUUID()}")
      val silver = silver0.observe(obs,
        count(lit(1)).as("n_parsed"),
        sum(when(col("operation") === "UNKNOWN", 1L).otherwise(0L))
          .as("n_unknown_op"),
        sum(when(col("after_image").isNull && col("operation") =!= "DELETE", 1L)
          .otherwise(0L)).as("n_missing_after"))
      val (clean, quarantine) = Debezium.expectOrDrop(silver, rules)
      dlq.write.mode("overwrite").parquet(s"$dlqPath/batch_id=$batchId")
      quarantine.withColumn("failed_rules", concat_ws(",", col("failed_expectations")))
        .drop("failed_expectations")
        .write.mode("overwrite").parquet(s"$quarantinePath/batch_id=$batchId")
      BucketedGold.appendBatch(spark, goldProjection(clean), goldPath, batchId)
      // the quarantine/gold actions above flowed every silver row through
      // the observe node; get() returns the already-collected metrics
      val m = obs.get
      qualityLog.put((goldPath, batchId), SilverQuality(batchId,
        m("n_parsed").asInstanceOf[Long],
        Option(m("n_unknown_op")).map(_.asInstanceOf[Long]).getOrElse(0L),
        Option(m("n_missing_after")).map(_.asInstanceOf[Long]).getOrElse(0L)))
    } finally batch.unpersist()
  }

  /** Start the composed pipeline: stream envelope text files from
    * `bronzeDir`, run [[processBatch]] per micro-batch under ONE
    * checkpoint. Kill it, restart with the same checkpoint, and the file
    * source resumes at the committed offset with every layer consistent.
    */
  def pipeline(spark: SparkSession, bronzeDir: String, goldPath: String,
      dlqPath: String, quarantinePath: String, checkpoint: String,
      rules: Seq[(String, String)] = defaultRules,
      maxFilesPerTrigger: Option[Int] = None,
      queryName: String = "medallion"): StreamingQuery = {
    val reader = spark.readStream
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.text(bronzeDir).writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark, batch, batchId, goldPath, dlqPath,
          quarantinePath, rules)
      }
      .start()
  }

  /** #117 Registered end-to-end demo: a deterministic bronze drop (synth
    * envelopes + planted corrupt lines), the full pipeline run to
    * completion in two micro-batches, and a per-layer row-count summary —
    * the "is every layer populated and consistent" view. Bounded input
    * (1000 envelopes), so cost is scale-factor-independent. The counts
    * are a local frame, so the run's temp root and its silver-quality
    * entries are released before returning.
    */
  def medallionStats(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val envelopes = Debezium.synthEnvelope(spark, dir)
      .filter(col("event_id") <= 1000)
      .select("cdc_event").collect().map(_.getString(0))
    val (fileA, fileB) = envelopes.splitAt(envelopes.length / 2)
    val root = Files.createTempDirectory("medallion").toString
    try {
      val bronzeDir = s"$root/bronze"
      Files.createDirectories(Paths.get(bronzeDir))
      Files.write(Paths.get(s"$bronzeDir/a.txt"),
        (fileA :+ "corrupt line one" :+ "{\"op\": 17}").mkString("\n").getBytes)
      Files.write(Paths.get(s"$bronzeDir/b.txt"),
        (fileB :+ "corrupt line two").mkString("\n").getBytes)
      // both files in ONE micro-batch: the demo reports layer counts; the
      // multi-batch + kill/restart contract is MedallionSpec's job, and a
      // second trigger would only re-pay the stream-machinery fixed cost
      val q = pipeline(spark, bronzeDir, s"$root/gold", s"$root/dlq",
        s"$root/quarantine", s"$root/ck", maxFilesPerTrigger = None,
        queryName = s"medallion_stats_${java.util.UUID.randomUUID()}")
      try q.processAllAvailable() finally q.stop()
      Seq(
        ("bronze", envelopes.length + 3L),
        ("dlq", layerCount(spark, s"$root/dlq")),
        ("quarantine", layerCount(spark, s"$root/quarantine")),
        ("gold", BucketedGold.read(spark, s"$root/gold").count()))
        .toDF("layer", "n_rows")
    } finally {
      clearQuality(s"$root/gold")
      val r = new org.apache.hadoop.fs.Path(root)
      r.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(r, true)
    }
  }

  /** Rows in one parquet layer. A layer directory the run never wrote
    * holds 0 rows; any other read failure (a corrupt file, a schema
    * clash) propagates instead of reporting an empty layer.
    */
  private[graft] def layerCount(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) 0L
    else spark.read.parquet(path).count()
  }
}
