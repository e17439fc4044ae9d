package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming document-corpus curation — the continuous-ingest twin of the
  * batch curation pipeline (reference pattern: the medallion file stream of
  * debezium-approach/notebooks/dlt_cdc_pipeline.py applied to a document
  * corpus instead of CDC envelopes). Crawl output lands as files; each
  * micro-batch is content-deduplicated against EVERYTHING previously
  * admitted (streaming `dropDuplicates` on (lang, md5 digest) — state
  * lives in the checkpoint, so a killed and restarted pipeline keeps
  * refusing dups it admitted before the crash), then row-local quality
  * gates drop junk, and survivors append to the curated store.
  *
  * Scale notes: digest state is one 128-bit key per admitted doc —
  * ~16 GB/billion docs across the cluster, partitioned by digest, no hot
  * key. For an unbounded crawl, swap `dropDuplicates` for
  * `dropDuplicatesWithinWatermark` on an ingest-time column to bound state
  * by the re-crawl horizon; the batch-side incremental index
  * ([[graft.operators.Dedup.buildDedupIndex]]) then owns long-horizon
  * dedup. Quality predicates are row-local (zero extra shuffles — the only
  * exchange in the plan is the digest state partitioning).
  */
object DocStream {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("text", StringType)))

  /** The quality gate both curation streams apply (and the near-dup
    * census replays): at least 5 space-separated tokens and a mean word
    * length in [2, 12]. Adds the `n_tokens` and `mean_word_len` columns.
    */
  private def qualityGate(docs: DataFrame): DataFrame = docs
    .withColumn("n_tokens", size(split(col("text"), " ")))
    .withColumn("mean_word_len",
      length(regexp_replace(col("text"), " ", "")).cast("double") /
        greatest(col("n_tokens"), lit(1)))
    .filter(col("n_tokens") >= 5 && col("mean_word_len").between(2.0, 12.0))

  /** Start the curation stream: json-lines files in `srcDir` →
    * digest-dedup → quality gate → parquet append in `outDir`.
    */
  def pipeline(spark: SparkSession, srcDir: String, outDir: String,
      ckDir: String, queryName: String,
      maxFilesPerTrigger: Option[Int] = Some(1)): StreamingQuery = {
    val rd = spark.readStream.schema(docSchema)
    val src = maxFilesPerTrigger.fold(rd)(n => rd.option("maxFilesPerTrigger", n))
      .json(srcDir)
    val curated = src
      .withColumn("digest", md5(col("text")))
      // state key = (lang, digest): language corpora are curated
      // independently (the per-language mixture weights downstream assume
      // each lang's pool is internally deduped), and a GLOBAL digest key
      // would make the surviving row's language attribution depend on
      // micro-batch arrival order whenever the same text ships under two
      // langs — nondeterministic per-language counts. The cross-lingual
      // copy of a text is one extra state row, not a correctness issue.
      .dropDuplicates("lang", "digest")
      .transform(qualityGate)
      .select("doc_id", "lang", "text", "digest", "n_tokens")
    curated.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .queryName(queryName).outputMode("append").start()
  }

  /** Streaming NEAR-dup curation — [[pipeline]]'s fuzzy twin: the
    * admission key is the winnowing fingerprint
    * (`GraftFunctions.rollingMinHash(text, 32)` — the MOSS-style min of
    * 64-bit rolling hashes over 32-char windows) instead of the exact
    * md5 digest, so a crawler re-shipping a page with a small local edit
    * (appended boilerplate, a tweaked footer) is REFUSED with high
    * probability: a local edit only adds/perturbs a few windows, and the
    * global min window survives unless the edit itself produces a
    * smaller hash (≈ edited-window share of the doc). Recall caveats are
    * inherent to single-key streaming dedup and scaladoc'd here: an edit
    * that displaces the min window slips through (the batch-side
    * [[graft.operators.Dedup]] band-verify family owns full near-dup
    * recall); a fingerprint collision between genuinely different docs
    * false-drops (min over ~hundreds of 64-bit window hashes — rare, and
    * the same trade MOSS makes).
    *
    * The quality gate runs BEFORE the stateful dedup — opposite order to
    * [[pipeline]] — for two reasons: (1) less state (junk never claims a
    * fingerprint slot), and (2) a DETERMINISTIC census — with dedup
    * first, whether a fingerprint family contributes an admitted row
    * could depend on whether its first-ARRIVING member passes the gate,
    * i.e. on micro-batch arrival order; with the gate first, admitted
    * rows = distinct (lang, fingerprint) among gate-passers, a pure
    * function of the shipped multiset that the DuckDB oracle replays
    * exactly.
    */
  def pipelineNear(spark: SparkSession, srcDir: String, outDir: String,
      ckDir: String, queryName: String,
      maxFilesPerTrigger: Option[Int] = Some(1)): StreamingQuery = {
    import graft.functions.GraftFunctions
    val rd = spark.readStream.schema(docSchema)
    val src = maxFilesPerTrigger.fold(rd)(n => rd.option("maxFilesPerTrigger", n))
      .json(srcDir)
    val curated = src.transform(qualityGate)
      .withColumn("rfp", GraftFunctions.rollingMinHash(col("text"), 32))
      .dropDuplicates("lang", "rfp")
      .select("doc_id", "lang", "text", "rfp", "n_tokens")
    curated.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .queryName(queryName).outputMode("append").start()
  }

  /** Distributed JSON-encode of the named file-batches into the stream's
    * source dir (no hand-escaping, no driver materialization) — ONE
    * Spark job for every batch (a `partitionBy` on the batch tag), where
    * round 10 paid one write job per batch. Batch file names keep the
    * `<name>-<i>.json` pattern, which also fixes the source's processing
    * order (FileStreamSource breaks timestamp ties by path). The
    * round-robin repartition(2) guarantees every batch lands as exactly
    * two files, so with maxFilesPerTrigger = 2 each logical batch IS one
    * micro-batch and the dedup state is exercised ACROSS triggers (the
    * demo's point); at crawl scale drop it and raise maxFilesPerTrigger.
    */
  private def writeBatches(root: String, srcDir: String)(
      batches: (DataFrame, String)*): Unit = {
    import java.nio.file.{Files, Paths}
    val tmp = s"$root/wb"
    batches.map { case (df, name) => df.withColumn("__batch", lit(name)) }
      .reduce(_ unionByName _)
      .repartition(2).write.mode("overwrite").partitionBy("__batch").json(tmp)
    batches.foreach { case (_, name) =>
      new java.io.File(s"$tmp/__batch=$name").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
        .sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
          Files.move(f.toPath, Paths.get(s"$srcDir/$name-$i.json"))
        }
    }
  }

  /** Driver demo: ship the corpus as two file-batches where the second
    * RE-SHIPS part of the first (a crawler revisiting pages) — the stream
    * must admit each distinct text once. Reports per-language
    * admitted/duplicate/low-quality accounting.
    *
    * The batch split is pure doc_id arithmetic (batch 1 = even ids,
    * re-ship = ids ≡ 0 mod 6, i.e. "every third doc of batch 1") and the
    * corpus NEVER touches the driver: each batch is a distributed
    * `write.json` whose part files move into the stream's source dir.
    */
  def streamCurateStats(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("doc_stream").toString
    val srcDir = s"$root/src"
    Files.createDirectories(Paths.get(srcDir))
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "lang", "text")
    val batch1 = docs.filter(col("doc_id") % 2 === 0)
    val reship = docs.filter(col("doc_id") % 6 === 0)
    val batch2 = docs.filter(col("doc_id") % 2 =!= 0).unionByName(reship)
    writeBatches(root, srcDir)((batch1, "a"), (batch2, "b"))
    // one action for both counts: total + the re-shipped subset
    val cnt = docs.agg(count(lit(1)),
      count(when(col("doc_id") % 6 === 0, 1))).head()
    val nShipped = cnt.getLong(0) + cnt.getLong(1)
    val q = pipeline(spark, srcDir, s"$root/out", s"$root/ck",
      s"doc_stream_${java.util.UUID.randomUUID().toString.take(8)}",
      maxFilesPerTrigger = Some(2))
    try q.processAllAvailable() finally q.stop()
    val admitted = spark.read.parquet(s"$root/out")
    admitted.groupBy("lang")
      .agg(count(lit(1)).as("n_admitted"),
        countDistinct(col("digest")).as("n_distinct"))
      .withColumn("n_shipped_total", lit(nShipped))
  }

  /** #410 `doc_stream_curate_near` driver demo: the near-dup stream under
    * a crawler that RE-EDITS pages instead of re-shipping them verbatim —
    * batch 1 = even doc_ids, batch 2 = odd doc_ids plus a lightly-EDITED
    * copy of every third even doc (`text || " (rev)"`, the appended-
    * boilerplate revisit [[pipeline]]'s exact-digest key cannot catch:
    * the md5 changes, the winnowing fingerprint usually doesn't).
    * Reports, per language: admitted docs, near-dup refusals (gate-passers
    * minus admitted — exactly the fingerprint families collapsed), and
    * the global shipped count. Deterministic by the gate-before-dedup
    * argument on [[pipelineNear]], so the DuckDB oracle replays the whole
    * funnel — shipped multiset (pure doc_id arithmetic + the same string
    * edit), quality gates, rolling-fingerprint arithmetic in int128 SQL —
    * and the hash must match.
    */
  def streamNearCurateStats(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("doc_stream_near").toString
    val srcDir = s"$root/src"
    Files.createDirectories(Paths.get(srcDir))
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "lang", "text")
    val batch1 = docs.filter(col("doc_id") % 2 === 0)
    val edits = docs.filter(col("doc_id") % 6 === 0)
      .withColumn("text", concat(col("text"), lit(" (rev)")))
    val batch2 = docs.filter(col("doc_id") % 2 =!= 0).unionByName(edits)
    writeBatches(root, srcDir)((batch1, "a"), (batch2, "b"))
    val q = pipelineNear(spark, srcDir, s"$root/out", s"$root/ck",
      s"doc_stream_near_${java.util.UUID.randomUUID().toString.take(8)}",
      maxFilesPerTrigger = Some(2))
    try q.processAllAvailable() finally q.stop()
    // batch replay of the same gates over the shipped multiset → the
    // per-lang gate-passer counts the refusal accounting needs (the
    // corpus never touches the driver; one scalar action for the total)
    val shipped = batch1.unionByName(batch2)
    val gated = qualityGate(shipped)
      .groupBy("lang").agg(count(lit(1)).as("n_gated"))
    val nShipped = shipped.count()
    spark.read.parquet(s"$root/out")
      .groupBy("lang").agg(count(lit(1)).as("n_admitted"))
      .join(gated, "lang")
      .select(col("lang"), col("n_admitted"),
        (col("n_gated") - col("n_admitted")).as("n_refused_near"),
        lit(nShipped).as("n_shipped_total"))
  }
}
