package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Zone-map (parquet row-group min/max) audit — the data-skipping health
  * check for a clustered store: scan pruning at 100 TB only works if row
  * groups carry TIGHT, mostly-disjoint key ranges, and nothing in a normal
  * pipeline tells you when compaction or an unsorted backfill quietly
  * destroyed that. This reads the footers (metadata only — a few KB per
  * file, never data pages) DISTRIBUTED across executors and scores range
  * overlap, the direct predictor of how many row groups a point/range
  * predicate must touch. Pairs with [[Layout.mortonLayout]]: write with the
  * layout, audit with this, alert when overlap drifts.
  */
object ZoneMap {

  /** Per-row-group stats of a LONG column: one row per (file, row group)
    * with row count and the footer's min/max. Footer reads fan out via
    * mapPartitions over the file list — at a million files this is a
    * million tiny metadata reads spread over the cluster, no data I/O.
    */
  def rowGroupStats(spark: SparkSession, path: String, column: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.parquet(path).inputFiles.toSeq.sorted
    val par = math.max(1, math.min(files.length, spark.sparkContext.defaultParallelism))
    files.toDS().repartition(par).mapPartitions { it =>
      val conf = new org.apache.hadoop.conf.Configuration()
      it.flatMap { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f), conf))
        try {
          reader.getFooter.getBlocks.asScala.toList.zipWithIndex.flatMap {
            case (b, i) =>
              b.getColumns.asScala
                .find(_.getPath.toDotString == column)
                .flatMap { cc =>
                  val st = cc.getStatistics
                  if (st == null || !st.hasNonNullValue) None
                  else Some((f, i, b.getRowCount,
                    st.genericGetMin.asInstanceOf[Number].longValue(),
                    st.genericGetMax.asInstanceOf[Number].longValue()))
                }
          }
        } finally reader.close()
      }
    }.toDF("file", "row_group", "n_rows", "min_v", "max_v")
  }

  /** Clustering-quality summary over [[rowGroupStats]] output. Two
    * complementary scores:
    *  - `span_pct_e4` — mean fraction of the global key range a row
    *    group's [min,max] covers (×10⁴). This is the direct pruning
    *    predictor: a uniformly-placed point predicate expects to touch
    *    `n_row_groups × span_frac` row groups. Perfect range layout →
    *    1/n_row_groups; hash scatter → ~10⁴.
    *  - `n_overlapping` — strict sweep count of row groups whose range
    *    intersects the running max of their min-sorted predecessors
    *    (zero ⇔ fully disjoint zone maps).
    * The window runs on the METADATA frame (one row per row group ≈ one
    * per 128 MB of data; ~10⁶ rows at 100 TB — still a frame, never a
    * collect).
    */
  def clusteringQuality(stats: DataFrame): DataFrame = {
    val w = Window.orderBy("min_v", "max_v", "file", "row_group")
      .rowsBetween(Window.unboundedPreceding, -1)
    stats.withColumn("prev_max", max("max_v").over(w))
      .withColumn("overlaps", (col("min_v") <= col("prev_max")).cast("int"))
      .agg(count(lit(1)).as("n_row_groups"),
        sum(col("n_rows")).as("n_rows"),
        coalesce(sum(col("overlaps")), lit(0)).cast("long").as("n_overlapping"),
        min(col("min_v")).as("global_min"), max(col("max_v")).as("global_max"),
        sum(col("max_v") - col("min_v")).as("__span_sum"))
      .withColumn("span_pct_e4", expr(
        "CASE WHEN global_max = global_min THEN 10000" +
          " ELSE __span_sum * 10000 DIV (n_row_groups * (global_max - global_min)) END"))
      .drop("__span_sum")
  }

  /** Driver demo: the same events frame written naive (hash-scattered)
    * vs Morton-clustered, audited on `user_id` — the clustered layout
    * must come out with (near-)disjoint zone maps where the naive one is
    * all-overlapping. Output: one row per layout.
    */
  def zoneMapAudit(spark: SparkSession, dir: String): DataFrame = {
    // the two written layouts are deterministic artifacts of the corpus
    // snapshot — write once per (dir), every audit re-reads footers only
    // (the measurement itself stays per-invocation)
    val root = graft.Artifacts.memo(dir, "zonemap-layouts") { a =>
      val r = a.root()
      // one source scan: the frame feeds three passes (naive write, the
      // layout's quantile probe, the clustered write)
      val ev = graft.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), expr("ts DIV 1000").as("ts_us"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        ev.repartition(8).write.mode("overwrite").parquet(s"$r/naive")
        Layout.mortonLayout(ev, "user_id", "ts_us", buckets = 8)
          .write.mode("overwrite").parquet(s"$r/clustered")
      } finally ev.unpersist()
      r
    }
    val naive = clusteringQuality(rowGroupStats(spark, s"$root/naive", "user_id"))
      .withColumn("layout", lit("naive"))
    val clustered = clusteringQuality(rowGroupStats(spark, s"$root/clustered", "user_id"))
      .withColumn("layout", lit("morton"))
    naive.unionByName(clustered)
      .select("layout", "n_row_groups", "n_rows", "n_overlapping",
        "span_pct_e4", "global_min", "global_max")
  }
}
