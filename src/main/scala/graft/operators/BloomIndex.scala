package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-FILE Bloom-filter index — point-lookup data skipping for columns
  * the layout is NOT sorted on (the complement of [[ZoneMap]]: min/max
  * ranges prune sorted columns, Blooms prune everything else). The same
  * idea as parquet's optional bloom pages / Delta's file-skipping stats,
  * productized as a queryable artifact (reference analog: the Aurora
  * demo's point lookups by key scan the whole table;
  * unity_catalog_cdc_demo.py:553-571).
  *
  * Scale notes (100 TB): the index build is one DISTRIBUTED pass — each
  * file's keys stay inside one task (`_metadata.file_path` grouping), the
  * serialized filter is KBs per file, and the whole index for a
  * million-file table is a few GB of parquet — driver-prunable. Lookups
  * read the index (not the table), shortlist files, and scan ONLY those;
  * a false positive costs one extra file scan, never a wrong answer.
  */
object BloomIndex {

  /** Build the index: one row per data file of `tablePath` — file path,
    * row count, and a serialized Bloom filter over `keyCol` at `fpp`.
    */
  def build(spark: SparkSession, tablePath: String, keyCol: String,
      idxPath: String, fpp: Double = 0.01): Unit = {
    val df = spark.read.parquet(tablePath)
      .select(col(keyCol).cast("long").as("k"),
        col("_metadata.file_path").as("f"))
    implicit val enc = Encoders.tuple(Encoders.STRING, Encoders.BINARY, Encoders.scalaLong)
    import spark.implicits._
    df.as[(Long, String)]
      .groupByKey(_._2)(Encoders.STRING)
      .mapGroups { (file: String, rows: Iterator[(Long, String)]) =>
        val keys = rows.map(_._1).toArray
        val bf = BloomFilter.create(math.max(keys.length.toLong, 1L), fpp)
        keys.foreach(bf.putLong)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        (file, bos.toByteArray, keys.length.toLong)
      }
      .toDF("file", "bloom", "n_rows")
      .write.mode("overwrite").parquet(idxPath)
  }

  /** Distributed shortlist: evaluate `mightContain` over the index frame
    * ON THE EXECUTORS and ship only (file_name, hit_flag) pairs back —
    * the driver NEVER materializes a bloom payload. At 100 TB (~1 MB
    * blooms × 10⁵ files ≈ 100 GB of filters) the old collect-everything
    * shape was a driver OOM; names + flags are a few MB.
    * Returns (filesTotal, hitFileNames).
    */
  def shortlist(spark: SparkSession, idxPath: String,
      keys: Seq[Long]): (Long, Array[String]) = {
    val keysArr = keys.toArray // small, serialized into the task closure
    implicit val rowEnc = Encoders.tuple(Encoders.STRING, Encoders.BINARY)
    implicit val outEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaBoolean)
    val flagged = spark.read.parquet(idxPath)
      .select(col("file"), col("bloom"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (file, blob) =>
          val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(blob))
          (file, keysArr.exists(bf.mightContainLong))
        }
      }
      .collect() // names + booleans only; blobs die executor-side
    (flagged.length.toLong, flagged.collect { case (f, true) => f })
  }

  /** Point lookup THROUGH the index: shortlist files whose Bloom might
    * contain any probe key (distributed — see [[shortlist]]), scan only
    * those, exact-filter the survivors.
    * Returns (matches, filesTotal, filesRead).
    */
  def lookup(spark: SparkSession, tablePath: String, idxPath: String,
      keyCol: String, keys: Seq[Long]): (DataFrame, Long, Long) = {
    val (total, hits) = shortlist(spark, idxPath, keys)
    val matches =
      if (hits.isEmpty) spark.read.parquet(tablePath).limit(0)
        .filter(col(keyCol).isin(keys: _*))
      else spark.read.parquet(hits.toIndexedSeq: _*)
        .filter(col(keyCol).isin(keys: _*))
    (matches, total, hits.length.toLong)
  }

  /** #237 Driver demo: stage events as a multi-file table (memoized per
    * corpus snapshot), index user_id, probe a deterministic key set;
    * report the skipping rate and the (exactly correct) hit mass.
    */
  def pruneDemo(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.Artifacts.memo(dir, "bloom-demo") { a =>
      val r = a.root()
      graft.Tables.events(spark, dir)
        .repartition(16, col("user_id"))
        .write.parquet(s"$r/store")
      build(spark, s"$r/store", "user_id", s"$r/idx")
      r
    }
    val probes = (1L to 3L).toSeq
    val (m, total, read) =
      lookup(spark, s"$root/store", s"$root/idx", "user_id", probes)
    val found = m.agg(count(lit(1)).as("n")).head().getLong(0)
    import spark.implicits._
    Seq((total, read, found, probes.length.toLong))
      .toDF("files_total", "files_read", "rows_found", "n_probes")
  }
}
