package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for LLM training-data curation over `documents`.
  * Pure `functions._` / SQL-expression arithmetic — fully codegen'd, and
  * every formula is written so the DuckDB oracle can evaluate the identical
  * expression (no engine-specific tokenizers).
  *
  * All row-local: zero shuffles except dedupExact's hash groupBy.
  */
object Text {

  // token count for single-space-separated text: chars - non-space chars + 1
  private val nTokens = "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"
  // occurrences of the (English-marker) trigram 'the'
  private val theCnt = "(length(text) - length(replace(text, 'the', ''))) / 3.0"

  /** #29 Token counting (whitespace tokens + regex word tokens). */
  def docTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).selectExpr(
      "doc_id",
      "CAST(length(text) AS BIGINT) AS n_chars_calc",
      s"$nTokens AS n_tokens",
      // BPE-ish regex pieces: letter runs and digit runs (escape-free
      // pattern: Spark and DuckDB string literals escape differently)
      "CAST(size(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+', 0)) AS BIGINT) AS n_tokens_re")

  /** #30 Quality scoring: length/stopword ratios composed into one score.
    *
    * Ratios are emitted as exact ×10⁴ fixed-point BIGINTs (integer DIV) so
    * the result is bit-identical across engines — double division rounded
    * with `round(x, 4)` flips half-ulp boundaries between Spark and the
    * DuckDB oracle. Callers wanting doubles divide by 1e4.
    */
  def docQuality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "CAST(length(text) AS BIGINT) AS n_chars",
        s"$nTokens AS n_tokens",
        // 'the' removal drops exactly 3 chars per occurrence → DIV is exact
        "CAST(length(text) - length(replace(text, 'the', '')) AS BIGINT) DIV 3 AS the_cnt")
      .selectExpr("doc_id", "n_chars", "n_tokens", "the_cnt",
        "(n_chars - n_tokens + 1) * 10000 DIV n_tokens AS avg_token_len_e4",
        "the_cnt * 10000 DIV n_tokens AS the_ratio_e4",
        // least(1, n/100) * (1 - the/n) × 10⁴ = least(100,n) * (n-the) * 100 / n;
        // the (n-the) factor is clamped at 0 ('the'-dense text can push
        // the_cnt past n_tokens) keeping the score in [0,1] AND the numerator
        // non-negative — Spark DIV truncates toward zero while DuckDB //
        // floors, so a negative numerator could hash-mismatch the oracle
        "least(100, n_tokens) * greatest(0, n_tokens - the_cnt) * 100 DIV n_tokens AS quality_score_e4")

  /** #31 Language-ID heuristic: marker-trigram density (the n-gram
    * profile degenerates to an English-marker test on this corpus).
    */
  def docLangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "lang",
        s"CASE WHEN $theCnt / $nTokens >= 0.03 THEN 'en' ELSE 'und' END AS lang_pred")
      .withColumn("agree", col("lang_pred") === col("lang"))

  /** #79 Text normalization for dedup prep: lowercase, trim, collapse
    * whitespace — then the content hash of the NORMALIZED form (the hash
    * two near-identical crawls share even when casing/spacing differ).
    */
  def docNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).selectExpr(
      "doc_id",
      "md5(regexp_replace(trim(lower(text)), '  +', ' ')) AS norm_hash",
      "CAST(length(regexp_replace(trim(lower(text)), '  +', ' ')) AS BIGINT) AS norm_len")

  /** #109 Gopher-style quality filter (the published heuristic rules a
    * pretraining pipeline applies before dedup): word-count bounds, mean
    * word length bounds, minimum stopword density. All ratios are ×10⁴
    * fixed-point integer arithmetic — exact in both engines — and the
    * stopword counter is space-delimited substring removal, identical
    * cross-engine. Row-local, fully codegen'd.
    *
    * Known undercount: replace(' w ') consumes the shared delimiter space,
    * so consecutive stopwords ("the the") count once — the oracle mirrors
    * the same bias, so parity holds, but stop_ratio_e4 understates true
    * density. Exact counting needs split-based token equality (an
    * explode+filter pass) if precise stopword density ever matters.
    */
  private val stopwords = Seq("the", "and", "of", "to", "in", "is", "for")

  def docQualityGopher(spark: SparkSession, dir: String): DataFrame =
    gopherAudit(Tables.documents(spark, dir).select("doc_id", "text"))
      .select("doc_id", "n_words", "stop_hits", "mean_word_len_e4",
        "stop_ratio_e4", "passes_gopher")

  /** The Gopher gate over any frame with a `text` column — passthrough
    * columns survive, so per-source/per-language audits can carry their
    * grouping keys through the same row-local arithmetic.
    */
  private[operators] def gopherAudit(df: DataFrame): DataFrame = {
    val stopHits = stopwords.map { w =>
      s"(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $w ', ''))) DIV ${w.length + 2}"
    }.mkString(" + ")
    df.withColumn("n_chars_g", expr("CAST(length(text) AS BIGINT)"))
      .withColumn("n_words", expr(nTokens))
      .withColumn("stop_hits", expr(s"CAST($stopHits AS BIGINT)"))
      .withColumn("mean_word_len_e4",
        expr("(n_chars_g - n_words + 1) * 10000 DIV n_words"))
      .withColumn("stop_ratio_e4", expr("stop_hits * 10000 DIV n_words"))
      .withColumn("passes_gopher", expr(
        """(n_words >= 40 AND n_words <= 100000
          | AND mean_word_len_e4 >= 30000 AND mean_word_len_e4 <= 100000
          | AND stop_ratio_e4 >= 200)""".stripMargin))
      .drop("n_chars_g")
  }

  /** #183 Per-SOURCE corpus profile — the domain-level curation view
    * (C4/RefinedWeb-style pipelines run blocklists and per-domain caps on
    * exactly these numbers): document and token mass, unique-text count,
    * Gopher-pass mass, and exact-duplicate mass WITHIN the source.
    *
    * One shuffle chain: (source, digest) aggregation then source rollup —
    * both map-side combined, digests travel, never text. At 100 TB the
    * digest level is the corpus's unique-text cardinality per domain and
    * the rollup is O(domains).
    */
  def sourceQuality(spark: SparkSession, dir: String): DataFrame =
    gopherAudit(Tables.documents(spark, dir).select("doc_id", "source", "text"))
      .select(col("source"), md5(col("text")).as("h"), col("n_words"),
        col("passes_gopher"))
      .groupBy("source", "h")
      .agg(count(lit(1)).as("c"), sum("n_words").as("w"),
        sum(when(col("passes_gopher"), 1L).otherwise(0L)).as("gp"))
      .groupBy("source")
      .agg(sum("c").cast("long").as("n_docs"),
        count(lit(1)).as("n_uniq_texts"),
        sum("w").cast("long").as("total_tokens"),
        sum("gp").cast("long").as("n_gopher_pass"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).cast("long").as("n_dup_docs"))
      .withColumn("dup_ratio_e4", expr("n_dup_docs * 10000 DIV n_docs"))

  /** #184 Per-source document caps — "no domain dominates the corpus":
    * keep at most `cap` documents per source, chosen by smallest content
    * digest (priority sampling — deterministic, content-addressed, rerun-
    * stable), and report the kept/dropped accounting per source.
    *
    * Rides the TopKPerGroup physical operator, so each map task prunes to
    * its local top-`cap` BEFORE the shuffle — the exchange carries
    * O(partitions × cap) rows per source, not the source's full document
    * mass (the whole point when one domain is 30% of a web crawl).
    */
  def sourceCaps(spark: SparkSession, dir: String, cap: Int = 50): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("pri"))
    val kept = graft.plans.TopK.topKPerGroup(
      docs, Seq("source"), Seq(("pri", false), ("doc_id", false)), cap)
    val keptAgg = kept.groupBy("source")
      .agg(count(lit(1)).as("n_kept"), max("pri").as("cap_digest"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(keptAgg, Seq("source"))
      .withColumn("n_dropped", col("n_docs") - col("n_kept"))
      .select("source", "n_docs", "n_kept", "n_dropped", "cap_digest")
  }

  /** #103 Corpus length distribution: token-count histogram in width-10
    * buckets — the "what does my corpus look like" pass before filtering.
    * Exact integer bucketing (no percentile interpolation → no
    * cross-engine float drift); one map-side-combined aggregation.
    */
  def docLenHist(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr(s"$nTokens AS n_tokens")
      .selectExpr("n_tokens DIV 10 AS bucket")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("bucket_lo", col("bucket") * 10)
      .withColumn("bucket_hi", col("bucket") * 10 + 9)
      .select("bucket", "bucket_lo", "bucket_hi", "n_docs")

  /** #94 Corpus term statistics: top-k terms per document ranked
    * tf-idf-style — term frequency descending, document frequency
    * ascending (rarer ≈ more informative), term for determinism. The
    * ranking is FLOAT-FREE: (tf, −df) orders identically to tf·idf(df)
    * for fixed tf and is bit-stable across engines, so the query
    * hash-checks against the oracle with no log()/double parity risk.
    *
    * Scale shape: tokens explode map-side; tf is one shuffle on
    * (doc, term); df reduces the tf frame by term; the top-k runs through
    * the two-phase TopKPerGroupExec (map-side prune before the exchange).
    */
  def docTopTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    graft.plans.TopK.topKPerGroup(tf.join(df, "term"), Seq("doc_id"),
      Seq(("tf", true), ("df", false), ("term", false)), k)
      .select("doc_id", "term", "tf", "df", "rnk")
  }

  /** #32 Exact deduplication: md5 content hash groupBy — at 100 TB this is
    * the canonical single-shuffle dedup (hash is computed map-side; the
    * shuffle key is the 128-bit digest, not the document body).
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"))

  /** #95 Benchmark decontamination: flag corpus documents sharing any
    * `n`-token shingle with the eval set (doc_id < evalMax stands in for
    * the benchmark corpus). The standard LLM training-data hygiene pass:
    * eval shingles reduce to a DISTINCT hash set; the corpus joins on the
    * shingle hash — ids and 128-bit digests travel, never document text.
    * At 100 TB the eval side is small (benchmarks are ~10⁵ docs) so the
    * join broadcasts; md5 here is the cross-engine-checkable digest a
    * production run would swap for xxhash64.
    */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 5,
      evalMax: Long = 10): DataFrame = {
    // split() is materialized ONCE per row before the lambda: Spark does not
    // hoist loop-invariant subexpressions out of higher-order functions, so
    // referencing split(text) inside transform() would re-tokenize the
    // document per shingle — O(tokens²) work per row
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(
        graft.functions.GraftFunctions.shingleMd5s(col("toks"), n)).as("h"))
    val evalSet = sh.filter(col("doc_id") < evalMax).select("h").distinct()
    sh.filter(col("doc_id") >= evalMax)
      .join(evalSet, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
  }

  /** #33 Document fingerprint: 64-bit md5 prefix (the SQL-checkable variant;
    * the rolling-hash winnowing fingerprint rides with Dedup.simhash).
    */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), substring(md5(col("text")), 1, 16).as("fp"))

  /** Gopher repetition signals: per-document n-gram repetition ratios — the
    * published "repetitive text" filters a pretraining pipeline applies
    * alongside the word-count/stopword rules in [[docQualityGopher]]. For
    * each document and n ∈ {2, 5}: total n-grams, the most frequent
    * n-gram's occurrence count (top-gram fraction ≈ "fraction of text in
    * the most common n-gram"), and the count of occurrences whose gram
    * appears more than once (duplicate-gram fraction). Ratios are exact
    * ×10⁴ fixed-point so both engines agree bit-for-bit.
    *
    * Scale shape (round-10 rewrite): the stats are PER-DOCUMENT, so the
    * whole operator is row-local — one corpus scan, ZERO shuffles; only
    * the two tiny (doc, n) result rows leave the map side. Round 9
    * exploded every gram occurrence into a (doc, n, gram) count shuffle
    * and scanned the tokenized corpus twice (grams(2) ∪ grams(5)); on a
    * real cluster the exchange of ~2·Σtokens gram strings is network
    * traffic this shape simply never creates.
    *
    * Round 11 (guide §1.2 step 2 — per-task work): round 10 folded
    * run-lengths over each doc's array_sort'ed grams with an `aggregate`
    * higher-order function, which Catalyst evaluates INTERPRETED (one
    * named_struct allocation per gram) — the driver bench read it ×0.76
    * vs the round-9 shuffle shape. The fold is now a compiled per-doc
    * hash count inside a typed flatMap: O(t) per document instead of
    * O(t log t) string sorting, no per-element Catalyst allocation.
    * Identical values by construction — total = t−n+1, top_gram_cnt =
    * max multiplicity (= longest sorted run), dup_gram_occ = Σ counts of
    * grams occurring ≥ 2 (= occurrences inside runs > 1); TextSpec pins
    * the values. Growth model: linear in tokens, embarrassingly parallel
    * at any corpus size.
    */
  def docRepetition(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .as[(Long, Array[String])]
      .flatMap { case (docId, toks) =>
        Seq(2, 5).withFilter(toks.length >= _).map { n =>
          val total = toks.length - n + 1
          val counts = new java.util.HashMap[String, Long](total * 2)
          val sb = new java.lang.StringBuilder
          var top = 0L
          var i = 0
          while (i < total) {
            sb.setLength(0)
            var j = 0
            while (j < n) {
              if (j > 0) sb.append(' ')
              sb.append(toks(i + j)); j += 1
            }
            val c = counts.merge(sb.toString, 1L, _ + _)
            if (c > top) top = c
            i += 1
          }
          var dup = 0L
          val it = counts.values().iterator()
          while (it.hasNext) { val c = it.next(); if (c >= 2L) dup += c }
          (docId, n.toLong, total.toLong, top, dup)
        }
      }
      .toDF("doc_id", "gram_n", "n_grams", "top_gram_cnt", "dup_gram_occ")
      .selectExpr("doc_id", "gram_n", "n_grams", "top_gram_cnt", "dup_gram_occ",
        "top_gram_cnt * 10000 DIV n_grams AS top_gram_frac_e4",
        "dup_gram_occ * 10000 DIV n_grams AS dup_gram_frac_e4")
  }

  /** Corpus-level duplicate n-gram audit — the bucketed approximation of
    * exact-substring deduplication: an `n`-token shingle appearing in more
    * than one document marks shared boilerplate/copied spans. Per flagged
    * document: how many of its distinct shingles are corpus duplicates, and
    * how many of those it is NOT the earliest holder of (the spans a
    * keep-first dedup pass would drop).
    *
    * Scale shape: ids and 128-bit digests travel, never text, and the
    * whole audit rides ONE digest exchange. An explicit `repartition(h)`
    * clusters the exploded shingles by digest; that single partitioning
    * satisfies the (h, doc_id) distinct aggregation (subset clustering),
    * the per-digest n_docs/first_doc WINDOW (which replaces the former
    * groupBy + self-join-back — no second scan, no staged persist), and
    * only the final per-document reduce — carrying flagged pairs alone —
    * shuffles again. Two exchanges total, one corpus scan.
    */
  def corpusDupNgrams(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(
        graft.functions.GraftFunctions.shingleMd5s(col("toks"), n)).as("h"))
      .repartition(col("h"))
      .groupBy("h", "doc_id").agg(count(lit(1)).as("_m"))
      .drop("_m")
      .withColumn("n_docs", count(lit(1)).over(w))
      .withColumn("first_doc", min("doc_id").over(w))
      .filter(col("n_docs") > 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_grams"),
        sum(when(col("doc_id") =!= col("first_doc"), 1L).otherwise(0L))
          .as("n_nonoriginal"))
  }

  /** Corpus-level duplicate-SPAN removal — the APPLY side of the
    * [[corpusDupNgrams]] audit (the span-granular approximation of exact
    * substring dedup, Lee et al. ACL'22 "Deduplicating Training Data"):
    * each document splits into consecutive `n`-token spans, the corpus
    * keeps only the FIRST occurrence of every span (ordered by doc_id,
    * span_no), and documents reassemble from their surviving spans. The
    * cleaned text is emitted as length + digest, proving content without
    * shipping it.
    *
    * Shape: span explode is map-side; one shuffle partitions on the span
    * digest for the keep-first window; one groupBy reassembles per doc.
    * Spans travel as text because reassembly needs the bytes — at 100 TB
    * the window leg would carry digests only and join winners back by
    * (doc_id, span_no), trading a third shuffle for a text-free sort leg;
    * at this span width the direct plan moves the same bytes the corpus
    * holds, which is the floor either way.
    */
  def spanDedup(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, CAST((size(toks) + ${n - 1}) DIV $n AS INT) - 1)," +
          s" i -> struct(CAST(i AS BIGINT) AS span_no," +
          s" array_join(slice(toks, i * $n + 1, $n), ' ') AS span_text))")).as("s"))
      .select(col("doc_id"), col("s.span_no").as("span_no"),
        col("s.span_text").as("span_text"))
    val w = Window.partitionBy(md5(col("span_text")))
      .orderBy(col("doc_id"), col("span_no"))
    sp.withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("rn") === 1,
            struct(col("span_no"), col("span_text"))))),
          x => x.getField("span_text")), " ").as("clean_text"))
      .select(col("doc_id"), col("n_spans"), col("n_kept"),
        length(col("clean_text")).cast("long").as("clean_len"),
        md5(col("clean_text")).as("clean_digest"))
  }

  /** Per-doc bigram postings (doc_id, g, tf, dl), built ROW-LOCALLY: all
    * of a document's bigrams live in its own row, so term frequencies
    * aggregate inside one flatMap — no explode, no corpus-scale
    * (doc, term) shuffle — and the document length (bigram count) rides
    * along for free. The downstream plan decides what little of this
    * stream actually moves.
    */
  private def bigramPostings(spark: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .as[(Long, Seq[String])]
      .flatMap { case (id, toks) =>
        val m = new java.util.HashMap[String, Long]()
        val dl = (toks.length - 1).toLong
        var i = 0
        while (i < toks.length - 1) {
          m.merge(toks(i) + " " + toks(i + 1), 1L, (a, b) => a + b)
          i += 1
        }
        val out = new scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long)](m.size)
        m.forEach((g, c) => out += ((id, g, c, dl)))
        out
      }
      .toDF("doc_id", "g", "tf", "dl")
  }

  /** BM25 retrieval over an inverted bigram index, in exact fixed-point
    * arithmetic so the ranking is bit-stable cross-engine: idf is the
    * integer bit-length of N/df (the same log₂ quantization as
    * [[docLmScore]]), the Robertson tf-saturation term
    * tf·(k₁+1)/(tf + k₁·(1−b+b·dl/avgdl)) is evaluated in ×10⁴ integer
    * steps with k₁=1.2, b=0.75. The query set is itself derived from the
    * corpus (top-8 bigrams by df inside a mid-frequency band) so the demo
    * is self-contained and deterministic.
    *
    * Shape (round 9 — the sf10 sweep showed the old plan recomputing the
    * exploded (doc, term) aggregation for each of its three consumers,
    * three corpus-scale shuffles): postings now build row-locally
    * ([[bigramPostings]] — per-doc tf map inside one flatMap, dl in-row,
    * NO corpus shuffle), so the only corpus-scale exchange left is the
    * vocabulary df aggregate that query selection genuinely needs; the
    * 8-row query frame broadcasts back into a second row-local postings
    * pass that emits ONLY matching terms (candidates per query bounded
    * by the df≤50 band). Classic WAND's per-term max-impact cut
    * degenerates here — each demo query is a single term, so the
    * candidate list is its ≤50-doc posting and the two-phase
    * TopKPerGroupExec already prunes to k per partition BEFORE the
    * exchange, which is exactly the bound WAND's running-floor skip
    * would buy. TextOpsSpec pins this plan ≡ the direct formula.
    */
  def bm25TopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val postings = bigramPostings(spark, dir)
    val dfq = postings.groupBy("g").agg(count(lit(1)).as("df"))
    // doc count + total length: row-local off the corpus scan, one agg
    val nd = Tables.documents(spark, dir)
      .select(col("doc_id"), (size(split(col("text"), " ")) - 1).cast("long").as("dl"))
      .filter(col("dl") >= 1)
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("total_dl"))
    val queries = dfq.filter(col("df").between(5, 50))
      .orderBy(col("df").desc, col("g").asc).limit(8)
      .withColumnRenamed("g", "q_term")
    val scored = postings.join(broadcast(queries), postings("g") === queries("q_term"))
      .crossJoin(broadcast(nd))
      .selectExpr("q_term", "doc_id", "tf",
        "CAST(length(bin(n_docs DIV df)) - 1 AS BIGINT) AS idf_bits",
        "(total_dl * 10000) DIV n_docs AS avgdl_e4", "dl")
      .selectExpr("q_term", "doc_id", "tf", "idf_bits",
        "2500 + (7500 * ((dl * 100000000) DIV avgdl_e4)) DIV 10000 AS norm_e4")
      .selectExpr("q_term", "doc_id", "tf",
        "CAST(idf_bits * ((tf * 22000 * 10000) DIV (tf * 10000 + (12000 * norm_e4) DIV 10000)) AS BIGINT) AS score_e4")
    graft.plans.TopK.topKPerGroup(scored, Seq("q_term"),
      Seq(("score_e4", true), ("doc_id", false)), k)
      .select("q_term", "doc_id", "tf", "score_e4", "rnk")
  }

  /** Materialized exact dedup — the cleaned corpus itself, not just the
    * duplicate report ([[dedupExact]]): keep-first by content hash via a
    * rank-1 window over the md5 partition. Spark plans rank ≤ 1 as a
    * WindowGroupLimit, so survivors are pruned map-side BEFORE the
    * exchange — only one candidate row per (partition, digest) shuffles,
    * which at 100 TB means the shuffle carries ~unique-documents rows, not
    * the corpus.
    */
  def dedupExactApply(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** End-to-end curation pipeline — the composition a pretraining data
    * run executes: exact dedup (keep-first window) → Gopher quality gate →
    * deterministic stratified sample → per-language corpus accounting.
    * Two document scans (the dedup pass and the row-local quality pass)
    * joined on doc_id, then one rollup; every stage reuses the exact
    * arithmetic of its standalone operator, so the composed result is as
    * oracle-checkable as the pieces.
    */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame =
    dedupExactApply(spark, dir)
      // the gopher gate needs text again: re-derive metrics from the kept
      // rows by joining the per-doc quality frame (digest-keyed dedup and
      // doc-keyed quality both broadcast-prune at this point)
      .join(docQualityGopher(spark, dir).filter(col("passes_gopher"))
        .select("doc_id", "n_words"), "doc_id")
      .selectExpr("doc_id", "lang", "n_words",
        "CAST((doc_id * 131 + 7) % 100 AS BIGINT) AS bucket",
        """CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 40
          | WHEN 'de' THEN 30 WHEN 'es' THEN 30 ELSE 20 END AS keep_pct""".stripMargin)
      .filter(col("bucket") < col("keep_pct"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("total_tokens"))

  /** Deterministic per-group reservoir sample — k documents per language,
    * chosen by smallest content-keyed digest (priority sampling: a stable
    * uniform draw that every engine, retry, and rerun agrees on, unlike
    * reservoir state or rand()). Rides the custom TopKPerGroup physical
    * operator, so each partition keeps only k candidates per language
    * BEFORE the exchange — the shuffle moves O(groups · k) rows at any
    * corpus size.
    */
  def reservoirSample(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    graft.plans.TopK.topKPerGroup(
      Tables.documents(spark, dir)
        .select(col("lang"), col("doc_id"),
          md5(concat_ws("_", lit("sample"), col("doc_id"))).as("h")),
      Seq("lang"), Seq(("h", false), ("doc_id", false)), k)
      .select("lang", "doc_id", "h", "rnk")

  /** Deterministic stratified sampling by language: every document maps to
    * a stable pseudo-random bucket from its id (no rand() — reruns, retries
    * and both engines agree exactly) and survives iff its bucket clears the
    * language's keep-rate. The language-rebalancing pass a multilingual
    * pretraining mix needs, with reproducibility a seeded sample() cannot
    * give across engines. Pure row-local filter: zero shuffles, fully
    * codegen'd, and the predicate pushes to the scan.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "lang",
        "CAST((doc_id * 131 + 7) % 100 AS BIGINT) AS bucket",
        """CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 40
          | WHEN 'de' THEN 30 WHEN 'es' THEN 30 ELSE 20 END AS keep_pct""".stripMargin)
      .filter(col("bucket") < col("keep_pct"))
      .selectExpr("doc_id", "lang", "bucket")

  /** Overlapping fixed-width document chunking — the context-window
    * splitter every pretraining/RAG pipeline runs before tokenization:
    * char windows of `width` advancing by `stride` (width − stride
    * overlap), last window allowed to run short. Chunk count is exact
    * integer arithmetic; the windows explode from one `sequence()` per row
    * (fully codegen'd, no UDF) so the fan-out happens map-side with zero
    * shuffles and streams at any corpus size.
    */
  def docChunk(spark: SparkSession, dir: String,
      width: Int = 200, stride: Int = 150): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("doc_id", "text",
        s"""CASE WHEN length(text) <= $width THEN CAST(1 AS BIGINT)
           | ELSE (length(text) - $width + ${stride - 1}) DIV $stride + 1
           | END AS nc""".stripMargin)
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(CAST(0 AS BIGINT), nc - 1)")).as("chunk_id"))
      .selectExpr("doc_id", "chunk_id",
        s"substring(text, CAST(chunk_id * $stride + 1 AS INT), $width) AS chunk_text",
        s"CAST(length(substring(text, CAST(chunk_id * $stride + 1 AS INT), $width)) AS BIGINT) AS chunk_len")

  /** TOKEN-mode context-window chunking — [[docChunk]]'s char windows are
    * the byte-budget form; pretraining packs sequences by TOKEN count, so
    * this splits the token array into windows of `width` tokens advancing
    * by `stride` (width − stride overlap), last window short. Same exact
    * integer chunk-count arithmetic; the fan-out is one `sequence()`
    * explode with `slice`+`array_join` reassembly — map-side, zero
    * shuffles, no UDF.
    */
  def docChunkTokens(spark: SparkSession, dir: String,
      width: Int = 64, stride: Int = 48): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .selectExpr("doc_id", "toks",
        s"""CASE WHEN size(toks) <= $width THEN CAST(1 AS BIGINT)
           | ELSE (size(toks) - $width + ${stride - 1}) DIV $stride + 1
           | END AS nc""".stripMargin)
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(CAST(0 AS BIGINT), nc - 1)")).as("chunk_id"))
      .selectExpr("doc_id", "chunk_id",
        s"array_join(slice(toks, CAST(chunk_id * $stride + 1 AS INT), $width), ' ') AS chunk_text",
        s"CAST(size(slice(toks, CAST(chunk_id * $stride + 1 AS INT), $width)) AS BIGINT) AS n_tokens")

  /** Deterministic content-addressed train/val/test split: the assignment
    * hangs off md5(text), NOT doc_id — byte-identical duplicates land in
    * the same split by construction, so the split can never leak a dup
    * from train into test. Hex-prefix thresholds give 87.5 / 6.25 / 6.25%
    * fractions with zero floating point; row-local, zero shuffles.
    */
  def docSplitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), substring(md5(col("text")), 1, 2).as("hh"))
      .selectExpr("doc_id", "lang",
        """CASE WHEN hh < 'e0' THEN 'train'
          |     WHEN hh < 'f0' THEN 'val'
          |     ELSE 'test' END AS split""".stripMargin)

  /** #192 Deterministic per-epoch global shuffle — the "random reshuffle
    * between training epochs" an SGD data loader needs, content-addressed
    * so every engine, retry, and rerun agrees: each doc's position in
    * epoch e is its rank under md5(e:doc_id). The global rank comes from
    * [[Distributed.exactRank]] (range repartition + broadcast partition
    * offsets), NOT a single-reducer `row_number() OVER (ORDER BY ...)` —
    * at 100 TB the plan shuffles each epoch's rows once and no partition
    * sees more than its range slice. Epochs explode map-side (output is
    * epochs × corpus rows — the materialized schedule a loader consumes).
    */
  def epochShuffle(spark: SparkSession, dir: String, epochs: Int = 2): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(expr(s"sequence(0L, ${epochs - 1}L)")).as("epoch"))
      .withColumn("shuffle_key",
        md5(concat(col("epoch").cast("string"), lit(":"), col("doc_id").cast("string"))))
    Distributed.exactRank(base, Seq("epoch"), Seq("shuffle_key"),
        rankCol = "position", totalCol = "__n")
      .select(col("epoch"), col("doc_id"), col("lang"), col("position").cast("long").as("position"))
  }

  /** Language-mixture rebalancing weights: the per-language sampling
    * fraction that equalizes token share across languages (cap every
    * language at the smallest language's token count — the "uniform
    * mixture" target). Weight is exact ×10⁴ fixed-point BIGINT arithmetic
    * (min_tokens·10⁴ DIV lang_tokens) so both engines agree bit-for-bit.
    * One aggregate + one broadcast scalar: the planning pass a multilingual
    * data mix runs before [[stratifiedSample]] applies the rates.
    */
  def docMixWeights(spark: SparkSession, dir: String): DataFrame = {
    val perLang = Tables.documents(spark, dir)
      .selectExpr("lang", s"$nTokens AS n_tokens")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("lang_tokens"))
    val mn = perLang.agg(min(col("lang_tokens")).as("min_tokens"))
    perLang.crossJoin(broadcast(mn))
      .selectExpr("lang", "n_docs", "lang_tokens",
        "min_tokens * 10000 DIV lang_tokens AS weight_e4")
  }

  /** Mixture-budget APPLY — the materialization of [[docMixWeights]]:
    * every language is capped at the smallest language's token pool, and
    * the kept set is chosen deterministically (content-digest order, so
    * reruns and engines agree) by walking each language's docs until the
    * running token count exceeds the budget. The running count is
    * [[Distributed.groupedCumSum]] — per-language cumsum from a
    * distributed range sort, NOT `sum() OVER (PARTITION BY lang)`, which
    * would funnel every document of a language through one reducer (a
    * handful of languages dominate any web corpus).
    */
  def docMixApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .selectExpr("doc_id", "lang", s"$nTokens AS n_toks", "md5(text) AS digest")
    val budget = docs.groupBy("lang").agg(sum(col("n_toks")).as("lang_tokens"))
      .agg(min(col("lang_tokens")).as("budget"))
    Distributed.groupedCumSum(docs, Seq("lang"), Seq("digest", "doc_id"),
        "n_toks", cumCol = "cum_toks")
      .crossJoin(broadcast(budget))
      .select(col("doc_id"), col("lang"), col("n_toks"), col("cum_toks"),
        col("budget"), (col("cum_toks") <= col("budget")).as("kept"))
  }

  /** DSIR-style importance weights (Xie et al., NeurIPS'23 "Data Selection
    * for Language Models via Importance Resampling"): score each raw
    * document by how much more likely its hashed bag-of-unigrams is under
    * a TARGET distribution than under the raw-corpus distribution —
    * here the `lang = 'en'` slice plays the curated target (DSIR uses
    * e.g. Wikipedia). Tokens hash into 256 buckets via their md5 hex
    * prefix (a string key both engines derive identically); per-bucket
    * −log₂p is the same integer bit-length quantization as [[docLmScore]]
    * (add-one smoothing on the target side, whose buckets can be empty),
    * so the weight is exact integer arithmetic end-to-end. The per-doc
    * mean is sign-split before the ×10⁴ division because negative integer
    * division truncates vs floors across engines.
    *
    * Shape: the two distribution tables are ≤256 rows (broadcast); the
    * only corpus-scale shuffle is the per-doc aggregation.
    */
  def docDsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .withColumn("bucket", substring(md5(col("tok")), 1, 2))
    val raw = toks.groupBy("bucket").agg(count(lit(1)).as("r_cnt"))
    val tgt = toks.filter(col("lang") === "en")
      .groupBy("bucket").agg(count(lit(1)).as("t_cnt"))
    val scored = raw.join(tgt, Seq("bucket"), "left")
      .crossJoin(broadcast(raw.agg(sum("r_cnt").as("r_total"))))
      .crossJoin(broadcast(tgt.agg(sum("t_cnt").as("t_total"))))
      .selectExpr("bucket",
        "CAST(length(bin(r_total DIV r_cnt)) - 1 AS BIGINT) AS bits_r",
        "CAST(length(bin((t_total + 256) DIV (coalesce(t_cnt, 0) + 1))) - 1 AS BIGINT) AS bits_t")
    toks.join(broadcast(scored), "bucket")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("bits_r") - col("bits_t")).as("sum_logratio"))
      .selectExpr("doc_id", "lang", "n_tokens", "sum_logratio",
        // sign-split fixed-point mean: truncate-vs-floor-safe
        """CAST(CASE WHEN sum_logratio >= 0
          |  THEN sum_logratio * 10000 DIV n_tokens
          |  ELSE -((-sum_logratio) * 10000 DIV n_tokens)
          |END AS BIGINT) AS mean_logratio_e4""".stripMargin)
  }

  /** Unigram language-model quality scoring — the KenLM-proxy filter a
    * pretraining pipeline runs to rank documents by "typicality" under the
    * corpus's own token distribution: per-token surprise −log₂ p(token),
    * averaged per document (high mean surprise = rare-token-heavy text).
    *
    * The log is QUANTIZED to integer bits — surprise = floor(log₂(N ∕ cnt))
    * via `length(bin(N DIV cnt)) - 1`, pure integer arithmetic — so the
    * score is bit-identical across engines (a float ln() differs in the
    * last ulp between libm implementations and can flip a rounding
    * boundary). Whole-bit resolution is plenty for filtering: the score
    * separates token-frequency regimes, not third decimal places.
    *
    * Shape at 100 TB: token fan-out is map-side (split+explode, no UDF);
    * the vocabulary aggregate shuffles (tok) with map-side combine — word
    * vocabularies are sublinear in corpus size; the total-count scalar is
    * an explicit broadcast; the vocab→token join is left to Catalyst/AQE
    * (broadcast when the vocab fits, shuffle-hash when a 100 TB corpus's
    * vocab doesn't); the final per-doc aggregate combines map-side.
    */
  def docLmScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("n_total"))
    val scored = vocab.crossJoin(broadcast(total))
      .selectExpr("tok",
        "CAST(length(bin(n_total DIV cnt)) - 1 AS BIGINT) AS surprise_lg2")
    toks.join(scored, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("surprise_lg2")).as("sum_surprise"),
        expr("sum(surprise_lg2) * 10000 DIV count(1)").as("mean_surprise_e4"))
  }

  /** #172 CCNet-style perplexity bucketing (Wenzek et al., LREC'20): per
    * LANGUAGE, split the corpus into head/middle/tail terciles of the
    * unigram-LM score (#154) — the standard pretraining recipe that keeps
    * "head" wholesale, samples "middle", and drops or flags "tail".
    *
    * The tercile is [[Distributed.exactNtile]] — SQL-standard NTILE
    * arithmetic from a distributed range sort, NOT `ntile() OVER
    * (PARTITION BY lang)`, which would funnel each language through one
    * reducer (a handful of languages dominate any web corpus, so that
    * window is a guaranteed straggler at 100 TB). Ordering is
    * (mean_surprise_e4, doc_id): total, so the bucket assignment is
    * deterministic and the DuckDB oracle's plain NTILE agrees exactly.
    */
  def docPplBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = docLmScore(spark, dir).select("doc_id", "n_tokens", "mean_surprise_e4")
    val langs = Tables.documents(spark, dir).select("doc_id", "lang")
    Distributed.exactNtile(scored.join(langs, "doc_id"),
        Seq("lang"), Seq("mean_surprise_e4", "doc_id"), 3, bucketCol = "tercile")
      .selectExpr("lang",
        "CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket",
        "n_tokens", "mean_surprise_e4")
      .groupBy("lang", "ppl_bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        min("mean_surprise_e4").as("lo_e4"),
        max("mean_surprise_e4").as("hi_e4"))
  }

  /** #174 Token-stream packing accounting: concatenate the corpus in
    * doc_id order and slice fixed `capacity`-token context windows (the
    * GPT-style loader that pads nothing and splits docs across window
    * boundaries) — then report, PER WINDOW (bin), how many documents it
    * touches, how many start in it, and its fill. This is the "how many
    * training sequences does this corpus yield, and how fragmented are
    * they" planning query run before a pretraining job; the per-doc
    * windowing twin is #163 `docChunkTokens`.
    *
    * Shape: one global cumulative sum via [[Distributed.exactCumSum]] (no
    * single-reducer window), then each doc explodes into the bins it
    * overlaps — total explode output is ~total_tokens/capacity rows,
    * SUBLINEAR in the corpus. The final groupBy shuffles bin-stat rows
    * only.
    */
  def docPackBins(spark: SparkSession, dir: String, capacity: Int = 512): DataFrame = {
    require(capacity > 0)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tokens"))
    Distributed.exactCumSum(toks, Seq("doc_id"), "n_tokens", cumCol = "cum")
      .selectExpr("doc_id", "n_tokens",
        "cum - n_tokens AS tok_start", "cum - 1 AS tok_end",
        s"(cum - n_tokens) DIV $capacity AS bin_first",
        s"(cum - 1) DIV $capacity AS bin_last")
      .select(col("doc_id"), col("n_tokens"), col("tok_start"), col("tok_end"),
        col("bin_first"),
        explode(expr("sequence(bin_first, bin_last)")).as("bin"))
      .selectExpr("bin",
        "CASE WHEN bin_first = bin THEN 1L ELSE 0L END AS starts_here",
        s"""least(tok_end, (bin + 1) * $capacity - 1)
           | - greatest(tok_start, bin * $capacity) + 1 AS toks_in_bin""".stripMargin)
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum("starts_here").as("n_starts"),
        sum("toks_in_bin").as("n_tokens"),
        expr(s"sum(toks_in_bin) * 10000 DIV $capacity").as("util_e4"))
  }

  /** BPE tokenizer training (Sennrich et al., ACL'16) on the corpus: the
    * canonical merge loop — count adjacent symbol pairs weighted by word
    * frequency, fuse the most frequent pair corpus-wide, repeat — run
    * DISTRIBUTED. The corpus first collapses to its unique-word frequency
    * table (the only shuffle that sees corpus-scale data; vocabulary is
    * sublinear), then every merge rank is: one map-side-combined pair
    * aggregation + one top-1 collect (the merge DECISION is the scalar a
    * driver must see, like the convergence probe of an iterative CC) +
    * one row-local codegen'd rewrite ([[graft.functions.BpeMergeStep]]).
    * Ties break lexicographically — deterministic merge table. Stops
    * early when no pair repeats.
    *
    * Returns the trained artifact: (rank, left, right, n_occ) — what a
    * tokenizer ships as merges.txt.
    */
  def bpeTrain(spark: SparkSession, dir: String, merges: Int = 10,
      batch: Int = 16): DataFrame = {
    import graft.functions.GraftFunctions
    var words = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), split(col("w"), "").as("syms"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // candidate window per round: enough of the sorted pair list to find
    // the batch's safe prefix AND its stop bound
    val lookahead = math.max(64, 4 * batch)
    var done = false
    while (learned.length < merges && !done) {
      val top = words
        // single-symbol words carry no pairs — and sequence(1, 0) counts
        // DOWN in Spark rather than being empty, so they must not reach
        // the window expression
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("occ"))
        .orderBy(col("occ").desc, col("l"), col("r"))
        .limit(lookahead).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty || top.head._3 < 2) done = true
      else {
        // BATCHED merge selection (exact, proven by TextOpsSpec N=1
        // parity): accept the maximal PREFIX of the sorted pair list
        // whose members touch pairwise-disjoint symbols — their counts
        // cannot change under each other's merges — and stop at the
        // first pair sharing a symbol (or equal to a merged token) with
        // an accepted one, because ITS count will change on recount.
        // Pairs created by an accepted merge (x, l+r)/(l+r, y) inherit
        // counts bounded by some interacting pair ≤ the stop pair's occ,
        // so only accepted pairs with occ STRICTLY above the stop bound
        // are sequential-safe; the round's top-1 is always correct and
        // guarantees progress. Cuts driver round-trips from O(vocab) to
        // O(vocab/batch) — the scale lever for a real 32k-merge run.
        val seen = scala.collection.mutable.HashSet.empty[String]
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var stopOcc =
          if (top.length == lookahead) top.last._3 // unseen tail starts here
          else 1L // full list visible; occ<2 terminates anyway
        var i = 0
        var stopped = false
        while (i < top.length && !stopped && accepted.length < batch &&
            learned.length + accepted.length < merges) {
          val (l, r, occ) = top(i)
          if (occ < 2) { stopped = true }
          else if (seen(l) || seen(r)) { stopOcc = occ; stopped = true }
          else {
            accepted += ((l, r, occ))
            seen += l; seen += r; seen += (l + r)
          }
          i += 1
        }
        // batch/merge-cap exits leave unexamined pairs: they bound the
        // safe occ exactly like an interacting pair would (an equal-count
        // unexamined pair could interact and spawn an equal-count rival)
        if (!stopped && i < top.length) stopOcc = top(i)._3
        val safe = accepted.headOption.toSeq ++
          accepted.drop(1).takeWhile(_._3 > stopOcc)
        safe.foreach { case (l, r, occ) =>
          learned += ((learned.length + 1, l, r, occ))
        }
        // one projection applies the whole batch: disjoint rules commute,
        // and each is the same codegen'd single-rule rewrite as before
        val rewritten = safe.foldLeft(col("syms")) { case (c, (l, r, _)) =>
          GraftFunctions.bpeMergeStep(c, l, r)
        }
        val next = words
          .select(col("cnt"), rewritten.as("syms"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        next.count() // materialize before dropping the parent
        words.unpersist()
        words = next
      }
    }
    words.unpersist()
    import spark.implicits._
    learned.toSeq.toDF("rank", "left", "right", "n_occ")
  }

  /** Trained merge tables, keyed by (corpus dir, merge budget). BPE
    * training is deterministic in the corpus (lexicographic tie-break),
    * so the artifact is a pure function of the key — this is the
    * "merges.txt shipped with the tokenizer" lifecycle: train ONCE per
    * corpus snapshot, every encode pass reuses the table. Without it,
    * each encode invocation silently re-runs the whole training loop.
    */
  private def bpeTableFor(spark: SparkSession, dir: String, merges: Int): Array[(String, String)] =
    graft.Artifacts.memo(dir, "bpe-merges", merges)(_ =>
      bpeTrain(spark, dir, merges).collect().sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))))

  /** BPE apply — tokenize the corpus under the merge table [[bpeTrain]]
    * learned: per document, word-split then per-word symbol rewrite
    * through the rank-ordered rules (codegen'd [[graft.functions
    * .BpeEncode]], the whole table in one row-local pass), reporting
    * BPE-token counts and the chars-per-token compression the tokenizer
    * achieves. Train once (driver-side table, O(merges), memoized per
    * corpus), encode is a pure map over the corpus — exactly how a
    * shipped tokenizer runs at 100 TB. (With a production-size merge
    * table — tens of thousands of rules — encode unique WORDS once and
    * join counts back instead; at the bench's 10-rule table the pure
    * map is cheaper than the extra vocabulary shuffle.)
    */
  def bpeEncodeStats(spark: SparkSession, dir: String, merges: Int = 10): DataFrame = {
    import graft.functions.GraftFunctions
    val table = bpeTableFor(spark, dir, merges)
    val (lefts, rights) = (table.map(_._1), table.map(_._2))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), col("lang"), length(col("w")).as("n_chars_w"),
        size(GraftFunctions.bpeEncode(split(col("w"), ""), lefts, rights)).as("n_toks_w"))
      .groupBy("doc_id", "lang")
      .agg(sum(col("n_chars_w")).cast("long").as("n_chars"),
        sum(col("n_toks_w")).cast("long").as("n_bpe_tokens"))
      .selectExpr("doc_id", "lang", "n_chars", "n_bpe_tokens",
        "n_chars * 10000 DIV n_bpe_tokens AS chars_per_token_e4")
  }

  /** FUZZY curation composition — [[curationPipeline]] with near-duplicate
    * removal stacked on top of exact dedup: MinHash+LSH cluster members
    * that lost the keep-first vote ([[Dedup.dedupClusters]]) drop via a
    * hash anti join (ids travel, never text), then the survivors pass the
    * Gopher gate into per-language corpus accounting. This is the real
    * pretraining recipe: byte dedup alone keeps one copy of every
    * trivially-reworded crawl.
    */
  def curationFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val nearDupLosers = Dedup.dedupClusters(spark, dir)
      .filter(!col("keep")).select("doc_id")
    dedupExactApply(spark, dir) // stage 1: byte-identical keep-first
      .join(nearDupLosers, Seq("doc_id"), "left_anti") // stage 2: near-dup losers out
      .join(docQualityGopher(spark, dir) // stage 3: quality gate
        .filter(col("passes_gopher")).select("doc_id", "n_words"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"))
  }

  /** Language-ID confusion matrix: predicted vs labeled language counts
    * with per-label recall in ×10⁴ fixed point — the evaluation view of
    * [[docLangId]] (a heuristic classifier is only trustworthy with its
    * error structure on the table). One aggregation; the per-label total
    * re-derives from a window over the (tiny) matrix, not the corpus.
    */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    docLangId(spark, dir)
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n"))
      .withColumn("label_total", sum(col("n")).over(w))
      .selectExpr("lang", "lang_pred", "n", "label_total",
        "n * 10000 DIV label_total AS share_e4")
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 — the
    * MOSS algorithm): hash every `k`-token gram, slide a window of `w`
    * gram hashes, keep each window's MINIMUM hash. The distinct minima are
    * the document's fingerprint set, with the guarantee that any two
    * documents sharing a run of ≥ w+k−1 tokens share at least one
    * fingerprint — position-localizable plagiarism/boilerplate detection
    * at ~1/w the storage of the full shingle set ([[corpusDupNgrams]]
    * stores every shingle; this is its sampled production form).
    *
    * Entirely ROW-LOCAL (zero shuffles before the final per-doc
    * aggregate): grams and window minima are `transform`/`array_min`
    * lambdas over the token array, codegen'd by Catalyst. The inner
    * scan is O(tokens·w) per row — at w=5 that constant beats a custom
    * monotonic-deque `Expression` until windows get large; the deque is
    * the documented upgrade path, not this operator's bottleneck. Hash =
    * md5 hex (lexicographic min — identical ordering in any engine).
    *
    * Docs shorter than w+k−1 tokens have no full window and are filtered
    * (they carry no fingerprintable span).
    */
  def docWinnow(spark: SparkSession, dir: String, k: Int = 4, w: Int = 5): DataFrame =
    winnowSets(Tables.documents(spark, dir), k, w)
      .selectExpr("doc_id",
        "CAST(size(grams) AS BIGINT) AS n_grams",
        "CAST(size(fps) AS BIGINT) AS n_fingerprints",
        "CAST(size(fps) * 10000 DIV size(grams) AS BIGINT) AS fp_density_e4",
        "array_min(fps) AS min_fp")

  /** The winnowing kernel shared by [[docWinnow]] and its spec: per doc,
    * the k-gram hash array and the distinct window-minimum fingerprint
    * set (`fps`). Exposed so tests can assert the shared-run guarantee on
    * the actual sets.
    */
  private[graft] def winnowSets(docs: DataFrame, k: Int, w: Int): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= k + w - 1)
      .withColumn("grams",
        graft.functions.GraftFunctions.shingleMd5s(col("toks"), k))
      .withColumn("fps", expr(
        s"array_distinct(transform(sequence(1, size(grams) - ${w - 1}), j -> array_min(slice(grams, j, $w))))"))

  /** Shard assignment for [[writeShards]]: start-offset bucketing on the
    * exact global byte cumsum in content-digest order — deterministic on
    * any engine/partitioning, shards byte-balanced within one document of
    * the target. A doc starting inside shard k stays whole in shard k
    * (training shards must never split a document).
    */
  private def shardAssign(docs: DataFrame, targetBytes: Long): DataFrame = {
    val sized = docs
      .select(col("doc_id"), col("text"), md5(col("text")).as("digest"),
        octet_length(col("text")).cast("long").as("b"))
    Distributed.exactCumSum(sized, Seq("digest", "doc_id"), "b", "cum")
      .withColumn("shard_id", expr(s"(cum - b) DIV $targetBytes"))
  }

  /** #243 Size-targeted JSONL shard writer — the DELIVERY end of the
    * curation pipeline (what the training loader actually mounts): docs
    * packed whole into ≈targetBytes shards in content-digest order
    * (rerun-stable), one file per shard (`repartition(shard)` +
    * `partitionBy`), plus a data-derived manifest (shard → docs, bytes).
    * The shard map is pure data arithmetic — the oracle replays it in
    * SQL without touching the filesystem, which pins the writer's
    * assignment logic exactly.
    */
  def writeShards(spark: SparkSession, docs: DataFrame, outPath: String,
      targetBytes: Long = 1L << 22): DataFrame = {
    val assigned = shardAssign(docs, targetBytes)
    assigned
      .repartition(col("shard_id"))
      .select("shard_id", "doc_id", "text")
      .write.mode("overwrite").partitionBy("shard_id").json(outPath)
    assigned.groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("b")).cast("long").as("shard_bytes"),
        min(col("digest")).as("first_digest"))
  }

  /** Driver demo: shard the documents table at 32 KiB and return the
    * manifest (write memoized per corpus snapshot).
    */
  def writeShardsDemo(spark: SparkSession, dir: String): DataFrame =
    graft.Artifacts.memo(dir, "doc-shards") { a =>
      a.frame(writeShards(spark, Tables.documents(spark, dir).select("doc_id", "text"),
        a.root() + "/corpus", targetBytes = 32768L))
    }

  /** #263 Compression-ratio quality gate (the RefinedWeb/Dolma-style
    * cheap filter): deflate bytes ÷ raw UTF-8 bytes per document, in e4
    * fixed-point. Repetitive boilerplate compresses far below natural
    * prose (low ratio) and random noise refuses to compress (ratio near
    * or above 10⁴) — both tails are curation rejects. The kernel is the
    * codegen'd [[graft.functions.DeflateSize]] expression (fresh raw
    * deflater per row, level 6 — a pure function of the text), so the
    * whole operator is one map-side projection + a verdict CASE; no
    * shuffle at all until a downstream aggregate.
    *
    * Rows-only oracle (the deflate byte count is a JVM kernel, not SQL);
    * TextOpsSpec pins the tails with planted repetitive/incompressible
    * docs and determinism across runs.
    */
  def compressionRatio(spark: SparkSession, dir: String,
      loE4: Long = 2500L, hiE4: Long = 9500L): DataFrame =
    compressionRatioFrom(Tables.documents(spark, dir), loE4, hiE4)

  /** [[compressionRatio]] over any (doc_id, text) frame. */
  def compressionRatioFrom(docs: DataFrame, loE4: Long = 2500L,
      hiE4: Long = 9500L): DataFrame =
    docs
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        graft.functions.GraftFunctions.deflateSize(col("text")).as("z_bytes"))
      .withColumn("ratio_e4", expr("z_bytes * 10000 DIV greatest(n_bytes, 1)"))
      .withColumn("verdict",
        when(col("ratio_e4") < loE4, "repetitive")
          .when(col("ratio_e4") > hiE4, "incompressible")
          .otherwise("keep"))

  /** #261 Tokenizer-fertility profile per language: whitespace words per
    * document and characters per word in exact e4 fixed-point — the
    * pre-tokenizer sanity check that catches a language whose scripts
    * don't whitespace-segment (chars/word explodes) before BPE training
    * budgets are allocated. One aggregation; `split` once per row.
    */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_chars")).as("n_chars"))
      .withColumn("words_per_doc_e4", expr("n_words * 10000 DIV n_docs"))
      .withColumn("chars_per_word_e4", expr("n_chars * 10000 DIV n_words"))

  /** #254 Duplicate-family size census: how exact-duplicate mass is
    * distributed — one row per family size with the family count, the
    * documents bound in them, and their ppm of the corpus. The shape of
    * this histogram decides dedup strategy (a fat head of size-2 families
    * wants hash dedup; a long tail of giant families wants the cluster
    * path), so it runs BEFORE committing to either. Two shrinking
    * aggregations over digests — corpus-sized work is the first groupBy
    * only.
    */
  def dupFamilySizes(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val fam = docs.groupBy(md5(col("text")).as("digest"))
      .agg(count(lit(1)).as("family_size"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    fam.groupBy("family_size")
      .agg(count(lit(1)).as("n_families"))
      .crossJoin(broadcast(total))
      .select(col("family_size"), col("n_families"),
        (col("family_size") * col("n_families")).as("n_docs"),
        expr("family_size * n_families * 1000000 DIV n_total").as("doc_share_ppm"))
  }

  /** #248 Priority sampling (Duffield–Lund–Thorup, JACM'07): a
    * DETERMINISTIC weighted sample-without-replacement — each document
    * gets priority q = w / u with weight w = n_chars and u a seeded
    * uniform derived from the doc id; the k largest priorities are the
    * sample, so long documents are proportionally more likely to be
    * drawn, yet the draw replays bit-identically on any cluster layout.
    *
    * All arithmetic is INTEGER: u is the first 6 hex digits of
    * md5("wsample_" || doc_id) (24 bits) and q = w·2^24 DIV (u+1), so
    * there is no float transcendental whose libm rounding could differ
    * across engines. Scale shape: the top-k is a TakeOrdered — map-side
    * per-partition heaps, k rows to the driver, no global sort.
    */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        conv(substring(md5(concat(lit("wsample_"), col("doc_id").cast("string"))), 1, 6),
          16, 10).cast("long").as("u"))
      .withColumn("priority", expr("n_chars * 16777216 DIV (u + 1)"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(k)
      .select("doc_id", "lang", "source", "n_chars", "priority")

  /** #249 Cross-source corpus overlap via K-minimum-values sketches
    * (Bar-Yossef et al., RANDOM'02): estimates the shingle-set Jaccard
    * between every pair of document sources WITHOUT comparing shingle
    * sets pairwise. Each source is reduced to its k smallest distinct
    * word-5-gram hashes; for a pair, the k smallest of the union are a
    * uniform sample of A∪B, and the fraction present in both sketches
    * estimates J(A,B). This is the audit that catches one crawl source
    * mirroring another before dedup spends a corpus-sized join on it.
    *
    * Determinism: the sketch is an EXACT top-k over md5 strings and the
    * estimate is integer ppm (n_both·10^6 DIV n_union) — no floats, so
    * the result hash-matches any engine. Scale shape: corpus-sized work
    * is one distinct over (source, hash); everything after operates on
    * ≤ k rows per source (two-phase TopKPerGroupExec, partial top-k
    * map-side), and the pair fan-out touches only sketch rows —
    * nSources²·k, independent of corpus size.
    */
  def corpusOverlapKmv(spark: SparkSession, dir: String, n: Int = 5, k: Int = 128): DataFrame =
    // spreadScan: the shingle explode + md5 is pure map work at the
    // scan's split-count parallelism (no-op at scale, one split locally)
    corpusOverlapKmvFrom(Tables.spreadScan(Tables.documents(spark, dir),
      Tables.tableBytes(dir, "documents"), col("doc_id")), n, k)

  /** [[corpusOverlapKmv]] over any (source, text) frame. */
  def corpusOverlapKmvFrom(docs: DataFrame, n: Int = 5, k: Int = 128): DataFrame = {
    val sh = docs
      .select(col("source"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("source"), explode(
        graft.functions.GraftFunctions.shingleMd5s(col("toks"), n)).as("h"))
      .distinct()
    // localCheckpoint: three consumers (the source list + both pair
    // membership arms) read the sketch — without the barrier each re-runs
    // the corpus-scale distinct + top-k reduce above it (AQE reuses the
    // exchange, not the reduce). The sketch is ≤ nSources·k rows at any SF.
    val kmv = graft.plans.TopK.topKPerGroup(sh, Seq("source"), Seq(("h", false)), k)
      .select(col("source"), col("h"))
      .localCheckpoint()
    val srcs = kmv.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("src_a"))
      .crossJoin(srcs.select(col("source").as("src_b")))
      .filter(col("src_a") < col("src_b"))
    // membership rows for each pair: sketch values tagged in-A / in-B;
    // the pair list is tiny → broadcast, sketch side stays distributed
    val pa = broadcast(pairs).join(kmv, col("src_a") === col("source"))
      .select(col("src_a"), col("src_b"), col("h"), lit(1).as("in_a"), lit(0).as("in_b"))
    val pb = broadcast(pairs).join(kmv, col("src_b") === col("source"))
      .select(col("src_a"), col("src_b"), col("h"), lit(0).as("in_a"), lit(1).as("in_b"))
    val u = pa.unionByName(pb)
      .groupBy("src_a", "src_b", "h")
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val unionK = graft.plans.TopK.topKPerGroup(u, Seq("src_a", "src_b"),
      Seq(("h", false)), k)
    unionK.groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_union"),
        sum(col("in_a") * col("in_b")).as("n_both"))
      .withColumn("jaccard_ppm", expr("n_both * 1000000 DIV n_union"))
  }

  /** #284 TF-IDF top terms per document, fully integer: idf quantized to
    * floor(log₂(N/df)) via the bit-length identity (length(bin(x)) − 1 —
    * no engine evaluates a real log), score = tf·idf_bits, top-3 per doc
    * through the two-phase TopKPerGroup physical operator (map-side
    * heap prune before the exchange). The "what is this document about"
    * keyword extraction next to [[docTopTerms]]' raw-frequency view —
    * corpus-wide stopwords (df = N) score 0 and drop out on their own.
    */
  def tfidfTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term")
      .join(broadcast(n))
      .withColumn("idf_bits", expr("CAST(length(bin(n_docs DIV df)) - 1 AS BIGINT)"))
      .withColumn("score", col("tf") * col("idf_bits"))
    graft.plans.TopK.topKPerGroup(scored, Seq("doc_id"),
      Seq(("score", true), ("term", false)), k)
      .select("doc_id", "term", "tf", "df", "idf_bits", "score", "rnk")
  }

  /** #287 Bigram-LM surprise — the context-aware upgrade of the unigram
    * [[lmScore]]: per consecutive token pair, the conditional surprise
    * −log₂ P(w₂|w₁) quantized to floor(log₂(c(w₁·)/c(w₁w₂))) via the
    * bit-length identity (exact integers, no engine evaluates a log),
    * where c(w₁·) is the bigram-start count. A document full of common
    * words in IMPROBABLE order (shuffled text, keyword stuffing) scores
    * high here while the unigram model waves it through. Bigrams pair
    * raw-adjacent positions then drop empty tokens — identical rule both
    * engines; joins travel on the chr(1)-separated bigram key, one
    * vocab-sized count frame per side.
    *
    * Scale shape (round 11, guide §2.3 "aggregate before you shuffle" +
    * §1.2 step 2): every frame that ever reaches an exchange is
    * (doc, bigram, count) grain. The per-doc counts are computed
    * ROW-LOCALLY in a compiled flatMap (a doc's bigrams never span rows,
    * so no exchange can be needed to count them — the docRepetition
    * argument), the global bigram counts roll up from that grain, and
    * the stats join back against it with the per-doc multiplicity as a
    * weight. Round 10 exploded every bigram occurrence and shuffled the
    * raw occurrence stream twice (into the global count and into the
    * stats join); on a repetitive corpus the distinct (doc, bigram) mass
    * is a fraction of the occurrence mass, and here nothing bigger ever
    * leaves the map side.
    */
  def bigramSurprise(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val db = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .as[(Long, Array[String])]
      .flatMap { case (docId, toks) =>
        val m = new java.util.LinkedHashMap[String, Long]()
        var i = 0
        while (i < toks.length - 1) {
          val bg = toks(i) + "" + toks(i + 1)
          // admission rule identical to the former
          // split_part(bg, chr(1), 1/2) != '' filters: the first two
          // chr(1)-delimited segments of the CONCATENATED key must be
          // non-empty (tokens containing chr(1) split the same way the
          // SQL split_part — and the DuckDB oracle — sees them)
          val p1 = bg.indexOf('')
          val p2 = bg.indexOf('', p1 + 1)
          val w2end = if (p2 < 0) bg.length else p2
          if (p1 > 0 && w2end > p1 + 1) m.merge(bg, 1L, _ + _)
          i += 1
        }
        val out = new Array[(Long, String, Long)](m.size)
        val it = m.entrySet().iterator()
        var j = 0
        while (it.hasNext) {
          val e = it.next(); out(j) = (docId, e.getKey, e.getValue); j += 1
        }
        scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
      }
      .toDF("doc_id", "bg", "cnt")
    val c12 = db.groupBy("bg").agg(sum(col("cnt")).as("c12"))
      .withColumn("w1", expr("split_part(bg, chr(1), 1)"))
    val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val s = c12.join(c1, "w1")
      .select(col("bg"),
        expr("CAST(length(bin(c1 DIV c12)) - 1 AS BIGINT)").as("surprise_lg2"))
    db.join(s, "bg")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * col("surprise_lg2")).as("sum_surprise"),
        expr("sum(cnt * surprise_lg2) * 10000 DIV sum(cnt)").as("mean_surprise_e4"))
  }

  /** #276 Zipf rank-frequency audit: the top-`k` corpus terms with their
    * EXACT global frequency rank, the Zipf product freq×rank (constant
    * under a perfect power law — its drift across ranks is the headline),
    * and each term's ppm share. Term counting is one map-side-combined
    * aggregate over the exploded terms; ranking runs on the VOCAB-sized
    * frame through [[Distributed.exactRank]] (range repartition, no
    * single-reducer window), and only then does the top-k filter cut to
    * k rows. The "is this corpus natural language or boilerplate" smoke
    * test next to [[docQuality]].
    */
  def zipfAudit(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("freq"))
    val total = tf.agg(sum(col("freq")).as("n_tokens"))
    // top-k via orderBy+limit = TakeOrderedAndProject: every map task keeps
    // a k-row heap and the driver merges k·tasks rows — the global
    // vocab-sized rank this used to pay for grows LINEARLY with vocabulary
    // (17× wall at the 10× scale sweep, where per-replica token suffixes
    // make vocab grow with the corpus) while the answer stays k rows
    val top = tf.orderBy(col("freq").desc, col("term")).limit(k)
    // rank over the k-row result only — bounded frame, not a corpus window
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("term"))
    top.withColumn("rnk", row_number().over(w).cast("long"))
      .join(broadcast(total))
      .select(col("rnk").as("rank"), col("term"), col("freq"),
        (col("rnk") * col("freq")).as("zipf_c"),
        expr("freq * 1000000 DIV n_tokens").as("share_ppm"))
  }

  /** #277 Heaps-law vocabulary-growth curve: distinct-term count as the
    * corpus grows doc by doc (in doc_id order), reported at each decile
    * of the corpus. Sub-linear growth is healthy natural text; a flat
    * curve means boilerplate, a linear one means noise/IDs. Each term
    * reduces to its FIRST appearance rank (min over the exploded term
    * frame — vocab-sized output), the decile is pure integer arithmetic
    * on that rank, and the final cumsum runs over a 10-row frame. Doc
    * ranks come from [[Distributed.exactRank]]; the explode⋈rank join
    * shares the doc_id partitioning.
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val ranks = Distributed.exactRank(
      Tables.documents(spark, dir).select(col("doc_id")),
      Seq.empty, Seq("doc_id"))
    val firstRank = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .join(ranks, "doc_id")
      .groupBy("term").agg(min(col("rnk")).as("first_rank"),
        max(col("n_total")).as("n"))
    val byDecile = firstRank
      .select(expr("(first_rank * 10 + n - 1) DIV n").as("decile"),
        col("n"))
      .groupBy("decile").agg(count(lit(1)).as("new_terms"), max(col("n")).as("n"))
    val wDec = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    byDecile
      .withColumn("vocab_size", sum(col("new_terms")).over(wDec))
      .select(col("decile"), expr("n * decile DIV 10").as("n_docs"),
        col("new_terms"), col("vocab_size"))
  }

  /** #328 Cluster labeling — the human-readable readout of
    * [[Dedup.dedupClusters]]: each near-dup family named by its top-k
    * most DISTINCTIVE terms, where distinctiveness is term frequency
    * inside the cluster × bit-length idf over CLUSTERS (how few other
    * families use the term — the [[tfidfTopK]] integer-idf convention at
    * cluster grain). The triage view a dedup audit actually reads:
    * "family 17 = the spark-join boilerplate, family 40 = the
    * error-page template".
    *
    * Scale: term explode is map-side; both aggregations shuffle on
    * (cluster, term) / term; the scalar cluster count broadcasts; top-k
    * per cluster rides the partial-then-final TopKPerGroupExec.
    */
  def clusterKeywordsFrom(clusters: DataFrame, texts: DataFrame,
      k: Int = 3): DataFrame = {
    val tf = clusters.select("doc_id", "cluster_id").join(texts, "doc_id")
      .select(col("cluster_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("cluster_id", "term").agg(count(lit(1)).as("tf"))
    val cdf = tf.groupBy("term").agg(count(lit(1)).as("cdf"))
    val n = clusters.agg(countDistinct(col("cluster_id")).as("n_clusters"))
    val scored = tf.join(cdf, "term").crossJoin(broadcast(n))
      .withColumn("idf_bits",
        expr("CAST(length(bin(n_clusters DIV cdf)) - 1 AS BIGINT)"))
      .withColumn("score", col("tf") * col("idf_bits"))
    graft.plans.TopK.topKPerGroup(scored, Seq("cluster_id"),
      Seq(("score", true), ("term", false)), k)
      .select("cluster_id", "term", "tf", "cdf", "idf_bits", "score", "rnk")
  }

  /** #328 Registered query: keyword labels for the MinHash near-dup
    * clusters (hash-oracle: the clustering replays in SQL via the
    * signature machinery + a recursive-CTE closure, and the scoring is
    * integer arithmetic; DedupSpec + the planted-family spec pin
    * semantics).
    */
  def clusterKeywords(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    clusterKeywordsFrom(Dedup.dedupClusters(spark, dir),
      Dedup.corpusWithPlants(spark, dir).select("doc_id", "text"), k)

  /** #335 Unigram-LM tokenizer training (SentencePiece, Kudo 2018 —
    * simplified but structurally faithful): seed vocab = most frequent
    * substrings (≤ maxPieceLen) of the word frame plus all single chars;
    * EM rounds where the E-step Viterbi-segments every DISTINCT word
    * under the current piece log-probs (mapPartitions-style flatMap with
    * the piece table broadcast — genuinely imperative per-word DP) and
    * the M-step renormalizes piece usage; the final prune keeps the
    * top-vocabSize pieces by usage with single chars always retained for
    * coverage (the standard top-K simplification of the loss-ranked
    * prune).
    *
    * Scale: corpus-scale work = ONE word-count aggregate. Everything
    * after runs on the distinct-word frame (corpus-sublinear) and vocab
    * tables bounded by seedCap — broadcast-sized by construction, the
    * SentencePiece deployment shape (train once per snapshot, encode
    * passes reuse the table).
    */
  def unigramTrain(spark: SparkSession, dir: String, vocabSize: Int = 256,
      iters: Int = 3, maxPieceLen: Int = 6, seedCap: Int = 2048): DataFrame = {
    import spark.implicits._
    val words = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // seed counts: distributed substring explode, weighted by word count
    val seedRows = words.toDF("w", "cnt")
      .select(col("cnt"), explode(expr(
        s"flatten(transform(sequence(1, length(w)), i -> " +
          s"transform(sequence(0, least($maxPieceLen, length(w) - i + 1) - 1), " +
          s"l -> substring(w, i, l + 1))))")).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("piece"))
      .limit(seedCap).collect()
    val chars = seedRows.map(_.getString(0)).filter(_.length == 1).toSet
    var counts: Map[String, Long] =
      seedRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    def toLogp(c: Map[String, Long]): Map[String, Double] = {
      val tot = c.values.sum.toDouble
      c.map { case (p, n) => p -> math.log(n / tot) }
    }
    val unkLogp = -25.0 * math.log(2) // unknown single char: 25-bit surprise
    def estep(lp: Map[String, Double]): Map[String, Long] =
      words.flatMap { case (w, cnt) =>
        unigramSegment(w, lp, maxPieceLen, unkLogp).map(p => (p, cnt))
      }.groupBy("_1").agg(sum("_2"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    var it = 0
    while (it < iters) {
      counts = estep(toLogp(counts))
      it += 1
    }
    // prune: top-V by usage, single chars always kept for coverage
    val kept = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(vocabSize)
      .map(_._1).toSet ++ chars
    val finalCounts = estep(toLogp(counts.filter { case (p, _) => kept(p) }))
    val tot = finalCounts.values.sum.toDouble
    val out = finalCounts.toSeq.sortBy { case (p, n) => (-n, p) }.zipWithIndex
      .map { case ((p, n), i) =>
        (i.toLong + 1, p, n, math.round(-math.log(n / tot) / math.log(2) * 100))
      }
    words.unpersist()
    out.toDF("rank", "piece", "n_uses", "surprise_bits_e2")
  }

  /** Viterbi segmentation of one word under piece log-probs: first
    * maximizer wins (shortest piece on ties) — deterministic.
    */
  private[graft] def unigramSegment(w: String, lp: Map[String, Double],
      maxLen: Int, unkLogp: Double): Seq[String] = {
    val n = w.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = new Array[Int](n + 1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var l = 1
      while (l <= math.min(maxLen, i)) {
        val piece = w.substring(i - l, i)
        val s = lp.getOrElse(piece, if (l == 1) unkLogp else Double.NegativeInfinity)
        if (s > Double.NegativeInfinity && best(i - l) + s > best(i)) {
          best(i) = best(i - l) + s
          back(i) = l
        }
        l += 1
      }
      i += 1
    }
    val buf = scala.collection.mutable.ListBuffer.empty[String]
    var j = n
    while (j > 0) { val l = back(j); buf.prepend(w.substring(j - l, j)); j -= l }
    buf.toSeq
  }

  private def unigramTableFor(spark: SparkSession, dir: String,
      vocabSize: Int): Map[String, Double] =
    graft.Artifacts.memo(dir, "unigram-lm", vocabSize) { _ =>
      val rows = unigramTrain(spark, dir, vocabSize).collect()
      val tot = rows.map(_.getLong(2)).sum.toDouble
      rows.map(r => r.getString(1) -> math.log(r.getLong(2) / tot)).toMap
    }

  /** #337 Tokenizer shootout — whitespace vs BPE vs unigram-LM on the
    * SAME corpus, one comparable row each: total pieces, fertility
    * (pieces per word ×100) and compression (chars per piece ×100). The
    * table that actually decides which tokenizer ships: whitespace is
    * the fertility floor (1 piece/word) with the worst OOV story; the
    * subword rows show what their vocab budget buys. Three bounded
    * aggregates (each an existing encode pass), driver-composed.
    */
  def tokenizerCompare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the three shootout legs are INDEPENDENT aggregates the driver
    // composes — submit them concurrently (guide §2.6: actions are only
    // sequential because driver code calls them sequentially) so each
    // leg's tail back-fills the others' idle cores. Each leg's value is
    // a deterministic scalar; overlap changes wall time only.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fBase = Future(Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .agg(count(lit(1)).as("words"), sum(length(col("w"))).as("chars"))
      .head())
    val fB = Future(bpeEncodeStats(spark, dir)
      .agg(sum(col("n_bpe_tokens")).as("p")).head().getLong(0))
    val fU = Future(unigramEncodeStats(spark, dir)
      .agg(sum(col("n_pieces")).as("p")).head().getLong(0))
    val base = Await.result(fBase, Duration.Inf)
    val (words, chars) = (base.getLong(0), base.getLong(1))
    val b = Await.result(fB, Duration.Inf)
    val u = Await.result(fU, Duration.Inf)
    def row(method: String, pieces: Long) =
      (method, pieces, words, chars,
        if (words == 0) 0L else pieces * 100L / words,
        if (pieces == 0) 0L else chars * 100L / pieces)
    Seq(row("whitespace", words), row("bpe", b), row("unigram", u))
      .toDF("method", "n_pieces", "n_words", "n_chars",
        "fertility_e2", "chars_per_piece_e2")
  }

  /** #336 Encode pass under the trained unigram vocab: per-document piece
    * counts + fertility (pieces per word ×100) — the tokenizer-cost
    * readout that decides whether the vocab fits the corpus (fertility
    * near 100 = mostly whole-word pieces; near char-count = vocab miss).
    * Train once per corpus snapshot (memoized artifact), encode is one
    * map-side pass with the table in the closure.
    */
  def unigramEncodeStats(spark: SparkSession, dir: String,
      vocabSize: Int = 256): DataFrame = {
    import spark.implicits._
    val lp = unigramTableFor(spark, dir, vocabSize)
    val unkLogp = -25.0 * math.log(2)
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val ws = text.split(" ").filter(_.nonEmpty)
        var pieces = 0L
        var chars = 0L
        ws.foreach { w =>
          pieces += unigramSegment(w, lp, 6, unkLogp).length
          chars += w.length
        }
        (id, ws.length.toLong, pieces, chars,
          if (ws.isEmpty) 0L else pieces * 100L / ws.length)
      }
      .toDF("doc_id", "n_words", "n_pieces", "n_chars", "fertility_e2")
  }

  /** Corpus-order n-gram novelty audit — for every document, the fraction
    * of its distinct word n-grams whose FIRST corpus occurrence (min
    * doc_id, the crawl-order proxy) is this document. Low novelty marks
    * boilerplate-heavy or near-duplicate late arrivals; the corpus-level
    * novelty decay curve is the standard memorization/contamination signal
    * for training-data ordering (cf. Lee et al. ACL'22 dedup analyses).
    *
    * Scale shape: only md5 DIGESTS of grams travel, never gram text; the
    * corpus-scale work is one groupBy(digest)→min(doc_id) shuffle (partial
    * min map-side) plus one digest-keyed join back — the same cost class
    * as building any inverted index. Per-doc aggregation is a second
    * digest→doc shuffle. No window over the corpus, no driver state.
    */
  /** #351 Crawl-shard seam stitching audit — ordered pairs (left, right)
    * where the LAST w tokens of `left` equal the FIRST w tokens of
    * `right`: the signature a document leaves when a crawler or shard
    * writer split it across consecutive records (reference-side analog:
    * the demo's CDC stream reassembles row fragments per key;
    * 58DevOggu/aurora-cdc-demo notebooks/demo treats envelope order as
    * reassembly order). Stitching candidates feed re-joining or dropping
    * the fragment tail before training. Docs shorter than 2w tokens are
    * out of scope (head and tail would overlap).
    *
    * Deterministic plants make the signal measurable on synthetic text:
    * every doc with doc_id % 20 == 7 and ≥ 3w tokens is split into a left
    * fragment (first ⌊2n/3⌋ tokens, id +4M) and a right fragment (last
    * n−⌊2n/3⌋+w tokens, id +5M) overlapping by exactly w.
    *
    * Scale shape: each doc contributes ONE head row and ONE tail row
    * (w-token digest + the w-token slice for verification — ~100 bytes,
    * never full text); candidates come from a digest equi-join and the
    * slice-equality verify rides the same join, so the corpus-scale cost
    * is one 2n-row shuffle. `exact_dup` flags the self-seam case
    * (full-text digests equal) so downstream stitching can skip loops.
    */
  def shardStitch(spark: SparkSession, dir: String, w: Int = 16): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val plantSrc = tok
      .filter(col("doc_id") % 20 === 7 && size(col("toks")) >= 3 * w)
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
    val frags = plantSrc
      .select((col("doc_id") + 4000000L).as("doc_id"),
        expr("slice(toks, 1, (2 * n) DIV 3)").as("toks"))
      .unionByName(plantSrc.select((col("doc_id") + 5000000L).as("doc_id"),
        expr(s"slice(toks, (2 * n) DIV 3 - ${w - 1}, n - ((2 * n) DIV 3 - $w))")
          .as("toks")))
    val corpus = tok.filter(size(col("toks")) >= 2 * w).unionByName(frags)
    val sig = corpus.select(col("doc_id"), size(col("toks")).as("n_tok"),
      expr(s"array_join(slice(toks, 1, $w), ' ')").as("head_s"),
      expr(s"array_join(slice(toks, -$w, $w), ' ')").as("tail_s"),
      md5(concat_ws(" ", col("toks"))).as("full_d"))
      .withColumn("head_d", md5(col("head_s")))
      .withColumn("tail_d", md5(col("tail_s")))
    val a = sig.select(col("doc_id").as("left_doc"), col("n_tok").as("left_tokens"),
      col("tail_d"), col("tail_s"), col("full_d").as("fd_a"))
    val b = sig.select(col("doc_id").as("right_doc"), col("n_tok").as("right_tokens"),
      col("head_d"), col("head_s"), col("full_d").as("fd_b"))
    a.join(b, col("tail_d") === col("head_d") &&
        col("left_doc") =!= col("right_doc"))
      // digest collisions guarded by direct slice equality (same join task)
      .filter(col("tail_s") === col("head_s"))
      .select(col("left_doc"), col("right_doc"),
        col("left_tokens").cast("long").as("left_tokens"),
        col("right_tokens").cast("long").as("right_tokens"),
        (col("fd_a") === col("fd_b")).as("exact_dup"))
  }

  def ngramNovelty(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    val g = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(
        graft.functions.GraftFunctions.shingleMd5s(col("toks"), n)).as("gd"))
      .distinct()
    val firstSeen = g.groupBy("gd").agg(min(col("doc_id")).as("first_doc"))
    g.join(firstSeen, "gd")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .selectExpr("doc_id", "n_grams", "n_novel",
        "(n_novel * 10000) DIV n_grams AS novelty_bp")
  }

  /** #368 Language-mix drift per crawl source: χ² of each source's
    * language distribution against the corpus-wide mix — the audit that
    * catches a crawler suddenly fetching the wrong geo/language long
    * before a human reads samples. The [[graft.operators.Events]] drift
    * alarms (TVD/KS) watch the event stream; this is their documents-side
    * sibling over a categorical column.
    *
    * χ² = Σ_l (obs·N − n_s·n_l)² / (N·n_s·n_l) — the numerator stays in
    * DECIMAL(38,0) exact integer algebra (obs·N alone can pass 2⁶³ at
    * corpus scale), only the final division runs in doubles with
    * identical expression text both engines, rounded ×10⁴. One
    * (source, lang) aggregate; everything after is dimension-sized.
    */
  def langDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select("source", "lang")
    val cells = d.groupBy("source", "lang").agg(count(lit(1)).as("obs"))
      .localCheckpoint() // referenced by three aggregates below
    val bySource = cells.groupBy("source").agg(sum(col("obs")).as("n_s"))
    val byLang = cells.groupBy("lang").agg(sum(col("obs")).as("n_l"))
    val total = cells.agg(sum(col("obs")).as("n_tot"))
    val dom = cells
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("obs").desc, col("lang"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("dominant_lang"),
        col("obs").as("dom_n"))
    // FULL source×lang grid: a source that never emits a language is the
    // clearest drift signal, and skipping its zero cell would understate
    // χ² exactly there
    bySource.crossJoin(broadcast(byLang))
      .join(cells, Seq("source", "lang"), "left")
      .na.fill(0L, Seq("obs"))
      .crossJoin(broadcast(total))
      .selectExpr("source", "n_s",
        """CAST(CAST(obs AS DECIMAL(38,0)) * n_tot - CAST(n_s AS DECIMAL(38,0)) * n_l AS DOUBLE)
           * CAST(CAST(obs AS DECIMAL(38,0)) * n_tot - CAST(n_s AS DECIMAL(38,0)) * n_l AS DOUBLE)
           / (CAST(n_tot AS DOUBLE) * n_s * n_l) AS term""")
      .groupBy("source")
      .agg(max(col("n_s")).as("n_docs"), count(lit(1)).as("n_langs"),
        sum(col("term")).as("chi2"))
      .join(broadcast(dom), "source")
      .selectExpr("source", "n_docs", "n_langs",
        "CAST(floor(chi2 * 10000 + 0.5) AS BIGINT) AS chi2_e4",
        "dominant_lang", "dom_n * 10000 DIV n_docs AS dom_share_bp")
  }

  /** #363 Inter-gate agreement audit (Cohen's κ): do the corpus's two
    * independent quality signals — the Gopher heuristic gate
    * ([[docQualityGopher]]) and the token-statistics score
    * ([[docQuality]], binarized at 0.5) — agree beyond chance? κ ≈ 1
    * means one gate is redundant; κ ≈ 0 means they measure different
    * things and the curation pipeline should keep both. The standard
    * inter-rater statistic, pointed at quality classifiers.
    *
    * One row-local pass computes both flags (no joins — the signals share
    * the token arithmetic), one 4-cell aggregate, then pure algebra:
    * po and pe come from exact integer cells; κ is emitted as
    * floor(·10⁶+0.5) of a double computed from those exact integers by
    * identical expression text on both engines (κ can be negative, and
    * integer DIV truncation differs cross-engine on negatives — the
    * [[docQuality]] trap).
    */
  def qualityAgreement(spark: SparkSession, dir: String): DataFrame = {
    val flags = gopherAudit(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")))
      .withColumn("the_cnt",
        expr("CAST(length(text) - length(replace(text, 'the', '')) AS BIGINT) DIV 3"))
      .withColumn("score_e4", expr(
        "least(100, n_words) * greatest(0, n_words - the_cnt) * 100 DIV n_words"))
      .select(col("passes_gopher").cast("long").as("a"),
        (col("score_e4") >= 5000).cast("long").as("b"))
    flags
      .agg(sum(expr("a * b")).as("n11"), sum(expr("a * (1 - b)")).as("n10"),
        sum(expr("(1 - a) * b")).as("n01"),
        sum(expr("(1 - a) * (1 - b)")).as("n00"))
      .selectExpr("n11", "n10", "n01", "n00",
        "n11 + n10 + n01 + n00 AS n_docs",
        "(n11 + n00) * 10000 DIV (n11 + n10 + n01 + n00) AS po_e4",
        """CASE WHEN CAST(n11 + n10 + n01 + n00 AS DOUBLE) * (n11 + n10 + n01 + n00)
             - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01) + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)) = 0
           THEN NULL
           ELSE CAST(floor((CAST(n11 + n00 AS DOUBLE) * (n11 + n10 + n01 + n00)
             - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01) + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)))
            / (CAST(n11 + n10 + n01 + n00 AS DOUBLE) * (n11 + n10 + n01 + n00)
             - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01) + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)))
            * 1000000 + 0.5) AS BIGINT) END AS kappa_ppm""")
  }

  /** #360 Count-Min sketch word frequencies + exactness audit (Cormode &
    * Muthukrishnan, J.Alg'05): every token occurrence increments d=4
    * hashed cells of a 4×1024 counter grid; a term's estimate is the MIN
    * of its 4 cells — never below the true count, above it only by
    * collision mass (≤ e·N/w w.p. 1−e⁻ᵈ). The registered query builds
    * the sketch corpus-wide, then audits the top-50 exact terms:
    * est ≥ freq ALWAYS (the CM guarantee, asserted in the spec) and the
    * overestimate column is the measured collision noise.
    *
    * The sketch is THE bounded-memory substitute for a full term
    * histogram at 100 TB: the grid is 4096 cells regardless of corpus
    * size and merging shards is cell-wise addition. The occurrence
    * stream collapses to its TERM-GRAIN frequency table first (one
    * explode pass, map-side combine, vocab-sized exchange — the same
    * shuffle the exact-audit arm needs anyway), and every cell count is
    * the freq-weighted sum over distinct terms: identical integers to
    * incrementing per occurrence, but the d bucket hashes run once per
    * VOCAB ENTRY, not once per token occurrence, and the corpus is
    * scanned once instead of d+1 times. Unlike the HLL/Misra-Gries
    * entries (rows-only: engine-specific internals), every CM cell is
    * plain integer arithmetic on md5 nibbles — the whole sketch
    * hash-replays in DuckDB.
    */
  def countMinFreq(spark: SparkSession, dir: String, d: Int = 4,
      w: Int = 1024, topN: Int = 50): DataFrame = {
    def bucket(r: Int, c: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(lit(s"cm${r}_"), c)), 1, 6), 16, 10)
        .cast("long") % w
    // ONE term-grain aggregate feeds both the sketch cells and the exact
    // audit; localCheckpoint so the d+1 consumers below don't each
    // re-expand the scan+explode+aggregate subtree (the docDatasheet
    // branch-sharing note). Vocab-sized — sublinear in the corpus.
    val termFreq = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    // cell count = Σ freq over the terms hashing into it — exactly the
    // occurrence-increment semantics, freq-weighted
    val cells = (0 until d).map(r =>
        termFreq.select(lit(r).as("r"), bucket(r, col("term")).as("bucket"),
          col("freq")))
      .reduce(_ unionAll _)
      .groupBy("r", "bucket").agg(sum(col("freq")).as("cnt"))
    val exact = termFreq
      .orderBy(col("freq").desc, col("term")).limit(topN)
    val probes = (0 until d).map(r =>
        exact.select(col("term"), col("freq"), lit(r).as("r"),
          bucket(r, col("term")).as("bucket")))
      .reduce(_ unionAll _)
    probes.join(cells, Seq("r", "bucket"))
      .groupBy("term", "freq").agg(min(col("cnt")).as("cm_est"))
      .select(col("term"), col("freq"), col("cm_est"),
        (col("cm_est") - col("freq")).as("overestimate"))
  }

  /** #357 Encoding-damage (mojibake) audit per crawl source: fraction of
    * characters outside printable ASCII + whitespace, docs containing the
    * U+FFFD replacement character (the scar a lossy decode leaves), and
    * the per-source share of docs past 1% damaged chars — the standard
    * "which crawl batch came in with the wrong charset" gate (CCNet /
    * RefinedWeb-style pipelines drop these up front). Distinct from the
    * TOKEN-statistics gates ([[docQuality]]/[[docQualityGopher]]): those
    * score fluency, this catches byte-level corruption fluent stats miss.
    *
    * One row-local projection + one source-sized aggregate; all outputs
    * exact integer fixed-point. The character class is written with RAW
    * whitespace characters (no backslash escapes) because Spark and
    * DuckDB string literals un-escape differently — the one cross-engine
    * regex trap ([[docTokens]]'s note).
    */
  def mojibakeAudit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .selectExpr("source", "CAST(length(text) AS BIGINT) AS nch",
        "CAST(length(regexp_replace(text, concat('[', chr(9), chr(10), chr(13), ' -~]'), '')) AS BIGINT) AS n_bad",
        "CAST(CASE WHEN contains(text, '�') THEN 1 ELSE 0 END AS BIGINT) AS has_repl")
      .selectExpr("source", "nch", "n_bad", "has_repl",
        "CAST(CASE WHEN n_bad * 10000 > nch * 100 THEN 1 ELSE 0 END AS BIGINT) AS flagged")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("flagged")).as("n_flagged"),
        sum(col("has_repl")).as("n_repl_docs"),
        sum(col("nch")).as("t_ch"), sum(col("n_bad")).as("t_bad"))
      .selectExpr("source", "n_docs", "n_flagged", "n_repl_docs",
        "n_flagged * 10000 DIV n_docs AS flag_bp",
        "t_bad * 1000000 DIV t_ch AS bad_ppm")

  /** #354 Corpus datasheet ("data card"): the one-table summary a dataset
    * release ships — corpus totals, language mix, source mix, exact-dup
    * census, and length quantiles — in long (section, metric, value)
    * form, every value an exact BIGINT. What "Datasheets for Datasets"
    * (Gebru et al., CACM'21) asks a publisher to report, computed from
    * the corpus instead of hand-written.
    *
    * Scale: corpus totals + lang mix + source mix come from ONE
    * grouping-sets pass (one shuffle, three grouping levels — Catalyst
    * expands, no triple scan); the dup census is one distinct-digest
    * aggregate (digests travel, never text); the quantiles come from a
    * length HISTOGRAM (distinct lengths ≤ max doc length, corpus-size
    * independent) so the only window runs over the bounded histogram,
    * never a global row sort. p_q = smallest length with cum ≥ ⌈qn⌉ via
    * integer cross-multiplication — exact on both engines.
    */
  def docDatasheet(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).selectExpr(
      "lang", "source", "CAST(length(text) AS BIGINT) AS nch",
      s"$nTokens AS ntok", "md5(text) AS dg")
    // localCheckpoint: the three section branches below each re-reference
    // this frame, and without it Catalyst re-expands the whole
    // scan+Expand+aggregate subtree PER BRANCH (5 parquet scans, seen in
    // the executed plan). The frame is tiny (one row per lang + per
    // source + 1), so materializing it costs nothing and the corpus scan
    // runs once.
    val gs = d
      .groupingSets(Seq(Seq(col("lang")), Seq(col("source")), Seq()),
        col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("nch")).as("chars"),
        sum(col("ntok")).as("toks"),
        grouping(col("lang")).as("gl"), grouping(col("source")).as("gsr"))
      .localCheckpoint()
    val corpus = gs.filter(col("gl") === 1 && col("gsr") === 1)
      .selectExpr("""stack(4,
        'corpus', 'n_docs', n,
        'corpus', 'total_chars', chars,
        'corpus', 'total_tokens', toks,
        'corpus', 'avg_chars_e2', chars * 100 DIV n) AS (section, metric, value)""")
    val langRows = gs.filter(col("gl") === 0)
      .select(lit("lang").as("section"), col("lang").as("metric"),
        col("n").as("value"))
    val srcRows = gs.filter(col("gsr") === 0)
      .select(lit("source").as("section"), col("source").as("metric"),
        col("n").as("value"))
    val ded = d.agg(countDistinct(col("dg")).as("dist"), count(lit(1)).as("n"))
      .selectExpr("""stack(2,
        'dedup', 'distinct_texts', dist,
        'dedup', 'dup_docs', n - dist) AS (section, metric, value)""")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("nch"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // total n comes from the checkpointed corpus row — no recount scan
    val qs = d.groupBy(col("nch")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(w))
      .crossJoin(broadcast(gs.filter(col("gl") === 1 && col("gsr") === 1)
        .select(col("n"))))
      .agg(min(when(expr("cum * 2 >= n"), col("nch"))).as("p50"),
        min(when(expr("cum * 10 >= n * 9"), col("nch"))).as("p90"))
      .selectExpr("""stack(2,
        'length', 'p50_chars', p50,
        'length', 'p90_chars', p90) AS (section, metric, value)""")
    corpus.unionByName(langRows).unionByName(srcRows)
      .unionByName(ded).unionByName(qs)
  }

  /** #374 Kneser–Ney bigram LM scoring — the statistically-serious
    * upgrade of [[docLmScore]]'s unigram surprise, and the family CCNet's
    * KenLM filter actually belongs to (Kneser & Ney ICASSP'95; absolute
    * discounting d = 3/4 with continuation-probability backoff, which
    * fixes the "San Francisco" pathology: 'Francisco' is frequent but
    * follows almost nothing, so a unigram model over-rewards it).
    *
    * Scored on seen bigrams (the corpus scores itself, c₁₂ ≥ 1), the KN
    * probability is one exact rational:
    *   p = ((4c₁₂−3)·T + 3·N1+(w1·)·N1+(·w2)) / (4·c(w1)·T)
    * so per-bigram surprise uses the [[docLmScore]] whole-bit identity
    * floor(log₂ D/N) = bitlen(D div N) − 1 — exact integers end to end,
    * no float log to drift cross-engine. The D div N ratio is ≤ 4·c(w1),
    * so it fits a BIGINT at any corpus size (the division itself runs in
    * DECIMAL(38,0)).
    *
    * Shape: bigrams build row-locally from the token array (no
    * positional self-join); the model is three vocab-sized aggregates
    * off ONE bigram-type frame; scoring is one equi-join back. Docs with
    * fewer than two tokens have no bigrams and drop out (documented).
    */
  def knScore(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        """transform(slice(toks, 1, size(toks) - 1),
           (w, i) -> struct(w AS w1, element_at(toks, i + 2) AS w2))"""))
        .as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint() // feeds four aggregates + the scoring join
    val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"),
      count(lit(1)).as("n1fw"))
    val n1pw = c12.groupBy("w2").agg(count(lit(1)).as("n1pw"))
    val t = c12.agg(count(lit(1)).as("t_types"))
    val scored = c12.join(c1, "w1").join(n1pw, "w2")
      .crossJoin(broadcast(t))
      .selectExpr("w1", "w2",
        """CAST(length(bin(CAST(
             (CAST(4 AS DECIMAL(38,0)) * c1 * t_types) DIV
             ((CAST(4 AS DECIMAL(38,0)) * c12 - 3) * t_types + CAST(3 AS DECIMAL(38,0)) * n1fw * n1pw)
           AS BIGINT))) - 1 AS BIGINT) AS kn_bits""")
    bg.join(scored, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("kn_bits")).as("sum_kn_bits"),
        expr("sum(kn_bits) * 10000 DIV count(1)").as("mean_kn_bits_e4"))
  }

  /** #370 Readability scoring — Flesch reading-ease (Flesch 1948) and
    * Flesch–Kincaid grade level (Kincaid et al. 1975), the century-old
    * pair that still gates instruction-tuning corpora (too-hard and
    * too-trivial tails both get dropped). Heuristics, stated plainly:
    * sentences = runs of `[.!?]` (clamped ≥ 1 — a fragment is one
    * sentence); words = whitespace tokens (the corpus tokenizer
    * convention); syllables per word = vowel-group runs `[aeiouy]+`,
    * clamped ≥ 1 per word (the standard cheap approximation — no
    * dictionary). Scores in exact fixed-point: ×10³ for reading-ease,
    * ×10² for grade, every division integer with positive operands so
    * Spark `DIV` and DuckDB `//` agree bit-for-bit.
    *
    * Entirely row-local (one projection, no shuffle) — at 100 TB this is
    * a map-only pass that fuses with whatever filter consumes the band.
    */
  def readability(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .selectExpr("doc_id",
        "size(filter(split(t, ' '), w -> w <> '')) AS n_words_raw",
        "size(regexp_extract_all(t, '[.!?]+', 0)) AS n_sent_raw",
        """aggregate(transform(filter(split(t, ' '), w -> w <> ''),
           w -> greatest(1L, CAST(size(regexp_extract_all(w, '[aeiouy]+', 0)) AS BIGINT))),
           0L, (a, x) -> a + x) AS n_syllables""")
      .selectExpr("doc_id",
        "greatest(1L, CAST(n_words_raw AS BIGINT)) AS n_words",
        "greatest(1L, CAST(n_sent_raw AS BIGINT)) AS n_sentences",
        "n_syllables")
      .selectExpr("doc_id", "n_words", "n_sentences", "n_syllables",
        "206835 - (1015 * n_words) DIV n_sentences - (84600 * n_syllables) DIV n_words AS fre_e3",
        "(39 * n_words) DIV n_sentences + (1180 * n_syllables) DIV n_words - 1559 AS fk_grade_e2")
      .withColumn("band", expr(
        """CASE WHEN fre_e3 >= 90000 THEN 'very_easy'
                WHEN fre_e3 >= 60000 THEN 'standard'
                WHEN fre_e3 >= 30000 THEN 'difficult'
                ELSE 'very_confusing' END"""))

  /** #391 `doc_source_hhi` — corpus concentration as a Herfindahl–
    * Hirschman index per grouping dimension (source, lang): HHI =
    * Σ shareᵢ² in exact ppm (Σnᵢ²·10⁶ ÷ N², DECIMAL(38,0) cross-
    * multiplication — no per-group division, so truncation can't
    * accumulate), plus the effective group count 10⁶/HHI ×100 — the
    * one-scalar "is this corpus really diverse or is it three domains
    * in a trench coat" governance readout next to `doc_source_caps`'s
    * enforcement. Cost: one dimension-sized aggregate per dimension over
    * a count frame that is itself one groupBy of the scan.
    */
  /** #402 `doc_corpus_diff` — corpus snapshot diff, the data-versioning
    * readout between crawls (what `cdc_snapshot_diff` is for SCD2 state,
    * done for documents): a full-outer join of two snapshots on doc_id
    * comparing CONTENT DIGESTS (md5 — only digests travel, never two
    * copies of the text through the shuffle), each doc classed
    * added / removed / changed / unchanged, censused per (source,
    * status). The registered entry reconstructs "the previous crawl"
    * deterministically from the current corpus (every 23rd doc absent =
    * added since; every 19th doc with perturbed text = changed), so the
    * diff machinery is exercised with a replayable oracle.
    */
  def corpusDiffFrom(prev: DataFrame, cur: DataFrame): DataFrame = {
    val a = prev.select(col("doc_id"), col("source").as("src_a"),
      md5(col("text")).as("dig_a"))
    val b = cur.select(col("doc_id"), col("source").as("src_b"),
      md5(col("text")).as("dig_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("dig_a").isNull, "added")
          .when(col("dig_b").isNull, "removed")
          .when(col("dig_a") === col("dig_b"), "unchanged")
          .otherwise("changed"))
      .withColumn("source", coalesce(col("src_b"), col("src_a")))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_docs"))
  }

  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val cur = Tables.documents(spark, dir)
    val prev = cur
      .filter(col("doc_id") % 23 =!= 5)
      .withColumn("text",
        when(col("doc_id") % 19 === 4, concat(col("text"), lit(" legacy")))
          .otherwise(col("text")))
    corpusDiffFrom(prev, cur)
  }

  /** #396 `doc_policy_filter` — categorized blocklist gate (the
    * license/toxicity/spam policy filter every corpus release runs):
    * per category, a term list compiled into ONE alternation regex
    * (word-bounded, case-insensitive via a char-class-free lower()
    * match — the RE2∩Java common dialect), per-doc hit counts per
    * category, a keep/drop verdict (any category hit drops), and the
    * per-source filtered census with exact ppm. Zero hits is this
    * corpus's desired readout (the piiAudit convention); the spec plants
    * each category. Row-local regexp over the scan + one source-sized
    * aggregate.
    */
  val PolicyCategories: Seq[(String, Seq[String])] = Seq(
    "license" -> Seq("all rights reserved", "proprietary and confidential"),
    "toxicity" -> Seq("badword1", "badword2"),
    "spam" -> Seq("buy now", "click here", "limited time offer"))

  def policyFilter(spark: SparkSession, dir: String): DataFrame =
    policyFilterFrom(Tables.documents(spark, dir))

  def policyFilterFrom(docs: DataFrame): DataFrame = {
    // terms are plain lowercase words/phrases — the alternation is its
    // own regex, no quoting needed (and none would survive RE2∩Java)
    val hitCols = PolicyCategories.map { case (cat, terms) =>
      s"CAST(size(regexp_extract_all(lower(text), '(${terms.mkString("|")})', 0)) AS BIGINT) AS hits_$cat"
    }
    val aggs = Seq(
      count(lit(1)).as("n_docs"),
      sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped")) ++
      PolicyCategories.map(c => sum(col(s"hits_${c._1}")).as(s"hits_${c._1}"))
    docs
      .selectExpr(("source" +: hitCols): _*)
      .withColumn("dropped",
        expr(PolicyCategories.map(c => s"hits_${c._1} > 0").mkString(" OR ")))
      .groupBy("source")
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("dropped_ppm", expr("n_dropped * 1000000 DIV n_docs"))
  }

  /** #392 `doc_format_mix` — format routing census (The-Stack-style
    * code/markup/prose triage before format-specific pipelines): per doc,
    * row-local signal counts in the RE2∩Java common dialect — code
    * punctuation (`{ } ( ) ; =`), markup tags (`<tag>` / `</tag>`), digit
    * mass — then a threshold class and a per-(source, class) census with
    * exact ppm. On this corpus everything classes as prose (the desired
    * readout, the [[graft.operators.Redact.piiAudit]] convention); the
    * spec plants code and markup docs to prove the detectors. Scan
    * projection + one small aggregate.
    */
  def formatMix(spark: SparkSession, dir: String): DataFrame =
    formatMixFrom(Tables.documents(spark, dir))

  def formatMixFrom(docs: DataFrame): DataFrame =
    docs
      .selectExpr("source",
        "CAST(size(regexp_extract_all(text, '[{}();=]', 0)) AS BIGINT) AS n_code",
        "CAST(size(regexp_extract_all(text, '</?[a-zA-Z]+>', 0)) AS BIGINT) AS n_tags",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .selectExpr("source",
        """CASE WHEN n_tags * 1000 >= n_chars THEN 'markup'
                WHEN n_code * 100 >= n_chars * 2 THEN 'code'
                ELSE 'prose' END AS format_class""")
      .groupBy("source", "format_class")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("src_docs", sum(col("n_docs")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")))
      .selectExpr("source", "format_class", "n_docs",
        "n_docs * 1000000 DIV src_docs AS share_ppm")

  def sourceHhi(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def hhi(dim: String): DataFrame =
      docs.groupBy(col(dim)).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_groups"),
          expr("sum(CAST(n AS DECIMAL(38,0)))").as("n_total"),
          expr("sum(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)))").as("ss"))
        .selectExpr(s"'$dim' AS dimension", "n_groups",
          "CAST(n_total AS BIGINT) AS n_docs",
          "CAST(ss * 1000000 DIV (n_total * n_total) AS BIGINT) AS hhi_ppm")
        .selectExpr("dimension", "n_groups", "n_docs", "hhi_ppm",
          "100000000 DIV hhi_ppm AS effective_n_e2")
    hhi("source").unionByName(hhi("lang"))
  }
}
