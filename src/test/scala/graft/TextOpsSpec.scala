package graft

import org.apache.spark.sql.functions._
import graft.operators.{Redact, Text}

/** Semantic checks for the training-data curation operators added on top of
  * the oracle hash-compare: repetition arithmetic on planted text, corpus
  * n-gram dedup against the planted near-dup pairs, sampling determinism,
  * and redaction shape.
  */
class TextOpsSpec extends SparkSpec {

  test("docDatasheet reports exact corpus/lang/dedup/length rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("datasheet").toString
    // 4 docs: one exact-dup pair, two langs, lengths 3,3,5,11
    Seq((1L, "a b", "en", "s0", 3L), (2L, "a b", "en", "s0", 3L),
      (3L, "c d e", "de", "s1", 5L), (4L, "f g h i j k", "en", "s1", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.operators.Text.docDatasheet(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("corpus", "n_docs")) === 4L)
    assert(out(("corpus", "total_chars")) === 22L)
    assert(out(("corpus", "total_tokens")) === 2L + 2L + 3L + 6L)
    assert(out(("corpus", "avg_chars_e2")) === 550L)
    assert(out(("lang", "en")) === 3L)
    assert(out(("lang", "de")) === 1L)
    assert(out(("source", "s0")) === 2L)
    assert(out(("dedup", "distinct_texts")) === 3L)
    assert(out(("dedup", "dup_docs")) === 1L)
    // sorted lengths 3,3,5,11: p50 = 2nd (cum2*2>=4 at nch=3), p90 = 4th
    assert(out(("length", "p50_chars")) === 3L)
    assert(out(("length", "p90_chars")) === 11L)
    // 4 corpus + 2 lang + 2 source + 2 dedup + 2 length
    assert(out.size === 12)
  }

  test("langDrift: corpus-mix sources score zero, disjoint source spikes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("langdrift").toString
    // s0 and s1 mirror the corpus mix exactly ONLY in each other; s2 is
    // all-fr, which also shifts the corpus mix — so assert relative order
    // and the dominant readouts rather than a hand chi2
    val docs =
      Seq((1L, "t", "en", "s0"), (2L, "t", "en", "s0"), (3L, "t", "de", "s0"),
        (4L, "t", "en", "s1"), (5L, "t", "en", "s1"), (6L, "t", "de", "s1"),
        (7L, "t", "fr", "s2"), (8L, "t", "fr", "s2"), (9L, "t", "fr", "s2"))
        .map { case (i, t, l, s) => (i, t, l, s, 1L) }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.operators.Text.langDrift(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    // identical-mix twins score identically; the disjoint source scores
    // strictly higher (it both lacks en/de and monopolizes fr)
    assert(out("s0").getLong(3) === out("s1").getLong(3))
    assert(out("s2").getLong(3) > out("s0").getLong(3))
    assert(out("s2").getString(4) === "fr")
    assert(out("s2").getLong(5) === 10000L)
    assert(out("s0").getString(4) === "en")
    assert(out("s0").getLong(5) === 6666L)
    // zero cells count: every source is scored over ALL 3 corpus langs
    assert(out.values.forall(_.getLong(2) === 3L))
  }

  test("knScore: hand-computed KN bigram table; sub-2-token docs drop") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("knscore").toString
    // corpus: doc1 "a b a b", doc2 "a c", doc3 "x" (no bigrams).
    // model: c12 (a,b)=2 (b,a)=1 (a,c)=1; c1 a=3 b=1; T=3;
    // n1fw a=2 b=1; n1pw b=1 a=1 c=1.
    // p(a,b) = ((8-3)*3 + 3*2*1)/(4*3*3) = 21/36 -> D div N = 1 -> 0 bits
    // p(b,a) = ((4-3)*3 + 3*1*1)/(4*1*3) =  6/12 -> 2 -> 1 bit
    // p(a,c) = ((4-3)*3 + 3*2*1)/(4*3*3) =  9/36 -> 4 -> 2 bits
    Seq((1L, "a b a b", "en", "s0", 7L), (2L, "a c", "en", "s0", 3L),
      (3L, "x", "en", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.operators.Text.knScore(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((3L, 1L, 3333L))) // bits 0+1+0, mean 10000/3
    assert(out(2L) === ((1L, 2L, 20000L)))
    assert(!out.contains(3L))
  }

  test("readability: hand-checked Flesch/FK fixed-point on planted docs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("readability").toString
    Seq(
      // 2 words, 1 sentence; syllables hello=2 world=1 → 3
      (1L, "hello world.", "en", "s0", 12L),
      // vowel-less fragment: words=1, sentences clamp to 1, syllable clamp to 1
      (2L, "wrld", "en", "s0", 4L),
      // 5 words, 2 sentences; per-word clamps: a=1 bb=1 ccc!=1 dd=1 ee?=1 → 5
      (3L, "a bb ccc! dd ee?", "en", "s0", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.operators.Text.readability(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val d1 = out(1L)
    assert((d1.getLong(1), d1.getLong(2), d1.getLong(3)) === ((2L, 1L, 3L)))
    // 206835 - 1015*2/1 - 84600*3/2 = 77905; 39*2/1 + 1180*3/2 - 1559 = 289
    assert(d1.getLong(4) === 77905L)
    assert(d1.getLong(5) === 289L)
    assert(d1.getString(6) === "standard")
    val d2 = out(2L)
    assert((d2.getLong(1), d2.getLong(2), d2.getLong(3)) === ((1L, 1L, 1L)))
    assert(d2.getLong(4) === 206835L - 1015L - 84600L)
    assert(d2.getString(6) === "very_easy")
    val d3 = out(3L)
    assert((d3.getLong(1), d3.getLong(2), d3.getLong(3)) === ((5L, 2L, 5L)))
    assert(d3.getLong(4) === 206835L - 2537L - 84600L)
    assert(d3.getLong(5) === 97L + 1180L - 1559L)
  }

  test("piiAudit counts planted emails and phones; clean source reads zero") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("piiaudit").toString
    Seq(
      (1L, "contact me at jane.doe+x@example.co.uk or 555-123-4567", "en", "s0", 10L),
      (2L, "two mails a@b.io c@d.org", "en", "s0", 10L),
      (3L, "all clean text here", "en", "s0", 10L),
      (4L, "nothing to see", "en", "s1", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.operators.Redact.piiAudit(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val s0 = out("s0")
    assert((s0.getLong(1), s0.getLong(2), s0.getLong(3), s0.getLong(4), s0.getLong(5)) ===
      ((3L, 3L, 1L, 2L, 6666L)))
    val s1 = out("s1")
    assert((s1.getLong(2), s1.getLong(3), s1.getLong(4), s1.getLong(5)) ===
      ((0L, 0L, 0L, 0L)))
  }

  test("qualityAgreement: perfect gate agreement scores kappa = 1") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kappa").toString
    // pass-both: 50 words ("word and" x25), mean len 3.5, stop ratio 50%,
    // score exactly 5000. fail-both: single short word.
    val good = ("word and " * 25).trim
    val docs = (1 to 3).map(i => (i.toLong, good, "en", "s0", good.length.toLong)) ++
      (4 to 5).map(i => (i.toLong, "xx", "en", "s0", 2L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Text.qualityAgreement(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((3L, 0L, 0L, 2L)))
    assert((r.getLong(4), r.getLong(5), r.getLong(6)) === ((5L, 10000L, 1000000L)))
  }

  test("countMinFreq: estimate never undercounts; exact when collision-free") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cmfreq").toString
    // 3 distinct terms in a 4x1024 grid: collisions are possible but the
    // CM guarantee est >= freq must hold regardless
    Seq((1L, "a a a b b c", "en", "s0", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.operators.Text.countMinFreq(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet === Set("a", "b", "c"))
    assert(out("a")._1 === 3L && out("b")._1 === 2L && out("c")._1 === 1L)
    out.foreach { case (t, (freq, est, over)) =>
      assert(est >= freq, s"CM undercounted $t: est $est < freq $freq")
      assert(over === est - freq)
    }
    // on the corpus: the guarantee holds for every audited term
    val corpus = graft.operators.Text.countMinFreq(spark, sf).collect()
    // top-50 cap; the tiny spec corpus has fewer distinct terms
    assert(corpus.nonEmpty && corpus.length <= 50)
    corpus.foreach(r => assert(r.getLong(2) >= r.getLong(1), r.toString))
  }

  test("countMinFreq: freq-weighted cells equal occurrence-grain increments") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // pins the r11 term-grain rewrite: cell = Σ freq over colliding terms
    // must equal the classic one-increment-per-occurrence sketch. Repeated
    // terms across docs force real freq weights (> 1) into every cell.
    val dir = java.nio.file.Files.createTempDirectory("cmgrain").toString
    Seq((1L, "x x y z z z", "en", "s0", 11L),
        (2L, "x y y w", "en", "s1", 7L),
        (3L, "w w w x", "en", "s0", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.operators.Text.countMinFreq(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // brute-force sketch at OCCURRENCE grain with the same hash family
    val toks = graft.Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    def bucket(r: Int) =
      conv(substring(md5(concat(lit(s"cm${r}_"), col("term"))), 1, 6), 16, 10)
        .cast("long") % 1024
    val cells = (0 until 4).map(r =>
        toks.select(lit(r).as("r"), bucket(r).as("bucket")))
      .reduce(_ unionAll _)
      .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))
      .collect().map(x => (x.getInt(0), x.getLong(1)) -> x.getLong(2)).toMap
    val terms = Seq("x" -> 4L, "y" -> 3L, "z" -> 3L, "w" -> 4L)
    terms.foreach { case (t, freq) =>
      val bruteEst = (0 until 4).map { r =>
        val b = toks.sparkSession.range(1).select(
          conv(substring(md5(lit(s"cm${r}_" + t)), 1, 6), 16, 10)
            .cast("long") % 1024).head().getLong(0)
        cells((r, b))
      }.min
      assert(out(t) === ((freq, bruteEst)),
        s"term $t: query ${out(t)} != occurrence-grain ($freq, $bruteEst)")
    }
  }

  test("mojibakeAudit counts damaged chars, not legitimate whitespace") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mojibake").toString
    Seq(
      (1L, "hello\nworld\t!", "en", "s0", 13L), // \n and \t are NOT damage
      (2L, "ab�cd", "en", "s0", 5L), // 1/5 bad + replacement scar
      (3L, "éééééééééé", "fr", "s1", 10L)) // 100% outside printable ASCII
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.operators.Text.mojibakeAudit(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val s0 = out("s0")
    assert((s0.getLong(1), s0.getLong(2), s0.getLong(3)) === ((2L, 1L, 1L)))
    assert(s0.getLong(4) === 5000L) // 1 of 2 docs flagged
    assert(s0.getLong(5) === 1000000L / 18L) // 1 bad char of 18
    val s1 = out("s1")
    assert((s1.getLong(1), s1.getLong(2), s1.getLong(3)) === ((1L, 1L, 0L)))
    assert((s1.getLong(4), s1.getLong(5)) === ((10000L, 1000000L)))
  }

  test("docRepetition computes exact gram counts on planted text") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("textops").toString
    Seq((1L, "a b a b a b", "en", "src0", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = Text.docRepetition(spark, dir)
      .collect().map(r => r.getLong(1) -> r).toMap
    // bigrams: "a b"×3, "b a"×2 → n=5, top=3, dup_occ=5
    val bi = rows(2L)
    assert(bi.getLong(2) == 5 && bi.getLong(3) == 3 && bi.getLong(4) == 5)
    assert(bi.getLong(5) == 6000 && bi.getLong(6) == 10000)
    // 5-grams: "a b a b a", "b a b a b" each once → no repetition
    val five = rows(5L)
    assert(five.getLong(2) == 2 && five.getLong(3) == 1 && five.getLong(4) == 0)
  }

  test("ngramNovelty: first occurrence wins, copies score zero, tails pro-rate") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("novelty").toString
    val base = (1 to 9).map(i => s"t$i").mkString(" ")
    Seq(
      (1L, base, "en", "src0", base.length.toLong),              // 2 grams, both novel
      (2L, base, "en", "src0", base.length.toLong),              // exact copy -> 0 novel
      (3L, (2 to 9).map(i => s"t$i").mkString(" ") + " x1 x2",   // 3 grams, 2 novel
        "en", "src0", 0L),
      (4L, "a b c", "en", "src0", 5L))                           // <8 tokens -> absent
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Text.ngramNovelty(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L) === ((2L, 2L, 10000L)))
    assert(out(2L) === ((2L, 0L, 0L)))
    assert(out(3L) === ((3L, 2L, 6666L)))
  }

  test("shardStitch: plants split+overlap, natural seams surface, short docs out") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stitch").toString
    def words(r: Range, p: String = "t") = r.map(i => s"$p$i").mkString(" ")
    Seq(
      // id%20==7, 60 tokens >= 48: split into frags 4000007 (40 toks) and
      // 5000007 (36 toks) overlapping by 16 -> planted seam pair
      (7L, words(1 to 60), "en", "s", 0L),
      // natural seam: doc 21 ends with the 16 tokens doc 22 starts with
      (21L, words(1 to 24, "a") + " " + words(1 to 16, "z"), "en", "s", 0L),
      (22L, words(1 to 16, "z") + " " + words(1 to 30, "b"), "en", "s", 0L),
      // 20 tokens < 2w: out of scope entirely
      (3L, words(1 to 20), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Text.shardStitch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    assert(out === Set(
      (4000007L, 5000007L, 40L, 36L, false),
      (21L, 22L, 40L, 46L, false)))
  }

  test("corpusDupNgrams flags shared spans and attributes originality") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("textops").toString
    val shared = (1 to 9).map(i => s"w$i").mkString(" ") // 9 tokens → two 8-grams
    Seq(
      (1L, s"$shared tail one", "en", "src0", 0L),
      (2L, s"other prefix $shared", "en", "src0", 0L),
      (3L, (1 to 12).map(i => s"u$i").mkString(" "), "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val byDoc = Text.corpusDupNgrams(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // both holders of the shared span flagged, the unrelated doc not
    assert(byDoc.keySet == Set(1L, 2L))
    // doc 1 is the earliest holder of both shared 8-grams; doc 2 is not
    assert(byDoc(1L) == ((2L, 0L)), s"doc 1 got ${byDoc(1L)}")
    assert(byDoc(2L) == ((2L, 2L)), s"doc 2 got ${byDoc(2L)}")
  }

  test("stratifiedSample is deterministic and respects per-lang rates") {
    val a = Text.stratifiedSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    val b = Text.stratifiedSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(a.sameElements(b), "two runs must agree exactly")
    val rates = Map("en" -> 50L, "zh" -> 40L, "de" -> 30L, "es" -> 30L)
    a.foreach { case (id, lang, bucket) =>
      assert(bucket == (id * 131 + 7) % 100)
      assert(bucket < rates.getOrElse(lang, 20L), s"doc $id bucket $bucket over rate")
    }
    // no kept doc missing: recompute the predicate independently
    val expected = Tables.documents(spark, sf).select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .count { case (id, lang) => (id * 131 + 7) % 100 < rates.getOrElse(lang, 20L) }
    assert(a.length == expected)
  }

  test("docChunk windows reconstruct the document and honor width/stride") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("chunk").toString
    val long = (1 to 120).map(i => ('a' + i % 26).toChar).mkString  // 120 chars
    Seq((1L, long, "en", "s", 120L), (2L, "tiny", "en", "s", 4L),
      (3L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Text.docChunk(spark, dir, width = 50, stride = 30)
      .collect().groupBy(_.getLong(0))
    // 120 chars, w=50, s=30 → ceil((120-50)/30)+1 = 4 chunks
    val c1 = out(1L).sortBy(_.getLong(1)).map(_.getString(2))
    assert(c1.length == 4)
    assert(c1.take(3).forall(_.length == 50) && c1.last.length == 120 - 3 * 30)
    // overlap-stripped concatenation reproduces the document
    assert((c1.head + c1.tail.map(_.substring(50 - 30)).mkString) == long)
    // short and empty docs emit exactly one chunk
    assert(out(2L).map(_.getString(2)).toSeq == Seq("tiny"))
    assert(out(3L).map(_.getString(2)).toSeq == Seq(""))
  }

  test("docSplitAssign sends byte-identical duplicates to the same split") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("split").toString
    (1 to 200).map(i => (i.toLong, s"document body ${i % 50}", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = Text.docSplitAssign(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2))
    assert(rows.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    // every duplicate family (i % 50) got exactly one split
    val families = rows.groupBy { case (id, _) => id % 50 }
    families.foreach { case (fam, members) =>
      assert(members.map(_._2).distinct.length == 1,
        s"family $fam split across ${members.map(_._2).distinct.mkString(",")}")
    }
    // train dominates (87.5% expected of 50 distinct families)
    val perFamily = families.values.map(_.head._2).toSeq
    assert(perFamily.count(_ == "train") >= 35)
  }

  test("docMixWeights caps every language at the smallest token pool") {
    val rows = Text.docMixWeights(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSeq
    val minTok = rows.map(_._2).min
    rows.foreach { case (lang, toks, w) =>
      assert(w == minTok * 10000L / toks, s"$lang weight mismatch")
      assert(w <= 10000L && w > 0L)
    }
    // the smallest language keeps everything
    assert(rows.filter(_._2 == minTok).forall(_._3 == 10000L))
  }

  test("docLmScore ranks rare-token text as higher surprise, exact bit math") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("textops").toString
    // corpus: a×3, b×2, rare×1 → N=6
    // surprise(a) = floor(log2(6 DIV 3)) = 1, b: 6 DIV 2 = 3 → 1, rare: 6 → 2
    Seq((1L, "a a a b", "en", "src0", 7L), (2L, "b rare", "en", "src0", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = Text.docLmScore(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows(1L) == ((4L, 4L, 10000L)), s"doc 1 got ${rows(1L)}")
    assert(rows(2L) == ((2L, 3L, 15000L)), s"doc 2 got ${rows(2L)}")
    // the rare-token doc scores strictly higher mean surprise
    assert(rows(2L)._3 > rows(1L)._3)
  }

  test("docWinnow honors the shared-run fingerprint guarantee and bounds") {
    import spark.implicits._
    val shared = (1 to 8).map(i => s"s$i").mkString(" ") // w+k-1 = 8 tokens
    val docs = Seq(
      (1L, s"$shared p1 p2 p3", "en", "src0", 0L),
      (2L, s"q1 q2 q3 $shared", "en", "src0", 0L),
      (3L, (1 to 20).map(i => s"z$i").mkString(" "), "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val sets = graft.operators.Text.winnowSets(docs, 4, 5).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](r.fieldIndex("fps")).toSet).toMap
    // docs 1 and 2 share an 8-token run → MUST share a fingerprint
    assert((sets(1L) intersect sets(2L)).nonEmpty, "shared run lost")
    // the unrelated doc shares nothing with either
    assert((sets(3L) intersect (sets(1L) union sets(2L))).isEmpty)
    // profile bounds: 1 <= |fps| <= n_windows
    val dir = java.nio.file.Files.createTempDirectory("winnow").toString
    docs.write.parquet(s"$dir/documents.parquet")
    graft.operators.Text.docWinnow(spark, dir).collect().foreach { r =>
      val (g, f) = (r.getLong(1), r.getLong(2))
      assert(f >= 1 && f <= g - 4, s"doc ${r.getLong(0)}: $f fps for $g grams")
    }
  }

  test("curationFuzzy keeps exactly the gate-passing exact-dedup survivors minus near-dup losers") {
    import graft.operators.Dedup
    val losers = Dedup.dedupClusters(spark, sf)
      .filter(!col("keep")).select("doc_id")
    val expected = Text.dedupExactApply(spark, sf).select("doc_id")
      .join(losers, Seq("doc_id"), "left_anti")
      .join(Text.docQualityGopher(spark, sf)
        .filter(col("passes_gopher")).select("doc_id"), "doc_id")
      .count()
    val got = Text.curationFuzzy(spark, sf)
      .agg(sum("n_docs")).head().getLong(0)
    assert(got == expected, s"fuzzy pipeline kept $got, expected $expected")
    assert(got > 0)
  }

  test("bpeTrain learns the hand-computed merge table on a planted corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe").toString
    // words: low x2, lower x1 → pairs (l,o)=3 ties (o,w)=3, lexicographic
    // pick (l,o); then (lo,w)=3; then nothing repeats
    Seq((1L, "low low lower", "en", "src0", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = Text.bpeTrain(spark, dir, merges = 10).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toList
    assert(got == List((1, "l", "o", 3L), (2, "lo", "w", 3L)), s"got $got")
  }

  test("bpeTrain: batched merge selection is byte-identical to single-merge") {
    import spark.implicits._
    // adversarial shapes: equal-count interacting pairs (aa runs, chained
    // ab/bc overlaps), a merged token colliding with a pre-existing symbol,
    // plus the real corpus below
    val dir = java.nio.file.Files.createTempDirectory("bpe_batch").toString
    Seq(
      (1L, "aaaa aaaa abab bcbc abc abc cab", "en", "src0", 31L),
      (2L, "low low lower lowest wide wider widest", "en", "src0", 38L),
      (3L, "mississippi mississippi banana bandana", "en", "src0", 38L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    for (d <- Seq(dir, sf)) {
      val seq = Text.bpeTrain(spark, d, merges = 12, batch = 1).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toList
      val bat = Text.bpeTrain(spark, d, merges = 12, batch = 16).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toList
      assert(bat == seq, s"batched merges diverge on $d:\nseq=$seq\nbat=$bat")
    }
  }

  test("bpeEncodeStats compresses the planted corpus under its own merges") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe_enc").toString
    Seq((1L, "low low lower", "en", "src0", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // merges: (l,o) then (lo,w) → "low" = [low] (1 tok), "lower" = [low,e,r]
    val r = Text.bpeEncodeStats(spark, dir).collect()
    assert(r.length == 1)
    val (chars, toks, ratio) = (r(0).getLong(2), r(0).getLong(3), r(0).getLong(4))
    assert(chars == 11L, s"chars $chars") // low+low+lower letters
    assert(toks == 5L, s"toks $toks")     // 1 + 1 + 3
    assert(ratio == 22000L, s"ratio $ratio")
  }

  test("docPplBuckets: per-lang terciles are balanced, ordered, and complete") {
    val rows = Text.docPplBuckets(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(4), r.getLong(5)))
    val perLang = rows.groupBy(_._1)
    val langTotals = Tables.documents(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, bs) =>
      // complete: every doc of the language lands in exactly one bucket
      assert(bs.map(_._3).sum == langTotals(lang), s"$lang doc count mismatch")
      // NTILE balance: bucket sizes differ by at most one
      val sizes = bs.map(_._3)
      assert(sizes.max - sizes.min <= 1, s"$lang tercile sizes $sizes")
      // score ranges ordered: head ≤ middle ≤ tail (boundaries may tie)
      val byName = bs.map(t => t._2 -> (t._4, t._5)).toMap
      for {
        (loB, hiB) <- Seq(("head", "middle"), ("middle", "tail"))
        lo <- byName.get(loB); hi <- byName.get(hiB)
      } assert(lo._2 <= hi._1, s"$lang $loB hi ${lo._2} > $hiB lo ${hi._1}")
    }
  }

  test("docPackBins: token conservation, full interior bins, one tail") {
    val capacity = 512L
    val bins = Text.docPackBins(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val totalTokens = Tables.documents(spark, sf)
      .selectExpr("CAST(sum(size(split(text, ' '))) AS BIGINT)").head().getLong(0)
    // every token lands in exactly one bin
    assert(bins.map(_._4).sum == totalTokens)
    // every doc starts in exactly one bin
    assert(bins.map(_._3).sum == Tables.documents(spark, sf).count())
    // bins are contiguous 0..n-1; all but the last filled to capacity
    assert(bins.map(_._1).toSeq == (0L until bins.length).toSeq)
    bins.init.foreach { case (b, _, _, toks) =>
      assert(toks == capacity, s"interior bin $b holds $toks tokens")
    }
    assert(bins.last._4 <= capacity)
  }

  test("exactCumSum equals the single-partition window cumsum") {
    import graft.operators.Distributed
    val df = Tables.documents(spark, sf)
      .selectExpr("doc_id", "CAST(n_chars AS BIGINT) AS v")
    val got = Distributed.exactCumSum(df, Seq("doc_id"), "v", "cum")
      .select("doc_id", "cum").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val want = df.withColumn("cum", sum("v").over(w))
      .select("doc_id", "cum").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want)
  }

  test("piiRedact masks all but the phone's last 4 digits and the email tail") {
    val rows = Redact.piiRedact(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (phone, email, n) = (r.getString(1), r.getString(2), r.getLong(3))
      assert(phone.matches("###-####-[0-9]{4}"), s"bad phone mask: $phone")
      assert(email.matches("c\\*+@example\\.com"), s"bad email mask: $email")
      assert(n == 7, s"expected 7 masked digits, got $n")
    }
  }

  test("sourceQuality conserves corpus mass and accounts duplicates") {
    val docs = Tables.documents(spark, sf)
    val sq = Text.sourceQuality(spark, sf).collect()
    assert(sq.map(_.getAs[Long]("n_docs")).sum == docs.count())
    // unique-text counts bound doc counts; dup mass only from multi-copy groups
    sq.foreach { r =>
      val (n, u, d) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_uniq_texts"),
        r.getAs[Long]("n_dup_docs"))
      assert(u <= n && d <= n && (d == 0 || d >= 2))
      assert(r.getAs[Long]("n_gopher_pass") <= n)
      assert(r.getAs[Long]("dup_ratio_e4") == d * 10000 / n)
    }
    // total gopher passes agree with the per-doc gate
    val passes = Text.docQualityGopher(spark, sf)
      .filter(col("passes_gopher")).count()
    assert(sq.map(_.getAs[Long]("n_gopher_pass")).sum == passes)
  }

  test("sourceCaps keeps at most cap docs per source, deterministically") {
    val cap = 7
    val out = Text.sourceCaps(spark, sf, cap).collect()
    val total = Tables.documents(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == total)
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= cap)
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") ==
        r.getAs[Long]("n_docs"))
    }
    // rerun-stable (content-addressed priorities, no randomness)
    val again = Text.sourceCaps(spark, sf, cap).collect()
    assert(out.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("epochShuffle: positions are a 1..n permutation per epoch, epochs differ") {
    import org.apache.spark.sql.functions._
    val out = Text.epochShuffle(spark, sf, epochs = 2)
    val n = Tables.documents(spark, sf).count()
    val byEpoch = out.groupBy("epoch")
      .agg(count(lit(1)).as("cnt"), min("position").as("lo"),
        max("position").as("hi"), countDistinct("position").as("nd"))
      .collect()
    assert(byEpoch.length == 2)
    byEpoch.foreach { r =>
      assert(r.getAs[Long]("cnt") == n && r.getAs[Long]("nd") == n)
      assert(r.getAs[Long]("lo") == 1L && r.getAs[Long]("hi") == n)
    }
    // the two epochs order the corpus differently (the point of reshuffling)
    val sameOrder = out.filter(col("epoch") === 0)
      .select(col("doc_id"), col("position"))
      .join(out.filter(col("epoch") === 1)
        .select(col("doc_id"), col("position").as("p1")), "doc_id")
      .filter(col("position") === col("p1")).count()
    assert(sameOrder < n / 2, s"epoch orders nearly identical ($sameOrder/$n fixed points)")
  }

  test("groupedCumSum equals the per-key window cumsum, null keys included") {
    import spark.implicits._
    import graft.operators.Distributed
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 500).map { i =>
      (if (i % 11 == 0) null else s"k${i % 3}", i.toLong, (i % 7).toLong)
    }.toDF("k", "ord", "v")
    val got = Distributed.groupedCumSum(df, Seq("k"), Seq("ord"), "v", "cum")
    val w = Window.partitionBy("k").orderBy("ord")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cum", sum(col("v")).over(w))
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("docMixApply: kept set is maximal under the budget per language") {
    val out = Text.docMixApply(spark, sf).cache()
    val budget = out.select("budget").head.getLong(0)
    // kept tokens never exceed the budget...
    val perLang = out.filter(col("kept")).groupBy("lang")
      .agg(sum("n_toks").as("kept_toks"))
    assert(perLang.filter(col("kept_toks") > budget).count() == 0)
    // ...and the first dropped doc per language would have broken it
    val firstDrop = out.filter(!col("kept")).groupBy("lang")
      .agg(min("cum_toks").as("c"))
    assert(firstDrop.filter(col("c") <= budget).count() == 0)
    // the smallest language (whose pool IS the budget) is kept wholesale
    val whole = out.groupBy("lang").agg(sum("n_toks").as("t"),
      sum(when(col("kept"), col("n_toks")).otherwise(0L)).as("kt"))
    assert(whole.filter(col("t") === budget).filter(col("kt") =!= col("t")).count() == 0)
  }

  test("docDsirWeights separates target-like from off-target documents") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("textops").toString
    Seq( // en draws from vocab A, fr from disjoint vocab B (no bucket collisions)
      (1L, "alpha beta gamma alpha", "en", "src0", 0L),
      (2L, "alpha gamma beta beta", "en", "src0", 0L),
      (3L, "zeta eta theta zeta", "fr", "src0", 0L),
      (4L, "eta eta theta zeta", "fr", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Text.docDsirWeights(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    val en = Seq(out(1L), out(2L))
    val fr = Seq(out(3L), out(4L))
    assert(en.min > fr.max,
      s"target-vocab docs should outscore off-target: en=$en fr=$fr")
  }

  test("spanDedup keeps first span occurrence corpus-wide and reassembles") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("textops").toString
    val span = (1 to 8).map(i => s"s$i").mkString(" ") // exactly one 8-token span
    val tail = (1 to 8).map(i => s"t$i").mkString(" ")
    Seq(
      (1L, s"$span $tail", "en", "src0", 0L), // both spans original
      (2L, s"$span $tail", "en", "src0", 0L), // full duplicate -> empty clean
      (3L, s"$span u1 u2 u3", "en", "src0", 0L)) // dup head, unique 3-token tail
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Text.spanDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((2L, 2L, (span + " " + tail).length.toLong)), s"got ${out(1L)}")
    assert(out(2L) == ((2L, 0L, 0L)), s"got ${out(2L)}")
    assert(out(3L) == ((2L, 1L, "u1 u2 u3".length.toLong)), s"got ${out(3L)}")
    // doc 2's clean digest is md5("") — content proven, not shipped
    val d2 = Text.spanDedup(spark, dir).filter(col("doc_id") === 2L)
      .select("clean_digest").head().getString(0)
    assert(d2 == "d41d8cd98f00b204e9800998ecf8427e")
  }

  test("bm25TopK ranks by score within query, bounded and deterministic") {
    val out = Text.bm25TopK(spark, sf).cache()
    val rows = out.collect()
    assert(rows.nonEmpty)
    // ≤ k rows per query, rnk contiguous from 1, scores non-increasing
    val byQ = rows.groupBy(_.getString(0))
    assert(byQ.size <= 8)
    byQ.foreach { case (q, rs) =>
      assert(rs.length <= 5, s"$q returned ${rs.length} rows")
      val sorted = rs.sortBy(_.getInt(4))
      assert(sorted.map(_.getInt(4)).toSeq == (1 to rs.length).toSeq)
      val scores = sorted.map(_.getLong(3)).toSeq
      assert(scores == scores.sorted.reverse, s"$q scores not monotone: $scores")
      assert(scores.forall(_ > 0), s"$q has a zero score in top-k")
    }
  }

  test("bm25TopK row-local postings plan equals the direct explode formula") {
    // round-9 plan: per-doc tf built inside one flatMap (no corpus
    // shuffle), dl in-row, ONE vocab-scale df exchange. This pins it
    // bit-identical to the straightforward explode -> groupBy -> join
    // evaluation of the same fixed-point BM25 formula.
    val fast = Text.bm25TopK(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .toSet
    val bg = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))")).as("g"))
    val tf = bg.groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dfq = tf.groupBy("g").agg(count(lit(1)).as("df"))
    val nd = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_dl"))
    val queries = dfq.filter(col("df").between(5, 50))
      .orderBy(col("df").desc, col("g").asc).limit(8)
      .withColumnRenamed("g", "q_term")
    val scored = tf.join(broadcast(queries), tf("g") === queries("q_term"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(nd))
      .selectExpr("q_term", "doc_id", "tf",
        "CAST(length(bin(n_docs DIV df)) - 1 AS BIGINT) AS idf_bits",
        "(total_dl * 10000) DIV n_docs AS avgdl_e4", "dl")
      .selectExpr("q_term", "doc_id", "tf", "idf_bits",
        "2500 + (7500 * ((dl * 100000000) DIV avgdl_e4)) DIV 10000 AS norm_e4")
      .selectExpr("q_term", "doc_id", "tf",
        "CAST(idf_bits * ((tf * 22000 * 10000) DIV (tf * 10000 + (12000 * norm_e4) DIV 10000)) AS BIGINT) AS score_e4")
    val slow = graft.plans.TopK.topKPerGroup(scored, Seq("q_term"),
      Seq(("score_e4", true), ("doc_id", false)), 5)
      .select("q_term", "doc_id", "tf", "score_e4", "rnk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .toSet
    assert(fast === slow, s"plan divergence: ${fast.diff(slow).take(3)} vs ${slow.diff(fast).take(3)}")
  }

  test("writeShards: docs packed whole, shards near target, files match the manifest") {
    val out = java.nio.file.Files.createTempDirectory("shardspec").toString + "/c"
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val target = 16384L
    val manifest = Text.writeShards(spark, docs, out, target).cache()
    val m = manifest.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2)))).toMap
    assert(m.nonEmpty)
    // conservation: every doc lands in exactly one shard
    assert(m.values.map(_._1).sum === docs.count())
    // size discipline: a shard overshoots the target by at most one doc
    val maxDoc = docs.agg(max(octet_length(col("text")))).head().getInt(0).toLong
    m.foreach { case (sid, (_, bytes)) =>
      assert(bytes <= target + maxDoc, s"shard $sid too fat: $bytes")
    }
    // contiguity: shard ids are dense 0..k
    assert(m.keySet === (0L until m.size.toLong).toSet)
    // FS reality: one partition dir per shard, json round-trips the docs
    val back = spark.read.json(s"$out")
    assert(back.count() === docs.count())
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard_id=")).toSet
    assert(dirs.size === m.size)
    manifest.unpersist()
  }

  test("priority sample is a deterministic prefix of the full weighted ranking") {
    val n = Tables.documents(spark, sf).count().toInt
    val full = Text.weightedSample(spark, sf, k = n).collect()
    assert(full.length === n)
    val top = Text.weightedSample(spark, sf, k = 100).collect()
    assert(top.length === 100)
    // the k-sample IS the k-prefix of the full ranking (same order key)
    val key = (r: org.apache.spark.sql.Row) =>
      (-r.getAs[Long]("priority"), r.getAs[Long]("doc_id"))
    assert(top.map(key).toSeq === full.sortBy(key).take(100).map(key).toSeq)
    // determinism across runs
    val again = Text.weightedSample(spark, sf, k = 100).collect()
    assert(top.map(key).toSeq === again.map(key).toSeq)
    // priority arithmetic replays in plain JVM: q = w·2^24 DIV (u+1),
    // u = first 6 hex digits of md5("wsample_" || doc_id)
    val r0 = top.head
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"wsample_${r0.getAs[Long]("doc_id")}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val u = java.lang.Long.parseLong(md.take(6), 16)
    assert(r0.getAs[Long]("priority") ===
      r0.getAs[Long]("n_chars") * 16777216L / (u + 1))
  }

  test("compression ratio separates repetitive, prose, and incompressible tails") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val noise = Array.fill(4000)(rng.nextPrintableChar()).mkString
    val docs = Seq(
      (1L, "spam spam spam " * 300),                       // repetitive
      (2L, Tables.documents(spark, sf).select("text").head().getString(0)), // prose
      (3L, noise)                                          // incompressible
    ).toDF("doc_id", "text")
    // printable-ASCII noise caps near ratio 0.83 (6.6 of 8 bits/char), so
    // the text-corpus profile passes hiE4=8000; the 9500 default targets
    // binary-in-text payloads
    val out = graft.operators.Text.compressionRatioFrom(docs, hiE4 = 8000L).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("ratio_e4"), r.getAs[String]("verdict"))))
      .toMap
    assert(out(1L)._2 === "repetitive", s"got ${out(1L)}")
    assert(out(3L)._2 === "incompressible", s"got ${out(3L)}")
    assert(out(1L)._1 < out(2L)._1 && out(2L)._1 < out(3L)._1,
      s"ordering violated: $out")
    // pure function of the text: re-run is bit-identical
    val again = graft.operators.Text.compressionRatioFrom(docs, hiE4 = 8000L).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("ratio_e4")).toMap
    assert(out.map { case (k, v) => k -> v._1 } === again)
    // SQL facade exposure
    val viaSql = spark.sql("SELECT deflate_size('spam spam spam')").head().getLong(0)
    assert(viaSql > 0L && viaSql < 15L)
  }

  test("KMV overlap is exact when sketches cover the full shingle sets") {
    import spark.implicits._
    // one 5-token text → exactly one shingle; sources are then plain sets
    def t(s: String) = s"$s a b c d"
    val docs = (
      Seq("x1", "x2", "x3", "x4").map(x => ("A", t(x))) ++
      Seq("x1", "x2", "x3", "x4").map(x => ("B", t(x))) ++   // B == A
      Seq("z1", "z2", "z3", "z4").map(x => ("C", t(x))) ++   // C disjoint
      Seq("x1", "x2", "y1", "y2").map(x => ("D", t(x)))      // |D∩A|=2, |D∪A|=6
    ).toDF("source", "text")
    val out = graft.operators.Text.corpusOverlapKmvFrom(docs, n = 5, k = 128)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(r.fieldIndex("n_union")), r.getLong(r.fieldIndex("n_both")),
          r.getLong(r.fieldIndex("jaccard_ppm"))))).toMap
    assert(out(("A", "B")) === ((4L, 4L, 1000000L)))
    assert(out(("A", "C")) === ((8L, 0L, 0L)))
    assert(out(("A", "D")) === ((6L, 2L, 333333L)))
    assert(out.size === 6) // all unordered source pairs reported
  }

  test("zipfAudit ranks terms by exact frequency with Zipf products") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("zipf").toString
    Seq((1L, "a a b", "en", "s", 5L), (2L, "a c", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Text.zipfAudit(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    // 5 tokens total: a×3 rank 1, then b/c (freq 1) in term order
    assert(out(1L) === (("a", 3L, 3L, 600000L)))
    assert(out(2L) === (("b", 1L, 2L, 200000L)))
    assert(out(3L) === (("c", 1L, 3L, 200000L)))
  }

  test("vocabGrowth reports new terms at the exact decile of first appearance") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("heaps").toString
    // 10 docs -> decile == doc rank; new vocabulary lands in docs 1, 2, 5
    val texts = Map(1L -> "t1", 2L -> "t1 t2", 5L -> "t3")
    (1L to 10L).map(i => (i, texts.getOrElse(i, "t1"), "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Text.vocabGrowth(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(
      1L -> ((1L, 1L, 1L)), 2L -> ((2L, 1L, 2L)), 5L -> ((5L, 1L, 3L))),
      s"got $out")
  }

  test("newVsReturning and lorenzGini match hand-computed grids") {
    import spark.implicits._
    import graft.operators.Events
    val dir = java.nio.file.Files.createTempDirectory("growth").toString
    def ns(day: Long, i: Int) = day * 86400000000000L + i * 1000000000L
    // u1 active days {0,1,5}; u2 joins on day 1; u3 joins on day 5
    val rows = Seq(
      (1L, ns(0, 1), 1L, "click", 100.0, "{}"),
      (2L, ns(1, 1), 1L, "click", 100.0, "{}"),
      (3L, ns(1, 2), 2L, "click", 100.0, "{}"),
      (4L, ns(5, 1), 1L, "click", 200.0, "{}"),
      (5L, ns(5, 2), 3L, "click", 100.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val nvr = Events.newVsReturning(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(nvr === Map(
      0L -> ((1L, 1L, 0L, 1L)),
      1L -> ((2L, 1L, 1L, 2L)),
      5L -> ((2L, 1L, 1L, 3L))), s"got $nvr")
    // user cents: u1 40000, u2 10000, u3 10000 -> ascending ranks
    // (10000,u2)=1, (10000,u3)=2, (40000,u1)=3; sx=60000, six=150000
    // gini = (300000 - 4*60000) / (3*60000) = 60000/180000 -> 333333 e6
    val g = Events.lorenzGini(spark, dir).collect()(0)
    assert(g.getLong(0) === 3L && g.getLong(1) === 60000L
      && g.getLong(2) === 333333L, s"got $g")
    // perfectly equal distribution -> gini exactly 0
    val dir2 = java.nio.file.Files.createTempDirectory("gini0").toString
    Seq((1L, ns(0, 1), 1L, "c", 50.0, "{}"), (2L, ns(0, 2), 2L, "c", 50.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir2/events.parquet")
    assert(Events.lorenzGini(spark, dir2).collect()(0).getLong(2) === 0L)
  }

  test("timeWeighted averages by hold duration, drops single-event users") {
    import spark.implicits._
    import graft.operators.Events
    val dir = java.nio.file.Files.createTempDirectory("twa").toString
    // u1: 100 for 10s, then 200 for 30s -> TWA (100*10+200*30)/40 = 175
    val rows = Seq(
      (1L, 0L, 1L, "c", 100.0, "{}"),
      (2L, 10L * 1000000000L, 1L, "c", 200.0, "{}"),
      (3L, 40L * 1000000000L, 1L, "c", 50.0, "{}"),
      (4L, 5L * 1000000000L, 2L, "c", 999.0, "{}")) // single event: no interval
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.timeWeighted(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out === Map(1L -> ((2L, 40000000L, 175.0))), s"got $out")
  }

  test("tfidfTopK scores with the bit-length idf and ranks per doc") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tfidf").toString
    // df: x=1 (idf_bits 1), y=3 (3/3=1 -> 0 bits), z=1 (1)
    Seq((1L, "x x y", "en", "s", 5L), (2L, "y z", "en", "s", 3L),
      (3L, "y", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Text.tfidfTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getAs[Number]("idf_bits").longValue, r.getAs[Number]("score").longValue,
          r.getAs[Number]("rnk").longValue))).toMap
    assert(out((1L, "x")) === ((1L, 2L, 1L))) // tf 2 x idf 1, top of doc 1
    assert(out((1L, "y")) === ((0L, 0L, 2L))) // corpus-wide term scores 0
    assert(out((2L, "z")) === ((1L, 1L, 1L)))
    assert(out((3L, "y")) === ((0L, 0L, 1L)))
  }

  test("bigramSurprise charges improbable continuations by the bit-length log") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bigram").toString
    // corpus bigrams: a->b x2, b->a x1, a->c x1; c(a.)=3, c(b.)=1
    // surprise: a->b floor(log2(3/2))=0, a->c floor(log2(3/1))=1, b->a 0
    Seq((1L, "a b a c", "en", "s", 7L), (2L, "a b", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Text.bigramSurprise(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(
      1L -> ((3L, 1L, 3333L)), // the a->c continuation charges 1 bit
      2L -> ((1L, 0L, 0L))), s"got $out")
  }

  test("pathTrigrams counts 3-step journeys with exact shares") {
    import spark.implicits._
    import graft.operators.Events
    val dir = java.nio.file.Files.createTempDirectory("tri").toString
    val rows = Seq( // u1: A->B->C->D ; u2: A->B (too short for a trigram)
      (1L, 1000000000L, 1L, "A", 1.0, "{}"),
      (2L, 2000000000L, 1L, "B", 1.0, "{}"),
      (3L, 3000000000L, 1L, "C", 1.0, "{}"),
      (4L, 4000000000L, 1L, "D", 1.0, "{}"),
      (5L, 1000000000L, 2L, "A", 1.0, "{}"),
      (6L, 2000000000L, 2L, "B", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = Events.pathTrigrams(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    assert(out === Map(
      ("A", "B", "C") -> ((1L, 500000L)),
      ("B", "C", "D") -> ((1L, 500000L))), s"got $out")
  }

  test("unigram tokenizer: planted pieces survive EM+prune, whole words encode at fertility 100") {
    import spark.implicits._
    import graft.operators.Text
    val docs = (1 to 10).map(i => (i.toLong, "abcabc abc xy abcabc", "en", "s", 20L))
    val dir = java.nio.file.Files.createTempDirectory("unigram").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val vocab = Text.unigramTrain(spark, dir, vocabSize = 8, iters = 2).collect()
      .map(r => r.getAs[String]("piece") -> r.getAs[Long]("n_uses")).toMap
    assert(vocab.keys.forall(_.length <= 6), s"overlong piece in $vocab")
    assert(vocab.contains("abc") || vocab.contains("abcabc"),
      s"the planted repeat must survive pruning: $vocab")
    assert(vocab.values.forall(_ > 0L), s"zero-use piece kept: $vocab")
    // every distinct word lands in the tiny vocab → one piece per word
    val enc = Text.unigramEncodeStats(spark, dir, vocabSize = 8).collect()
    assert(enc.length === 10)
    enc.foreach { r =>
      assert(r.getAs[Long]("n_words") === 4L, r.toString)
      assert(r.getAs[Long]("n_pieces") === 4L, r.toString)
      assert(r.getAs[Long]("fertility_e2") === 100L, r.toString)
    }
  }

  test("tokenizer compare: whitespace is the fertility floor, all methods populated") {
    val rows = graft.operators.Text.tokenizerCompare(spark, sf).collect()
      .map(r => r.getAs[String]("method") -> r).toMap
    assert(rows.keySet === Set("whitespace", "bpe", "unigram"))
    assert(rows("whitespace").getAs[Long]("fertility_e2") === 100L)
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_pieces") > 0L, r.toString)
      // every word yields at least one piece → fertility ≥ the floor
      assert(r.getAs[Long]("fertility_e2") >= 100L, r.toString)
    }
  }

  test("cluster keywords: each planted family is labeled by its distinctive term") {
    import spark.implicits._
    val clusters = Seq((1L, 10L), (2L, 10L), (3L, 40L), (4L, 40L))
      .toDF("doc_id", "cluster_id")
    val texts = Seq(
      (1L, "alpha alpha beta"), (2L, "alpha beta"),
      (3L, "gamma beta"), (4L, "gamma gamma beta"))
      .toDF("doc_id", "text")
    val top1 = Text.clusterKeywordsFrom(clusters, texts, k = 1).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[String]("term"), r.getAs[Long]("score")))).toMap
    // beta appears in BOTH clusters → idf_bits = len(bin(2/2))-1 = 0 → score 0;
    // alpha/gamma are exclusive → idf_bits = 1, score = their tf (3)
    assert(top1(10L) === (("alpha", 3L)), s"got ${top1(10L)}")
    assert(top1(40L) === (("gamma", 3L)), s"got ${top1(40L)}")
  }

  test("corpus diff: planted add/remove/change classify exactly") {
    import spark.implicits._
    val prev = Seq((1L, "same", "s"), (2L, "old text", "s"), (3L, "gone", "s"))
      .toDF("doc_id", "text", "source")
    val cur = Seq((1L, "same", "s"), (2L, "new text", "s"), (4L, "fresh", "s"))
      .toDF("doc_id", "text", "source")
    val out = Text.corpusDiffFrom(prev, cur).collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("n_docs")).toMap
    assert(out === Map("unchanged" -> 1L, "changed" -> 1L,
      "removed" -> 1L, "added" -> 1L), out.toString)
  }

  test("policy filter: each planted category drops its doc, clean docs pass") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "totally clean text about spark joins"),
      ("s1", "this work is All Rights Reserved by the author"),
      ("s1", "badword1 appears here and badword2 too"),
      ("s1", "Buy Now for a limited time offer"),
      ("s2", "another clean one")).toDF("source", "text")
    val out = Text.policyFilterFrom(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val s1 = out("s1")
    assert(s1.getAs[Long]("n_docs") === 4L && s1.getAs[Long]("n_dropped") === 3L)
    assert(s1.getAs[Long]("hits_license") === 1L)
    assert(s1.getAs[Long]("hits_toxicity") === 2L)
    assert(s1.getAs[Long]("hits_spam") === 2L)
    assert(s1.getAs[Long]("dropped_ppm") === 750000L)
    assert(out("s2").getAs[Long]("n_dropped") === 0L)
  }

  test("format mix: planted code and markup docs route out of prose") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "plain prose words only here and more of them to read"),
      ("s1", "x=1; if(a){b();} while(c){d(e);} f=g; h=(i); j={k};"),
      ("s1", "<p>hi</p><div>x</div><span>y</span><a>z</a><b>w</b>"))
      .toDF("source", "text")
    val out = Text.formatMixFrom(docs).collect()
      .map(r => r.getAs[String]("format_class") -> r.getAs[Long]("n_docs")).toMap
    assert(out === Map("prose" -> 1L, "code" -> 1L, "markup" -> 1L), out.toString)
  }

  test("source HHI: planted 3-1 split scores 625000 ppm; monoculture scores 1e6") {
    import spark.implicits._
    val docs = Seq(
      (1L, "t", "en", "a", 1L), (2L, "t", "en", "a", 1L),
      (3L, "t", "en", "a", 1L), (4L, "t", "en", "b", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("hhi").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val out = Text.sourceHhi(spark, dir).collect()
      .map(r => r.getAs[String]("dimension") -> r).toMap
    val src = out("source")
    assert(src.getAs[Long]("n_groups") === 2L && src.getAs[Long]("n_docs") === 4L)
    assert(src.getAs[Long]("hhi_ppm") === 625000L)   // (9+1)/16
    assert(src.getAs[Long]("effective_n_e2") === 160L) // 1.6 effective sources
    val lang = out("lang")
    assert(lang.getAs[Long]("hhi_ppm") === 1000000L, "monoculture must max out")
    assert(lang.getAs[Long]("effective_n_e2") === 100L)
  }
}
