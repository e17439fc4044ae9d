package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Static hash kernels invoked from both interpreted eval and generated code
  * (a static call keeps the enclosing operator inside whole-stage codegen).
  *
  * Used by the near-duplicate detection operators — the reference's dedup
  * surface is exactly-once offset dedup (reference:
  * src/aurora_cdc/datasource/aurora_cdc_datasource_v2.py:479-489); the
  * content-hash family here is the LLM-pipeline extension.
  */
object TextHashes {

  /** FNV-1a 64-bit over a byte slice. */
  def fnv1a64(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** SimHash-64: whitespace-tokenize, hash each token (FNV-1a 64), bit-vote.
    * One pass, zero allocation beyond the byte array — row-local, so the
    * signature computation scales linearly and shuffles nothing.
    */
  def simhash64(s: UTF8String): Long = {
    val bytes = s.getBytes
    val votes = new Array[Int](64)
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && bytes(i) == ' '.toByte) i += 1
      val start = i
      while (i < n && bytes(i) != ' '.toByte) i += 1
      if (i > start) {
        val h = fnv1a64(bytes, start, i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Polynomial (Rabin-Karp style) rolling hash fingerprint: the minimum of
    * all `window`-byte substring hashes (a 1-fingerprint winnowing sketch).
    * Robust to block reordering, unlike a whole-string hash.
    */
  def rollingMinHash(s: UTF8String, window: Int): Long = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n == 0) return 0L
    val w = math.min(window, n)
    val base = 1099511628211L
    // precompute base^(w-1)
    var pow = 1L
    var k = 0
    while (k < w - 1) { pow *= base; k += 1 }
    var h = 0L
    var i = 0
    while (i < w) { h = h * base + (bytes(i) & 0xffL); i += 1 }
    var minH = h
    i = w
    while (i < n) {
      h = (h - (bytes(i - w) & 0xffL) * pow) * base + (bytes(i) & 0xffL)
      if (java.lang.Long.compareUnsigned(h, minH) < 0) minH = h
      i += 1
    }
    minH
  }

  /** SplitMix64 (Steele, Lea & Flood, OOPSLA 2014): output `i` of the
    * generator seeded with `x` — the state advanced by `i` golden-gamma
    * steps, then the finalizer. The one seeded mix in graft: cdcgen's
    * rows (`i` = 1) and the minhash hash functions (`i` = j + 1 for
    * function j) call it, and the DuckDB oracle replays it in int128 SQL
    * (`SparkEntry.mixStagesSql`).
    */
  def splitMix64(x: Long, i: Long): Long = {
    var z = x + i * 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** MinHash signature over 3-token shingles, one pass: each shingle is
    * FNV-hashed once, then mixed per hash-function with [[splitMix64]] —
    * O(shingles × k) cheap ops instead of k tokenization passes.
    */
  def minhashSig(s: UTF8String, k: Int): Array[Long] = {
    val bytes = s.getBytes
    val n = bytes.length
    val sig = Array.fill(k)(Long.MaxValue)
    // starts of the current token (t0), previous (t1), two-ago (t2)
    var t0 = 0; var t1 = -1; var t2 = -1
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' '.toByte) {
        // token ended at i; shingle = [t2 .. i) covers 3 tokens when t2 >= 0
        if (t2 >= 0) {
          val h = fnv1a64(bytes, t2, i)
          var j = 0
          while (j < k) {
            val z = splitMix64(h, j + 1)
            if (z < sig(j)) sig(j) = z
            j += 1
          }
        }
        // advance token window
        t2 = t1; t1 = t0; t0 = i + 1
        // skip consecutive spaces
        while (i + 1 < n && bytes(i + 1) == ' '.toByte) { i += 1; t0 = i + 1 }
      }
      i += 1
    }
    sig
  }

  /** Exact character-n-gram Jaccard between two strings, no array
    * materialization: distinct gram hashes of `a` into an open-addressed
    * int-hash set, then probe with `b`'s grams. One pass per string.
    */
  def ngramJaccard(a: UTF8String, b: UTF8String, n: Int): Double = {
    val ha = gramSet(a.getBytes, n)
    val hb = gramSet(b.getBytes, n)
    jaccardOf(ha, hb)
  }

  /** Exact token-3-shingle Jaccard (the MinHash verify metric), same
    * hash-set approach over shingle hashes.
    */
  def shingleJaccard(a: UTF8String, b: UTF8String): Double =
    jaccardOf(shingleSet(a.getBytes), shingleSet(b.getBytes))

  /** Exact token-3-shingle CONTAINMENT of `a` in `b`: |A∩B| / |A|.
    * Asymmetric by design — a document quoted whole inside a larger one
    * scores ≈1 here while its symmetric Jaccard collapses with the size
    * ratio. Empty `a` is vacuously contained.
    */
  def shingleContainment(a: UTF8String, b: UTF8String): Double = {
    val ha = shingleSet(a.getBytes)
    if (ha.isEmpty) return 1.0
    val hb = shingleSet(b.getBytes)
    var inter = 0
    val it = ha.iterator()
    while (it.hasNext) if (hb.contains(it.next())) inter += 1
    inter.toDouble / ha.size
  }

  private def jaccardOf(ha: java.util.HashSet[Long], hb: java.util.HashSet[Long]): Double = {
    if (ha.isEmpty && hb.isEmpty) return 1.0
    var inter = 0
    val it = hb.iterator()
    while (it.hasNext) if (ha.contains(it.next())) inter += 1
    val union = ha.size + hb.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  private def gramSet(bytes: Array[Byte], n: Int): java.util.HashSet[Long] = {
    val s = new java.util.HashSet[Long]()
    var i = 0
    val end = math.max(bytes.length - n + 1, if (bytes.length > 0) 1 else 0)
    while (i < end) {
      s.add(fnv1a64(bytes, i, math.min(i + n, bytes.length)))
      i += 1
    }
    s
  }

  private def shingleSet(bytes: Array[Byte]): java.util.HashSet[Long] = {
    val s = new java.util.HashSet[Long]()
    val n = bytes.length
    var t0 = 0; var t1 = -1; var t2 = -1
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' '.toByte) {
        if (t2 >= 0) s.add(fnv1a64(bytes, t2, i))
        t2 = t1; t1 = t0; t0 = i + 1
        while (i + 1 < n && bytes(i + 1) == ' '.toByte) { i += 1; t0 = i + 1 }
      }
      i += 1
    }
    if (s.isEmpty && n > 0) s.add(fnv1a64(bytes, 0, n)) // <3-token doc
    s
  }

  /** Cosine similarity of two float vectors, accumulated in double
    * (sequential order — bit-identical to DuckDB's double-cast
    * list_cosine_similarity, which the oracle uses).
    */
  /** Random-hyperplane LSH bucket: sign bits of `planes` pseudo-random
    * projections. Plane weights come from an LCG keyed by (plane, dim,
    * salt) — deterministic on every JVM, no stored plane matrix. `salt`
    * selects an independent plane set, so multi-table LSH (higher recall)
    * reuses one kernel.
    */
  def hyperplaneBucket(emb: Array[Float], planes: Int, salt: Int): Int = {
    var bucket = 0
    var p = 0
    while (p < planes) {
      var dot = 0.0
      var j = 0
      while (j < emb.length) {
        // LCG-derived pseudo-weight in [-0.5, 0.5)
        var s = (p.toLong * 1048573L + j.toLong * 31L + 42L + salt.toLong * 7919L) *
          6364136223846793005L + 1442695040888963407L
        s ^= (s >>> 33)
        dot += emb(j) * (((s & 0xffffL).toDouble / 65536.0) - 0.5)
        j += 1
      }
      if (dot > 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  def cosineF(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** All matryoshka prefix cosines in ONE pass: for each width fraction
    * `f` in `fracs`, the cosine of the first max(1, b.length / f)
    * dimensions, accumulated in double precision left to right. Because
    * a left fold's partial sum at element d IS the full fold over the
    * first d elements, reading the running (dot, ‖a‖², ‖b‖²) at each cut
    * point is bit-identical to evaluating an independent
    * aggregate-over-slice per fraction — while visiting each element
    * once instead of Σ 1/f times, compiled instead of interpreted.
    * Precondition (holds for any single-model corpus): both arrays are
    * at least max(1, b.length / min(fracs)) long; shorter inputs use the
    * available prefix.
    */
  def prefixCosines(a: Array[Float], b: Array[Float], fracs: Array[Int]): Array[Double] = {
    val out = new Array[Double](fracs.length)
    val cuts = new Array[Int](fracs.length)
    var maxd = 0
    var i = 0
    while (i < fracs.length) {
      cuts(i) = math.max(1, b.length / fracs(i))
      if (cuts(i) > maxd) maxd = cuts(i)
      i += 1
    }
    if (maxd > a.length) maxd = a.length
    if (maxd > b.length) maxd = b.length
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var j = 0
    while (j < maxd) {
      val x = a(j).toDouble; val y = b(j).toDouble
      dot += x * y; na += x * x; nb += y * y
      j += 1
      i = 0
      while (i < cuts.length) {
        if (cuts(i) == j) {
          val q = math.sqrt(na); val n = math.sqrt(nb)
          out(i) = if (q == 0.0 || n == 0.0) 0.0 else dot / (q * n)
        }
        i += 1
      }
    }
    out
  }

  /** Product-quantization encode: per subspace `s` of `m`, the index of the
    * nearest (squared-L2) of `k` codebook centroids to the vector's `d`-dim
    * subvector. `cb` is the flat codebook laid out [(s·k + c)·d + j].
    * First-minimum tie-break — deterministic. JIT-tight loops: interpreted
    * higher-order-function lambdas cost ~100× more per element, which
    * dominates both PQ training (every Lloyd iteration re-assigns the
    * corpus) and encode.
    */
  def pqCodes(v: Array[Float], cb: Array[Float], m: Int, k: Int, d: Int): Array[Int] = {
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        var dist = 0.0
        val base = (s * k + c) * d
        var j = 0
        while (j < d) {
          val diff = v(s * d + j).toDouble - cb(base + j).toDouble
          dist += diff * diff
          j += 1
        }
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    codes
  }

  /** PCA projection: component i of the result is the dot product of the
    * vector with row i of the flat `k`×`d` basis [i·d + j], in doubles —
    * uncentered, like MLlib's `PCAModel.transform`.
    */
  def pcaProject(v: Array[Float], basis: Array[Double], k: Int, d: Int): Array[Double] = {
    val out = new Array[Double](k)
    var i = 0
    while (i < k) {
      var acc = 0.0
      var j = 0
      while (j < d) { acc += basis(i * d + j) * v(j); j += 1 }
      out(i) = acc
      i += 1
    }
    out
  }

  /** All word-n-gram md5 fingerprints of a token array in one compiled
    * pass: element i = md5 hex of tokens i..i+n-1 joined by a single
    * space — byte-identical to the interpreted
    * `transform(sequence(...), i -> md5(array_join(slice(toks, i, n), ' ')))`
    * it replaces (the digest streams the exact same UTF-8 bytes the
    * joined string would contain; hex is lowercase like Spark's md5).
    * The HOF form allocates a slice array, a joined string and an
    * interpreted lambda frame per shingle; this allocates nothing per
    * shingle but the 32-char result.
    */
  def shingleMd5s(toks: org.apache.spark.sql.catalyst.util.ArrayData,
      n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val cnt = toks.numElements() - n + 1
    if (cnt <= 0)
      return org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(Array.empty[UTF8String])
    val md = java.security.MessageDigest.getInstance("MD5")
    val hexDigits = "0123456789abcdef".getBytes
    val out = new Array[UTF8String](cnt)
    val space = ' '.toByte
    var i = 0
    while (i < cnt) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(space)
        md.update(toks.getUTF8String(i + j).getBytes)
        j += 1
      }
      val dig = md.digest()
      val hex = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = hexDigits((dig(b) >> 4) & 0xf)
        hex(2 * b + 1) = hexDigits(dig(b) & 0xf)
        b += 1
      }
      out(i) = UTF8String.fromBytes(hex)
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  /** ADC query distance table: for each subspace `s` and code `c`, the
    * squared L2 distance from the query's `d`-dim subvector to centroid
    * (s, c) of the flat codebook — the m·k lookup table a PQ scan scores
    * against. Same accumulation order (j ascending, doubles, 0.0 seed)
    * as the aggregate(zip_with(...)) expression it replaces, so every
    * table entry is bit-identical; compiled instead of interpreted, and
    * the codebook stays expression DATA (addReferenceObj) instead of a
    * multi-hundred-KB nested literal the optimizer re-walks every pass.
    */
  def pqQueryTable(v: Array[Float], cb: Array[Float], m: Int, k: Int, d: Int): Array[Double] = {
    val tab = new Array[Double](m * k)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < k) {
        var dist = 0.0
        val base = (s * k + c) * d
        var j = 0
        while (j < d) {
          val diff = v(s * d + j).toDouble - cb(base + j).toDouble
          dist += diff * diff
          j += 1
        }
        tab(s * k + c) = dist
        c += 1
      }
      s += 1
    }
    tab
  }

  /** One BPE merge step: rewrite a symbol sequence replacing every
    * adjacent (left, right) pair with the fused symbol, left-to-right,
    * non-overlapping — the inner loop of byte-pair-encoding tokenizer
    * training, applied corpus-wide per merge rank.
    */
  def bpeMerge(syms: org.apache.spark.sql.catalyst.util.ArrayData,
      left: UTF8String, right: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = syms.numElements()
    val out = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      if (i + 1 < n && syms.getUTF8String(i).equals(left) &&
          syms.getUTF8String(i + 1).equals(right)) {
        out.add(UTF8String.concat(left, right))
        i += 2
      } else {
        out.add(syms.getUTF8String(i))
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      out.toArray(new Array[UTF8String](out.size())))
  }

  /** BPE encode: apply a trained merge table to a symbol sequence, one
    * rule per rank in order (each rule fuses all its non-overlapping
    * occurrences — the standard single-pass-per-rank application). `lefts`
    * and `rights` are the rank-ordered rule sides.
    */
  def bpeEncode(syms: org.apache.spark.sql.catalyst.util.ArrayData,
      lefts: Array[UTF8String], rights: Array[UTF8String]): org.apache.spark.sql.catalyst.util.ArrayData = {
    var cur = syms
    var k = 0
    while (k < lefts.length) {
      cur = bpeMerge(cur, lefts(k), rights(k))
      k += 1
    }
    cur
  }

  /** DEFLATE-compressed size of the string's UTF-8 bytes: fixed level 6,
    * raw deflate (nowrap — no zlib header so tiny strings aren't
    * dominated by framing), fresh Deflater per call so the result is a
    * pure function of the input. The compression RATIO is the classic
    * cheap text-quality signal: boilerplate/repetitive text compresses
    * far below natural prose, random noise refuses to compress at all.
    */
  def deflateSize(s: UTF8String): Long = {
    val bytes = s.getBytes
    val d = new java.util.zip.Deflater(6, true)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  /** ADC score: sum over subspaces of the query's precomputed per-code
    * distance-table entries (`tab` is the query's flat m·k table,
    * [s·k + code]). Both sides arrive as Catalyst array data — no
    * materialized JVM arrays per row.
    */
  def pqAdc(codes: org.apache.spark.sql.catalyst.util.ArrayData,
      tab: org.apache.spark.sql.catalyst.util.ArrayData, k: Int): Double = {
    var sum = 0.0
    var s = 0
    val m = codes.numElements()
    while (s < m) {
      sum += tab.getDouble(s * k + codes.getInt(s))
      s += 1
    }
    sum
  }
}
