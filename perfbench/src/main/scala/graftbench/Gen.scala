package graftbench

/** Seeded Debezium change-log generator for the CDC workloads.
  *
  * Event `id` is a pure function of (seed, id): its key is drawn from a
  * Zipf(s) distribution over `keys` keys whose hot ranks are assigned to
  * key ids by a seeded permutation, its op is c/u/d with weights
  * 19/76/5, and `ts_ms` is the id itself, so latest-per-key is defined
  * without wall clocks. Because nothing depends on call order, the
  * expected SCD1 state can be recomputed from the seed alone, and the
  * same seed produces byte-identical topic segments.
  */
final class CdcGen(val seed: Long, val keys: Int, val zipfS: Double = 1.0) {
  require(keys > 0, "keys must be positive")

  private val cdf: Array[Double] = {
    val w = Array.tabulate(keys)(r => 1.0 / math.pow(r + 1.0, zipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    val total = c.last
    c.map(_ / total)
  }

  private val keyOfRank: Array[Int] = {
    val a = Array.tabulate(keys)(identity)
    val rnd = new java.util.SplittableRandom(seed)
    var i = keys - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  def key(id: Long): Int = {
    val u = unit(mix(seed * 0x632BE59BD9B4E019L + id))
    var lo = 0
    var hi = keys - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    keyOfRank(lo)
  }

  /** 'c' (19 %), 'u' (76 %) or 'd' (5 %). */
  def op(id: Long): Char = {
    val r = java.lang.Long.remainderUnsigned(mix(seed ^ (id * 0x2545F4914F6CDD1DL)), 100L)
    if (r < 19) 'c' else if (r < 95) 'u' else 'd'
  }

  def valueCents(id: Long): Long =
    java.lang.Long.remainderUnsigned(mix(~seed + id * 31L), 1000000L)

  def envelope(id: Long): String = {
    val k = key(id)
    val o = op(id)
    val img = s"""{"user_id":$k,"event_id":$id,"value":${valueCents(id) / 100.0}}"""
    val before = if (o == 'c') "null" else img
    val after = if (o == 'd') "null" else img
    s"""{"before":$before,"after":$after,"source":{"version":"2.4.0","connector":"mysql","name":"graft","ts_ms":$id,"snapshot":"false","db":"graftdb","table":"events","server_id":1,"gtid":"0-1-$id","file":"binlog.000001","pos":${id * 4},"row":0,"thread":7,"query":null},"op":"$o","ts_ms":$id,"transaction":{"id":"tx-$k","total_order":1,"data_collection_order":1}}"""
  }

  /** Records [from, from + n) as Kafka (key, value) pairs. */
  def chunk(from: Long, n: Int): Seq[(String, String)] =
    (from until from + n).map(id => (key(id).toString, envelope(id)))

  /** The SCD1 state after events [0, n): per key, the latest event unless
    * it is a delete, as (user_id, operation, ts_us, event_id, value).
    */
  def expectedState(n: Long): Seq[(Long, String, Long, Long, Double)] = {
    val latest = new Array[Long](keys)
    java.util.Arrays.fill(latest, -1L)
    var id = 0L
    while (id < n) { latest(key(id)) = id; id += 1 }
    latest.indices.flatMap { k =>
      val last = latest(k)
      if (last < 0 || op(last) == 'd') None
      else Some((k.toLong, if (op(last) == 'c') "INSERT" else "UPDATE",
        last * 1000L, last, valueCents(last) / 100.0))
    }
  }
}
