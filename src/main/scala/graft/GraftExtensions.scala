package graft

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BpeEncode, BpeMergeStep, CosineSim, DeflateSize,
  HyperplaneBucket, MinHashAgg, MinHashSig, NgramJaccard, QuantileSketchAgg,
  RollingMinHash, ShingleContainment, ShingleJaccard, SimHash64}

/** The library's whole session surface: the custom Catalyst expressions
  * as SQL functions, the TopK / MV / exact-view optimizer rules and the
  * TopK / as-of planner strategies — the idiomatic way a Spark-native
  * library ships operators (the reference ships a Python DataSource
  * registration instead; reference:
  * src/notebooks/demo/cdc_500_tables_streaming.py:106).
  *
  * Listed in `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so Spark's `ServiceLoader` applies it inside `getOrCreate` for every
  * session with graft on its classpath — no `spark.sql.extensions` conf
  * and no per-call registration. The rules run in the pre-CBO batch,
  * after operator pushdown: a TopK rewrite placed in the main optimizer
  * batch fires before predicate pushdown and strands filters above it.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  private def info(name: String) =
    new ExpressionInfo("graft.functions", name)

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("simhash64"), info("simhash64"),
      (es: Seq[Expression]) => SimHash64(es.head)))
    e.injectFunction((FunctionIdentifier("rolling_min_hash"), info("rolling_min_hash"),
      (es: Seq[Expression]) => RollingMinHash(es.head,
        es(1).eval().asInstanceOf[Number].intValue())))
    e.injectFunction((FunctionIdentifier("cosine_sim"), info("cosine_sim"),
      (es: Seq[Expression]) => CosineSim(es.head, es(1))))
    e.injectFunction((FunctionIdentifier("minhash_sig"), info("minhash_sig"),
      (es: Seq[Expression]) => MinHashSig(es.head,
        es(1).eval().asInstanceOf[Number].intValue())))
    e.injectFunction((FunctionIdentifier("hyperplane_bucket"), info("hyperplane_bucket"),
      (es: Seq[Expression]) => HyperplaneBucket(es.head,
        es(1).eval().asInstanceOf[Number].intValue(),
        if (es.length > 2) es(2).eval().asInstanceOf[Number].intValue() else 0)))
    def intArg(ex: Expression): Int = ex.eval().asInstanceOf[Number].intValue()
    def strArrayArg(ex: Expression): Array[String] =
      ex.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toObjectArray(org.apache.spark.sql.types.StringType).map(_.toString)
    e.injectFunction((FunctionIdentifier("ngram_jaccard"), info("ngram_jaccard"),
      (es: Seq[Expression]) => NgramJaccard(es.head, es(1), intArg(es(2)))))
    e.injectFunction((FunctionIdentifier("shingle_jaccard"), info("shingle_jaccard"),
      (es: Seq[Expression]) => ShingleJaccard(es.head, es(1))))
    e.injectFunction((FunctionIdentifier("shingle_containment"), info("shingle_containment"),
      (es: Seq[Expression]) => ShingleContainment(es.head, es(1))))
    e.injectFunction((FunctionIdentifier("deflate_size"), info("deflate_size"),
      (es: Seq[Expression]) => DeflateSize(es.head)))
    e.injectFunction((FunctionIdentifier("bpe_merge_step"), info("bpe_merge_step"),
      (es: Seq[Expression]) => BpeMergeStep(es.head, es(1).eval().toString,
        es(2).eval().toString)))
    e.injectFunction((FunctionIdentifier("bpe_encode"), info("bpe_encode"),
      (es: Seq[Expression]) => BpeEncode(es.head, strArrayArg(es(1)), strArrayArg(es(2)))))
    e.injectFunction((FunctionIdentifier("minhash_agg"), info("minhash_agg"),
      (es: Seq[Expression]) => MinHashAgg(es.head, intArg(es(1)))))
    e.injectFunction((FunctionIdentifier("quantile_sketch"), info("quantile_sketch"),
      (es: Seq[Expression]) => QuantileSketchAgg(es.head,
        es(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toDoubleArray().toSeq,
        if (es.length > 2) intArg(es(2)) else 200)))
    e.injectPreCBORule(_ => graft.plans.RewriteTopK)
    e.injectPreCBORule(_ => graft.plans.RewriteAggToMv)
    e.injectPreCBORule(_ => graft.plans.RewriteExactView)
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
