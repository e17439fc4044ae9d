package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.plans.{MvCatalog, ViewCatalog}

/** A query's plan must not depend on which queries ran before it in the
  * JVM. The MV demos are the rows that register optimizer state (their
  * summaries), so every row they could influence — each row whose
  * committed baseline plans a TopKPerGroupExec, and each row that
  * aggregates lineitem, the demos' fact table — must plan identically
  * before and after the demos run, and the demos must leave both
  * catalogs empty.
  */
class PlanOrderSpec extends SparkSpec {

  private val demos = Seq("q_mv_rewrite", "q_mv_rollup_rewrite", "q_mv_star_rewrite")

  /** Pre-order physical node names (through AQE's initial plan and into
    * subqueries); a file scan also names what it reads — a corpus table,
    * or `<elsewhere>` for anything outside the corpus such as an MV.
    */
  private def signature(df: DataFrame): Seq[String] = {
    val corpus = new java.io.File(sf).getAbsolutePath
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
      case s: FileSourceScanExec =>
        Seq(s.relation.location.rootPaths.map { r =>
          val path = r.toUri.getPath
          if (path.startsWith(corpus)) path.stripPrefix(corpus) else "<elsewhere>"
        }.mkString(s"${s.nodeName}(", ",", ")"))
      case o => o.nodeName +: (o.children ++ o.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  private def aggregatesLineitem(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case a: Aggregate => a.exists {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation =>
            h.location.rootPaths.exists(_.getName == "lineitem.parquet")
          case _ => false
        }
        case _ => false
      }
      case _ => false
    }

  private def baselineTopKRows: Set[String] = {
    val f = new java.io.File("PLAN_BASELINE.json")
    assert(f.exists, s"no PLAN_BASELINE.json under ${f.getAbsoluteFile.getParent}")
    val plans = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    plans.fieldNames().asScala.filter(plans.get(_).path("topk_exec").asLong(0L) > 0L).toSet
  }

  test("MV demos leave the catalogs empty and change no other row's plan") {
    // the catalogs are process-wide: start from empty so the checks below
    // see only what the demos leave behind
    MvCatalog.clear()
    ViewCatalog.clear()
    val topk = baselineTopKRows
    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => demos.contains(name) }
    val before = rows.flatMap { case (name, fn) =>
      val df = fn(spark, sf)
      if (topk(name) || aggregatesLineitem(df)) Some(name -> signature(df)) else None
    }.toMap
    assert(topk.nonEmpty && topk.subsetOf(before.keySet), s"baseline TopK rows: $topk")
    assert(before.keys.exists(n => !topk(n)), "no lineitem aggregate among the rows")

    demos.foreach { name =>
      val demo = SparkEntry.queries(name)(spark, sf)
      assert(MvCatalog.isEmpty && ViewCatalog.isEmpty, s"$name left a catalog entry")
      // the rewrite still fired while the demo's entry was registered
      val sig = signature(demo)
      assert(sig.exists(_.contains("<elsewhere>")) && !sig.exists(_.contains("lineitem")),
        s"$name does not read its MV: $sig")
      assert(demo.count() > 0)
    }

    val changed = before.toSeq.sortBy(_._1).collect {
      case (name, sig) if signature(SparkEntry.queries(name)(spark, sf)) != sig => name
    }
    assert(changed.isEmpty, s"plans changed after the MV demos ran: ${changed.mkString(", ")}")
  }
}
