package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump formatted physical plans for selected registry queries
  * so plan quality (PushedFilters, ReadSchema pruning, broadcast joins,
  * WholeStageCodegen spans) can be audited. Usage:
  *   runMain graft.PlanAudit <sfDir> [namePrefix ...]
  * Every argument after `sfDir` is a name PREFIX (a full query name
  * matches itself); matching queries print sorted by name. The printed
  * plans are normalised — expression ids, `plan_id`s, lambda variable
  * counters, closure (UDF) names, RDD ids and scratch paths are replaced by
  * placeholders — so the dumps of two commits diff cleanly:
  *   runMain graft.PlanAudit <sfDir> dedup_ > a.txt   (at commit A)
  *   runMain graft.PlanAudit <sfDir> dedup_ > b.txt   (at commit B)
  *   diff a.txt b.txt
  */
object PlanAudit {
  private val defaults = Seq("q1_pricing_summary", "q3_top_revenue_orders",
    "q5_revenue_by_nation", "s1_history_last10", "t4_knn_cosine",
    "dedup_embedding_cosine", "dedup_ngram_jaccard", "j3_dedup_gate",
    "o13_retention", "pretrain_corpus_pipeline", "j8_interval_enrich",
    "j9_range_window_auto", "bm25_topk", "mix_temperature_sample")

  /** Placeholder rewrites that make a plan string commit-independent. */
  private val rewrites: Seq[(String, String)] = Seq(
    "#\\d+L?" -> "#N",                              // expression ids
    "plan_id=\\d+" -> "plan_id=N",
    "(lambda \\w+?)_\\d+" -> "$1_N",                 // lambda variable counters
    "Lambda\\$\\d+/0x\\p{XDigit}+@\\p{XDigit}+" -> "Lambda", // closure (UDF) names
    "(?<=\\[)\\d+(?=\\] at )" -> "N",               // RDD ids in RDD scans
    "(?:file:)?(?:/tmp|/var/folders)/[^\\s,\\]\\)]*" -> "<tmp>") // scratch / checkpoint paths

  private def normalise(plan: String): String =
    rewrites.foldLeft(plan) { case (p, (re, to)) => p.replaceAll(re, to) }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val prefixes = if (args.length > 1) args.drop(1).toSeq else defaults
    val names = SparkEntry.queries.keys
      .filter(n => prefixes.exists(n.startsWith)).toSeq.sorted
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
      println(normalise(qe.explainString(ExplainMode.fromString("formatted"))))
    }
    spark.stop()
  }
}
