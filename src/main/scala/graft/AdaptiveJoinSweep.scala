package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Diagnostic sweep for the `ann_ivf_join_adaptive` operating point
  * (the [[AnnRuleSweep]] precedent): for a (nProbeMax, ratio) grid at a
  * given SF, measure the mean per-query probe count and the recall@k vs
  * the exact brute force, alongside the fixed-nProbe join's. The
  * adopted point lives in [[operators.Ann.IvfJoinAdaptiveProbeMax]] /
  * [[operators.Ann.IvfJoinAdaptiveRatio]].
  */
object AdaptiveJoinSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = Tables.embeddings(spark, sfDir)
    val (centroids, _) =
      operators.Ann.buildIvfCached(spark, emb, cacheKey = sfDir, nCells = 8, maxIter = 3)
    val layout = operators.Ann.cellLayout(spark, emb,
      new java.io.File(sys.props("java.io.tmpdir"), "graft_ann_layouts").getAbsolutePath,
      centroids)
    val qs = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val k = 5
    val exact = operators.Retrieval.knnJoin(qs, emb, k = k)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.count(got.contains).toDouble / exact.size
    }
    for (np <- Seq(3, 4, 5)) {
      val fixed = recallOf(
        operators.Ann.ivfJoin(spark, layout, qs, centroids, k = k,
          operators.Ann.CellProbe.Nearest(nProbe = np)))
      println(f"fixed nProbe=$np: recall=$fixed%.3f probes=$np.000")
    }
    for (nMax <- Seq(4, 5, 6); ratio <- Seq(1.25, 1.5, 2.0, 3.0)) {
      val probes = qs.select(size(expressions.VectorExpressions
          .ivfCellProbesAdaptive(col("q_embedding"), centroids, nMax, ratio)).as("n"))
        .agg(avg("n")).head().getDouble(0)
      val rec = recallOf(operators.Ann.ivfJoin(spark, layout, qs, centroids, k = k,
        operators.Ann.CellProbe.Adaptive(nProbeMax = nMax, ratio = ratio)))
      println(f"nMax=$nMax ratio=$ratio%.2f: recall=$rec%.3f probes=$probes%.3f")
    }
    spark.stop()
  }
}
