package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Ann
import java.nio.file.Files

/** Adversarial hot-bucket coverage for the distributed ANN joins (r16
  * verdict "What's missing" #1 / r17 brief #3): one cell/signature
  * holding ≥20% of the corpus — the ANN analog of the MinHash hub — and
  * the salted join must (a) return results ROW-IDENTICAL to the
  * unsalted plan (the guard redistributes, it never caps: top-k
  * semantics survive, including inside the hot bucket), and (b) split
  * the hot key into salt sub-buckets whose per-key occupancy is bounded
  * by ~cap, so the candidate explosion lands on many shuffle partitions
  * instead of one. The DedupScaleSpec discipline applied to the ANN
  * tier.
  */
class AnnSkewSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  // 500 vectors, 16-dim: 20% sit in a tight cluster around one
  // direction (one dense semantic cluster → one hot cell); the rest
  // spread over deterministic pseudo-random directions.
  private val dim = 16
  private lazy val corpus = {
    val rows = (0L until 500L).map { i =>
      val v =
        if (i < 100) Array.tabulate(dim)(j =>
          1.0f + (if (j == (i % dim).toInt) 0.001f * (i % 7 + 1) else 0.0f))
        else Array.tabulate(dim) { j =>
          val h = scala.util.hashing.MurmurHash3.productHash((i, j))
          (h % 1000) / 500.0f
        }
      (i, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("ivfJoin: salted plan equals unsalted row-for-row under a 20% hot cell") {
    val (centroids, assigned) = Ann.buildIvf(spark, corpus, nCells = 8, maxIter = 3)
    val dir = Files.createTempDirectory("graft_skew_ivf").toString
    Ann.writeCellPartitioned(corpus, centroids, dir)
    // the fixture must actually be adversarial: some cell holds >=20%
    val occ = assigned.groupBy("cell").count().as[(Int, Long)].collect().toMap
    val hotOcc = occ.values.max
    assert(hotOcc >= 100, s"fixture not skewed: max cell occupancy $hotOcc")

    val qs = corpus.filter($"vec_id" % 5 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "sim")
        .as[(Long, Int, Long, Double)].collect().toSet
    val unsalted = rows(Ann.ivfJoin(spark, dir, qs, centroids, k = 5,
      Ann.CellProbe.Nearest(nProbe = 2), hotKeyCap = 0))
    val salted = rows(Ann.ivfJoin(spark, dir, qs, centroids, k = 5,
      Ann.CellProbe.Nearest(nProbe = 2), hotKeyCap = 16, maxSalt = 8))
    assert(salted == unsalted,
      "salting must not change any result row — hot-cell queries included")
    assert(salted.nonEmpty)
    // raw doubles included: the same (query, candidate) pairs were
    // scored by the same expression, so even ties resolve identically
    val mem = rows(Ann.ivfTopK(qs, assigned, centroids, k = 5, nProbe = 2))
    assert(salted == mem, "salted join must equal the in-memory probe")
  }

  test("ivfJoin salting bounds per-(cell,salt) occupancy to ~cap") {
    val (centroids, _) = Ann.buildIvf(spark, corpus, nCells = 8, maxIter = 3)
    val dir = Files.createTempDirectory("graft_skew_bound").toString
    Ann.writeCellPartitioned(corpus, centroids, dir)
    val cap = 16
    val maxSalt = 64
    // Reconstruct the guard's assignment through the PRODUCTION
    // expressions (Ann.hotKeys / Ann.corpusSalt — the same columns
    // saltedKeyJoin builds, so a future formula change cannot decouple
    // this bound from the plan it certifies) and assert the
    // per-shuffle-key corpus occupancy: every (cell, salt) group lands
    // under ~2x cap (slack for xxhash64 imbalance at small n) instead
    // of the hot cell's hundreds.
    val layout = spark.read.parquet(dir)
    val salted = layout
      .join(Ann.hotKeys(layout, "cell", cap, maxSalt), Seq("cell"), "left")
      .withColumn("salt", Ann.corpusSalt)
    val maxGroup = salted.groupBy("cell", "salt").count()
      .agg(max("count")).as[Long].head()
    val hotOcc = layout.groupBy("cell").count().agg(max("count")).as[Long].head()
    assert(hotOcc > 4 * cap, s"fixture not skewed enough to test the bound ($hotOcc)")
    assert(maxGroup <= 2L * cap,
      s"per-(cell,salt) occupancy $maxGroup exceeds 2x cap=$cap")
  }

  test("salted joins refuse maxSalt < 1 (null corpus salts would drop hot candidates)") {
    // pmod(x, 0) is null under non-ANSI eval: a zero nsalt would
    // silently drop every hot-bucket candidate — the guard must fail
    // loudly at construction instead.
    val (centroids, _) = Ann.buildIvf(spark, corpus, nCells = 8, maxIter = 3)
    val dir = Files.createTempDirectory("graft_skew_guard").toString
    Ann.writeCellPartitioned(corpus, centroids, dir)
    val qs = corpus.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    val e = intercept[IllegalArgumentException] {
      Ann.ivfJoin(spark, dir, qs, centroids, k = 5,
        Ann.CellProbe.Nearest(nProbe = 2), hotKeyCap = 16, maxSalt = 0)
    }
    assert(e.getMessage.contains("maxSalt"))
  }

  test("lshJoin: salted plan equals unsalted row-for-row under a hot signature") {
    // the 20%-cluster hashes to one murmur signature bucket — the
    // degenerate-signature case
    val dir = Files.createTempDirectory("graft_skew_lsh").toString
    Ann.writeSignaturePartitioned(corpus, dir, Ann.LshProbe.Ball(nBits = 8))
    val occ = spark.read.parquet(dir).groupBy("sig").count()
      .agg(max("count")).as[Long].head()
    assert(occ >= 100, s"fixture not skewed: max sig occupancy $occ")
    val qs = corpus.filter($"vec_id" % 5 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "sim")
        .as[(Long, Int, Long, Double)].collect().toSet
    val ball2 = Ann.LshProbe.Ball(nBits = 8, probeBits = 2)
    val unsalted = rows(Ann.lshJoin(spark, dir, qs, k = 5, ball2, hotKeyCap = 0))
    val salted = rows(Ann.lshJoin(spark, dir, qs, k = 5, ball2,
      hotKeyCap = 16, maxSalt = 8))
    assert(salted == unsalted,
      "salting must not change any result row — hot-bucket queries included")
    assert(salted.nonEmpty)
  }

  test("ivfPqJoin: salted plan equals unsalted row-for-row under the hot cell") {
    val (centroids, _) = Ann.buildIvf(spark, corpus, nCells = 8, maxIter = 3)
    val books = Ann.trainPqCodebooks(corpus, m = 4, dsub = 4, kStar = 8, maxIter = 3)
    val dir = Files.createTempDirectory("graft_skew_ivfpq").toString
    Ann.writeIvfPqPartitioned(corpus, centroids, books, dir)
    val qs = corpus.filter($"vec_id" % 5 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "vec_id", "adc_dist")
        .as[(Long, Int, Long, Double)].collect().toSet
    val unsalted = rows(Ann.ivfPqJoin(spark, dir, qs, centroids, books,
      k = 5, Ann.CellProbe.Nearest(nProbe = 2), hotKeyCap = 0))
    val salted = rows(Ann.ivfPqJoin(spark, dir, qs, centroids, books,
      k = 5, Ann.CellProbe.Nearest(nProbe = 2), hotKeyCap = 16, maxSalt = 8))
    assert(salted == unsalted,
      "salting must not change any result row of the PQ join")
    assert(salted.nonEmpty)
  }
}
