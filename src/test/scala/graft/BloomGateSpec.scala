package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Bloom-gated incremental dedup: EXACT equality with the plain anti-join
  * on both verify paths, stats invariants, the false-positive-verification
  * guarantee (no new row is ever dropped, no dup ever survives), and the
  * no-history-shuffle plan shape of the broadcast verify path.
  */
class BloomGateSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  /** history: keys 0..4999 (as strings, with payload); batch: 2000 rows,
    * half dup keys (0..999), half novel (10000..10999). */
  private lazy val history =
    spark.range(5000).select(
      concat(lit("k"), col("id")).as("key"),
      (col("id") * 7).as("payload"))
  private lazy val batch =
    spark.range(2000).select(
      concat(lit("k"), when(col("id") < 1000, col("id"))
        .otherwise(col("id") + 9000)).as("key"),
      (col("id") + 100000).as("payload"))

  private def oracle(h: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    b.join(h.select(keys.map(col): _*), keys, "left_anti")

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assert(a.count() == b.count())
  }

  test("broadcast-verify path equals the plain anti-join exactly") {
    val (out, st) = Dedup.bloomGate(history, batch, Seq("key"), fpp = 0.01)
    assertSameRows(out, oracle(history, batch, Seq("key")))
    assert(st.historyRows == 5000 && st.batchRows == 2000)
    assert(st.bloomNegatives + st.candidates == st.batchRows)
    assert(st.confirmedDups + st.falsePositives == st.candidates)
    // all 1000 true dups are confirmed and dropped
    assert(st.confirmedDups == 1000)
    // fp rate over the 1000 novel rows stays in the fpp=0.01 regime
    assert(st.falsePositives <= 100, s"fp=${st.falsePositives}")
    // the definite-new fast path carried most of the novel rows
    assert(st.bloomNegatives >= 900, s"negatives=${st.bloomNegatives}")
  }

  test("shuffle-fallback verify path (maxBroadcastKeys=0) is also exact") {
    val (out, _) = Dedup.bloomGate(history, batch, Seq("key"), fpp = 0.01,
      maxBroadcastKeys = 0L)
    assertSameRows(out, oracle(history, batch, Seq("key")))
  }

  test("composite key: verification joins on real columns, not the hash") {
    val h = Seq((1L, "a", 10), (1L, "b", 11), (2L, "a", 12)).toDF("k1", "k2", "v")
    val b = Seq((1L, "a", 90), (1L, "c", 91), (2L, "b", 92), (3L, "a", 93))
      .toDF("k1", "k2", "v")
    val (out, st) = Dedup.bloomGate(h, b, Seq("k1", "k2"), fpp = 0.01)
    assertSameRows(out, oracle(h, b, Seq("k1", "k2")))
    assert(st.confirmedDups == 1)
    assert(out.count() == 3)
  }

  test("empty history admits the whole batch") {
    val (out, _) = Dedup.bloomGate(history.filter(lit(false)), batch, Seq("key"))
    assertSameRows(out, batch)
  }

  test("a stale expectedHistoryKeys=0 is rejected, never a silent dedup skip") {
    // The sizing hint must not become a correctness hinge: Some(0) on a
    // non-empty history used to return the batch unchanged.
    val e = intercept[IllegalArgumentException] {
      Dedup.bloomGate(history, batch, Seq("key"), fpp = 0.01,
        expectedHistoryKeys = Some(0L))
    }
    assert(e.getMessage.contains("expectedHistoryKeys"))
  }

  test("null keys never match (NOT-EXISTS semantics), like the anti-join") {
    val h = Seq(Some("x"), None).toDF("key")
    val b = Seq(Some("x"), Some("y"), None).toDF("key")
    val (out, _) = Dedup.bloomGate(h, b, Seq("key"))
    assertSameRows(out, oracle(h, b, Seq("key")))
    // null-key batch row survives even though history also has a null
    assert(out.filter(col("key").isNull).count() == 1)
    assert(out.filter(col("key") === "x").count() == 0)
  }

  test("bloom sizing honors the requested fpp at 10M keys (no maxNumBits cap)") {
    // stat.bloomFilter routes through BloomFilterAggregate, whose bit
    // count is clamped at 2^26 by default — at 10M keys that silently
    // degrades fpp to ~0.11. buildBloom must report the OPTIMAL sizing.
    val hashes = spark.range(10000000L).select(xxhash64(col("id")).as("h"))
    val bf = Dedup.buildBloom(hashes, 10000000L, 0.01)
    assert(bf.bitSize() > (1L << 26), s"bits=${bf.bitSize()} — capped")
    assert(bf.expectedFpp() <= 0.02, s"expectedFpp=${bf.expectedFpp()}")
  }

  test("broadcast-verify path never sort-merge-joins (history not shuffled)") {
    val (out, _) = Dedup.bloomGate(history, batch, Seq("key"), fpp = 0.01)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}
