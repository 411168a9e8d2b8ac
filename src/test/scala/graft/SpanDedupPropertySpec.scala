package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.Dedup

/** Property check for [[Dedup.repeatedSpanDedup]] against an independent
  * in-memory reference: over random corpora drawn from a small token
  * vocabulary (so cross-document k-gram collisions are common), the
  * distributed gram-rank plan must agree with the obvious sequential
  * rule — iterate documents by id and window starts by position; a
  * window whose lowercased gram was seen before marks its k token
  * positions covered; a token survives iff no covering window. The
  * incremental form (a standing corpus gram index) must leave each batch
  * doc exactly as the rule over corpus ++ batch does. Same harness style
  * as LineDedupPropertySpec, deterministic seeds.
  */
class SpanDedupPropertySpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val K = 3

  // mixed case exercises the lowercased matching + original-case output
  private val tokenVocab = Vector(
    "alpha", "Alpha", "beta", "gamma", "Delta", "epsilon", "zeta")

  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    nDocs <- Gen.chooseNum(1, 8)
    docs <- Gen.sequence[Seq[Seq[String]], Seq[String]](
      Seq.fill(nDocs)(Gen.chooseNum(1, 10).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf(tokenVocab)).map(_.toSeq))))
  } yield docs.zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }

  private def reference(
      docs: Seq[(Long, String)], k: Int): Map[Long, (Long, Long, String)] = {
    val toks = docs.sortBy(_._1)
      .map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
    val seen = scala.collection.mutable.Set.empty[String]
    toks.map { case (id, ts) =>
      val cov = scala.collection.mutable.Set.empty[Int]
      if (ts.length >= k) {
        for (s <- 0 to ts.length - k) {
          val gram = ts.slice(s, s + k).map(_.toLowerCase).mkString(" ")
          if (!seen.add(gram)) (s until s + k).foreach(cov += _)
        }
      }
      val kept = ts.zipWithIndex.collect { case (t, i) if !cov.contains(i) => t }
      id -> ((ts.length.toLong, kept.length.toLong, kept.mkString(" ")))
    }.toMap
  }

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, String)] =
    df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_toks"), r.getAs[Long]("n_kept"),
          r.getAs[String]("cleaned_text"))))
      .toMap

  test("span dedup equals the sequential first-occurrence window rule") {
    (1 to 12).foreach { seed =>
      val docs = corpusGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val expect = reference(docs, K)
      val got = asMap(Dedup.repeatedSpanDedup(docs.toDF("doc_id", "text"), k = K))
      assert(got == expect, s"\nseed $seed corpus: $docs")
      // incremental form: docs below a seeded cut are the standing corpus
      // (as its gram index), the rest the batch — the batch docs must
      // come out exactly as the rule over the whole corpus leaves them
      val cut = Gen.chooseNum(0L, docs.size.toLong)
        .pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val (corpus, batch) = docs.partition(_._1 < cut)
      val inc = asMap(Dedup.repeatedSpanDedup(batch.toDF("doc_id", "text"), k = K,
        corpusIndex = Some(Dedup.gramIndex(corpus.toDF("doc_id", "text"), K))))
      assert(inc == expect.filter(_._1 >= cut), s"\nseed $seed cut $cut corpus: $docs")
    }
  }
}
