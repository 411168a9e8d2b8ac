package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.Dedup

/** Property check for [[Dedup.crossDocLineDedup]] against an independent
  * in-memory reference: over random corpora drawn from a small line
  * vocabulary (so cross-document collisions are common), the distributed
  * window-rank plan must agree with the obvious sequential rule —
  * iterate documents by id, lines by position, keep a line iff its text
  * was never seen before anywhere in the corpus. The incremental form
  * (a standing corpus line index) must leave each batch doc exactly as
  * the rule over corpus ++ batch does. Deterministic seeds, same harness
  * style as Bm25PropertySpec.
  */
class LineDedupPropertySpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val lineVocab = Vector(
    "COPYRIGHT 2024", "ALL RIGHTS RESERVED", "cookie notice",
    "alpha content", "beta content", "gamma content", "delta content",
    "some unique musing", "another paragraph", "")

  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    nDocs <- Gen.chooseNum(1, 8)
    docs <- Gen.sequence[Seq[Seq[String]], Seq[String]](
      Seq.fill(nDocs)(Gen.chooseNum(1, 6).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf(lineVocab)).map(_.toSeq))))
  } yield docs.zipWithIndex.map { case (ls, i) => (i.toLong, ls.mkString("\n")) }

  private def reference(docs: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
    val seen = scala.collection.mutable.Set.empty[String]
    docs.sortBy(_._1).map { case (id, text) =>
      val lines = text.split("\n", -1).toSeq // -1: keep trailing empties, like Spark's split
      val kept = lines.filter(l => seen.add(l))
      id -> ((lines.size.toLong, kept.size.toLong, kept.mkString("\n")))
    }.toMap
  }

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, String)] =
    df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"),
          r.getAs[String]("cleaned_text"))))
      .toMap

  test("cross-doc line dedup equals the sequential first-occurrence rule") {
    (1 to 12).foreach { seed =>
      val docs = corpusGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val expect = reference(docs)
      val got = asMap(Dedup.crossDocLineDedup(docs.toDF("doc_id", "text")))
      assert(got == expect, s"\nseed $seed corpus: $docs")
      // incremental form: docs below a seeded cut are the standing corpus
      // (as its line index), the rest the batch — the batch docs must
      // come out exactly as the rule over the whole corpus leaves them
      val cut = Gen.chooseNum(0L, docs.size.toLong)
        .pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val (corpus, batch) = docs.partition(_._1 < cut)
      val inc = asMap(Dedup.crossDocLineDedup(batch.toDF("doc_id", "text"),
        Some(Dedup.lineIndex(corpus.toDF("doc_id", "text")))))
      assert(inc == expect.filter(_._1 >= cut), s"\nseed $seed cut $cut corpus: $docs")
    }
  }
}
