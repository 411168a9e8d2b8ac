package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{HashEmbedder, TextAnalysis}

class HashEmbedderSpec extends AnyFunSuite {

  test("embedding has the configured dimension") {
    assert(HashEmbedder.embed("some text").length == HashEmbedder.Dim)
  }

  test("non-empty text embeds to a unit vector") {
    val v = HashEmbedder.embed("the quick brown fox")
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
  }

  test("embedding is deterministic") {
    assert(HashEmbedder.embed("abc def").toSeq == HashEmbedder.embed("abc def").toSeq)
  }

  test("different texts give different vectors") {
    assert(HashEmbedder.embed("alpha beta gamma").toSeq !=
      HashEmbedder.embed("delta epsilon zeta").toSeq)
  }

  test("empty text embeds to the zero vector") {
    assert(HashEmbedder.embed("").forall(_ == 0f))
  }

  test("similar texts are closer than dissimilar ones") {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val base = HashEmbedder.embed("spark sql query engine with joins")
    val near = HashEmbedder.embed("spark sql query engine with windows")
    val far = HashEmbedder.embed("cooking pasta requires salted water")
    assert(cos(base, near) > cos(base, far))
  }
}

class TextAnalysisScalaSpec extends AnyFunSuite with SparkTestSession {

  test("language ID identifies clear samples") {
    assert(TextAnalysis.detectLanguage("the cat and the dog are going to the park") == "en")
    assert(TextAnalysis.detectLanguage("la casa de la que hablamos es el lugar que queremos") == "es")
    assert(TextAnalysis.detectLanguage("le chien et le chat sont dans la maison de mon ami") == "fr")
    assert(TextAnalysis.detectLanguage("die Kinder spielen in einem schönen Garten und singen") == "de")
    assert(TextAnalysis.detectLanguage("今天天气很好我们去公园散步吧") == "zh")
    assert(TextAnalysis.detectLanguage("") == "und")
    assert(TextAnalysis.detectLanguage("12345 67890") == "und")
  }

  test("fingerprint is stable under whitespace normalization") {
    assert(TextAnalysis.fingerprint("hello   world") == TextAnalysis.fingerprint("hello world"))
    assert(TextAnalysis.fingerprint("Hello World") == TextAnalysis.fingerprint("hello  world"))
    assert(TextAnalysis.fingerprint("hello world") != TextAnalysis.fingerprint("hello worlds"))
  }

  test("simhash of identical texts is identical; near texts are close") {
    val a = TextAnalysis.simHash("the quick brown fox jumps over the lazy dog again and again")
    val b = TextAnalysis.simHash("the quick brown fox jumps over the lazy dog again and again")
    val c = TextAnalysis.simHash("the quick brown fox jumps over the lazy cat again and again")
    val d = TextAnalysis.simHash("completely unrelated content about database query optimization")
    def ham(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    assert(ham(a, b) == 0)
    assert(ham(a, c) < ham(a, d))
  }

  test("minhash signature estimates jaccard") {
    val s1 = TextAnalysis.wordShingles("a b c d e f g h i j k l m n o p", 3)
    val s2 = TextAnalysis.wordShingles("a b c d e f g h i j k l m n o q", 3)
    val sig1 = TextAnalysis.minHashSignaturePortable(s1, 128)
    val sig2 = TextAnalysis.minHashSignaturePortable(s2, 128)
    val exact = s1.toSet.intersect(s2.toSet).size.toDouble / s1.toSet.union(s2.toSet).size
    val est = sig1.zip(sig2).count { case (x, y) => x == y }.toDouble / 128
    assert(math.abs(est - exact) < 0.2, s"est=$est exact=$exact")
  }

  test("minhash identical signatures for identical shingle sets") {
    val s = TextAnalysis.wordShingles("one two three four five six", 2)
    assert(TextAnalysis.minHashSignaturePortable(s, 64).toSeq ==
      TextAnalysis.minHashSignaturePortable(s.reverse, 64).toSeq)
  }

  test("band hashes collide for identical signatures") {
    // the operators' band keys (Dedup.bandKeys): identical signatures share
    // every key; a signature differing in ONE slot differs in exactly the
    // band holding that slot
    import spark.implicits._
    val sig = TextAnalysis.minHashSignaturePortable(
      TextAnalysis.wordShingles("x y z w v u", 2), 64).toSeq
    val other = sig.updated(5, sig(5) + 1) // slot 5 lives in band 1 (4 slots per band)
    val keys = Seq(sig, sig, other).toDF("sig")
      .select(graft.operators.Dedup.bandKeys(
        org.apache.spark.sql.functions.col("sig"), 64, 16): _*)
      .collect().map(_.toSeq.map(_.asInstanceOf[String]))
    assert(keys(0).length == 16 && keys(0).distinct.length == 16)
    assert(keys(0) == keys(1))
    assert(keys(0).indices.filter(b => keys(0)(b) != keys(2)(b)) == Seq(1))
  }
}
