package perfbench

import java.nio.charset.StandardCharsets

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Dedup, QualityModel, Scale}

/** A seeded curation shard: clean documents plus planted exact copies,
  * near-duplicate families and junk documents, and the pass's target mix.
  */
final class Shard(seed: Long, pass: Int, nClean: Int) {
  private val r = new Random(seed * 1000003L + 7 * pass + 1)
  private def clean(topic: Int): String =
    Seq.fill(Text.pareto(r, 60, 1.5, 400) / 12 + 1)(Text.sentence(r, topic)).mkString(" ")

  private val cleanTexts = IndexedSeq.fill(nClean)(clean(r.nextInt(Text.NTopics)))
  private val nFamilies = nClean / 16
  /** Near-duplicates: one word replaced and two appended, per variant. */
  private val variants: Seq[(Int, String)] = (0 until nFamilies).flatMap { f =>
    Seq.fill(1 + r.nextInt(3)) {
      val ws = cleanTexts(f).split(" ")
      ws(1 + r.nextInt(ws.length - 1)) = Text.zipfWord(r)
      f -> (ws.mkString(" ") + " " + Text.words(r, r.nextInt(Text.NTopics), 2).mkString(" "))
    }
  }
  /** Exact copies of clean documents outside the families. */
  private val copies: Seq[(Int, String)] = Seq.fill(nClean / 20) {
    val i = nFamilies + r.nextInt(nClean - nFamilies)
    i -> cleanTexts(i)
  }
  private val junk = Seq.fill(nClean / 10)(Text.junkText(r, 40 + r.nextInt(120)))

  /** Texts in shuffled doc_id order; kinds: c(lean), v(ariant), x (copy), j(unk). */
  private val all: IndexedSeq[(String, Int, String)] =
    cleanTexts.zipWithIndex.map { case (t, i) => ("c", i, t) } ++
      variants.map { case (f, t) => ("v", f, t) } ++
      copies.map { case (i, t) => ("x", i, t) } ++
      junk.map(t => ("j", -1, t))
  private val ids: IndexedSeq[Long] = r.shuffle(all.indices.map(_.toLong + 1 + pass * 1000000L))
  val docs: IndexedSeq[(Long, String)] = all.indices.map(i => (ids(i), all(i)._3))
  def idsOf(kind: String): Seq[(Long, Int)] =
    all.indices.filter(all(_)._1 == kind).map(i => (ids(i), all(i)._2))
  def cleanId(i: Int): Long = ids(i)
  val families: Int = nFamilies

  /** The pass's target corpus: clean text from ten topics drawn for this pass. */
  val target: IndexedSeq[(Long, String)] = {
    val topics = IndexedSeq.fill(10)(r.nextInt(Text.NTopics))
    (0 until nClean / 4).map(i => (900000000L + i, clean(topics(r.nextInt(topics.size)))))
  }

  def bytes: Array[Byte] = (docs ++ target).mkString("\n").getBytes(StandardCharsets.UTF_8)
}

/** `curate`: one client runs a curation pass over a fresh seeded shard:
  * Dedup.exact -> Dedup.minHashLshPairsPortable -> Dedup.duplicateClustersStar
  * -> Scale.leakageSafeSplit -> QualityModel.trainCached for the pass's
  * target + QualityModel.scoreMargin filter -> Bpe.encodeCorpus (merges
  * learned once in set-up) -> Scale.packSequencesBy. The classifier trains on
  * every pass (each pass has its own target and pool), the tokenizer once.
  */
final class CurateWorkload(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import spark.implicits._

  val name = "curate"
  val itemUnit = "docs"
  val NClean = 600
  val Budget = 2048L
  val Shards = 4
  val TrainIters = 6
  val NMerges = 12
  /** Share of planted near-duplicate families that must end in one cluster. */
  val FamilyFloor = 0.75

  private var dir: String = _
  private var merges: Seq[(String, String)] = _
  private var vocab: Map[String, Int] = _

  def setup(dir: String): Unit = {
    this.dir = dir
    val r = new Random(seed * 31L + 11)
    val corpus = (0 until 1500).map(i => (i.toLong, Text.paragraph(r, r.nextInt(Text.NTopics))))
    inputs.add("tokenizer", corpus.mkString("\n").getBytes(StandardCharsets.UTF_8))
    (0 until 2).foreach(p => inputs.add(s"shard-$p", new Shard(seed, p, NClean).bytes))
    corpus.toDF("doc_id", "text").write.parquet(s"$dir/tokenizer")
    val docs = spark.read.parquet(s"$dir/tokenizer")
    merges = Bpe.learnMerges(docs, NMerges).map(m => (m._1, m._2))
    vocab = Bpe.vocabIds(Bpe.alphabet(docs), merges)
  }

  /** Distinct candidate pairs: the smallest output of the aggregations
    * keyed on (doc_a, doc_b) in the pair query's executed plan.
    */
  private def candidates(pairs: DataFrame): Long = {
    val aggs = Plans.nodes(pairs.queryExecution.executedPlan).collect {
      case a: BaseAggregateExec if a.groupingExpressions.map(_.references.head.name).toSet ==
        Set("doc_a", "doc_b") => Plans.metric(a, "numOutputRows")
    }
    if (aggs.isEmpty) 0L else aggs.min
  }

  def op(rec: OpRecord): Unit = {
    val pass = rec.seq
    val shard = new Shard(seed, pass, NClean)
    val base = s"$dir/pass$pass"
    shard.docs.toDF("doc_id", "text").write.parquet(s"$base/shard")
    shard.target.toDF("doc_id", "text").write.parquet(s"$base/target")

    var rawPairs: DataFrame = null
    val stages = rec.timed(tr, "curate", shard.docs.size) {
      val docs = spark.read.parquet(s"$base/shard")
      val target = spark.read.parquet(s"$base/target")
      // Frames read by more than one later stage are materialised once, as
      // a pipeline author would; the others are forced only when traced.
      val kept = tr.span("dedup.exact") {
        docs.join(Dedup.exact(docs).select(col("keep_doc_id").as("doc_id")),
          Seq("doc_id"), "left_semi").localCheckpoint()
      }
      rawPairs = Dedup.minHashLshPairsPortable(kept)
      val pairs = tr.span("dedup.pairs")(rawPairs.localCheckpoint())
      val clusters = tr.span("dedup.cluster")(tr.force(Dedup.duplicateClustersStar(pairs)))
      val split = tr.span("scale.split") {
        tr.force(Scale.leakageSafeSplit(kept, pairs, Seq("train" -> 0.9, "valid" -> 0.1), pass))
      }
      val train = tr.span("scale.split") {
        split.filter(col("split") === "train")
          .join(clusters.filter(col("doc_id") =!= col("cluster_id")).select("doc_id"),
            Seq("doc_id"), "left_anti")
          .select("doc_id", "text").localCheckpoint()
      }
      // Negatives: a quarter of the pool, about the size of the target.
      val w = tr.span("qualitymodel.train", always = true) {
        QualityModel.trainCached(target, train.filter(pmod(xxhash64(col("doc_id")), lit(4)) === 0),
          s"perfbench-$seed-$pass", iters = TrainIters)
      }
      // Keep the better-scoring half of the pool.
      val selected = tr.span("qualitymodel.score") {
        val scored = QualityModel.scoreMargin(train, w).localCheckpoint()
        val median = scored.stat.approxQuantile("margin_microsq", Array(0.5), 0.001).head
        tr.force(train.join(scored.filter(col("margin_microsq") >= median), Seq("doc_id"), "left_semi"))
      }
      val encoded = tr.span("bpe.encode")(tr.force(Bpe.encodeCorpus(selected, merges, vocab)))
      val bins = tr.span("scale.pack") {
        Scale.packSequencesBy(encoded, col("n_tokens"), Budget, Shards).collect()
      }
      (kept, pairs, clusters, split, selected, encoded, bins)
    }
    val (kept, pairs, clusters, split, selected, encoded, bins) = stages
    Checks.check(bins.nonEmpty && bins.map(_.getAs[Long]("n_docs")).sum > 0,
      s"pass $pass: nothing selected")
    val cands = candidates(rawPairs)
    rec.counters ++= Seq("dedup.candidate_pairs" -> cands.toDouble,
      "dedup.pair_yield" -> (if (cands > 0) pairs.count().toDouble / cands else 0.0))
    if (pass == warmupOps) rec.deferred = () => verify(shard, kept, clusters, split, selected, encoded, bins)
  }

  private def verify(shard: Shard, kept: DataFrame, clusters: DataFrame, split: DataFrame,
      selected: DataFrame, encoded: DataFrame, bins: Array[org.apache.spark.sql.Row]): Unit = {
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    val groups = shard.idsOf("x").groupBy(_._2).map { case (i, cs) => shard.cleanId(i) +: cs.map(_._1) }
    Checks.check(groups.forall(_.count(keptIds) == 1),
      "curate: Dedup.exact did not keep exactly one document of every planted copy group")

    val cluster = clusters.as[(Long, Long)].collect().toMap
    val members = shard.idsOf("v").groupBy(_._2).map { case (f, vs) =>
      f -> (shard.cleanId(f) +: vs.map(_._1))
    }
    val recovered = members.values.count { ids =>
      ids.forall(cluster.contains) && ids.map(cluster).distinct.size == 1
    }.toDouble / shard.families
    Checks.check(recovered >= FamilyFloor,
      f"curate: $recovered%.3f of near-duplicate families recovered, floor $FamilyFloor")

    val splitOf = split.select("doc_id", "split").as[(Long, String)].collect().toMap
    val straddling = cluster.groupBy(_._2).count { case (_, ms) => ms.keys.map(splitOf).toSet.size > 1 }
    Checks.check(straddling == 0, s"curate: $straddling clusters straddle the split")

    val manifest = Scale.packManifestBy(encoded, col("n_tokens"), Budget, Shards)
      .select("shard", "bin_id", "doc_id", "n_tokens").as[(Long, Long, Long, Long)].collect()
    val sel = selected.select("doc_id").as[Long].collect()
    Checks.check(manifest.length == sel.length && manifest.map(_._3).toSet == sel.toSet,
      s"curate: ${manifest.length} packed documents for ${sel.length} selected")
    val perBin = manifest.groupBy(m => (m._1, m._2))
    val overBudget = perBin.values.count { ds =>
      ds.map(_._4).sum - ds.maxBy(_._3)._4 >= Budget
    }
    Checks.check(overBudget == 0, s"curate: $overBudget bins overflow by more than their last document")
    val stats = bins.map(b => (b.getAs[Long]("shard"), b.getAs[Long]("bin_id")) ->
      (b.getAs[Long]("n_docs"), b.getAs[Long]("total_tokens"))).toMap
    Checks.check(stats == perBin.map { case (k, ds) => k -> (ds.length.toLong, ds.map(_._4).sum) },
      "curate: packSequencesBy bins disagree with the packing manifest")
  }

  /** Every pass must have trained: more than the one fingerprint job a
    * cache hit runs.
    */
  override def finish(): Unit = {
    val trains = tr.all.filter(_.name == "qualitymodel.train")
    trains.foreach { s =>
      val jobs = tr.attribution.of(s.id).jobs.sum
      Checks.check(jobs > 1, s"curate: quality model ran $jobs job(s) in a pass: a cache hit")
    }
  }

  override def describe: Map[String, Any] = Map(
    "clean_docs" -> NClean, "budget_tokens" -> Budget, "pack_shards" -> Shards,
    "train_iters" -> TrainIters, "bpe_merges" -> NMerges, "family_floor" -> FamilyFloor)
}
