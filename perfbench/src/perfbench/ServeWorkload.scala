package perfbench

import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.functions.HashEmbedder
import graft.operators.{Ann, Ingest, Rag, Retrieval, Sessions, Store, TextRetrieval}

/** `serve`: two client threads share one SparkSession and send batches of
  * 16 questions in a closed loop of rounds (both clients send the same
  * operation type together), cycling through three operation types:
  *
  *  - `chat`: Rag.chatPipeline (history window, exact cosine kNN, context,
  *    answer, parse);
  *  - `hybrid`: Rag.chatPipelineHybrid (adds BM25 and RRF fusion);
  *  - `probe`: HashEmbedder -> Ann.ivfPqTopKVersioned -> Retrieval.stuffContext.
  *
  * Set-up builds the chunk store and the versioned IVF-PQ root through the
  * ingest path itself (two upload batches and one tombstone delete), so a
  * change to the write-side layout shows up here as read cost. Questions come
  * from a seeded user population with Zipf activity; about a third repeat or
  * paraphrase a popular question.
  */
final class ServeWorkload(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import spark.implicits._

  val name = "serve"
  val itemUnit = "questions"
  override val clients = 2
  val BatchSize = 16
  val Kinds = Seq("chat", "hybrid", "probe")
  override val opTypes = Kinds.size
  val NProbe = 4
  val RecallK = 10
  /** Recall@10 floor of the IVF-PQ probe against brute-force cosine. */
  val RecallFloor = 0.25
  private val Emotions = Set("happy", "explaining", "thinking", "encouraging", "neutral")

  private var st: DocStore = _
  private var chunks: DataFrame = _
  private var logs: DataFrame = _
  private var ids: Array[Long] = _
  private var texts: Array[String] = _
  private var embs: Array[Array[Float]] = _
  private var deleted: Set[Long] = Set.empty
  private var pool: IndexedSeq[String] = _
  private var userCum: Array[Double] = _
  private val compared = mutable.Set.empty[String]
  private var recall = 0.0

  private val uploads = mutable.ArrayBuffer.empty[OpRecord]

  override def setupOps: Seq[OpRecord] = uploads.toSeq

  def setup(dir: String): Unit = {
    compared.clear()
    uploads.clear()
    val model = IngestPath.trainIndex(spark, s"$dir/train", seed, inputs)
    st = new DocStore(s"$dir/store", model)
    val gen = new UploadGen(seed + 17, size = 48)
    (0 until 2).foreach { b =>
      val batch = new IngestPath.Batch(b, s"$dir/uploads/b$b", gen.batch(b))
      batch.files.foreach(f => inputs.add(f.name, f.bytes))
      batch.write()
      val rec = new OpRecord(0, b, "setup")
      rec.timed(tr, "upload", batch.files.size)(IngestPath.run(spark, tr, st, batch))
      val t = System.nanoTime()
      if (checkSetup) rec.counters ++= IngestPath.verify(spark, st, batch)
      else batch.loaded.unpersist()
      setupCheckNs += System.nanoTime() - t
      uploads += rec
    }
    // One tombstone delete: every chunk of one document in twenty.
    val victims = spark.read.parquet(st.chunks).filter(pmod(col("file_id"), lit(20)) === 3)
      .select("vec_id").as[Long].collect().toSeq
    deleted = victims.toSet
    Ann.ivfPqDeleteByKey(spark, st.index, victims.toDF("vec_id"))
    Store.overwriteWith(spark,
      Store.deleteByKey(spark.read.parquet(st.chunks), "vec_id", victims.toDF("vec_id")),
      st.chunks)
    chunks = spark.read.parquet(st.chunks)
      .select(col("vec_id"), col("embedding"), col("chunk_text").as("text"))
    val live = chunks.orderBy("vec_id").collect()
    ids = live.map(_.getLong(0))
    embs = live.map(_.getSeq[Float](1).toArray)
    texts = live.map(_.getString(2))

    val r = new Random(seed * 31L + 3)
    val nUsers = 300
    val w = (1 to nUsers).map(u => 1.0 / math.pow(u, 1.1))
    userCum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val events = (0 until 3000).map { i =>
      (user(r), new java.sql.Timestamp(t0 + r.nextInt(30 * 86400) * 1000L), i.toLong,
        Text.words(r, r.nextInt(Text.NTopics), 3 + r.nextInt(4)).mkString(" "), "{}")
    }
    events.toDF("user_id", "ts", "event_id", "event_type", "props").write.parquet(s"$dir/logs")
    logs = spark.read.parquet(s"$dir/logs")
    pool = (0 until 300).map(_ => fromChunk(r))
    inputs.add("logs", events.mkString("\n").getBytes(StandardCharsets.UTF_8))
    inputs.add("pool", pool.mkString("\n").getBytes(StandardCharsets.UTF_8))
    for (c <- 0 until clients; s <- 0 until 3)
      inputs.add(s"q-$c-$s", batch(c, s).mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  private def user(r: Random): Long = {
    val i = java.util.Arrays.binarySearch(userCum, r.nextDouble())
    (if (i >= 0) i else -i - 1).toLong + 1
  }

  /** A question made of a word window of a random live chunk. */
  private def fromChunk(r: Random): String = {
    val ws = texts(r.nextInt(texts.length)).toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty)
    val n = math.min(ws.length, 5 + r.nextInt(5))
    val from = r.nextInt(math.max(1, ws.length - n + 1))
    ws.slice(from, from + n).mkString(" ")
  }

  /** Questions of batch `s` of client `c`: (query_id, user_id, question). */
  private def batch(c: Int, s: Int): Seq[(Long, Long, String)] = {
    val r = new Random(seed * 1000003L + c * 7919L + s)
    (0 until BatchSize).map { j =>
      val u = r.nextDouble()
      val q =
        if (u < 0.2) pool(math.min(pool.size - 1, (pool.size * math.pow(r.nextDouble(), 3)).toInt))
        else if (u < 0.35) r.shuffle(pool(r.nextInt(pool.size)).split(" ").toSeq).mkString(" ")
        else fromChunk(r)
      // query ids stay clear of every vec_id (the probe drops vec_id == query_id)
      (5000000000000L + c * 100000000L + s * 1000L + j, user(r), q)
    }
  }

  // ------------------------------------------------------------ reference

  private def cosine(q: Array[Float], v: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < q.length) {
      val x = q(i).toDouble; val y = v(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** Brute-force top-k (index, similarity), similarity desc then vec_id. */
  private def bruteTopK(question: String, k: Int): Seq[(Int, Double)] = {
    val q = HashEmbedder.embed(question)
    embs.indices.map(i => (i, cosine(q, embs(i))))
      .sortBy { case (i, s) => (-s, ids(i)) }.take(k + 1)
  }

  // ------------------------------------------------------------ operations

  def op(rec: OpRecord): Unit = {
    val kind = Kinds(rec.seq % Kinds.size)
    val qs = batch(rec.client, rec.seq)
    val q = qs.toDF("query_id", "user_id", "question")
    kind match {
      case "probe" => probe(rec, q, qs)
      case _ =>
        val hybrid = kind == "hybrid"
        val rows = rec.timed(tr, kind, qs.size) {
          if (tr.enabled) composed(q, hybrid)
          else (if (hybrid) Rag.chatPipelineHybrid(q, logs, chunks) else Rag.chatPipeline(q, logs, chunks))
            .collect().map(r => (r, false))
        }
        if (tr.enabled && compared.synchronized(compared.add(kind))) {
          val direct = (if (hybrid) Rag.chatPipelineHybrid(q, logs, chunks)
            else Rag.chatPipeline(q, logs, chunks)).collect().map(_.toSeq).sortBy(_.head.toString)
          Checks.check(direct.sameElements(rows.map(_._1.toSeq).sortBy(_.head.toString)),
            s"$kind: traced composition differs from the Rag pipeline")
        }
        checkAnswers(kind, qs, rows.map(_._1))
        rec.counters("rag.parse_fallbacks") = rows.count(_._2).toDouble
        rec.counters("retrieval.pairs_scored") = qs.size.toDouble * ids.length
    }
  }

  /** Rag's stage functions composed one span per layer, each output forced. */
  private def composed(q: DataFrame, hybrid: Boolean): Array[(Row, Boolean)] = {
    val llm = Rag.DeterministicLlm
    val history = tr.span("sessions.history") {
      tr.force(Sessions.lastNPerSession(logs, 10)
        .groupBy("user_id")
        .agg(concat_ws("\n", transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          s => s.getField("event_type"))).as("history")))
    }
    val reformulated = tr.span("rag.reformulate") {
      val reformulate = udf((h: String, question: String) =>
        llm.reformulate(Option(h).toSeq.flatMap(_.split("\n")), question))
      tr.force(q.filter(Ingest.validQuery(col("question")))
        .join(history, Seq("user_id"), "left")
        .withColumn("history", coalesce(col("history"), lit("")))
        .withColumn("standalone_question", reformulate(col("history"), col("question"))))
    }
    val embedded = tr.span("embedder.embed") {
      tr.force(reformulated.withColumn("q_embedding", HashEmbedder.embedCol(col("standalone_question"))))
    }
    val queries = embedded.select(col("query_id"), col("q_embedding"))
    val retrieved =
      if (!hybrid) tr.span("retrieval.knn") {
        tr.force(Retrieval.knnJoin(queries, chunks, 2)
          .join(chunks.select(col("vec_id"), col("text")), "vec_id"))
      } else {
        val lex = tr.span("textretrieval.bm25") {
          tr.force(TextRetrieval.bm25TopK(
            chunks.select(col("vec_id").as("doc_id"), col("text")),
            embedded.select(col("query_id"), col("standalone_question").as("qtext")), k = 20)
            .select("query_id", "doc_id", "rank"))
        }
        val sem = tr.span("retrieval.knn") {
          tr.force(Retrieval.knnJoin(queries, chunks, 20)
            .select(col("query_id"), col("vec_id").as("doc_id"), col("rank")))
        }
        tr.span("textretrieval.fusion") {
          tr.force(TextRetrieval.hybridTopK(lex, sem, 2)
            .select(col("query_id"), col("doc_id").as("vec_id"), col("rank"))
            .join(chunks.select(col("vec_id"), col("text")), "vec_id"))
        }
      }
    val contexts = tr.span("retrieval.stuff")(tr.force(Retrieval.stuffContext(retrieved)))
    tr.span("rag.answer") {
      val answer = udf((ctx: String, question: String) => llm.answer(Option(ctx).getOrElse(""), question))
      embedded.join(contexts, Seq("query_id"), "left")
        .withColumn("context", coalesce(col("context"), lit("")))
        .withColumn("raw_response", answer(col("context"), col("standalone_question")))
        .withColumn("parsed", Retrieval.parseLlmResponse(col("raw_response")))
        .select(
          col("query_id"), col("user_id"), col("question"),
          col("standalone_question"), col("context"),
          col("parsed.answer").as("answer"), col("parsed.emotion").as("emotion"),
          get_json_object(col("raw_response"), "$.answer").isNull.as("fallback"))
        .collect()
        .map(r => (Row.fromSeq(r.toSeq.init), r.getBoolean(7)))
    }
  }

  private def checkAnswers(kind: String, qs: Seq[(Long, Long, String)], rows: Seq[Row]): Unit = {
    Checks.check(rows.size == qs.size, s"$kind: ${rows.size} answers for ${qs.size} questions")
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    qs.foreach { case (qid, _, question) =>
      byId.get(qid).foreach { r =>
        val emotion = r.getString(6)
        Checks.check(Emotions(emotion) && Option(r.getString(5)).exists(_.startsWith("Re: ")),
          s"$kind: answer to $qid did not parse (emotion $emotion)")
        if (kind == "chat") {
          val top = bruteTopK(question, 2)
          val expected = top.take(2).map(t => texts(t._1)).mkString("\n\n")
          val nearTie = top.sliding(2).exists(p => p.size == 2 && p(0)._2 - p(1)._2 < 1e-9)
          Checks.check(r.getString(4) == expected || nearTie,
            s"chat: context of $qid differs from brute-force cosine top-2")
        } else Checks.check(r.getString(4).nonEmpty, s"$kind: empty context for $qid")
      }
    }
  }

  private def probeFrame(q: DataFrame): DataFrame =
    Ann.ivfPqTopKVersioned(spark, st.index, q, st.model.centroids, st.model.codebooks,
      RecallK, NProbe)

  /** Rows and files the probe's code scans read, from the executed plan. */
  private def scanned(df: DataFrame): (Long, Long) = {
    val scans = Plans.nodes(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec if s.output.exists(_.name == "code_0") => s
    }
    (scans.map(Plans.metric(_, "numOutputRows")).sum, scans.map(Plans.metric(_, "numFiles")).sum)
  }

  private def probe(rec: OpRecord, q: DataFrame, qs: Seq[(Long, Long, String)]): Unit = {
    var probed: DataFrame = null
    val rows = rec.timed(tr, "probe", qs.size) {
      val embedded = tr.span("embedder.embed") {
        tr.force(q.withColumn("q_embedding", HashEmbedder.embedCol(col("question"))))
      }
      val topk = tr.span("ann.probe") {
        probed = probeFrame(embedded)
        tr.force(probed)
      }
      tr.span("retrieval.stuff") {
        val out = Retrieval.stuffContext(topk.join(chunks.select(col("vec_id"), col("text")), "vec_id"))
        if (!tr.enabled) probed = out
        out.collect()
      }
    }
    Checks.check(rows.length == qs.size && rows.forall(_.getString(1).nonEmpty),
      s"probe: ${rows.length} non-empty contexts for ${qs.size} questions")
    val (codes, files) = scanned(probed)
    val cells = qs.flatMap(x => Ann.nearestCells(HashEmbedder.embed(x._3), st.model.centroids, NProbe)).distinct
    rec.counters ++= Seq(
      "ann.cells_probed" -> cells.size.toDouble,
      "ann.files_read" -> files.toDouble,
      "ann.codes_scanned_per_result" -> codes.toDouble / (qs.size * RecallK))
  }

  /** Recall@10 of the probe on 64 pool questions, against brute force over
    * the live chunks; no tombstoned vector may come back.
    */
  override def finish(): Unit = {
    IngestPath.verifyStore(spark, st, uploads.size)
    val qs = pool.take(64).zipWithIndex.map { case (s, i) => (9000000000000L + i, s) }
    val q = qs.toDF("query_id", "question")
      .withColumn("q_embedding", HashEmbedder.embedCol(col("question")))
    val got = probeFrame(q).select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val hits = qs.map { case (qid, s) =>
      val truth = bruteTopK(s, RecallK).take(RecallK).map(t => ids(t._1)).toSet
      (got.getOrElse(qid, Set.empty[Long]) intersect truth).size.toDouble / RecallK
    }
    recall = hits.sum / hits.size
    Checks.check(recall >= RecallFloor, f"probe recall@10 $recall%.3f below floor $RecallFloor")
    Checks.check(got.values.forall(_.intersect(deleted).isEmpty), "probe returned a tombstoned vector")
  }

  override def runCounters: Map[String, Double] = Map("ann.recall_at_10" -> recall)

  override def describe: Map[String, Any] = Map(
    "clients" -> clients, "batch_questions" -> BatchSize, "live_chunks" -> ids.length,
    "tombstoned" -> deleted.size, "recall_at_10" -> recall, "recall_floor" -> RecallFloor)
}
