package perfbench

import java.nio.charset.StandardCharsets

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Ann, Ingest, Store}
import graft.sources.DocLoader

/** Coarse quantizer and PQ codebooks of the IVF-PQ index, trained in set-up. */
final class IndexModel(val centroids: Array[Array[Float]], val codebooks: Seq[Seq[Seq[Double]]],
    val root: String)

/** On-disk state of the write path: chunk store and catalog (one
  * `batch=<id>` directory per upload batch) and the versioned index root.
  */
final class DocStore(dir: String, val model: IndexModel) {
  val chunks = s"$dir/chunks"
  val catalog = s"$dir/catalog"
  def index: String = model.root
}

/** The upload path, composed from the engine's public layer functions:
  * DocLoader.loadDocumentsWithStatus -> Ingest.contentHash + dedupGate
  * against the catalog -> Ingest.splitIntoChunks (1000/200) ->
  * Ingest.embedChunks -> Store.append of the chunks -> Ann.ivfPqAppendBatch
  * -> Store.append of the catalog rows. Used by the ingest workload as its
  * operation and by the serve workload to build its store.
  */
object IngestPath {
  /** vec_id = file_id * stride + chunk_index. */
  val VecIdStride = 100000L
  val NCells = 16
  val PqM = 16
  val PqKStar = 32

  final class Batch(val id: Int, val dir: String, val files: Seq[GenFile]) {
    var loaded: DataFrame = _
    def write(): Unit = files.foreach(f => Files.write(s"$dir/${f.name}", f.bytes))
  }

  /** Train the IVF centroids and PQ codebooks on seeded chunk-like text. */
  def trainIndex(spark: SparkSession, dir: String, seed: Long, inputs: InputDigest): IndexModel = {
    import spark.implicits._
    val r = new Random(seed * 7919L + 1)
    val rows = (0 until 600).map(i => (i.toLong, Text.paragraph(r, r.nextInt(Text.NTopics))))
    rows.foreach { case (i, t) => inputs.add(s"train-$i", t.getBytes(StandardCharsets.UTF_8)) }
    rows.toDF("vec_id", "chunk_text").write.parquet(s"$dir/text")
    Ingest.embedChunks(spark.read.parquet(s"$dir/text"))
      .select("vec_id", "embedding").write.parquet(s"$dir/vecs")
    val corpus = spark.read.parquet(s"$dir/vecs")
    // Train on every vector: the corpus is small, so sampling would only
    // add a counting job.
    val (centroids, _) = Ann.buildIvf(spark, corpus, NCells, maxIter = 3, sampleDenom = 1)
    val books = Ann.trainPqCodebooks(corpus, PqM, 64 / PqM, PqKStar, maxIter = 3, sampleDenom = 1)
    new IndexModel(centroids, books,
      Ann.ivfPqVersionedRoot(corpus, s"$dir/index", centroids, books))
  }

  private def catalogFrame(spark: SparkSession, st: DocStore): DataFrame = {
    import spark.implicits._
    if (new java.io.File(st.catalog).isDirectory) spark.read.parquet(st.catalog)
    else Seq.empty[String].toDF("file_hash")
  }

  /** One upload batch, from files on disk to committed chunk, index and
    * catalog writes. With tracing on, each layer's output is materialised
    * inside its span.
    */
  def run(spark: SparkSession, tr: Tracer, st: DocStore, b: Batch): Unit = {
    val loaded = tr.span("docloader.extract") {
      val df = DocLoader.loadDocumentsWithStatus(spark, b.dir)
        .withColumn("doc_id", regexp_extract(col("path"), "doc-(\\d+)\\.", 1).cast("long"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (tr.enabled) df.count()
      df
    }
    b.loaded = loaded
    val fresh = tr.span("ingest.gate") {
      val catalog = catalogFrame(spark, st)
      val ok = loaded.filter(col("extraction_status") === DocLoader.StatusOk)
        .select(col("doc_id"), col("text"), col("path").as("source"),
          length(col("text")).cast("long").as("n_chars"))
        .withColumn("file_hash", Ingest.contentHash(col("text")))
      tr.force(Ingest.dedupGate(ok, catalog, "file_hash"))
    }
    val chunks = tr.span("ingest.split") {
      tr.force(Ingest.splitIntoChunks(fresh.select("doc_id", "text", "source")))
    }
    val vecs = tr.span("embedder.embed") {
      tr.force(Ingest.embedChunks(chunks)
        .withColumn("vec_id", col("file_id") * VecIdStride + col("chunk_index")))
    }
    val chunkDir = s"${st.chunks}/batch=${b.id}"
    tr.span("store.append") {
      Store.append(vecs.select("vec_id", "file_id", "chunk_index", "chunk_text", "embedding"),
        chunkDir)
    }
    tr.span("ann.append") {
      Ann.ivfPqAppendBatch(spark, st.index,
        spark.read.parquet(chunkDir).select("vec_id", "embedding"),
        st.model.centroids, st.model.codebooks, b.id.toString)
    }
    tr.span("store.append") {
      Store.append(fresh.select("file_hash", "doc_id", "source", "n_chars"),
        s"${st.catalog}/batch=${b.id}")
    }
  }

  /** Check one committed batch against what its generator planted and
    * return its layer counters. Releases the batch's cached extraction.
    */
  def verify(spark: SparkSession, st: DocStore, b: Batch): Map[String, Double] = try {
    val rows = b.loaded
      .select(col("path"), col("extraction_status"), sha2(col("text"), 256)).collect()
      .map(r => r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1) ->
        (r.getString(1), r.getString(2)))
      .toMap
    Checks.check(rows.size == b.files.size,
      s"batch ${b.id}: loader returned ${rows.size} rows for ${b.files.size} files")
    b.files.foreach { f =>
      val (status, sha) = rows.getOrElse(f.name, (null, null))
      if (GenFile.Quarantine(f.kind))
        Checks.check(status != null && status != DocLoader.StatusOk,
          s"batch ${b.id}: ${f.name} (${f.kind}) was not quarantined (status $status)")
      else
        Checks.check(status == DocLoader.StatusOk && sha == Files.sha256Hex(f.expectedText),
          s"batch ${b.id}: ${f.name} (${f.kind}) extracted wrong text (status $status)")
    }
    val quarantined = rows.values.count(_._1 != DocLoader.StatusOk)
    val planted = b.files.count(f => GenFile.Quarantine(f.kind))
    Checks.check(quarantined == planted,
      s"batch ${b.id}: $quarantined quarantined, $planted planted")

    val catalogDir = s"${st.catalog}/batch=${b.id}"
    val admittedRow = spark.read.parquet(catalogDir)
      .agg(count(lit(1)), coalesce(sum("n_chars"), lit(0L))).head()
    val dropped = (rows.size - quarantined) - admittedRow.getLong(0)
    val reuploads = b.files.count(_.kind == GenFile.Reupload)
    Checks.check(dropped == reuploads,
      s"batch ${b.id}: dedup gate dropped $dropped files, $reuploads re-uploads planted")

    val chunkDir = s"${st.chunks}/batch=${b.id}"
    val c = spark.read.parquet(chunkDir)
      .join(b.loaded.select(col("doc_id").as("file_id"), col("text")), Seq("file_id"), "left")
      .agg(count(lit(1)),
        sum(when(col("text").isNull, 1).otherwise(0)),
        sum(when(length(col("chunk_text")) > 1000, 1).otherwise(0)),
        sum(when(expr("instr(text, chunk_text)") === 0, 1).otherwise(0)))
      .head()
    val nChunks = c.getLong(0)
    Checks.check(nChunks > 0 && c.getLong(1) == 0 && c.getLong(2) == 0 && c.getLong(3) == 0,
      s"batch ${b.id}: $nChunks chunks, ${c.getLong(1)} orphaned, ${c.getLong(2)} over " +
        s"1000 chars, ${c.getLong(3)} not a substring of their document")

    val indexDir = s"${st.index}/batch=${b.id}"
    val (annFiles, annBytes) = Files.dataFiles(indexDir)
    Checks.check(new java.io.File(indexDir, "_SUCCESS").isFile && annFiles > 0,
      s"batch ${b.id}: index batch has ${annFiles} data files and " +
        s"${if (new java.io.File(indexDir, "_SUCCESS").isFile) "a" else "no"} _SUCCESS marker")
    val storeBytes = Files.dataFiles(chunkDir)._2 + Files.dataFiles(catalogDir)._2
    Map(
      "docloader.bytes_in" -> b.files.map(_.bytes.length.toLong).sum.toDouble,
      "docloader.quarantined" -> quarantined.toDouble,
      "ingest.gate_dropped" -> dropped.toDouble,
      "ingest.chunks" -> nChunks.toDouble,
      "ingest.text_bytes" -> admittedRow.getLong(1).toDouble,
      "embedder.vectors" -> nChunks.toDouble,
      "ann.files_written" -> annFiles.toDouble,
      "ann.bytes_written" -> annBytes.toDouble,
      "store.bytes_written" -> storeBytes.toDouble)
  } finally b.loaded.unpersist()

  /** The versioned root's live vectors must be exactly the chunk store. */
  def verifyStore(spark: SparkSession, st: DocStore, batches: Int): Unit = {
    val live = Ann.ivfPqLiveCodes(spark, st.index).select(col("vec_id"), lit(1).as("l"))
    val stored = spark.read.parquet(st.chunks).select(col("vec_id"), lit(1).as("s"))
    val r = live.join(stored, Seq("vec_id"), "full_outer")
      .agg(count(lit(1)), sum(when(col("l").isNull || col("s").isNull, 1).otherwise(0))).head()
    Checks.check(r.getLong(0) > 0 && r.getLong(1) == 0,
      s"index holds ${r.getLong(1)} vectors that differ from the ${r.getLong(0)} stored chunks")
    val written = Option(new java.io.File(st.index).list()).toSeq.flatten
      .count(_.startsWith("batch="))
    Checks.check(written == batches, s"index has $written batch directories for $batches batches")
  }
}
