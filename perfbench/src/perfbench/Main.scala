package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one measured window.
  *
  * Set-up runs [[SetupReps]] times, each in a fresh directory, and
  * `setup_s` is the session start plus the median set-up. The closed loop
  * then runs the workload's clients for `--seconds`. With `--trace 1` the
  * window is split: the first half untraced, the second half traced, so the
  * tracing overhead on every end-to-end metric is measured in the same run.
  */
object Main {
  val SetupReps = 3
  val Cores = 4

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String, build: String, heap: String)

  /** Per-layer time metrics: metric -> span name. */
  val LayerTimes: Seq[(String, String)] = Seq(
    "docloader.extract_ms" -> "docloader.extract",
    "ingest.gate_ms" -> "ingest.gate",
    "ingest.split_ms" -> "ingest.split",
    "embedder.embed_ms" -> "embedder.embed",
    "ann.append_ms" -> "ann.append",
    "ann.probe_ms" -> "ann.probe",
    "store.append_ms" -> "store.append",
    "sessions.history_ms" -> "sessions.history",
    "rag.reformulate_ms" -> "rag.reformulate",
    "retrieval.knn_ms" -> "retrieval.knn",
    "retrieval.stuff_ms" -> "retrieval.stuff",
    "textretrieval.bm25_ms" -> "textretrieval.bm25",
    "textretrieval.fusion_ms" -> "textretrieval.fusion",
    "rag.answer_ms" -> "rag.answer",
    "dedup.exact_ms" -> "dedup.exact",
    "dedup.pairs_ms" -> "dedup.pairs",
    "dedup.cluster_ms" -> "dedup.cluster",
    "scale.split_ms" -> "scale.split",
    "qualitymodel.train_ms" -> "qualitymodel.train",
    "qualitymodel.score_ms" -> "qualitymodel.score",
    "bpe.encode_ms" -> "bpe.encode",
    "scale.pack_ms" -> "scale.pack")

  /** Per-layer counters reported as per-operation means. */
  val LayerCounts: Seq[String] = Seq(
    "docloader.bytes_in", "docloader.quarantined", "ingest.gate_dropped", "ingest.chunks",
    "embedder.vectors", "ann.bytes_written", "ann.files_written", "store.bytes_written",
    "ann.cells_probed", "ann.files_read", "ann.codes_scanned_per_result",
    "retrieval.pairs_scored", "rag.parse_fallbacks", "dedup.candidate_pairs",
    "dedup.pair_yield")

  /** Per-layer Spark counters: metric -> (span name, Spark counter). */
  val LayerSpark: Seq[(String, (String, String))] = Seq(
    "textretrieval.shuffle_bytes" -> ("textretrieval.", "spark.shuffle_write_bytes"),
    "dedup.cluster_jobs" -> ("dedup.cluster", "spark.jobs"),
    "qualitymodel.train_jobs" -> ("qualitymodel.train", "spark.jobs"))

  val SparkCounters: Seq[String] = new SparkWork().asMap.keys.toSeq.sorted

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    }
    System.out.flush()
    sys.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"), m("out"), m.getOrElse("build", "unknown"), m.getOrElse("heap", "unknown"))
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Old-generation usage right after a full collection, in MiB. Two
    * collections with a pause between them, so the blocks and broadcasts
    * Spark's ContextCleaner releases after the first are gone too.
    */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported &&
        p.getName.toLowerCase.contains("old"))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L))
      .sum / 1048576.0
  }

  def run(o: Opts): Int = {
    val t0 = System.nanoTime()
    def mark(what: String): Unit = System.err.println(f"perfbench: ${secs(t0)}%.1f s $what")
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      // The status store keeps finished jobs and queries for a UI nobody
      // reads; bound it so retained heap does not grow with operations run.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)
    val attribution = new SparkAttribution
    spark.sparkContext.addSparkListener(attribution)
    spark.listenerManager.register(attribution)
    val tracer = new Tracer(spark, attribution)
    val wl = Workload(o.workload, spark, o.seed, tracer)

    // With tracing on, the last set-up is traced: its upload batches give
    // the per-layer numbers of the write path.
    val setupS = (0 until SetupReps).map { rep =>
      val dir = s"${o.work}/setup$rep"
      val last = rep == SetupReps - 1
      tracer.clear()
      tracer.enabled = o.trace && last
      wl.setupCheckNs = 0L
      wl.checkSetup = last
      val t = System.nanoTime()
      wl.setup(dir)
      val s = secs(t) - wl.setupCheckNs / 1e9
      tracer.enabled = false
      wl.inputs.seal()
      if (rep > 0) Files.deleteRecursively(new java.io.File(s"${o.work}/setup${rep - 1}"))
      s
    }
    if (!o.trace) tracer.clear()
    mark("set-up done")
    val heap = scala.collection.mutable.LinkedHashMap("setup" -> heapAfterGcMb())
    mark("heap read")

    val records = new ConcurrentLinkedQueue[OpRecord]()
    val phases = Seq("warmup" -> false, "untraced" -> false) ++
      (if (o.trace) Seq("traced" -> true) else Nil)
    val windows = phases.size - 1
    val seqs = Array.fill(wl.clients)(0)
    // Clients run in rounds: every client starts its next operation
    // together, so concurrent operations always pair the same way.
    phases.foreach { case (phase, traced) =>
      tracer.enabled = traced
      val deadline = System.nanoTime() + (o.seconds / windows * 1e9).toLong
      val failedInRow = new java.util.concurrent.atomic.AtomicInteger()
      val first = seqs(0)
      @volatile var go = true
      val round = new java.util.concurrent.CyclicBarrier(wl.clients, () => {
        val done = seqs(0) - first
        go = failedInRow.get < 5 &&
          (if (phase == "warmup") done < wl.warmupOps
           else System.nanoTime() < deadline || (traced && done < wl.opTypes))
      })
      val threads = (0 until wl.clients).map { c =>
        new Thread(() => {
          round.await()
          while (go) {
            val rec = new OpRecord(c, seqs(c), phase)
            seqs(c) += 1
            try { wl.op(rec); failedInRow.set(0) } catch {
              case e: Throwable =>
                rec.error = e.getClass.getName
                failedInRow.incrementAndGet()
                System.err.println(s"perfbench: ${wl.name} op ${rec.client}/${rec.seq} failed")
                e.printStackTrace()
            }
            records.add(rec)
            round.await()
          }
        }, s"client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      if (phase != "warmup") heap(phase) = heapAfterGcMb()
    }
    tracer.enabled = false
    mark("window done")
    (wl.setupOps ++ records.asScala).foreach { r =>
      try r.deferred() catch {
        case e: Throwable =>
          Checks.check(false, s"checks of ${r.kind} op ${r.client}/${r.seq} threw ${e.getClass.getName}")
          e.printStackTrace()
      }
    }
    attribution.settle()
    mark("checks done")
    wl.finish()
    mark("finish done")

    val recs = wl.setupOps ++ records.asScala.toSeq.sortBy(r => (r.startNs, r.client))
    val setupTotal = sessionS + Stats.median(setupS)
    val e2e = endToEnd(wl, recs.filter(_.phase == "untraced"), setupTotal)
    val layers = if (o.trace) perLayer(wl, recs.filter(r => r.phase == "traced" || r.phase == "setup"),
      tracer) else Map.empty[String, Double]
    val overhead = if (o.trace) {
      val traced = endToEnd(wl, recs.filter(_.phase == "traced"), setupTotal)
      val untraced = endToEnd(wl, recs.filter(_.phase == "untraced"), setupTotal)
      // The last set-up ran traced; the one before it ran untraced and warm.
      untraced.keys.toSeq.sorted.map(k => k -> (traced(k) / untraced(k) - 1)).toMap ++ Map(
        "setup_s" -> (setupS.last / setupS(SetupReps - 2) - 1),
        "heap_after_gc_mb" -> (heap("traced") / heap("untraced") - 1))
    } else Map.empty[String, Double]
    val coverage = if (o.trace) spanCoverage(recs.filter(r => (r.phase == "traced" ||
        r.phase == "setup") && r.ok), tracer)
      else Map.empty[Long, Double]

    val failures = Checks.all
    val correct = failures.isEmpty
    val attempted = recs.size
    val failed = recs.count(!_.ok)
    val metrics = if (o.trace) layers.map { case (k, v) => k -> (v, LayerUnits(k)) }
      else e2e.map { case (k, v) => k -> (v, Units(k)) }

    // ------------------------------------------------------------ report
    val fingerprint = Map(
      "seed" -> o.seed, "input_files" -> wl.inputs.files, "input_bytes" -> wl.inputs.bytes,
      "input_sha256" -> wl.inputs.hex, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "spark_master" -> s"local[$Cores]", "heap" -> o.heap,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "source_digest" -> o.build)
    val byKind = recs.filter(r => r.phase == "untraced" || r.phase == "setup").groupBy(_.kind).toSeq.sortBy(_._1).map {
      case (k, rs) =>
        val lat = rs.map(_.latencyMs)
        val (pct, tail) = Stats.tail(lat)
        k -> Map("n" -> rs.size, "failed" -> rs.count(!_.ok), "p50_ms" -> Stats.median(lat),
          "tail_pct" -> pct, "tail_ms" -> tail, "items" -> rs.filter(_.ok).map(_.items).sum,
          "errors" -> rs.flatMap(r => Option(r.error)).groupBy(identity).map { case (e, v) => e -> v.size })
    }.toMap
    val report = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "trace" -> o.trace, "seconds" -> o.seconds,
      "fingerprint" -> fingerprint, "describe" -> wl.describe,
      "session_s" -> sessionS, "setup_reps_s" -> setupS, "heap_after_gc_mb" -> heap,
      "item_unit" -> wl.itemUnit, "ops_by_kind" -> byKind,
      "op_error_rate" -> failed.toDouble / math.max(1, attempted),
      "checks" -> Map("passed" -> Checks.nPassed, "failures" -> failures),
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    if (o.trace) {
      report("tracing_overhead") = overhead
      report("span_coverage") = Map("min" -> (if (coverage.isEmpty) 0.0 else coverage.values.min),
        "median" -> (if (coverage.isEmpty) 0.0 else Stats.median(coverage.values.toSeq)))
      report("spans") = spanTree(tracer, recs)
    }
    report("ops") = recs.map { r =>
      Map("client" -> r.client, "seq" -> r.seq, "phase" -> r.phase, "kind" -> r.kind,
        "latency_ms" -> r.latencyMs, "items" -> r.items, "error" -> r.error,
        "counters" -> r.counters, "spark" -> opWork(r, tracer).asMap)
    }
    val file = s"${o.out}/${wl.name}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"
    Files.writeText(file, Json(report))

    println(f"perfbench: workload=${wl.name} seed=${o.seed} trace=${o.trace} " +
      f"inputs=${wl.inputs.files} files/${wl.inputs.bytes} bytes sha256=${wl.inputs.hex.take(16)}")
    println(f"perfbench: session ${sessionS}%.2f s, setup reps ${setupS.map(s => f"$s%.2f").mkString(" ")} s")
    println(s"perfbench: old generation after full GC (MiB): " +
      heap.map { case (k, v) => f"$k $v%.1f" }.mkString(", "))
    byKind.foreach { case (k, m) =>
      println(f"perfbench: op $k%-8s n=${m("n")} failed=${m("failed")} " +
        f"p50=${m("p50_ms").asInstanceOf[Double]}%.1f ms " +
        f"p${m("tail_pct").asInstanceOf[Double]}%.0f=${m("tail_ms").asInstanceOf[Double]}%.1f ms")
    }
    metrics.toSeq.sortBy(_._1).foreach { case (k, (v, u)) => println(f"perfbench: $k%-34s $v%.4f $u") }
    if (o.trace) {
      overhead.toSeq.sortBy(_._1).foreach { case (k, v) =>
        println(f"perfbench: tracing overhead $k%-20s ${v * 100}%+.1f%%") }
      println(f"perfbench: layer spans cover ${report("span_coverage")} of operation time")
    }
    println(s"perfbench: operations attempted=$attempted failed=$failed " +
      f"op_error_rate=${failed.toDouble / math.max(1, attempted)}%.4f")
    println(s"perfbench: checks passed=${Checks.nPassed} failed=${failures.size}")
    failures.take(20).foreach(f => println(s"perfbench: CHECK FAILED: $f"))
    println(s"perfbench: report $file")
    println(Json(Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.to(scala.collection.immutable.ListMap))))
    spark.stop()
    if (correct) 0 else 1
  }

  val Units: Map[String, String] = Map(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "items_per_s" -> "items/s")

  val LayerUnits: Map[String, String] =
    LayerTimes.map(_._1 -> "ms").toMap ++
      LayerCounts.map(k => k -> (if (k.endsWith("bytes_in") || k.endsWith("bytes_written")) "bytes"
        else if (k.endsWith("_per_result") || k.endsWith("yield")) "ratio" else "count")).toMap ++
      LayerSpark.map { case (k, _) => k -> (if (k.endsWith("bytes")) "bytes" else "count") }.toMap ++
      SparkCounters.map(k => k -> (if (k.endsWith("_ms")) "ms"
        else if (k.endsWith("bytes")) "bytes" else "count")).toMap ++
      Map("store.bytes_per_text_byte" -> "ratio", "ann.recall_at_10" -> "ratio")

  /** End-to-end metrics of one set of operations. Latency is the median of
    * each operation type, averaged with equal weight over the types, so a
    * window that happens to end on a slow type does not move it. Throughput
    * is items per second of operation time for a single client, and items
    * per second of wall time across the window when several clients overlap.
    */
  private def endToEnd(wl: Workload, rs: Seq[OpRecord], setup: Double): Map[String, Double] = {
    val byKind = rs.groupBy(_.kind).values.map(k => Stats.median(k.map(_.latencyMs)))
    val ok = rs.filter(_.ok)
    val busyS =
      if (wl.clients == 1) ok.map(_.latencyNs).sum / 1e9
      else if (ok.isEmpty) 0.0
      else (ok.map(r => r.startNs + r.latencyNs).max - ok.map(_.startNs).min) / 1e9
    Map(
      "setup_s" -> setup,
      "op_p50_ms" -> (if (byKind.isEmpty) Double.NaN else byKind.sum / byKind.size),
      "items_per_s" -> (if (busyS > 0) ok.map(_.items).sum / busyS else 0.0))
  }

  /** Spans of one operation. */
  private def opSpans(r: OpRecord, tracer: Tracer): Seq[Span] =
    tracer.all.filter(_.op == r.rootSpan)

  private def opWork(r: OpRecord, tracer: Tracer): SparkWork = {
    val w = new SparkWork
    opSpans(r, tracer).foreach(s => w.add(tracer.attribution.of(s.id)))
    w
  }

  private def selfMs(tracer: Tracer): Map[Long, Double] = {
    val all = tracer.all
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durMs).sum }
    all.map(s => s.id -> (s.durMs - childMs.getOrElse(s.id, 0.0))).toMap
  }

  /** Share of each operation's wall time covered by its layer spans. */
  private def spanCoverage(rs: Seq[OpRecord], tracer: Tracer): Map[Long, Double] = {
    val self = selfMs(tracer)
    rs.flatMap(r => tracer.all.find(_.id == r.rootSpan)).map(root =>
      root.id -> (1 - self(root.id) / root.durMs)).toMap
  }

  /** Per-layer metrics: per-operation means over the traced operations
    * that used the layer; 0 for a layer this workload does not use.
    */
  private def perLayer(wl: Workload, rs: Seq[OpRecord], tracer: Tracer): Map[String, Double] = {
    val ok = rs.filter(_.ok)
    val self = selfMs(tracer)
    val spansOf = ok.map(r => r -> opSpans(r, tracer)).toMap
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val times = LayerTimes.map { case (metric, span) =>
      metric -> mean(ok.flatMap { r =>
        val ss = spansOf(r).filter(_.name == span)
        if (ss.isEmpty) None else Some(ss.map(s => self(s.id)).sum)
      })
    }
    val counts = LayerCounts.map(k => k -> mean(ok.flatMap(_.counters.get(k))))
    val sparkLayer = LayerSpark.map { case (metric, (prefix, counter)) =>
      metric -> mean(ok.flatMap { r =>
        val ss = spansOf(r).filter(_.name.startsWith(prefix))
        if (ss.isEmpty) None
        else Some(ss.map(s => tracer.attribution.of(s.id).asMap(counter)).sum)
      })
    }
    val window = ok.filter(_.phase != "setup")
    val spark = SparkCounters.map(k => k -> mean(window.map(r => opWork(r, tracer).asMap(k))))
    val text = ok.flatMap(_.counters.get("ingest.text_bytes")).sum
    val stored = ok.flatMap(r => r.counters.get("ann.bytes_written").toSeq ++
      r.counters.get("store.bytes_written")).sum
    val derived = Map(
      "store.bytes_per_text_byte" -> (if (text > 0) stored / text else 0.0),
      "ann.recall_at_10" -> wl.runCounters.getOrElse("ann.recall_at_10", 0.0))
    (times ++ counts ++ sparkLayer ++ spark).toMap ++ derived
  }

  /** The span tree of the traced operations, with self time and Spark work. */
  private def spanTree(tracer: Tracer, rs: Seq[OpRecord]): Seq[Map[String, Any]] = {
    val self = selfMs(tracer)
    val ops = rs.filter(r => r.phase == "traced" || r.phase == "setup").map(_.rootSpan).toSet
    tracer.all.filter(s => ops(s.op)).sortBy(_.start).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "thread" -> s.thread, "start_ms" -> s.start / 1e6, "end_ms" -> s.end / 1e6,
        "dur_ms" -> s.durMs, "self_ms" -> self(s.id),
        "spark" -> tracer.attribution.of(s.id).asMap)
    }
  }
}
