package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.VectorExpressions
import scala.util.hashing.MurmurHash3

/** Approximate nearest-neighbor search over an embedding column — the
  * scale path for SURVEY.md T-4/J-2 when the corpus no longer fits a
  * brute-force scan per query.
  *
  * Every tier is fully deterministic (no RNG state — hyperplanes and
  * centroid seeds derive from hashes) and is assembled from the same
  * shared parts:
  *
  *  - a PROBE: [[LshProbe]] (murmur Hamming ball, murmur margin-adaptive,
  *    portable Lehmer ball) picks an LSH signature and its buckets;
  *    [[CellProbe]] (nearest-n, distance-ratio adaptive) picks IVF cells;
  *  - a partition-keyed LAYOUT ([[writePartitioned]]: one directory per
  *    signature or cell, plus the `_stats_<key>` occupancy sidecar),
  *    built ONCE per corpus content ([[buildOnce]] under a
  *    [[fingerprint]]-keyed [[layoutPath]]);
  *  - trained index parts (IVF centroids, PQ / residual / per-cell / OPQ
  *    codebooks) memoised per corpus content ([[memoized]]);
  *  - three probe shapes over a layout: the driver-side probe batch
  *    ([[partitionedTopK]] for exact cosine, [[adcProbeBatch]] for ADC
  *    codes), and the distributed key join ([[keyJoin]]) whose query
  *    frame never leaves the cluster;
  *  - one `query_id` rank/cut tail ([[rankTopK]]).
  *
  * Public entry points: LSH — [[lshTopK]], [[writeSignaturePartitioned]],
  * [[signaturePartitionedLayout]], [[lshTopKPartitioned]], [[lshJoin]];
  * IVF — [[buildIvf]]/[[buildIvfCached]], [[ivfTopK]],
  * [[writeCellPartitioned]]/[[cellLayout]], [[ivfTopKPartitioned]],
  * [[ivfJoin]]; PQ / IVF-PQ — encode, train (plain, residual, per-cell,
  * OPQ), layouts, [[ivfPqTopK]] and its residual/local/versioned
  * siblings, [[ivfPqJoin]], the exact reranks; plus the int8 tier and
  * the streaming admission kernels. Exact brute force
  * ([[Retrieval.knnJoin]]) is the oracle every tier is recall-tested
  * against.
  */
object Ann {

  // ------------------------------------------------------- LSH signatures
  /** Deterministic pseudo-random hyperplane component in [-1, 1).
    * `private[graft]` so [[graft.AnnOracle]] can embed the same plane
    * matrix as SQL literals (the hyperplanes are pure murmur-derived
    * constants — the oracle replays the signature bit for bit).
    */
  private[graft] def planeComp(bit: Int, i: Int): Float = {
    val h = MurmurHash3.productHash((bit, i), 0xA11CE)
    (h.toDouble / Int.MaxValue).toFloat
  }

  /** The murmur hyperplane matrix for (nBits, dim), row-major (plane b's
    * components at `b*dim until (b+1)*dim`), memoized per shape:
    * [[planeComp]] runs a murmur hash per call, and the first-cut
    * [[signature]] called it PER MULTIPLY — 512 hashes per row at
    * nBits=8/dim=64, ~5×10⁸ hashes for one 10⁶-row layout write, all
    * recomputing the same 512 constants (r16 review follow-up, the
    * [[graft.expressions.IvfCellAssign]] lesson applied to the LSH
    * tier). Values are identical to per-call [[planeComp]], so
    * signatures — and every hash-green murmur oracle row — are
    * unchanged. A few KB per (nBits, dim) shape; closures capture only
    * the array.
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Float]]()
  private[graft] def planes(nBits: Int, dim: Int): Array[Float] =
    planeCache.computeIfAbsent((nBits, dim),
      { case (b, d) => Array.tabulate(b * d)(j => planeComp(j / d, j % d)) })

  /** The `nBits` hyperplane dot products of a vector. Per-term
    * arithmetic is unchanged from the per-call-planeComp form (Float ×
    * Float product widened into a double accumulator, ascending dim
    * order), so signatures are bit-identical.
    */
  private def planeDots(v: Seq[Float], nBits: Int): Array[Double] = {
    val dim = v.length
    val p = planes(nBits, dim)
    val varr = v match {
      case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
      case _ => v.toArray
    }
    Array.tabulate(nBits) { b =>
      var dot = 0.0
      var i = 0
      while (i < dim) { dot += varr(i) * p(b * dim + i); i += 1 }
      dot
    }
  }

  /** Signature bits of precomputed [[planeDots]]: bit b set when dot b >= 0. */
  private def sigOfDots(dots: Array[Double]): Int =
    dots.indices.foldLeft(0)((sig, b) => if (dots(b) >= 0) sig | (1 << b) else sig)

  /** nBits-bit random-hyperplane signature of a vector. */
  def signature(v: Seq[Float], nBits: Int): Int = sigOfDots(planeDots(v, nBits))

  /** Signatures within Hamming distance <= probeBits of `sig` (probe set). */
  def probeSignatures(sig: Int, nBits: Int, probeBits: Int): Seq[Int] = {
    if (probeBits <= 0) Seq(sig)
    else Seq(sig) ++ (0 until nBits).flatMap { b =>
      probeSignatures(sig ^ (1 << b), nBits, probeBits - 1)
    }.distinct.filterNot(_ == sig)
  }

  /** Query-adaptive multi-probe order (Lv et al., VLDB 2007,
    * "Multi-Probe LSH"): instead of probing EVERY Hamming-≤r neighbor,
    * probe the `nProbes` buckets a near neighbor is most likely to land
    * in — perturbation sets ordered by the summed |margin| of the
    * flipped hyperplanes (a plane whose dot product was near zero is
    * the plane a true neighbor most plausibly sits across; a
    * high-margin plane almost never flips). Enumerates subsets of the
    * `maxFlipBits` lowest-margin planes and keeps the `nProbes`
    * cheapest; probe 0 is always the home bucket. The probe count IS
    * the scale cost — each probe is a bucket read (a partition
    * directory in the layout form) — so better probes buy either
    * recall at fixed cost or cost at fixed recall.
    */
  def adaptiveProbes(
      v: Seq[Float], nBits: Int, nProbes: Int, maxFlipBits: Int = 10): Array[Int] = {
    val dots = planeDots(v, nBits)
    val sig = sigOfDots(dots)
    val order = (0 until nBits).sortBy(b2 => math.abs(dots(b2)))
      .take(math.min(maxFlipBits, nBits))
    val m = order.length
    val scored = (0 until (1 << m)).map { mask =>
      var score = 0.0
      var flip = 0
      var j = 0
      while (j < m) {
        if ((mask & (1 << j)) != 0) {
          score += math.abs(dots(order(j)))
          flip |= 1 << order(j)
        }
        j += 1
      }
      (score, sig ^ flip)
    }
    scored.sortBy(_._1).take(nProbes).map(_._2).toArray
  }

  /** The shared rank/cut/select tail of every top-k form: rank
    * candidates per query on the `score` column (descending for
    * similarities, `ascending` for distances; `vec_id` asc tiebreak),
    * cut at `k`. ONE definition — the Verify-gated "row-identical across
    * probe forms" claims then hold by construction, and a
    * ranking-contract change (e.g. the ±0.0 class of fix
    * [[nearestCells]] took) has one place to land (r16 review). Spark
    * plans this as a map-side Partial
    * [[org.apache.spark.sql.execution.window.WindowGroupLimitExec]]
    * before the query_id exchange, so at scale each task forwards at
    * most k rows per query.
    */
  private def rankTopK(
      cands: DataFrame, k: Int,
      score: String = "sim", ascending: Boolean = false): DataFrame =
    cands
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(if (ascending) asc(score) else desc(score), asc("vec_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", score)

  /** [[rankTopK]] on the exact codegen cosine of `q_embedding` against
    * `embedding` — the scorer of every LSH and exact-IVF probe form;
    * `floorSim` floors it to 6 dp (the portable tier, whose SQL mirror
    * ranks on the floored value).
    */
  private def cosineTopK(cands: DataFrame, k: Int, floorSim: Boolean = false): DataFrame = {
    val sim = VectorExpressions.cosineSim(col("q_embedding"), col("embedding"))
    rankTopK(cands.withColumn("sim",
      if (floorSim) graft.functions.TextAnalysis.floorScale(sim, 6) else sim), k)
  }

  /** The ADC tail of every IVF-PQ probe form over `code_s` columns
    * joined with a per-(query, cell) `lut` column: self-matches out, the
    * floored [[adcFromLut]] distance, ascending rank.
    */
  private def adcTopK(cands: DataFrame, m: Int, k: Int): DataFrame =
    rankTopK(
      cands.filter(col("vec_id") =!= col("query_id"))
        .withColumn("adc_dist", graft.functions.TextAnalysis.floorScale(adcFromLut(m), 6)),
      k, "adc_dist", ascending = true)

  /** Hot-key SALTED candidate equi-join — the skew guard of the
    * distributed ANN joins ([[ivfJoin]] / [[lshJoin]] / [[ivfPqJoin]]),
    * r16 verdict "What's missing" #1. The dedup families cap their
    * Zipf-head buckets by CHANGING semantics (star pairs, the `hubCap`
    * of [[Dedup.minHashLshPairsPortable]]); a top-k join cannot — every
    * (query, candidate-in-probed-bucket) pair must be scored or recall
    * silently drops. So the guard redistributes instead of capping: a
    * key whose corpus occupancy exceeds `hotKeyCap` is split into
    * `nsalt = min(maxSalt, ceil(n / hotKeyCap))` salt sub-buckets —
    * corpus rows take ONE salt (hash of vec_id), probe rows REPLICATE
    * across all nsalt salts — and the join key becomes (key, salt).
    * Every pair still occurs exactly once, so results are
    * row-identical to the unsalted join (spec-pinned), but the hot
    * key's candidate explosion now lands on nsalt shuffle partitions
    * instead of one: per-partition work drops from
    * O(queries-in-key × n) to O(queries-in-key × n / nsalt), which AQE
    * skew splitting cannot do (it splits the shuffle BLOCKS, not the
    * per-key candidate blow-up that happens after the join keys meet).
    *
    * Cost when nothing is hot: one map-side-combinable count per key
    * over the corpus side (a single-column columnar scan of the
    * layout) and a broadcast of the hot set — which is bounded by the
    * key space itself (≤ nCells cells / 2^nBits signatures), so the
    * sizes frame never approaches corpus scale. `hotKeyCap <= 0`
    * disables the guard entirely (the pre-r17 plan).
    */
  private def saltedKeyJoin(
      corpus: DataFrame,
      probed: DataFrame,
      key: String,
      hotKeyCap: Int,
      maxSalt: Int,
      hotSet: => Seq[(Int, Int)],
      saltSrc: Column = col("vec_id")): DataFrame = {
    if (hotKeyCap <= 0) corpus.join(probed, key)
    else {
      // nsalt = 0 would mint null corpus salts (non-ANSI pmod by zero)
      // and silently DROP every hot-bucket candidate — the exact
      // opposite of the row-identity guarantee. Fail loudly instead.
      require(maxSalt >= 1, s"saltedKeyJoin: maxSalt must be >= 1, got $maxSalt")
      val hotRows = hotSet
      // Nothing hot (the common case — the driver-side check is a memoized
      // KB-sized sidecar read, [[hotKeysOf]]): the guard costs NOTHING —
      // the plan IS the plain equi-join, no broadcast, no salt columns.
      if (hotRows.isEmpty) corpus.join(probed, key)
      else {
        val spark = corpus.sparkSession
        import spark.implicits._
        // The hot set rides the plan as a literal local relation (it was
        // resolved driver-side from the build-time sidecar); the salt
        // EXPRESSIONS are unchanged from the aggregation form, so
        // AnnSkewSpec's reconstruction through hotKeys/corpusSalt still
        // certifies this plan.
        val hot = hotRows.toDF(key, "nsalt")
        val corpusS = corpus.join(broadcast(hot), Seq(key), "left")
          .withColumn("salt", corpusSalt(saltSrc))
          .drop("nsalt")
        val probedS = probed.join(broadcast(hot), Seq(key), "left")
          .withColumn("salt",
            explode(sequence(lit(0), coalesce(col("nsalt") - 1, lit(0)))))
          .drop("nsalt")
        corpusS.join(probedS, Seq(key, "salt")).drop("salt")
      }
    }
  }

  /** (key, n) occupancy of a corpus/layout frame — the aggregation the
    * skew guard filters. Persisted as a layout-build sidecar by every
    * layout writer ([[writeKeyStats]]), so the joins read a KB-sized
    * stats frame per invocation instead of re-aggregating the corpus
    * (r17 verdict "What's wrong" #1).
    */
  private[graft] def keyOccupancy(corpus: DataFrame, key: String): DataFrame =
    corpus.groupBy(key).agg(count(lit(1)).as("n"))

  /** The hot set of [[saltedKeyJoin]] — one (key, nsalt) row per key
    * whose corpus occupancy exceeds `hotKeyCap`. Exposed (private[graft])
    * so the adversarial spec (AnnSkewSpec) and the ScaleEvidence skew
    * leg reconstruct the guard's ACTUAL assignment instead of
    * re-implementing the expressions — a future change to the formula
    * cannot silently decouple the evidence from the production plan.
    */
  private[graft] def hotKeys(
      corpus: DataFrame, key: String, hotKeyCap: Int, maxSalt: Int): DataFrame =
    keyOccupancy(corpus, key).filter(col("n") > hotKeyCap)
      .select(col(key),
        least(lit(maxSalt.toLong),
          ceil(col("n").cast("double") / hotKeyCap).cast("long"))
          .cast("int").as("nsalt"))

  /** Corpus-side salt of [[saltedKeyJoin]], evaluated on a frame that
    * carries the [[hotKeys]] `nsalt` column (null on cold keys).
    * `saltSrc` is the per-row hash source spreading a hot key's rows
    * across its salts — any stable unique-ish column works; the ANN
    * layouts use their `vec_id` (the r17 default, kept by the no-arg
    * overload for the spec/evidence reconstructions).
    */
  private[graft] def corpusSalt(saltSrc: Column): Column =
    when(col("nsalt").isNull, lit(0))
      .otherwise(pmod(xxhash64(saltSrc), col("nsalt")).cast("int"))

  private[graft] def corpusSalt: Column = corpusSalt(col("vec_id"))

  /** Occupancy-sidecar directory of a layout. Underscore-prefixed, so
    * partition discovery of the layout itself never sees it.
    */
  private def statsPath(path: String, key: String): String =
    s"$path/_stats_$key"

  /** Write the (key, n) occupancy sidecar of a just-written layout: ONE
    * column-pruned scan of the layout's key column at BUILD time (read
    * back from the written files, so the sidecar describes exactly what
    * probes will scan), amortized over every subsequent join — the skew
    * guard's per-invocation corpus aggregation moved to where the
    * corpus is already being paid for (r17 verdict "Next round" #1).
    */
  private[graft] def writeKeyStats(
      spark: SparkSession, path: String, key: String): Unit =
    keyOccupancy(spark.read.parquet(path).select(key), key)
      .coalesce(1)
      .write.mode("overwrite").parquet(statsPath(path, key))

  // ------------------------------------------------ build once, memoise
  /** Row count + order-insensitive `bit_xor(xxhash64(cols))` of a frame:
    * one cheap column-pruned scan, no shuffle (partial XORs combine
    * associatively map-side). The content key of every build-once
    * layout, memoised trainer and tombstone set — a mutated corpus gets
    * a fresh key, so stale layouts, books or probes are impossible.
    */
  private def fingerprint(df: DataFrame, cols: String = "vec_id, embedding"): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(expr(s"bit_xor(xxhash64($cols))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Hash of an index's float parameters (centroids, then `more`). */
  private def centroidHash(
      centroids: Array[Array[Float]], more: Iterator[Double] = Iterator.empty): Int =
    MurmurHash3.orderedHash(centroids.iterator.flatten.map(_.toDouble) ++ more)

  /** `baseDir/<name>_n<count>_fp<hex>[_ix<hex>]` — the build-once
    * directory of a layout over `corpus`; `ix` hashes the index (cells,
    * codebooks) so a retrained index never reuses old codes either.
    */
  private def layoutPath(
      corpus: DataFrame, baseDir: String, name: String, ix: Option[Int] = None): String = {
    val (n, fp) = fingerprint(corpus)
    s"$baseDir/${name}_n${n}_fp${java.lang.Long.toHexString(fp)}" +
      ix.fold("")(i => s"_ix${Integer.toHexString(i)}")
  }

  /** Run `write(dir)` unless `dir/_SUCCESS` exists, and return `dir` —
    * the gate of every build-once artifact (layouts, batch appends,
    * tombstones, stats sidecars): written ONCE per content and reused by
    * every later probe (a 100 TB layout write is a batch job, not a
    * per-query cost), and a crashed write without the marker is simply
    * overwritten on retry. Existence goes through Hadoop's FileSystem,
    * not java.io.File, so the contract holds on HDFS/S3 too. Concurrent
    * FIRST-build callers must be externally serialized — two writers
    * racing mode("overwrite") into one directory is not safe on any
    * filesystem; once _SUCCESS exists, readers never observe a write.
    */
  private def buildOnce(spark: SparkSession, dir: String)(write: String => Unit): String = {
    val success = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    if (!success.getFileSystem(spark.sessionState.newHadoopConf()).exists(success)) write(dir)
    dir
  }

  /** Driver-side memo of trained index parts (IVF centroids, PQ /
    * residual / per-cell / OPQ codebooks): an index is trained once per
    * corpus snapshot and probed many times. The key is
    * `head|count|fp|params…` — the corpus [[fingerprint]] is part of it,
    * so a corpus that mutates under a reused cache key retrains instead
    * of serving stale parts. One column-pruned scan per call is the
    * price, still far cheaper than rerunning Lloyd. Only driver-side
    * arrays are cached (no SparkSession/DataFrame references). Returns
    * (key, value) so each trainer records its own AnnOracle capture.
    */
  private val trainedCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()

  private def memoized[V <: AnyRef](
      kind: String, corpus: DataFrame, head: String, params: Any*)(train: => V): (String, V) = {
    val (n, fp) = fingerprint(corpus)
    val key = (Seq[Any](head, n, fp) ++ params).mkString("|")
    (key, trainedCache.computeIfAbsent((kind, key), _ => train).asInstanceOf[V])
  }

  /** Write `frame` PARTITIONED BY `key` — one parquet directory per key
    * value, so a probe for a few keys reads only those directories —
    * plus (with `stats`) the occupancy sidecar. Each key value's rows
    * are co-located before partitionBy: a direct map-side partitionBy
    * write opens one file per (task × value) — at cluster scale,
    * thousands of tasks × hundreds of values is the classic small-files
    * explosion, and every probe then pays per-file open overhead. One
    * cheap shuffle on the partition column caps the layout at ~one file
    * per value.
    */
  private def writePartitioned(
      frame: DataFrame, key: String, path: String, stats: Boolean = true): Unit = {
    frame.repartition(col(key)).write.mode("overwrite").partitionBy(key).parquet(path)
    if (stats) writeKeyStats(frame.sparkSession, path, key)
  }

  /** Bounded-probe partition pruning shared by the distributed joins:
    * the distinct probed-key set (bounded by the key space — nCells
    * cells / 2^nBits signatures) becomes a static `isin` on the
    * partition column, so unprobed layout directories contribute zero
    * I/O. The probe frame is executed twice — once here for the key
    * set, once inside the join — so every pruning caller first runs its
    * query frame through [[pinned]]: the rows both passes see are the
    * SAME materialized rows even for a nondeterministic
    * (rand()/sample()) query frame (r17 ADVICE #1 — the caveat used to
    * live in scaladoc only while pruning defaulted on).
    *
    * ADAPTIVE CUTOFF (r18): when the probed set covers ≥ half of
    * `keySpace` the isin would keep most directories anyway — it prunes
    * almost nothing while forcing the slower scan shape (per-value
    * partition filtering over hundreds of directories). The distinct
    * pass has already run at this point, so choosing the full scan is
    * free — diffuse query frames read the layout exactly like the
    * unpruned plan, clustered ones (two related corpora, a drifted
    * shard — the 100 TB case pruning exists for) keep the cut.
    */
  private def prunedLayout(
      layout: DataFrame, probed: DataFrame, key: String,
      keySpace: Int): DataFrame = {
    val keys = probed.select(key).distinct()
      .collect().map(_.getInt(0)) // bounded: ≤ |key space| values
    if (keys.isEmpty) layout.filter(lit(false))
    else if (2 * keys.length >= keySpace) layout
    else layout.filter(col(key).isin(keys.map(Integer.valueOf): _*))
  }

  /** One-materialization pin for a query frame the join will execute
    * twice (the [[prunedLayout]] key pass + the join itself): a LAZY
    * local checkpoint — the first pass materializes the rows
    * (MEMORY_AND_DISK on the executors, lineage truncated) and the
    * second reads them back, so a nondeterministic frame cannot probe
    * keys the pruning pass never saw, and the probe arithmetic is never
    * recomputed. Applied ONLY when the plan actually carries a
    * re-execution hazard ([[needsPin]]) — a deterministic query frame
    * (the overwhelmingly common case) pays nothing; checkpoint storage
    * is freed by the ContextCleaner when the plan is garbage-collected.
    */
  private def pinned(queries: DataFrame): DataFrame =
    if (needsPin(queries)) queries.localCheckpoint(eager = false) else queries

  /** True when the frame's plan contains a nondeterministic expression
    * or a sampling operator — the dual-execution hazard [[pinned]]
    * guards (rand() columns, sample() frames; conservative: scalar
    * subqueries with nondeterministic interiors are not walked, but
    * those are already nondeterministic at the outer expression when
    * Spark marks them so).
    */
  private def needsPin(queries: DataFrame): Boolean = {
    val plan = queries.queryExecution.analyzed
    plan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Sample => true
      case p => p.expressions.exists(e => e.exists(!_.deterministic))
    }
  }

  // Driver-side hot-set memo: the sidecar's HOT rows (occupancy > cap)
  // per (layout path, key, cap, stats-marker mtime) — the mtime keys
  // out a rewritten layout, so a stale hot set is impossible while warm
  // re-invocations (the per-query lifecycle of a standing index) pay
  // one FS metadata call instead of a Spark job. Values are bounded by
  // keyspace/cap — a handful of rows.
  private val hotStatsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int, Long), Array[(Int, Long)]]()

  /** The hot (key, nsalt) rows of a layout's occupancy sidecar,
    * resolved DRIVER-SIDE (bounded by construction: keys with more than
    * `hotKeyCap` corpus rows — at most keyspace/cap of them). Backfills
    * the sidecar once for pre-sidecar layouts; memoized on the sidecar
    * marker's mtime thereafter, so repeated joins over a standing
    * layout run zero stats jobs. The nsalt arithmetic is the same
    * `min(maxSalt, ceil(n / cap))` as [[hotKeys]].
    */
  private[graft] def hotKeysOf(
      spark: SparkSession, path: String, key: String,
      hotKeyCap: Int, maxSalt: Int): Seq[(Int, Int)] = {
    val sp = buildOnce(spark, statsPath(path, key))(_ => writeKeyStats(spark, path, key))
    val success = new org.apache.hadoop.fs.Path(sp, "_SUCCESS")
    val mtime = success.getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(success).getModificationTime
    val hot = hotStatsCache.computeIfAbsent((sp, key, hotKeyCap, mtime),
      _ => spark.read.parquet(sp).filter(col("n") > hotKeyCap)
        .select(col(key), col("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1))))
    hot.toSeq.map { case (k, n) =>
      (k, math.min(maxSalt.toLong, math.ceil(n.toDouble / hotKeyCap).toLong).toInt)
    }
  }

  /** The Hamming-≤probeBits probe ball as NATIVE column arithmetic over
    * a kernel signature — the [[lshJoin]] probe side of [[LshProbe.Ball]],
    * where the query frame is corpus-sized by contract: the ball's XOR
    * masks are a pure function of (nBits, probeBits) —
    * `probeSignatures(0, …)`, the zero-signature ball — so they ride the
    * plan as one literal int array and each per-row probe is a single
    * integer XOR on top of the codegen'd
    * [[graft.expressions.LshSignature]]. Set-identical to
    * `probeSignatures(sig, …)` (the ball is an XOR-shift of the zero
    * ball; spec-pinned), and the bucket join is order-insensitive.
    * A null embedding yields null probe elements — the join filters
    * `isNotNull` where the UDF form returned an empty array.
    */
  private def probeBallCol(sig: Column, nBits: Int, probeBits: Int): Column = {
    val masks = probeSignatures(0, nBits, probeBits).toArray
    transform(typedLit(masks), m => sig.bitwiseXOR(m))
  }

  /** The probe of every LSH entry point: which signature the corpus is
    * bucketed by and which buckets a query reads. Its cases are exactly
    * the three the engine serves:
    *
    *  - [[LshProbe.Ball]] — murmur hyperplanes (the scale default), the
    *    Hamming-≤probeBits ball of [[probeSignatures]];
    *  - [[LshProbe.Adaptive]] — murmur hyperplanes, the `nProbes`
    *    margin-ordered buckets of [[adaptiveProbes]] (Lv et al., VLDB
    *    2007): the probe count IS the bucket-read cost, and the Verify
    *    gate holds it to a HIGHER recall floor than the Hamming tier at
    *    under half the probes (16 vs the 37-bucket Hamming-2 ball);
    *  - [[LshProbe.Portable]] — the squared-Lehmer signature
    *    ([[Dedup.portableSignature]]) with the Hamming ball and a
    *    6-dp-floored rerank cosine: every stage is exactly reproducible
    *    in ANSI SQL, so the WHOLE approximate path is hash-checked by the
    *    oracle (`ann_lsh_portable`, `ann_lsh_partitioned`) — the
    *    verification twin of the murmur tier, oracle-checked the way
    *    [[Dedup.minHashLshPairsPortable]] is.
    *
    * A layout written under one probe serves every probe of the same
    * signature family and `nBits`.
    */
  sealed trait LshProbe { def nBits: Int }
  object LshProbe {
    final case class Ball(nBits: Int = 8, probeBits: Int = 1) extends LshProbe
    final case class Adaptive(nBits: Int = 8, nProbes: Int = 16) extends LshProbe
    final case class Portable(nBits: Int = 8, probeBits: Int = 1) extends LshProbe
  }

  private def isPortable(p: LshProbe): Boolean = p.isInstanceOf[LshProbe.Portable]

  /** Corpus-side signature column: the murmur CODEGEN kernel
    * ([[graft.expressions.LshSignature]] — bit-identical to
    * [[signature]], spec-pinned; corpus-sized signature sites stop
    * paying per-row `Seq[Float]` boxing) or the portable UDF. Null
    * embeddings stay null.
    */
  private def sigCol(p: LshProbe)(v: Column): Column =
    if (isPortable(p)) {
      val sigU = udf((e: Seq[Float]) =>
        if (e == null) null else Integer.valueOf(Dedup.portableSignature(e, p.nBits)))
      sigU(v)
    } else VectorExpressions.lshSignature(v, p.nBits)

  /** The probe buckets of one query vector (driver side, and inside
    * [[probesUdf]]).
    */
  private def probesOf(p: LshProbe)(v: Seq[Float]): Seq[Int] = p match {
    case LshProbe.Ball(n, b) => probeSignatures(signature(v, n), n, b)
    case LshProbe.Adaptive(n, np) => adaptiveProbes(v, n, np).toSeq
    case LshProbe.Portable(n, b) => probeSignatures(Dedup.portableSignature(v, n), n, b)
  }

  /** [[probesOf]] per row (empty on null) — the bounded probe batches of
    * [[lshTopK]], where boxing is irrelevant, and the join-side probe of
    * the margin-adaptive and portable cases, whose probe SET differs per
    * query and so cannot ride the plan as literal masks.
    */
  private def probesUdf(p: LshProbe) =
    udf((v: Seq[Float]) => if (v == null) Array.empty[Int] else probesOf(p)(v).toArray)

  /** LSH-bucketed top-k: join queries to corpus on the probed signature
    * buckets (the probed query frame is broadcast — right for request
    * batches), exact-rerank candidates. `queries(query_id, q_embedding)`,
    * `corpus(vec_id, embedding)`.
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      probe: LshProbe = LshProbe.Ball()): DataFrame = {
    val bucketed = corpus.withColumn("sig", sigCol(probe)(col("embedding")))
    val probed = queries.withColumn("sig", explode(probesUdf(probe)(col("q_embedding"))))
    cosineTopK(bucketed.join(broadcast(probed), "sig"), k, isPortable(probe))
  }

  /** Write the corpus PARTITIONED BY its LSH signature bucket — the
    * physical layout that turns [[lshTopK]]'s candidate pruning into a
    * file-level skip at 100 TB: a probe for a handful of signatures
    * reads only those directories and the rest of the corpus contributes
    * zero I/O. One-time layout cost, amortized over every later query.
    */
  def writeSignaturePartitioned(
      corpus: DataFrame, path: String, probe: LshProbe = LshProbe.Ball()): Unit =
    writePartitioned(corpus.withColumn("sig", sigCol(probe)(col("embedding"))), "sig", path)

  /** Build-once [[writeSignaturePartitioned]] layout under a
    * fingerprint-keyed directory — the index-build half of partitioned
    * ANN: repeated calls over an unchanged corpus return the existing
    * directory, a mutated corpus gets a fresh one. The murmur (`sigm`)
    * and portable (`sig`) families never share a directory. Returns the
    * layout path for [[lshTopKPartitioned]] / [[lshJoin]].
    */
  def signaturePartitionedLayout(
      spark: SparkSession,
      corpus: DataFrame,
      baseDir: String,
      probe: LshProbe = LshProbe.Ball()): String = {
    val family = if (isPortable(probe)) "sig" else "sigm"
    buildOnce(spark, layoutPath(corpus, baseDir, s"$family${probe.nBits}"))(
      writeSignaturePartitioned(corpus, _, probe))
  }

  /** [[lshTopK]] over a [[writeSignaturePartitioned]] layout. The probe
    * signature set is tiny and driver-known (nQueries × probe fan-out),
    * so it becomes a STATIC `isin` filter on the partition column —
    * genuine `PartitionFilters` pruning, not a post-scan filter —
    * followed by the same broadcast candidate join and rerank. The probe
    * count IS the directory read count here, so [[LshProbe.Adaptive]]
    * reads 16 of 256 directories where the Hamming-2 ball reads 37.
    * Results are identical to the in-memory [[lshTopK]] with the same
    * probe (spec-asserted), so the portable form hash-matches the
    * `ann_lsh_portable` SQL mirror.
    */
  def lshTopKPartitioned(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      probe: LshProbe = LshProbe.Ball()): DataFrame =
    partitionedTopK(spark, path, queries, k, "sig", probesOf(probe), isPortable(probe))

  /** The driver-side probe batch over a layout partitioned by `key`
    * (LSH signature or IVF cell): queries are collected (bounded probe
    * batches by contract), their probe keys become a static `isin` on
    * the partition column, and the probed frame is broadcast into the
    * candidate join before the cosine rerank.
    */
  private def partitionedTopK(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      key: String,
      keysOf: Seq[Float] => Seq[Int],
      floorSim: Boolean): DataFrame = {
    import spark.implicits._
    val probes: Seq[(Long, Int)] =
      queries.select("query_id", "q_embedding").collect().toSeq.flatMap { r =>
        keysOf(r.getSeq[Float](1)).map(s => (r.getLong(0), s))
      }
    val corpus = spark.read.parquet(path).filter(col(key).isin(probes.map(_._2).distinct: _*))
    val probed = probes.toDF("query_id", key)
      .join(queries, "query_id") // re-attach q_embedding (queries are small)
    cosineTopK(corpus.join(broadcast(probed), key), k, floorSim)
  }

  /** Largest key space whose probed-key set [[keyJoin]] collects to the
    * driver for partition pruning (2^12 values: 12-bit signatures, or
    * 4096 cells).
    */
  private val MaxPruneKeys = 1 << 12

  /** The distributed key-join core of every ANN similarity JOIN
    * ([[lshJoin]], [[ivfJoin]], [[ivfPqJoin]]): top-k neighbors for EVERY
    * row of an arbitrarily large query frame. `probe` explodes each
    * query row into its probed keys (signature buckets or cells, plus
    * whatever the scorer needs), and candidates come from a plain
    * equi-join on the key, so BOTH sides shuffle by the key and scored
    * pairs stay O(queries × probed-key occupancy), never
    * queries × corpus — the corpus-vs-corpus shape (near-dup between two
    * corpora, nightly batch retrieval) where a broadcast would not fit.
    *
    * Partition-pruned corpus read (r16 verdict next #6): the layout is
    * PARTITIONED BY the key, but partition VALUES are not shuffle
    * partitioning, so the directories buy nothing by themselves. What
    * they CAN buy is scan pruning: when `prune` is on and the key space
    * is at most [[MaxPruneKeys]] (a bounded collect — the driver-side
    * discipline every layout probe follows), one map-side distinct over
    * the probe frame turns the corpus read into a static `isin` on the
    * partition column ([[prunedLayout]]); the query frame is [[pinned]]
    * because it then executes twice. A larger key space falls back to
    * the full-layout join.
    *
    * Hot-key salting (see [[saltedKeyJoin]]): a degenerate bucket or a
    * dense cluster in one cell is the ANN analog of the MinHash hub;
    * results are identical, the hot key's pairs just land on nsalt
    * partitions. The hot set resolves DRIVER-SIDE from the layout's
    * build-time sidecar ([[hotKeysOf]], memoized on the sidecar mtime) —
    * when nothing is hot the plan IS the plain equi-join.
    */
  private def keyJoin(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      key: String,
      keySpace: Int,
      hotKeyCap: Int,
      maxSalt: Int,
      prune: Boolean)(probe: DataFrame => DataFrame): DataFrame = {
    val pruneOn = prune && keySpace <= MaxPruneKeys
    val probed = probe(if (pruneOn) pinned(queries) else queries)
    val layout0 = spark.read.parquet(path)
    val layout = if (pruneOn) prunedLayout(layout0, probed, key, keySpace) else layout0
    saltedKeyJoin(layout, probed, key, hotKeyCap, maxSalt,
      hotKeysOf(spark, path, key, hotKeyCap, maxSalt))
  }

  /** LSH similarity JOIN over a [[writeSignaturePartitioned]] /
    * [[signaturePartitionedLayout]] layout — the [[keyJoin]] form of the
    * LSH tier: [[lshTopK]] BROADCASTS the probed query frame and
    * [[lshTopKPartitioned]] collects it; this form does neither. The
    * Hamming ball rides the plan as literal XOR masks
    * ([[probeBallCol]]); the adaptive probe runs per row, giving
    * corpus-vs-corpus retrieval an EXPLICIT probe budget (at 100 TB the
    * scored-pair count is probes × bucket occupancy, and margin-ordered
    * probes buy better recall at equal pair budget — Verify measures and
    * gates this against the fixed ball). Row-identical to [[lshTopK]]
    * with the same probe (spec-pinned and Verify-gated by exact
    * equality), and hash-checked end-to-end via the AnnOracle murmur
    * replays.
    */
  def lshJoin(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      probe: LshProbe = LshProbe.Ball(),
      hotKeyCap: Int = 1 << 20,
      maxSalt: Int = 64,
      prune: Boolean = true): DataFrame = {
    val probesCol: Column => Column = probe match {
      case LshProbe.Ball(n, b) => q => probeBallCol(VectorExpressions.lshSignature(q, n), n, b)
      case _ => probesUdf(probe)(_)
    }
    cosineTopK(
      keyJoin(spark, path, queries, "sig", 1 << probe.nBits, hotKeyCap, maxSalt, prune)(
        _.withColumn("sig", explode(probesCol(col("q_embedding"))))
          .filter(col("sig").isNotNull)
          .select("query_id", "sig", "q_embedding")),
      k, isPortable(probe))
  }

  // ----------------------------------------------------------------- IVF
  /** Deterministic Lloyd's k-means over a HASH-SAMPLE of the corpus
    * (small driver-side centroid set; assignment is distributed). Lloyd
    * only needs enough points per cell to place centroids — re-scanning
    * 100 TB per iteration buys nothing — so the iterations run over a
    * deterministic murmur-hash sample (`pmod(hash(vec_id), d) < n`, no
    * RNG state, stable across runs and partitionings) and only the FINAL
    * cell assignment does one full-corpus pass. Seeds = vectors of the
    * `nCells` smallest sampled vec_ids. Falls back to the full corpus
    * when the sample holds fewer than `16 * nCells` points — below ~16
    * points per cell the sampled centroids get noisy enough to cost
    * probe recall (measured: 1.0 → 0.8 on the 500-vector sf0.01 corpus
    * with a 125-point sample), and a corpus that small never needed
    * sampling anyway. Total cost: maxIter sample passes + 1 full pass,
    * vs (maxIter + 1) full passes before.
    * Returns (centroids, corpus + cell column).
    */
  def buildIvf(
      spark: SparkSession,
      corpus: DataFrame,
      nCells: Int,
      maxIter: Int = 5,
      sampleNum: Int = 1,
      sampleDenom: Int = 4): (Array[Array[Float]], DataFrame) = {
    val sampled = corpus.filter(
      pmod(hash(col("vec_id")), lit(sampleDenom)) < lit(sampleNum))
    // Cache only the (much smaller) Lloyd working set for the build;
    // unpersisted before returning so no executor storage stays pinned.
    val cached = (if (sampleNum >= sampleDenom) sampled
                  else if (sampled.count() >= 16L * nCells) sampled
                  else corpus).cache()
    val seeds = cached.orderBy("vec_id").limit(nCells)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    var centroids = seeds
    val dim = centroids.head.length

    var iter = 0
    while (iter < maxIter) {
      val assigned = assignCells(cached, centroids)
      val means = assigned.groupBy("cell")
        .agg(array((0 until dim).map(i =>
          avg(col("embedding").getItem(i))): _*).as("centroid"))
        .collect()
        .map(r => r.getAs[Int]("cell") -> r.getSeq[Double](1).map(_.toFloat).toArray)
        .toMap
      centroids = centroids.indices.map(c => means.getOrElse(c, centroids(c))).toArray
      iter += 1
    }
    cached.unpersist()
    (centroids, assignCells(corpus, centroids))
  }

  /** Attach each corpus vector's nearest-centroid cell id — ONE
    * codegen'd expression per row ([[VectorExpressions.ivfCellAssign]]).
    * The closure-UDF form this replaced deserialized every embedding to
    * a boxed `Seq[Float]`; at the 10⁶-vector layout build that boxing
    * was 326.5 s of the 437.7 s total (r15 `ann_build` evidence leg).
    * Assignments are bit-identical (same IEEE op order, same strict-`>`
    * first-maximizer and zero-denominator rules — spec-pinned against
    * the closure in VectorExpressionsSpec, and every hash-green IVF
    * oracle row replays them).
    */
  def assignCells(corpus: DataFrame, centroids: Array[Array[Float]]): DataFrame =
    corpus.withColumn("cell",
      VectorExpressions.ivfCellAssign(col("embedding"), centroids))

  /** The closure form [[assignCells]] compiled before r16 — kept ONLY as
    * the bit-identity reference for VectorExpressionsSpec (the spec pins
    * kernel == closure on adversarial vectors; production paths all go
    * through the kernel).
    */
  private[graft] def assignCellsClosure(
      corpus: DataFrame, centroids: Array[Array[Float]]): DataFrame = {
    val dim = centroids.head.length
    val assign = udf { (v: Seq[Float]) =>
      var best = 0; var bestSim = Double.MinValue
      var c = 0
      while (c < centroids.length) {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < dim) {
          val x = v(i).toDouble; val y = centroids(c)(i).toDouble
          dot += x * y; na += x * x; nb += y * y
          i += 1
        }
        val den = math.sqrt(na) * math.sqrt(nb)
        val sim = if (den == 0) 0.0 else dot / den
        if (sim > bestSim) { bestSim = sim; best = c }
        c += 1
      }
      best
    }
    corpus.withColumn("cell", assign(col("embedding")))
  }

  /** [[buildIvf]] with the Lloyd result [[memoized]] under `cacheKey`
    * plus the corpus content fingerprint (the r4 contract: a corpus that
    * mutates under a reused key is never served stale centroids). Only
    * the centroid arrays are cached; the cell assignment is re-derived
    * lazily from whatever session asks. Callers that cannot afford the
    * fingerprint scan per probe batch should hold the returned centroids
    * themselves and manage the index lifecycle via [[buildIvf]].
    */
  def buildIvfCached(
      spark: SparkSession,
      corpus: DataFrame,
      cacheKey: String,
      nCells: Int,
      maxIter: Int = 5): (Array[Array[Float]], DataFrame) = {
    val (key, centroids) = memoized("ivf", corpus, cacheKey, nCells, maxIter)(
      buildIvf(spark, corpus, nCells, maxIter)._1)
    graft.AnnOracle.captureCentroids(key, centroids)
    (centroids, assignCells(corpus, centroids))
  }

  /** The `nProbe` nearest centroid cells of one vector (by cosine,
    * centroid index as the deterministic tiebreak) — shared by the
    * distributed probe UDF and the driver-side partitioned probe.
    */
  def nearestCells(
      v: Seq[Float], centroids: Array[Array[Float]], nProbe: Int): Array[Int] = {
    val dim = centroids.head.length
    centroids.indices.map { c =>
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < dim) {
        val x = v(i).toDouble; val y = centroids(c)(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      (if (den == 0) 0.0 else dot / den, c)
      // `sim + 0.0` maps -0.0 to +0.0 BEFORE negating: Scala's total
      // Double ordering ranks -0.0 < +0.0, so a raw `-sim` would order a
      // +0.0 sim (negated to -0.0) ahead of a -0.0 sim regardless of the
      // cell tiebreak, while the oracle's ORDER BY sim DESC, c treats
      // ±0.0 as equal (r15 ADVICE). With the normalization both zeros
      // negate to -0.0 and the cell index decides, matching the SQL.
    }.sortBy(p => (-(p._1 + 0.0), p._2)).take(nProbe).map(_._2).toArray
  }

  /** Write the corpus PARTITIONED BY its IVF cell — the physical layout
    * the [[ivfTopK]] scaladoc promises at scale: each cell becomes a
    * parquet partition directory, so a probe for `nProbe` cells reads
    * only those directories. The LSH twin is
    * [[writeSignaturePartitioned]]; same one-time build, amortized over
    * every query.
    */
  def writeCellPartitioned(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      path: String): Unit =
    writePartitioned(assignCells(corpus, centroids), "cell", path)

  /** Build-once [[writeCellPartitioned]] layout under a
    * fingerprint-keyed directory ([[buildOnce]]) — the registered probe
    * target of the ANN top-k optimizer rule
    * ([[graft.plans.AnnTopKRewrite]]): corpus rows plus the `cell`
    * partition column, so a rewritten brute-force top-k recomputes the
    * exact same cosine over only the probed cells' directories.
    */
  def cellLayout(
      spark: SparkSession,
      corpus: DataFrame,
      baseDir: String,
      centroids: Array[Array[Float]]): String =
    buildOnce(spark, layoutPath(corpus, baseDir, s"cells${centroids.length}",
      Some(centroidHash(centroids))))(writeCellPartitioned(corpus, centroids, _))

  /** [[ivfTopK]] over a [[writeCellPartitioned]] layout: probe cells are
    * computed driver-side from the tiny centroid set, so the cell filter
    * is a STATIC `isin` on the partition column — genuine
    * `PartitionFilters` pruning (spec-asserted), not a post-scan filter —
    * followed by the same broadcast candidate join and exact cosine
    * rerank ([[partitionedTopK]], shared with [[lshTopKPartitioned]]).
    * Results are identical to the in-memory [[ivfTopK]] with the same
    * centroids and parameters.
    */
  def ivfTopKPartitioned(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      k: Int,
      nProbe: Int = 3): DataFrame =
    partitionedTopK(spark, path, queries, k, "cell",
      nearestCells(_, centroids, nProbe).toSeq, floorSim = false)

  /** IVF top-k: each query probes its `nProbe` nearest cells, exact-reranks
    * within them. Cell filtering happens before any scoring — at scale the
    * corpus is partitioned by cell ([[writeCellPartitioned]] /
    * [[ivfTopKPartitioned]]) so probes touch only those partitions.
    */
  def ivfTopK(
      queries: DataFrame,
      assignedCorpus: DataFrame,
      centroids: Array[Array[Float]],
      k: Int,
      nProbe: Int = 3): DataFrame = {
    val probeUdf = udf { (v: Seq[Float]) => nearestCells(v, centroids, nProbe) }
    val probed = queries.withColumn("cell", explode(probeUdf(col("q_embedding"))))
    cosineTopK(assignedCorpus.join(broadcast(probed), "cell"), k)
  }

  /** The `ann_ivf_join_adaptive` operating point — ONE source of truth
    * shared by the SparkEntry registration, the AnnOracle mirror's
    * probe CTE, and the Verify budget/recall gate (the
    * [[graft.plans.AnnRulePoints]] discipline for the join tier). The
    * ratio is exactly representable in binary so the literal is the
    * same double in Scala, generated Java, and the DuckDB mirror.
    */
  val IvfJoinAdaptiveProbeMax = 5
  val IvfJoinAdaptiveRatio = 1.5

  /** The cell probe of the IVF similarity joins ([[ivfJoin]],
    * [[ivfPqJoin]]), evaluated per query row by a CODEGEN kernel (the
    * query side is corpus-sized by contract, so per-row Seq boxing is
    * the same class the IvfCellAssign kernel removed from the corpus
    * side):
    *
    *  - [[CellProbe.Nearest]] — the `nProbe` nearest cells
    *    ([[VectorExpressions.ivfCellProbes]], bit-identical to
    *    [[nearestCells]]);
    *  - [[CellProbe.Adaptive]] — a QUERY-ADAPTIVE budget (dynamic
    *    nProbe, the IVF analog of [[LshProbe.Adaptive]]): best-first
    *    cells only while the cell's cosine distance stays within
    *    `ratio ×` the best cell's, capped at `nProbeMax`
    *    ([[VectorExpressions.ivfCellProbesAdaptive]] — the cut runs
    *    inside the kernel, so it costs exactly the fixed kernel's
    *    arithmetic). A query deep inside one cell pays a single probe; a
    *    boundary query spends the full cap where recall is at risk — at
    *    equal AVERAGE probe budget it dominates the fixed form (measured
    *    and gated in Verify). The rule is rank-monotone, so the DuckDB
    *    mirror replays it as a rank + distance-ratio predicate over the
    *    same captured-centroid arithmetic (hash-checked end to end).
    */
  sealed trait CellProbe
  object CellProbe {
    final case class Nearest(nProbe: Int = 3) extends CellProbe
    final case class Adaptive(
        nProbeMax: Int = IvfJoinAdaptiveProbeMax,
        ratio: Double = IvfJoinAdaptiveRatio) extends CellProbe
  }

  /** The exploded probed-cell column of `q_embedding` under `probe`. */
  private def probedCells(probe: CellProbe, centroids: Array[Array[Float]]): Column =
    explode(probe match {
      case CellProbe.Nearest(n) =>
        VectorExpressions.ivfCellProbes(col("q_embedding"), centroids, n)
      case CellProbe.Adaptive(n, r) =>
        VectorExpressions.ivfCellProbesAdaptive(col("q_embedding"), centroids, n, r)
    })

  /** Exact-cosine IVF similarity JOIN over a [[writeCellPartitioned]] /
    * [[cellLayout]] layout — the [[keyJoin]] form of the plain
    * (un-quantized) IVF tier, which is the tier users reach first for
    * corpus-vs-corpus shapes (near-dup between two large corpora,
    * nightly batch retrieval; reference analog chroma_utils.py:237-263
    * applied corpus-wide). [[ivfTopKPartitioned]] collects its queries
    * driver-side (fine for bounded probe batches); this form keeps them
    * DISTRIBUTED and reranks by the exact codegen cosine within the
    * probe. Row-identical to [[ivfTopK]]/[[ivfTopKPartitioned]] at the
    * same centroids and nProbe (spec-pinned and Verify-gated by exact
    * equality); like them it does not exclude self-matches.
    */
  def ivfJoin(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      k: Int,
      probe: CellProbe = CellProbe.Nearest(),
      hotKeyCap: Int = 1 << 20,
      maxSalt: Int = 64,
      prune: Boolean = true): DataFrame =
    cosineTopK(
      keyJoin(spark, path, queries, "cell", centroids.length, hotKeyCap, maxSalt, prune)(
        _.withColumn("cell", probedCells(probe, centroids))
          .select("query_id", "cell", "q_embedding")),
      k)

  /** Per-vector symmetric int8 quantization: scale by 127/max|x| and
    * floor. 4× less storage/bandwidth than float32 — at 100 TB the
    * quantized corpus is what streams through the similarity scan, with
    * float re-rank only on the survivors. Pure column arithmetic
    * (`floor`, not a round mode that differs between engines), so the
    * whole quantize → integer-dot → top-k path is oracle-checkable.
    * Emits (vec_id, qv int8-range longs, qnorm2).
    */
  def quantizeInt8(vecs: DataFrame): DataFrame =
    vecs
      .withColumn("maxabs", array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .filter(col("maxabs") > 0) // zero vectors have no direction to keep
      .withColumn("qv", transform(col("embedding"),
        x => floor(x.cast("double") * 127 / col("maxabs")).cast("long")))
      .withColumn("qnorm2", aggregate(col("qv"), lit(0L), (acc, x) => acc + x * x))
      .select("vec_id", "qv", "qnorm2")

  /** The documented follow-on to [[quantizedTopK]]: int8 coarse scan →
    * over-fetch `k * overfetch` candidates per query → exact float-cosine
    * rerank of just those → final top-k. This is the production shape at
    * 100 TB: the 4×-smaller code table is the only thing that streams;
    * the float vectors are touched for `nQueries × k × overfetch` rows
    * via id equi-joins. Both stages are deterministic (floored scores +
    * vec_id tiebreaks), so the whole two-stage path is oracle-checkable —
    * unlike LSH/IVF there is no approximation blind spot: the only error
    * source is a true neighbor falling outside the coarse over-fetch,
    * which the exactness spec pins.
    */
  def quantizedTopKReranked(
      quantized: DataFrame,
      vecs: DataFrame,
      nQueries: Int,
      k: Int,
      overfetch: Int = 4): DataFrame = {
    val coarse = quantizedTopK(quantized, nQueries, k * overfetch)
      .select("query_id", "vec_id")
    rankTopK(coarse
      .join(vecs.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")), "query_id")
      .join(vecs.select(col("vec_id"), col("embedding").as("c_emb")), "vec_id")
      .withColumn("sim", graft.functions.TextAnalysis.floorScale(
        VectorExpressions.cosineSim(col("q_emb"), col("c_emb")), 6)), k)
  }

  /** Per-subspace squared-distance array of `vec`'s subspace-`s` slice
    * to every centroid of `cents`, as ONE compact higher-order
    * expression: the codebook rides the plan as a `typedLit` array and
    * `transform`/`zip_with`/`aggregate` do the k*×dsub arithmetic.
    * Unrolling the same math as literal per-centroid expressions (the
    * first-cut shape) costs ~k*×dsub Catalyst nodes PER SUBSPACE —
    * ~10k-node trees at m=8/k*=16 whose analysis+optimization dominated
    * the query at ~5 s per run, planning, not compute. The HOF form is
    * O(1) nodes per subspace; the fold order (left fold seeded at 0.0,
    * per-subspace sums first) is bit-identical to the unrolled form, so
    * the hash-exact oracle mirror of `ann_pq_adc_topk` is unaffected.
    */
  private def subspaceDists(
      cents: Seq[Seq[Double]], vec: Column, s: Int, dsub: Int): Column = {
    val sub = slice(vec, s * dsub + 1, dsub)
    transform(typedLit(cents.map(_.toSeq)), cent =>
      aggregate(
        zip_with(sub, cent, (x, c) => { val d = x.cast("double") - c; d * d }),
        lit(0.0d), (acc, v) => acc + v))
  }

  /** The `m` PQ code columns (`code_s` = argmin-distance centroid, ties
    * to the lowest code) for a frame with an `embedding` column — shared
    * by [[pqEncode]] and every layout writer. Each code is ONE codegen'd
    * expression ([[graft.expressions.VectorExpressions.pqSubspaceCode]])
    * — the HOF argmin tree it replaces was CodegenFallback and paid
    * k*×dsub interpreted, boxed ops per row per subspace, the dominant
    * cost of a corpus-scale layout build. Codes are bit-identical (same
    * IEEE op order, same lowest-code tie rule — the hash-exact oracle
    * mirror of `ann_pq_adc_topk` exercises encode end-to-end).
    */
  private def pqCodeCols(codebooks: Seq[Seq[Seq[Double]]]): Seq[Column] = {
    val dsub = codebooks.head.head.length
    codebooks.zipWithIndex.map { case (cents, s) =>
      VectorExpressions.pqSubspaceCode(
        col("embedding"), cents.flatten, dsub, s * dsub)
        .as(s"code_$s")
    }
  }

  /** Product-quantization encode: `codebooks(s)(c)` is centroid `c` of
    * subspace `s`, every centroid `dsub`-dimensional; the first
    * `m * dsub` dimensions of `embedding` are encoded as `m` small codes
    * (`code_s` = argmin-distance centroid, ties to the lowest code).
    * Entirely native column arithmetic — subtract/square/sum per
    * centroid, `array_position(…, array_min(…))` for the argmin — so
    * encoding is codegen'd, deterministic, and exactly reproducible in
    * ANSI SQL (the argmin tie rule is `ORDER BY dist, code`).
    *
    * At 100 TB this is the memory math that matters: a 64-dim float
    * vector is 256 bytes; its PQ form is `m` bytes (m=8..16 with
    * k*=256 centroids/subspace) — a 16–32× compression of the table the
    * similarity scan streams, beyond int8's fixed 4×. Codebooks are
    * trained per subspace on a corpus sample (the same hash-sampled
    * Lloyd machinery as [[buildIvf]], run `m` times on `dsub`-dim
    * slices) and ride the plan as literals/broadcast exactly like IVF
    * centroids — the fixed literal codebooks here keep the operator
    * oracle-checkable end to end.
    */
  def pqEncode(vecs: DataFrame, codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    vecs.select(col("vec_id") +: pqCodeCols(codebooks): _*)

  /** Train PQ codebooks: per-subspace Lloyd k-means under SQUARED
    * EUCLIDEAN distance — the metric [[pqAdcTopK]] scores with (IVF's
    * cosine cells would optimize the wrong objective). The training set
    * is the same `pmod(hash(vec_id))` sample rule as [[buildIvf]]
    * (falling back to the full corpus when the sample is thinner than 16
    * points per centroid), seeds are the lowest-vec_id subvectors, and
    * assignment ties take the lowest centroid. Each subspace trains
    * independently on its `dsub`-dim slice — m small Lloyd problems
    * instead of one `m*dsub`-dim one, which is the whole reason PQ
    * codebooks stay trainable on a sample while full-dim k-means at the
    * same code budget (k*^m effective cells) would be hopeless.
    *
    * The m per-subspace problems share every Lloyd iteration as ONE
    * Spark job: the sample is exploded once into (subspace, subvector)
    * rows and each iteration aggregates means per `(s, cell)` in a
    * single pass — maxIter + 2 jobs total (count + seeds + iterations)
    * instead of m independent loops (~m × maxIter jobs), the same math
    * on the same rows. Driver state is `m × k* × dsub` doubles — a few
    * KB riding the closure exactly like IVF centroids.
    *
    * Determinism: seeds, sampling and assignment ties are all
    * hash/order-defined, so training is exactly reproducible for a
    * FIXED session configuration (spec-pinned). The centroid update is
    * `avg` over shuffled partial aggregates, so last-bit float values
    * can differ across cluster layouts (partition counts / cpu counts) —
    * reproducibility is per-config, not cross-config; cross-config
    * consumers should persist the trained books rather than retrain.
    */
  def trainPqCodebooks(
      corpus: DataFrame,
      m: Int,
      dsub: Int,
      kStar: Int,
      maxIter: Int = 5,
      sampleNum: Int = 1,
      sampleDenom: Int = 4): Seq[Seq[Seq[Double]]] = {
    val sampled = corpus.filter(
      pmod(hash(col("vec_id")), lit(sampleDenom)) < lit(sampleNum))
    val base = (if (sampleNum >= sampleDenom) sampled
                else if (sampled.count() >= 16L * kStar) sampled
                else corpus)
      .select(col("vec_id"), col("embedding"))
    // One row per (vector, subspace): the per-iteration working set,
    // cached once — same total floats as the sample itself.
    val exploded = base.select(col("vec_id"),
      explode(array((0 until m).map(s =>
        struct(lit(s).as("s"),
          slice(col("embedding"), s * dsub + 1, dsub).as("sv"))): _*)).as("e"))
      .select(col("vec_id"), col("e.s").as("s"), col("e.sv").as("sv"))
      .cache()
    // Seeds for ALL subspaces from one pass: the kStar lowest-vec_id
    // sample rows, sliced per subspace driver-side — identical to
    // seeding each subspace from the same rows' dsub-dim slices.
    val seedRows = base.orderBy("vec_id").limit(kStar)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    // A corpus smaller than kStar yields fewer seeds — train what exists
    // (the old per-subspace loop's behavior: cents.length = min(kStar, n)).
    val kEff = seedRows.length
    var cents: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      seedRows.map(v => v.slice(s * dsub, s * dsub + dsub))
    }
    var iter = 0
    while (iter < maxIter) {
      val cs = cents // immutable copy for the closure
      val assign = udf { (s: Int, v: Seq[Float]) =>
        nearestSub(v.iterator.map(_.toDouble).toArray, 0, dsub, cs(s))
      }
      val means = exploded.withColumn("cell", assign(col("s"), col("sv")))
        .groupBy("s", "cell")
        .agg(array((0 until dsub).map(i => avg(col("sv").getItem(i))): _*).as("c"))
        .collect()
        .map(r => (r.getAs[Int]("s"), r.getAs[Int]("cell")) -> r.getSeq[Double](2).toArray)
        .toMap
      cents = Array.tabulate(m)(s => Array.tabulate(kEff)(c =>
        means.getOrElse((s, c), cents(s)(c))))
      iter += 1
    }
    exploded.unpersist()
    cents.map(_.map(_.toSeq).toSeq).toSeq
  }

  /** [[trainPqCodebooks]] [[memoized]] under `cacheKey` plus the corpus
    * content fingerprint: one cheap column-pruned scan per call replaces
    * the full Lloyd rerun — the PQ index is built once per corpus
    * snapshot and every ADC scan after that only pays encode+scan.
    */
  def trainPqCodebooksCached(
      corpus: DataFrame,
      cacheKey: String,
      m: Int,
      dsub: Int,
      kStar: Int,
      maxIter: Int = 5): Seq[Seq[Seq[Double]]] = {
    val (key, books) = memoized("pq", corpus, cacheKey, m, dsub, kStar, maxIter)(
      trainPqCodebooks(corpus, m, dsub, kStar, maxIter))
    graft.AnnOracle.globalBooks.put(key, books)
    books
  }

  // ------------------------------------------ OPQ: learned rotation tier
  //
  // Optimized Product Quantization (Ge et al., CVPR 2013): learn an
  // ORTHOGONAL rotation R applied before the subspace split, minimizing
  // Σ‖R·x − q(R·x)‖² by alternating (a) PQ codebook training on the
  // rotated sample with (b) the orthogonal-Procrustes rotation update
  // R = V·Uᵀ of Σ xᵢx̂ᵢᵀ = U·Σ·Vᵀ. Rotation redistributes variance and
  // decorrelates the m subspaces, which is the standard lift on the
  // ADC recall/cost frontier at overfetch=1 (the r10 verdict's next #3):
  // plain PQ pays for whatever axis alignment the raw embedding basis
  // happens to have; OPQ buys the best basis an orthogonal map can reach.
  //
  // Scale shape: training runs on the SAME bounded deterministic hash
  // sample as [[trainPqCodebooks]], wholly driver-local (a d×d Procrustes
  // per iteration — 64×64 doubles here; production d ≤ a few thousand
  // keeps this microseconds), exactly the precedent of driver-held IVF
  // centroids. The corpus-scale work — rotate + encode — stays one
  // map-only pass ([[rotated]] then [[pqEncode]]); queries rotate
  // driver-side. Euclidean (and cosine) geometry is rotation-invariant,
  // so recall vs the ORIGINAL-space exact top-k is directly comparable
  // with the un-rotated tiers.

  /** Gauss-Jordan inverse with partial pivoting (driver-local d×d).
    * None when numerically singular.
    */
  private def matInvert(a0: Array[Array[Double]]): Option[Array[Array[Double]]] = {
    val n = a0.length
    val a = a0.map(_.clone)
    val inv = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var c = 0
    while (c < n) {
      var piv = c
      var i = c + 1
      while (i < n) { if (math.abs(a(i)(c)) > math.abs(a(piv)(c))) piv = i; i += 1 }
      if (math.abs(a(piv)(c)) < 1e-12) return None
      val t = a(c); a(c) = a(piv); a(piv) = t
      val t2 = inv(c); inv(c) = inv(piv); inv(piv) = t2
      val p = a(c)(c)
      var j = 0
      while (j < n) { a(c)(j) /= p; inv(c)(j) /= p; j += 1 }
      i = 0
      while (i < n) {
        if (i != c) {
          val f = a(i)(c)
          if (f != 0.0) {
            var j2 = 0
            while (j2 < n) {
              a(i)(j2) -= f * a(c)(j2); inv(i)(j2) -= f * inv(c)(j2); j2 += 1
            }
          }
        }
        i += 1
      }
      c += 1
    }
    Some(inv)
  }

  /** Orthogonal POLAR factor of a square matrix via Higham's Newton
    * iteration `Q ← (Q + Q⁻ᵀ)/2` — converges quadratically to the U·Vᵀ
    * of the SVD for nonsingular input, which is exactly the
    * orthogonal-Procrustes maximizer trace(Q·H) needs. Deterministic
    * (fixed iteration cap + tolerance, pure driver arithmetic); None
    * when an iterate goes singular.
    */
  private def polarFactor(m0: Array[Array[Double]]): Option[Array[Array[Double]]] = {
    val n = m0.length
    var q = m0.map(_.clone)
    var it = 0
    var done = false
    while (it < 60 && !done) {
      val invT = matInvert(q) match {
        case None => return None
        case Some(x) => Array.tabulate(n, n)((i, j) => x(j)(i))
      }
      var delta = 0.0
      val next = Array.tabulate(n, n) { (i, j) =>
        val v = (q(i)(j) + invT(i)(j)) / 2
        delta = math.max(delta, math.abs(v - q(i)(j)))
        v
      }
      q = next
      if (delta < 1e-13) done = true
      it += 1
    }
    Some(q)
  }

  /** Driver-local per-subspace Lloyd over rotated sample rows — the
    * in-memory twin of [[trainPqCodebooks]]'s rule (seeds = first kEff
    * rows, ties → lowest centroid, empty cells keep their previous
    * centroid), run inside the OPQ alternation where a Spark job per
    * iteration would be pure overhead (the sample is ≤ a few thousand
    * rows by construction).
    */
  private def localPqTrain(
      ys: Array[Array[Double]], m: Int, dsub: Int, kStar: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    val kEff = math.min(kStar, ys.length)
    val books = Array.tabulate(m)(s =>
      Array.tabulate(kEff)(c => ys(c).slice(s * dsub, s * dsub + dsub)))
    var it = 0
    while (it < iters) {
      var s = 0
      while (s < m) {
        val sums = Array.fill(kEff, dsub)(0.0)
        val counts = Array.fill(kEff)(0L)
        ys.foreach { y =>
          val best = nearestSub(y, s, dsub, books(s))
          counts(best) += 1
          var j = 0
          while (j < dsub) { sums(best)(j) += y(s * dsub + j); j += 1 }
        }
        var c = 0
        while (c < kEff) {
          if (counts(c) > 0)
            books(s)(c) = Array.tabulate(dsub)(j => sums(c)(j) / counts(c))
          c += 1
        }
        s += 1
      }
      it += 1
    }
    books
  }

  /** The centroid of `cents` nearest (squared euclidean, ties → lowest)
    * to subspace `s` of `y` — the PQ assignment rule of every driver- and
    * UDF-side trainer and encoder.
    */
  private def nearestSub(
      y: Array[Double], s: Int, dsub: Int, cents: Array[Array[Double]]): Int = {
    var best = 0; var bd = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0; var j = 0
      while (j < dsub) { val x = y(s * dsub + j) - cents(c)(j); d += x * x; j += 1 }
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** PQ reconstruction of one rotated row under `books` (nearest
    * centroid per subspace, ties → lowest — the encode rule).
    */
  private def localPqReconstruct(
      y: Array[Double], books: Array[Array[Array[Double]]],
      m: Int, dsub: Int): Array[Double] = {
    val out = new Array[Double](m * dsub)
    var s = 0
    while (s < m) {
      val best = nearestSub(y, s, dsub, books(s))
      var j = 0
      while (j < dsub) { out(s * dsub + j) = books(s)(best)(j); j += 1 }
      s += 1
    }
    out
  }

  /** Eigendecomposition of a symmetric matrix by cyclic Jacobi sweeps —
    * deterministic driver-local d×d. Returns (eigenvalues, eigenvector
    * COLUMNS): `vecs(k)(j)` is component k of eigenvector j.
    */
  private def symEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone)
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var done = false
    while (sweep < 60 && !done) {
      var off = 0.0
      var p = 0
      while (p < n) {
        var q = p + 1
        while (q < n) { off = math.max(off, math.abs(a(p)(q))); q += 1 }
        p += 1
      }
      if (off < 1e-12) done = true
      else {
        p = 0
        while (p < n) {
          var q = p + 1
          while (q < n) {
            if (math.abs(a(p)(q)) > 1e-15) {
              val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
              val t = math.signum(theta) match {
                case 0.0 => 1.0 / (math.abs(theta) + math.sqrt(theta * theta + 1))
                case sg => sg / (math.abs(theta) + math.sqrt(theta * theta + 1))
              }
              val c = 1 / math.sqrt(t * t + 1)
              val s = t * c
              var k = 0
              while (k < n) { // A ← Jᵀ A J, row pair then column pair
                val akp = a(k)(p); val akq = a(k)(q)
                a(k)(p) = c * akp - s * akq
                a(k)(q) = s * akp + c * akq
                k += 1
              }
              k = 0
              while (k < n) {
                val apk = a(p)(k); val aqk = a(q)(k)
                a(p)(k) = c * apk - s * aqk
                a(q)(k) = s * apk + c * aqk
                val vkp = v(k)(p); val vkq = v(k)(q)
                v(k)(p) = c * vkp - s * vkq
                v(k)(q) = s * vkp + c * vkq
                k += 1
              }
            }
            q += 1
          }
          p += 1
        }
        sweep += 1
      }
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Train the OPQ rotation + codebooks. Initialization is the OPQ
    * paper's PARAMETRIC solution — eigendecompose the sample's second
    * moment and allocate eigenvectors to subspaces balancing the
    * log-eigenvalue mass (so no subspace hoards more signal than its k*
    * centroids can cover; an identity init stalls in exactly that local
    * minimum when correlated high-variance dims share a subspace) —
    * followed by the non-parametric alternation: codebook training on
    * the rotated sample, then the Procrustes polar update. The shipped
    * books are trained once more under the FINAL rotation (so books and
    * rotation are mutually consistent). Returns (R as float rows,
    * codebooks) — feed the corpus through [[rotated]] and the books into
    * the existing PQ/IVF-PQ machinery unchanged.
    */
  def trainOpq(
      corpus: DataFrame,
      m: Int,
      dsub: Int,
      kStar: Int,
      opqIters: Int = 8,
      lloydIters: Int = 8,
      sampleCap: Int = 2048): (Array[Array[Float]], Seq[Seq[Seq[Double]]]) = {
    val d = m * dsub
    val sampled = corpus.filter(pmod(hash(col("vec_id")), lit(4)) < lit(1))
    val src = if (sampled.count() >= 16L * kStar) sampled else corpus
    val xs = src.orderBy("vec_id").limit(sampleCap)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).iterator.map(_.toDouble).toArray)
    require(xs.nonEmpty && xs.head.length == d,
      s"trainOpq: embedding dim ${xs.headOption.map(_.length)} != m*dsub=$d")
    def matVec(r: Array[Array[Double]], x: Array[Double]): Array[Double] = {
      val out = new Array[Double](d)
      var i = 0
      while (i < d) {
        val row = r(i); var acc = 0.0; var j = 0
        while (j < d) { acc += row(j) * x(j); j += 1 }
        out(i) = acc; i += 1
      }
      out
    }
    // -------- parametric init: eigen-allocation rotation --------
    // second moment of the sample (uncentered — PQ quantizes x, not
    // x − μ), eigenvectors allocated to subspaces by descending
    // eigenvalue into the subspace with the smallest log-mass so far
    // (the paper's balanced product rule, greedy form)
    val mom = Array.fill(d, d)(0.0)
    xs.foreach { x =>
      var a = 0
      while (a < d) {
        val xa = x(a)
        if (xa != 0.0) { val row = mom(a); var b = 0
          while (b < d) { row(b) += xa * x(b); b += 1 } }
        a += 1
      }
    }
    var a0 = 0
    while (a0 < d) { var b0 = 0; while (b0 < d) { mom(a0)(b0) /= xs.length; b0 += 1 }; a0 += 1 }
    val (eigVals, eigVecs) = symEigen(mom)
    val order = eigVals.zipWithIndex.sortBy { case (ev, i) => (-ev, i) }.map(_._2)
    val subMass = Array.fill(m)(0.0)
    val subSlots = Array.fill(m)(0)
    val assignTo = Array.fill(d)(0)
    order.foreach { ei =>
      var best = -1
      var s = 0
      while (s < m) {
        if (subSlots(s) < dsub && (best < 0 || subMass(s) < subMass(best))) best = s
        s += 1
      }
      assignTo(ei) = best * dsub + subSlots(best)
      subSlots(best) += 1
      subMass(best) += math.log(math.max(eigVals(ei), 1e-12))
    }
    // R's row assignTo(ei) = eigenvector ei (rows orthonormal → R orthogonal)
    var r = Array.fill(d, d)(0.0)
    order.foreach { ei =>
      val row = assignTo(ei)
      var k = 0
      while (k < d) { r(row)(k) = eigVecs(k)(ei); k += 1 }
    }
    // -------- non-parametric refinement: Lloyd ⇄ Procrustes --------
    var it = 0
    while (it < opqIters) {
      val ys = xs.map(matVec(r, _))
      val books = localPqTrain(ys, m, dsub, kStar, lloydIters)
      val xhat = ys.map(localPqReconstruct(_, books, m, dsub))
      // G(a)(b) = Σᵢ x̂ᵢ(a)·xᵢ(b) = (Σ x x̂ᵀ)ᵀ; R = polar(G) maximizes
      // trace(R·Σ x x̂ᵀ), the Procrustes objective
      val g = Array.fill(d, d)(0.0)
      var i = 0
      while (i < xs.length) {
        val x = xs(i); val xh = xhat(i)
        var a = 0
        while (a < d) {
          val xa = xh(a)
          if (xa != 0.0) {
            val row = g(a); var b = 0
            while (b < d) { row(b) += xa * x(b); b += 1 }
          }
          a += 1
        }
        i += 1
      }
      r = polarFactor(g).getOrElse(r)
      it += 1
    }
    val finalBooks = localPqTrain(xs.map(matVec(r, _)), m, dsub, kStar, lloydIters)
    (r.map(_.map(_.toFloat)),
      finalBooks.map(_.map(_.toSeq).toSeq).toSeq)
  }

  /** [[trainOpq]] [[memoized]] under `cacheKey` + the corpus content
    * fingerprint — the [[trainPqCodebooksCached]] lifecycle.
    */
  def trainOpqCached(
      corpus: DataFrame,
      cacheKey: String,
      m: Int,
      dsub: Int,
      kStar: Int,
      opqIters: Int = 8,
      lloydIters: Int = 8): (Array[Array[Float]], Seq[Seq[Seq[Double]]]) = {
    val (key, pair) = memoized("opq", corpus, s"opq|$cacheKey",
      m, dsub, kStar, opqIters, lloydIters)(
      trainOpq(corpus, m, dsub, kStar, opqIters, lloydIters))
    graft.AnnOracle.opqRotation.put(key, pair._1)
    graft.AnnOracle.opqBooks.put(key, pair._2)
    pair
  }

  /** The corpus with its embedding column rotated (y = R·x): one
    * map-only UDF pass, the d×d matrix riding the closure — at 100 TB
    * the rotation folds into the encode scan, never a shuffle. Double
    * accumulation per output dim, rounded once to float.
    */
  def rotated(vecs: DataFrame, rotation: Array[Array[Float]]): DataFrame = {
    val rotUdf = udf { (v: Seq[Float]) =>
      val d = rotation.length
      val out = new Array[Float](d)
      var i = 0
      while (i < d) {
        val row = rotation(i); var acc = 0.0; var j = 0
        while (j < d) { acc += row(j).toDouble * v(j); j += 1 }
        out(i) = acc.toFloat; i += 1
      }
      out.toSeq
    }
    vecs.withColumn("embedding", rotUdf(col("embedding")))
  }

  /** Driver-side ADC lookup table for one query vector:
    * `lut(s)(c) = ‖q_sub(s) − codebooks(s)(c)‖²` — m × k* doubles, the
    * classic ADC table. The IEEE op sequence is EXACTLY the column
    * form's ([[subspaceDists]]: per-dim float→double cast, subtract,
    * square, left-fold sum seeded at 0.0), so swapping the per-row
    * column arithmetic for a table lookup is bit-identical — the
    * hash-exact oracle mirror of `ann_pq_adc_topk` is unaffected.
    *
    * Why driver-side: the column form is a higher-order-function tree
    * (transform/zip_with/aggregate), and HOFs are CodegenFallback —
    * every scored row paid ~m × k* × dsub interpreted, boxed ops. The
    * LUT costs the same arithmetic ONCE per query on the driver
    * (microseconds), and the scan's per-row work collapses to m
    * codegen'd literal-array lookups. Queries are a bounded probe batch
    * by contract (the same contract under which [[ivfPqTopK]] computes
    * probe cells driver-side).
    */
  private def adcLut(
      codebooks: Seq[Seq[Seq[Double]]], q: Seq[Float]): Seq[Seq[Double]] = {
    val dsub = codebooks.head.head.length
    codebooks.zipWithIndex.map { case (cents, s) =>
      cents.map { c =>
        var acc = 0.0; var j = 0
        while (j < dsub) {
          val d = q(s * dsub + j).toDouble - c(j); acc += d * d; j += 1
        }
        acc
      }
    }
  }

  /** The ADC distance Σ_s `lut(s)(code_s)` over a joined `lut` column
    * (array<array<double>>): m two-level `element_at` lookups, all
    * codegen'd — shared by every batch ADC consumer so they score with
    * bit-identical arithmetic (subspace sums added left to right, the
    * same association as the LUT-free column form).
    */
  private def adcFromLut(m: Int): Column =
    (0 until m).map(s =>
      element_at(element_at(col("lut"), s + 1), col(s"code_$s") + 1))
      .reduce(_ + _)

  /** ADC distance of a PQ layout's `code_s` columns to ONE query vector,
    * as a single codegen'd column: the per-subspace LUT rides the plan
    * as literal arrays and the score is m `element_at` lookups added
    * left to right — bit-identical to [[adcFromLut]] over a joined lut
    * column (same [[adcLut]] doubles, same add order; the join form's
    * extra outer `element_at` only navigates nesting). Used by the
    * optimizer rule's IVF-PQ probe ([[graft.plans.AnnTopKRewrite]]),
    * where the query vector is a plan literal rather than a column.
    */
  def adcDistToQuery(codebooks: Seq[Seq[Seq[Double]]], q: Seq[Float]): Column =
    adcFromLiteralLut(adcLut(codebooks, q))

  /** Σ_s `lut(s)(code_s)` with the LUT riding the plan as literal arrays. */
  private def adcFromLiteralLut(lut: Seq[Seq[Double]]): Column =
    lut.indices.map(s => element_at(typedLit(lut(s)), col(s"code_$s") + 1)).reduce(_ + _)

  /** [[adcDistToQuery]] for a RESIDUAL-encoded layout (the optimizer
    * rule's IVFADC tier): per probed cell the lookup table is built from
    * the query residual `q − centroid(cell)` — the same driver-side
    * float subtraction as [[ivfPqResidualTopK]]'s probe (and the encode
    * side's [[residualCol]]) — and the per-row distance selects its
    * probed cell's LUT chain by the `cell` partition column: a
    * codegen'd CASE over ≤nProbe literal-array lookup chains, so the
    * scan still streams only the m-byte codes + the partition value.
    */
  def adcDistToQueryResidual(
      codebooks: Seq[Seq[Seq[Double]]],
      centroids: Array[Array[Float]],
      q: Seq[Float],
      cells: Seq[Int]): Column = {
    require(cells.nonEmpty, "adcDistToQueryResidual: empty probe set")
    val branches = cells.map { c =>
      (c, adcFromLiteralLut(adcLut(codebooks, queryResidual(q, centroids(c)))))
    }
    branches.tail.foldLeft(
      when(col("cell") === branches.head._1, branches.head._2)) {
      case (acc, (c, e)) => acc.when(col("cell") === c, e)
    }
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    * full-precision; each corpus vector contributes
    * Σ_s ‖q_sub(s) − centroid(code_s)‖² — by construction EXACTLY the
    * squared distance from the query to the vector's PQ reconstruction,
    * so the operator has no approximation beyond quantization itself
    * (spec-pinned against a brute-force scan of the reconstructions).
    * The per-query distance table (m × k* doubles, [[adcLut]]) is
    * computed driver-side and broadcast — the scan streams ONLY the
    * m-byte codes, never the float corpus; ranking uses the floored
    * distance + vec_id so the cut is engine-stable.
    */
  def pqAdcTopK(
      vecs: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]],
      nQueries: Int,
      k: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    val codes = pqEncode(vecs, codebooks)
    val luts = vecs.filter(col("vec_id") < nQueries)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), adcLut(codebooks, r.getSeq[Float](1)))).toSeq
      .toDF("query_id", "lut")
    rankTopK(codes.join(broadcast(luts), col("vec_id") =!= col("query_id"))
      .withColumn("adc_dist", graft.functions.TextAnalysis.floorScale(
        adcFromLut(codebooks.length), 6)), k, "adc_dist", ascending = true)
  }

  // ------------------------------------------------------------- IVF-PQ
  /** Write the corpus as an IVF-PQ index: each vector's `m` PQ codes,
    * PARTITIONED BY its IVF cell. This is the canonical 100 TB ANN
    * layout — the composition of the two layouts this file already has:
    * the cell partitioning ([[writeCellPartitioned]]) makes a probe read
    * only `nProbe`/`nCells` of the corpus (file-level skip), and the PQ
    * codes make what IS read `m` bytes per vector instead of a float
    * array (16–32× at production m/k*). A 100 TB float corpus becomes a
    * few hundred GB of codes, of which one query touches a few GB.
    * Write-once: the float corpus is scanned a single time (assign +
    * encode are one map-only pass); every subsequent query pays probe
    * cost only. The reference's vector store (a Chroma collection probed
    * per query, chroma_utils.py:237-263) is this layout's single-node
    * ancestor.
    */
  def writeIvfPqPartitioned(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      path: String): Unit =
    writePartitioned(pqCodeFrame(assignCells(corpus, centroids), codebooks), "cell", path)

  /** `(vec_id, code_0..code_{m-1}, cell)` of a frame carrying `cell` and
    * the (raw or residual) `embedding` to encode — the row shape of every
    * IVF-PQ layout and versioned batch.
    */
  private def pqCodeFrame(cells: DataFrame, codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    cells.select(col("vec_id") +: pqCodeCols(codebooks) :+ col("cell"): _*)

  /** `ivfpq…` directory name of an IVF-PQ index over `corpus` — the
    * corpus fingerprint plus an index hash (centroids + codebooks), so an
    * unchanged (corpus, index) pair reuses its directory while a mutated
    * corpus — or retrained centroids/codebooks — gets a fresh one.
    */
  private def ivfPqPath(
      prefix: String, corpus: DataFrame, baseDir: String,
      centroids: Array[Array[Float]], codebooks: Seq[Seq[Seq[Double]]]): String =
    layoutPath(corpus, baseDir, s"${prefix}_c${centroids.length}_m${codebooks.length}",
      Some(centroidHash(centroids, codebooks.iterator.flatten.flatten)))

  /** Build-once [[writeIvfPqPartitioned]] layout ([[buildOnce]] under
    * [[ivfPqPath]]): stale probes are impossible. Returns the layout path
    * for [[ivfPqTopK]].
    */
  def ivfPqLayout(
      spark: SparkSession,
      corpus: DataFrame,
      baseDir: String,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]]): String =
    buildOnce(spark, ivfPqPath("ivfpq", corpus, baseDir, centroids, codebooks))(
      writeIvfPqPartitioned(corpus, centroids, codebooks, _))

  /** IVF-PQ top-k over a [[writeIvfPqPartitioned]] layout: probe cells
    * are computed driver-side from the tiny centroid set (a STATIC
    * `isin` on the partition column — genuine `PartitionFilters`
    * pruning, spec-asserted), then the ADC scan of [[pqAdcTopK]] runs
    * over ONLY the probed cells' codes. The scan streams m-byte codes
    * from `nProbe` partition directories; neither the float corpus nor
    * the unprobed cells contribute any I/O. With `nProbe = nCells` the
    * result is IDENTICAL to the flat [[pqAdcTopK]] over the same
    * codebooks (spec-pinned) — cell pruning is a physical optimization;
    * the ADC arithmetic, floored-distance ranking and vec_id tiebreak
    * are shared code ([[adcLut]]/[[adcTopK]]).
    */
  def ivfPqTopK(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      k: Int,
      nProbe: Int = 3): DataFrame =
    adcProbeBatch(spark, queries, centroids, nProbe, codebooks.length, k)(
      q => { val lut = adcLut(codebooks, q); _ => Some(lut) })(
      cells => spark.read.parquet(path).filter(col("cell").isin(cells: _*)))

  /** The driver-side probe batch of every IVF-PQ top-k form
    * ([[ivfPqTopK]], [[ivfPqResidualTopK]], [[ivfPqLocalTopK]],
    * [[ivfPqTopKVersioned]]): queries are collected (bounded probe
    * batches by contract), each probes its `nProbe` [[nearestCells]],
    * and `lutsOf(q)(cell)` builds the ADC lookup table of that (query,
    * cell) pair on the driver — `None` skips the cell. `codesIn(cells)`
    * reads the probed cells' codes (a static `isin` on the partition
    * column); the probe frame is broadcast into the cell join and scored
    * by the shared [[adcTopK]] tail.
    */
  private def adcProbeBatch(
      spark: SparkSession,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      nProbe: Int,
      m: Int,
      k: Int)(
      lutsOf: Seq[Float] => Int => Option[Seq[Seq[Double]]])(
      codesIn: Seq[Int] => DataFrame): DataFrame = {
    import spark.implicits._
    val probes: Seq[(Long, Int, Seq[Seq[Double]])] =
      queries.select("query_id", "q_embedding").collect().toSeq.flatMap { r =>
        val q = r.getSeq[Float](1)
        val lutOf = lutsOf(q)
        nearestCells(q, centroids, nProbe).toSeq
          .flatMap(c => lutOf(c).map(lut => (r.getLong(0), c, lut)))
      }
    val probed = probes.toDF("query_id", "cell", "lut")
    adcTopK(codesIn(probes.map(_._2).distinct).join(broadcast(probed), "cell"), m, k)
  }

  /** IVF-PQ similarity JOIN: top-k ADC neighbors from the layout for
    * EVERY row of an arbitrarily large query frame — the [[keyJoin]]
    * form of the IVF-PQ tier, ANN as a JOIN rather than a probe batch
    * ([[ivfPqTopK]] collects its queries). The per-query ADC lookup
    * table is built ONCE per query row as an array column (the HOF
    * arithmetic of [[subspaceDists]] runs on query rows only — never per
    * scored row; scoring is the same codegen'd [[adcFromLut]] lookups).
    * With [[CellProbe.Adaptive]] each query row LUT-scans only the cells
    * inside its distance-ratio ball — at 100 TB, where the PQ join is
    * the tier that actually streams, the probe budget concentrates on
    * boundary queries. Row-identical to [[ivfPqTopK]] at the same nProbe
    * (spec-pinned and Verify-gated by exact equality).
    */
  def ivfPqJoin(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      k: Int,
      probe: CellProbe = CellProbe.Nearest(),
      hotKeyCap: Int = 1 << 20,
      maxSalt: Int = 64,
      prune: Boolean = true): DataFrame = {
    val dsub = codebooks.head.head.length
    val lutCol = array(codebooks.zipWithIndex.map { case (cents, s) =>
      subspaceDists(cents, col("q_embedding"), s, dsub)
    }: _*)
    adcTopK(
      keyJoin(spark, path, queries, "cell", centroids.length, hotKeyCap, maxSalt, prune)(
        _.withColumn("lut", lutCol)
          .withColumn("cell", probedCells(probe, centroids))
          .select("query_id", "cell", "lut")),
      codebooks.length, k)
  }

  /** Two-stage IVF-PQ: ADC over-fetches `k * overfetch` candidates per
    * query from the probed cells, then an exact float EUCLIDEAN rerank
    * (ADC's own metric) of just those candidates picks the final top-k.
    * This is the production refinement step: ADC ordering errors inside
    * the probed set are fully corrected — the only residual error source
    * is a true neighbor outside the probe or the over-fetch, so recall
    * is bounded above only by probe coverage. The float corpus is
    * touched for `nQueries × k × overfetch` rows via a broadcast id
    * equi-join (the candidate list is tiny; the corpus never reshuffles),
    * exactly the [[quantizedTopKReranked]] shape lifted onto the
    * partitioned PQ layout. With full probe and over-fetch ≥ corpus the
    * result equals the exact euclidean top-k (spec-pinned) — like the
    * int8 rerank, the two-stage path has no approximation blind spot.
    */
  def ivfPqTopKReranked(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      k: Int,
      nProbe: Int = 3,
      overfetch: Int = 4): DataFrame =
    exactEuclideanRerank(
      ivfPqTopK(spark, path, queries, centroids, codebooks,
        k * overfetch, nProbe).select("query_id", "vec_id"),
      queries, corpus, k)

  /** [[ivfPqTopKReranked]] over the RESIDUAL layout — the complete
    * IVFADC-with-refinement pipeline (coarse cells → residual codes →
    * per-cell ADC → exact rerank): residual codes order candidates
    * better at the same byte budget, the rerank then removes what
    * quantization error remains inside the probe.
    */
  def ivfPqResidualTopKReranked(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      k: Int,
      nProbe: Int = 3,
      overfetch: Int = 4): DataFrame =
    exactEuclideanRerank(
      ivfPqResidualTopK(spark, path, queries, centroids, codebooks,
        k * overfetch, nProbe).select("query_id", "vec_id"),
      queries, corpus, k)

  /** The shared refinement stage: exact float EUCLIDEAN top-k over a
    * coarse `(query_id, vec_id)` candidate list. The float corpus is
    * touched only for the candidate rows via a broadcast id equi-join
    * (candidates are `queries × k × overfetch` rows; the corpus never
    * reshuffles); floored d2 + vec_id tiebreak keep the cut
    * engine-stable. Every two-stage ANN path ([[ivfPqTopKReranked]],
    * [[ivfPqResidualTopKReranked]]) shares this stage.
    */
  def exactEuclideanRerank(
      coarse: DataFrame,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int): DataFrame = {
    val d2 = aggregate(
      zip_with(col("q_emb"), col("c_emb"),
        (x, y) => { val d = x.cast("double") - y.cast("double"); d * d }),
      lit(0.0d), (acc, v) => acc + v)
    rankTopK(corpus.select(col("vec_id"), col("embedding").as("c_emb"))
      .join(broadcast(coarse
        .join(queries.select(col("query_id"), col("q_embedding").as("q_emb")),
          "query_id")), "vec_id")
      .withColumn("d2", graft.functions.TextAnalysis.floorScale(d2, 6)),
      k, "d2", ascending = true)
  }

  // --------------------------------------------------- residual IVF-PQ
  /** `centroids(cell)` as a column over the tiny literal centroid array
    * (1-based `element_at` over a `typedLit` — the IVF centroid set is
    * KBs and rides the plan, never a join).
    */
  private def centroidAt(centroids: Array[Array[Float]], cell: Column): Column =
    element_at(typedLit(centroids.map(_.toSeq)), cell + 1)

  /** The residual `emb − centroids(cell)`, elementwise float arithmetic —
    * deterministic and identical on the encode and query sides.
    */
  private def residualCol(
      centroids: Array[Array[Float]], cell: Column, emb: Column): Column =
    zip_with(emb, centroidAt(centroids, cell), (x, c) => x - c)

  /** The driver-side float residual `q − centroid` of a query — the
    * same float subtract [[residualCol]] applies on the encode side.
    */
  private def queryResidual(q: Seq[Float], centroid: Array[Float]): Seq[Float] =
    Array.tabulate(q.length)(i => q(i) - centroid(i)).toSeq

  /** Each vector's IVF cell plus its RESIDUAL to the cell centroid in
    * place of the raw embedding — the frame residual PQ trains and
    * encodes on. Residuals concentrate around 0 once the coarse cells
    * capture corpus structure, so the same `m × k*` code budget spends
    * its centroids on a much smaller-variance distribution than raw
    * vectors — the reason IVFADC (Jégou et al., TPAMI 2011) encodes
    * residuals, and the round-9 step from the plain IVF-PQ composition.
    */
  def residualFrame(
      corpus: DataFrame, centroids: Array[Array[Float]]): DataFrame =
    assignCells(corpus, centroids)
      .withColumn("embedding",
        residualCol(centroids, col("cell"), col("embedding")))

  /** [[trainPqCodebooks]] over the RESIDUAL distribution — the books ADC
    * scores residual codes with must be trained on residuals, not raw
    * vectors (the distributions differ by exactly the structure the
    * coarse quantizer removed).
    */
  def trainPqCodebooksResidual(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      m: Int,
      dsub: Int,
      kStar: Int,
      maxIter: Int = 5): Seq[Seq[Seq[Double]]] =
    trainPqCodebooks(
      residualFrame(corpus, centroids).select("vec_id", "embedding"),
      m, dsub, kStar, maxIter)

  /** [[trainPqCodebooksResidual]] memoized like [[trainPqCodebooksCached]],
    * with the coarse centroids folded into the key — retrained IVF cells
    * change every residual, so books trained under old centroids must
    * never be served for new ones.
    */
  def trainPqCodebooksResidualCached(
      corpus: DataFrame,
      cacheKey: String,
      centroids: Array[Array[Float]],
      m: Int,
      dsub: Int,
      kStar: Int,
      maxIter: Int = 5): Seq[Seq[Seq[Double]]] = {
    val (key, books) = memoized("pq", corpus, s"$cacheKey|res${centroidHash(centroids)}",
      m, dsub, kStar, maxIter)(
      trainPqCodebooksResidual(corpus, centroids, m, dsub, kStar, maxIter))
    graft.AnnOracle.residualBooks.put(key, books)
    books
  }

  /** [[writeIvfPqPartitioned]] with RESIDUAL encoding: codes quantize
    * `x − centroid(cell)` instead of `x`. Same one-pass write (assign +
    * residual + encode are one map-only scan), same layout shape.
    */
  def writeIvfPqResidualPartitioned(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      path: String): Unit =
    writePartitioned(pqCodeFrame(residualFrame(corpus, centroids), codebooks), "cell", path)

  /** Build-once [[writeIvfPqResidualPartitioned]] layout, fingerprint
    * discipline of [[ivfPqLayout]] (distinct path prefix — a residual
    * layout and a raw-code layout of the same corpus+index never
    * collide).
    */
  def ivfPqResidualLayout(
      spark: SparkSession,
      corpus: DataFrame,
      baseDir: String,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]]): String =
    buildOnce(spark, ivfPqPath("ivfpqr", corpus, baseDir, centroids, codebooks))(
      writeIvfPqResidualPartitioned(corpus, centroids, codebooks, _))

  /** Residual-encoded IVF-PQ top-k (IVFADC proper): the probed frame
    * already carries each candidate row's `cell`, so the ADC lookup
    * tables are built from the QUERY RESIDUAL `q − centroid(cell)` —
    * per (query, probed cell), not per query — and the scored distance
    * is exactly `‖q − (centroid(cell) + reconstruction(codes))‖²`, the
    * distance from the query to the candidate's full reconstruction
    * (spec-pinned against a brute-force scan of reconstructions). The
    * residual LUT is computed driver-side per (query, probed cell) over
    * [[queryResidual]]; everything else is the [[ivfPqTopK]] probe batch.
    * LUT cost is nProbe× the raw-code path's — the standard IVFADC
    * trade, paid once per probe pair on the driver, never per scanned
    * row.
    */
  def ivfPqResidualTopK(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      k: Int,
      nProbe: Int = 3): DataFrame =
    adcProbeBatch(spark, queries, centroids, nProbe, codebooks.length, k)(
      q => c => Some(adcLut(codebooks, queryResidual(q, centroids(c)))))(
      cells => spark.read.parquet(path).filter(col("cell").isin(cells: _*)))

  // ------------------------------------------- per-cell (local) codebooks
  /** LOPQ-style per-cell residual codebooks (Kalantidis & Avrithis,
    * CVPR 2014, "Locally Optimized Product Quantization"): every IVF
    * cell trains its OWN m×k* residual books, so the code budget adapts
    * to each cell's local residual distribution instead of one global
    * compromise across all cells — the standard recall lift at low
    * overfetch after OPQ.
    *
    * Training is distributed BY CELL: a bounded lowest-vec_id sample
    * per cell (`maxPerCell`, via one per-cell rank window — at 100 TB
    * put a hash pre-sample in front so no cell's sample exceeds the
    * cap by orders of magnitude) feeds `mapGroups`, where each group
    * runs the in-memory Lloyd twin ([[localPqTrain]], the OPQ
    * alternation's trainer) on its own cell — cells train in PARALLEL
    * across executors and per-task state is one cell's sample. Sample
    * rows are sorted by vec_id inside the group, so training is
    * deterministic regardless of partitioning. Driver state is
    * `nCells × m × k* × dsub` doubles (a few MB at production shapes).
    */
  def trainLocalPqCodebooks(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      m: Int,
      dsub: Int,
      kStar: Int,
      maxIter: Int = 5,
      maxPerCell: Int = 2000): Map[Int, Seq[Seq[Seq[Double]]]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val w = Window.partitionBy("cell").orderBy("vec_id")
    val sampled = residualFrame(corpus, centroids)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxPerCell)
      .select(col("cell"), col("vec_id"), col("embedding"))
      .as[(Int, Long, Seq[Float])]
    sampled.groupByKey(_._1).mapGroups { (cell, it) =>
      val ys = it.toArray.sortBy(_._2).map(_._3.map(_.toDouble).toArray)
      (cell,
        localPqTrain(ys, m, dsub, kStar, maxIter).map(_.map(_.toSeq).toSeq).toSeq)
    }.collect().toMap
  }

  /** [[trainLocalPqCodebooks]] [[memoized]] under the corpus fingerprint
    * + centroid hash (the [[trainPqCodebooksResidualCached]] lifecycle).
    */
  def trainLocalPqCodebooksCached(
      corpus: DataFrame,
      cacheKey: String,
      centroids: Array[Array[Float]],
      m: Int,
      dsub: Int,
      kStar: Int,
      maxIter: Int = 5,
      maxPerCell: Int = 2000): Map[Int, Seq[Seq[Seq[Double]]]] = {
    val (key, books) = memoized("lopq", corpus, s"$cacheKey|lopq${centroidHash(centroids)}",
      m, dsub, kStar, maxIter, maxPerCell)(
      trainLocalPqCodebooks(corpus, centroids, m, dsub, kStar, maxIter, maxPerCell))
    graft.AnnOracle.localBooks.put(key, books)
    books
  }

  /** [[writeIvfPqResidualPartitioned]] with PER-CELL books: each row's
    * residual encodes under its own cell's codebooks. The encoder is a
    * broadcast-map UDF (the books differ per cell, so the codegen'd
    * literal-codebook expression can't apply) — a one-pass write-side
    * cost; the probe side still streams only the m-byte codes. Same
    * argmin/lowest-code tie rule as every other encoder.
    */
  def writeIvfPqLocalPartitioned(
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      localBooks: Map[Int, Seq[Seq[Seq[Double]]]],
      path: String): Unit = {
    val spark = corpus.sparkSession
    val m = localBooks.values.head.length
    // Broadcast the books as primitive arrays and unbox the embedding
    // ONCE per row: the first-cut UDF indexed nested Seqs per flop
    // (books(s)(c)(j), emb(i)) — ~m·k*·dsub boxed reads per row, the
    // dominant constant of the 10⁶ layout build after the assign kernel
    // fix (r15 verdict #4). [[nearestSub]] runs the same doubles in the
    // same order (float widened exactly, subtract, square, left-fold
    // add; strict < keeps the lowest code), so codes are bit-identical —
    // LopqSpec pins the encoder against brute force.
    val bc = spark.sparkContext.broadcast(localBooks.map { case (cell, books) =>
      cell -> books.map(_.map(_.toArray).toArray).toArray
    })
    val encU = udf { (cell: Int, emb: Seq[Float]) =>
      val books = bc.value(cell)
      val y = emb.iterator.map(_.toDouble).toArray
      Array.tabulate(books.length)(s => nearestSub(y, s, books(s).head.length, books(s)))
    }
    writePartitioned(residualFrame(corpus, centroids)
      .withColumn("codes", encU(col("cell"), col("embedding")))
      .select(col("vec_id") +:
        (0 until m).map(s => col("codes").getItem(s).as(s"code_$s")) :+
        col("cell"): _*), "cell", path)
  }

  /** Build-once [[writeIvfPqLocalPartitioned]] layout (distinct
    * `ivfpqlo_` prefix; fingerprint covers corpus, centroids and every
    * cell's books in cell order).
    */
  def ivfPqLocalLayout(
      spark: SparkSession,
      corpus: DataFrame,
      baseDir: String,
      centroids: Array[Array[Float]],
      localBooks: Map[Int, Seq[Seq[Seq[Double]]]]): String =
    buildOnce(spark, layoutPath(corpus, baseDir, s"ivfpqlo_c${centroids.length}",
      Some(centroidHash(centroids, localBooks.toSeq.sortBy(_._1).iterator.flatMap(
        kv => Iterator(kv._1.toDouble) ++ kv._2.iterator.flatten.flatten)))))(
      writeIvfPqLocalPartitioned(corpus, centroids, localBooks, _))

  /** [[ivfPqResidualTopK]] under per-cell books: the (query, probed
    * cell) LUT is built from the query residual with THAT CELL's
    * codebooks — everything else (partition-pruned scan, broadcast
    * probe frame, floored ADC ranking) is the residual path verbatim.
    * Probed cells that hold no corpus rows have no books and no
    * candidates; they are skipped.
    */
  def ivfPqLocalTopK(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      localBooks: Map[Int, Seq[Seq[Seq[Double]]]],
      k: Int,
      nProbe: Int = 3): DataFrame =
    adcProbeBatch(spark, queries, centroids, nProbe, localBooks.values.head.length, k)(
      q => c => localBooks.get(c).map(adcLut(_, queryResidual(q, centroids(c)))))(
      cells => spark.read.parquet(path).filter(col("cell").isin(cells: _*)))

  /** LOPQ with refinement: per-cell codes order candidates, the shared
    * exact-euclidean stage removes remaining quantization error inside
    * the probe — the full locally-optimized IVFADC+refine pipeline.
    */
  def ivfPqLocalTopKReranked(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      corpus: DataFrame,
      centroids: Array[Array[Float]],
      localBooks: Map[Int, Seq[Seq[Seq[Double]]]],
      k: Int,
      nProbe: Int = 3,
      overfetch: Int = 4): DataFrame =
    exactEuclideanRerank(
      ivfPqLocalTopK(spark, path, queries, centroids, localBooks,
        k * overfetch, nProbe).select("query_id", "vec_id"),
      queries, corpus, k)

  // ------------------------------------------- incremental IVF-PQ index
  /** Append one ingest batch to a VERSIONED IVF-PQ root as its own
    * `batch=<id>` partition tree (`root/batch=<id>/cell=<c>/…`): assign +
    * encode is the same one-pass scan as [[writeIvfPqPartitioned]], but
    * the write touches ONLY the new batch's directory — the standing
    * corpus is never rewritten, the daily-crawl lifecycle the dedup tier
    * already has ([[Dedup.lineIndex]] et al.) extended to the vector
    * index. Idempotent and crash-safe: an existing `_SUCCESS` under the
    * batch directory skips the write entirely (re-delivered batches
    * cannot double-insert), and a crashed write without the marker is
    * simply overwritten on retry. Readers discover `batch`/`cell` as
    * partition columns; cell pruning works ACROSS batches (the probe's
    * static `isin` on `cell` prunes every batch's unprobed cells).
    * Centroids/codebooks are NOT retrained per batch — the standard
    * IVF discipline: the coarse quantizer drifts slowly, so batches
    * encode under the standing index until a compaction rebuilds it.
    */
  def ivfPqAppendBatch(
      spark: SparkSession,
      rootPath: String,
      batch: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      batchId: String): Unit = {
    buildOnce(spark, s"$rootPath/batch=$batchId")(writePartitioned(
      pqCodeFrame(assignCells(batch, centroids), codebooks), "cell", _, stats = false))
  }

  /** Tombstone-delete from a versioned IVF-PQ root: victim ids land in
    * `root/_tombstones/delfp=<fingerprint>/` (underscore-prefixed, so
    * partition discovery of the code tree never sees them) and readers
    * anti-join them out — the delete-vector pattern of LSM/lakehouse
    * formats: no data file is rewritten at delete time; [[ivfPqCompact]]
    * folds tombstones in physically. Content-fingerprint keyed and
    * `_SUCCESS`-gated like the batch append: re-deleting the same victim
    * set is a no-op, and a crashed write is overwritten on retry.
    */
  def ivfPqDeleteByKey(
      spark: SparkSession, rootPath: String, victims: DataFrame): Unit = {
    val (n, fp) = fingerprint(victims, "vec_id")
    buildOnce(spark, s"$rootPath/_tombstones/delfp=${n}x${java.lang.Long.toHexString(fp)}")(
      victims.select("vec_id").write.mode("overwrite").parquet(_))
  }

  /** The LIVE code rows of a versioned root: every batch's codes
    * (partition discovery over `batch=`/`cell=`), minus tombstoned ids
    * (left-anti — Spark broadcasts the tombstone side while it is small;
    * compaction keeps it small). `extraFilter` is pushed below the
    * anti-join so cell pruning stays a `PartitionFilters` predicate.
    */
  def ivfPqLiveCodes(
      spark: SparkSession,
      rootPath: String,
      extraFilter: Option[Column] = None): DataFrame = {
    val codes0 = spark.read.option("basePath", rootPath).parquet(rootPath)
    val codes = extraFilter.fold(codes0)(codes0.filter)
    val tombPath = new org.apache.hadoop.fs.Path(s"$rootPath/_tombstones")
    val fs = tombPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(tombPath))
      codes.join(
        spark.read.parquet(s"$rootPath/_tombstones").select("vec_id"),
        Seq("vec_id"), "left_anti")
    else codes
  }

  /** [[ivfPqTopK]] over a VERSIONED root ([[ivfPqAppendBatch]] /
    * [[ivfPqDeleteByKey]]): identical scoring/ranking, reading the live
    * rows — so a base-layout query and a query over (base write + batch
    * appends − tombstones) of the same corpus are row-for-row equal
    * (spec-pinned). The cell probe prunes partitions across all batches.
    */
  def ivfPqTopKVersioned(
      spark: SparkSession,
      rootPath: String,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]],
      k: Int,
      nProbe: Int = 3): DataFrame =
    adcProbeBatch(spark, queries, centroids, nProbe, codebooks.length, k)(
      q => { val lut = adcLut(codebooks, q); _ => Some(lut) })(
      cells => ivfPqLiveCodes(spark, rootPath, Some(col("cell").isin(cells: _*))))

  /** The canonical VERSIONED-root path for a (corpus, index) pair — the
    * same fingerprint discipline as [[ivfPqLayout]] (prefix `ivfpqv_`),
    * but computed WITHOUT writing: the root is populated by
    * [[ivfPqAppendBatch]] calls, each marker-gated, so repeated
    * pipeline runs over an unchanged corpus+index converge on the same
    * directory tree with every write skipped.
    */
  def ivfPqVersionedRoot(
      corpus: DataFrame,
      baseDir: String,
      centroids: Array[Array[Float]],
      codebooks: Seq[Seq[Seq[Double]]]): String =
    ivfPqPath("ivfpqv", corpus, baseDir, centroids, codebooks)

  /** Compact a versioned root into a fresh single-batch root: live rows
    * (all batches minus tombstones) rewritten as `batch=base`, cell
    * partitioning preserved. Writes to a NEW root — the caller swaps
    * paths after the `_SUCCESS`-completed write (same publish-then-swap
    * discipline as [[graft.operators.Store.overwriteWith]]), so readers
    * of the old root are never exposed to a half-compacted tree.
    */
  def ivfPqCompact(
      spark: SparkSession, rootPath: String, compactedRoot: String): Unit =
    ivfPqLiveCodes(spark, rootPath)
      .withColumn("batch", lit("base"))
      .write.mode("overwrite").partitionBy("batch", "cell")
      .parquet(compactedRoot)

  /** Per-cell entry lists over an IVF-PQ code table (the frame a
    * [[writeIvfPqPartitioned]] layout reads back as): one row per cell,
    * `entries` = array of (vec_id, code_0..code_{m-1}) structs. This is
    * the STATIC side of the streaming vector-admission gate
    * ([[graft.streaming.Streams.pqAdmissionGate]]) — pre-aggregated once
    * per index snapshot, equi-joined per micro-batch on the probed cell
    * ids, the same standing-index lifecycle as [[Dedup.admissionIndex]].
    * Each cell's entries ride in ONE row (m+8 bytes per vector), so
    * `nCells` must keep cells row-sized — the knob IVF sizing already
    * turns (cells ∝ √n keeps both probe cost and row width bounded).
    */
  def pqAdmissionIndex(codes: DataFrame, m: Int): DataFrame =
    codes.groupBy("cell").agg(
      collect_list(struct(
        col("vec_id") +: (0 until m).map(s => col(s"code_$s")): _*)).as("entries"))

  /** Result struct of [[adcBestMatch]] — named fields so callers keep
    * addressing `best.d` / `best.v`.
    */
  final case class AdcBest(d: Double, v: Long)

  /** Best ADC match (lowest distance, vec_id tiebreak) of `qEmb` against
    * an array of PQ-code entry structs — the scoring kernel of the
    * STREAMING vector admission gate ([[graft.streaming.Streams
    * .pqAdmissionGate]]). Per row: the `m` per-subspace lookup tables
    * are built ONCE from `qEmb` (not rebuilt per entry), then the entries
    * are scanned. Returns a struct `(d, v)` — null when `entries` is
    * null/empty — ranked by distance first, matching [[pqAdcTopK]]'s
    * `(adc_dist, vec_id)` ordering; distances are floored to 6 decimals
    * by the same rule.
    */
  def adcBestMatch(
      entries: Column,
      qEmb: Column,
      codebooks: Seq[Seq[Seq[Double]]]): Column = {
    // A UDF kernel, not a HOF expression tree: transform/array_min/
    // element_at chains are CodegenFallback, so the r10 column form paid
    // interpreted, boxed evaluation per ENTRY per SUBSPACE — measured as
    // the dominant per-micro-batch cost of the composed streaming gate
    // (2500-entry cells × 3 probes × 8 subspaces per arriving row). The
    // UDF runs the same arithmetic as JIT-compiled loops: the per-row
    // LUT is [[adcLut]] itself (the bit-exact twin of the column form's
    // [[subspaceDists]] — per-dim float→double cast, subtract, square,
    // left-fold from 0.0), entry distances sum the m lookups left to
    // right, and the 6-dp floor replays floorScale's floor(d·10⁶)/10⁶
    // (Spark FLOOR→LONG then double divide). Ranking is (d, v)
    // lexicographic min, identical to the old array_min struct order;
    // null/empty entry lists yield null.
    val m = codebooks.length
    val best = udf { (es: Seq[org.apache.spark.sql.Row], q: Seq[Float]) =>
      if (es == null || es.isEmpty || q == null) None
      else {
        val lut = adcLut(codebooks, q).map(_.toArray).toArray
        var bd = Double.NaN
        var bv = 0L
        es.foreach { e =>
          var d = 0.0
          var s = 0
          while (s < m) { d += lut(s)(e.getInt(1 + s)); s += 1 }
          val fd = math.floor(d * 1e6).toLong / 1e6
          val v = e.getLong(0)
          if (bd.isNaN || fd < bd || (fd == bd && v < bv)) { bd = fd; bv = v }
        }
        Some(AdcBest(bd, bv))
      }
    }
    best(entries, qEmb)
  }

  /** Top-k by quantized cosine: exact integer dot products over the int8
    * codes, normalized by the integer norms. Queries are the quantized
    * vectors with `vec_id` < the probe bound (self-matches excluded);
    * ranking uses the 6-decimal floored similarity + vec_id so the cut is
    * engine-stable.
    */
  def quantizedTopK(quantized: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = quantized.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("qnorm2").as("q_n2"))
    val dot = aggregate(
      zip_with(col("q_qv"), col("qv"), (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    rankTopK(quantized.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("approx_sim", graft.functions.TextAnalysis.floorScale(
        dot.cast("double") / (sqrt(col("q_n2").cast("double")) * sqrt(col("qnorm2").cast("double"))), 6)),
      k, "approx_sim")
  }
}
