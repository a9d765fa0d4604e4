package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Similarity kernels over embedding frames (vec_id, v: array<double>, nrm).
  *
  * The declared cosine is `aggregate(zip_with(va, vb, _*_), 0d, _+_) /
  * (na * nb)` — a sequential left fold in index order. Every kernel here
  * computes the IDENTICAL float operation sequence, so results are
  * bit-identical to the declarative form:
  *   - `scoreAgainstQueries` is a declarative broadcast join whose dot runs
  *     through the codegen `graft_dot` Expression (primitive loop inside
  *     whole-stage codegen);
  *   - `cosinePairs` / `knnLocalTopK` run the same primitive loop in a
  *     cogroup kernel (early-exit pruning only SKIPS pairs whose emission
  *     is provably impossible; survivors continue the very same fold).
  *
  * Scale design (no driver-side collect anywhere):
  *   - all-pairs is BLOCK-PARTITIONED: vectors are assigned to id-derived
  *     blocks, every block pair (i <= j) becomes a shuffle key, and each
  *     cogroup task sees exactly two blocks — per-task memory is bounded by
  *     the block size (tune `blocks` ≈ n / rows-per-task at 100 TB), total
  *     shuffle volume is n·(blocks+1) rows, and no executor or the driver
  *     ever holds the corpus;
  *   - top-k NEVER rides a corpus-sized row_number window: `topKPerKey` is
  *     a map-side-combinable bounded-heap Aggregator (partial top-k per
  *     partition, merged per key), and `knnLocalTopK` reduces each cogroup
  *     task's pair evaluations to ≤k rows per participating vector — the
  *     shuffle into the final merge is n·(blocks+1)·k rows, not n²;
  *   - `cosinePairs` prunes each pair's full dot with the exact
  *     prefix + Cauchy–Schwarz bound (see below) before paying the
  *     remaining multiplies;
  *   - query scoring broadcasts only the (small) query side and streams the
  *     corpus linearly.
  *
  * Why there is no sub-linear EXACT index here: the corpus is isotropic
  * (measured: pair cosine ≈ N(0, 1/√64), per-label centroid cosine ≈ 0.07,
  * true top-5 boundary ≈ 0.33). Cluster-level triangle-inequality bounds
  * (IVF-style `cos(θ_qc − r_c)`) cannot prune such data: every cluster's
  * residual radius r_c is near 90°, so every cluster bound is ≈ 1. The
  * measured recall floors for the probabilistic indexes are pinned in
  * ScaleSuite ("ANN candidate recall…"); the exact ops therefore keep
  * linear/quadratic WORK but shed the quadratic SHUFFLE, which is the part
  * that actually dies at 100 TB.
  */
object SimKernel {
  /** Dims folded before the Cauchy–Schwarz suffix bound is tested. At 32 of
    * 64 dims the bound on isotropic data is ≈ N(0.5, 0.11)·‖a‖‖b‖, so a
    * 0.5-threshold pair scan skips ~half of all suffix evaluations; on a
    * clustered corpus it prunes far more. Provably exact: the bound is an
    * over-estimate of the dot in real arithmetic, and `pruneMargin` absorbs
    * the ≤1e-12 float-vs-real drift of a 64-term fold. */
  private val prefixDims = 32
  private val pruneMargin = 1e-6

  /** Block-partitioned all-pairs scaffold, under the cosine kernels here
    * and the bitmap-Jaccard kernel in LlmPipeline. Each element with
    * id-derived block b is the A-side of block-pair keys (b, j >= b) and the
    * B-side of keys (i <= b, b), so every unordered element pair meets in
    * EXACTLY one cogroup: cross-block pairs in their (minBlock, maxBlock)
    * key; same-block pairs deduped by the id order guard.
    * `perBlockPair(as, partners)` gets one block pair: its A-side elements
    * and, for each a, the B-side elements b that pair with it, so every
    * unordered pair (a, b) is visited once (canonicalize ids inside it),
    * without a tuple per pair. Ids may be any Long: the block is
    * floorMod-derived, so negative ids land in [0, blocks) too.
    * Per-task memory is two blocks; total shuffle is n·(blocks+1) rows —
    * sizing rule for `blocks` in SCALE_TUNING.md. */
  private def blockPairs[T, R](ds: Dataset[T], blocks: Int)(idOf: T => Long)(
      perBlockPair: (Iterator[T], T => Iterator[T]) => Iterator[R])(
      implicit keyedEnc: Encoder[(Int, T)], rEnc: Encoder[R],
      ct: scala.reflect.ClassTag[T]): Dataset[R] = {
    val aSide = ds.flatMap { t =>
      val b = Math.floorMod(idOf(t), blocks.toLong).toInt
      (b until blocks).map(j => (b * blocks + j, t))
    }
    val bSide = ds.flatMap { t =>
      val b = Math.floorMod(idOf(t), blocks.toLong).toInt
      (0 to b).map(i => (i * blocks + b, t))
    }
    aSide.groupByKey(_._1)(Encoders.scalaInt)
      .cogroup(bSide.groupByKey(_._1)(Encoders.scalaInt)) { (key, as, bs) =>
        val same = (key / blocks) == (key % blocks)
        val bArr = bs.map(_._2).toArray // one block — bounded by construction
        perBlockPair(as.map(_._2),
          a => bArr.iterator.filterNot(b => same && idOf(b) <= idOf(a)))
      }
  }

  /** [[blockPairs]] with a per-pair kernel: `pairFn` sees (a, b) exactly
    * once per unordered pair. */
  def blockAllPairs[T, R](ds: Dataset[T], blocks: Int)(idOf: T => Long)(
      pairFn: (T, T) => Option[R])(
      implicit keyedEnc: Encoder[(Int, T)], rEnc: Encoder[R],
      ct: scala.reflect.ClassTag[T]): Dataset[R] =
    blockPairs(ds, blocks)(idOf) { (as, partners) =>
      as.flatMap(a => partners(a).flatMap(b => pairFn(a, b)))
    }

  /** All pairs (vid_a < vid_b) with cosine >= threshold, block-partitioned,
    * with the exact prefix + Cauchy–Schwarz early exit: after folding the
    * first `prefixDims` terms, dot(a,b) ≤ acc + ‖a_suf‖·‖b_suf‖, so a pair
    * whose bound already sits below threshold·‖a‖‖b‖ (minus the float
    * margin) can skip the remaining dims — it provably cannot be emitted.
    * Survivors CONTINUE the same fold from acc, so emitted cosines are
    * bit-identical to the unpruned kernel.
    * Input frame: (vec_id: Long, v: array<double>, nrm: double). */
  def cosinePairs(s: SparkSession, vecs: DataFrame, threshold: Double,
                  blocks: Int = 16): DataFrame =
    cosinePairsCounted(s, vecs, threshold, blocks)._1

  /** [[cosinePairs]] plus its (full-dot evaluations, pruned-before-suffix)
    * accumulators, returned to the caller instead of parked in a process
    * global (r8 advice: Verify's thread pool could clobber a shared slot).
    * Diagnostic only — task retries inflate both proportionally, so assert
    * ratios, not absolute counts. */
  def cosinePairsCounted(s: SparkSession, vecs: DataFrame, threshold: Double,
                         blocks: Int = 16): (DataFrame, (LongAccumulator, LongAccumulator)) = {
    import s.implicits._
    val nEval = s.sparkContext.longAccumulator("graft.simPrune.fullDots")
    val nPruned = s.sparkContext.longAccumulator("graft.simPrune.prunedDots")
    val ds = vecs.selectExpr("vec_id", "v", "nrm").as[(Long, Array[Double], Double)]
      .map { case (id, v, n) => (id, v, n, suffixNorm(v, prefixDims)) }
    val df = blockAllPairs(ds, blocks)(_._1) { case ((ida, va, na, sa), (idb, vb, nb, sb)) =>
      val cut = math.min(prefixDims, math.min(va.length, vb.length))
      val acc = dotRange(va, vb, 0, cut, 0.0)
      if (acc + sa * sb < (threshold - pruneMargin) * (na * nb)) {
        nPruned.add(1); None
      } else {
        nEval.add(1)
        val cos = dotRange(va, vb, cut, math.min(va.length, vb.length), acc) / (na * nb)
        if (cos >= threshold) Some((math.min(ida, idb), math.max(ida, idb), cos))
        else None
      }
    }.toDF("vid_a", "vid_b", "cos")
    (df, (nEval, nPruned))
  }

  /** For every query (small broadcast side), cosine against every corpus
    * vector except itself. Returns (qid, vid, cos) — rank/top-k downstream.
    * Declarative: BroadcastNestedLoopJoin + the codegen `graft_dot`. */
  def scoreAgainstQueries(s: SparkSession, corpus: DataFrame, queries: DataFrame): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("v").as("va"), col("nrm").as("na"))
    val c = corpus.select(col("vec_id").as("vid"), col("v").as("vb"), col("nrm").as("nb"))
    c.join(broadcast(q), col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        (expr("graft_dot(va, vb)") / (col("na") * col("nb"))).as("cos"))
  }

  /** Bounded top-k ranking per key WITHOUT a corpus-sized window: a typed
    * Aggregator holding a k-slot insertion buffer ordered by
    * (score desc, id asc) — exactly row_number()'s total order — gets
    * map-side partial aggregation, so only ≤k rows per (key, partition)
    * ever shuffle instead of every scored row. Returns
    * (key, id, score, rank 1..k) with the same rows the window form emits.
    * NaN scores unsupported (callers divide by nonzero norms). */
  def topKPerKey(s: SparkSession, scored: DataFrame, keyCol: String,
                 idCol: String, scoreCol: String, k: Int): DataFrame = {
    import s.implicits._
    topKTyped(s, scored.select(col(keyCol), col(idCol),
        col(scoreCol).cast("double")).as[(Long, Long, Double)], k)
      .toDF(keyCol, idCol, scoreCol, "rank")
  }

  private def topKTyped(s: SparkSession, ds: Dataset[(Long, Long, Double)],
                        k: Int): Dataset[(Long, Long, Double, Int)] = {
    import s.implicits._
    val agg = new TopKAgg(k)
    ds.groupByKey(_._1)
      .agg(agg.toColumn)
      .flatMap { case (key, top) =>
        top.iterator.zipWithIndex.map { case ((score, id), i) => (key, id, score, i + 1) }
      }
  }

  /** Exact k-NN over the corpus (every vector's k best neighbors by
    * (cosine desc, id asc)) with NO quadratic shuffle: the block cogroup
    * evaluates each unordered pair once, feeding BOTH endpoints' in-task
    * k-heaps, and emits only each participant's local top-k — n·(blocks+1)·k
    * rows — which `topKPerKey`-style merge reduces to the global top-k.
    * The n²·dim dot WORK is the price of the exact oracle (see the isotropy
    * note above: no exact index can shed it on this data); what this kernel
    * sheds is the n²-row shuffle the window form pays.
    * Returns (src, dst, cos, rank). */
  def knnExact(s: SparkSession, vecs: DataFrame, k: Int,
               blocks: Int = 16): DataFrame =
    knnExactCounted(s, vecs, k, blocks)._1

  /** [[knnExact]] plus the rows-emitted-by-the-local-stage accumulator (the
    * rows that actually SHUFFLE into the heap merge; ScaleSuite asserts
    * ≤ n·(blocks+1)·k ≪ n²), returned to the caller instead of a process
    * global — same rationale as [[cosinePairsCounted]]. */
  def knnExactCounted(s: SparkSession, vecs: DataFrame, k: Int,
                      blocks: Int = 16): (DataFrame, LongAccumulator) = {
    import s.implicits._
    val localRows = s.sparkContext.longAccumulator("graft.knn.localTopKRows")
    val ds = vecs.selectExpr("vec_id", "v", "nrm").as[(Long, Array[Double], Double)]
    val local = blockPairs(ds, blocks)(_._1) { (as, partners) =>
      // one heap per element of the two blocks (same map for both so the
      // same-block case keys each element once) — O((|A|+|B|)·k) state
      val heaps = new java.util.HashMap[Long, TopKBuf]
      def heapOf(id: Long): TopKBuf = {
        var h = heaps.get(id)
        if (h == null) { h = new TopKBuf(k); heaps.put(id, h) }
        h
      }
      as.foreach { case a @ (ida, va, na) =>
        partners(a).foreach { case (idb, vb, nb) =>
          val cos = dotRange(va, vb, 0, math.min(va.length, vb.length), 0.0) / (na * nb)
          heapOf(ida).insert(cos, idb)
          heapOf(idb).insert(cos, ida)
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.entrySet().iterator().asScala.flatMap { e =>
        val id = e.getKey; val h = e.getValue
        h.toPairs.iterator.map { case (cos, dst) =>
          localRows.add(1); (id, dst, cos)
        }
      }
    }
    (topKTyped(s, local, k).toDF("src", "dst", "cos", "rank"), localRows)
  }

  /** Full dot product in `graft_dot`'s index order. Vectors of unequal
    * length fail loudly: `graft_dot` returns NULL for them, so a silent
    * fold over the shorter prefix would be a wrong answer, not a NULL. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    require(a.length == b.length,
      s"dot: vectors of unequal length ${a.length} and ${b.length}")
    dotRange(a, b, 0, a.length, 0.0)
  }

  /** Sequential dot product over [from, until) continued from `acc` — the
    * same op order as the declared fold (and as `graft_dot`'s codegen
    * loop), so a fold split at any cut point is bit-identical to the
    * unsplit fold. */
  private def dotRange(a: Array[Double], b: Array[Double], from: Int,
                       until: Int, acc0: Double): Double = {
    var i = from; var acc = acc0
    while (i < until) { acc += a(i) * b(i); i += 1 }
    acc
  }

  private def suffixNorm(v: Array[Double], from: Int): Double = {
    var i = from; var acc = 0.0
    while (i < v.length) { acc += v(i) * v(i); i += 1 }
    math.sqrt(acc)
  }
}

/** k-slot insertion buffer ordered by (score desc, id asc) — row_number()'s
  * total order. Plain parallel arrays; kryo-serialized as an Aggregator
  * buffer (≤k elements). */
final class TopKBuf(val k: Int) extends Serializable {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var n = 0
  @inline private def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)
  def insert(s: Double, id: Long): Unit = {
    if (n == k && !better(s, id, scores(n - 1), ids(n - 1))) return
    var i = if (n < k) n else k - 1
    while (i > 0 && better(s, id, scores(i - 1), ids(i - 1))) {
      scores(i) = scores(i - 1); ids(i) = ids(i - 1); i -= 1
    }
    scores(i) = s; ids(i) = id
    if (n < k) n += 1
  }
  def mergeFrom(o: TopKBuf): TopKBuf = {
    var i = 0
    while (i < o.n) { insert(o.scores(i), o.ids(i)); i += 1 }
    this
  }
  def toPairs: Array[(Double, Long)] = Array.tabulate(n)(i => (scores(i), ids(i)))
}

/** Map-side-combinable top-k over (key, id, score) tuples (input shape
  * (key, id, score); buffer = [[TopKBuf]]). */
final class TopKAgg(k: Int)
    extends Aggregator[(Long, Long, Double), TopKBuf, Array[(Double, Long)]] {
  def zero: TopKBuf = new TopKBuf(k)
  def reduce(b: TopKBuf, t: (Long, Long, Double)): TopKBuf = { b.insert(t._3, t._2); b }
  def merge(b1: TopKBuf, b2: TopKBuf): TopKBuf = b1.mergeFrom(b2)
  def finish(b: TopKBuf): Array[(Double, Long)] = b.toPairs
  def bufferEncoder: Encoder[TopKBuf] = Encoders.kryo[TopKBuf]
  def outputEncoder: Encoder[Array[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Double, Long)]]()
}
