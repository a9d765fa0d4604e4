package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Norm._
import graft.Tables._

/** SURVEY.md §2.J — LLM-data-pipeline operators (the north-star extension).
  *
  * Design notes for 100 TB:
  *   - `llm_dedup_near` never materializes the O(n²) pair space: MinHash
  *     signatures (64 hashes) are banded (32 bands × 2 rows) and the shuffle
  *     key is (band, band_hash); only same-bucket candidates are verified
  *     with EXACT token-set Jaccard, so the declared result is exact and
  *     engine-independent (the sketch only affects recall: miss probability
  *     at J=0.8 is (1−0.8²)³² ≈ 6.5e-15 per pair). The Jaccard threshold is
  *     evaluated in integer arithmetic (5·|A∩B| ≥ 4·|A∪B|) — no float
  *     boundary can disagree between engines.
  *   - Cosine ops compute dot/norms in DOUBLE with an explicit sequential
  *     fold, mirrored operation-for-operation in the oracle SQL (DuckDB's
  *     native `list_cosine_similarity` accumulates in float32 and drifts
  *     ~1e-7 — empirically measured, not usable for hash parity).
  *   - `llm_sim_topk` broadcasts the 10 query vectors against the corpus
  *     (BroadcastNestedLoopJoin): linear in corpus size, never quadratic.
  *   - tf-idf / wordcount / ngrams are explode → partial-aggregatable
  *     groupBys; top-k always orders by (metric, unique key) after rounding
  *     so limit boundaries are deterministic.
  */
object LlmPipeline {
  /** Distinct-token sets per document (the dedup universe — full corpus).
    * Sorted so exact verification hits IntersectSize's O(n+m) two-pointer
    * path instead of the O(n·m) nested loop. */
  private def tokenSets(s: SparkSession, d: String): DataFrame =
    Shared.tokenSets(s, d)

  /** Embeddings as double vectors with precomputed norm, memoized +
    * checkpointed once per (app, sfDir) in [[Shared]]. */
  private def vecs(s: SparkSession, d: String): DataFrame = Shared.vecs(s, d)

  /** Near-duplicate pairs (exact Jaccard >= num/den) over any (doc_id, toks)
    * frame — ADAPTIVE between the two exact strategies:
    *
    *   - **bounded vocabulary** (distinct tokens <= 4096 — always true for
    *     char-shingles, measured-true for this corpus's word tokens): encode
    *     each token set as a bitmap over the interned vocabulary and run a
    *     block-partitioned all-pairs popcount kernel. When background
    *     similarity sits near the threshold (dup-dense corpora), NO
    *     candidate pruner can beat Ω(candidate) work — candidates ≈ all
    *     pairs (measured 12.3M candidates of 12.5M pairs at sf0.1) — so the
    *     win is making each pair cost ~words(vocab)/64 long-ANDs instead of
    *     a shuffle-join row carrying two token arrays.
    *   - **unbounded vocabulary**: MinHash-LSH banding for candidates +
    *     exact shuffle-join verification ([[lshJaccardPairs]]).
    *
    * Both paths emit identical (doc_a, doc_b, jaccard_bp) rows; the choice
    * is a pure execution-strategy decision (one vocab-count job). The vocab
    * bound and the band/row recall math live in SCALE_TUNING.md.
    */
  def nearDupPairs(tokens: DataFrame, num: Int = 4, den: Int = 5,
                   sorted: Boolean = true): DataFrame = {
    val s = tokens.sparkSession
    import s.implicits._
    // materialize the token frame once — the vocab probe and the chosen
    // kernel would otherwise each recompute the tokenization (measured ~2 s
    // per extra pass on char-3-gram arrays at sf0.1); superseded blocks are
    // reclaimed by the ContextCleaner
    val toks = tokens.localCheckpoint(true)
    // one bounded probe job: pulls at most 4097 distinct tokens, so the
    // result is metadata-sized regardless of corpus size
    val probe = toks.select(explode(col("toks")).as("tok")).distinct()
      .limit(4097).as[String].collect()
    val pairs =
      if (probe.length <= 4096) bitmapJaccardPairs(toks, probe, num, den)
      else lshJaccardPairs(toks, num, den)
    // consumers like connected components don't need the total order —
    // skipping it skips a full sort of the (possibly multi-million-row)
    // pair set
    if (sorted) pairs.orderBy("doc_a", "doc_b") else pairs
  }

  /** Bounded-vocab exact Jaccard: interned-bitmap sets + block-partitioned
    * all-pairs popcount kernel. The vocabulary is metadata-sized BY THE
    * BRANCH CONDITION (<= 4096 entries), so its id map is collected and
    * broadcast like any other plan constant (same class as win_percent's
    * bucket totals — bounded regardless of corpus size); the corpus itself
    * streams through one narrow map. Per-task memory is two id-blocks of
    * (words(v) + 2) longs per doc; only passing pairs are ever
    * materialized — there is no candidate shuffle at all. */
  private def bitmapJaccardPairs(tokens: DataFrame, vocab: Array[String],
                                 num: Int, den: Int, blocks: Int = 16): DataFrame = {
    val s = tokens.sparkSession
    import s.implicits._
    val ids: Map[String, Int] = vocab.sorted.zipWithIndex.toMap // <= 4096 entries
    val bcIds = s.sparkContext.broadcast(ids)
    val words = (vocab.length + 63) / 64
    val bm = tokens.as[(Long, Seq[String])]
      .map { case (id, toks) =>
        val m = bcIds.value
        val arr = new Array[Long](words)
        toks.foreach { t =>
          val tid = m(t)
          arr(tid >> 6) |= (1L << (tid & 63))
        }
        var pc = 0
        var i = 0
        while (i < words) { pc += java.lang.Long.bitCount(arr(i)); i += 1 }
        (id, arr, pc)
      }
    SimKernel.blockAllPairs(bm, blocks)(_._1) {
      case ((ida, va, sza), (idb, vb, szb)) =>
        var inter = 0
        var i = 0
        while (i < words) { inter += java.lang.Long.bitCount(va(i) & vb(i)); i += 1 }
        val uni = sza + szb - inter
        if (inter * den >= uni * num)
          Some((math.min(ida, idb), math.max(ida, idb), inter * 10000L / uni))
        else None
    }.toDF("doc_a", "doc_b", "jaccard_bp")
  }

  /** General-vocabulary path: MinHash-LSH banding (64 hashes as 32 bands ×
    * 2 rows) generates candidates — shuffle key = (band, bh), never a pair —
    * then EXACT integer-arithmetic Jaccard >= num/den verifies. Public for
    * the ScalaCheck recall property and as the 100 TB unbounded-vocab form.
    *
    * Signatures are computed in a tight per-partition loop (deterministic
    * murmur-based hashes) — their values are internal pruning state and never
    * reach the declared result, so they don't need a cross-engine twin. Miss
    * probability per true pair at J = t is (1 − t²)³²: 6.5e-15 at t=0.8,
    * 4.3e-10 at t=0.7 — far below one expected miss on any realistic corpus.
    *
    * Verification is two SHUFFLE JOINS of the candidate pairs back to the
    * token table on doc id (no driver-side collect anywhere in the lineage —
    * at 100 TB the token table never has to fit in any single memory). The
    * exact intersection size runs through `size(array_intersect(...))`,
    * which the injected [[graft.plans.RewriteIntersectSize]] rule compiles
    * to the allocation-free `intersect_size` codegen expression.
    */
  def lshJaccardPairs(tokens: DataFrame, num: Int = 4, den: Int = 5): DataFrame = {
    val s = tokens.sparkSession
    import s.implicits._
    val tokDs = tokens.as[(Long, Seq[String])]
    // 1. Per-doc 64-hash MinHash signature folded into 32 band keys. Each
    //    bucket row carries the doc's FULL band vector (32 longs — ~300 B).
    val bandRows = tokDs.map { case (id, toks) =>
      val sig = Array.fill(64)(Long.MaxValue)
      toks.foreach { t =>
        var i = 0
        while (i < 64) {
          val h = (scala.util.hashing.MurmurHash3.stringHash(t, i).toLong << 32) ^
            (scala.util.hashing.MurmurHash3.stringHash(t, i + 7919) & 0xffffffffL)
          if (h < sig(i)) sig(i) = h
          i += 1
        }
      }
      (id, Array.tabulate(32)(b => sig(2 * b) * 1000003L ^ sig(2 * b + 1)))
    }
    // 2. Candidate pairs, emitted EXACTLY ONCE globally: a same-bucket pair
    //    is emitted only when this band is the FIRST band in which the two
    //    docs collide (checkable locally from the carried band vectors).
    //    On a dup-dense corpus a true pair collides in most bands, so the
    //    naive emit-everywhere-then-distinct plan materializes and shuffles
    //    ~bands× the candidate volume (measured 170M rows → 12M pairs at
    //    sf0.1, with the distinct dominating the runtime); first-collision
    //    emission needs NO pair-dedup shuffle at all. The only shuffle that
    //    scales with corpus size is the (band, bh) groupBy of n·32 rows.
    val cand = bandRows.flatMap { case (id, bh) =>
      (0 until 32).map(b => (b, bh(b), id, bh))
    }.groupByKey(r => (r._1, r._2)).flatMapGroups { (key: (Int, Long), it: Iterator[(Int, Long, Long, Array[Long])]) =>
      val band = key._1
      val mem = it.toArray.sortBy(_._3) // (band, bh, doc_id, bandVec) by id
      // Imperative pair scan: on dup-dense corpora most bucket pairs are
      // NOT first-collision-here, so the scan must be allocation-free per
      // visited pair (a closure/Option version of this loop spent its time
      // in GC at sf0.1 — 170M visited pairs for 12M emitted).
      new Iterator[(Long, Long)] {
        private var i = 0
        private var j = 1
        private var pair: (Long, Long) = _
        private def advance(): Unit = {
          pair = null
          while (pair == null && i < mem.length - 1) {
            val a = mem(i)
            while (pair == null && j < mem.length) {
              val b = mem(j)
              var k = 0
              var clash = -1
              while (clash < 0 && k <= band) { // they collide at `band`, so k stops
                if (a._4(k) == b._4(k)) clash = k
                k += 1
              }
              if (clash == band) pair = (a._3, b._3)
              j += 1
            }
            if (pair == null) { i += 1; j = i + 1 }
          }
        }
        advance()
        override def hasNext: Boolean = pair != null
        override def next(): (Long, Long) = { val r = pair; advance(); r }
      }
    }.toDF("doc_a", "doc_b")
    // 3. Exact verification on INTERNED grams (r12 verdict #6): the verify
    //    joins drag one full token array per CANDIDATE row through the
    //    doc_b shuffle, and as strings that weight was measured at ~20×
    //    the bitmap kernel's per-pair cost (SCALE_TUNING, "the LSH
    //    fallback's candidate cost"). Interning each gram to a LONG first
    //    shrinks every shuffled element to 8 flat bytes and turns the
    //    intersect merge into primitive compares (intersect_size_long). The
    //    id map is deterministic WITHOUT a global sort: ids are (rank
    //    within a 1024-way hash bucket) · 1024 + bucket — injective, built
    //    by one vocab-sized window, stable across task retries (unlike
    //    monotonically_increasing_id, whose partition-order dependence
    //    could re-key a retried dict partition mid-join). Jaccard is
    //    invariant under any injective token mapping, so emitted
    //    (doc_a, doc_b, jaccard_bp) rows are unchanged — only cheaper.
    //    Interning costs two vocab/token-stream-sized shuffles; on the
    //    above-cap corpora this path serves, candidate volume dwarfs the
    //    token stream (dup-dense sf0.1: 170M visited candidates vs 1.6M
    //    token rows), so the trade is decisively right at scale.
    val vocabIds = tokens.select(explode(col("toks")).as("tok")).distinct()
      .withColumn("bkt", pmod(xxhash64(col("tok")), lit(1024L)))
      .withColumn("tid",
        row_number().over(Window.partitionBy("bkt").orderBy("tok")).cast("long") * 1024L
          + col("bkt"))
      .select("tok", "tid")
    val interned = tokens.select(col("doc_id"), explode(col("toks")).as("tok"))
      .join(vocabIds, "tok")
      .groupBy("doc_id").agg(sort_array(collect_list(col("tid"))).as("toks"))
    verifyPairs(cand, interned, num, den)
  }

  /** Exact integer-Jaccard verification of (doc_a, doc_b) candidates: two
    * SHUFFLE JOINS back to the token table on doc id (no driver collect),
    * distinct-element |A∩B| via size(array_intersect) → the injected
    * intersect_size codegen rule (O(n+m) on the sorted token layout). */
  private[ops] def verifyPairs(cand: DataFrame, tokens: DataFrame,
                               num: Int, den: Int): DataFrame = {
    val ta = tokens.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"))
    val tb = tokens.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"))
    cand.join(ta, "doc_a").join(tb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("toks_a"), col("toks_b"))).as("inter"),
        (size(col("toks_a")) + size(col("toks_b"))).as("stot"))
      .filter(col("inter") * den >= (col("stot") - col("inter")) * num)
      // Basis points via integer floor division: inter/uni is a small-
      // denominator rational, so decimal rounding can tie (and engines
      // disagree on ties); integer arithmetic cannot.
      .select(col("doc_a"), col("doc_b"),
        expr("(CAST(inter AS BIGINT) * 10000) div (stot - inter)").as("jaccard_bp"))
      .orderBy("doc_a", "doc_b")
  }

  /** Exact prefix-filtered Jaccard self-join (the AllPairs/PPJoin family):
    * sort each token set under a global (doc-frequency, token) order; a pair
    * with J >= num/den must share its SMALLEST common element, which the
    * pigeonhole places inside both sides' first |S| − ⌈(num/den)·|S|⌉ + 1
    * (i.e. rarest-first prefix) elements — so joining prefixes on the token
    * generates a candidate superset with NO sketch miss probability.
    *
    * This is the right pruner when background similarity sits close to the
    * threshold: char-3-gram sets share most FREQUENT grams corpus-wide
    * (measured background J ≈ 0.6 vs threshold 0.7 at sf0.1), which makes
    * MinHash-LSH buckets degenerate to all-pairs, while rare-gram prefixes
    * stay selective. Scale shape: one explode+groupBy for document
    * frequencies (vocab-bounded — 3-gram vocab is fixed — so the df side
    * broadcasts), one windowed rank per doc, one equi-join on prefix tokens,
    * then the shared shuffle-join verify.
    */
  def prefixJaccardPairs(tokens0: DataFrame, num: Int, den: Int): DataFrame = {
    // Lazy localCheckpoint (r13): `tokens` feeds docFreq + the prefix frame
    // + the verify join — 3 evaluations of the tokenize subtree without the
    // truncation (the minhashSig recompute class). Corpus-linear frame,
    // never pair-sized. (`pref` is also referenced twice, but checkpointing
    // it would hide the doc-frequency broadcast from the audited plan; its
    // window runs over the bounded slice, so the double evaluation is the
    // cheap side of that trade.)
    val tokens = tokens0.localCheckpoint(false)
    // r14 (measured, ProfileOp): the op's two heaviest stages — the per-doc
    // rank window and the pairwise intersect verify — are CPU-DENSE but
    // byte-LIGHT, so AQE's byte-based post-shuffle coalescing collapsed
    // each to ONE task (2.0 s + 1.45 s serial at 32 cores). Explicit
    // REPARTITION_BY_NUM on the stage key pins core-count parallelism
    // (AQE never coalesces user-numbered repartitions), satisfies the
    // window's / distinct's required distribution (no extra exchange), and
    // stays scale-safe: per-task state is row-at-a-time either way.
    val cores = tokens0.sparkSession.sparkContext.defaultParallelism
    val docFreq = tokens.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val pref = tokens
      .select(col("doc_id"), size(col("toks")).as("sz"), explode(col("toks")).as("tok"))
      .join(broadcast(docFreq), "tok")
      .repartition(cores, col("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))))
      // prefix length |S| − ⌈(num/den)·|S|⌉ + 1, in exact integers
      .filter(col("rn") <= col("sz") - expr(s"(($num * sz) + $den - 1) div $den") + 1)
      .select(col("doc_id"), col("tok"))
    val cand = pref.select(col("doc_id").as("doc_a"), col("tok"))
      .join(pref.select(col("doc_id").as("doc_b"), col("tok")), "tok")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .repartition(cores, col("doc_a"), col("doc_b")).distinct()
    verifyPairs(cand, tokens, num, den)
  }

  val ops: Map[String, Q] = Map(
    "llm_dedup_exact" -> ((s, d) =>
      documents(s, d)
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))
        .filter(col("n_docs") > 1)
        .orderBy("h")),

    // Cross-slice exact dedup with a BLOOM PREFILTER (the incremental-ingest
    // shape: "which new docs already exist in the corpus?"). The reference
    // slice folds to a kilobyte bloom sketch (graft_bloom_agg — Spark's
    // runtime-filter aggregate surfaced via GraftExtensions); the probe side
    // is cut by graft_might_contain BEFORE the exact semi join, so the
    // shuffle carries only bloom survivors (~dup rate + FP rate of the
    // probe, not all of it). The semi join then kills false positives —
    // the result is EXACTLY the plain semi join, which is the oracle; the
    // might_contain prefilter is asserted in the plan (Round6Suite). At
    // 100 TB this is the pattern for a build side that fits a sketch but
    // not a broadcast hash table.
    "llm_dedup_bloom_prefilter" -> ((s, d) => {
      val docs = documents(s, d)
      // might_contain requires its bloom input be a scalar subquery (or
      // constant) — the audited scalar-subquery pattern, via a temp view.
      // key = the order-free content fingerprint (llm_fingerprint's set_md5):
      // bag-of-words-identical docs collide, so the incremental-ingest story
      // has real hits at every fixture scale (byte-exact dups don't exist at
      // sf0.01).
      val fp = md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ")))))
      withTempViews(s, "bloom_ref" -> docs.filter(col("doc_id") % 2 === 0).select(fp.as("h"))) { v =>
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), fp.as("h"))
          .filter(expr(s"graft_might_contain((SELECT graft_bloom_agg(h) FROM ${v("bloom_ref")}), h)"))
          .join(s.table(v("bloom_ref")).distinct(), Seq("h"), "left_semi")
          .select("doc_id", "h")
          .orderBy("doc_id")
      }
    }),

    // The pair set itself comes from the Shared memo (one computation per
    // process, reused by clusters/keep_best); only the declared total order
    // is applied here.
    "llm_dedup_near" -> ((s, d) =>
      Shared.wordPairs(s, d).orderBy("doc_a", "doc_b")),

    // Dedup-aggressiveness sweep (the curve a curation team reads before
    // choosing its Jaccard cutoff): pair count and touched-doc count at
    // five thresholds 0.80–1.00, all answered from the ONE memoized pair
    // frame (Shared.wordPairs already carries jaccard_bp ≥ 8000) — the
    // five thresholds cost one broadcast cross with a 5-row frame, never
    // five pair recomputations. Endpoint explode doubles rows, so
    // n_pairs = endpoints div 2 stays integer-exact.
    "llm_dedup_threshold_sweep" -> ((s, d) => {
      val sp = s; import sp.implicits._
      val th = Seq(8000L, 8500L, 9000L, 9500L, 10000L).toDF("threshold_bp")
      Shared.wordPairs(s, d).crossJoin(broadcast(th))
        .filter(col("jaccard_bp") >= col("threshold_bp"))
        .select(col("threshold_bp"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
        .groupBy("threshold_bp")
        .agg(expr("count(*) div 2").as("n_pairs"), countDistinct("doc").as("n_docs"))
        .orderBy("threshold_bp")
    }),

    // Exact all-pairs by oracle contract. Safe (block-partitioned, bounded
    // task memory); each pair's full dot sits behind the exact
    // prefix + Cauchy–Schwarz early exit (SimKernel — skips ~half the
    // suffix work at threshold 0.5 on this corpus, provably emission-safe).
    // Total work is still O(n²) pair visits — beyond ~1e7 vectors
    // substitute llm_sim_ann_lsh per SCALE_TUNING "exact↔approximate
    // substitution rule".
    "llm_sim_cosine_pairs" -> ((s, d) =>
      SimKernel.cosinePairs(s, vecs(s, d), 0.5)
        .select(col("vid_a"), col("vid_b"), d4(col("cos")).as("cosine"))
        .orderBy("vid_a", "vid_b")),

    // Exact query-vs-corpus scoring: one linear broadcast-scored pass, then
    // the map-side-combinable bounded-heap top-k (SimKernel.topKPerKey) —
    // only ≤5 rows per (query, partition) shuffle, where the old
    // row_number window shuffled all 10·n scored rows. At index-worthy
    // corpus sizes substitute llm_sim_ann_ivf (SCALE_TUNING substitution
    // rule) and keep this kernel as the sampled-slice recall oracle.
    "llm_sim_topk" -> ((s, d) =>
      SimKernel.topKPerKey(s,
        SimKernel.scoreAgainstQueries(s, vecs(s, d), vecs(s, d).filter(col("vec_id") < 10)),
        "qid", "vid", "cos", 5)
        .select(col("qid"), col("vid"), d4(col("cos")).as("cosine"), col("rank"))
        .orderBy("qid", "rank")),

    // Deterministic stratified sampling — the reproducible corpus-sampling
    // primitive (every engine run and every engine AGREES on the sample,
    // because membership is a pure function of the stable doc id): doc is
    // sampled iff the first 32 bits of md5(doc_id) taken mod 5 are 0
    // (≈20%). Per-language totals audit the rate.
    "llm_sample_stratified" -> ((s, d) => {
      val bucket = expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 5")
      documents(s, d)
        .withColumn("sampled", bucket === 0)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
          min(when(col("sampled"), col("doc_id"))).as("first_sampled"),
          max(when(col("sampled"), col("doc_id"))).as("last_sampled"))
        .orderBy("lang")
    }),

    "llm_text_wordcount" -> ((s, d) =>
      documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)),

    "llm_text_tfidf" -> ((s, d) => {
      val terms = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
      val docLen = terms.groupBy("doc_id").agg(count(lit(1)).as("len"))
      val df = terms.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val n = documents(s, d).agg(count(lit(1)).as("n_docs"))
      tf.join(docLen, "doc_id").join(broadcast(df), "term").crossJoin(broadcast(n))
        .withColumn("score_r", d6(
          (col("cnt").cast("double") / col("len")) *
            log(col("n_docs").cast("double") / col("df"))))
        .select(col("doc_id"), col("term"), col("score_r"))
        .orderBy(col("score_r").desc, col("doc_id"), col("term"))
        .limit(100)
    }),

    "llm_text_ngrams" -> ((s, d) =>
      documents(s, d)
        .select(split(col("text"), " ").as("t"))
        .select(explode(Shared.wordGrams("t", 2)).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(50)),

    // Collocation mining: PMI of adjacent token pairs with support ≥10 —
    // the phrase-detection pass a tokenizer-training pipeline runs before
    // merging multi-word units. pmi = ln(n_xy·N / (n_x·n_y)) with one
    // shared normalizer N (total token count), in floored micro-nats
    // (Norm.floorMicro). Scale: bigram and unigram counts are
    // partial-aggregatable shuffles; the unigram table is VOCAB-bounded so
    // both marginal joins broadcast, and the support filter keeps the
    // output collocation-sized. Nothing corpus² anywhere.
    "llm_bigram_pmi" -> ((s, d) => {
      val toks = documents(s, d).select(split(col("text"), " ").as("t"))
      val big = toks.select(explode(Shared.wordGrams("t", 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n_xy"))
        .filter(col("n_xy") >= 10)
      val uni = toks.select(explode(col("t")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n_tok"))
      val tot = uni.agg(sum("n_tok").as("total"))
      big
        .withColumn("w1", expr("split_part(bigram, ' ', 1)"))
        .withColumn("w2", expr("split_part(bigram, ' ', 2)"))
        .join(broadcast(uni.select(col("tok").as("w1"), col("n_tok").as("n_x"))), Seq("w1"))
        .join(broadcast(uni.select(col("tok").as("w2"), col("n_tok").as("n_y"))), Seq("w2"))
        .crossJoin(broadcast(tot))
        .select(col("bigram"), col("n_xy"),
          expr(floorMicro("ln((CAST(n_xy AS DOUBLE) * total) / (CAST(n_x AS DOUBLE) * n_y))"))
            .as("pmi_micro"))
        .orderBy("bigram")
    }),

    "llm_lang_profile" -> ((s, d) => {
      val perDoc = documents(s, d).groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), d4(avg("n_chars")).as("avg_chars"))
      val perTok = documents(s, d)
        .select(col("lang"), col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("lang", "source")
        .agg(countDistinct("tok").as("n_distinct_toks"))
      perDoc.join(perTok, Seq("lang", "source"))
        .orderBy("lang", "source")
    }),

    // Corpus frequency spectrum (the Zipf sanity check a corpus audit runs):
    // words bucketed by log2 of their count — computed as length(bin(c)),
    // an exact integer = floor(log2 c)+1 with no floating log2 whose
    // boundary values (exact powers of two) could round differently across
    // engines. Two partial-aggregatable shuffles: (word) then (bucket).
    "llm_token_histogram" -> ((s, d) =>
      documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .groupBy(length(bin(col("c"))).as("log2_bucket"))
        .agg(count(lit(1)).as("n_words"), sum("c").as("n_tokens"), min("w").as("example"))
        .orderBy("log2_bucket")),

    // Zipf-law fit per source — llm_token_histogram's sanity check made a
    // MEASURED statistic (a natural corpus follows freq ∝ rank^slope with
    // slope ≈ −1 and high R²; synthetic/spammy sources drift): per source,
    // the least-squares line through (ln rank, ln freq) over the full
    // frequency table. Cross-engine float discipline: each ln is floored
    // to micro-units PER TERM (Norm.floorMicro), the five regression sums
    // accumulate exactly (x·y on the DECIMAL(38,0) accumulator rule:
    // vocab·(1.2e7)² overflows BIGINT), and slope/R² are computed from the
    // exact sums in ONE double step per output (casting the same exact
    // integer to double is deterministic on both engines), floored to bp
    // (Norm.floorBp). Scale: one (source, word) partial-aggregatable count,
    // a rank window over the COLLAPSED frequency frame, one (source)
    // partial-aggregatable sum — vocab-bound throughout, never corpus².
    // Unigram-LM perplexity proxy per document (the CCNet-style LM quality
    // filter: docs whose tokens are globally rare score high surprisal and
    // get routed to the low-quality bucket): corpus unigram counts collapse
    // through ONE partial-aggregatable pass; per-term surprisal is the
    // EXACT integer floor(1e6·ln T) − floor(1e6·ln c) — two independently
    // floored lns (the llm_zipf_fit discipline: one deterministic double
    // step per VOCAB TERM, never per token, and no float ever crosses a
    // sum) — and each doc aggregates Σ surprisal over its tokens plus the
    // truncating mean. Scale: the token→surprisal join is vocab-keyed —
    // hot tokens are hot keys (stopwords carry most of the mass), so at
    // cluster scale broadcast the vocab map when it fits (it is
    // |vocab|·16B — GBs at web scale, so shuffle-hash + salting is the
    // real path; the saltedEquiJoin rule); everything else is one agg.
    "llm_perplexity_unigram" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val surp = toks.groupBy("w").agg(count(lit(1)).as("c"))
        .crossJoin(broadcast(toks.agg(count(lit(1)).as("tc"))))
        .select(col("w"),
          expr(s"""${floorMicro("ln(CAST(tc AS DOUBLE))")}
                  - ${floorMicro("ln(CAST(c AS DOUBLE))")}""").as("sp"))
      toks.join(surp, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum("sp").as("nll_total"))
        .select(col("doc_id"), col("n_tok"), col("nll_total"),
          expr("nll_total div n_tok").as("mean_nll_micro"))
        .orderBy("doc_id")
    }),

    "llm_zipf_fit" -> ((s, d) => {
      val tf = documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val xy = tf.withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy(col("c").desc, col("w"))))
        .select(col("source"),
          expr(floorMicro("ln(CAST(rk AS DOUBLE))")).as("x"),
          expr(floorMicro("ln(CAST(c AS DOUBLE))")).as("y"))
      xy.groupBy("source").agg(
          count(lit(1)).as("vocab_n"),
          sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
          sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
          sum(expr("CAST(x * y AS DECIMAL(38,0))")).as("sxy"),
          sum(expr("CAST(x * x AS DECIMAL(38,0))")).as("sxx"),
          sum(expr("CAST(y * y AS DECIMAL(38,0))")).as("syy"))
        .select(col("source"), col("vocab_n"),
          expr(s"""CASE WHEN vocab_n < 2 OR vocab_n * sxx - sx * sx = 0 THEN 0
                       ELSE ${floorBp("""CAST(vocab_n * sxy - sx * sy AS DOUBLE)
                                         / CAST(vocab_n * sxx - sx * sx AS DOUBLE)""")}
                  END""").as("slope_bp"),
          expr(s"""CASE WHEN vocab_n < 2 OR vocab_n * sxx - sx * sx = 0
                         OR vocab_n * syy - sy * sy = 0 THEN 0
                       ELSE ${floorBp("""CAST(vocab_n * sxy - sx * sy AS DOUBLE)
                                         * CAST(vocab_n * sxy - sx * sy AS DOUBLE)
                                         / (CAST(vocab_n * sxx - sx * sx AS DOUBLE)
                                            * CAST(vocab_n * syy - sy * sy AS DOUBLE))""")}
                  END""").as("r2_bp"))
        .orderBy("source")
    }),

    // Laplace-smoothed unigram LM scoring — the simplest of the model-based
    // quality filters (a perplexity gate): held-out docs scored by Σ ln p(w)
    // under the train-slice unigram LM ([[heldOutUnigrams]]). Vocab counts
    // broadcast (vocab ≪ corpus at any scale); the corpus side never
    // shuffles until the doc_id-keyed count.
    "llm_unigram_logprob" -> ((s, d) =>
      heldOutUnigrams(s, d)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          sum(when(col("c").isNull, 1L).otherwise(0L)).as("n_oov"),
          sum("lp_u").as("logprob_u"))
        .orderBy("doc_id")),

    // Portable MinHash signatures (the dedup-sketch layer itself, exposed
    // as a declared result): 8 salted-md5 hash families, mh_k = min over
    // the doc's DISTINCT tokens of the first 8 hex digits of
    // md5('k:'||token) as an integer. md5 is bit-identical everywhere, so
    // unlike an engine-seeded xxhash the signature is REPRODUCIBLE across
    // engines/runs/partitions — the property a persisted dedup index needs
    // when two systems must agree on bucket keys. By min-stability,
    // reordered/repeated-token clones get identical signatures
    // (unit-tested). Scale: narrow explode, then ONE doc_id-keyed
    // partial-aggregatable shuffle carrying 8 longs per (partition, doc).
    "llm_minhash_signature" -> ((s, d) => minhashSig(s, d).orderBy("doc_id")),

    // LSH banding candidate-volume report — the capacity-planning step
    // before committing to a banding scheme at 100 TB: the 8 portable
    // minhash values band into 4 bands of 2 rows, and per band the report
    // gives bucket count, the largest bucket, and Σ C(sz,2) candidate
    // pairs — exactly the shuffle volume a subsequent bucket-join pays.
    // All integer; the only corpus-sized stage is the partial-aggregatable
    // (band, bucket-key) groupBy, the band rollup runs on bucket counts.
    "llm_lsh_bucket_stats" -> ((s, d) => {
      val sig = minhashSig(s, d)
      // r14: the 4 band frames ride ONE explode over the signature frame
      // instead of a 4-leg union — the union scheduled 4 × |checkpoint
      // partitions| tasks for trivial per-task work (guide §2: per-op job
      // shape; plan diff in plans/r14). Same rows by construction.
      val bands = sig.select(explode(array((0 until 4).map(b =>
          struct(lit(b.toLong).as("band"),
            col(s"mh${2 * b}").as("ra"), col(s"mh${2 * b + 1}").as("rb"))): _*)).as("e"))
        .select(col("e.band").as("band"), col("e.ra").as("ra"), col("e.rb").as("rb"))
      bands.groupBy("band", "ra", "rb").agg(count(lit(1)).as("sz"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_buckets"), max("sz").as("max_bucket"),
          sum(expr("sz * (sz - 1) div 2")).as("candidate_pairs"))
        .orderBy("band")
    }),

    // LSH banding parameter sweep with MEASURED recall — the table that
    // decides (bands, rows) before a 100 TB dedup run commits to a scheme
    // (the operational form of SCALE_TUNING's recall-measured ANN
    // substitution): every way to band the 8 portable minhashes —
    // (8,1), (4,2), (2,4), (1,8) — scored by (a) recall against the EXACT
    // Jaccard ≥ 4/5 truth pairs (the Shared.wordPairs memo: a pair is
    // detected iff some band's rows all collide) and (b) the candidate-pair
    // volume the banding would shuffle (Σ C(sz,2) over its buckets — the
    // llm_lsh_bucket_stats cost measure, here per config). Recall needs
    // only the truth pairs' signatures: two doc-keyed hash joins onto the
    // pair set, never corpus²; cost is one partial-aggregatable
    // (band, key) groupBy per config over n·bands rows. Output: 4 rows —
    // the recall/cost frontier, all integers.
    "llm_lsh_band_recall" -> ((s, d) => {
      val sig = minhashSig(s, d)
      val configs = Seq((8, 1), (4, 2), (2, 4), (1, 8))
      val sa = sig.select(col("doc_id").as("doc_a") +:
        (0 until 8).map(k => col(s"mh$k").as(s"a$k")): _*)
      val sb = sig.select(col("doc_id").as("doc_b") +:
        (0 until 8).map(k => col(s"mh$k").as(s"b$k")): _*)
      val t = Shared.wordPairs(s, d).select("doc_a", "doc_b")
        .join(sa, "doc_a").join(sb, "doc_b")
      def det(bn: Int, r: Int) = (0 until bn).map { bi =>
        (0 until r).map(j => col(s"a${bi * r + j}") === col(s"b${bi * r + j}"))
          .reduce(_ && _)
      }.reduce(_ || _)
      val flags = t.agg(count(lit(1)).as("n_true"),
        configs.map { case (bn, r) =>
          coalesce(sum(when(det(bn, r), 1L).otherwise(0L)), lit(0L)).as(s"det_$bn")
        }: _*)
      val rec = flags.select(explode(array(configs.map { case (bn, r) =>
          struct(lit(bn.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
            col("n_true"), col(s"det_$bn").as("n_detected"))
        }: _*)).as("c"))
        .select(col("c.*"))
        .withColumn("recall_bp",
          expr("10000 * n_detected div greatest(n_true, 1)"))
      // r14: the cost side collapsed from a 15-leg union (8+4+2+1 band
      // frames, each scheduling |checkpoint partitions| tasks — 256-task
      // jobs of trivial per-task work, measured via ProfileOp) to ONE
      // explode over the signature frame: every sig row emits its 15
      // (config, band, bucket-key) memberships, the bucket key being the
      // ':'-joined row values (injective on BIGINT tuples, so bucket
      // identity — and therefore every sz and Σ C(sz,2) — is unchanged).
      val legs = configs.flatMap { case (bn, r) =>
        (0 until bn).map(bi =>
          struct(lit(bn.toLong).as("bands"), lit(bi.toLong).as("band"),
            concat_ws(":", (0 until r).map(j => col(s"mh${bi * r + j}")): _*).as("key")))
      }
      val cand = sig.select(explode(array(legs: _*)).as("e"))
        .groupBy(col("e.bands").as("bands"), col("e.band").as("band"),
          col("e.key").as("key"))
        .agg(count(lit(1)).as("sz"))
        .groupBy("bands")
        .agg(coalesce(sum(expr("sz * (sz - 1) div 2")), lit(0L)).as("candidate_pairs"))
        .withColumn("rows_per_band", expr("8 div bands"))
        .select("bands", "rows_per_band", "candidate_pairs")
      rec.join(broadcast(cand), Seq("bands", "rows_per_band"))
        .select(col("bands"), col("rows_per_band"), col("n_true"),
          col("n_detected"), col("recall_bp"), col("candidate_pairs"))
        .orderBy(col("bands").desc)
    }),

    // MinHash ESTIMATOR accuracy census — the third leg of the minhash
    // story (signature → banding recall/cost → how good is the estimate
    // itself): for every exact Jaccard ≥ 4/5 truth pair, the 8-hash
    // agreement fraction is the unbiased Jaccard estimate (agree/8, bp =
    // agree·1250); bucketed by true Jaccard (500-bp buckets, J = 1 folded
    // into the top bucket) the report gives pair count, mean |est − true|
    // in bp, and the mean signed bias — the table that says whether 8
    // hashes suffice BEFORE a production run trusts sketch-only dedup.
    // All integers (agreement counts, integral divides). Same shuffle
    // shape as llm_lsh_band_recall: two doc-keyed joins onto the
    // truth-pair memo, one 4-row partial agg — never corpus².
    "llm_minhash_accuracy" -> ((s, d) => {
      val sig = minhashSig(s, d)
      val sa = sig.select(col("doc_id").as("doc_a") +:
        (0 until 8).map(k => col(s"mh$k").as(s"a$k")): _*)
      val sb = sig.select(col("doc_id").as("doc_b") +:
        (0 until 8).map(k => col(s"mh$k").as(s"b$k")): _*)
      val agreeExpr = (0 until 8).map(k =>
        when(col(s"a$k") === col(s"b$k"), 1L).otherwise(0L)).reduce(_ + _)
      Shared.wordPairs(s, d).select("doc_a", "doc_b", "jaccard_bp")
        .join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("est_bp", agreeExpr * lit(1250L))
        .withColumn("bucket_lo", expr("least(jaccard_bp, 9999L) div 500 * 500"))
        .groupBy("bucket_lo")
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(abs(est_bp - jaccard_bp)) div count(1)").as("mae_bp"),
          expr("sum(est_bp - jaccard_bp) div count(1)").as("bias_bp"))
        .orderBy("bucket_lo")
    }),

    // Perplexity filter — the model-based quality GATE llm_unigram_logprob
    // scores for: held-out docs (doc_id%5=0) scored by the train-slice
    // Laplace unigram LM, normalized to per-token micro-nats with ONE exact
    // integral divide (both engines truncate toward zero — probed, DuckDB
    // `//` is trunc for integers), then the bottom quartile dropped at the
    // global p25 DISCRETE cutoff: an actual score value, resolved through
    // Shared.bucketedPdisc. Scale: scoring
    // is the unigram plan (vocab-bounded broadcasts, corpus side narrow
    // until the doc_id-keyed count); the cutoff is a 1-row broadcast back
    // onto the score frame; the report is one partial-aggregatable lang
    // groupBy.
    "llm_perplexity_filter" -> ((s, d) => {
      val scores = heldOutUnigrams(s, d, "lang")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_toks"), sum("lp_u").as("lp"))
        .withColumn("avg_lp", expr("lp div n_toks"))
        // Lazy checkpoint: the score frame feeds the cutoff subtree AND the
        // final report — without it each consumer recompiles the whole
        // unigram scoring plan from the scan (the agg_gini multi-consumer
        // rule; measured ~2.5× recompute). One collapsed row per held-out
        // doc, freed by the ContextCleaner with the invocation's plan.
        .localCheckpoint(false)
      val hist = scores.groupBy(lit("g").as("grp"), col("avg_lp").as("v"))
        .agg(count(lit(1)).as("wt"))
      val cut = Shared.bucketedPdisc(hist, "grp", "v", "wt", 1, 4, "cutoff")
      scores.crossJoin(broadcast(cut.select("cutoff")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_held"),
          sum(when(col("avg_lp") >= col("cutoff"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("avg_lp") >= col("cutoff"), col("n_toks")).otherwise(0L))
            .as("kept_tokens"))
        .orderBy("lang")
    }),

    // Cross-source duplicate-leakage matrix (the audit before trusting
    // per-source dedup: which source pairs feed each other clones). Docs
    // are keyed by their canonical token-set signature — md5 of the sorted
    // distinct word set, the J=1.0 word-Jaccard class (reordered /
    // repeated-word clones collide; raw-text md5 would see none of them) —
    // then (signature, source) incidence self-joins under src_a < src_b so
    // each source pair counts once per shared clone class. Scale: the join
    // keys on the signature hash; fan-out per signature is bounded by
    // |sources|² (sources is a small closed set), so this is the
    // graph_cooccurrence candidate-bounding argument on content keys —
    // never corpus². Output ≤ C(|sources|,2) rows.
    "llm_dup_overlap_matrix" -> ((s, d) => {
      val hs = documents(s, d)
        .select(md5(concat_ws(" ",
          sort_array(array_distinct(split(col("text"), " "))))).as("h"),
          col("source"))
        .distinct()
      hs.as("a").join(hs.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared_classes"))
        .orderBy("src_a", "src_b")
    }),

    // Laplace-smoothed BIGRAM LM scoring — the conditional sibling of
    // llm_unigram_logprob (same train/held-out split, same floored
    // micro-unit ln so the per-doc sum is shuffle-order-immune):
    // P(w|prev) = (c(prev,w)+1) / (c(prev)+V), V = train next-word vocab.
    // Bigrams come from one slice+transform pass over the materialized
    // token array (the Shared.wordGrams rule: never index split() inside the
    // lambda). Scale: train tables are vocab-bounded → both probe joins
    // broadcast like unigram's; the held-out bigram stream never joins
    // corpus×corpus. n_unseen counts unseen CONTEXTS (cp null) separately
    // from unseen transitions (cb null) — the two backoff triggers a real
    // LM distinguishes.
    // Hashing-trick featurizer (Weinberger 2009): tokens hash into a fixed
    // 64-bucket signed feature space — the constant-memory text
    // representation a streaming classifier trains on when a vocabulary
    // table is too big to hold. Bucket and sign both come from md5 nibbles
    // via the cross-engine instr trick (portable — the same feature vector
    // on every engine/run/partitioning, which is what makes a persisted
    // hashed-feature table reusable). One narrow explode + one
    // partial-aggregatable (source, bucket) groupBy — nothing vocab-sized
    // is ever held, which is the entire point of the trick.
    "llm_feature_hashing" -> ((s, d) =>
      documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .select(col("source"),
          expr("""((instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
                  + (instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)) % 64""").as("bucket"),
          expr("""CASE WHEN (instr('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) % 2 = 0
                       THEN 1 ELSE -1 END""").as("sgn"))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_toks"), sum("sgn").as("feat"))
        .orderBy("source", "bucket")),

    // BM25 retrieval scoring (k1=1.2, b=0.75) — the lexical ranking
    // backbone of a RAG / negative-mining pipeline. The "query" is derived
    // deterministically from the corpus itself: the 3 highest-df tokens
    // appearing in at most half the docs (df-bounded so idf > 0 and the
    // choice is reproducible; ties by token). Per-(doc, term) scores are
    // floored micro-units (Norm.floorMicro); every mixed-type arithmetic
    // starts from an explicit CAST AS DOUBLE (the decimal-literal rule).
    // Scale: tf is one partial-aggregatable (doc, tok) groupBy; the 3-term
    // query, df table slice, and 1-row length stats all broadcast; top-20
    // via TakeOrdered.
    "llm_bm25_topk" -> ((s, d) => {
      val tf = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val dl = documents(s, d)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("len"))
      val stats = dl.agg(count(lit(1)).as("nd"), sum("len").as("sumlen"))
      val dfT = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val terms = dfT.crossJoin(broadcast(stats).select("nd"))
        .filter(col("df") * 2 <= col("nd"))
        .orderBy(col("df").desc, col("tok")).limit(3)
        .select("tok", "df")
      tf.join(broadcast(terms), Seq("tok"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .withColumn("term_micro", expr(floorMicro(Bm25Term)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms_hit"), sum("term_micro").as("bm25_micro"))
        .orderBy(col("bm25_micro").desc, col("doc_id")).limit(20)
    }),

    // Frequency moments F0/F1/F2 of the token stream per source (AMS
    // moments): F0 = vocab size, F1 = token count, F2 = Σc² — the repeat
    // rate F2/F1² is the collision probability that predicts dedup yield
    // and hash-partition skew before either job runs. Exact via one
    // (source, w) partial agg then an algebraic rollup; repeat rate
    // emitted as ppb via one integral divide. The scaled products ride the
    // DECIMAL(38,0) accumulator rule (agg_gini precedent): 1e9·F2 and F1²
    // would silently wrap BIGINT under Spark's non-ANSI arithmetic beyond
    // ~3e9 tokens/source while DuckDB raises. Decimal(38) lifts the wrap
    // point past any real corpus; if it IS ever exceeded, Spark non-ANSI
    // yields NULL while DuckDB (HUGEINT sums) errors — the divergence is
    // caught by the parity gate, not by a loud Spark-side failure (r8
    // advice: non-ANSI decimal overflow does not raise in Spark).
    "llm_token_moments" -> ((s, d) => {
      val csw = documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      csw.groupBy("source")
        .agg(count(lit(1)).as("f0"), sum("c").as("f1"),
          expr("sum(CAST(c AS DECIMAL(38,0)) * c)").as("f2d"))
        .select(col("source"), col("f0"), col("f1"),
          expr("CAST(f2d AS BIGINT)").as("f2"),
          expr("CAST(1000000000 * f2d div (CAST(f1 AS DECIMAL(38,0)) * f1) AS BIGINT)")
            .as("repeat_ppb"))
        .orderBy("source")
    }),

    // Per-source KL divergence from the corpus-wide unigram distribution —
    // the drift detector a mixture-rebalancing pipeline watches (a source
    // whose token distribution diverges is over/under-represented or
    // contaminated). D(P_s‖Q)·1e6 = Σ_w floor(1e6·(c_sw/N_s)·
    // ln(c_sw·N/(N_s·c_w))), floored PER TERM (Norm.floorMicro); only
    // observed words contribute (c_sw > 0), so no smoothing constant
    // enters the declared result.
    // Scale: (source, w) partial agg; corpus unigram table and |sources|-
    // row totals broadcast (vocab-bounded); nothing corpus².
    "llm_source_kl" -> ((s, d) => {
      val tok = documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      val csw = tok.groupBy("source", "w").agg(count(lit(1)).as("c"))
      val cw = tok.groupBy("w").agg(count(lit(1)).as("cw"))
      val ns = csw.groupBy("source").agg(sum("c").as("ns"))
      val nt = cw.agg(sum("cw").as("nt"))
      csw.join(broadcast(cw), Seq("w")).join(broadcast(ns), Seq("source"))
        .crossJoin(broadcast(nt))
        .withColumn("term", expr(floorMicro(KlTerm)))
        .groupBy("source")
        .agg(max("ns").as("n_toks"), sum("term").as("kl_micro_sum"))
        .orderBy("source")
    }),

    // Conditional bigram entropy rate per language — the predictability
    // statistic that separates natural prose from template/boilerplate
    // corpora (low H(W|prev) = repetitive). Each (prev, w) contributes
    // cb·ln(cb/cp) in floored micro-nats (Norm.floorMicro); emitted as
    // (Σcb, Σterms) — the engine never divides, −Σterms/N is the reader's
    // entropy rate.
    // Scale: two partial-aggregatable groupBys over bigram-type-bounded
    // frames, then a keyed (lang, prev) shuffle join — never broadcast
    // (bigram vocab grows with corpus), never corpus².
    "llm_ngram_entropy_rate" -> ((s, d) => {
      val bg = bigrams(s, d, "lang")
      val cb = bg.groupBy("lang", "prev", "w").agg(count(lit(1)).as("cb"))
      val cp = bg.groupBy("lang", "prev").agg(count(lit(1)).as("cp"))
      cb.join(cp, Seq("lang", "prev"))
        .withColumn("term", expr(floorMicro("CAST(cb AS DOUBLE) * ln(CAST(cb AS DOUBLE) / cp)")))
        .groupBy("lang")
        .agg(sum("cb").as("n_bigrams"), sum("term").as("neg_ent_micro_sum"))
        .orderBy("lang")
    }),

    // Stupid-backoff bigram scoring (Brants et al. 2007) of held-out docs:
    // seen bigram → ln(cb/cp); unseen → fixed 0.4 penalty times the
    // Laplace unigram — the backoff LM an n-gram quality filter actually
    // ships (llm_bigram_logprob is the no-backoff sibling). Every per-token
    // score is in floored micro-nats (Norm.floorMicro). Scale: all LM
    // tables ([[heldOutBigrams]]) are vocab-bounded broadcasts; the
    // held-out stream is one narrow pass + one doc groupBy.
    "llm_backoff_logprob" -> ((s, d) => {
      val (train, held, cb, cp) = heldOutBigrams(s, d)
      val cu = train.groupBy("w").agg(count(lit(1)).as("cu"))
      val tot = train.agg(count(lit(1)).as("nt"), countDistinct("w").as("vv"))
      held
        .join(broadcast(cb), Seq("prev", "w"), "left")
        .join(broadcast(cp), Seq("prev"), "left")
        .join(broadcast(cu), Seq("w"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("lp", expr(
          s"""CASE WHEN cb IS NOT NULL
                  THEN ${floorMicro("ln(CAST(cb AS DOUBLE) / cp)")}
                  ELSE ${floorMicro("ln(0.4 * ((coalesce(cu, 0) + 1.0) / (nt + vv)))")}
             END"""))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("cb").isNull, 1L).otherwise(0L)).as("n_backoff"),
          sum("lp").as("logprob_micro"))
        .orderBy("doc_id")
    }),

    "llm_bigram_logprob" -> ((s, d) => {
      val (train, held, cb, cp) = heldOutBigrams(s, d)
      val vv = train.agg(countDistinct("w").as("vv"))
      held
        .join(broadcast(cb), Seq("prev", "w"), "left")
        .join(broadcast(cp), Seq("prev"), "left")
        .crossJoin(broadcast(vv))
        .withColumn("lp_u", expr(floorMicro("ln((coalesce(cb, 0) + 1.0) / (coalesce(cp, 0) + vv))")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("cb").isNull, 1L).otherwise(0L)).as("n_unseen_bg"),
          sum(when(col("cp").isNull, 1L).otherwise(0L)).as("n_unseen_ctx"),
          sum("lp_u").as("logprob_u"))
        .orderBy("doc_id")
    }),
  )

  /** (key, prev, w): every adjacent word pair of each document, with the
    * document's `key` column. */
  private def bigrams(s: SparkSession, d: String, key: String): DataFrame =
    documents(s, d)
      .select(col(key), split(col("text"), " ").as("t"))
      .select(col(key), explode(expr(
        """transform(slice(t, 1, greatest(size(t) - 1, 0)),
                     (x, i) -> struct(x AS prev, t[i + 1] AS w))""")).as("b"))
      .select(col(key), col("b.prev").as("prev"), col("b.w").as("w"))

  /** DuckDB twin of [[bigrams]]: the CTE `bg`. */
  private def bigramsSql(key: String): String =
    s"""bg AS (SELECT $key,
                      unnest(string_split(text, ' ')[1:-2]) AS prev,
                      unnest(string_split(text, ' ')[2:]) AS w
               FROM documents)"""

  /** The language-model split of a doc_id-keyed frame: (train, held out).
    * Every fifth document (doc_id divisible by 5) is held out for scoring;
    * the models train on the rest. */
  private def lmSplit(df: DataFrame): (DataFrame, DataFrame) =
    (df.filter(col("doc_id") % 5 =!= 0), df.filter(col("doc_id") % 5 === 0))
  /** DuckDB twin of [[lmSplit]]: the (train, held-out) predicates. */
  private val TrainSql = "doc_id % 5 <> 0"
  private val HeldOutSql = "doc_id % 5 = 0"

  /** Laplace unigram log-prob of a held-out token, floored per token. */
  private val UnigramLp = floorMicro("ln((coalesce(c, 0) + 1.0) / (nn + vv + 1.0))")

  /** Held-out tokens (doc_id, keys…, w) scored by the train-slice Laplace
    * unigram LM: train count `c` (null when unseen), train totals `nn`/`vv`
    * and the per-token `lp_u`. */
  private def heldOutUnigrams(s: SparkSession, d: String, keys: String*): DataFrame = {
    val toks = documents(s, d)
      .select((col("doc_id") +: keys.map(col) :+ explode(split(col("text"), " ")).as("w")): _*)
    val (train, held) = lmSplit(toks)
    val counts = train.groupBy("w").agg(count(lit(1)).as("c"))
    val stats = counts.agg(sum("c").as("nn"), count(lit(1)).as("vv"))
    held.join(broadcast(counts), Seq("w"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("lp_u", expr(UnigramLp))
  }

  /** DuckDB twin of [[heldOutUnigrams]]: the CTEs `toks`, `counts`, `stats`
    * and `scored`. */
  private def heldOutUnigramsSql(keys: String*): String =
    s"""toks AS (SELECT doc_id, ${keys.map(_ + ", ").mkString}unnest(string_split(text, ' ')) AS w
                 FROM documents),
        counts AS (SELECT w, count(*) AS c FROM toks WHERE $TrainSql GROUP BY w),
        stats AS (SELECT CAST(sum(c) AS BIGINT) AS nn, count(*) AS vv FROM counts),
        scored AS (SELECT *, $UnigramLp AS lp_u
                   FROM toks LEFT JOIN counts USING (w) CROSS JOIN stats
                   WHERE $HeldOutSql)"""

  /** The bigram LM tables over [[bigrams]] by doc_id: (train bigrams,
    * held-out bigrams, train (prev, w) counts `cb`, train prev counts `cp`). */
  private def heldOutBigrams(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (train, held) = lmSplit(bigrams(s, d, "doc_id"))
    val cb = train.groupBy("prev", "w").agg(count(lit(1)).as("cb"))
    val cp = train.groupBy("prev").agg(count(lit(1)).as("cp"))
    (train, held, cb, cp)
  }

  /** DuckDB twin of [[heldOutBigrams]]: the CTEs `bg`, `train`, `held`,
    * `cb` and `cp`. */
  private val heldOutBigramsSql: String =
    s"""${bigramsSql("doc_id")},
        train AS (SELECT * FROM bg WHERE $TrainSql),
        held AS (SELECT * FROM bg WHERE $HeldOutSql),
        cb AS (SELECT prev, w, count(*) AS cb FROM train GROUP BY 1, 2),
        cp AS (SELECT prev, count(*) AS cp FROM train GROUP BY 1)"""

  /** BM25 (k1=1.2, b=0.75) per-(doc, term) score, the same text on both
    * engines. */
  private val Bm25Term =
    """ln((CAST(nd - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       * ((CAST(c AS DOUBLE) * 2.2)
          / (CAST(c AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(len AS DOUBLE) / (CAST(sumlen AS DOUBLE) / nd)))))"""

  /** Per-(source, word) KL term (c/ns)·ln(c·nt / (ns·cw)), both engines. */
  private val KlTerm =
    "(CAST(c AS DOUBLE) / ns) * ln((CAST(c AS DOUBLE) * nt) / (CAST(ns AS DOUBLE) * cw))"

  /** Portable 8-family salted-md5 MinHash signatures (doc_id, mh0..mh7):
    * one narrow distinct-token explode, then ONE doc_id-keyed
    * partial-aggregatable shuffle carrying 8 longs per (partition, doc).
    * Shared by `llm_minhash_signature` (the declared signature table) and
    * `llm_lsh_bucket_stats` (the banding report over it). */
  private def minhashSig(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d, par = true)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
    val mins = (0 until 8).map(k =>
      min(expr(s"CAST(conv(substr(md5(concat('$k:', w)), 1, 8), 16, 10) AS BIGINT)"))
        .as(s"mh$k"))
    // Lazy localCheckpoint (r13): band_recall references this frame ~10×
    // (sa, sb, and one band frame per (bands, rows) config), bucket_stats
    // 4×, accuracy 2× — without the checkpoint each reference re-runs the
    // tokenize+8-way-md5-min collapse from the scan (the agg_gini /
    // filter_outlier_mad recompute class). The frame is corpus-LINEAR
    // small (9 longs per doc), so checkpointing it is the cheap side of
    // the trade at any scale.
    toks.groupBy("doc_id").agg(mins.head, mins.tail: _*).localCheckpoint(false)
  }

  /** DuckDB twin of Spark's `conv(substr(md5(e),1,8),16,10)`: decode the
    * first 8 hex nibbles positionally (the simhash-oracle instr trick —
    * DuckDB has no base-conv function). */
  private def hex8Sql(e: String): String =
    (1 to 8).map(i =>
      s"(instr('0123456789abcdef', substr(md5($e), $i, 1)) - 1) * ${BigInt(16).pow(8 - i)}")
      .mkString("(", " + ", ")")

  /** The minhash-signature CTE body (toks + sig), shared by the two
    * signature-consuming oracles. */
  private val sigCte: String =
    s"""toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
                 FROM documents),
        sig AS (SELECT doc_id,
                       ${(0 until 8).map(k =>
                         s"CAST(min(${hex8Sql(s"'$k:' || w")}) AS BIGINT) AS mh$k").mkString(", ")}
                FROM toks GROUP BY doc_id)"""

  val oracle: Map[String, String] = Map(
    "llm_minhash_signature" ->
      s"""WITH $sigCte
          SELECT doc_id, mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7
          FROM sig ORDER BY doc_id""",
    "llm_lsh_bucket_stats" ->
      s"""WITH $sigCte,
              bands AS (${(0 until 4).map(b =>
                s"SELECT $b AS band, mh${2 * b} AS ra, mh${2 * b + 1} AS rb FROM sig")
                .mkString(" UNION ALL ")}),
              bk AS (SELECT band, ra, rb, count(*) AS sz FROM bands GROUP BY 1, 2, 3)
          SELECT CAST(band AS BIGINT) AS band, count(*) AS n_buckets,
                 CAST(max(sz) AS BIGINT) AS max_bucket,
                 CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS candidate_pairs
          FROM bk GROUP BY band ORDER BY band""",
    // Truth pairs = the word-pair twin; detection/cost per banding config
    // over the shared sig CTE.
    "llm_lsh_band_recall" -> {
      val configs = Seq((8, 1), (4, 2), (2, 4), (1, 8))
      def detSql(bn: Int, r: Int): String = (0 until bn).map { bi =>
        (0 until r).map(j => s"a.mh${bi * r + j} = b.mh${bi * r + j}")
          .mkString("(", " AND ", ")")
      }.mkString("(", " OR ", ")")
      val candCte = configs.map { case (bn, r) =>
        val bandSel = (0 until bn).map { bi =>
          s"SELECT $bi AS band, ${(0 until r).map(j => s"mh${bi * r + j} AS k$j").mkString(", ")} FROM sig"
        }.mkString(" UNION ALL ")
        s"""SELECT $bn AS bands, $r AS rows_per_band,
               COALESCE(sum(sz * (sz - 1) // 2), 0) AS candidate_pairs
            FROM (SELECT band, ${(0 until r).map(j => s"k$j").mkString(", ")}, count(*) AS sz
                  FROM ($bandSel) GROUP BY ${(1 to r + 1).mkString(", ")})"""
      }.mkString(" UNION ALL ")
      val recSel = configs.map { case (bn, r) =>
        s"SELECT $bn AS bands, $r AS rows_per_band, n_true, det_$bn AS n_detected FROM flags"
      }.mkString(" UNION ALL ")
      s"""WITH $sigCte,
              ${Shared.wordPairsSql("tp")},
              flags AS (SELECT count(*) AS n_true,
                               ${configs.map { case (bn, r) =>
                                 s"COALESCE(sum(CASE WHEN ${detSql(bn, r)} THEN 1 ELSE 0 END), 0) AS det_$bn"
                               }.mkString(", ")}
                        FROM tp JOIN sig a ON a.doc_id = tp.doc_a
                                JOIN sig b ON b.doc_id = tp.doc_b),
              rec AS ($recSel),
              cd AS ($candCte)
          SELECT CAST(r.bands AS BIGINT) AS bands,
                 CAST(r.rows_per_band AS BIGINT) AS rows_per_band,
                 CAST(r.n_true AS BIGINT) AS n_true,
                 CAST(r.n_detected AS BIGINT) AS n_detected,
                 CAST(10000 * r.n_detected // greatest(r.n_true, 1) AS BIGINT) AS recall_bp,
                 CAST(c.candidate_pairs AS BIGINT) AS candidate_pairs
          FROM rec r JOIN cd c ON c.bands = r.bands AND c.rows_per_band = r.rows_per_band
          ORDER BY r.bands DESC"""
    },
    // Truth pairs = the word-pair twin; estimator = 8-hash agreement over sig.
    "llm_minhash_accuracy" -> {
      val agree = (0 until 8).map(k =>
        s"CASE WHEN a.mh$k = b.mh$k THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $sigCte,
              ${Shared.wordPairsSql("tp")},
              pe AS (SELECT tp.jaccard_bp,
                            CAST(($agree) * 1250 AS BIGINT) AS est_bp
                     FROM tp JOIN sig a ON a.doc_id = tp.doc_a
                             JOIN sig b ON b.doc_id = tp.doc_b)
          SELECT least(jaccard_bp, 9999) // 500 * 500 AS bucket_lo,
                 count(*) AS n_pairs,
                 CAST(sum(abs(est_bp - jaccard_bp)) // count(*) AS BIGINT) AS mae_bp,
                 CAST(sum(est_bp - jaccard_bp) // count(*) AS BIGINT) AS bias_bp
          FROM pe GROUP BY 1 ORDER BY bucket_lo"""
    },
    "llm_dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS n_docs, min(doc_id) AS min_doc_id
         FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY h""",
    // The bloom is plan-only acceleration — the answer is the plain semi join.
    "llm_dedup_bloom_prefilter" ->
      """WITH f AS (SELECT doc_id,
                           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS h
                    FROM documents)
         SELECT p.doc_id, p.h
         FROM f p
         WHERE p.doc_id % 2 = 1
           AND EXISTS (SELECT 1 FROM f r WHERE r.doc_id % 2 = 0 AND r.h = p.h)
         ORDER BY p.doc_id""",
    // Exact all-pairs Jaccard over the full corpus: no sketch.
    "llm_dedup_near" ->
      s"""WITH ${Shared.wordPairsSql("pairs")}
          SELECT doc_a, doc_b, jaccard_bp FROM pairs ORDER BY doc_a, doc_b""",
    "llm_dedup_threshold_sweep" ->
      s"""WITH ${Shared.wordPairsSql("p")},
               th AS (SELECT unnest([8000, 8500, 9000, 9500, 10000]) AS threshold_bp),
               e AS (SELECT th.threshold_bp, p.doc_a AS doc FROM p, th
                     WHERE p.jaccard_bp >= th.threshold_bp
                     UNION ALL
                     SELECT th.threshold_bp, p.doc_b FROM p, th
                     WHERE p.jaccard_bp >= th.threshold_bp)
          SELECT threshold_bp, CAST(count(*) // 2 AS BIGINT) AS n_pairs,
                 count(DISTINCT doc) AS n_docs
          FROM e GROUP BY threshold_bp ORDER BY threshold_bp""",
    "llm_sim_cosine_pairs" ->
      s"""SELECT a.vec_id AS vid_a, b.vec_id AS vid_b,
          ${d4Sql(Shared.cosSql("a.embedding", "b.embedding"))} AS cosine
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE ${Shared.cosSql("a.embedding", "b.embedding")} >= 0.5
          ORDER BY vid_a, vid_b""",
    "llm_sim_topk" ->
      s"""SELECT qid, vid, cosine, rank FROM (
            SELECT q.vec_id AS qid, c.vec_id AS vid,
                   ${d4Sql(Shared.cosSql("q.embedding", "c.embedding"))} AS cosine,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY ${Shared.cosSql("q.embedding", "c.embedding")} DESC, c.vec_id) AS rank
            FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
          WHERE rank <= 5 ORDER BY qid, rank""",
    "llm_sample_stratified" ->
      """SELECT lang, count(*) AS n_total,
                CAST(sum(CASE WHEN smp THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
                min(CASE WHEN smp THEN doc_id END) AS first_sampled,
                max(CASE WHEN smp THEN doc_id END) AS last_sampled
         FROM (SELECT lang, doc_id,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 5 = 0 AS smp
               FROM documents)
         GROUP BY lang ORDER BY lang""",
    "llm_text_wordcount" ->
      """SELECT token, count(*) AS n
         FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         GROUP BY token ORDER BY n DESC, token LIMIT 50""",
    "llm_text_tfidf" ->
      s"""WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
               tf AS (SELECT doc_id, term, count(*) AS cnt FROM terms GROUP BY 1, 2),
               dl AS (SELECT doc_id, count(*) AS len FROM terms GROUP BY 1),
               df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1),
               n AS (SELECT count(*) AS n_docs FROM documents)
          SELECT tf.doc_id, tf.term,
                 ${d6Sql("(CAST(cnt AS DOUBLE) / len) * ln(CAST(n_docs AS DOUBLE) / df)")} AS score_r
          FROM tf JOIN dl ON tf.doc_id = dl.doc_id JOIN df ON tf.term = df.term CROSS JOIN n
          ORDER BY score_r DESC, tf.doc_id, tf.term LIMIT 100""",
    "llm_text_ngrams" ->
      s"""SELECT bigram, count(*) AS n FROM (
           SELECT unnest(${Shared.wordGramsSql("toks", "2")}) AS bigram
           FROM (SELECT string_split(text, ' ') AS toks FROM documents))
         GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50""",
    "llm_bigram_pmi" ->
      s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
              big AS (SELECT bigram, count(*) AS n_xy FROM (
                        SELECT unnest(${Shared.wordGramsSql("t", "2")}) AS bigram FROM toks)
                      GROUP BY 1 HAVING count(*) >= 10),
              uni AS (SELECT tok, count(*) AS n_tok
                      FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
              tt AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total FROM uni)
         SELECT bigram, n_xy,
                ${floorMicro("ln((CAST(n_xy AS DOUBLE) * total) / (CAST(n_x AS DOUBLE) * n_y))")} AS pmi_micro
         FROM big
         JOIN (SELECT tok AS w1x, n_tok AS n_x FROM uni) ON split_part(bigram, ' ', 1) = w1x
         JOIN (SELECT tok AS w2x, n_tok AS n_y FROM uni) ON split_part(bigram, ' ', 2) = w2x
         CROSS JOIN tt
         ORDER BY bigram""",
    "llm_lang_profile" ->
      s"""WITH per_doc AS (SELECT lang, source, count(*) AS n_docs,
                                  ${d4Sql("avg(n_chars)")} AS avg_chars
                           FROM documents GROUP BY 1, 2),
               per_tok AS (SELECT lang, source, count(DISTINCT tok) AS n_distinct_toks
                           FROM (SELECT lang, source, unnest(string_split(text, ' ')) AS tok FROM documents)
                           GROUP BY 1, 2)
          SELECT p.lang, p.source, p.n_docs, p.avg_chars, t.n_distinct_toks
          FROM per_doc p JOIN per_tok t ON p.lang = t.lang AND p.source = t.source
          ORDER BY p.lang, p.source""",
    "llm_token_histogram" ->
      """SELECT CAST(length(bin(c)) AS INTEGER) AS log2_bucket,
                count(*) AS n_words, CAST(sum(c) AS BIGINT) AS n_tokens,
                min(w) AS example
         FROM (SELECT w, count(*) AS c
               FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
               GROUP BY w)
         GROUP BY 1 ORDER BY 1""",
    // Same two independently-floored lns; the total is the token count
    // (Σ vocab counts), computed off the token stream on both engines.
    "llm_perplexity_unigram" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                       FROM documents),
              vocab AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
              tot AS (SELECT CAST(count(*) AS BIGINT) AS tc FROM toks),
              surp AS (SELECT w,
                              ${floorMicro("ln(CAST(tc AS DOUBLE))")}
                              - ${floorMicro("ln(CAST(c AS DOUBLE))")} AS sp
                       FROM vocab, tot)
         SELECT doc_id, count(*) AS n_tok,
                CAST(sum(sp) AS BIGINT) AS nll_total,
                CAST(sum(sp) // count(*) AS BIGINT) AS mean_nll_micro
         FROM toks JOIN surp USING (w)
         GROUP BY doc_id ORDER BY doc_id""",
    // Same per-term micro-floored lns; DuckDB sum(BIGINT) is HUGEINT, the
    // exact twin of the Spark side's DECIMAL(38,0) accumulators.
    "llm_zipf_fit" ->
      s"""WITH tf AS (SELECT source, w, count(*) AS c
                     FROM (SELECT source, unnest(string_split(text, ' ')) AS w
                           FROM documents)
                     GROUP BY 1, 2),
              xy AS (SELECT source,
                            ${floorMicro("ln(CAST(rk AS DOUBLE))")} AS x,
                            ${floorMicro("ln(CAST(c AS DOUBLE))")} AS y
                     FROM (SELECT source, c,
                                  row_number() OVER (PARTITION BY source
                                                     ORDER BY c DESC, w) AS rk
                           FROM tf)),
              sums AS (SELECT source, count(*) AS n,
                              sum(CAST(x AS HUGEINT)) AS sx,
                              sum(CAST(y AS HUGEINT)) AS sy,
                              sum(CAST(x AS HUGEINT) * y) AS sxy,
                              sum(CAST(x AS HUGEINT) * x) AS sxx,
                              sum(CAST(y AS HUGEINT) * y) AS syy
                       FROM xy GROUP BY 1)
         SELECT source, CAST(n AS BIGINT) AS vocab_n,
                CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN 0
                     ELSE ${floorBp("""CAST(n * sxy - sx * sy AS DOUBLE)
                                       / CAST(n * sxx - sx * sx AS DOUBLE)""")}
                END AS slope_bp,
                CASE WHEN n < 2 OR n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0
                     ELSE ${floorBp("""CAST(n * sxy - sx * sy AS DOUBLE)
                                       * CAST(n * sxy - sx * sy AS DOUBLE)
                                       / (CAST(n * sxx - sx * sx AS DOUBLE)
                                          * CAST(n * syy - sy * sy AS DOUBLE))""")}
                END AS r2_bp
         FROM sums ORDER BY source""",
    // quantile_disc is DuckDB's discrete-percentile twin of bucketedPdisc
    // (smallest value whose cume_dist ≥ p — the agg_percentile_disc pairing);
    // `//` truncates toward zero exactly like Spark's `div`.
    "llm_perplexity_filter" ->
      s"""WITH ${heldOutUnigramsSql("lang")},
              sc AS (SELECT doc_id, lang, count(*) AS n_toks, CAST(sum(lp_u) AS BIGINT) AS lp
                     FROM scored GROUP BY doc_id, lang),
              av AS (SELECT lang, n_toks, lp // n_toks AS avg_lp FROM sc),
              cut AS (SELECT quantile_disc(avg_lp, 0.25) AS cutoff FROM av)
         SELECT lang, count(*) AS n_held,
                CAST(sum(CASE WHEN avg_lp >= cutoff THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(sum(CASE WHEN avg_lp >= cutoff THEN n_toks ELSE 0 END) AS BIGINT) AS kept_tokens
         FROM av CROSS JOIN cut GROUP BY lang ORDER BY lang""",
    "llm_unigram_logprob" ->
      s"""WITH ${heldOutUnigramsSql()}
         SELECT doc_id, count(*) AS n_toks,
                CAST(sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
                CAST(sum(lp_u) AS BIGINT) AS logprob_u
         FROM scored GROUP BY doc_id ORDER BY doc_id""",
    "llm_dup_overlap_matrix" ->
      """WITH hs AS (SELECT DISTINCT
                            md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS h,
                            source
                     FROM documents)
         SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared_classes
         FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // Bigrams via the parallel-unnest zip over t[1..n-1] × t[2..n]
    // (1-based list slicing in DuckDB).
    "llm_feature_hashing" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
         SELECT source,
                ((instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
                 + (instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)) % 64 AS bucket,
                count(*) AS n_toks,
                CAST(sum(CASE WHEN (instr('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) % 2 = 0
                              THEN 1 ELSE -1 END) AS BIGINT) AS feat
         FROM t GROUP BY 1, 2 ORDER BY source, bucket""",
    "llm_bm25_topk" ->
      s"""WITH tf AS (SELECT doc_id, tok, count(*) AS c
                     FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
                     GROUP BY 1, 2),
              dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len
                     FROM documents),
              st AS (SELECT count(*) AS nd, CAST(sum(len) AS BIGINT) AS sumlen FROM dl),
              dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
              terms AS (SELECT tok, df FROM dft CROSS JOIN st
                        WHERE df * 2 <= nd
                        ORDER BY df DESC, tok LIMIT 3)
         SELECT doc_id, count(*) AS n_terms_hit,
                CAST(sum(${floorMicro(Bm25Term)}) AS BIGINT) AS bm25_micro
         FROM tf JOIN terms USING (tok) JOIN dl USING (doc_id) CROSS JOIN st
         GROUP BY doc_id ORDER BY bm25_micro DESC, doc_id LIMIT 20""",
    "llm_token_moments" ->
      """WITH csw AS (SELECT source, w, count(*) AS c
                     FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
                     GROUP BY 1, 2)
         SELECT source, count(*) AS f0, CAST(sum(c) AS BIGINT) AS f1,
                CAST(sum(c * c) AS BIGINT) AS f2,
                CAST(1000000000 * sum(c * c) // (sum(c) * sum(c)) AS BIGINT) AS repeat_ppb
         FROM csw GROUP BY source ORDER BY source""",
    "llm_source_kl" ->
      s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
              csw AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
              cw AS (SELECT w, count(*) AS cw FROM tok GROUP BY 1),
              ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM csw GROUP BY 1),
              tt AS (SELECT CAST(sum(cw) AS BIGINT) AS nt FROM cw)
         SELECT source, max(ns) AS n_toks,
                CAST(sum(${floorMicro(KlTerm)}) AS BIGINT) AS kl_micro_sum
         FROM csw JOIN cw USING (w) JOIN ns USING (source) CROSS JOIN tt
         GROUP BY source ORDER BY source""",
    "llm_ngram_entropy_rate" ->
      s"""WITH ${bigramsSql("lang")},
              cb AS (SELECT lang, prev, w, count(*) AS cb FROM bg GROUP BY 1, 2, 3),
              cp AS (SELECT lang, prev, count(*) AS cp FROM bg GROUP BY 1, 2)
         SELECT lang, CAST(sum(cb) AS BIGINT) AS n_bigrams,
                CAST(sum(${floorMicro("CAST(cb AS DOUBLE) * ln(CAST(cb AS DOUBLE) / cp)")}) AS BIGINT) AS neg_ent_micro_sum
         FROM cb JOIN cp USING (lang, prev)
         GROUP BY lang ORDER BY lang""",
    "llm_backoff_logprob" ->
      s"""WITH $heldOutBigramsSql,
              cu AS (SELECT w, count(*) AS cu FROM train GROUP BY 1),
              tt AS (SELECT count(*) AS nt, count(DISTINCT w) AS vv FROM train)
         SELECT doc_id, count(*) AS n_bigrams,
                CAST(sum(CASE WHEN cb.cb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
                CAST(sum(CASE WHEN cb.cb IS NOT NULL
                              THEN ${floorMicro("ln(CAST(cb.cb AS DOUBLE) / cp.cp)")}
                              ELSE ${floorMicro("ln(0.4 * ((coalesce(cu.cu, 0) + 1.0) / (nt + vv)))")}
                         END) AS BIGINT) AS logprob_micro
         FROM held LEFT JOIN cb USING (prev, w) LEFT JOIN cp USING (prev)
                   LEFT JOIN cu USING (w) CROSS JOIN tt
         GROUP BY doc_id ORDER BY doc_id""",
    "llm_bigram_logprob" ->
      s"""WITH $heldOutBigramsSql,
              vv AS (SELECT count(DISTINCT w) AS vv FROM train)
         SELECT doc_id, count(*) AS n_bigrams,
                CAST(sum(CASE WHEN cb.cb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen_bg,
                CAST(sum(CASE WHEN cp.cp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen_ctx,
                CAST(sum(${floorMicro("ln((coalesce(cb.cb, 0) + 1.0) / (coalesce(cp.cp, 0) + vv))")}) AS BIGINT) AS logprob_u
         FROM held LEFT JOIN cb USING (prev, w) LEFT JOIN cp USING (prev) CROSS JOIN vv
         GROUP BY doc_id ORDER BY doc_id""",
  )
}
