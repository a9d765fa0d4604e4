package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Norm._
import graft.Tables._
import graft.Gates

/** Training-data-pipeline operators beyond SURVEY §2.J's core eight:
  * SimHash fingerprints, char-n-gram Jaccard dedup, IVF-style ANN,
  * data-driven language ID, quality scoring, token counting, document
  * fingerprinting, and the multimodal binary-column path.
  *
  * Cross-engine determinism techniques used here:
  *   - SimHash bits come from md5 nibbles decoded with
  *     `instr('0123456789abcdef', …)` — identical in Spark and DuckDB, so a
  *     64-bit SimHash is hash-parity-checkable (engine-native hash functions
  *     are not, their seeds differ).
  *   - Language-ID scores are pure INTEGER dot products (doc-bigram count ×
  *     train-profile count) — no float ever enters the argmax.
  *   - IVF uses the first 8 vectors as fixed coarse centroids: assignment
  *     and 2-probe search are window-function argmaxes over broadcast-sized
  *     joins (corpus × 8, never corpus × corpus).
  */
object LlmExtras {
  // ---- shared cosine machinery (same fold as LlmPipeline) ----
  // norms and dots run through the codegen graft_dot Expression — the same
  // index-order accumulation as the declarative aggregate fold, bit-identical
  // results, but a primitive loop inside whole-stage codegen. The normed
  // frame is memoized + checkpointed once per (app, sfDir) in [[Shared]].
  private def vecs(s: SparkSession, d: String): DataFrame = Shared.vecs(s, d)

  private val dotExpr = "graft_dot(va, vb)"

  /** DuckDB twin of llm_sim_mmr's greedy loop: iterations 2..5 unrolled to
    * pK (scores vs selK−1) / kK (argmax pick) / selK (accumulated) CTEs —
    * the graph_pagerank_fixed unrolling pattern applied to MMR. */
  private def mmrSteps: String = (2 to 5).map { k =>
    s"""p$k AS (SELECT c.qid, c.cid, c.sim,
                      CAST(0.7 AS DOUBLE) * c.sim
                        - CAST(0.3 AS DOUBLE) * max(x.csim) AS score
               FROM cand c
               LEFT JOIN sel${k - 1} dd ON dd.qid = c.qid AND dd.cid = c.cid
               JOIN cp x ON x.qid = c.qid AND x.ca = c.cid
               JOIN sel${k - 1} ss ON ss.qid = x.qid AND ss.cid = x.cb
               WHERE dd.cid IS NULL
               GROUP BY c.qid, c.cid, c.sim),
        k$k AS (SELECT qid, cid, sim, $k AS rank FROM (
                 SELECT qid, cid, sim,
                        row_number() OVER (PARTITION BY qid
                                           ORDER BY score DESC, cid) AS rn
                 FROM p$k) WHERE rn = 1),
        sel$k AS (SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM k$k)"""
  }.mkString(",\n")

  // ---- SimHash: generated 64-bit signature from md5 nibbles ----
  /** Nibble p (1..16) of md5(tok), as 0..15, via the cross-engine instr trick. */
  private def nib(p: Int) = s"(instr('0123456789abcdef', substr(md5(tok), $p, 1)) - 1)"
  /** 64 signed bit-sums; `divOp` is `div` (Spark) or `//` (DuckDB). */
  private def simhashSums(divOp: String): Seq[String] =
    for (p <- 1 to 16; b <- 0 to 3) yield
      s"sum(CASE WHEN (${nib(p)} $divOp ${1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS s_${p}_$b"
  private def simhashHex: String =
    (1 to 16).map { p =>
      val digit = (0 to 3).map(b => s"CASE WHEN s_${p}_$b > 0 THEN ${1 << b} ELSE 0 END").mkString(" + ")
      s"substr('0123456789abcdef', ($digit) + 1, 1)"
    }.mkString("concat(", ", ", ")")

  /** (doc_id, cluster_rep) for every document: connected components of the
    * exact Jaccard>=0.8 near-dup pair graph via the two-phase
    * star-contraction algorithm in [[graft.Scale.connectedComponents]]
    * (measured: 2.97M pairs collapse to 27 contracted edges at sf0.1, so
    * the edge-sized work ends after one aggregation + one projection
    * join). Pair set AND labels are memoized per (app, sfDir) in
    * [[Shared]], so llm_dedup_near / llm_dedup_clusters /
    * llm_dedup_keep_best pay the quadratic-output pair computation once
    * per process instead of three times. */
  private def clusterReps(s: SparkSession, d: String): DataFrame =
    Shared.ccLabels(s, d)

  /** Ascending-codepoint string order — equal to UTF8String's byte-wise
    * UTF-8 comparison, which is what IntersectSize's strictly-increasing
    * probe checks. Java's `String.compareTo` (UTF-16 code-unit order) is NOT
    * that order for supplementary characters: a surrogate pair (0xD800+)
    * compares below BMP chars in [U+E000, U+FFFF] even though its codepoint
    * is larger. */
  private[graft] val codepointOrder: java.util.Comparator[String] =
    new java.util.Comparator[String] with Serializable {
      def compare(a: String, b: String): Int = {
        var i = 0
        var j = 0
        while (i < a.length && j < b.length) {
          val ca = a.codePointAt(i)
          val cb = b.codePointAt(j)
          if (ca != cb) return Integer.compare(ca, cb)
          i += Character.charCount(ca)
          j += Character.charCount(cb)
        }
        Integer.compare(a.length - i, b.length - j)
      }
    }

  /** Distinct char-3-gram set of `text`, codepoint-windowed (matching the
    * oracle's substring semantics on any input, not just ASCII), emitted in
    * ascending codepoint (== UTF-8 byte) order: if a corpus ever pushes the
    * gram vocabulary past 4096 and [[LlmPipeline.nearDupPairs]] routes to
    * the LSH path, its exact verify keeps IntersectSize's O(n+m) two-pointer
    * merge instead of silently degrading to the O(n·m) nested loop. (The
    * bitmap kernel the bounded vocab selects is order-insensitive; the sort
    * costs one pass over ≤ vocab distinct grams per doc.) */
  private[graft] def charGrams(text: String): Seq[String] = {
    val set = new java.util.LinkedHashSet[String]()
    val n = text.codePointCount(0, text.length)
    var start = 0 // UTF-16 index of codepoint window start
    var k = 0
    while (k + 3 <= n) {
      val end = text.offsetByCodePoints(start, 3)
      set.add(text.substring(start, end))
      start = text.offsetByCodePoints(start, 1)
      k += 1
    }
    val arr = set.toArray(Array.empty[String])
    java.util.Arrays.sort(arr, codepointOrder)
    arr.toSeq
  }

  /** (doc_id, simhash hex) for every document — the shared construction
    * behind the signature and hamming-search ops.
    *
    * A per-document scalar, so it runs as ONE narrow per-partition pass
    * (no explode, no doc×token shuffle, no 64-expression aggregate): for
    * each distinct token, the first 16 hex nibbles of md5(tok) vote ±1 on
    * 64 bit counters — numerically identical to the SQL construction the
    * oracle uses (`simhashSums`/`simhashHex`, kept as the cross-engine
    * spec), since java MessageDigest md5 == Spark md5 == DuckDB md5. */
  private def simhashSigs(s: SparkSession, d: String): DataFrame = {
    val sp = s
    import sp.implicits._
    documents(s, d).select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val counters = new Array[Int](64)
          val seen = new java.util.HashSet[String]()
          val toks = text.split(" ", -1)
          var ti = 0
          while (ti < toks.length) {
            val t = toks(ti)
            if (seen.add(t)) {
              md.reset()
              val dig = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              var p = 0 // hex-nibble index 0..15 == SQL positions 1..16
              while (p < 16) {
                val b = dig(p / 2) & 0xff
                val nib = if (p % 2 == 0) b >> 4 else b & 15
                var bi = 0
                while (bi < 4) {
                  counters(p * 4 + bi) += (if (((nib >> bi) & 1) == 1) 1 else -1)
                  bi += 1
                }
                p += 1
              }
            }
            ti += 1
          }
          val sb = new java.lang.StringBuilder(16)
          var p = 0
          while (p < 16) {
            var digit = 0
            var bi = 0
            while (bi < 4) {
              if (counters(p * 4 + bi) > 0) digit |= (1 << bi)
              bi += 1
            }
            sb.append("0123456789abcdef".charAt(digit))
            p += 1
          }
          (id, sb.toString)
        }
      }.toDF("doc_id", "simhash")
  }

  /** The top-tier co-supply graph as (inc, edges): `inc` holds the
    * distinct (p = part, v = supplier) pairs of lineitem rows with
    * l_quantity ≥ 50, `edges` the directed-symmetric (src, dst) supplier
    * pairs that share a part, without self loops. Both are lazily
    * checkpointed and blocking-bounded, far below corpus size: `edges` sits
    * under every round of the fixed-round graph ops, `inc` under both
    * self-join sides and the node set. */
  private def coSupply(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val inc = lineitem(s, d).filter(col("l_quantity") >= 50)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("v")).distinct()
      .localCheckpoint(false)
    val edges = inc.as("a").join(inc.as("b"), col("a.p") === col("b.p"))
      .filter(col("a.v") =!= col("b.v"))
      .select(col("a.v").as("src"), col("b.v").as("dst")).distinct()
      .localCheckpoint(false)
    (inc, edges)
  }

  /** Nearest-centroid assignment: each point of `pts` (rows of [[vecs]])
    * scored by cosine against the first `k` vectors as fixed centroids
    * (`cid` = their vec_id), keeping the `top` nearest under the
    * engine-stable (cosine desc, cid) order. Returns `pts`' own columns
    * plus `cid`, one row per (point, kept centroid). */
  private[graft] def nearestCentroids(s: SparkSession, d: String, pts: DataFrame,
                               k: Long, top: Int): DataFrame = {
    val cent = vecs(s, d).filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("v").as("vb"), col("nrm").as("nb"))
    pts.join(broadcast(cent), lit(true))
      .withColumn("ccos", expr("graft_dot(v, vb)") / (col("nrm") * col("nb")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid"))))
      .filter(col("rn") <= top)
      .select(pts.columns.toSeq.map(col) :+ col("cid"): _*)
  }

  /** DuckDB twin of [[nearestCentroids]]: the CTEs `out_cent` and `out`,
    * where `out` is the columns of the embeddings relation `pts` plus `cid`,
    * and `k` is an SQL expression. */
  private def nearestCentroidsSql(out: String, pts: String, k: String, top: Int): String =
    s"""${out}_cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < $k),
        $out AS (SELECT * EXCLUDE (rn) FROM (
          SELECT p.*, cent.cid,
                 row_number() OVER (PARTITION BY p.vec_id
                                    ORDER BY ${Shared.cosSql("p.embedding", "cent.cv")} DESC, cent.cid) AS rn
          FROM $pts p CROSS JOIN ${out}_cent cent) WHERE rn <= $top)"""

  /** Exact cosine rerank of (qid, vid) candidate pairs `cand`: each
    * query's 3 nearest candidates by (cosine desc, vid), as (qid, vid,
    * cosine in basis points, rank), ordered by (qid, rank). */
  private def rerankTop3(s: SparkSession, d: String, cand: DataFrame): DataFrame = {
    val q = vecs(s, d).select(col("vec_id").as("qid"), col("v").as("va"), col("nrm").as("na"))
    val t = vecs(s, d).select(col("vec_id").as("vid"), col("v").as("vb"), col("nrm").as("nb"))
    cand.join(q, "qid").join(t, "vid")
      .withColumn("cos", expr(dotExpr) / (col("na") * col("nb")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("vid"), d4(col("cos")).as("cosine"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** DuckDB twin of [[rerankTop3]] over the (qid, vid) relation `cand`. */
  private def rerankTop3Sql(cand: String): String =
    s"""SELECT qid, vid, cosine, rank FROM (
          SELECT c.qid, c.vid,
                 ${d4Sql(Shared.cosSql("q.embedding", "t.embedding"))} AS cosine,
                 row_number() OVER (PARTITION BY c.qid
                                    ORDER BY ${Shared.cosSql("q.embedding", "t.embedding")} DESC, c.vid) AS rank
          FROM $cand c JOIN embeddings q ON q.vec_id = c.qid JOIN embeddings t ON t.vec_id = c.vid)
        WHERE rank <= 3 ORDER BY qid, rank"""

  /** DuckDB twin of [[coSupply]]: the CTEs `inc` and `e`. */
  private val coSupplySql: String =
    """inc AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS v
               FROM lineitem WHERE l_quantity >= 50),
       e AS (SELECT DISTINCT a.v AS src, b.v AS dst
             FROM inc a JOIN inc b ON a.p = b.p AND a.v <> b.v)"""

  /** [[coSupply]] edges and (v, lbl) labels after 2 neighbor-majority
    * rounds under the engine-stable (count desc, label asc) argmax, shared
    * by `graph_label_propagation` and `graph_modularity`. Each round's
    * labels are lazily checkpointed. */
  private def coSupplyLpa(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (inc, edges) = coSupply(s, d)
    val l0 = inc.select("v").distinct().withColumn("lbl", col("v") % 5)
    val l2 = (1 to 2).foldLeft(l0) { (l, _) =>
      val votes = edges.join(l.select(col("v").as("src"), col("lbl")), "src")
        .groupBy("dst", "lbl").agg(count(lit(1)).as("c"))
      val mode = votes.withColumn("rn", row_number().over(
          Window.partitionBy("dst").orderBy(col("c").desc, col("lbl"))))
        .filter(col("rn") === 1)
        .select(col("dst").as("v"), col("lbl").as("newlbl"))
      l.join(mode, Seq("v"), "left")
        .select(col("v"), coalesce(col("newlbl"), col("lbl")).as("lbl"))
        .localCheckpoint(false)
    }
    (edges, l2)
  }

  /** The LPA rounds as a DuckDB WITH-body (through `l2`), shared by the
    * graph_label_propagation and graph_modularity oracles — the CTE twin
    * of [[coSupplyLpa]]. */
  private val lpaCte: String =
    s"""$coSupplySql,
       l0 AS (SELECT v, v % 5 AS lbl FROM (SELECT DISTINCT v FROM inc)),
       v1 AS (SELECT e.dst AS v, l0.lbl, count(*) AS c
              FROM e JOIN l0 ON e.src = l0.v GROUP BY 1, 2),
       m1 AS (SELECT v, lbl FROM (
                SELECT v, lbl, row_number() OVER
                  (PARTITION BY v ORDER BY c DESC, lbl) AS rn FROM v1)
              WHERE rn = 1),
       l1 AS (SELECT l0.v, COALESCE(m1.lbl, l0.lbl) AS lbl
              FROM l0 LEFT JOIN m1 ON l0.v = m1.v),
       v2 AS (SELECT e.dst AS v, l1.lbl, count(*) AS c
              FROM e JOIN l1 ON e.src = l1.v GROUP BY 1, 2),
       m2 AS (SELECT v, lbl FROM (
                SELECT v, lbl, row_number() OVER
                  (PARTITION BY v ORDER BY c DESC, lbl) AS rn FROM v2)
              WHERE rn = 1),
       l2 AS (SELECT l1.v, COALESCE(m2.lbl, l1.lbl) AS lbl
              FROM l1 LEFT JOIN m2 ON l1.v = m2.v)"""

  val ops: Map[String, Q] = Map(
    // Degree ASSORTATIVITY of the near-dup graph (Newman's r — do
    // high-degree docs link to other high-degree docs?): the one-number
    // summary that tells a dedup pipeline whether its dup graph is a few
    // dense clone farms (r > 0: hubs link hubs) or star-shaped template
    // fans (r < 0). Pearson over the DIRECTED endpoint list (each
    // unordered edge contributes both orientations, making the statistic
    // symmetric by construction, so Σx = Σy and Σx² = Σy² — ONE set of
    // sums suffices and r = num/den exactly, no sqrt). All-integer:
    // num = n·Σxy − (Σx)², den = n·Σx² − (Σx)², r_micro = 1e6·num div den
    // in DECIMAL(38,0) (n·Σxy ~ 4e19 at sf0.1 overflows BIGINT — wide-
    // accumulator rule). Scale: pairs from the Shared memo; one vertex-
    // keyed partial agg for degrees; two edge⋈degree hash joins (a hot
    // vertex here is a hot join key — the saltedEquiJoin rule applies);
    // one global partial-aggregatable sum. Nothing corpus² beyond the
    // declared pair table itself.
    "graph_assortativity" -> ((s, d) => {
      val pairs = Shared.wordPairs(s, d).select("doc_a", "doc_b")
      val dir = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      val deg = dir.groupBy(col("src").as("v")).agg(count(lit(1)).as("dg"))
      // r10 sf10 rework (was 62× for 10× data): the old shape joined the
      // EDGE frame against the degree frame TWICE (dx and dy legs); with
      // checkpoint-derived size estimates the node frame stops
      // auto-broadcasting and each leg becomes a full edge-frame
      // sort-merge join. Edge-moment algebra removes one leg entirely:
      // Σ_edges f(deg(src)) = Σ_v deg(v)·f(deg(v)) — n, s1, s2 come from
      // the NODE frame alone; only sxy needs edge context, via ONE
      // explicitly-broadcast deg join + a src-keyed partial agg
      // (t(v) = Σ_{u∈N(v)} deg(u)), then a node⋈node join. The hints are
      // gated by Gates.NodeCap: above it the single dst-keyed shuffle
      // join is the scale path, still one edge-sized join instead of two.
      // n = Σdeg as coalesce(·, 0): on an EMPTY pair graph sum() is NULL
      // but the oracle's count(*) over the directed edge frame is 0 — the
      // s1/s2/sxy sums stay NULL on both engines (r10 ADVICE parity).
      val cb = Gates.bytes(s, d, "documents")
      val moms = deg.agg(coalesce(sum("dg"), lit(0L)).as("n"),
        sum(expr("CAST(dg AS DECIMAL(38,0)) * dg")).cast("decimal(38,0)").as("s1d"),
        sum(expr("CAST(dg AS DECIMAL(38,0)) * dg * dg")).cast("decimal(38,0)").as("s2d"))
      val tsum = dir
        .join(Gates.broadcastUnder(deg.select(col("v").as("dst"), col("dg").as("dy")),
          cb, Gates.NodeCap), "dst")
        .groupBy("src").agg(sum("dy").as("t"))
      val sxyF = tsum
        .join(Gates.broadcastUnder(deg.select(col("v").as("src"), col("dg").as("dx")),
          cb, Gates.NodeCap), "src")
        .agg(sum(expr("CAST(dx AS DECIMAL(38,0)) * t")).cast("decimal(38,0)").as("sxyd"))
      moms.join(sxyF, lit(true))
        .select(col("n"), col("s1d").cast("long").as("s1"),
          col("s2d").as("s2"), col("sxyd").as("sxy"))
        .select(expr("n div 2").as("n_edges"), col("n"),
          col("s1"), col("s2").cast("long").as("s2"), col("sxy").cast("long").as("sxy"),
          expr("""CASE WHEN CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1 = 0 THEN NULL
                       ELSE CAST(1000000 * (CAST(n AS DECIMAL(38,0)) * sxy - CAST(s1 AS DECIMAL(38,0)) * s1)
                                 div (CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1) AS BIGINT)
                  END""").as("r_micro"))
    }),

    // 64-bit SimHash per document (full corpus): near-identical token
    // multisets produce near-identical signatures.
    "llm_dedup_simhash" -> ((s, d) =>
      simhashSigs(s, d).orderBy("doc_id")),

    // The SimHash SEARCH step: all pairs within hamming distance 3. The
    // banding is EXACT by pigeonhole (distance <= 3 over 64 bits means at
    // least one of the four 16-bit bands is identical — no sketch miss
    // probability), candidates are emitted once via the first-equal-band
    // check, and verification is a popcount on the carried signatures —
    // the whole op is one groupBy shuffle of n·4 rows.
    "llm_dedup_simhash_pairs" -> ((s, d) => {
      val sp = s; import sp.implicits._
      val sigL = simhashSigs(s, d).as[(Long, String)]
        .map { case (id, hex) => (id, java.lang.Long.parseUnsignedLong(hex, 16)) }
      sigL.flatMap { case (id, sig) =>
        (0 until 4).map(b => (b, (sig >>> (16 * b)) & 0xffffL, id, sig))
      }.groupByKey(r => (r._1, r._2))
        .flatMapGroups { (key: (Int, Long), it: Iterator[(Int, Long, Long, Long)]) =>
          val band = key._1
          val mem = it.toArray.sortBy(_._3)
          mem.indices.iterator.flatMap { i =>
            val (_, _, ida, sa) = mem(i)
            (i + 1 until mem.length).iterator.flatMap { j =>
              val (_, _, idb, sb) = mem(j)
              // first band in which the two signatures agree — emit only there
              var k = 0
              var first = -1
              while (first < 0 && k <= band) {
                if (((sa >>> (16 * k)) & 0xffffL) == ((sb >>> (16 * k)) & 0xffffL)) first = k
                k += 1
              }
              val ham = java.lang.Long.bitCount(sa ^ sb)
              if (first == band && ham <= 3) Some((ida, idb, ham.toLong)) else None
            }
          }
        }.toDF("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    }),

    // Asymmetric CONTAINMENT dedup on df-pruned 5-gram shingles — catches
    // the subset-duplicate (a doc wholly embedded in a larger doc) that
    // symmetric Jaccard misses. Shingles (not unigrams: this corpus's word
    // vocabulary is small, so every unigram is common) with df > 64 are
    // pruned FIRST: they can't discriminate containment, and pruning
    // bounds the posting join at Σ df² ≤ 64·Σ df — linear in the corpus,
    // never doc². Declared semantic = containment over the rare-shingle
    // sets (what a production df-pruned postings index computes):
    // C(A→B) = |A'∩B'| / |A'| ≥ 4/5 with |A'| ≥ 5, integer cross-multiply.
    "llm_dedup_containment" -> ((s, d) => {
      val post = documents(s, d, par = true)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 5)
        .select(col("doc_id"), explode(Shared.wordGrams("t", 5)).as("tok"))
        .distinct()
      val rare = post.groupBy("tok").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 64).select("tok")
      val pruned = post.join(rare, "tok").localCheckpoint(false)
      val szr = pruned.groupBy("doc_id").agg(count(lit(1)).as("nr"))
      val common = pruned.as("a")
        .join(pruned.as("b"), Seq("tok"))
        .filter(col("a.doc_id") =!= col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("common_rare"))
      common
        .join(szr.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("nr", "na"), "doc_a")
        .filter(col("na") >= 5 && col("common_rare") * 5 >= col("na") * 4)
        .select(col("doc_a"), col("doc_b"), col("common_rare"), col("na"),
          expr("10000 * common_rare div na").as("containment_bp"))
        .orderBy("doc_a", "doc_b")
    }),

    // Char-3-gram Jaccard near-dup (threshold 0.7) over the FULL corpus.
    // 3-gram vocabulary is charset-bounded (377 grams here), so the adaptive
    // path picks the interned-bitmap popcount kernel — candidate pruning
    // cannot work at this threshold anyway (background gram-set similarity
    // ≈ 0.6 makes every pruner — LSH bands or rare-prefix — degenerate to
    // all-pairs; measured at sf0.1), so the design makes each pair cost a
    // few long-ANDs instead of a shuffled array-pair row.
    "llm_dedup_ngram_jaccard" -> ((s, d) => {
      val sp = s
      import sp.implicits._
      // Distinct SORTED 3-gram set per doc in ONE narrow imperative pass
      // (the declarative transform+array_distinct built a ~1000-element
      // array per doc first) — see [[charGrams]] for the codepoint window
      // and ordering contract. Docs with no grams (len < 3) drop from the
      // pair universe on both sides, so a 0-gram set can never reach the
      // Jaccard division.
      val grams = documents(s, d).select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) => (id, charGrams(text)) })
        .filter(_._2.nonEmpty)
        .toDF("doc_id", "toks")
      LlmPipeline.nearDupPairs(grams, num = 7, den = 10)
    }),

    // The THIRD exact-Jaccard strategy (AllPairs/PPJoin prefix filtering)
    // as a declared end-to-end op, next to the bitmap kernel and MinHash-LSH
    // banding: word-token Jaccard >= 0.9 over the doc_id < 500 slice (the
    // full corpus at the sf0.01 driver gate). The candidate pruner is pure
    // execution strategy — the oracle is exact all-pairs SQL — and the
    // rarest-first prefix join is THE selective pruner on natural
    // heavy-tailed corpora; this synthetic clone-dense corpus defeats every
    // pruner (measured: 11.3M of 12.5M possible pairs are prefix candidates
    // at sf0.1 even at J>=0.9 — same degeneracy as the 12.3M/12.5M LSH
    // measurement that justified the bitmap kernel), so the slice keeps the
    // quadratic demo bounded (a 1000-doc slice benched 9.9 s at sf0.1 —
    // candidate rows carrying two full token arrays dominate, exactly the
    // shuffle shape the bitmap kernel exists to avoid) while nearDupPairs
    // stays the corpus-adaptive scale path. See SCALE_TUNING.md (prefix
    // length knob).
    "llm_dedup_prefix_jaccard" -> ((s, d) =>
      LlmPipeline.prefixJaccardPairs(
        Shared.tokenSets(s, d).filter(col("doc_id") < 500), num = 9, den = 10)),

    // Near-dup CLUSTERING — the step a real training-data pipeline runs on
    // top of pair detection (keep one representative per duplicate cluster):
    // connected components of the Jaccard>=0.8 pair graph via Pregel-style
    // hash-min label propagation (the GraphX/Pregel connected-components
    // algorithm expressed as iterative shuffle joins). Each iteration is one
    // edges⋈labels shuffle + a min-aggregate; lineage is truncated per
    // iteration with an eager localCheckpoint, and iterations stop at
    // fixpoint (duplicate clusters are near-cliques, so diameter — and the
    // iteration count — is small regardless of corpus size).
    "llm_dedup_clusters" -> ((s, d) =>
      clusterReps(s, d).orderBy("doc_id")),

    // Cluster-safe k-fold split — the leakage-free train/eval assignment:
    // folds are hashed from the CLUSTER representative, so every member of
    // a duplicate cluster lands in the same fold (a near-copy of a test
    // doc can never sit in train). The per-fold census rides one groupBy
    // over the CC labels; the naive_straddle_clusters column quantifies
    // exactly the leakage a per-doc hash split would have caused (clusters
    // torn across ≥2 folds). Fold hash = first md5 nibble mod 5 via the
    // cross-engine instr trick — portable, partition-count-free.
    "llm_split_cluster_safe" -> ((s, d) => {
      val reps = clusterReps(s, d)
      def fold(k: String) =
        s"(instr('0123456789abcdef', substr(md5(CAST($k AS STRING)), 1, 1)) - 1) % 5"
      val naive = reps
        .withColumn("nfold", expr(fold("doc_id")))
        .groupBy("cluster_rep").agg(countDistinct("nfold").as("nf"))
        .agg(sum(when(col("nf") >= 2, 1L).otherwise(0L)).as("naive_straddle_clusters"))
      reps.withColumn("fold", expr(fold("cluster_rep")))
        .groupBy("fold")
        .agg(count(lit(1)).as("n_docs"), countDistinct("cluster_rep").as("n_clusters"))
        .crossJoin(broadcast(naive))
        .orderBy("fold")
    }),

    // The end-product of dedup in a real training-data pipeline: ONE kept
    // document per duplicate cluster, chosen by quality (integer basis
    // points, ties to the lower doc id), with cluster size attached.
    // Composes the connected-components labels with the quality signals.
    "llm_dedup_keep_best" -> ((s, d) => {
      val reps = clusterReps(s, d)
      val quality = graft.Pipeline.withQuality(documents(s, d))
        .select(col("doc_id"), col("quality_bp"))
      reps.join(quality, "doc_id")
        .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster_rep")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("cluster_rep").orderBy(col("quality_bp").desc, col("doc_id"))))
        .filter(col("rn") === 1)
        .select(col("cluster_rep"), col("doc_id").as("kept_doc"),
          col("n_members"), col("quality_bp").as("best_quality_bp"))
        .orderBy("cluster_rep")
    }),

    // Preference-pair construction (the RLHF/DPO data shape) from the same
    // duplicate clusters: every cluster with ≥2 members emits one
    // (chosen, rejected) pair — best vs worst quality, ties broken to the
    // lower/higher doc id respectively so chosen ≠ rejected is guaranteed.
    // Both row_numbers and the final aggregation share ONE cluster_rep
    // shuffle; pairs + labels come from the Shared memo, so the quadratic
    // stage is still paid once per process.
    "llm_rl_pref_pairs" -> ((s, d) => {
      val byRep = Window.partitionBy("cluster_rep")
      val j = clusterReps(s, d)
        .join(graft.Pipeline.withQuality(documents(s, d))
          .select(col("doc_id"), col("quality_bp")), "doc_id")
        .withColumn("rb", row_number().over(
          byRep.orderBy(col("quality_bp").desc, col("doc_id"))))
        .withColumn("rw", row_number().over(
          byRep.orderBy(col("quality_bp").asc, col("doc_id").desc)))
      j.groupBy("cluster_rep")
        .agg(
          max(when(col("rb") === 1, col("doc_id"))).as("chosen_doc"),
          max(when(col("rb") === 1, col("quality_bp"))).as("chosen_bp"),
          max(when(col("rw") === 1, col("doc_id"))).as("rejected_doc"),
          max(when(col("rw") === 1, col("quality_bp"))).as("rejected_bp"),
          count(lit(1)).as("n_members"))
        .filter(col("n_members") >= 2)
        .withColumn("margin_bp", col("chosen_bp") - col("rejected_bp"))
        .orderBy("cluster_rep")
    }),

    // Benchmark DECONTAMINATION — the cross-corpus overlap check every
    // training pipeline runs before the dedup'd corpus ships: flag training
    // documents sharing any 8-token shingle with the eval/benchmark set
    // (docs >= 400 here — the deterministic demo split, langid-style).
    // Scale shape (rewired in r12 after the sf100 decade): the broadcast
    // hint goes on the side that is bounded BY CONSTRUCTION — the train
    // slice is `doc_id < 400`, at most 400 docs at EVERY scale factor,
    // while the eval slice (`>= 400`) grows with the corpus under re-keyed
    // tiling. The r11 artifact's broadcast(eval) shape died at sf100:
    // 1288 MiB of serialized build-side results > driver.maxResultSize.
    // With train as the build side the eval corpus STREAMS through the
    // broadcast join and the only corpus-sized exchanges left are the
    // eval-side distinct + the final ~400-key partial aggregation.
    // Counts are exact string-equality aggregates — no hashing reaches
    // the declared result.
    "llm_decontaminate" -> ((s, d) => {
      val sh = documents(s, d, par = true)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 8)
        .select(col("doc_id"), explode(Shared.wordGrams("toks", 8)).as("shingle"))
      val train = sh.filter(col("doc_id") < 400).distinct()
      val eval_ = sh.filter(col("doc_id") >= 400)
        .select(col("shingle"), col("doc_id").as("eval_doc")).distinct()
      broadcast(train).join(eval_, "shingle")
        .groupBy("doc_id")
        .agg(countDistinct("shingle").as("n_shingles_hit"),
          countDistinct("eval_doc").as("n_eval_docs"),
          min("eval_doc").as("first_eval_doc"))
        .orderBy("doc_id")
    }),

    // Source-level similarity matrix — the corpus-provenance audit next to
    // llm_dup_overlap_matrix (which counts exact clone CLASSES): word-3-gram
    // Jaccard between every source pair, catching systematic soft
    // duplication (template reuse, mirrored feeds) that exact clone keys
    // miss. The corpus collapses to distinct (gram, source) incidence in
    // one partial-aggregatable shuffle; the self-join keys on the gram and
    // its fan-out is bounded by |sources|² per gram (the dup_overlap
    // argument — never corpus²); per-source gram counts broadcast back for
    // the |A∪B| = |A|+|B|−|A∩B| denominator. Output ≤ C(|sources|,2) rows.
    "llm_source_similarity" -> ((s, d) => {
      val gs = documents(s, d, par = true)
        .select(col("source"), split(col("text"), " ").as("t"))
        .select(col("source"), explode(Shared.wordGrams("t", 3)).as("g"))
        .distinct()
      val per = gs.groupBy("source").agg(count(lit(1)).as("n"))
      gs.as("x").join(gs.as("y"),
          col("x.g") === col("y.g") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
        .agg(count(lit(1)).as("common"))
        .join(broadcast(per.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
        .join(broadcast(per.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
        .select(col("src_a"), col("src_b"), col("common"),
          expr("10000 * common div (na + nb - common)").as("jaccard_bp"))
        .orderBy("src_a", "src_b")
    }),

    // Windowed type-token ratio — the MTLD-family lexical-diversity signal
    // (plain TTR falls with doc length, so it's measured over fixed 20-token
    // windows and averaged): per doc, mean over non-overlapping 20-token
    // windows of (distinct tokens in window)/20, in integer basis points
    // (Σ distinct · 10000 div (500 · nWin) with the /20 folded into the
    // constant). Entirely higher-order array functions — ZERO shuffle
    // before the presentation sort; at 100 TB this is a pure map pass, the
    // cheapest possible plan shape.
    "llm_text_ttr_windows" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 20)
        .select(col("doc_id"),
          expr("CAST(size(t) div 20 AS BIGINT)").as("n_windows"),
          expr("""aggregate(transform(sequence(0, size(t) div 20 - 1),
                                      i -> size(array_distinct(slice(t, i * 20 + 1, 20)))),
                            0L, (acc, x) -> acc + x)""").as("distinct_sum"))
        .select(col("doc_id"), col("n_windows"),
          expr("10000 * distinct_sum div (20 * n_windows)").as("ttr_bp"))
        .orderBy("doc_id")),

    // Exact repeated-substring measurement — the Lee et al. 2022
    // "Deduplicating Training Data Makes Language Models Better" family
    // (public), reduced from suffix arrays to fixed 8-token windows: every
    // window of every doc is counted corpus-wide, and a window is
    // DUPLICATED when its 8-gram occurs more than once anywhere (any doc,
    // any position — the corpus-internal complement of llm_decontaminate's
    // vs-benchmark screen). Per doc: window count, duplicated-window count,
    // dup fraction bp — the signal an exact substring-dedup cut applies.
    // Shapes: one narrow slide-explode, one partial-aggregatable (gram)
    // count, one gram-keyed join back — never doc×doc. At 100 TB the gram
    // table is the one big shuffle: hash-partitioned, mergeable, the
    // canonical inverted-index build.
    "llm_dedup_substring" -> ((s, d) => {
      val wins = documents(s, d, par = true)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 8)
        .select(col("doc_id"), explode(Shared.wordGrams("t", 8)).as("g"))
      val gcount = wins.groupBy("g").agg(count(lit(1)).as("gc"))
      wins.join(gcount, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("gc") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
        .withColumn("dup_bp", expr("10000 * n_dup_windows div n_windows"))
        .orderBy("doc_id")
    }),

    // SemDeDup (Abbas et al. 2023, public): semantic dedup by embedding —
    // cluster the corpus, then inside each cluster drop every vector that
    // has a near-duplicate (cos >= 0.3 here; paper uses ~0.95+ on real
    // embeddings, this synthetic corpus tops out near 0.44) with a smaller
    // id. Clusters reuse the IVF assignment shape (first k vectors as
    // fixed centroids — deterministic and oracle-mirrorable). The
    // within-cluster pair join is the SemDeDup scale story: quadratic work
    // is bounded per cluster (n/k)², never corpus² — and k now actually
    // GROWS with the corpus (r11, full-inventory decade finding: the fixed
    // k=8 of earlier rounds made the op corpus-quadratic, measured 79× for
    // 10× data at sf10): k = max(8, ⌈√(n/64)⌉) keeps per-cluster size ≈
    // √(64·n), total pair work ≈ 64·n — corpus-LINEAR. k is derived from
    // count(*) identically on both engines (exact integer → IEEE sqrt/ceil,
    // both correctly rounded; k = 8 at every oracle-checked SF so small-SF
    // results are unchanged; 18 at sf1, 56 at sf10).
    "llm_semdedup" -> ((s, d) => {
      val n = embeddings(s, d).count()
      val k = math.max(8L, math.ceil(math.sqrt(n / 64.0)).toLong)
      val assign = nearestCentroids(s, d, vecs(s, d), k, 1)
        .select(col("vec_id"), col("cid").as("cluster"), col("v").as("va"), col("nrm").as("na"))
      val l = assign.select(col("cluster"), col("vec_id").as("ia"),
        col("va"), col("na"))
      val r = assign.select(col("cluster").as("cr"), col("vec_id").as("ib"),
        col("va").as("vb"), col("na").as("nb"))
      val dropped = l.join(r, col("cluster") === col("cr") && col("ia") < col("ib"))
        .withColumn("cos", expr(dotExpr) / (col("na") * col("nb")))
        .filter(col("cos") >= 0.3)
        .select(col("ib").as("vec_id")).distinct()
        .withColumn("dropped", lit(1L))
      assign.join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"),
          (lit(1L) - coalesce(col("dropped"), lit(0L))).as("kept"))
        .orderBy("vec_id")
    }),

    // Cluster-quality audit over the shared centroid assignment — the
    // report a clustering/dedup pipeline reads before trusting
    // cluster-level decisions: per IVF cluster, member count, distinct
    // labels, and purity = dominant-label share in bp (dominant =
    // (count desc, label) argmax, deterministic tie-break both engines).
    // Reuses the semdedup/IVF assignment shape — corpus × 8 broadcast
    // scoring — then everything after the (cluster, label) agg is
    // metadata-sized.
    "llm_cluster_purity" -> ((s, d) => {
      val assign = nearestCentroids(s, d, vecs(s, d), 8, 1)
        .select(col("vec_id"), col("cid").as("cluster"))
      val cl = assign
        .join(embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
        .groupBy("cluster", "label").agg(count(lit(1)).as("c"))
      cl.withColumn("rk", row_number().over(
          Window.partitionBy("cluster").orderBy(col("c").desc, col("label"))))
        .withColumn("n", sum("c").over(Window.partitionBy("cluster")))
        .withColumn("nl", count(lit(1)).over(Window.partitionBy("cluster")))
        .filter(col("rk") === 1)
        .select(col("cluster"), col("n").as("n_members"), col("nl").as("n_labels"),
          col("label").as("top_label"), expr("10000 * c div n").as("purity_bp"))
        .orderBy("cluster")
    }),

    // IVF-style ANN: coarse centroids = first 8 vectors; every vector is
    // assigned to its nearest centroid; queries (vec_id < 10) probe their
    // 2 nearest centroids and exactly rerank only those candidate lists.
    // (The vector frame appears 4x in this one plan; all four legs read the
    // Shared.vecs checkpoint, so the parquet scan + norm pass run once per
    // process instead of once per leg.)
    "llm_sim_ann_ivf" -> ((s, d) => {
      val assign = nearestCentroids(s, d, vecs(s, d), 8, 1)
        .select(col("vec_id").as("vid"), col("cid"))
      val probes = nearestCentroids(s, d, vecs(s, d).filter(col("vec_id") < 10), 8, 2)
        .select(col("vec_id").as("qid"), col("cid"))
      rerankTop3(s, d, probes.join(assign, "cid").filter(col("vid") =!= col("qid")))
    }),

    // LSH-bucketed ANN — the OTHER scale path next to IVF: sign-of-dot
    // projections against 16 data-derived hyperplanes (first 16 vectors —
    // deterministic and oracle-mirrorable, like IVF's centroids) give every
    // vector a 16-bit signature, banded 4×4 bits; a query's candidates are
    // the vectors sharing ANY band value (same-bucket join on (band, bval)
    // — the only join in the plan, never corpus×corpus), then exact cosine
    // reranks. At 100 TB: signatures are one broadcast×16 pass, buckets
    // shuffle on (band, bval), and rerank touches only candidates.
    "llm_sim_ann_lsh" -> ((s, d) => {
      val all = vecs(s, d)
      val hyp = all.filter(col("vec_id") < 16)
        .select(col("vec_id").as("hid"), col("v").as("hv"))
      def bands(src: org.apache.spark.sql.DataFrame, idCol: String) = src
        .select(col("vec_id").as(idCol), col("v").as("vv"))
        .join(broadcast(hyp), lit(true))
        .select(col(idCol), expr("CAST(hid div 4 AS INT)").as("band"),
          expr("IF(graft_dot(vv, hv) >= 0.0d, shiftleft(1L, CAST(hid % 4 AS INT)), 0L)").as("bitval"))
        .groupBy(idCol, "band").agg(sum("bitval").as("bval"))
      val cb = bands(all, "vid")
      val qb = bands(all.filter(col("vec_id") < 10), "qid")
      val cand = qb.join(cb, Seq("band", "bval"))
        .filter(col("qid") =!= col("vid"))
        .select("qid", "vid").distinct()
      rerankTop3(s, d, cand)
    }),

    // k-NN graph over the embedding corpus: every vector's 3 nearest
    // neighbors by exact cosine (the input to graph-based ANN indexes and
    // embedding-cluster analyses). Each unordered pair is evaluated ONCE in
    // the block cogroup, feeding both endpoints' in-task k-heaps; only each
    // vector's local top-3 per task leaves the kernel (n·(blocks+1)·k rows)
    // and the bounded-heap merge ranks — the old form shuffled all n² pair
    // rows into a per-source window. Ranking happens on the RAW double
    // (mirrored in the oracle); only the emitted cosine is d4-scaled.
    // Exact by oracle contract (the n²·dim dot work is the price — see the
    // SimKernel isotropy note); at 100 TB build the k-NN graph with
    // llm_sim_ann_ivf per-shard + merge (SCALE_TUNING substitution rule).
    "llm_sim_knn" -> ((s, d) =>
      SimKernel.knnExact(s, vecs(s, d), 3)
        .select(col("src"), col("dst"), d4(col("cos")).as("cosine"), col("rank"))
        .orderBy("src", "rank")),

    // Embedding-cosine near-dup: vectors whose cosine >= 0.55 form duplicate
    // pairs; the higher vec_id of each pair is dropped and survivors are
    // summarized per label. (Same kernel as the similarity ops; the
    // threshold is data-calibrated — the synthetic corpus maxes near 0.6.)
    "llm_dedup_embed" -> ((s, d) => {
      val dupLosers = SimKernel.cosinePairs(s, vecs(s, d), 0.55)
        .select(col("vid_b").as("vec_id")).distinct()
      embeddings(s, d).join(dupLosers, Seq("vec_id"), "left_anti")
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"), min("vec_id").as("min_vec"))
        .orderBy("label")
    }),

    // Fixed-point PageRank (3 unrolled iterations, damping 0.85) over the
    // undirected near-dup graph — centrality of each document in its dup
    // neighborhood. All arithmetic is INTEGER micro-units with explicit
    // `div`: each neighbor contributes r div deg, the update is
    // 150000 + (850000·Σ) div 1e6 — no float ever exists, so the result is
    // bit-identical at any partition count and in the oracle's unrolled
    // SQL. Per iteration: one edge join + one dst-keyed partial-agg —
    // edge-sized shuffles, rank frame stays node-sized (at real scale each
    // iteration's frame would be checkpointed like Scale.connectedComponents;
    // 3 bounded iterations compose lazily here). Pairs come from the Shared
    // memo — the quadratic stage is still paid once per process.
    "graph_pagerank_fixed" -> ((s, d) => {
      val pairs = Shared.wordPairs(s, d).select("doc_a", "doc_b")
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      // materialize (src, dst, deg) ONCE: the unrolled iterations otherwise
      // re-derive the edge+degree subtree per iteration (lazy composition
      // nests iteration k−1 inside k — measured 3.5 s with the tree
      // recomputed 3×, the top bench line; 3 edge-scans collapse to 1).
      // Same per-iteration lineage truncation as Scale.connectedComponents.
      // Gates.smallCorpus picks the edge block's storage level and
      // whether the edge frame coalesces to a handful of partitions.
      // Node-sized frames (degree map, per-iteration rank) carry broadcast
      // hints gated by Gates.NodeCap.
      val cb = Gates.bytes(s, d, "documents")
      val smallTier = Gates.smallCorpus(s, d)
      val edgeLevel = if (smallTier)
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      else org.apache.spark.storage.StorageLevel.DISK_ONLY
      val wedges = (if (smallTier)
          edges.coalesce(math.max(2, s.sparkContext.defaultParallelism / 8))
        else edges).join(
        Gates.broadcastUnder(edges.groupBy("src").agg(count(lit(1)).as("deg")),
          cb, Gates.NodeCap), "src")
        .localCheckpoint(true, edgeLevel)
      val deg = wedges.select("src", "deg").distinct()
      val nodes = documents(s, d).select(col("doc_id"))
      var r = nodes.withColumn("r", lit(1000000L))
      for (_ <- 1 to 3) {
        val contrib = wedges
          .join(Gates.broadcastUnder(r.select(col("doc_id").as("src"), col("r")),
            cb, Gates.NodeCap), "src")
          .select(col("dst"), expr("r div deg").as("c"))
        val sums = contrib.groupBy("dst").agg(sum("c").as("insum"))
        r = nodes.join(sums, nodes("doc_id") === sums("dst"), "left")
          .select(col("doc_id"),
            (lit(150000L) + expr("(850000 * coalesce(insum, 0L)) div 1000000")).as("r"))
          .localCheckpoint(true)
      }
      r.join(deg.select(col("src").as("doc_id"), col("deg")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("r").as("rank_u"),
          coalesce(col("deg"), lit(0L)).as("n_neighbors"))
        .orderBy("doc_id")
    }),

    // Triangle counting on the near-dup graph, with the standard scale
    // guard: DEGREE-PRUNE first (keep vertices of degree ≤ 30). Dup
    // clusters are near-cliques, and a k-clique alone contributes O(k³)
    // triangles — the pruned subgraph bounds the e⋈e wedge join by
    // 30·|E| instead of Σdeg² (the literature's high/low-degree split,
    // computing only the low side; the high side is degenerate clique
    // volume, not structure). Each directed edge keeps a<b so every
    // triangle a<b<c is counted exactly once, and the low-degree vertex
    // list is broadcast-sized by construction.
    "graph_triangles" -> ((s, d) => {
      val pairs = Shared.wordPairs(s, d).select("doc_a", "doc_b")
      val deg = pairs.select(col("doc_a").as("v"))
        .unionAll(pairs.select(col("doc_b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") <= 30).select("v")
      val e = pairs
        .join(broadcast(keep).withColumnRenamed("v", "doc_a"), "doc_a")
        .join(broadcast(keep).withColumnRenamed("v", "doc_b"), "doc_b")
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val wedges = e.join(e.select(col("a").as("b"), col("b").as("c")), "b")
      val tri = wedges.join(
        e.select(col("a").as("a3"), col("b").as("c3")),
        col("a") === col("a3") && col("c") === col("c3"))
      e.agg(count(lit(1)).as("n_edges_kept"))
        .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
    }),

    // Fixed-iteration connected components: 3 rounds of min-label
    // propagation over the supplier co-supply graph (suppliers linked when
    // they ship the SAME part at the top quantity tier, l_quantity ≥ 50 —
    // the selective tier keeps per-part supplier lists short, the same
    // blocking-bounded candidate argument as join_spatial_grid's cells).
    // Labels after EXACTLY 3 rounds are the declared result — deterministic
    // on every engine and partition count regardless of convergence; the
    // run-to-fixpoint production sibling is graft.Scale.connectedComponents
    // (used by llm_dedup_clusters). Scale: each round is one keyed join +
    // one partial-aggregatable min — label frames stay |V|-sized, the edge
    // set is blocking-bounded, nothing corpus².
    // Embedding-norm outlier audit — the vector-health gate before an
    // index build: L2 norms in exact d6 micro-units (codegen graft_dot),
    // global median and MAD both via Shared.bucketedPdisc, outlier =
    // dev > 3·1.4826·MAD tested by pure integer cross-multiply
    // (dev·10000 > mad·44478 — no float boundary can disagree).
    // Per-label census output; the norm
    // frame is checkpointed once and both percentile passes and the final
    // census consume it.
    "llm_embed_outliers" -> ((s, d) => {
      val norms = embeddings(s, d)
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .select(col("vec_id"), col("label"), d6(expr("sqrt(graft_dot(v, v))")).as("nmic"))
        .localCheckpoint(false)
      val h1 = norms.select(lit(1L).as("g"), col("nmic"))
        .groupBy("g", "nmic").agg(count(lit(1)).as("w"))
      val med = Shared.bucketedPdisc(h1, "g", "nmic", "w", 1, 2, "med").drop("g")
      val devs = norms.crossJoin(broadcast(med))
        .withColumn("dev", abs(col("nmic") - col("med")))
        .localCheckpoint(false)
      val h2 = devs.select(lit(1L).as("g"), col("dev"))
        .groupBy("g", "dev").agg(count(lit(1)).as("w"))
      val mad = Shared.bucketedPdisc(h2, "g", "dev", "w", 1, 2, "mad").drop("g")
      devs.crossJoin(broadcast(mad))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(expr("CAST(dev * 10000 > mad * 44478 AS BIGINT)")).as("n_outliers"),
          max("med").as("med_micro"), max("mad").as("mad_micro"))
        .orderBy("label")
    }),

    // Quality-decile × length-bucket matrix — the pre-filter dashboard
    // that answers "does the quality gate drop long documents
    // disproportionately?" BEFORE committing a threshold. Quality is the
    // engine's integer-bp score (Pipeline.withQuality — same exact SQL
    // twin as llm_dedup_keep_best's oracle); deciles and 200-char length
    // buckets are pure integer divides; one partial-aggregatable 2-key
    // groupBy over the map-only scored scan.
    "llm_quality_length_matrix" -> ((s, d) =>
      graft.Pipeline.withQuality(documents(s, d))
        .select(expr("quality_bp div 1000").as("q_decile"),
          expr("CAST(n_chars AS BIGINT) div 200").as("len_bucket"),
          col("quality_bp"))
        .groupBy("q_decile", "len_bucket")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(quality_bp) div count(1)").as("avg_q_bp"))
        .orderBy("q_decile", "len_bucket")),

    // Bag-of-words dedup census — the word-REORDER duplicate (same token
    // multiset, shuffled order: list-reformatted or sentence-permuted
    // copies) that byte/prefix hashing misses. Key = md5 of the SORTED
    // token sequence (multiset-preserving — duplicated words keep their
    // count, unlike the distinct-set key); per-source census, only
    // 32-char keys shuffle.
    "llm_dedup_wordorder" -> ((s, d) =>
      documents(s, d)
        .select(col("source"),
          md5(expr("concat_ws(' ', array_sort(split(text, ' ')))")).as("k"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), countDistinct("k").as("n_keys"))
        .withColumn("dup_bp", expr("10000 * (n_docs - n_keys) div n_docs"))
        .orderBy("source")),

    // Prefix-key dedup census — catches TRUNCATION duplicates (one doc is
    // a cut-off or continued version of another: same first 32 tokens,
    // different tails), which full-content hashing misses in exactly the
    // case that matters for crawled corpora re-fetched with different
    // truncation limits. Key = md5 of the first 32 tokens; per-source
    // census plus the cross-source count of prefix keys seen in ≥2
    // sources (the re-syndication signal). Only 32-char keys shuffle.
    "llm_dedup_exact_prefix" -> ((s, d) => {
      val keyed = documents(s, d)
        .select(col("source"),
          md5(expr("concat_ws(' ', slice(split(text, ' '), 1, 32))")).as("k"))
        .localCheckpoint(false)
      val cross = keyed.select("source", "k").distinct()
        .groupBy("k").agg(count(lit(1)).as("ns"))
        .agg(sum(when(col("ns") >= 2, 1L).otherwise(0L)).as("cross_source_keys"))
      keyed.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), countDistinct("k").as("n_keys"))
        .withColumn("dup_bp", expr("10000 * (n_docs - n_keys) div n_docs"))
        .crossJoin(broadcast(cross))
        .orderBy("source")
    }),

    // Normalization-key dedup census — the casefold/punctuation-collapse
    // pass that catches "same text, different formatting" duplicates exact
    // byte-dedup misses (the text sibling of llm_url_canonical). The key is
    // md5 of lower → strip non-alphanumerics → collapse runs → trim; md5 is
    // bit-identical across engines so the key layer is portable. Per-source
    // census only (n_docs, distinct keys, dup share in integer bp) — one
    // map + one partial-aggregatable groupBy with countDistinct; nothing
    // corpus² and no text ever shuffled (only 32-char keys).
    "llm_dedup_casefold" -> ((s, d) =>
      documents(s, d)
        .select(col("source"),
          md5(expr("trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))")).as("k"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), countDistinct("k").as("n_keys"))
        .withColumn("dup_bp", expr("10000 * (n_docs - n_keys) div n_docs"))
        .orderBy("source")),

    // Neighbor-set Jaccard for adjacent supplier pairs in the co-supply
    // graph — the link-prediction / community-strength feature a graph
    // pipeline materializes per edge. common = wedge count through a shared
    // neighbor (each edge's fan-out is blocking-bounded by top-tier
    // parts-per-supplier, the graph_cc_fixed argument), deg from one
    // partial-aggregatable groupBy; jaccard_bp in pure integer arithmetic
    // (|N(a)∪N(b)| = deg_a + deg_b − common). The deg frame is |V|-sized
    // (supplier dim) so both marginal joins broadcast; the wedge join keys
    // on the shared neighbor — never node×node.
    "graph_jaccard_neighbors" -> ((s, d) => {
      val (_, edges) = coSupply(s, d)
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val wedge = edges.select(col("src").as("a"), col("dst").as("c"))
        .join(edges.select(col("src").as("b"), col("dst").as("c")), "c")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("common"))
      edges.filter(col("src") < col("dst"))
        .select(col("src").as("a"), col("dst").as("b"))
        .join(wedge, Seq("a", "b"), "left")
        .na.fill(0L, Seq("common"))
        .join(broadcast(deg.withColumnRenamed("src", "a").withColumnRenamed("deg", "deg_a")), "a")
        .join(broadcast(deg.withColumnRenamed("src", "b").withColumnRenamed("deg", "deg_b")), "b")
        .select(col("a"), col("b"), col("common"), col("deg_a"), col("deg_b"),
          expr("10000 * common div (deg_a + deg_b - common)").as("jaccard_bp"))
        .orderBy("a", "b")
    }),

    // Fixed-round BFS layer census over the co-supply graph: distance
    // from a deterministic seed set (suppkey ≡ 0 mod 100) after EXACTLY
    // 3 expansion rounds, plus the unreached remainder as dist −1 — the
    // blast-radius report an incident analysis runs ("how far does a
    // recall propagate in 3 hops"). Each round = one keyed join + one
    // distinct + one anti join against the reached set (all
    // blocking-bounded frames, checkpointed per round — the graph_*_fixed
    // lineage rule); declared result is round-indexed, convergence-free.
    "graph_bfs_layers" -> ((s, d) => {
      val (inc, edges) = coSupply(s, d)
      val nodes = inc.select("v").distinct().localCheckpoint(false)
      var reached = nodes.filter(col("v") % 100 === 0).withColumn("dist", lit(0L))
        .localCheckpoint(false)
      for (r <- 1 to 3) {
        val frontier = reached.join(edges, col("v") === col("src"))
          .select(col("dst").as("v")).distinct()
          .join(reached.select("v"), Seq("v"), "left_anti")
          .withColumn("dist", lit(r.toLong))
        reached = reached.unionByName(frontier).localCheckpoint(false)
      }
      val unreached = nodes.join(reached.select("v"), Seq("v"), "left_anti")
        .withColumn("dist", lit(-1L))
      reached.unionByName(unreached)
        .groupBy("dist").agg(count(lit(1)).as("n_nodes"))
        .orderBy("dist")
    }),

    // Per-seed closeness/harmonic centrality from the same co-supply graph
    // — graph_bfs_layers' census made PER-SOURCE (the centrality report a
    // graph pipeline ranks hub nodes by): every v%50 seed runs a 3-hop BFS
    // carrying (seed, v, dist) state, then per seed: nodes reached,
    // Σ dist, and HARMONIC centrality Σ 1/d as the exact integer Σ 12/d
    // (d ∈ {1,2,3} all divide 12 — no float ever; the bounded-horizon form
    // of Boldi–Vigna's harmonic centrality, public). Scale: multi-source
    // BFS state is |seeds|·|nodes| worst case — seeds are a fixed 2%
    // sample, the standard HyperBall-style trade; each round is one
    // edge-keyed join + (seed, v) distinct + anti-join, checkpointed (the
    // pagerank iteration rule), edge-bound like every graph op here.
    "graph_closeness_fixed" -> ((s, d) => {
      val (inc, edges) = coSupply(s, d)
      val seeds = inc.select("v").distinct().filter(col("v") % 50 === 0)
        .select(col("v").as("seed"))
      var reached = seeds
        .select(col("seed"), col("seed").as("v"), lit(0L).as("dist"))
        .localCheckpoint(false)
      for (r <- 1 to 3) {
        val frontier = reached.join(edges, col("v") === col("src"))
          .select(col("seed"), col("dst").as("v")).distinct()
          .join(reached.select("seed", "v"), Seq("seed", "v"), "left_anti")
          .withColumn("dist", lit(r.toLong))
        reached = reached.unionByName(frontier).localCheckpoint(false)
      }
      val per = reached.filter(col("dist") > 0)
        .groupBy("seed")
        .agg(count(lit(1)).as("n_reached"), sum("dist").as("sum_dist"),
          sum(expr("12 div dist")).as("harmonic_x12"))
      seeds.join(per, Seq("seed"), "left")
        .select(col("seed"),
          coalesce(col("n_reached"), lit(0L)).as("n_reached"),
          coalesce(col("sum_dist"), lit(0L)).as("sum_dist"),
          coalesce(col("harmonic_x12"), lit(0L)).as("harmonic_x12"))
        .orderBy("seed")
    }),

    // Fixed-iteration k-core peeling (k=2, EXACTLY 3 rounds) over the
    // co-supply graph — the degeneracy pruning a graph pipeline runs before
    // expensive per-node work. Each round = one partial-aggregatable degree
    // count + two keyed semi-joins restricting edges to surviving nodes;
    // 3 unrolled rounds are the declared result (deterministic regardless
    // of convergence — the graph_cc_fixed doctrine). Edges checkpointed per
    // round: each round's frame feeds both the degree count and the next
    // restriction, and the lazy fold would otherwise re-derive every prior
    // round per consumer. All frames blocking-bounded, never corpus-sized.
    "graph_kcore_fixed" -> ((s, d) => {
      val (_, e0) = coSupply(s, d)
      val e3 = (1 to 3).foldLeft(e0) { (e, _) =>
        val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 2).select("src")
        e.join(keep, "src")
          .join(keep.withColumnRenamed("src", "dst"), "dst")
          .select("src", "dst")
          .localCheckpoint(false)
      }
      e3.groupBy("src").agg(count(lit(1)).as("deg"))
        .select(col("src").as("s_suppkey"), col("deg"))
        .orderBy("s_suppkey")
    }),

    "graph_cc_fixed" -> ((s, d) => {
      val (inc, edges) = coSupply(s, d)
      val l0 = inc.select("v").distinct().withColumn("lbl", col("v"))
      val l3 = (1 to 3).foldLeft(l0) { (l, _) =>
        l.join(edges, l("v") === edges("src"))
          .select(col("dst").as("v"), col("lbl"))
          .union(l)
          .groupBy("v").agg(min("lbl").as("lbl"))
      }
      l3.select(col("v").as("s_suppkey"), col("lbl").as("component"))
        .orderBy("s_suppkey")
    }),

    // Fixed-round LABEL PROPAGATION (2 rounds) over the co-supply graph:
    // community detection by iterated neighbor-majority vote — the cheap
    // clustering a graph pipeline runs when CC is too coarse (CC merges
    // everything connected; LPA splits by local vote density). Seeds are 5
    // deterministic classes (v % 5); each round every node adopts the MODE
    // of its neighbors' labels under the (count desc, label asc) total
    // order — engine-stable argmax — keeping its own label when isolated.
    // Per round: one edge-keyed join + one (node, label) partial-agg + a
    // per-node window over ≤5 label rows; the label frame stays node-sized
    // and is checkpointed per round (graph_*_fixed lineage rule). Scale:
    // the same edge-bound shuffle shape as pagerank, state |V|·classes.
    "graph_label_propagation" -> ((s, d) => {
      val (_, l2) = coSupplyLpa(s, d)
      l2.select(col("v").as("s_suppkey"), col("lbl").as("community"))
        .orderBy("s_suppkey")
    }),

    // MODULARITY of the LPA partition — the acceptance metric a community
    // detection run is judged by before anything downstream trusts the
    // labels: per community c, Q_c = e_c/E − (d_c/E)² over the
    // directed-symmetric edge count E (= 2m), emitted as exact scaled
    // integers (×1e8, floored per nonnegative term so Spark `div` and
    // DuckDB `//` agree — no negative-numerator division semantics enter).
    // q_bp = e_bp − dd_bp can be negative (a community sparser than the
    // degree-null model), which is the signal. The d_c² product rides the
    // DECIMAL(38,0) accumulator rule (agg_gini precedent): d_c is bounded
    // by E, so BIGINT 1e8·d_c² wraps beyond E≈3e5 while the decimal lift
    // holds to any real graph; DuckDB's HUGEINT sums match. Scale: two
    // edge-keyed label joins (the pagerank shuffle shape), then everything
    // collapses to |communities| rows; E is a 1-row broadcast.
    "graph_modularity" -> ((s, d) => {
      val (edges, lbl) = coSupplyLpa(s, d)
      val deg = edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
      val etot = edges.agg(count(lit(1)).as("etot"))
      val ew = edges
        .join(lbl.select(col("v").as("src"), col("lbl").as("cs")), "src")
        .join(lbl.select(col("v").as("dst"), col("lbl").as("cd")), "dst")
        .filter(col("cs") === col("cd"))
        .groupBy(col("cs").as("community")).agg(count(lit(1)).as("e_within"))
      lbl.join(deg, Seq("v"), "left")
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(coalesce(col("deg"), lit(0L))).as("d_sum"))
        .join(ew, Seq("community"), "left")
        .withColumn("e_within", coalesce(col("e_within"), lit(0L)))
        .crossJoin(broadcast(etot))
        .select(col("community").cast("long").as("community"), col("n_nodes"),
          col("d_sum").cast("long").as("d_sum"), col("e_within"),
          expr("CAST(100000000 * e_within div etot AS BIGINT)").as("e_bp"),
          expr("""CAST(100000000 * CAST(d_sum AS DECIMAL(38,0)) * d_sum
                  div (CAST(etot AS DECIMAL(38,0)) * etot) AS BIGINT)""")
            .as("dd_bp"))
        .withColumn("q_bp", expr("e_bp - dd_bp"))
        .orderBy("community")
    }),

    // Degree distribution of the near-dup graph (the connectivity audit run
    // before trusting any graph algorithm's cost model): per-node degree,
    // bucketed by bit-length (= ⌊log2⌋+1, exact integer — the
    // llm_token_histogram rule), isolated nodes kept as bucket 0 via the
    // left join. Everything partial-aggregatable; pairs from the Shared
    // memo.
    "graph_degree_histogram" -> ((s, d) => {
      val pairs = Shared.wordPairs(s, d).select("doc_a", "doc_b")
      val deg = pairs.select(col("doc_a").as("v"))
        .unionAll(pairs.select(col("doc_b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      documents(s, d).select(col("doc_id").as("v"))
        .join(deg, Seq("v"), "left")
        .select(coalesce(col("deg"), lit(0L)).as("deg"))
        .groupBy(when(col("deg") === 0, lit(0L))
          .otherwise(expr("CAST(length(bin(deg)) AS BIGINT)")).as("bucket"))
        .agg(count(lit(1)).as("n_nodes"), min("deg").as("min_deg"), max("deg").as("max_deg"))
        .orderBy("bucket")
    }),

    // Symmetric int8 quantization of the embedding column — the compression
    // an ANN index applies before serving (4× smaller than float32, dot
    // products in integer SIMD). Per vector: scale = max|x|, q_i =
    // floor(127·x_i/scale + 0.5) (the explicit floor round so both engines
    // run the identical IEEE expression — no round() tie-mode surface), plus
    // the max reconstruction error. Entirely per-row higher-order functions:
    // a map-only stage, no shuffle, no UDF. Zero vectors quantize to zeros
    // via the CASE guard rather than dividing by zero.
    "llm_embed_quantize" -> ((s, d) =>
      embeddings(s, d)
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("maxabs", expr("aggregate(v, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))"))
        .withColumn("q", expr(
          """CASE WHEN maxabs = 0 THEN transform(v, x -> CAST(0 AS BIGINT))
                  ELSE transform(v, x -> CAST(floor(127.0 * x / maxabs + 0.5) AS BIGINT)) END"""))
        .select(col("vec_id"),
          d6(col("maxabs")).as("scale_u"),
          expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x)").as("qsum"),
          expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> greatest(a, abs(x)))").as("qmax"),
          d6(expr(
            """aggregate(zip_with(v, q, (x, qi) -> abs(x - qi * maxabs / 127.0)),
                         CAST(0 AS DOUBLE), (a, e) -> greatest(a, e))""")).as("maxerr_u"))
        .orderBy("vec_id")),

    // Language ID by token-bigram profile: profiles learned from docs 0..249,
    // docs 250..349 classified by INTEGER dot-product score (ties → lang asc);
    // output is the confusion matrix.
    "llm_text_langid" -> ((s, d) => {
      def bigrams(df: DataFrame) = df
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), col("lang"), explode(Shared.wordGrams("t", 2)).as("bg"))
      val train = bigrams(documents(s, d).filter(col("doc_id") < 250))
        .groupBy(col("lang").as("lang_cand"), col("bg")).agg(count(lit(1)).as("w"))
      val test = bigrams(documents(s, d).filter(col("doc_id") >= 250 && col("doc_id") < 350))
        .groupBy(col("doc_id"), col("lang").as("lang_true"), col("bg")).agg(count(lit(1)).as("c"))
      val scoresRn = test.join(broadcast(train), "bg")
        .groupBy("doc_id", "lang_true", "lang_cand")
        .agg(sum(col("c") * col("w")).as("score"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("score").desc, col("lang_cand"))))
      scoresRn.filter(col("rn") === 1)
        .groupBy(col("lang_true"), col("lang_cand").as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang_true", "lang_pred")
    }),

    // Training-data scrubbing: mask URL / email / long-digit shapes (the
    // standard pre-training cleanup pass), report per-doc replacement deltas.
    "llm_text_scrub" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), col("text"))
        .withColumn("scrubbed",
          regexp_replace(
            regexp_replace(
              regexp_replace(col("text"), "https?://\\S+", "<URL>"),
              "[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"),
            "[0-9]{4,}", "<NUM>"))
        .select(col("doc_id"),
          length(col("text")).as("len_before"),
          length(col("scrubbed")).as("len_after"),
          (col("text") === col("scrubbed")).as("unchanged"),
          substring(col("scrubbed"), 1, 40).as("head"))
        .orderBy("doc_id")),

    // Per-document quality signals: token count, mean token length, stopword
    // ratio, non-alphanumeric ratio, and a composite score.
    // All ratios are small-denominator rationals (e.g. 7/32 = 0.21875 — an
    // exact 4-decimal rounding TIE that Spark and DuckDB resolve differently;
    // observed live at sf0.1). So every ratio is emitted as integer basis
    // points via floor division — exact and identical in both engines.
    "llm_text_quality" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id") +:
          length(regexp_replace(col("text"), " ", "")).cast("long").as("chars") +:
          Shared.qualityFeatures: _*)
        .select(col("doc_id"), col("n").as("n_toks"),
          expr("(chars * 10000) div n").as("avg_tok_len_bp"),
          expr("(st * 10000) div n").as("stopword_bp"),
          expr("(np * 10000) div len").as("nonalpha_bp"),
          expr(Shared.qualityBp("div"))
            .as("quality_bp"))
        .orderBy("doc_id")),

    // Token counting: whitespace tokens + a BPE-ish subword estimate
    // (ceil(len/4) chunks per token).
    "llm_text_token_count" -> ((s, d) =>
      documents(s, d)
        .select(col("lang"),
          size(split(col("text"), " ")).as("ws_toks"),
          expr("aggregate(transform(split(text, ' '), t -> CAST(ceil(length(t) / 4.0) AS BIGINT)), CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("bpe_toks"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("ws_toks").as("total_ws"),
          sum("bpe_toks").as("total_bpe"),
          d4(avg(col("bpe_toks").cast("double") / col("ws_toks"))).as("bpe_per_ws"))
        .orderBy("lang")),

    // Document fingerprints: order-sensitive rolling polynomial hash
    // (acc*31 + codepoint, mod 1e9+7 — the codegen graft_rolling_hash
    // Expression, bit-identical to the declarative HOF fold) and an
    // order-free content fingerprint (md5 of the sorted distinct token set).
    "llm_fingerprint" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          expr("graft_rolling_hash(text)").as("rolling_hash"),
          md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))).as("set_md5"))
        .orderBy("doc_id")),

    // Multimodal column plumbing: text → opaque binary payload + typed
    // metadata, "decoded" by a deterministic stub in mapPartitions (the
    // Scala-native analogue of a mapInPandas decode UDF — real image/audio
    // codecs would replace `stubDecode`). Schema, partitioning, and the
    // per-partition batch shape are real; the decode itself is a stub.
    // Cross-source duplicate-overlap matrix — the crawl-overlap census
    // that decides which source to drop when two feeds re-syndicate the
    // same pages: for every source pair (a < b), how many 16-token-PREFIX
    // digests appear in BOTH (prefix digests catch the truncation/refetch
    // dups full-content hashing misses — llm_dedup_exact_prefix rule —
    // and exist at every SF of this corpus where full-text cross-source
    // dups do not). The corpus collapses to DISTINCT (source, hash) first
    // (one partial-aggregatable pass); the self-join is hash-keyed, and
    // its output is bounded by sources² × shared hashes — never corpus².
    // Overlap share in bp against the smaller side.
    "llm_source_dedup_matrix" -> ((s, d) => {
      val sh = documents(s, d)
        .select(col("source"),
          md5(expr("array_join(slice(split(text, ' '), 1, 16), ' ')")).as("h"))
        .distinct()
      val perSrc = sh.groupBy("source").agg(count(lit(1)).as("n_hashes"))
      val a = sh.select(col("source").as("src_a"), col("h"))
      val b = sh.select(col("source").as("src_b"), col("h"))
      a.join(b, Seq("h")).filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
        .join(broadcast(perSrc.select(col("source").as("src_a"), col("n_hashes").as("na"))), Seq("src_a"))
        .join(broadcast(perSrc.select(col("source").as("src_b"), col("n_hashes").as("nb"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("n_shared"),
          expr("10000 * n_shared div least(na, nb)").as("overlap_bp"))
        .orderBy("src_a", "src_b")
    }),

    // Multimodal content-hash dedup: the image/audio dedup a 100 TB media
    // pipeline runs FIRST — hash the opaque BINARY payload (not a decoded
    // form), keep the lowest doc_id per digest, and account the bytes a
    // dedup pass reclaims per language. The hash is computed ON the binary
    // column (the oracle hashes the identical UTF-8 bytes through the text
    // twin — md5 over bytes either way); keeper join is hash-keyed
    // (corpus-sized shuffle, no broadcast of data). Map + two
    // partial-aggregatable aggs.
    "llm_multimodal_dedup" -> ((s, d) => {
      val p = documents(s, d)
        .select(col("doc_id"), col("lang"), encode(col("text"), "UTF-8").as("payload"))
        .select(col("doc_id"), col("lang"), md5(col("payload")).as("h"),
          length(col("payload")).cast("long").as("n_bytes"))
      val keeper = p.groupBy("h").agg(min("doc_id").as("keep_id"))
      p.join(keeper, "h")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_payloads"),
          countDistinct("h").as("n_unique"),
          sum(when(col("doc_id") =!= col("keep_id"), col("n_bytes"))
            .otherwise(0L)).as("bytes_reclaimable"))
        .orderBy("lang")
    }),

    "llm_multimodal_features" -> ((s, d) => {
      val sp = s
      import sp.implicits._
      val payloads = documents(s, d)
        .select(col("doc_id"), col("lang"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, String, Array[Byte])]
      def stubDecode(id: Long, lang: String, bytes: Array[Byte]): (Long, String, Int, Int) =
        (id, lang, bytes.length, bytes.headOption.map(_ & 0xff).getOrElse(0))
      payloads.mapPartitions(_.map { case (id, lang, b) => stubDecode(id, lang, b) })
        .toDF("doc_id", "lang", "n_bytes", "head_byte")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_bytes").as("total_bytes"),
          d4(avg("head_byte")).as("avg_head_byte"))
        .orderBy("lang")
    }),

    // Multimodal frame sampling: the video/audio "take every k-th frame"
    // primitive over an opaque binary payload — decode (UTF-8 here; a real
    // codec would replace it), then sample an 8-char frame every 32 chars
    // in one imperative per-partition pass (the mapInPandas batch shape).
    // Fingerprint + counts make the sample auditable. CODEPOINT-indexed on
    // the DECODED payload (offsetByCodePoints, as llm_dedup_ngram_jaccard's
    // gram builder) so frames match the oracle's codepoint substring() even
    // on non-BMP text and never split a surrogate pair.
    "llm_multimodal_framesample" -> ((s, d) => {
      val sp = s
      import sp.implicits._
      documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          val decoded = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          val sb = new java.lang.StringBuilder
          val total = decoded.codePointCount(0, decoded.length)
          var cp = 0 // codepoint cursor
          var u16 = 0 // matching UTF-16 offset
          var nf = 0
          while (cp < total) {
            val frameEnd = decoded.offsetByCodePoints(u16, math.min(8, total - cp))
            sb.append(decoded, u16, frameEnd)
            nf += 1
            val step = math.min(32, total - cp)
            u16 = decoded.offsetByCodePoints(u16, step)
            cp += step
          }
          (id, nf, sb.toString)
        })
        .toDF("doc_id", "n_frames", "sample")
        .select(col("doc_id"), col("n_frames"),
          length(col("sample")).as("sample_chars"), md5(col("sample")).as("sample_md5"))
        .orderBy("doc_id")
    }),

    // Character-level Shannon entropy (nats) per document — the classic
    // gibberish/boilerplate quality signal. A per-document SCALAR, so it
    // runs as one narrow per-partition pass (no explode, no corpus×chars
    // shuffle — the right shape at any corpus size). The histogram fold
    // runs in ascending-codepoint order (TreeMap), which equals the
    // oracle's binary string order (UTF-8 preserves codepoint order), and
    // uses StrictMath.log — the same function behind Spark SQL's `ln`,
    // whose cross-engine parity llm_text_tfidf already proves.
    // entropy = ln(n) − Σ c·ln(c) / n; empty docs drop (as an explode
    // would drop them, and as the oracle's unnest does).
    "llm_text_entropy" -> ((s, d) => {
      val sp = s
      import sp.implicits._
      documents(s, d).select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val counts = new java.util.TreeMap[Integer, Long]()
          var i = 0
          var n = 0L
          while (i < text.length) {
            val cp = text.codePointAt(i)
            counts.merge(cp, 1L, (a, b) => a + b)
            n += 1
            i += Character.charCount(cp)
          }
          var acc = 0.0
          val it = counts.values().iterator()
          while (it.hasNext) {
            val c = it.next().toDouble
            acc += c * StrictMath.log(c)
          }
          val ent = if (n == 0L) 0.0 else StrictMath.log(n.toDouble) - acc / n.toDouble
          (id, n, counts.size, ent)
        })
        .filter(_._2 > 0L)
        .toDF("doc_id", "n_chars_counted", "n_distinct_chars", "ent")
        .select(col("doc_id"), col("n_chars_counted"), col("n_distinct_chars"),
          d4(col("ent")).as("entropy_nats_bp"))
        .orderBy("doc_id")
    }),

    // The composed training-data pipeline as one declared op: quality
    // filter (integer basis points) → near-dedup keep-lowest-id →
    // lang-partitioned parquet sink → per-language summary read back off
    // the sink. Every stage is an already-declared operator, so the
    // composition inherits their scale shapes (narrow quality projection,
    // adaptive exact dedup, partial-aggregated stats, pruned layout).
    "llm_pipeline_e2e" -> ((s, d) => graft.Pipeline.run(s, d, scratchDir(d, "pipe"))),

    // MMR diversified top-k (the retrieval re-ranker that trades relevance
    // against redundancy — the diversity-aware sibling of llm_sim_topk):
    // greedy selection of 5 of the top-12 cosine candidates per query,
    // score = 0.7·sim(q,d) − 0.3·max_{s∈S} sim(d,s). Determinism: every
    // similarity flows through the one graft_dot fold (bit-identical to the
    // oracle's list fold), the MMR combine is two IEEE double mults and a
    // subtract in the same order on both engines, and every argmax breaks
    // ties by candidate id — so the greedy trajectory is engine-exact.
    // Scale: the ONLY corpus-sized stage is the broadcast query probe
    // (|Q| vectors against the corpus scan) + per-query top-12; the greedy
    // loop runs 4 unrolled small-frame iterations over ≤ 12·|Q| rows
    // (localCheckpoint'd so each step starts from materialized blocks, not
    // a growing lineage).
    "llm_sim_mmr" -> ((s, d) => {
      val sp = s
      import sp.implicits._
      val all = vecs(s, d)
      // Bounded query census (r11, full-inventory decade finding): at
      // vec_id % 100 the query set grew WITH the corpus, making the probe
      // |Q|·n = n²/100 — corpus-quadratic (measured 74.5× for 10× data at
      // sf10). qstep = max(100, n div 200) caps |Q| at ~200 once the
      // corpus exceeds 20k vectors, so the probe is ≤200·n — linear. The
      // stride derivation is exact integer on both engines; below 20k
      // vectors (every oracle-checked SF and sf1) qstep = 100, results
      // unchanged.
      val nv = embeddings(s, d).count()
      val qstep = math.max(100L, nv / 200L)
      val qv = all.filter(col("vec_id") % qstep === 7)
      // r14: top-12 per query via the map-side-combinable bounded heap
      // (topKPerKey — exactly row_number's (cos desc, vid) order, no
      // corpus-sized window shuffle), then the WHOLE greedy 5-step MMR
      // selection runs inside one flatMapGroups over each query's
      // ≤12-candidate group — per-task state is 12 vectors, never corpus.
      // This replaces 4 unrolled join+window+union iterations, each
      // eagerly checkpointed (~55 driver-bound jobs of 3–110 ms,
      // ProfileOp; the frames were ≤12·|Q| rows throughout). Arithmetic
      // is replicated operation-for-operation: candidate-pair cosine is
      // graft_dot's index-order fold (SimKernel.dot, which rejects
      // unequal lengths where graft_dot returns NULL) divided by na·nb,
      // the combine is 0.7·sim − 0.3·pen in the same IEEE order, argmax
      // ties break by candidate id — so the greedy trajectory and every
      // emitted double are bit-identical to the unrolled form
      // (NaN-free by the same nonzero-norm contract as topKPerKey).
      val cand = SimKernel.topKPerKey(s,
          SimKernel.scoreAgainstQueries(s, all, qv), "qid", "vid", "cos", 12)
        .select(col("qid"), col("vid").as("cid"), col("cos").as("sim"))
      val enriched = all.select(col("vec_id").as("cid"), col("v"), col("nrm"))
        .join(broadcast(cand), "cid")
        .select(col("qid"), col("cid"), col("sim"), col("v"), col("nrm"))
        .as[(Long, Long, Double, Array[Double], Double)]
      val picked = enriched.groupByKey(_._1).flatMapGroups { (qid, it) =>
        // (sim desc, cid asc) — row_number's total order
        val cs = it.toArray.sortWith((a, b) => a._3 > b._3 || (a._3 == b._3 && a._2 < b._2))
        val n = cs.length
        val kMax = math.min(5, n)
        val selIdx = new Array[Int](kMax)
        val selected = new Array[Boolean](n)
        selIdx(0) = 0; selected(0) = true
        var k = 1
        while (k < kMax) {
          var bestI = -1; var bestScore = 0.0
          var i = 0
          while (i < n) {
            if (!selected(i)) {
              var pen = Double.NegativeInfinity
              var j = 0
              while (j < k) {
                val sj = cs(selIdx(j))
                val c = SimKernel.dot(cs(i)._4, sj._4) / (cs(i)._5 * sj._5)
                if (c > pen) pen = c
                j += 1
              }
              val score = 0.7 * cs(i)._3 - 0.3 * pen
              if (bestI < 0 || score > bestScore ||
                  (score == bestScore && cs(i)._2 < cs(bestI)._2)) {
                bestI = i; bestScore = score
              }
            }
            i += 1
          }
          selIdx(k) = bestI; selected(bestI) = true
          k += 1
        }
        (0 until kMax).iterator.map(r => (qid, (r + 1).toLong, cs(selIdx(r))._2, cs(selIdx(r))._3))
      }.toDF("qid", "rank", "cid", "sim")
      picked.select(col("qid"), col("rank"), col("cid"), d4(col("sim")).as("sim_bp"))
        .orderBy("qid", "rank")
    }),

    // Entity co-occurrence graph (the bipartite-projection shape: users ×
    // event types → type-type affinity): distinct (user, type) incidence,
    // self-joined per user under ta < tb so every unordered type pair
    // counts once per co-engaged user, plus per-type user counts and the
    // Jaccard affinity 10000·|A∩B| div |A∪B| — all exact integers. Scale:
    // the self-join keys on user_id and per-user fan-out is bounded by
    // |types|² (types is a small closed set), so candidate volume is
    // C(|types|,2)-bounded per user, never corpus²; the |types|-row count
    // frame broadcasts back onto the ≤C(|types|,2)-row pair frame.
    "graph_cooccurrence" -> ((s, d) => {
      val ut = events(s, d).select("user_id", "event_type").distinct()
      val nPer = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
      ut.as("a").join(ut.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
        .agg(count(lit(1)).as("common"))
        .join(broadcast(nPer.select(col("event_type").as("ta"), col("n").as("na"))), "ta")
        .join(broadcast(nPer.select(col("event_type").as("tb"), col("n").as("nb"))), "tb")
        .select(col("ta"), col("tb"), col("common"), col("na"), col("nb"),
          expr("10000 * common div (na + nb - common)").as("jaccard_bp"))
        .orderBy("ta", "tb")
    }),

    // Per-label embedding centroid state (the k-means/IVF training
    // primitive and the class-prototype report): each dimension's EXACT
    // decimal sum + member count — i.e. the mergeable partial-aggregate a
    // distributed mean is built from, emitted as micro-unit BIGINT so no
    // engine ever divides (consumers divide sum_u by n; ts_autocorr's
    // numerator/denominator doctrine). The decimal widening makes the sum
    // shuffle-arrival-order-immune where a double fold would drift. Scale:
    // posexplode is narrow (64 rows per vector), then ONE
    // partial-aggregatable (label, dim) shuffle carrying 64·|labels|
    // accumulator rows per map task — the canonical centroid-update shape.
    "llm_embed_centroid" -> ((s, d) =>
      embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")))
        .toDF("label", "dim", "x")
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n"),
          d6Sum(col("x").cast("double")).as("sum_u"))
        .select(col("label"), col("dim").cast("long").as("dim"), col("n"), col("sum_u"))
        .orderBy("label", "dim")),

    // One exact Lloyd (k-means) iteration over the embedding corpus — the
    // training step the IVF/semdedup centroids come from, completing the
    // clustering story (assignment: llm_cluster_purity; state:
    // llm_embed_centroid; this op: the full assign→update round). Assign
    // every vector to its nearest of the 8 fixed seed centroids (cos desc,
    // cid tie-break — the shared IVF assignment), then emit the UPDATED
    // centroid as exact mergeable partial state per (cluster, dim): member
    // count, micro-unit decimal component sum (consumers divide sum_u by n;
    // no engine ever divides), the seed's own micro-unit component, and the
    // n-scaled drift numerator sum_u − n·seed_u (BIGINT-exact; per-cluster
    // Lloyd movement = Σ_dim |drift_nu| / n — convergence is testable
    // without a float). Scale: corpus×K broadcast scoring (never corpus²),
    // one narrow posexplode, ONE partial-aggregatable (cluster, dim)
    // shuffle carrying K·dims accumulator rows per map task — the canonical
    // distributed k-means update. K grows as √(n/targetListLen)
    // (SCALE_TUNING centroid rule); the shuffle stays K·dims, metadata-sized.
    // K-round Lloyd TRAINING (llm_kmeans_step's completion, the pattern
    // llm_bpe_train_k set: loop the one-step op with per-round lineage
    // truncation and emit the trained state). Unlike the single step, the
    // nearest-centroid argmax here is EXACT INTEGER arithmetic end to end:
    // components quantize once to micro-units, centroids live at 1e4
    // scale, dot = Σ xu·cu is a BIGINT, and the ranking key is
    // sign(dot)·(dot² div nsq_c) — the vector's own norm cancels across
    // centroids of the SAME vector, so cosine ranking needs no sqrt and
    // no float ever orders anything (truncation ties break by cid on both
    // engines). Per round: one broadcast(K·dims) join + (vec,cid) partial
    // agg + (cid,dim) partial agg — the matrix-multiply-as-join shape,
    // corpus×K work, never corpus²; empty clusters drop out (documented).
    // Scale: 3 rounds = 3 linear passes; xu and each assignment are
    // eagerly localCheckpoint'ed (graph_pagerank lineage rule) so the
    // plan does not deepen with K.
    "llm_kmeans_train_k" -> ((s, d) => {
      val xu = embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .toDF("vec_id", "dim", "x")
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          d6(col("x").cast("double")).as("xu"))
        .localCheckpoint(true) // re-read 7 times across the 3 rounds
      var cent = xu.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("dim"), expr("xu div 100").as("cu"))
      var assign: DataFrame = null
      for (_ <- 1 to 3) {
        val nsq = cent.groupBy("cid").agg(sum(expr("cu * cu")).as("nsq"))
        val dots = xu.join(broadcast(cent), Seq("dim"))
          .groupBy("vec_id", "cid").agg(sum(expr("xu * cu")).as("dot"))
        assign = dots.join(broadcast(nsq), Seq("cid"))
          .withColumn("key", expr(
            """CASE WHEN dot >= 0 THEN (CAST(dot AS DECIMAL(38,0)) * dot) div nsq
                    ELSE -((CAST(dot AS DECIMAL(38,0)) * dot) div nsq) END"""))
          .withColumn("rn", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("key").desc, col("cid"))))
          .filter(col("rn") === 1).select("vec_id", "cid")
          .localCheckpoint(true)
        cent = xu.join(assign, "vec_id").groupBy("cid", "dim")
          .agg(count(lit(1)).as("n"), sum("xu").as("sxu"))
          .select(col("cid"), col("dim"), expr("sxu div (100 * n)").as("cu"))
      }
      xu.join(assign, "vec_id").groupBy("cid", "dim")
        .agg(count(lit(1)).as("n"), sum("xu").as("sxu"))
        .select(col("cid").as("cluster"), col("dim"), col("n"),
          col("sxu").as("sum_xu"), expr("sxu div (100 * n)").as("cent_cu"))
        .orderBy("cluster", "dim")
    }),

    "llm_kmeans_step" -> ((s, d) => {
      val assign = nearestCentroids(s, d, vecs(s, d), 8, 1)
        .select(col("vec_id"), col("cid").as("cluster"))
      val upd = assign
        .join(embeddings(s, d).select("vec_id", "embedding"), "vec_id")
        .select(col("cluster"), posexplode(col("embedding")))
        .toDF("cluster", "dim", "x")
        .groupBy("cluster", "dim")
        .agg(count(lit(1)).as("n"),
          d6Sum(col("x").cast("double")).as("sum_u"))
      val seeds = embeddings(s, d).filter(col("vec_id") < 8)
        .select(col("vec_id").as("cluster"), posexplode(col("embedding")))
        .toDF("cluster", "dim", "sx")
        .select(col("cluster"), col("dim"),
          d6(col("sx").cast("double")).as("seed_u"))
      upd.join(broadcast(seeds), Seq("cluster", "dim"))
        .select(col("cluster"), col("dim").cast("long").as("dim"), col("n"),
          col("sum_u"), col("seed_u"),
          (col("sum_u") - col("n") * col("seed_u")).as("drift_nu"))
        .orderBy("cluster", "dim")
    }),
  )

  val oracle: Map[String, String] = Map(
    // Same directed-endpoint Pearson in HUGEINT.
    "graph_assortativity" ->
      s"""WITH ${Shared.wordPairsSql("pairs")},
               dirs AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                        UNION ALL SELECT doc_b, doc_a FROM pairs),
               deg AS (SELECT src AS vv, count(*) AS dg FROM dirs GROUP BY src),
               e AS (SELECT da.dg AS dx, db.dg AS dy
                     FROM dirs JOIN deg da ON da.vv = dirs.src
                               JOIN deg db ON db.vv = dirs.dst),
               m AS (SELECT count(*) AS n, sum(CAST(dx AS HUGEINT)) AS s1,
                            sum(CAST(dx AS HUGEINT) * dx) AS s2,
                            sum(CAST(dx AS HUGEINT) * dy) AS sxy
                     FROM e)
          SELECT CAST(n // 2 AS BIGINT) AS n_edges, CAST(n AS BIGINT) AS n,
                 CAST(s1 AS BIGINT) AS s1, CAST(s2 AS BIGINT) AS s2,
                 CAST(sxy AS BIGINT) AS sxy,
                 CASE WHEN CAST(n AS HUGEINT) * s2 - s1 * s1 = 0 THEN NULL
                      ELSE CAST(1000000 * (CAST(n AS HUGEINT) * sxy - s1 * s1)
                                // (CAST(n AS HUGEINT) * s2 - s1 * s1) AS BIGINT)
                 END AS r_micro
          FROM m""",
    // 3 propagation rounds unrolled as CTEs (the graph_pagerank_fixed
    // pattern): l_{k+1}(v) = min over {v} ∪ in-neighbors of l_k.
    "llm_embed_outliers" -> {
      val nmicSql = graft.Norm.d6Sql(
        "sqrt(list_sum(list_transform(v, x -> x * x)))")
      s"""WITH nv AS (SELECT vec_id, label,
                             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                      FROM embeddings),
              n AS (SELECT vec_id, label, $nmicSql AS nmic FROM nv),
              med AS (SELECT quantile_disc(nmic, 0.5) AS med FROM n),
              dv AS (SELECT label, nmic, abs(nmic - med) AS dev FROM n CROSS JOIN med),
              mad AS (SELECT quantile_disc(dev, 0.5) AS mad FROM dv)
         SELECT label, count(*) AS n_vecs,
                CAST(sum(CAST(dev * 10000 > mad * 44478 AS BIGINT)) AS BIGINT) AS n_outliers,
                CAST(max(med) AS BIGINT) AS med_micro,
                CAST(max(mad) AS BIGINT) AS mad_micro
         FROM dv CROSS JOIN mad CROSS JOIN med
         GROUP BY label ORDER BY label"""
    },
    "llm_quality_length_matrix" ->
      s"""WITH q AS (SELECT n_chars,
                           ${Shared.qualityBp("//")} AS quality_bp
                    FROM (SELECT n_chars,
                                 ${Shared.qualityFeaturesSql}
                          FROM documents))
         SELECT quality_bp // 1000 AS q_decile,
                CAST(n_chars AS BIGINT) // 200 AS len_bucket,
                count(*) AS n_docs,
                CAST(sum(quality_bp) AS BIGINT) // count(*) AS avg_q_bp
         FROM q GROUP BY 1, 2 ORDER BY q_decile, len_bucket""",
    "llm_dedup_wordorder" ->
      """WITH k AS (SELECT source,
                           md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS k
                    FROM documents)
         SELECT source, count(*) AS n_docs, count(DISTINCT k) AS n_keys,
                10000 * (count(*) - count(DISTINCT k)) // count(*) AS dup_bp
         FROM k GROUP BY source ORDER BY source""",
    "llm_dedup_exact_prefix" ->
      """WITH k AS (SELECT source,
                           md5(array_to_string(string_split(text, ' ')[1:32], ' ')) AS k
                    FROM documents),
              cross_k AS (SELECT CAST(sum(CASE WHEN ns >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                                   AS cross_source_keys
                          FROM (SELECT k, count(*) AS ns
                                FROM (SELECT DISTINCT source, k FROM k) GROUP BY 1))
         SELECT source, count(*) AS n_docs, count(DISTINCT k) AS n_keys,
                10000 * (count(*) - count(DISTINCT k)) // count(*) AS dup_bp,
                cross_source_keys
         FROM k CROSS JOIN cross_k
         GROUP BY source, cross_source_keys ORDER BY source""",
    "llm_dedup_casefold" ->
      """WITH k AS (SELECT source,
                           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS k
                    FROM documents)
         SELECT source, count(*) AS n_docs, count(DISTINCT k) AS n_keys,
                10000 * (count(*) - count(DISTINCT k)) // count(*) AS dup_bp
         FROM k GROUP BY source ORDER BY source""",
    "graph_jaccard_neighbors" ->
      s"""WITH $coSupplySql,
              deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
              w AS (SELECT e1.src AS a, e2.src AS b, count(*) AS common
                    FROM e e1 JOIN e e2 ON e1.dst = e2.dst AND e1.src < e2.src
                    GROUP BY 1, 2)
         SELECT a, b, COALESCE(common, 0) AS common,
                da.deg AS deg_a, db.deg AS deg_b,
                10000 * COALESCE(common, 0)
                  // (da.deg + db.deg - COALESCE(common, 0)) AS jaccard_bp
         FROM (SELECT src AS a, dst AS b FROM e WHERE src < dst) ed
         LEFT JOIN w USING (a, b)
         JOIN deg da ON da.src = a
         JOIN deg db ON db.src = b
         ORDER BY a, b""",
    "graph_bfs_layers" ->
      s"""WITH $coSupplySql,
              nodes AS (SELECT DISTINCT v FROM inc),
              l0 AS (SELECT v FROM nodes WHERE v % 100 = 0),
              l1 AS (SELECT DISTINCT e.dst AS v FROM e JOIN l0 ON e.src = l0.v
                     WHERE e.dst NOT IN (SELECT v FROM l0)),
              l2 AS (SELECT DISTINCT e.dst AS v FROM e
                     JOIN (SELECT v FROM l0 UNION SELECT v FROM l1) r ON e.src = r.v
                     WHERE e.dst NOT IN (SELECT v FROM l0 UNION SELECT v FROM l1)),
              l3 AS (SELECT DISTINCT e.dst AS v FROM e
                     JOIN (SELECT v FROM l0 UNION SELECT v FROM l1 UNION SELECT v FROM l2) r
                       ON e.src = r.v
                     WHERE e.dst NOT IN (SELECT v FROM l0 UNION SELECT v FROM l1
                                         UNION SELECT v FROM l2)),
              lay AS (SELECT 0 AS dist, v FROM l0
                      UNION ALL SELECT 1, v FROM l1
                      UNION ALL SELECT 2, v FROM l2
                      UNION ALL SELECT 3, v FROM l3
                      UNION ALL SELECT -1, v FROM nodes
                        WHERE v NOT IN (SELECT v FROM l0 UNION SELECT v FROM l1
                                        UNION SELECT v FROM l2 UNION SELECT v FROM l3))
         SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_nodes
         FROM lay GROUP BY 1 ORDER BY dist""",
    // Per-seed unrolled 3-round BFS: the bfs_layers CTE pattern carrying
    // (seed, v); harmonic as exact Σ 12/d.
    "graph_closeness_fixed" ->
      s"""WITH $coSupplySql,
              seeds AS (SELECT DISTINCT v AS seed FROM inc WHERE v % 50 = 0),
              l0 AS (SELECT seed, seed AS v, 0 AS dist FROM seeds),
              l1 AS (SELECT DISTINCT l0.seed, e.dst AS v, 1 AS dist
                     FROM e JOIN l0 ON e.src = l0.v
                     WHERE NOT EXISTS (SELECT 1 FROM l0 x
                                       WHERE x.seed = l0.seed AND x.v = e.dst)),
              r1 AS (SELECT seed, v, dist FROM l0 UNION ALL SELECT seed, v, dist FROM l1),
              l2 AS (SELECT DISTINCT r1.seed, e.dst AS v, 2 AS dist
                     FROM e JOIN r1 ON e.src = r1.v
                     WHERE NOT EXISTS (SELECT 1 FROM r1 x
                                       WHERE x.seed = r1.seed AND x.v = e.dst)),
              r2 AS (SELECT seed, v, dist FROM r1 UNION ALL SELECT seed, v, dist FROM l2),
              l3 AS (SELECT DISTINCT r2.seed, e.dst AS v, 3 AS dist
                     FROM e JOIN r2 ON e.src = r2.v
                     WHERE NOT EXISTS (SELECT 1 FROM r2 x
                                       WHERE x.seed = r2.seed AND x.v = e.dst)),
              r3 AS (SELECT seed, v, dist FROM r2 UNION ALL SELECT seed, v, dist FROM l3),
              per AS (SELECT seed, count(*) AS n_reached,
                             CAST(sum(dist) AS BIGINT) AS sum_dist,
                             CAST(sum(12 // dist) AS BIGINT) AS harmonic_x12
                      FROM r3 WHERE dist > 0 GROUP BY seed)
         SELECT s.seed,
                COALESCE(p.n_reached, 0) AS n_reached,
                COALESCE(p.sum_dist, 0) AS sum_dist,
                COALESCE(p.harmonic_x12, 0) AS harmonic_x12
         FROM seeds s LEFT JOIN per p ON p.seed = s.seed
         ORDER BY s.seed""",
    "graph_kcore_fixed" ->
      s"""WITH $coSupplySql,
              k1 AS (SELECT src FROM (SELECT src, count(*) AS deg FROM e GROUP BY 1)
                     WHERE deg >= 2),
              e1 AS (SELECT e.src, e.dst FROM e
                     JOIN k1 a ON e.src = a.src JOIN k1 b ON e.dst = b.src),
              k2 AS (SELECT src FROM (SELECT src, count(*) AS deg FROM e1 GROUP BY 1)
                     WHERE deg >= 2),
              e2 AS (SELECT e1.src, e1.dst FROM e1
                     JOIN k2 a ON e1.src = a.src JOIN k2 b ON e1.dst = b.src),
              k3 AS (SELECT src FROM (SELECT src, count(*) AS deg FROM e2 GROUP BY 1)
                     WHERE deg >= 2),
              e3 AS (SELECT e2.src, e2.dst FROM e2
                     JOIN k3 a ON e2.src = a.src JOIN k3 b ON e2.dst = b.src)
         SELECT src AS s_suppkey, count(*) AS deg
         FROM e3 GROUP BY 1 ORDER BY s_suppkey""",
    "graph_label_propagation" ->
      s"""WITH $lpaCte
          SELECT v AS s_suppkey, CAST(lbl AS BIGINT) AS community
          FROM l2 ORDER BY s_suppkey""",
    "graph_modularity" ->
      s"""WITH $lpaCte,
              deg AS (SELECT src AS v, count(*) AS deg FROM e GROUP BY 1),
              et AS (SELECT count(*) AS etot FROM e),
              ew AS (SELECT a.lbl AS community, count(*) AS e_within
                     FROM e JOIN l2 a ON e.src = a.v JOIN l2 b ON e.dst = b.v
                     WHERE a.lbl = b.lbl GROUP BY 1),
              ds AS (SELECT l2.lbl AS community, count(*) AS n_nodes,
                            COALESCE(sum(deg.deg), 0) AS d_sum
                     FROM l2 LEFT JOIN deg ON l2.v = deg.v GROUP BY 1)
         SELECT CAST(ds.community AS BIGINT) AS community, n_nodes,
                CAST(ds.d_sum AS BIGINT) AS d_sum,
                CAST(COALESCE(ew.e_within, 0) AS BIGINT) AS e_within,
                CAST(100000000 * COALESCE(ew.e_within, 0) // etot AS BIGINT) AS e_bp,
                CAST(100000000 * ds.d_sum * ds.d_sum // (etot * etot) AS BIGINT) AS dd_bp,
                CAST(100000000 * COALESCE(ew.e_within, 0) // etot
                     - 100000000 * ds.d_sum * ds.d_sum // (etot * etot) AS BIGINT) AS q_bp
         FROM ds LEFT JOIN ew ON ds.community = ew.community CROSS JOIN et
         ORDER BY community""",
    "graph_cc_fixed" ->
      s"""WITH $coSupplySql,
              l0 AS (SELECT v, v AS lbl FROM (SELECT DISTINCT v FROM inc)),
              l1 AS (SELECT s.v, min(s.lbl) AS lbl FROM (
                       SELECT v, lbl FROM l0
                       UNION ALL
                       SELECT e.dst AS v, l0.lbl FROM e JOIN l0 ON e.src = l0.v) s
                     GROUP BY s.v),
              l2 AS (SELECT s.v, min(s.lbl) AS lbl FROM (
                       SELECT v, lbl FROM l1
                       UNION ALL
                       SELECT e.dst AS v, l1.lbl FROM e JOIN l1 ON e.src = l1.v) s
                     GROUP BY s.v),
              l3 AS (SELECT s.v, min(s.lbl) AS lbl FROM (
                       SELECT v, lbl FROM l2
                       UNION ALL
                       SELECT e.dst AS v, l2.lbl FROM e JOIN l2 ON e.src = l2.v) s
                     GROUP BY s.v)
         SELECT v AS s_suppkey, lbl AS component FROM l3 ORDER BY s_suppkey""",
    "llm_dedup_simhash" ->
      s"""WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
                        FROM documents),
               sums AS (SELECT doc_id, ${simhashSums("//").mkString(", ")}
                        FROM toks GROUP BY doc_id)
          SELECT doc_id, $simhashHex AS simhash FROM sums ORDER BY doc_id""",
    // Exact all-pairs hamming over the same signature construction: per hex
    // position, xor the decoded nibbles and look the popcount up in the
    // 16-entry table '0112122312232334'.
    "llm_dedup_simhash_pairs" -> {
      def nibOf(side: String, p: Int) =
        s"(instr('0123456789abcdef', substr($side.sig, $p, 1)) - 1)"
      val hamming = (1 to 16).map(p =>
        s"CAST(substr('0112122312232334', xor(${nibOf("a", p)}, ${nibOf("b", p)}) + 1, 1) AS BIGINT)")
        .mkString(" + ")
      s"""WITH toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
                        FROM documents),
               sums AS (SELECT doc_id, ${simhashSums("//").mkString(", ")}
                        FROM toks GROUP BY doc_id),
               sigs AS (SELECT doc_id, $simhashHex AS sig FROM sums)
          SELECT doc_a, doc_b, hamming FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $hamming AS hamming
            FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
          WHERE hamming <= 3 ORDER BY doc_a, doc_b"""
    },
    // Rare 5-gram postings (df <= 64), pairs kept where na >= 5 and
    // 5·common >= 4·na.
    "llm_dedup_containment" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              sh AS (SELECT DISTINCT doc_id, unnest(${Shared.wordGramsSql("t", "5")}) AS tok
                     FROM toks WHERE len(t) >= 5),
              rare AS (SELECT tok FROM (SELECT tok, count(*) AS df FROM sh GROUP BY 1)
                       WHERE df <= 64),
              p AS (SELECT doc_id, tok FROM sh JOIN rare USING (tok)),
              szr AS (SELECT doc_id, count(*) AS nr FROM p GROUP BY 1),
              cm AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common_rare
                     FROM p a JOIN p b ON a.tok = b.tok AND a.doc_id <> b.doc_id
                     GROUP BY 1, 2)
         SELECT doc_a, doc_b, common_rare, na,
                10000 * common_rare // na AS containment_bp
         FROM (SELECT cm.doc_a, cm.doc_b, cm.common_rare, szr.nr AS na
               FROM cm JOIN szr ON szr.doc_id = cm.doc_a)
         WHERE na >= 5 AND common_rare * 5 >= na * 4
         ORDER BY doc_a, doc_b""",
    // Exact all-pairs over the FULL corpus; the size-ratio prefilter
    // (J >= 0.7 forces 10·min >= 7·max) is semantics-preserving pruning.
    "llm_dedup_ngram_jaccard" ->
      s"""WITH g AS (SELECT doc_id,
                            list_distinct(list_transform(range(1, length(text) - 1),
                                                         i -> substring(text, i, 3))) AS toks
                     FROM documents
                     WHERE length(text) >= 3),
               ${Shared.jaccardPairsSql("pairs", "g", 7, 10)}
          SELECT doc_a, doc_b, jaccard_bp FROM pairs ORDER BY doc_a, doc_b""",
    // Exact all-pairs over the slice. The Spark side's rarest-first prefix
    // join is invisible here by design: a candidate pruner must never
    // change the declared result.
    "llm_dedup_prefix_jaccard" ->
      s"""WITH ${Shared.wordPairsSql("pairs", 9, 10, "documents WHERE doc_id < 500")}
          SELECT doc_a, doc_b, jaccard_bp FROM pairs ORDER BY doc_a, doc_b""",
    "llm_split_cluster_safe" ->
      s"""WITH RECURSIVE ${Shared.wordPairsSql("pairs")},
               ${Shared.ccLabelsSql("labels", "pairs")},
               naive AS (SELECT CAST(sum(CASE WHEN nf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                                  AS naive_straddle_clusters
                         FROM (SELECT cluster_rep,
                                      count(DISTINCT (instr('0123456789abcdef',
                                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 5) AS nf
                               FROM labels GROUP BY 1))
         SELECT (instr('0123456789abcdef',
                       substr(md5(CAST(cluster_rep AS VARCHAR)), 1, 1)) - 1) % 5 AS fold,
                count(*) AS n_docs, count(DISTINCT cluster_rep) AS n_clusters,
                naive_straddle_clusters
         FROM labels CROSS JOIN naive
         GROUP BY 1, naive_straddle_clusters ORDER BY fold""",
    "llm_dedup_clusters" ->
      s"""WITH RECURSIVE ${Shared.wordPairsSql("pairs")},
               ${Shared.ccLabelsSql("labels", "pairs")}
          SELECT doc_id, cluster_rep FROM labels ORDER BY doc_id""",
    "llm_decontaminate" ->
      s"""WITH sh AS (
           SELECT doc_id, unnest(${Shared.wordGramsSql("toks", "8")}) AS shingle
           FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
           WHERE len(toks) >= 8),
         tr AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id < 400),
         ev AS (SELECT DISTINCT shingle, doc_id AS eval_doc FROM sh WHERE doc_id >= 400)
         SELECT tr.doc_id, count(DISTINCT tr.shingle) AS n_shingles_hit,
                count(DISTINCT ev.eval_doc) AS n_eval_docs,
                min(ev.eval_doc) AS first_eval_doc
         FROM tr JOIN ev USING (shingle)
         GROUP BY tr.doc_id ORDER BY tr.doc_id""",
    "llm_source_similarity" ->
      s"""WITH gs AS (SELECT DISTINCT source, unnest(${Shared.wordGramsSql("toks", "3")}) AS g
                     FROM (SELECT source, string_split(text, ' ') AS toks FROM documents)),
              per AS (SELECT source, count(*) AS n FROM gs GROUP BY source),
              pairs AS (SELECT x.source AS src_a, y.source AS src_b, count(*) AS common
                        FROM gs x JOIN gs y ON x.g = y.g AND x.source < y.source
                        GROUP BY 1, 2)
         SELECT src_a, src_b, common,
                10000 * common // (pa.n + pb.n - common) AS jaccard_bp
         FROM pairs JOIN per pa ON pa.source = src_a
         JOIN per pb ON pb.source = src_b
         ORDER BY src_a, src_b""",
    "llm_text_ttr_windows" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
         SELECT doc_id,
                CAST(len(toks) // 20 AS BIGINT) AS n_windows,
                10000 * CAST(list_sum(list_transform(range(0, len(toks) // 20),
                               i -> len(list_distinct(toks[i * 20 + 1 : i * 20 + 20])))) AS BIGINT)
                  // (20 * CAST(len(toks) // 20 AS BIGINT)) AS ttr_bp
         FROM t WHERE len(toks) >= 20
         ORDER BY doc_id""",
    "llm_dedup_substring" ->
      s"""WITH w AS (
           SELECT doc_id, unnest(${Shared.wordGramsSql("toks", "8")}) AS g
           FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
           WHERE len(toks) >= 8),
         gc AS (SELECT g, count(*) AS gc FROM w GROUP BY g)
         SELECT doc_id, count(*) AS n_windows,
                CAST(sum(CASE WHEN gc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
                10000 * CAST(sum(CASE WHEN gc > 1 THEN 1 ELSE 0 END) AS BIGINT) // count(*) AS dup_bp
         FROM w JOIN gc USING (g)
         GROUP BY doc_id ORDER BY doc_id""",
    // Same centroid-assignment CTE as semdedup/IVF, with the label carried
    // through; purity picks the (count desc, label) argmax per cluster.
    "llm_cluster_purity" ->
      s"""WITH ${nearestCentroidsSql("assign", "embeddings", "8", 1)},
               cl AS (SELECT cid AS cluster, label, count(*) AS c
                      FROM assign GROUP BY 1, 2),
               r AS (SELECT cluster, label, c,
                            row_number() OVER (PARTITION BY cluster
                                               ORDER BY c DESC, label) AS rk,
                            CAST(sum(c) OVER (PARTITION BY cluster) AS BIGINT) AS n,
                            CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS nl
                     FROM cl)
          SELECT cluster, n AS n_members, nl AS n_labels, label AS top_label,
                 10000 * c // n AS purity_bp
          FROM r WHERE rk = 1 ORDER BY cluster""",
    // Same centroid assignment shape as IVF with the corpus-scaled k
    // (max(8, ceil(sqrt(n/64))) — identical integer+IEEE derivation on
    // both engines); dropped = any same-cluster smaller-id neighbor at
    // cos >= 0.3 (NOT-EXISTS mirrored as a distinct-drop set).
    "llm_semdedup" ->
      s"""WITH params AS (SELECT greatest(8, CAST(ceil(sqrt(count(*) / 64.0)) AS BIGINT)) AS k
                          FROM embeddings),
               ${nearestCentroidsSql("assign", "embeddings", "(SELECT k FROM params)", 1)},
               dropped AS (SELECT DISTINCT b.vec_id FROM assign a
                   JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
                   WHERE ${Shared.cosSql("a.embedding", "b.embedding")} >= 0.3)
          SELECT a.vec_id, a.cid AS cluster,
                 CAST(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
          FROM assign a LEFT JOIN dropped dr ON dr.vec_id = a.vec_id
          ORDER BY a.vec_id""",
    "llm_sim_ann_ivf" ->
      s"""WITH ${nearestCentroidsSql("assign", "embeddings", "8", 1)},
               ${nearestCentroidsSql("probes", "(SELECT * FROM embeddings WHERE vec_id < 10)", "8", 2)},
               cand AS (SELECT p.vec_id AS qid, a.vec_id AS vid
                        FROM probes p JOIN assign a ON p.cid = a.cid AND a.vec_id <> p.vec_id)
          ${rerankTop3Sql("cand")}""",
    // Same 16-hyperplane sign signatures, 4x4-bit banding, bucket join,
    // exact rerank — dot folds mirrored op-for-op.
    "llm_sim_ann_lsh" ->
      s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
               h AS (SELECT vec_id AS hid, embedding AS hv FROM v WHERE vec_id < 16),
               bits AS (
                 SELECT v.vec_id, CAST(h.hid // 4 AS INT) AS band,
                        CASE WHEN list_sum(list_transform(list_zip(v.embedding, h.hv),
                                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) >= 0.0
                             THEN 1 << CAST(h.hid % 4 AS INT) ELSE 0 END AS bitval
                 FROM v CROSS JOIN h),
               bands AS (SELECT vec_id, band, CAST(sum(bitval) AS BIGINT) AS bval
                         FROM bits GROUP BY 1, 2),
               cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vid
                        FROM bands q JOIN bands c ON q.band = c.band AND q.bval = c.bval
                        WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
          ${rerankTop3Sql("cand")}""",
    // Cluster labels joined to the llm_text_quality score; best =
    // row_number pick.
    "llm_dedup_keep_best" ->
      s"""WITH RECURSIVE ${Shared.wordPairsSql("pairs")},
               ${Shared.ccLabelsSql("labels", "pairs")},
               q AS (SELECT doc_id,
                            ${Shared.qualityBp("//")} AS quality_bp
                     FROM (SELECT doc_id,
                            ${Shared.qualityFeaturesSql}
                           FROM documents)),
               j AS (SELECT l.cluster_rep, l.doc_id, q.quality_bp,
                            row_number() OVER (PARTITION BY l.cluster_rep
                                               ORDER BY q.quality_bp DESC, l.doc_id) AS rn,
                            CAST(count(*) OVER (PARTITION BY l.cluster_rep) AS BIGINT) AS n_members
                     FROM labels l JOIN q USING (doc_id))
          SELECT cluster_rep, doc_id AS kept_doc, n_members, quality_bp AS best_quality_bp
          FROM j WHERE rn = 1 ORDER BY cluster_rep""",
    // Cluster labels and quality; chosen/rejected via the two mirrored
    // row_number orders (ties: lower id wins best, higher id wins worst).
    "llm_rl_pref_pairs" ->
      s"""WITH RECURSIVE ${Shared.wordPairsSql("pairs")},
               ${Shared.ccLabelsSql("labels", "pairs")},
               q AS (SELECT doc_id,
                            ${Shared.qualityBp("//")} AS quality_bp
                     FROM (SELECT doc_id,
                            ${Shared.qualityFeaturesSql}
                           FROM documents)),
               sized AS (SELECT l.cluster_rep, l.doc_id, q.quality_bp,
                                CAST(count(*) OVER (PARTITION BY l.cluster_rep) AS BIGINT) AS n_members,
                                row_number() OVER (PARTITION BY l.cluster_rep
                                                   ORDER BY q.quality_bp DESC, l.doc_id) AS rb,
                                row_number() OVER (PARTITION BY l.cluster_rep
                                                   ORDER BY q.quality_bp ASC, l.doc_id DESC) AS rw
                         FROM labels l JOIN q USING (doc_id))
          SELECT b.cluster_rep, b.doc_id AS chosen_doc, b.quality_bp AS chosen_bp,
                 w.doc_id AS rejected_doc, w.quality_bp AS rejected_bp,
                 b.n_members, b.quality_bp - w.quality_bp AS margin_bp
          FROM sized b JOIN sized w ON b.cluster_rep = w.cluster_rep
          WHERE b.rb = 1 AND w.rw = 1 AND b.n_members >= 2
          ORDER BY b.cluster_rep""",
    "llm_sim_knn" ->
      s"""SELECT src, dst, cosine, rank FROM (
            SELECT a.vec_id AS src, b.vec_id AS dst,
                   ${d4Sql(Shared.cosSql("a.embedding", "b.embedding"))} AS cosine,
                   row_number() OVER (PARTITION BY a.vec_id
                                      ORDER BY ${Shared.cosSql("a.embedding", "b.embedding")} DESC, b.vec_id) AS rank
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
          WHERE rank <= 3 ORDER BY src, rank""",
    "llm_dedup_embed" ->
      s"""WITH losers AS (
            SELECT DISTINCT b.vec_id AS vec_id
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE ${Shared.cosSql("a.embedding", "b.embedding")} >= 0.55)
          SELECT label, count(*) AS n_kept, min(vec_id) AS min_vec
          FROM embeddings WHERE vec_id NOT IN (SELECT vec_id FROM losers)
          GROUP BY label ORDER BY label""",
    // The 3 iterations unroll to s1/r1 …
    // s3/r3 with the identical integer expressions (sum(BIGINT) is HUGEINT
    // in DuckDB — the final CAST per iteration restores BIGINT).
    "graph_pagerank_fixed" ->
      s"""WITH ${Shared.wordPairsSql("pairs")},
               e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                     UNION ALL SELECT doc_b, doc_a FROM pairs),
               deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
               r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM documents),
               s1 AS (SELECT e.dst, sum(r0.r // deg.deg) AS insum
                      FROM e JOIN deg ON deg.src = e.src JOIN r0 ON r0.doc_id = e.src
                      GROUP BY e.dst),
               r1 AS (SELECT d.doc_id,
                             CAST(150000 + (850000 * COALESCE(s1.insum, 0)) // 1000000 AS BIGINT) AS r
                      FROM documents d LEFT JOIN s1 ON s1.dst = d.doc_id),
               s2 AS (SELECT e.dst, sum(r1.r // deg.deg) AS insum
                      FROM e JOIN deg ON deg.src = e.src JOIN r1 ON r1.doc_id = e.src
                      GROUP BY e.dst),
               r2 AS (SELECT d.doc_id,
                             CAST(150000 + (850000 * COALESCE(s2.insum, 0)) // 1000000 AS BIGINT) AS r
                      FROM documents d LEFT JOIN s2 ON s2.dst = d.doc_id),
               s3 AS (SELECT e.dst, sum(r2.r // deg.deg) AS insum
                      FROM e JOIN deg ON deg.src = e.src JOIN r2 ON r2.doc_id = e.src
                      GROUP BY e.dst),
               r3 AS (SELECT d.doc_id,
                             CAST(150000 + (850000 * COALESCE(s3.insum, 0)) // 1000000 AS BIGINT) AS r
                      FROM documents d LEFT JOIN s3 ON s3.dst = d.doc_id)
          SELECT r3.doc_id, r3.r AS rank_u, COALESCE(deg.deg, 0) AS n_neighbors
          FROM r3 LEFT JOIN deg ON deg.src = r3.doc_id
          ORDER BY r3.doc_id""",
    "graph_triangles" ->
      s"""WITH ${Shared.wordPairsSql("pairs")},
               deg AS (SELECT vv, count(*) AS deg
                       FROM (SELECT doc_a AS vv FROM pairs UNION ALL SELECT doc_b FROM pairs)
                       GROUP BY vv),
               keep AS (SELECT vv FROM deg WHERE deg <= 30),
               e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                     JOIN keep ka ON ka.vv = doc_a
                     JOIN keep kb ON kb.vv = doc_b),
               tri AS (SELECT count(*) AS n_triangles
                       FROM e e1 JOIN e e2 ON e2.a = e1.b
                                 JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
          SELECT (SELECT count(*) FROM e) AS n_edges_kept, tri.n_triangles FROM tri""",
    "graph_degree_histogram" ->
      s"""WITH ${Shared.wordPairsSql("pairs")},
               deg AS (SELECT vv, count(*) AS deg
                       FROM (SELECT doc_a AS vv FROM pairs UNION ALL SELECT doc_b FROM pairs)
                       GROUP BY vv),
               alln AS (SELECT COALESCE(deg.deg, 0) AS deg
                        FROM documents LEFT JOIN deg ON deg.vv = documents.doc_id)
          SELECT CASE WHEN deg = 0 THEN 0
                      ELSE CAST(length(bin(deg)) AS BIGINT) END AS bucket,
                 count(*) AS n_nodes, min(deg) AS min_deg, max(deg) AS max_deg
          FROM alln GROUP BY 1 ORDER BY bucket""",
    // Same floor-based round; the error fold is index-addressed (range +
    // v[i]/q[i]) because DuckDB lambdas have no two-list zip_with.
    "llm_embed_quantize" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                     FROM embeddings),
               m AS (SELECT vec_id, v,
                            list_aggregate(list_transform(v, x -> abs(x)), 'max') AS maxabs
                     FROM v),
               q AS (SELECT vec_id, v, maxabs,
                            CASE WHEN maxabs = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                                 ELSE list_transform(v, x -> CAST(floor(127.0 * x / maxabs + 0.5) AS BIGINT))
                            END AS q
                     FROM m)
          SELECT vec_id, ${d6Sql("maxabs")} AS scale_u,
                 CAST(list_sum(q) AS BIGINT) AS qsum,
                 CAST(list_aggregate(list_transform(q, x -> abs(x)), 'max') AS BIGINT) AS qmax,
                 ${d6Sql("list_aggregate(list_transform(range(1, len(v) + 1), i -> abs(v[i] - q[i] * maxabs / 127.0)), 'max')")} AS maxerr_u
          FROM q ORDER BY vec_id""",
    "llm_text_langid" ->
      s"""WITH bg AS (SELECT doc_id, lang, unnest(${Shared.wordGramsSql("toks", "2")}) AS bg
                      FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)),
               train AS (SELECT lang AS lang_cand, bg, count(*) AS w
                         FROM bg WHERE doc_id < 250 GROUP BY 1, 2),
               test AS (SELECT doc_id, lang AS lang_true, bg, count(*) AS c
                        FROM bg WHERE doc_id >= 250 AND doc_id < 350 GROUP BY 1, 2, 3),
               scores AS (SELECT t.doc_id, t.lang_true, tr.lang_cand, sum(t.c * tr.w) AS score
                          FROM test t JOIN train tr ON t.bg = tr.bg GROUP BY 1, 2, 3),
               best AS (SELECT doc_id, lang_true, lang_cand FROM (
                          SELECT doc_id, lang_true, lang_cand,
                                 row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang_cand) AS rn
                          FROM scores) WHERE rn = 1)
         SELECT lang_true, lang_cand AS lang_pred, count(*) AS n
         FROM best GROUP BY 1, 2 ORDER BY lang_true, lang_pred""",
    "llm_text_scrub" ->
      """SELECT doc_id, length(text) AS len_before, length(scrubbed) AS len_after,
                text = scrubbed AS unchanged, substring(scrubbed, 1, 40) AS head
         FROM (SELECT doc_id, text,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(text, 'https?://\S+', '<URL>', 'g'),
                     '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
                   '[0-9]{4,}', '<NUM>', 'g') AS scrubbed
               FROM documents)
         ORDER BY doc_id""",
    "llm_text_quality" ->
      s"""SELECT doc_id, n AS n_toks,
                (chars * 10000) // n AS avg_tok_len_bp,
                (st * 10000) // n AS stopword_bp,
                (np * 10000) // len AS nonalpha_bp,
                ${Shared.qualityBp("//")} AS quality_bp
         FROM (SELECT doc_id,
                CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars,
                ${Shared.qualityFeaturesSql}
               FROM documents)
         ORDER BY doc_id""",
    "llm_text_token_count" ->
      s"""SELECT lang, count(*) AS n_docs, CAST(sum(ws_toks) AS BIGINT) AS total_ws,
                 CAST(sum(bpe_toks) AS BIGINT) AS total_bpe,
          ${d4Sql("avg(CAST(bpe_toks AS DOUBLE) / ws_toks)")} AS bpe_per_ws
          FROM (SELECT lang, len(string_split(text, ' ')) AS ws_toks,
                       list_sum(list_transform(string_split(text, ' '),
                                               t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS bpe_toks
                FROM documents)
          GROUP BY lang ORDER BY lang""",
    "llm_fingerprint" ->
      """SELECT doc_id,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(text) + 1),
                                   i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
                    (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_hash,
                md5(list_aggregate(list_sort(list_distinct(string_split(text, ' '))), 'string_agg', ' ')) AS set_md5
         FROM documents ORDER BY doc_id""",
    // head_byte is the first UTF-8 BYTE of the payload (matching the Spark
    // side's bytes.head), derived from the first codepoint: <0x80 → itself,
    // <0x800 → 0xC0+cp>>6, <0x10000 → 0xE0+cp>>12, else 0xF0+cp>>18.
    "llm_source_dedup_matrix" ->
      """WITH sh AS (SELECT DISTINCT source,
                            md5(array_to_string(string_split(text, ' ')[1:16], ' ')) AS h
                     FROM documents),
              ps AS (SELECT source, count(*) AS n_hashes FROM sh GROUP BY 1),
              m AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
                    FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
                    GROUP BY 1, 2)
         SELECT src_a, src_b, n_shared,
                10000 * n_shared // least(pa.n_hashes, pb.n_hashes) AS overlap_bp
         FROM m JOIN ps pa ON m.src_a = pa.source
                JOIN ps pb ON m.src_b = pb.source
         ORDER BY src_a, src_b""",
    "llm_multimodal_dedup" ->
      """WITH p AS (SELECT doc_id, lang, md5(text) AS h,
                           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
                    FROM documents),
              k AS (SELECT h, min(doc_id) AS keep_id FROM p GROUP BY 1)
         SELECT lang, count(*) AS n_payloads, count(DISTINCT h) AS n_unique,
                CAST(sum(CASE WHEN doc_id <> keep_id THEN n_bytes ELSE 0 END) AS BIGINT)
                  AS bytes_reclaimable
         FROM p JOIN k USING (h) GROUP BY lang ORDER BY lang""",
    "llm_multimodal_features" ->
      s"""SELECT lang, count(*) AS n_docs,
                 CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
          ${d4Sql("""avg(CASE WHEN text = '' THEN 0
                          WHEN unicode(text) < 128 THEN unicode(text)
                          WHEN unicode(text) < 2048 THEN 192 + unicode(text) // 64
                          WHEN unicode(text) < 65536 THEN 224 + unicode(text) // 4096
                          ELSE 240 + unicode(text) // 262144 END)""")} AS avg_head_byte
          FROM documents GROUP BY lang ORDER BY lang""",
    // Frame sampling mirrored char-for-char on the decoded payload (UTF-8
    // roundtrips exactly, so DuckDB samples the text directly).
    "llm_multimodal_framesample" ->
      """SELECT doc_id,
                CAST((length(text) + 31) // 32 AS INT) AS n_frames,
                length(coalesce(smp, '')) AS sample_chars,
                md5(coalesce(smp, '')) AS sample_md5
         FROM (SELECT doc_id, text,
                      list_aggregate(
                        list_transform(range(0, CAST((length(text) + 31) // 32 AS INT)),
                                       i -> substring(text, 1 + i * 32, 8)),
                        'string_agg', '') AS smp
               FROM documents)
         ORDER BY doc_id""",
    // Same char-sorted histogram, same sequential ln fold.
    "llm_text_entropy" ->
      s"""WITH chars AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, length(text) + 1),
                                         i -> substring(text, i, 1))) AS ch
            FROM documents),
          hist AS (SELECT doc_id, ch, count(*) AS cnt FROM chars GROUP BY 1, 2),
          h AS (SELECT doc_id,
                       list(cnt ORDER BY ch) AS cnts,
                       count(*) AS n_distinct_chars,
                       CAST(sum(cnt) AS BIGINT) AS n
                FROM hist GROUP BY doc_id)
          SELECT doc_id, n AS n_chars_counted, n_distinct_chars,
                 ${d4Sql("""ln(CAST(n AS DOUBLE)) -
                      list_reduce(list_prepend(CAST(0 AS DOUBLE),
                          list_transform(cnts, c -> CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))),
                          (a, x) -> a + x) / CAST(n AS DOUBLE)""")} AS entropy_nats_bp
          FROM h ORDER BY doc_id""",
    // Pipeline.run, stage for stage: quality_bp (pure integer arithmetic,
    // Pipeline.withQuality op-for-op), filter >= 9000, drop the larger id
    // of every exact-Jaccard>=0.8 pair among the SURVIVORS, then the
    // per-language summary.
    "llm_pipeline_e2e" ->
      s"""WITH q AS (
            SELECT doc_id, text, lang, n_chars,
                   ${Shared.qualityFeaturesSql}
            FROM documents),
          f AS (
            SELECT doc_id, text, lang, n_chars FROM q
            WHERE ${Shared.qualityBp("//")} >= 9000),
          ${Shared.wordPairsSql("pairs", docs = "f")},
          kept AS (
            SELECT * FROM f WHERE doc_id NOT IN (SELECT doc_b FROM pairs))
          SELECT lang, count(*) AS n_docs,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
                 ${moneySumSql("CAST(n_chars AS DOUBLE)")} AS total_chars
          FROM kept GROUP BY lang ORDER BY lang""",
    "llm_sim_mmr" ->
      s"""WITH params AS (SELECT greatest(100, count(*) // 200) AS qstep FROM embeddings),
           cand AS (SELECT qid, cid, sim FROM (
               SELECT q.vec_id AS qid, c.vec_id AS cid,
                      ${Shared.cosSql("q.embedding", "c.embedding")} AS sim,
                      row_number() OVER (PARTITION BY q.vec_id
                                         ORDER BY ${Shared.cosSql("q.embedding", "c.embedding")} DESC,
                                                  c.vec_id) AS rn
               FROM embeddings q JOIN embeddings c
                 ON q.vec_id % (SELECT qstep FROM params) = 7 AND q.vec_id <> c.vec_id)
             WHERE rn <= 12),
           cp AS (SELECT a.qid, a.cid AS ca, b.cid AS cb,
                         ${Shared.cosSql("ea.embedding", "eb.embedding")} AS csim
                  FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid
                  JOIN embeddings ea ON ea.vec_id = a.cid
                  JOIN embeddings eb ON eb.vec_id = b.cid),
           sel1 AS (SELECT qid, cid, sim, 1 AS rank FROM (
                     SELECT qid, cid, sim,
                            row_number() OVER (PARTITION BY qid
                                               ORDER BY sim DESC, cid) AS rn
                     FROM cand) WHERE rn = 1),
           $mmrSteps
          SELECT qid, CAST(rank AS BIGINT) AS rank, cid, ${d4Sql("sim")} AS sim_bp
          FROM sel5 ORDER BY qid, rank""",
    "graph_cooccurrence" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
              np AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
              pr AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS common
                     FROM ut a JOIN ut b
                       ON a.user_id = b.user_id AND a.event_type < b.event_type
                     GROUP BY 1, 2)
         SELECT ta, tb, CAST(common AS BIGINT) AS common,
                CAST(na.n AS BIGINT) AS na, CAST(nb.n AS BIGINT) AS nb,
                CAST(10000 * common // (na.n + nb.n - common) AS BIGINT) AS jaccard_bp
         FROM pr JOIN np na ON na.event_type = ta JOIN np nb ON nb.event_type = tb
         ORDER BY ta, tb""",
    "llm_embed_centroid" ->
      s"""SELECT label, pos - 1 AS dim, count(*) AS n,
                ${d6SumSql("CAST(x AS DOUBLE)")} AS sum_u
         FROM (SELECT label,
                      unnest(range(1, len(embedding) + 1)) AS pos,
                      unnest(embedding) AS x
               FROM embeddings)
         GROUP BY label, pos ORDER BY label, dim""",
    // Same fixed-seed assignment as IVF/purity; update = the embed_centroid
    // micro-unit sum per (cluster, dim); drift_nu in exact BIGINTs.
    // The 3 Lloyd rounds unrolled; every quantity is integral (HUGEINT
    // products, `//` = Spark's `div` on the all-nonnegative divides and
    // both truncate toward zero on the signed centroid means), so the
    // hash must match bit-for-bit.
    "llm_kmeans_train_k" -> {
      def round(k: Int): String = {
        val (c, a) = (s"c${k - 1}", s"a$k")
        s"""n${k - 1} AS (SELECT cid, sum(CAST(cu AS HUGEINT) * cu) AS nsq FROM $c GROUP BY cid),
            d$k AS (SELECT x.vec_id, c.cid, sum(CAST(x.xu AS HUGEINT) * c.cu) AS dot
                    FROM xu x JOIN $c c ON c.dim = x.dim GROUP BY 1, 2),
            $a AS (SELECT vec_id, cid FROM (
                     SELECT d.vec_id, d.cid,
                            row_number() OVER (PARTITION BY d.vec_id ORDER BY
                              CASE WHEN d.dot >= 0 THEN (d.dot * d.dot) // n.nsq
                                   ELSE -((d.dot * d.dot) // n.nsq) END DESC, d.cid) AS rn
                     FROM d$k d JOIN n${k - 1} n ON n.cid = d.cid) WHERE rn = 1),
            c$k AS (SELECT a.cid, x.dim, sum(x.xu) // (100 * count(*)) AS cu
                    FROM xu x JOIN $a a ON a.vec_id = x.vec_id GROUP BY 1, 2)"""
      }
      s"""WITH xu AS (SELECT vec_id, pos - 1 AS dim, ${d6Sql("CAST(x AS DOUBLE)")} AS xu
                      FROM (SELECT vec_id,
                                   unnest(range(1, len(embedding) + 1)) AS pos,
                                   unnest(embedding) AS x
                            FROM embeddings)),
              c0 AS (SELECT vec_id AS cid, dim, xu // 100 AS cu FROM xu WHERE vec_id < 8),
              ${round(1)},
              ${round(2)},
              ${round(3)}
         SELECT a.cid AS cluster, CAST(x.dim AS BIGINT) AS dim, count(*) AS n,
                CAST(sum(x.xu) AS BIGINT) AS sum_xu,
                CAST(sum(x.xu) // (100 * count(*)) AS BIGINT) AS cent_cu
         FROM xu x JOIN a3 a ON a.vec_id = x.vec_id
         GROUP BY 1, 2
         ORDER BY 1, 2"""
    },
    "llm_kmeans_step" ->
      s"""WITH ${nearestCentroidsSql("assign", "embeddings", "8", 1)},
               pts AS (SELECT a.cid AS cluster, e.pos - 1 AS dim, e.x
                       FROM (SELECT vec_id,
                                    unnest(range(1, len(embedding) + 1)) AS pos,
                                    unnest(embedding) AS x
                             FROM embeddings) e
                       JOIN assign a ON a.vec_id = e.vec_id),
               upd AS (SELECT cluster, dim, count(*) AS n,
                              ${d6SumSql("CAST(x AS DOUBLE)")} AS sum_u
                       FROM pts GROUP BY 1, 2),
               seeds AS (SELECT vec_id AS cluster, pos - 1 AS dim,
                                ${d6Sql("CAST(x AS DOUBLE)")} AS seed_u
                         FROM (SELECT vec_id,
                                      unnest(range(1, len(embedding) + 1)) AS pos,
                                      unnest(embedding) AS x
                               FROM embeddings WHERE vec_id < 8))
          SELECT u.cluster, CAST(u.dim AS BIGINT) AS dim, u.n, u.sum_u, s.seed_u,
                 u.sum_u - u.n * s.seed_u AS drift_nu
          FROM upd u JOIN seeds s ON s.cluster = u.cluster AND s.dim = u.dim
          ORDER BY u.cluster, u.dim""",
  )
}
