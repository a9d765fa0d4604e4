package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Norm.floorMicro
import graft.Tables._
import graft.Gates

/** SURVEY.md §2.O — training-data curation (round-5 continuation): the four
  * corpus-preparation stages a pre-training pipeline runs after dedup —
  * repetition-based quality scoring (the Gopher filters' repetition family),
  * benchmark-contamination screening by n-gram overlap, deterministic
  * domain-mix resampling, and token-budget sequence packing for the trainer.
  *
  * Tokenization is the project-wide space-split convention (shared with
  * llm_text_wordcount / llm_text_ngrams). All ratio outputs are integer
  * basis points via `10000 · x div y` (Norm doctrine: no doubles in hashed
  * columns).
  */
object LlmCuration {
  /** Distinct (doc_id, g) word n-grams ([[Shared.wordGrams]]) of `df`'s
    * docs: one explode per doc, then the distinct is the only shuffle
    * (keyed on (doc_id, g)). */
  private def docGrams(df: DataFrame, n: Int): DataFrame =
    df.select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(Shared.wordGrams("t", n)).as("g")).distinct()

  /** DuckDB twin of [[docGrams]] over every document: the CTE `grams`. */
  private def docGramsSql(n: Int): String =
    s"""grams AS (SELECT DISTINCT doc_id, unnest(${Shared.wordGramsSql("t", n.toString)}) AS g
                  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))"""

  /** The first-fit fold shared by llm_pack_greedy's per-bucket flatMapGroups
    * and property-tested on random inputs in PropertySuite: docs in input
    * order, a doc that would overflow `budget` opens a new bin (a single
    * oversized doc still gets its own bin). Returns (id, n, binIndex). */
  private[graft] def greedyFold(sorted: Seq[(Long, Long)], budget: Long): Seq[(Long, Long, Long)] = {
    var bin = 0L; var fill = 0L
    sorted.map { case (id, n) =>
      if (fill + n > budget && fill > 0) { bin += 1; fill = n } else fill += n
      (id, n, bin)
    }
  }

  /** The deterministic resampling convention shared by llm_domain_mix and
    * llm_curation_e2e (md5-hex-prefix bucket — the llm_sample_stratified
    * idiom — and the per-language keep-rate table). One definition so the
    * two ops and their oracles cannot silently diverge. */
  private val mixBucket = expr(
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100")
  private val mixRate = expr(
    "CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 60 WHEN 'fr' THEN 45 " +
      "WHEN 'es' THEN 30 ELSE 15 END")

  /** Per-doc word-repetition profile — the dup_word_bp basis shared by
    * llm_quality_repetition, llm_curation_e2e, and llm_mix_epochs (one
    * definition, like docGrams/mixBucket, so the three ops and their oracles
    * cannot silently diverge). One explode → (keys, word) partial-agg →
    * per-keys agg; both shuffles carry doc_id, so the plan is two
    * map-side-combinable aggregations. Emits n_words / n_uniq / max_w. */
  private def repetitionProfile(df: DataFrame, keys: String*): DataFrame =
    df.select(keys.map(col) :+ explode(split(col("text"), " ")).as("w"): _*)
      .groupBy((keys :+ "w").map(col): _*).agg(count(lit(1)).as("c"))
      .groupBy(keys.map(col): _*)
      .agg(sum("c").as("n_words"), count(lit(1)).as("n_uniq"), max("c").as("max_w"))

  /** DuckDB twin of [[repetitionProfile]]: CTE prefix defining `rep`
    * (n_words / n_uniq / max_w grouped by `keys`). */
  private def repetitionSqlCte(keys: String): String =
    s"""t AS (SELECT $keys, unnest(string_split(text, ' ')) AS w FROM documents),
        pw AS (SELECT $keys, w, count(*) AS c FROM t GROUP BY ALL),
        rep AS (SELECT $keys, CAST(sum(c) AS BIGINT) AS n_words,
                       count(*) AS n_uniq, max(c) AS max_w
                FROM pw GROUP BY ALL)"""

  // ---- BPE training kernels (llm_bpe_merge_step / llm_bpe_train_k) ----

  /** Sentinel-spaced symbol strings of every ≥2-char corpus word — the BPE
    * working frame. One explode + a map-only char split. */
  private def bpeInitialWords(s: SparkSession, d: String): DataFrame =
    documents(s, d, par = true)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(expr("array_join(split(w, ''), ' ')").as("sym"))

  /** Adjacent symbol pairs of the MATERIALIZED array column `arr`: one
    * zip_with over two equal-length slices is O(L) per word. The pre-r9
    * form called `element_at(split(c, ' '), i)` inside a per-index
    * `transform` lambda — interpreted HOF lambdas get no cross-invocation
    * CSE, so the in-lambda re-split made pair extraction O(L²) per word
    * (r8 verdict blemish: the 9.43 s #1 bench line). The split feeding
    * `arr` now runs once per row in the caller's projection. The size
    * guard keeps 1-symbol words at an empty pair list. */
  private def bpePairExpr(arr: String): String =
    s"""IF(size($arr) >= 2,
          zip_with(slice($arr, 1, size($arr) - 1),
                   slice($arr, 2, size($arr) - 1),
                   (x, y) -> concat(x, ' ', y)),
          array())"""

  /** Pair counts of a (sym) frame — the vocabulary is charset²-bounded, so
    * the groupBy is partial-aggregatable into a tiny frame. */
  private def bpePairCounts(words: DataFrame): DataFrame =
    words.select(split(col("sym"), " ").as("syms"))
      .select(explode(expr(bpePairExpr("syms"))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))

  /** One corpus-wide merge application: leftmost-non-overlapping literal
    * replace on the sentinel-spaced strings (identical semantics in Java's
    * String.replace and DuckDB's replace), one map pass over a broadcast
    * 1-row winner frame (`best_pair`). Keeps `best_pair` alongside the
    * merged `sym`. */
  private def bpeApplyMerge(words: DataFrame, best: DataFrame): DataFrame =
    words.crossJoin(broadcast(best))
      .select(col("best_pair"),
        expr("""trim(replace(concat(' ', sym, ' '),
                             concat(' ', best_pair, ' '),
                             concat(' ', replace(best_pair, ' ', ''), ' ')))""")
          .as("sym"))

  /** The engine-stable argmax: (n desc, pair asc) is a total order, so the
    * 1-row winner is deterministic on both engines. */
  private def bpeBest(counts: DataFrame): DataFrame =
    counts.orderBy(col("n").desc, col("pair")).limit(1)

  private val bpeMemo = new graft.Memo[(String, String), (DataFrame, DataFrame)]

  /** Memoized 4-round BPE training artifacts: (merge table, final symbol
    * stream) — the Shared-memo convention (one checkpoint per process per
    * sf dir): `llm_bpe_train_k` declares the merge table, `llm_bpe_apply`
    * re-uses it as the learned tokenizer, `llm_bpe_vocab` censuses the
    * post-merge stream — one Verify/Bench process pays the training loop
    * once for all three. Per round: charset²-bounded pair count → (n desc,
    * pair asc) argmax → corpus-wide single-pass merge, words frame
    * localCheckpoint'd per round (pagerank iteration rule). */
  private def bpeTrained(s: SparkSession, d: String): (DataFrame, DataFrame) =
    bpeMemo(Shared.memoKey(s, d)) {
      var words = bpeInitialWords(s, d)
      val merges = (1 to 4).map { k =>
        val best = bpeBest(bpePairCounts(words))
          .select(col("pair").as("best_pair"), col("n")).localCheckpoint(true)
        words = bpeApplyMerge(words, best.select("best_pair"))
          .select("sym").localCheckpoint(true)
        best.select(lit(k).cast("long").as("round"),
          col("best_pair"), col("n").as("n_merged"))
      }.reduce(_ unionAll _).localCheckpoint(true)
      (merges, words)
    }

  private def bpeMerges(s: SparkSession, d: String): DataFrame =
    bpeTrained(s, d)._1

  /** Deterministic memo force for [[graft.ops.Shared.forceMemos]] (bench
    * accounting honesty — the training loop's cost is reported as its own
    * `memo:bpe.trained` line, never smeared into whichever of the three
    * BPE consumers happens to run first). */
  private[ops] def forceBpeMemo(s: SparkSession, d: String): Unit = {
    bpeTrained(s, d); ()
  }

  /** Unrolled K-round DuckDB twin of the BPE train loop, shared by the
    * train and apply oracles: per round the CTEs p{r} (pair counts), b{r}
    * (argmax winner, cols bp/n), w{r} (merged symbol stream), over w0 = the
    * spaced-symbol words — the shapes the Spark loop materializes. */
  private def bpeRoundsCte(k: Int): String = {
    val rounds = (1 to k).map { r =>
      s"""p$r AS (SELECT pair, count(*) AS n FROM (
                   SELECT unnest(${Shared.wordGramsSql("a", "2")}) AS pair
                   FROM (SELECT string_split(sym, ' ') AS a FROM w${r - 1}))
                 GROUP BY 1),
          b$r AS (SELECT pair AS bp, n FROM p$r ORDER BY n DESC, pair LIMIT 1),
          w$r AS (SELECT trim(replace(' ' || sym || ' ', ' ' || bp || ' ',
                                      ' ' || replace(bp, ' ', '') || ' ')) AS sym
                  FROM w${r - 1}, b$r)"""
    }.mkString(",\n")
    s"""ws AS (SELECT w FROM (SELECT unnest(string_split(text, ' ')) AS w
                              FROM documents) WHERE length(w) >= 2),
        w0 AS (SELECT array_to_string(str_split_regex(w, ''), ' ') AS sym FROM ws),
        $rounds"""
  }

  private def bpeTrainOracle(k: Int): String = {
    val unions = (1 to k)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, bp AS merged_pair, n AS n_merged FROM b$r")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeRoundsCte(k)}
        $unions ORDER BY round"""
  }

  /** Twin of llm_bpe_apply: the same 4 learned merges (b1..b4, each a 1-row
    * cross join) applied innermost-first as nested single-pass replaces. */
  private def bpeApplyOracle: String = {
    val enc = (1 to 4).foldLeft("' ' || array_to_string(str_split_regex(w, ''), ' ') || ' '") {
      (acc, k) =>
        s"replace($acc, ' ' || b$k.bp || ' ', ' ' || replace(b$k.bp, ' ', '') || ' ')"
    }
    s"""WITH ${bpeRoundsCte(4)},
            toks AS (SELECT doc_id, w,
                            len(string_split(trim($enc), ' ')) AS n_tok
                     FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                           FROM documents), b1, b2, b3, b4)
        SELECT doc_id, count(*) AS n_words,
               CAST(sum(length(w)) AS BIGINT) AS n_chars,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               10000 * CAST(sum(n_tok) AS BIGINT) // count(*) AS fert_bp,
               10000 * CAST(sum(n_tok) AS BIGINT)
                 // CAST(sum(length(w)) AS BIGINT) AS comp_bp
        FROM toks GROUP BY doc_id ORDER BY doc_id"""
  }

  val ops: Map[String, Q] = Map(
    // PII scan — the privacy audit a corpus release runs (emails, phone
    // numbers, long digit runs) reported per source. The fixture corpus
    // carries no PII, so the scanned column is `text` plus a DETERMINISTIC
    // synthetic PII suffix derived from doc_id residues (the multimodal
    // fake-decode convention: both engines construct the identical bytes,
    // so the regex layer — the part under test — sees a non-trivial,
    // reproducible hit distribution). Patterns stay in the regex subset
    // (char classes + bounded repeats) that Java regex and RE2 evaluate
    // identically; counts are non-overlapping matches on both engines.
    // Map-only until one partial-aggregatable source groupBy — at 100 TB
    // the scan cost is the regex pass itself, embarrassingly parallel.
    "llm_pii_scan" -> ((s, d) =>
      documents(s, d)
        .withColumn("raw", concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" call 555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            concat(lit(" acct "), lpad(col("doc_id").cast("string"), 12, "0")))
            .otherwise(lit(""))))
        .select(col("source"),
          regexp_count(col("raw"),
            lit("[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}")).cast("long").as("em"),
          regexp_count(col("raw"), lit("555-[0-9]{4}")).cast("long").as("ph"),
          regexp_count(col("raw"), lit("[0-9]{9,}")).cast("long").as("dr"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("em") + col("ph") + col("dr") > 0, 1L).otherwise(0L))
            .as("n_docs_pii"),
          sum("em").as("n_emails"),
          sum("ph").as("n_phones"),
          sum("dr").as("n_digit_runs"))
        .orderBy("source")),

    // Cross-document boilerplate detection at the CHUNK level (header/
    // footer/template text that exact doc-dedup can't see because the
    // surrounding document differs): the llm_chunk_overlap chunking
    // (32-token chunks, 24-token stride) keyed by md5, a chunk class is
    // boilerplate when it appears in ≥2 DISTINCT docs, and each source
    // reports its chunk volume, boilerplate occurrences, and touched docs.
    // Scale: chunking is map-only; the class table comes from one
    // partial-aggregatable md5 groupBy; the class join keys on the hash —
    // never doc×doc. The shared-class frame is corpus-scaled, so it joins
    // shuffled (NOT broadcast — the llm_dedup_exact rule).
    "llm_boilerplate_chunks" -> ((s, d) => {
      val chunks = documents(s, d)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), col("source"), size(col("t")).as("n"), col("t"))
        .select(col("doc_id"), col("source"), explode(expr(
          """transform(sequence(0, n - 1, 24),
                       st -> concat_ws(' ', slice(t, st + 1, 32)))""")).as("txt"))
        .select(col("doc_id"), col("source"), md5(col("txt")).as("h"))
      val shared = chunks.groupBy("h")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2)
      chunks.join(shared, Seq("h"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("nd").isNotNull, 1L).otherwise(0L)).as("n_bp_occurrences"),
          countDistinct(when(col("nd").isNotNull, col("doc_id")))
            .as("n_docs_touched"))
        .orderBy("source")
    }),

    // ROUGE-1 overlap metric (Lin 2004, public) over the deterministic
    // successor pairing (doc d scored against doc d+1 — the pairing is the
    // fixture stand-in for any candidate↔reference id map an eval pipeline
    // supplies). Token-MULTISET overlap Σ min(cₐ, c_b) via per-doc word
    // counts, then precision/recall/F1 as exact integer basis points:
    // P = ov/n_b, R = ov/n_a, F1 = 2·ov/(nₐ+n_b) — the F1 identity keeps
    // even the harmonic mean rational, so no float ever materializes.
    // Scale: the overlap join keys on (successor id, word) — each doc
    // meets ONE partner, so the join output is bounded by the token
    // stream, never pairs²; all aggregations partial-aggregate.
    "llm_rouge_pairs" -> ((s, d) => {
      val wc = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      val lens = wc.groupBy("doc_id").agg(sum("c").as("n"))
      val ov = wc.as("a").join(wc.as("b"),
          col("a.doc_id") + 1 === col("b.doc_id") && col("a.w") === col("b.w"))
        .groupBy(col("a.doc_id").as("doc_a"))
        .agg(sum(least(col("a.c"), col("b.c"))).as("overlap"))
      lens.as("la").join(lens.as("lb"),
          col("la.doc_id") + 1 === col("lb.doc_id"))
        .select(col("la.doc_id").as("doc_a"),
          (col("la.doc_id") + 1).cast("long").as("doc_b"),
          col("la.n").as("n_a"), col("lb.n").as("n_b"))
        .join(ov, Seq("doc_a"), "left")
        .select(col("doc_a"), col("doc_b"),
          coalesce(col("overlap"), lit(0L)).as("overlap"), col("n_a"), col("n_b"))
        .withColumn("rouge1_p_bp", expr("10000 * overlap div n_b"))
        .withColumn("rouge1_r_bp", expr("10000 * overlap div n_a"))
        .withColumn("rouge1_f_bp", expr("20000 * overlap div (n_a + n_b)"))
        .orderBy("doc_a")
    }),

    // Gopher quality rules (Rae et al. 2021, public), adapted to the
    // space-split token convention: word count in [50, 100000], mean word
    // length in [3, 10], symbol-to-word ratio <= 0.1, duplicate-token
    // fraction <= 0.5, and >= 2 distinct stopwords present. Every ratio
    // test is integer cross-multiplied (no double ever materializes); each
    // rule emits a 0/1 flag and `pass` is their conjunction, so downstream
    // filters can audit WHICH rule rejected a doc. One narrow per-row
    // projection — no shuffle except the presentation sort — so at 100 TB
    // this is a map-only pass over the corpus.
    "llm_quality_gopher" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"), col("text"))
        .select(col("doc_id"),
          size(col("t")).cast("long").as("n"),
          size(array_distinct(col("t"))).cast("long").as("dn"),
          length(regexp_replace(col("text"), " ", "")).cast("long").as("chars"),
          length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("long").as("sym"),
          size(array_intersect(array_distinct(col("t")),
            array(lit("the"), lit("a"), lit("of"), lit("to"), lit("in"), lit("and"))))
            .cast("long").as("stops"))
        .select(col("doc_id"), col("n").as("n_toks"),
          when(col("n") >= 50 && col("n") <= 100000, 1L).otherwise(0L).as("ok_words"),
          when(col("chars") >= col("n") * 3 && col("chars") <= col("n") * 10, 1L)
            .otherwise(0L).as("ok_wordlen"),
          when(col("sym") * 10 <= col("n"), 1L).otherwise(0L).as("ok_symbol"),
          when(col("dn") * 2 >= col("n"), 1L).otherwise(0L).as("ok_dup"),
          when(col("stops") >= 2, 1L).otherwise(0L).as("ok_stop"))
        .withColumn("pass", col("ok_words") * col("ok_wordlen") * col("ok_symbol")
          * col("ok_dup") * col("ok_stop"))
        .orderBy("doc_id")),

    // Per-doc repetition profile: duplicate-word fraction and top-word
    // fraction in basis points. One explode → (doc_id, word) partial-agg →
    // per-doc agg; both shuffles are keyed on doc_id-bearing keys, so the
    // plan is two map-side-combinable aggregations — no corpus×vocab join.
    "llm_quality_repetition" -> ((s, d) =>
      repetitionProfile(documents(s, d), "doc_id")
        .select(col("doc_id"), col("n_words"),
          expr("10000 * (n_words - n_uniq) div n_words").as("dup_word_bp"),
          expr("10000 * max_w div n_words").as("top_word_bp"))
        .orderBy("doc_id")),

    // Benchmark-contamination screen: docs with doc_id ≡ 0 (mod 20) stand in
    // for the held-out benchmark; every other doc reports how many of its
    // distinct word-5-grams appear in ANY benchmark doc. The benchmark gram
    // set is corpus/20-sized and broadcast, so the corpus-sized side never
    // shuffles for the membership probe — at 100 TB the benchmark (a real
    // eval suite) is tiny by construction and this stays a broadcast semi
    // probe + one doc_id-keyed count.
    "llm_contamination" -> ((s, d) => {
      val docs = documents(s, d)
      // Slice filters sit BELOW gram construction, so each branch explodes
      // only its own docs (the benchmark leg is corpus/20-sized), and both
      // per-doc counts come from ONE aggregation over one broadcast left
      // join — no second pass over the corpus grams, no totals⋈shared join.
      // r14 measured-and-REJECTED: spreading the bench slice before the
      // explode (the llm_contamination_sweep fix) ran 1.17 → 1.35 s here —
      // ONE 5-gram bench build is too small to amortize the added
      // exchange; the sweep wins only because its three builds (incl. the
      // 8-gram) each cost ~0.9 s serial.
      val bench = docGrams(docs.filter(col("doc_id") % 20 === 0), 5).select("g").distinct()
      val corpus = docGrams(docs.filter(col("doc_id") % 20 =!= 0), 5)
      // The bench slice is corpus/20 — a FRACTION, not a bound, so the
      // broadcast hint is size-gated (r12 sf100 doctrine: an unconditional
      // hint on a corpus-scaling gram frame is a latent outage; above the
      // gate the join degrades to the gram-keyed shuffle, one pass).
      corpus.join(
          Gates.broadcastUnder(bench.withColumn("hit", lit(1L)),
            Gates.bytes(s, d, "documents") / 20, Gates.GramCap), Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
        .select(col("doc_id"), col("n_grams"), col("n_shared"),
          when(col("n_shared") > 0, 1L).otherwise(0L).as("contaminated"))
        .orderBy("doc_id")
    }),

    // Deterministic domain-mix resampling: per-language keep-rates applied
    // by md5(doc_id) bucket (the llm_sample_stratified hash convention —
    // engine- and run-independent, no RNG state). Narrow map + one lang agg.
    // Token-budget data selection — the "best docs until the budget runs
    // out" cut a fixed-compute pre-training run applies: docs rank by
    // (quality desc, doc_id) INSIDE each language, a lang-partitioned
    // running token sum marks the budget frontier (2,000 tokens per lang
    // here — chosen to BIND at every scale factor, so the cut is exercised,
    // not vacuous), and the report carries kept/total docs and tokens plus budget
    // utilization bp. Quality is the integer composite shared with
    // llm_importance_resample.
    // Plan shape (reworked in r7): the naive form is a lang-partitioned
    // corpus-sized cumsum window — few language groups over a frame that
    // scales with the corpus, the agg_gini hazard. Two-phase bucketed
    // shape instead: (1) collapse to per-(lang, quality_bp) doc/token
    // totals (quality_bp has a bounded integer range by construction, so
    // this frame is value-bounded); whole quality levels classify as
    // kept/cut from a running total over THAT frame; (2) only the single
    // CROSSING quality level per lang needs per-doc resolution — its
    // offset broadcasts back and the fine cumsum runs over just that
    // level's docs. Identical to the single-window form by construction
    // (the oracle keeps the simple form as the semantic definition).
    "llm_token_budget" -> ((s, d) => {
      val scored = documents(s, d)
        .select(col("doc_id") +: col("lang") +: Shared.qualityFeatures: _*)
        .withColumn("quality_bp", expr(
          Shared.qualityBp("div")))
        .localCheckpoint(false)
      val wDesc = Window.partitionBy("lang").orderBy(col("quality_bp").desc)
      val cum = scored.groupBy("lang", "quality_bp")
        .agg(count(lit(1)).as("nd"), sum("n").as("nt"))
        .withColumn("cum_before", coalesce(sum("nt").over(
          wDesc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("cum_after", col("cum_before") + col("nt"))
        .localCheckpoint(false)
      // One aggregation per lang over the checkpointed level frame: the
      // totals, the whole levels that fit the budget, and the crossing
      // level (at most one per lang, so a conditional max picks it).
      val full = col("cum_after") <= 2000L
      val crosses = col("cum_before") < 2000L && col("cum_after") > 2000L
      val perLang = cum.groupBy("lang")
        .agg(sum("nd").as("n_docs"), sum("nt").as("total_toks"),
          sum(when(full, col("nd"))).as("kd"), sum(when(full, col("nt"))).as("kt"),
          max(when(crosses, col("quality_bp"))).as("cross_bp"),
          max(when(crosses, col("cum_before"))).as("cross_before"))
      val crossing = perLang.filter(col("cross_bp").isNotNull)
        .select(col("lang"), col("cross_bp").as("quality_bp"), col("cross_before").as("cum_before"))
      val partAgg = scored.join(broadcast(crossing), Seq("lang", "quality_bp"))
        .withColumn("cum", col("cum_before") +
          sum("n").over(Window.partitionBy("lang").orderBy("doc_id")))
        .filter(col("cum") <= 2000L)
        .groupBy("lang").agg(count(lit(1)).as("pd"), sum("n").as("pt"))
      perLang.join(broadcast(partAgg), Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("total_toks"),
          (coalesce(col("kd"), lit(0L)) + coalesce(col("pd"), lit(0L))).as("n_kept"),
          (coalesce(col("kt"), lit(0L)) + coalesce(col("pt"), lit(0L))).as("kept_toks"))
        .withColumn("budget_used_bp", expr("10000 * kept_toks div 2000"))
        .orderBy("lang")
    }),

    // Length-bucket batching audit — the dataloader-efficiency report a
    // trainer's bucketed-batching strategy is sized from: docs bucket by
    // floor(log2(n_toks)), computed as length(bin(n)) — the exact integer
    // log2 (llm_token_histogram rule, no float log whose power-of-two
    // boundaries could round differently across engines) — and each bucket
    // reports doc count, token total, length span, and the padding waste a
    // pad-to-bucket-max batch would spend: Σ(max − n) against Σ max in
    // integer basis points. One narrow projection + one bucket agg; at any
    // scale the report is ≤ log2(max doc length) rows.
    "llm_length_buckets" -> ((s, d) =>
      documents(s, d)
        .select(size(split(col("text"), " ")).cast("long").as("n"))
        .groupBy(length(bin(col("n"))).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"),
          min("n").as("min_toks"), max("n").as("max_toks"))
        .withColumn("pad_waste_bp",
          expr("10000 * (n_docs * max_toks - n_tokens) div (n_docs * max_toks)"))
        .orderBy("bucket")),

    // DSIR-flavored importance resampling (quality-proportional selection,
    // public idea from importance-resampling data selection): each doc's
    // keep PROBABILITY is its quality score — kept iff
    // md5-bucket(doc_id) % 10000 < quality_bp (the llm_text_quality
    // composite). Deterministic (no RNG), so the sample is reproducible
    // and stable across incremental re-runs, and each stratum's expected
    // kept fraction equals its mean quality (emitted side-by-side as
    // kept_bp vs expected_bp for the audit). Narrow per-row scoring pass +
    // one lang-keyed agg; nothing corpus-sized shuffles.
    "llm_importance_resample" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id") +: col("lang") +: Shared.qualityFeatures: _*)
        .withColumn("quality_bp", expr(
          Shared.qualityBp("div")))
        .withColumn("kept", expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 10000")
          < col("quality_bp"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum("quality_bp").as("sum_quality_bp"))
        .withColumn("kept_bp", expr("10000 * n_kept div n_total"))
        .withColumn("expected_bp", expr("sum_quality_bp div n_total"))
        .orderBy("lang")),

    "llm_domain_mix" -> ((s, d) => {
      documents(s, d)
        .withColumn("kept", mixBucket < mixRate)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("kept_bp", expr("10000 * n_kept div n_total"))
        .orderBy("lang")
    }),

    // Greedy boundary-preserving packing (first-fit in doc_id order): docs
    // are never split; a doc that would overflow the 512-token budget opens
    // a new bin. Greedy packing is inherently sequential, so the corpus is
    // cut into independent packing domains (doc_id div 100 buckets): each
    // bucket folds locally over its ≤100 sorted docs inside flatMapGroups,
    // bins are namespaced bkt·1000+bin, and no global order, driver state,
    // or cross-bucket dependency exists — buckets pack in parallel at any
    // scale. Doc-boundary-preserving complement of llm_pack_sequences
    // (which concatenates the token stream and cuts mid-doc).
    "llm_pack_greedy" -> ((s, d) => {
      val sp = s; import sp.implicits._
      documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          expr("doc_id div 100").as("bkt"))
        .as[(Long, Long, Long)]
        .groupByKey(_._3)
        .flatMapGroups { (bkt: Long, rows: Iterator[(Long, Long, Long)]) =>
          greedyFold(rows.toArray.sortBy(_._1).map(r => (r._1, r._2)).toSeq, 512L)
            .iterator.map { case (id, n, bin) => (id, n, bkt * 1000 + bin) }
        }
        .toDF("doc_id", "n_tokens", "bin_id")
        .orderBy("doc_id")
    }),

    // Token-budget sequence packing: concatenate the corpus in doc_id order
    // and cut fixed 512-token training sequences; each doc reports the
    // sequence span it lands in. The global token offset is a
    // Shared.bucketedPrefix over doc_id div 100 buckets.
    "llm_pack_sequences" -> ((s, d) => {
      val L = 512
      val toks = documents(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      Shared.bucketedPrefix(toks, Nil, expr("doc_id div 100"), Seq(col("doc_id")),
          Seq(col("n_tokens") -> "off"))
        .select(col("doc_id"), col("n_tokens"),
          expr(s"off div $L").as("first_seq"),
          expr(s"(off + n_tokens - 1) div $L").as("last_seq"))
        .orderBy("doc_id")
    }),

    // Epoch upsampling — the mixing complement of llm_domain_mix's
    // downsampling: each doc repeats for a per-language base epoch count
    // (underrepresented zh highest, dominant en lowest) plus one bonus
    // epoch for high-quality docs (dup_word_bp < 2000) — the "more passes
    // over the best data" weighting a pre-training mixture applies. The
    // replica explosion is a narrow sequence() explode; the summary is one
    // lang-keyed aggregation.
    "llm_mix_epochs" -> ((s, d) => {
      val rep = repetitionProfile(documents(s, d), "doc_id", "lang")
        .withColumn("epochs",
          expr("CASE lang WHEN 'zh' THEN 3 WHEN 'en' THEN 1 ELSE 2 END + " +
            "CASE WHEN 10000 * (n_words - n_uniq) div n_words < 2000 THEN 1 ELSE 0 END"))
      rep.select(col("doc_id"), col("lang"), explode(expr("sequence(1, epochs)")).as("ep"))
        .groupBy("lang")
        .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_replicas"))
        .withColumn("avg_epochs_bp", expr("10000 * n_replicas div n_docs"))
        .orderBy("lang")
    }),

    // Sentence segmentation stats (the Gopher-family structural signals):
    // sentences = non-blank spans between [.!?]+ runs, plus centi-words-
    // per-sentence. One narrow pass, no shuffle before the final sort; the
    // regex split is the filter's INPUT argument (evaluated once per row —
    // not the per-element-re-eval lambda trap).
    // Readability census per document (the Flesch–Kincaid-family quality
    // feature curation pipelines threshold on, in EXACT integers): the
    // syllable proxy is vowel-group counting — each word's maximal
    // [aeiouy]+ runs collapse to one marker, vg = marker count, syllables
    // = max(vg, 1) — the standard heuristic within ~10% of dictionary
    // syllabification on English; sentences reuse llm_text_sentences'
    // [.!?] rule (punctuation-free corpora degrade to 1 sentence/doc and
    // the W/S term dominates — documented, not hidden). fk_grade_c =
    // (39·W) div S + (1180·Syl) div W − 1559 is 100× the FK grade with
    // both ratios as truncating integer divides (engine-identical).
    // Scale: one token explode → (doc) partial agg — the same shape and
    // cost as llm_text_quality; the regex runs once per token (no HOF
    // re-evaluation — the BPE in-lambda lesson), sentences ride a
    // doc-level select joined on the doc-sized frame.
    "llm_text_readability" -> ((s, d) => {
      val w = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .select(col("doc_id"), regexp_replace(col("w"), "[aeiouy]+", "#").as("r"))
        .select(col("doc_id"),
          (length(col("r")) - length(regexp_replace(col("r"), "#", ""))).cast("long").as("vg"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(expr("greatest(vg, 1)")).cast("long").as("n_syll"),
          sum(expr("CASE WHEN vg >= 3 THEN 1 ELSE 0 END")).cast("long").as("n_poly"))
      val sents = documents(s, d).select(col("doc_id"),
        expr("greatest(CAST(size(filter(split(text, '[.!?]+'), x -> trim(x) != '')) AS BIGINT), 1)")
          .as("n_sent"))
      w.join(sents, "doc_id")
        .select(col("doc_id"), col("n_words"), col("n_syll"), col("n_poly"), col("n_sent"),
          expr("10000 * n_syll div n_words").as("syll_per_word_bp"),
          expr("(39 * n_words) div n_sent + (1180 * n_syll) div n_words - 1559")
            .as("fk_grade_c"))
        .orderBy("doc_id")
    }),

    "llm_text_sentences" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          expr("CAST(size(filter(split(text, '[.!?]+'), x -> trim(x) != '')) AS BIGINT)")
            .as("n_sentences"))
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          expr("100 * n_words div greatest(n_sentences, 1)").as("wps_c"))
        .orderBy("doc_id")),

    // The curation family composed end-to-end — the corpus-preparation run
    // a pre-training pipeline executes: repetition-quality gate
    // (dup_word_bp < 5000, ~half the corpus at every sf) → benchmark-
    // contamination screen (drop docs sharing ANY 5-gram with the
    // benchmark slice) → deterministic domain-mix resampling → per-language
    // training-yield summary (docs, tokens, 512-token sequence budget).
    // Every stage is the same shape as its standalone op, so the composed
    // plan inherits their scale properties (broadcast benchmark probe, two
    // doc_id-keyed aggs, narrow mix filter).
    "llm_curation_e2e" -> ((s, d) => {
      val docs = documents(s, d)
      // Lazy localCheckpoint: the gated profile feeds the survivor
      // semi-join AND the final anti-join leg — without it the dominant
      // explode+agg stage runs twice (the agg_gini recompute note).
      val rep = repetitionProfile(docs, "doc_id", "lang")
        .filter(expr("10000 * (n_words - n_uniq) div n_words < 5000"))
        .localCheckpoint(false)
      val bench = docGrams(docs.filter(col("doc_id") % 20 === 0), 5).select("g").distinct()
      // the corpus gram leg (the dominant explode+distinct) runs ONLY over
      // docs that survived the repetition gate — the gate drops ~half the
      // corpus, so screening the rejects would double the heaviest stage
      val survivors = docs.join(
        rep.filter(col("doc_id") % 20 =!= 0).select("doc_id"), Seq("doc_id"), "left_semi")
      val contaminated = docGrams(survivors, 5)
        .join(broadcast(bench), "g").select("doc_id").distinct()
      rep.filter(col("doc_id") % 20 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .filter(mixBucket < mixRate)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_words").as("total_tokens"))
        .withColumn("n_seqs", expr("(total_tokens + 511) div 512"))
        .orderBy("lang")
    }),

    // Overlapping-window chunking (the RAG / context-window preparation
    // stage): each doc is cut into 32-token chunks on a 24-token stride
    // (8-token overlap), boundaries clipped at the doc end. One narrow
    // explode per doc — chunk starts come from a sequence() over the
    // materialized token array (the Shared.wordGrams one-split-per-row discipline);
    // chunk text leaves as an md5 so no corpus-sized strings reach the
    // hashed output. At 100 TB this is a map-only stage: no shuffle at all
    // before the declared output sort.
    "llm_chunk_overlap" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), size(col("t")).as("n"), col("t"))
        .select(col("doc_id"), col("n"), explode(expr(
          """transform(sequence(0, n - 1, 24),
                       st -> named_struct('st', st,
                                          'txt', concat_ws(' ', slice(t, st + 1, 32))))"""))
          .as("c"))
        .select(col("doc_id"),
          expr("CAST(c.st div 24 AS BIGINT)").as("chunk_idx"),
          expr("CAST(least(32, n - c.st) AS BIGINT)").as("n_chunk"),
          md5(col("c.txt")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")),

    // The corpus datasheet (per-source "data card" a dataset release ships):
    // docs, tokens, language spread, exact-duplicate count (md5 groups with
    // >1 member — the cheap dup signal; the near-dup families quantify the
    // rest), and mean quality. Everything partial-aggregatable: one md5
    // groupBy + one source groupBy; mean quality is integer `sum div n`.
    "llm_data_card" -> ((s, d) => {
      val base = graft.Pipeline.withQuality(documents(s, d))
        .select(col("doc_id"), col("source"), col("lang"), col("text"),
          col("quality_bp"), md5(col("text")).as("h"))
      val hc = base.groupBy("h").agg(count(lit(1)).as("hc"))
      base.join(hc, "h")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"),
          countDistinct("lang").as("n_langs"),
          sum(when(col("hc") > 1, 1L).otherwise(0L)).as("n_exact_dup"),
          expr("sum(quality_bp) div count(*)").as("mean_quality_bp"))
        .orderBy("source")
    }),

    // Deterministic global training-order shuffle: every doc gets a unique
    // 1-based position in md5(doc_id) order — reproducible across engines,
    // runs, and partitionings: one plus a Shared.bucketedPrefix count over
    // the 256 hash-prefix buckets (hex-prefix order is hash order).
    "llm_global_shuffle" -> ((s, d) => {
      val h = documents(s, d)
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
      Shared.bucketedPrefix(h, Nil, expr("CAST(conv(substring(h, 1, 2), 16, 10) AS BIGINT)"),
          Seq(col("h"), col("doc_id")), Seq(lit(1L) -> "before"))
        .select(col("doc_id"), (col("before") + 1).as("pos"))
        .orderBy("doc_id")
    }),

    // BPE vocabulary induction, step 1: count every adjacent character-pair
    // occurrence inside words across the corpus (the statistic each BPE
    // merge round maximizes). Two map-side explodes then one partial-
    // aggregatable count — the corpus never re-shuffles per round because a
    // real trainer re-derives pairs from the merged symbol stream, and this
    // op is exactly that per-round scan. Top-50 by (count, pair) is a total
    // order, so the cutoff is engine-stable.
    // Context-window planning: for candidate training context lengths, how
    // many docs fit whole and how many tokens a hard truncation would
    // discard — the waste curve that picks the packing window BEFORE a
    // packing job runs (pairs with llm_pack_sequences). One map-only token
    // count, a 3-row broadcast of window sizes, one partial-aggregatable
    // groupBy; truncation share in integer bp.
    "llm_context_window_stats" -> ((s, d) => {
      val sp = s; import sp.implicits._
      val wins = Seq(16, 64, 256).toDF("win_size")
      documents(s, d)
        .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
        .crossJoin(broadcast(wins))
        .groupBy("win_size")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_tok") <= col("win_size"), 1L).otherwise(0L)).as("n_fit"),
          sum("n_tok").as("tok_total"),
          sum(expr("greatest(n_tok - win_size, 0L)")).as("tok_truncated"))
        .withColumn("trunc_bp", expr("10000 * tok_truncated div tok_total"))
        .orderBy("win_size")
    }),

    // One REAL BPE training iteration — the merge step llm_bpe_pair_counts
    // stops short of: count adjacent symbol pairs, pick the winner
    // (n desc, pair asc — a total order, so the argmax is engine-stable),
    // apply the merge corpus-wide with leftmost-non-overlapping literal
    // replace on sentinel-spaced symbol strings (identical semantics in
    // Java's String.replace and DuckDB's replace), and re-count — emitting
    // the post-merge top-20 pair table with the chosen merge alongside.
    // Scale: the pair vocabulary is charset²-bounded (counts are
    // partial-aggregatable), the winner is a 1-row broadcast (GlobalLimit —
    // BNLJ-sweep-visible bound), the merge itself is one map pass; a full
    // BPE train loops this O(corpus) shape with the per-round pair table
    // checkpointed (graph_pagerank iteration rule).
    "llm_bpe_merge_step" -> ((s, d) => {
      val words = bpeInitialWords(s, d)
      val best = bpeBest(bpePairCounts(words)).select(col("pair").as("best_pair"))
      bpeApplyMerge(words, best)
        .select(col("best_pair"), split(col("sym"), " ").as("syms"))
        .select(col("best_pair"), explode(expr(bpePairExpr("syms"))).as("pair"))
        .groupBy("best_pair", "pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(20)
    }),

    // Multi-round BPE TRAINING (K = 4 merge rounds) — the natural completion
    // of llm_bpe_merge_step's single iteration: each round counts adjacent
    // pairs (charset²-bounded partial agg), picks the (n desc, pair asc)
    // winner, applies the leftmost-non-overlap merge corpus-wide, and feeds
    // the merged symbol stream to the next round. Emits the MERGE TABLE —
    // (round, merged_pair, n_merged) — the artifact a tokenizer trainer
    // persists. Scale: per round one O(corpus) map pass + one tiny agg; the
    // words frame is localCheckpoint'd per round (the graph_pagerank
    // iteration rule) so round k's plan doesn't nest rounds 1..k−1 and the
    // corpus-sized lineage is truncated, exactly how a 1000-executor run
    // would persist each round to the cluster cache.
    "llm_bpe_train_k" -> ((s, d) =>
      bpeMerges(s, d)
        .select(col("round"), col("best_pair").as("merged_pair"), col("n_merged"))
        .orderBy("round")),

    // Apply the learned tokenizer: ENCODE every corpus word with the 4-round
    // merge table (the train→apply pair every tokenizer pipeline ships) and
    // report per-doc fertility (tokens per word, bp) and compression
    // (tokens per char, bp) — the metrics that judge a tokenizer against a
    // corpus before training commits to it. The merge table is a broadcast
    // 1-row pivot; the encode is one map pass (4 sequential
    // leftmost-non-overlap replaces on the sentinel-spaced form — the
    // SAME single-pass merge semantics train_k's rounds use, so the
    // encoder is internally consistent with the trainer; both engines'
    // replace() scan left-to-right non-overlapping, so parity is exact).
    // One partial-aggregatable doc_id groupBy; embarrassingly parallel at
    // 100 TB.
    "llm_bpe_apply" -> ((s, d) => {
      val mrow = bpeMerges(s, d).groupBy()
        .pivot("round", Seq(1L, 2L, 3L, 4L)).agg(first("best_pair"))
      val enc = (1 to 4).foldLeft("concat(' ', array_join(split(w, ''), ' '), ' ')") {
        (acc, k) =>
          s"replace($acc, concat(' ', `$k`, ' '), concat(' ', replace(`$k`, ' ', ''), ' '))"
      }
      documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .crossJoin(broadcast(mrow))
        .select(col("doc_id"), col("w"),
          expr(s"size(split(trim($enc), ' '))").cast("long").as("n_tok"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("w"))).cast("long").as("n_chars"),
          sum("n_tok").as("n_tokens"))
        .withColumn("fert_bp", expr("10000 * n_tokens div n_words"))
        .withColumn("comp_bp", expr("10000 * n_tokens div n_chars"))
        .orderBy("doc_id")
    }),

    // The VOCABULARY the 4-round training run exports (the third artifact
    // of the tokenizer trio: merge table → vocab → encode metrics): every
    // symbol in the post-merge stream with its corpus frequency and its
    // (n desc, symbol asc) rank — what a trainer persists as vocab.json
    // and what an embedding table is sized from. Reads the memoized final
    // symbol stream, so the training loop is still paid once per process;
    // one explode → symbol partial-agg (charset²·4-bounded output), rank
    // over the collapsed vocab-sized frame — map-side combinable, nothing
    // corpus² anywhere.
    "llm_bpe_vocab" -> ((s, d) => {
      val counts = bpeTrained(s, d)._2
        .select(explode(split(col("sym"), " ")).as("symbol"))
        .groupBy("symbol").agg(count(lit(1)).as("n"))
      counts.withColumn("rank", row_number().over(
          Window.orderBy(col("n").desc, col("symbol"))))
        .orderBy("rank")
    }),

    "llm_bpe_pair_counts" -> ((s, d) =>
      documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(
          expr("transform(sequence(1, char_length(w) - 1), i -> substr(w, i, 2))")).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(50)),

    // SFT chat-template rendering: first 8 tokens become the prompt, the
    // rest the response, wrapped in role tags. Map-only string assembly;
    // rendered text leaves as md5 + length (same no-corpus-strings-in-the-
    // output rule as llm_chunk_overlap) so the check pins the exact bytes
    // without shipping them.
    "llm_sft_format" -> ((s, d) =>
      documents(s, d)
        .filter(size(split(col("text"), " ")) > 8)
        .select(col("doc_id"),
          concat(lit("<|user|>"), lit("\n"),
            array_join(slice(split(col("text"), " "), 1, 8), " "),
            lit("\n"), lit("<|assistant|>"), lit("\n"),
            array_join(expr("slice(split(text, ' '), 9, 1000000)"), " ")).as("rendered"))
        .select(col("doc_id"), md5(col("rendered")).as("sft_md5"),
          length(col("rendered")).cast("long").as("sft_len"))
        .orderBy("doc_id")),

    // Tokenizer-vocabulary coverage: learn the top-K vocab from the corpus
    // itself ((count, word) total order so the cutoff is engine-stable),
    // broadcast it, and report each document's OOV rate in basis points —
    // the fertility/coverage screen run before committing to a tokenizer.
    // K = 20 on this fixture's 31-word vocab so both classes are populated;
    // a real run sets K to the tokenizer's vocab size. The corpus-sized
    // token stream never shuffles: one broadcast probe + one doc_id agg.
    "llm_vocab_coverage" -> ((s, d) => {
      val toks = documents(s, d).select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val vocab = toks.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(20)
        .select(col("w"), lit(1L).as("iv"))
      toks.join(broadcast(vocab), Seq("w"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          expr("10000 * n_oov div n_tokens").as("oov_bp"))
        .orderBy("doc_id")
    }),

    // N-gram NOVELTY (dataset-diversity curation metric): fraction of each
    // doc's distinct word-3-grams whose corpus-wide FIRST occurrence (by
    // doc_id order) is this doc. Attribution = one gram-keyed min-agg + one
    // gram-keyed join — the join is honest gram-cardinality shuffle work
    // (the first-occurrence frame is corpus-scale, NOT broadcast-able);
    // novelty in integer basis points.
    "llm_ngram_novelty" -> ((s, d) => {
      val g3 = docGrams(documents(s, d), 3)
      // r14: n_novel is just a COUNT per first_doc of the gram→min(doc)
      // frame, so the gram-keyed join of the full gram frame back against
      // `first` (a corpus-gram-sized shuffle of both legs) collapses to two
      // independent partial-aggregatable counts — per-doc gram census and
      // per-first_doc novelty census — joined at DOC grain (guide §2.3:
      // shuffle keys and counts, not the gram payload). Docs with no novel
      // grams take the left-join 0; the doc universe (docs with ≥1 gram)
      // is identical to the inner-join form's.
      val first = g3.groupBy("g").agg(min("doc_id").as("first_doc"))
      val novel = first.groupBy(col("first_doc").as("doc_id"))
        .agg(count(lit(1)).as("n_novel"))
      g3.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
        .join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          expr("10000 * n_novel div n_grams").as("novelty_bp"))
        .orderBy("doc_id")
    }),

    // URL canonicalization dedup (the CCNet/web-crawl ingest step BEFORE
    // content dedup: most crawl duplicates differ only in case, tracking
    // params, or fragments). Messy raw URLs are synthesized deterministically
    // from document columns (the str_url convention — DuckDB has no URL
    // parser, so the oracle reconstructs the clean form from the same
    // columns, making parse_url checkable as the inverse of construction);
    // canonical = lowercased scheme+host + path + sorted non-utm_* query,
    // fragment dropped. Map-only until the one canonical-key groupBy —
    // the same shape as llm_dedup_exact with the canonicalizer in front.
    "llm_url_canonical" -> ((s, d) => {
      val raw = documents(s, d).select(col("doc_id"), col("source"),
        concat(lit("HTTPS://"),
          when(col("doc_id") % 2 === 0, upper(col("source"))).otherwise(col("source")),
          lit(".Example.COM/d/"), col("doc_id") % 50,
          lit("?id="), col("doc_id") % 25,
          when(col("doc_id") % 3 === 0, lit("&utm_source=feed&utm_campaign=x")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit(""))).as("url"))
      raw.select(col("url"), concat(
          lower(parse_url(col("url"), lit("PROTOCOL"))), lit("://"),
          lower(parse_url(col("url"), lit("HOST"))),
          parse_url(col("url"), lit("PATH")),
          when(col("url").contains("?"),
            concat(lit("?"), array_join(array_sort(filter(
              split(parse_url(col("url"), lit("QUERY")), "&"),
              p => !p.startsWith("utm_"))), "&"))).otherwise(lit(""))).as("curl"))
        .groupBy("curl")
        .agg(count(lit(1)).as("n"), countDistinct(col("url")).as("n_variants"))
        .orderBy("curl")
    }),

    // Document-frequency vocabulary pruning (index/embedding-prep step):
    // drop words appearing in <2 or >half of all docs, then REWRITE each doc
    // with its surviving tokens in original order. The df frame is
    // vocab-sized and partial-aggregatable; the rewrite needs no global
    // sort — order is restored per doc by sorting the (pos, word) structs
    // inside the aggregation. Docs whose every token is pruned stay present
    // with n_kept = 0 and md5('') via the left join. Rendered text leaves as
    // md5 + count (the llm_sft_format convention: don't ship corpus strings).
    "llm_doc_freq_prune" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "pos", "w")
      val df = toks.select("doc_id", "w").distinct()
        .groupBy("w").agg(count(lit(1)).as("df"))
      val total = documents(s, d).agg(count(lit(1)).as("n_docs"))
      val kept = toks.join(df, "w").crossJoin(broadcast(total))
        .filter(col("df") >= 2 && col("df") * 2 <= col("n_docs"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          md5(expr("concat_ws(' ', transform(array_sort(collect_list(struct(pos, w))), x -> x.w))"))
            .as("kept_md5"))
      toks.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
        .orderBy("doc_id")
    }),

    // Winsorization (clip, don't drop — the feature-normalization sibling
    // of filter_outlier_mad): per language, doc length clamps to that
    // language's [p10, p90] DISCRETE percentiles, so the clip bounds are
    // actual data values and the whole op is integer-exact. The stats frame
    // is |langs| rows — a broadcast back onto the corpus, never a second
    // corpus shuffle — and the output is the metadata-sized per-language
    // before/after audit a pipeline logs when it normalizes a feature.
    "llm_winsorize" -> ((s, d) => {
      val docs = documents(s, d).select(col("lang"), col("n_chars"))
      val stats = docs.groupBy("lang").agg(
        expr("CAST(percentile_disc(0.1) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)").as("p10"),
        expr("CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)").as("p90"))
      docs.join(broadcast(stats), "lang")
        .select(col("lang"), col("n_chars"), col("p10"), col("p90"),
          least(greatest(col("n_chars"), col("p10")), col("p90")).as("clipped"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_raw"),
          sum("clipped").as("sum_clipped"),
          sum(when(col("n_chars") < col("p10"), 1L).otherwise(0L)).as("n_clip_low"),
          sum(when(col("n_chars") > col("p90"), 1L).otherwise(0L)).as("n_clip_high"))
        .orderBy("lang")
    }),

    // Deterministic span masking (denoising-objective data prep, the
    // BERT/T5 corruption step made reproducible): every token at 1-based
    // position p ≡ 3 (mod 7) is replaced by '<mask>' — a position rule, not
    // a PRNG, so the corruption is identical on every run, engine, and
    // partition count. n_masked is computed ARITHMETICALLY from n_tokens
    // (counting '<mask>' strings would miscount a corpus that already
    // contains the literal). Map-only, zero shuffle; masked text leaves as
    // md5 + length, never shipping corpus strings.
    "llm_span_mask" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
          concat_ws(" ", expr(
            "transform(t, (x, i) -> IF((i + 1) % 7 = 3, '<mask>', x))")).as("masked"))
        .select(col("doc_id"), col("n_tokens"),
          expr("CASE WHEN n_tokens >= 3 THEN (n_tokens - 3) div 7 + 1 ELSE CAST(0 AS BIGINT) END")
            .as("n_masked"),
          md5(col("masked")).as("masked_md5"))
        .orderBy("doc_id")),

    // Mixture-weight planning (the step BEFORE llm_domain_mix's fixed
    // keep-rates: derive per-domain sampling weights from a declared target
    // mixture). Target shares arrive as an inline VALUES dimension (the
    // sub_inline_values surface; en-heavy 40/24/15/12/9 split, Σ=10000 bp).
    // weight_bp = target_bp·N div n — 10000 means sample at natural rate,
    // >10000 means the domain must repeat (epochs), <10000 means downsample;
    // planned_docs = target_bp·N div 10000 is the post-resample size at the
    // same total budget. All integer arithmetic. Scale: one
    // partial-aggregatable lang count is the only corpus-sized stage; the
    // 1-row total and the 5-row target dim broadcast onto the |langs|-row
    // report.
    "llm_mixture_weights" -> ((s, d) => {
      val n = documents(s, d).groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val tgt = s.sql(
        """SELECT * FROM VALUES ('en', CAST(4000 AS BIGINT)), ('zh', 2400L),
                                ('de', 1500L), ('fr', 1200L), ('es', 900L)
           AS t(lang, target_bp)""")
      val total = n.agg(sum("n_docs").as("total"))
      n.join(broadcast(tgt), "lang")
        .crossJoin(broadcast(total))
        .select(col("lang"), col("n_docs"),
          expr("10000 * n_docs div total").as("actual_bp"),
          col("target_bp"),
          expr("target_bp * total div n_docs").as("weight_bp"),
          expr("target_bp * total div 10000").as("planned_docs"))
        .orderBy("lang")
    }),

    // Consecutive-repetition runs (the looping-generation detector — the
    // run-length sibling of llm_quality_repetition's bag-of-words ratios:
    // "a b a b" is invisible to dup_word_bp ordering but "a a a a" is a
    // run). Gaps-and-islands on token positions: pos − row_number within
    // (doc, tok) is constant exactly along a consecutive run. Emits the
    // longest run, its token ((run desc, tok) argmax — engine-stable), and
    // the count of runs ≥ 2. Scale: one explode then everything keys on
    // doc_id — the (doc, tok) island window, the run count, and the final
    // per-doc argmax all ride a single doc-keyed partitioning; no global
    // window, no corpus² stage.
    "llm_repetition_runs" -> ((s, d) => {
      val toks = documents(s, d, par = true)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "pos", "tok")
      val runs = toks
        .withColumn("grp", col("pos") - row_number().over(
          Window.partitionBy("doc_id", "tok").orderBy("pos")))
        .groupBy("doc_id", "tok", "grp").agg(count(lit(1)).as("run"))
      runs
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("run").desc, col("tok"))))
        .withColumn("max_run", max("run").over(Window.partitionBy("doc_id")))
        .withColumn("n_runs_ge2", sum(when(col("run") >= 2, 1L).otherwise(0L))
          .over(Window.partitionBy("doc_id")))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("max_run"), col("tok").as("run_tok"),
          col("n_runs_ge2"))
        .orderBy("doc_id")
    }),

    // Deterministic train/val/test split with a stratification audit: the
    // llm_sample_stratified hash-bucket idiom widened to a 90/5/5 3-way
    // partition (mixBucket — md5 hex prefix mod 100 — so membership is
    // engine-, run-, and partition-independent), reported per (lang, split)
    // with basis-point shares within each language. The audit is the point:
    // a skewed split (a language whose val slice drifted from 500 bp)
    // surfaces here before training does. One partial-aggregatable
    // (lang, split) count; the share window runs on the ≤ 3·|langs|-row
    // report frame.
    "llm_split_train_eval" -> ((s, d) =>
      documents(s, d)
        .withColumn("b", mixBucket)
        .withColumn("split", expr(
          "CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END"))
        .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
        .withColumn("lang_total", sum("n_docs").over(Window.partitionBy("lang")))
        .select(col("lang"), col("split"), col("n_docs"),
          expr("10000 * n_docs div lang_total").as("share_bp"))
        .orderBy("lang", "split")),

    // Curriculum ordering — the data SCHEDULE a quality-annealed training
    // run consumes: every doc ranked in the global (quality_bp asc, doc_id)
    // curriculum order (lowest-quality data first, cleanest last — the
    // anneal-to-quality shape) and assigned the token-budget PHASE its
    // first token falls in (4 equal token-mass phases). Rank and token
    // offset are one Shared.bucketedPrefix with the value-bounded
    // quality_bp (0..10000 by construction) as the bucket. All integer
    // arithmetic.
    "llm_curriculum_order" -> ((s, d) => {
      val q = documents(s, d).select(col("doc_id") +: Shared.qualityFeatures: _*)
        .select(col("doc_id"), col("n").as("n_toks"),
          expr(Shared.qualityBp("div"))
            .as("quality_bp"))
      Shared.bucketedPrefix(q, Nil, col("quality_bp"), Seq(col("quality_bp"), col("doc_id")),
          Seq(col("n_toks") -> "tok_before", lit(1L) -> "rank_before"), total = Some("total_toks"))
        .select(col("doc_id"), col("quality_bp"), col("n_toks"),
          (col("rank_before") + 1).as("curriculum_rank"),
          expr("tok_before * 4 div total_toks + 1").as("phase"))
        .orderBy("doc_id")
    }),

    // Per-source distribution-drift census: the exact two-sample
    // Kolmogorov–Smirnov statistic of each source's doc-length
    // distribution against the global corpus — the alarm a curation
    // pipeline raises when one source's length profile silently shifts
    // (truncation bug upstream, boilerplate flood). ENTIRELY integer: the
    // sup |F_s − F| over the union of jump points is max |cum_s·N −
    // cum·n_s| in cross-multiplied counts (never a float CDF), emitted as
    // ks_bp = 10000·max_diff div (n_s·N) with the arg-max length
    // (smallest attaining value — deterministic). Scale: ONE (source,
    // n_chars) partial-aggregatable count collapses the corpus; everything
    // after runs on the |values|×|sources| grid (value-bounded ≤ ~600 ×
    // |sources| — metadata), built by a broadcast cross of two COLLAPSED
    // frames; the cumsum windows run over that grid only.
    "llm_source_ks_drift" -> ((s, d) => {
      val cnt = documents(s, d).groupBy("source", "n_chars")
        .agg(count(lit(1)).as("c"))
      val vals = cnt.groupBy("n_chars").agg(sum("c").as("cv"))
        .withColumn("cum", sum("cv").over(
          Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n_total", sum("cv").over())
        .select("n_chars", "cum", "n_total")
      val srcs = cnt.groupBy("source").agg(sum("c").as("n_src"))
      val grid = vals.join(broadcast(srcs), lit(true))
        .join(cnt, Seq("source", "n_chars"), "left")
        .withColumn("cum_src", coalesce(sum("c").over(
          Window.partitionBy("source").orderBy("n_chars")
            .rowsBetween(Window.unboundedPreceding, 0)), lit(0L)))
        .withColumn("diff", abs(col("cum_src") * col("n_total") - col("cum") * col("n_src")))
      grid.withColumn("mx", max("diff").over(Window.partitionBy("source")))
        .filter(col("diff") === col("mx"))
        .groupBy("source")
        .agg(min("n_chars").as("at_n_chars"), max("n_src").as("n_docs"),
          max("mx").as("ks_num"), max("n_total").as("n_total"))
        .select(col("source"), col("n_docs"), col("at_n_chars"),
          expr("10000 * ks_num div (n_docs * n_total)").as("ks_bp"))
        .orderBy("source")
    }),

    // Temperature-based source sampling (the multilingual-corpus mixing
    // rule: sample source s with p ∝ n_s^α, α = 0.7 — upweights the tail
    // so small sources aren't drowned, the standard alternative to
    // llm_mixture_weights' fixed targets): per source, the n^0.7 weight
    // in floored micro-units (Norm.floorMicro; one exp(0.7·ln n) per
    // source, metadata-sized). ACCEPTED ULP RISK (r9 ADVICE, documented
    // next to the exact-integer rules in SCALE_TUNING.md): exp∘ln composes
    // two libm calls per engine, so a cross-engine divergence ≤ ~3e-15 relative
    // can flip the floor when 1e6·n^0.7 sits within that band of an
    // integer. A TRUE integer fix (w^10 ≤ 1e60·n^7 root extraction)
    // exceeds both engines' 128-bit integers, so instead the risk is
    // CLOSED for this harness's domain: Round10Suite exhaustively proves
    // every per-source count n reachable at sf0.001..sf10 (fixture counts
    // and their ScaleUp ×10/×100 tilings) keeps 1e6·exp(0.7·ln n) at
    // least 1e-3 from an integer — 11 orders of magnitude of margin.
    // Then a 10,000-slot budget is apportioned by LARGEST
    // REMAINDER (floor share + the Σbudget − Σfloors leftovers to the
    // largest 10000·w mod W remainders, source tie-break) — quotas sum to
    // the budget EXACTLY, no float ever re-enters. Scale: one (source)
    // partial-aggregatable count collapses the corpus; every window/join
    // after runs on the |sources|-row frame.
    "llm_sample_temperature" -> ((s, d) => {
      val n = documents(s, d).groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("weight_u",
          expr(floorMicro("exp(0.7 * ln(CAST(n_docs AS DOUBLE)))")))
      val tot = n.agg(sum("weight_u").as("tw"))
      val q = n.join(broadcast(tot), lit(true))
        .withColumn("base", expr("10000 * weight_u div tw"))
        .withColumn("rem", expr("10000 * weight_u % tw"))
      val left = q.agg((lit(10000L) - sum("base")).as("leftover"))
      q.join(broadcast(left), lit(true))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("source"))))
        .select(col("source"), col("n_docs"), col("weight_u"),
          (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .as("quota"))
        .orderBy("source")
    }),

    // Hash-shard balance census (K = 16): the skew audit run BEFORE a
    // 100 TB write commits to a sharding function — one hot shard turns
    // into one straggler writer task and one oversized output file. The
    // shard key is the md5-prefix bucket (the llm_global_shuffle hash:
    // engine-portable, uniform by construction); per shard docs + token
    // mass, and load_bp = 10000·K·tokens div total (10000 = perfectly
    // balanced). Scale: ONE partial-aggregatable groupBy over a map-only
    // projection + a 1-row broadcast total — the census costs one scan at
    // any corpus size.
    "llm_shard_balance" -> ((s, d) => {
      val sh = documents(s, d)
        .select(size(split(col("text"), " ")).cast("long").as("n_tok"),
          expr("""CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10)
                  AS BIGINT) % 16""").as("shard"))
      val tot = sh.agg(sum("n_tok").as("tok_total"))
      sh.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .crossJoin(broadcast(tot))
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          expr("10000 * 16 * n_tokens div tok_total").as("load_bp"))
        .orderBy("shard")
    }),

    // Contamination N-SENSITIVITY sweep (n = 3, 5, 8): the curve that picks
    // the overlap gram length BEFORE a decontamination run commits to one —
    // short grams over-flag (common phrases), long grams under-flag (miss
    // paraphrase edges); published pipelines disagree (8..13-gram overlap
    // is the usual range) precisely because this curve is corpus-specific.
    // Per n: the llm_contamination shape verbatim — benchmark slice's
    // distinct grams BROADCAST, corpus grams probe them in one left join +
    // one doc_id agg, then ONE summary row (docs flagged, doc_bp, shared
    // gram mass bp). Scale: 3 broadcast probes over 3 gram explodes — all
    // map-side, nothing corpus² — and the bench leg stays corpus/20-sized.
    "llm_contamination_sweep" -> ((s, d) => {
      val docs = documents(s, d)
      // r14: the three bench-side gram builds each ran as ONE 0.9 s task
      // (5%-slice of a single-row-group scan → 1 partition into the
      // CPU-dense tokenize+explode; ProfileOp jobs 106/107/109) and their
      // broadcast jobs set the op's wall floor. Spread the slice before
      // the explode — REPARTITION_BY_NUM on the unique doc_id, the same
      // CPU-dense-stage treatment as llm_dedup_prefix_jaccard; the
      // downstream distinct()s normalize, so results are unchanged by
      // construction.
      val dp = s.sparkContext.defaultParallelism
      Seq(3, 5, 8).map { n =>
        // Dedup to distinct GRAMS (docGrams dedupes (doc_id, gram)): a gram
        // shared by k bench docs would otherwise fan the probe join out ×k
        // and inflate both counters.
        val bench = docGrams(docs.filter(col("doc_id") % 20 === 0)
          .repartition(dp, col("doc_id")), n).select("g").distinct()
        val corpus = docGrams(docs.filter(col("doc_id") % 20 =!= 0), n)
        // Same size-gated hint as llm_contamination (r12): three gram
        // widths ⇒ three bench frames, each corpus/20-scaling.
        corpus.join(
            Gates.broadcastUnder(bench.withColumn("hit", lit(1L)),
              Gates.bytes(s, d, "documents") / 20, Gates.GramCap), Seq("g"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_shared") > 0, 1L).otherwise(0L)).as("n_contaminated"),
            sum("n_grams").as("tg"), sum("n_shared").as("sg"))
          .select(lit(n.toLong).as("gram_n"), col("n_docs"), col("n_contaminated"),
            expr("10000 * n_contaminated div n_docs").as("doc_bp"),
            expr("10000 * sg div tg").as("gram_bp"))
      }.reduce(_ unionAll _).orderBy("gram_n")
    }),

    // Head-coverage curve of the bigram distribution: what fraction of all
    // bigram OCCURRENCES the top-N bigrams account for, over a doubling N
    // grid — the curve that sizes phrase tables, cache tiers, and
    // stop-ngram lists (a steep curve says a tiny head dominates; Zipf's
    // law makes this the normal case — llm_zipf_fit fits the exponent,
    // this op reads the mass). Ties rank by the (count desc, bigram asc)
    // total order, so every cutoff is engine-stable. Scale: the corpus
    // collapses through ONE partial-aggregatable bigram count; the rank +
    // running-sum windows run over the COLLAPSED vocab-sized frame only
    // (single-partition by design — vocab ≪ corpus; for an unbounded vocab
    // apply the llm_global_shuffle bucket decomposition to the rank), and
    // the 9-row N grid joins against rank = min(N, vocab).
    "llm_ngram_coverage" -> ((s, d) => {
      val sp = s; import sp.implicits._
      val cnt = documents(s, d)
        .select(split(col("text"), " ").as("t"))
        .select(explode(Shared.wordGrams("t", 2)).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c"))
      val ord = Window.orderBy(col("c").desc, col("bg"))
      val ranked = cnt
        .select(col("c"), row_number().over(ord).cast("long").as("rk"),
          sum("c").over(ord.rowsBetween(Window.unboundedPreceding, 0)).as("cum"))
      val tot = cnt.agg(sum("c").as("total"), count(lit(1)).as("vocab"))
      Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L).toDF("top_n")
        .crossJoin(broadcast(tot))
        .withColumn("n_used", least(col("top_n"), col("vocab")))
        .join(ranked.select(col("rk"), col("cum").as("covered")),
          col("n_used") === col("rk"))
        .select(col("top_n"), col("n_used"), col("covered"), col("total"),
          expr("10000 * covered div total").as("coverage_bp"))
        .orderBy("top_n")
    }),
  )

  private val curationOracleExtra: Map[String, String] = Map(
    "llm_contamination_sweep" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
              ns AS (SELECT CAST(unnest([3, 5, 8]) AS BIGINT) AS gram_n),
              g AS (SELECT DISTINCT gram_n, doc_id,
                           unnest(${Shared.wordGramsSql("tk", "gram_n")}) AS g
                    FROM toks CROSS JOIN ns),
              bench AS (SELECT DISTINCT gram_n, g FROM g WHERE doc_id % 20 = 0),
              corpus AS (SELECT gram_n, doc_id, g FROM g WHERE doc_id % 20 <> 0),
              per AS (SELECT c.gram_n, c.doc_id, count(*) AS n_grams,
                             sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS n_shared
                      FROM corpus c LEFT JOIN bench b
                        ON b.gram_n = c.gram_n AND b.g = c.g
                      GROUP BY 1, 2)
         SELECT gram_n, count(*) AS n_docs,
                CAST(sum(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
                CAST(10000 * sum(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END) // count(*) AS BIGINT) AS doc_bp,
                CAST(10000 * sum(n_shared) // sum(n_grams) AS BIGINT) AS gram_bp
         FROM per GROUP BY gram_n ORDER BY gram_n""",
    "llm_shard_balance" ->
      """WITH sh AS (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 16 AS shard,
                            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                     FROM documents),
              tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tok_total FROM sh)
         SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                CAST(10000 * 16 * sum(n_tok) // tok_total AS BIGINT) AS load_bp
         FROM sh, tot GROUP BY shard, tok_total ORDER BY shard""",
    "llm_ngram_coverage" ->
      s"""WITH bg AS (SELECT unnest(${Shared.wordGramsSql("tk", "2")}) AS bg
                     FROM (SELECT string_split(text, ' ') AS tk FROM documents)),
              c AS (SELECT bg, count(*) AS c FROM bg GROUP BY bg),
              r AS (SELECT c, row_number() OVER (ORDER BY c DESC, bg) AS rk,
                           sum(c) OVER (ORDER BY c DESC, bg
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                    FROM c),
              tot AS (SELECT CAST(sum(c) AS BIGINT) AS total,
                             count(*) AS vocab FROM c),
              grid AS (SELECT CAST(unnest([1, 2, 4, 8, 16, 32, 64, 128, 256]) AS BIGINT) AS top_n)
         SELECT top_n, least(top_n, vocab) AS n_used,
                CAST(cum AS BIGINT) AS covered, total,
                CAST(10000 * cum // total AS BIGINT) AS coverage_bp
         FROM grid CROSS JOIN tot JOIN r ON r.rk = least(top_n, vocab)
         ORDER BY top_n""",
    "llm_mix_epochs" ->
      s"""WITH ${repetitionSqlCte("doc_id, lang")},
              ep AS (SELECT doc_id, lang,
                            CASE lang WHEN 'zh' THEN 3 WHEN 'en' THEN 1 ELSE 2 END +
                            CASE WHEN 10000 * (n_words - n_uniq) // n_words < 2000
                                 THEN 1 ELSE 0 END AS epochs
                     FROM rep),
              reps AS (SELECT doc_id, lang, unnest(range(1, epochs + 1)) AS e FROM ep)
         SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_replicas,
                CAST(10000 * count(*) // count(DISTINCT doc_id) AS BIGINT) AS avg_epochs_bp
         FROM reps GROUP BY 1 ORDER BY 1""",
    // Same vowel-group proxy; DuckDB regexp_replace needs the explicit 'g'
    // flag where Spark replaces globally by default (llm_text_scrub rule).
    "llm_text_readability" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
              v AS (SELECT doc_id,
                           CAST(length(r) - length(replace(r, '#', '')) AS BIGINT) AS vg
                    FROM (SELECT doc_id, regexp_replace(w, '[aeiouy]+', '#', 'g') AS r FROM t)),
              a AS (SELECT doc_id, count(*) AS n_words,
                           CAST(sum(greatest(vg, 1)) AS BIGINT) AS n_syll,
                           CAST(sum(CASE WHEN vg >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_poly
                    FROM v GROUP BY doc_id),
              sct AS (SELECT doc_id,
                             greatest(CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
                                                           x -> trim(x) <> '')) AS BIGINT), 1) AS n_sent
                      FROM documents)
         SELECT doc_id, n_words, n_syll, n_poly, n_sent,
                CAST(10000 * n_syll // n_words AS BIGINT) AS syll_per_word_bp,
                CAST((39 * n_words) // n_sent + (1180 * n_syll) // n_words - 1559 AS BIGINT) AS fk_grade_c
         FROM a JOIN sct USING (doc_id)
         ORDER BY doc_id""",
    "llm_text_sentences" ->
      """SELECT doc_id, n_words, n_sentences,
                CAST(100 * n_words // greatest(n_sentences, 1) AS BIGINT) AS wps_c
         FROM (SELECT doc_id,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                      CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
                                           x -> trim(x) <> '')) AS BIGINT) AS n_sentences
               FROM documents)
         ORDER BY doc_id""",
    "llm_curation_e2e" ->
      s"""WITH ${repetitionSqlCte("doc_id, lang")},
              kept AS (SELECT doc_id, lang, n_words FROM rep
                       WHERE 10000 * (n_words - n_uniq) // n_words < 5000),
              ${docGramsSql(5)},
              bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
              cont AS (SELECT DISTINCT c.doc_id FROM grams c JOIN bench b ON c.g = b.g
                       WHERE c.doc_id % 20 <> 0),
              mixed AS (SELECT k.lang, k.n_words FROM kept k
                        WHERE k.doc_id % 20 <> 0
                          AND NOT EXISTS (SELECT 1 FROM cont WHERE cont.doc_id = k.doc_id)
                          AND ('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
                              < CASE k.lang WHEN 'en' THEN 100 WHEN 'de' THEN 60 WHEN 'fr' THEN 45
                                            WHEN 'es' THEN 30 ELSE 15 END)
         SELECT lang, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS total_tokens,
                CAST((sum(n_words) + 511) // 512 AS BIGINT) AS n_seqs
         FROM mixed GROUP BY lang ORDER BY lang""",
  )

  val oracle: Map[String, String] = curationOracleExtra ++ Map(
    "llm_boilerplate_chunks" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
              c AS (SELECT doc_id, source, tk, len(tk) AS n,
                           unnest(range(0, len(tk), 24)) AS st FROM t),
              ch AS (SELECT doc_id, source,
                            md5(array_to_string(tk[st + 1 : least(st + 32, n)], ' ')) AS h
                     FROM c),
              sh AS (SELECT h, count(DISTINCT doc_id) AS nd FROM ch GROUP BY h
                     HAVING count(DISTINCT doc_id) >= 2)
         SELECT source, count(*) AS n_chunks,
                CAST(sum(CASE WHEN sh.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bp_occurrences,
                CAST(count(DISTINCT CASE WHEN sh.h IS NOT NULL THEN ch.doc_id END) AS BIGINT) AS n_docs_touched
         FROM ch LEFT JOIN sh USING (h) GROUP BY source ORDER BY source""",
    "llm_rouge_pairs" ->
      """WITH wc AS (SELECT doc_id, w, count(*) AS c
                     FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                           FROM documents)
                     GROUP BY doc_id, w),
              lens AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM wc GROUP BY doc_id),
              ov AS (SELECT a.doc_id AS doc_a, CAST(sum(least(a.c, b.c)) AS BIGINT) AS overlap
                     FROM wc a JOIN wc b ON a.doc_id + 1 = b.doc_id AND a.w = b.w
                     GROUP BY a.doc_id),
              p AS (SELECT la.doc_id AS doc_a, CAST(la.doc_id + 1 AS BIGINT) AS doc_b,
                           la.n AS n_a, lb.n AS n_b
                    FROM lens la JOIN lens lb ON la.doc_id + 1 = lb.doc_id)
         SELECT p.doc_a, p.doc_b, coalesce(ov.overlap, 0) AS overlap, n_a, n_b,
                10000 * coalesce(ov.overlap, 0) // n_b AS rouge1_p_bp,
                10000 * coalesce(ov.overlap, 0) // n_a AS rouge1_r_bp,
                20000 * coalesce(ov.overlap, 0) // (n_a + n_b) AS rouge1_f_bp
         FROM p LEFT JOIN ov ON p.doc_a = ov.doc_a ORDER BY p.doc_a""",
    // len(regexp_extract_all) = non-overlapping match count (RE2), the twin
    // of Spark's regexp_count (Java regex) on this shared pattern subset.
    "llm_pii_scan" ->
      """WITH raw AS (SELECT source, text
                || CASE WHEN doc_id % 7 = 0
                        THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                        ELSE '' END
                || CASE WHEN doc_id % 11 = 0
                        THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        ELSE '' END
                || CASE WHEN doc_id % 13 = 0
                        THEN ' acct ' || lpad(CAST(doc_id AS VARCHAR), 12, '0')
                        ELSE '' END AS r
              FROM documents),
              m AS (SELECT source,
                CAST(len(regexp_extract_all(r, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS em,
                CAST(len(regexp_extract_all(r, '555-[0-9]{4}')) AS BIGINT) AS ph,
                CAST(len(regexp_extract_all(r, '[0-9]{9,}')) AS BIGINT) AS dr
              FROM raw)
         SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN em + ph + dr > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_pii,
                CAST(sum(em) AS BIGINT) AS n_emails,
                CAST(sum(ph) AS BIGINT) AS n_phones,
                CAST(sum(dr) AS BIGINT) AS n_digit_runs
         FROM m GROUP BY source ORDER BY source""",
    "llm_quality_gopher" ->
      """WITH b AS (SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
                CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS dn,
                CAST(length(replace(text, ' ', '')) AS BIGINT) AS chars,
                CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS sym,
                CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                                        ['the', 'a', 'of', 'to', 'in', 'and'])) AS BIGINT) AS stops
               FROM documents)
         SELECT doc_id, n AS n_toks,
                CAST(CASE WHEN n >= 50 AND n <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS ok_words,
                CAST(CASE WHEN chars >= n * 3 AND chars <= n * 10 THEN 1 ELSE 0 END AS BIGINT) AS ok_wordlen,
                CAST(CASE WHEN sym * 10 <= n THEN 1 ELSE 0 END AS BIGINT) AS ok_symbol,
                CAST(CASE WHEN dn * 2 >= n THEN 1 ELSE 0 END AS BIGINT) AS ok_dup,
                CAST(CASE WHEN stops >= 2 THEN 1 ELSE 0 END AS BIGINT) AS ok_stop,
                ok_words * ok_wordlen * ok_symbol * ok_dup * ok_stop AS pass
         FROM b ORDER BY doc_id""",
    "llm_token_budget" ->
      s"""WITH b AS (SELECT doc_id, lang,
                ${Shared.qualityFeaturesSql}
               FROM documents),
              q AS (SELECT doc_id, lang, n,
                ${Shared.qualityBp("//")} AS quality_bp
               FROM b),
              c AS (SELECT lang, n,
                sum(n) OVER (PARTITION BY lang ORDER BY quality_bp DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
               FROM q)
         SELECT lang, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_toks,
                CAST(sum(CASE WHEN cum_toks <= 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(sum(CASE WHEN cum_toks <= 2000 THEN n ELSE 0 END) AS BIGINT) AS kept_toks,
                10000 * CAST(sum(CASE WHEN cum_toks <= 2000 THEN n ELSE 0 END) AS BIGINT) // 2000 AS budget_used_bp
         FROM c GROUP BY lang ORDER BY lang""",
    "llm_length_buckets" ->
      """WITH b AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                    FROM documents)
         SELECT CAST(length(bin(n)) AS INTEGER) AS bucket,
                count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
                min(n) AS min_toks, max(n) AS max_toks,
                10000 * (count(*) * max(n) - CAST(sum(n) AS BIGINT))
                  // (count(*) * max(n)) AS pad_waste_bp
         FROM b GROUP BY 1 ORDER BY bucket""",
    "llm_importance_resample" ->
      s"""WITH b AS (SELECT doc_id, lang,
                ${Shared.qualityFeaturesSql}
               FROM documents),
              q AS (SELECT doc_id, lang,
                ${Shared.qualityBp("//")} AS quality_bp
               FROM b),
              k AS (SELECT lang, quality_bp,
                CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < quality_bp
                     THEN 1 ELSE 0 END AS kept
               FROM q)
         SELECT lang, count(*) AS n_total, CAST(sum(kept) AS BIGINT) AS n_kept,
                CAST(sum(quality_bp) AS BIGINT) AS sum_quality_bp,
                10000 * CAST(sum(kept) AS BIGINT) // count(*) AS kept_bp,
                CAST(sum(quality_bp) AS BIGINT) // count(*) AS expected_bp
         FROM k GROUP BY lang ORDER BY lang""",
    "llm_quality_repetition" ->
      s"""WITH ${repetitionSqlCte("doc_id")}
         SELECT doc_id, n_words,
                CAST(10000 * (n_words - n_uniq) // n_words AS BIGINT) AS dup_word_bp,
                CAST(10000 * max_w // n_words AS BIGINT) AS top_word_bp
         FROM rep ORDER BY doc_id""",
    "llm_contamination" ->
      s"""WITH ${docGramsSql(5)},
              bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
              corpus AS (SELECT doc_id, g FROM grams WHERE doc_id % 20 <> 0),
              tot AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY 1),
              sh AS (SELECT c.doc_id, count(*) AS n_shared
                     FROM corpus c JOIN bench b ON c.g = b.g GROUP BY 1)
         SELECT tot.doc_id, n_grams,
                COALESCE(n_shared, 0) AS n_shared,
                CAST(CASE WHEN COALESCE(n_shared, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
         FROM tot LEFT JOIN sh ON tot.doc_id = sh.doc_id
         ORDER BY tot.doc_id""",
    "llm_domain_mix" ->
      """WITH k AS (SELECT lang,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
                        < CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 60 WHEN 'fr' THEN 45
                                    WHEN 'es' THEN 30 ELSE 15 END AS kept
                    FROM documents)
         SELECT lang, count(*) AS n_total,
                CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(10000 * sum(CASE WHEN kept THEN 1 ELSE 0 END) // count(*) AS BIGINT) AS kept_bp
         FROM k GROUP BY lang ORDER BY lang""",
    // Same greedy fold as a per-bucket recursive CTE: base case = each
    // bucket's first doc (bin 0, fill = its tokens), step joins row rn+1.
    "llm_pack_greedy" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  doc_id // 100 AS bkt,
                  row_number() OVER (PARTITION BY doc_id // 100 ORDER BY doc_id) AS rn
           FROM documents),
         packed AS (
           SELECT doc_id, n_tokens, bkt, rn, CAST(0 AS BIGINT) AS bin, n_tokens AS fill
           FROM t WHERE rn = 1
           UNION ALL
           SELECT t.doc_id, t.n_tokens, t.bkt, t.rn,
                  CASE WHEN p.fill + t.n_tokens > 512 THEN p.bin + 1 ELSE p.bin END,
                  CASE WHEN p.fill + t.n_tokens > 512 THEN t.n_tokens ELSE p.fill + t.n_tokens END
           FROM packed p JOIN t ON t.bkt = p.bkt AND t.rn = p.rn + 1)
         SELECT doc_id, n_tokens, bkt * 1000 + bin AS bin_id
         FROM packed ORDER BY doc_id""",
    "llm_pack_sequences" ->
      """SELECT doc_id, n_tokens,
                CAST(off // 512 AS BIGINT) AS first_seq,
                CAST((off + n_tokens - 1) // 512 AS BIGINT) AS last_seq
         FROM (SELECT doc_id,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                      COALESCE(CAST(sum(len(string_split(text, ' '))) OVER
                        (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS BIGINT), 0) AS off
               FROM documents)
         ORDER BY doc_id""",
    // range(0, n, 24) stops below n = sequence(0, n-1, 24)'s ≤ n-1; list
    // slice is 1-based inclusive with an explicit least() end clip.
    "llm_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
              c AS (SELECT doc_id, tk, len(tk) AS n,
                           unnest(range(0, len(tk), 24)) AS st FROM t)
         SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_idx,
                CAST(least(32, n - st) AS BIGINT) AS n_chunk,
                md5(array_to_string(tk[st + 1 : least(st + 32, n)], ' ')) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_idx""",
    "llm_global_shuffle" ->
      """SELECT doc_id,
                row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
         FROM documents ORDER BY doc_id""",
    "llm_context_window_stats" ->
      """WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                    FROM documents),
              w AS (SELECT * FROM (VALUES (16), (64), (256)) AS v(win_size))
         SELECT win_size, count(*) AS n_docs,
                CAST(sum(CASE WHEN n_tok <= win_size THEN 1 ELSE 0 END) AS BIGINT) AS n_fit,
                CAST(sum(n_tok) AS BIGINT) AS tok_total,
                CAST(sum(greatest(n_tok - win_size, 0)) AS BIGINT) AS tok_truncated,
                10000 * CAST(sum(greatest(n_tok - win_size, 0)) AS BIGINT)
                  // CAST(sum(n_tok) AS BIGINT) AS trunc_bp
         FROM t, w GROUP BY win_size ORDER BY win_size""",
    "llm_bpe_merge_step" ->
      s"""WITH ws AS (SELECT w FROM (SELECT unnest(string_split(text, ' ')) AS w
                                    FROM documents)
                     WHERE length(w) >= 2),
              sp AS (SELECT array_to_string(str_split_regex(w, ''), ' ') AS sym FROM ws),
              p1 AS (SELECT pair, count(*) AS n FROM (
                       SELECT unnest(${Shared.wordGramsSql("a", "2")}) AS pair
                       FROM (SELECT string_split(sym, ' ') AS a FROM sp))
                     GROUP BY 1),
              best AS (SELECT pair AS best_pair FROM p1
                       ORDER BY n DESC, pair LIMIT 1),
              m AS (SELECT best_pair,
                           trim(replace(' ' || sym || ' ',
                                        ' ' || best_pair || ' ',
                                        ' ' || replace(best_pair, ' ', '') || ' ')) AS sym2
                    FROM sp, best),
              p2 AS (SELECT best_pair, pair, count(*) AS n FROM (
                       SELECT best_pair, unnest(${Shared.wordGramsSql("a", "2")}) AS pair
                       FROM (SELECT best_pair, string_split(sym2, ' ') AS a FROM m))
                     GROUP BY 1, 2)
         SELECT best_pair, pair, n FROM p2 ORDER BY n DESC, pair LIMIT 20""",
    "llm_bpe_train_k" -> bpeTrainOracle(4),
    "llm_bpe_vocab" ->
      s"""WITH ${bpeRoundsCte(4)},
              syms AS (SELECT unnest(string_split(sym, ' ')) AS symbol FROM w4),
              counts AS (SELECT symbol, count(*) AS n FROM syms GROUP BY 1)
         SELECT symbol, CAST(n AS BIGINT) AS n,
                row_number() OVER (ORDER BY n DESC, symbol) AS rank
         FROM counts ORDER BY rank""",
    "llm_bpe_apply" -> bpeApplyOracle,
    "llm_bpe_pair_counts" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
              p AS (SELECT substr(w, CAST(gs AS INT), 2) AS pair
                    FROM w, unnest(generate_series(1, length(w) - 1)) AS u(gs)
                    WHERE length(w) >= 2)
         SELECT pair, count(*) AS n FROM p GROUP BY pair
         ORDER BY n DESC, pair LIMIT 50""",
    // chr(10) keeps the newline out of the SQL literal (JSON-escape safety).
    "llm_sft_format" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
              r AS (SELECT doc_id,
                           '<|user|>' || chr(10) || array_to_string(tk[1:8], ' ')
                           || chr(10) || '<|assistant|>' || chr(10)
                           || array_to_string(tk[9:len(tk)], ' ') AS rendered
                    FROM t WHERE len(tk) > 8)
         SELECT doc_id, md5(rendered) AS sft_md5, length(rendered) AS sft_len
         FROM r ORDER BY doc_id""",
    "llm_vocab_coverage" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
              vocab AS (SELECT w FROM (SELECT w, count(*) AS c FROM toks GROUP BY w
                                       ORDER BY c DESC, w LIMIT 20)),
              j AS (SELECT t.doc_id, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
                    FROM toks t LEFT JOIN vocab v ON t.w = v.w)
         SELECT doc_id, count(*) AS n_tokens,
                CAST(sum(oov) AS BIGINT) AS n_oov,
                10000 * CAST(sum(oov) AS BIGINT) // count(*) AS oov_bp
         FROM j GROUP BY doc_id ORDER BY doc_id""",
    "llm_ngram_novelty" ->
      s"""WITH ${docGramsSql(3)},
              f AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
         SELECT doc_id, count(*) AS n_grams,
                CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                10000 * CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
                  // count(*) AS novelty_bp
         FROM grams JOIN f USING (g)
         GROUP BY doc_id ORDER BY doc_id""",
    "llm_data_card" ->
      s"""WITH q AS (SELECT doc_id, source, lang, text,
                           ${Shared.qualityBp("//")} AS quality_bp
                    FROM (SELECT doc_id, source, lang, text,
                                 ${Shared.qualityFeaturesSql}
                          FROM documents)),
              hc AS (SELECT md5(text) AS h, count(*) AS hc FROM documents GROUP BY 1)
         SELECT source, count(*) AS n_docs,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
                count(DISTINCT lang) AS n_langs,
                CAST(sum(CASE WHEN hc.hc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
                CAST(sum(quality_bp) // count(*) AS BIGINT) AS mean_quality_bp
         FROM q JOIN hc ON md5(q.text) = hc.h
         GROUP BY source ORDER BY source""",
    // The oracle builds the canonical form directly from the source columns
    // (lowercase host, no utm_*, no fragment) — parse_url is thereby checked
    // as the exact inverse of URL construction, the str_url convention.
    "llm_url_canonical" ->
      """WITH r AS (SELECT doc_id, source,
                           'HTTPS://'
                           || CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END
                           || '.Example.COM/d/' || (doc_id % 50)
                           || '?id=' || (doc_id % 25)
                           || CASE WHEN doc_id % 3 = 0 THEN '&utm_source=feed&utm_campaign=x' ELSE '' END
                           || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
                    FROM documents),
              c AS (SELECT url,
                           'https://' || lower(source) || '.example.com/d/' || (doc_id % 50)
                           || '?id=' || (doc_id % 25) AS curl
                    FROM r)
         SELECT curl, count(*) AS n, count(DISTINCT url) AS n_variants
         FROM c GROUP BY curl ORDER BY curl""",
    "llm_doc_freq_prune" ->
      """WITH a AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
              t AS (SELECT doc_id, unnest(range(len(arr))) AS pos, unnest(arr) AS w FROM a),
              df AS (SELECT w, count(DISTINCT doc_id) AS df FROM t GROUP BY w),
              tot AS (SELECT count(*) AS n_docs FROM documents),
              k AS (SELECT t.doc_id, t.pos, t.w
                    FROM t JOIN df ON t.w = df.w, tot
                    WHERE df.df >= 2 AND df.df * 2 <= tot.n_docs),
              ka AS (SELECT doc_id, count(*) AS n_kept,
                            md5(string_agg(w, ' ' ORDER BY pos)) AS kept_md5
                     FROM k GROUP BY doc_id),
              nt AS (SELECT doc_id, count(*) AS n_tok FROM t GROUP BY doc_id)
         SELECT nt.doc_id, nt.n_tok,
                coalesce(ka.n_kept, 0) AS n_kept,
                coalesce(ka.kept_md5, md5('')) AS kept_md5
         FROM nt LEFT JOIN ka ON nt.doc_id = ka.doc_id ORDER BY nt.doc_id""",
    "llm_winsorize" ->
      """WITH st AS (SELECT lang,
                            CAST(quantile_disc(n_chars, 0.1) AS BIGINT) AS p10,
                            CAST(quantile_disc(n_chars, 0.9) AS BIGINT) AS p90
                     FROM documents GROUP BY lang)
         SELECT d.lang, count(*) AS n_docs,
                CAST(sum(d.n_chars) AS BIGINT) AS sum_raw,
                CAST(sum(least(greatest(d.n_chars, st.p10), st.p90)) AS BIGINT) AS sum_clipped,
                CAST(sum(CASE WHEN d.n_chars < st.p10 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_low,
                CAST(sum(CASE WHEN d.n_chars > st.p90 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_high
         FROM documents d JOIN st USING (lang)
         GROUP BY d.lang ORDER BY d.lang""",
    // DuckDB list_transform lambdas carry no element index, so the oracle
    // maps over range(1, n+1) and indexes t[i] (1-based) instead.
    "llm_span_mask" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         SELECT doc_id,
                CAST(len(t) AS BIGINT) AS n_tokens,
                CAST(CASE WHEN len(t) >= 3 THEN (len(t) - 3) // 7 + 1 ELSE 0 END AS BIGINT) AS n_masked,
                md5(array_to_string(
                      list_transform(range(1, len(t) + 1),
                        i -> CASE WHEN i % 7 = 3 THEN '<mask>' ELSE t[i] END),
                      ' ')) AS masked_md5
         FROM t ORDER BY doc_id""",
    "llm_mixture_weights" ->
      """WITH n AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
              g AS (SELECT sum(n_docs) AS total FROM n),
              t(lang, target_bp) AS (VALUES ('en', 4000), ('zh', 2400),
                                            ('de', 1500), ('fr', 1200), ('es', 900))
         SELECT n.lang, CAST(n_docs AS BIGINT) AS n_docs,
                CAST(10000 * n_docs // total AS BIGINT) AS actual_bp,
                CAST(target_bp AS BIGINT) AS target_bp,
                CAST(target_bp * total // n_docs AS BIGINT) AS weight_bp,
                CAST(target_bp * total // 10000 AS BIGINT) AS planned_docs
         FROM n JOIN t ON t.lang = n.lang CROSS JOIN g
         ORDER BY n.lang""",
    // Parallel unnests zip positionally (the udtf_generator idiom); pos is
    // 0-based on both engines (range(len) here, posexplode in Spark).
    "llm_repetition_runs" ->
      """WITH t AS (SELECT doc_id,
                           unnest(range(len(string_split(text, ' ')))) AS pos,
                           unnest(string_split(text, ' ')) AS tok
                    FROM documents),
              r AS (SELECT doc_id, tok, count(*) AS run
                    FROM (SELECT doc_id, tok,
                                 pos - row_number() OVER (PARTITION BY doc_id, tok
                                                          ORDER BY pos) AS grp
                          FROM t)
                    GROUP BY doc_id, tok, grp)
         SELECT doc_id, CAST(max_run AS BIGINT) AS max_run, tok AS run_tok,
                CAST(n_runs_ge2 AS BIGINT) AS n_runs_ge2
         FROM (SELECT doc_id, run, tok,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY run DESC, tok) AS rn,
                      max(run) OVER (PARTITION BY doc_id) AS max_run,
                      sum(CASE WHEN run >= 2 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id) AS n_runs_ge2
               FROM r)
         WHERE rn = 1 ORDER BY doc_id""",
    "llm_split_train_eval" ->
      """WITH k AS (SELECT lang,
                           CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
                                ELSE 'test' END AS split
                    FROM (SELECT lang,
                                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
                          FROM documents)),
              n AS (SELECT lang, split, count(*) AS n_docs FROM k GROUP BY 1, 2)
         SELECT lang, split, n_docs,
                CAST(10000 * n_docs // (sum(n_docs) OVER (PARTITION BY lang)) AS BIGINT) AS share_bp
         FROM n ORDER BY lang, split""",
    // The oracle states the SEMANTICS directly: one global window in
    // curriculum order (the Spark side's two-phase bucket decomposition
    // must agree exactly).
    "llm_curriculum_order" ->
      s"""WITH q AS (SELECT doc_id,
                           n AS n_toks,
                           ${Shared.qualityBp("//")} AS quality_bp
                    FROM (SELECT doc_id,
                                 ${Shared.qualityFeaturesSql}
                          FROM documents)),
              c AS (SELECT doc_id, quality_bp, n_toks,
                           COALESCE(sum(n_toks) OVER (ORDER BY quality_bp, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
                           row_number() OVER (ORDER BY quality_bp, doc_id) AS rnk,
                           sum(n_toks) OVER () AS total_toks
                    FROM q)
         SELECT doc_id, quality_bp, n_toks,
                CAST(rnk AS BIGINT) AS curriculum_rank,
                CAST(cum_before * 4 // total_toks + 1 AS BIGINT) AS phase
         FROM c ORDER BY doc_id""",
    // Exact integer KS: sup over the union of jump points in
    // cross-multiplied counts.
    "llm_source_ks_drift" ->
      """WITH cnt AS (SELECT source, n_chars, count(*) AS c
                      FROM documents GROUP BY 1, 2),
              vals AS (SELECT n_chars,
                              sum(cv) OVER (ORDER BY n_chars) AS cum,
                              sum(cv) OVER () AS n_total
                       FROM (SELECT n_chars, sum(c) AS cv FROM cnt GROUP BY 1)),
              srcs AS (SELECT source, sum(c) AS n_src FROM cnt GROUP BY 1),
              grid AS (SELECT s.source, v.n_chars, v.cum, v.n_total, s.n_src,
                              COALESCE(sum(c.c) OVER (PARTITION BY s.source
                                ORDER BY v.n_chars), 0) AS cum_src
                       FROM vals v CROSS JOIN srcs s
                       LEFT JOIN cnt c ON c.source = s.source AND c.n_chars = v.n_chars),
              diffs AS (SELECT source, n_chars, n_src, n_total,
                               abs(cum_src * n_total - cum * n_src) AS diff
                        FROM grid),
              mx AS (SELECT source, n_chars, n_src, n_total, diff,
                            max(diff) OVER (PARTITION BY source) AS m
                     FROM diffs)
         SELECT source, CAST(max(n_src) AS BIGINT) AS n_docs,
                CAST(min(n_chars) AS BIGINT) AS at_n_chars,
                CAST(10000 * max(m) // (max(n_src) * max(n_total)) AS BIGINT) AS ks_bp
         FROM mx WHERE diff = m GROUP BY source ORDER BY source""",
    // Same per-source micro-floored n^0.7 weight; largest-remainder
    // apportionment in exact integers.
    "llm_sample_temperature" ->
      s"""WITH n AS (SELECT source, count(*) AS n_docs,
                           ${floorMicro("exp(0.7 * ln(CAST(count(*) AS DOUBLE)))")} AS weight_u
                    FROM documents GROUP BY 1),
              t AS (SELECT sum(weight_u) AS tw FROM n),
              q AS (SELECT source, n_docs, weight_u,
                           10000 * weight_u // tw AS base,
                           10000 * weight_u % tw AS rem
                    FROM n CROSS JOIN t),
              l AS (SELECT 10000 - sum(base) AS leftover FROM q),
              r AS (SELECT q.*, l.leftover,
                           row_number() OVER (ORDER BY rem DESC, source) AS rk
                    FROM q CROSS JOIN l)
         SELECT source, n_docs, weight_u,
                CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
         FROM r ORDER BY source""",
  )
}
