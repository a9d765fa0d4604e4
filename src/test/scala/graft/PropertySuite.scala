package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5.3 — algebraic / recall properties on generated data.
  * (Raw ScalaCheck generators with fixed seeds; the scalatest-scalacheck
  * bridge isn't in the offline cache.)
  */
class PropertySuite extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  /** Deterministic sample stream from a Gen. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val keyList = Gen.listOf(Gen.chooseNum(0L, 30L))

  test("TopKBuf == sortBy(score desc, id asc).take(k) for random streams and random partition merges") {
    val entries = Gen.listOf(Gen.zip(Gen.chooseNum(-1.0, 1.0), Gen.chooseNum(0L, 40L)))
    for ((items0, cut) <- samples(entries, 40).zip(samples(Gen.chooseNum(0, 50), 40))) {
      // ids must be unique (vec_id semantics) — scores may tie freely
      val items = items0.zipWithIndex.map { case ((sc, _), i) => (sc, i.toLong) }
      val k = 1 + (items.size % 5)
      val want = items.sortBy { case (sc, id) => (-sc, id) }.take(k)
      val direct = new graft.ops.TopKBuf(k)
      items.foreach { case (sc, id) => direct.insert(sc, id) }
      assert(direct.toPairs.toSeq == want, s"direct insert, k=$k items=$items")
      // arbitrary split + merge must agree (the partial-aggregation path)
      val (l, r) = items.splitAt(cut % (items.size + 1))
      val b1 = new graft.ops.TopKBuf(k); l.foreach { case (sc, id) => b1.insert(sc, id) }
      val b2 = new graft.ops.TopKBuf(k); r.foreach { case (sc, id) => b2.insert(sc, id) }
      assert(b1.mergeFrom(b2).toPairs.toSeq == want, s"merge path, cut=$cut k=$k")
    }
  }

  test("BPE sentinel-space merge == leftmost non-overlap reference (incl. the eaten-sentinel block)") {
    // The merge in ops/LlmCuration.bpeApplyMerge is a literal replace of
    // ' a b ' with ' ab ' on the sentinel-spaced symbol stream. That is NOT
    // plain adjacent-pair merging: a match consumes its trailing space, so
    // the token immediately after a merge can never START the next match
    // ('a b a b' -> 'ab a b', not 'ab ab'). Both engines scan the original
    // left-to-right without rescanning replacements (Java Matcher
    // appendReplacement; DuckDB replace) — this reference pins that exact
    // semantics so a future "fix" to classic greedy pairing can't silently
    // diverge from the DuckDB twin.
    def mergeRef(syms: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer[String]()
      var i = 0
      var blocked = false // position right after a merge: leading space eaten
      while (i < syms.length) {
        if (!blocked && i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2; blocked = true
        } else { out += syms(i); i += 1; blocked = false }
      }
      out.toList
    }
    val alpha = Gen.oneOf("a", "b", "c")
    val word = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, alpha))
    val pair = Gen.zip(alpha, alpha)
    val cases = samples(Gen.zip(word, pair), 120).zipWithIndex.map {
      case ((w, (pa, pb)), i) => (i.toLong, w.mkString(" "), s"$pa $pb")
    }
    val sp = s; import sp.implicits._
    val got = cases.toDF("case_id", "sym", "best_pair")
      .select(col("case_id"),
        // the exact expression bpeApplyMerge ships
        expr("""trim(replace(concat(' ', sym, ' '),
                             concat(' ', best_pair, ' '),
                             concat(' ', replace(best_pair, ' ', ''), ' ')))""")
          .as("merged"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.foreach { case (id, symStr, pairStr) =>
      val Array(pa, pb) = pairStr.split(" ")
      val want = mergeRef(symStr.split(" ").toList, pa, pb).mkString(" ")
      assert(got(id) == want,
        s"case $id: sym='$symStr' pair='$pairStr' got='${got(id)}' want='$want'")
    }
  }

  test("set algebra: |A intersect B| + |A except B| = |distinct A|") {
    for ((la, lb) <- samples(keyList, 6).zip(samples(keyList, 6).reverse)) {
      val sp = s; import sp.implicits._
      val a = la.toDF("k").distinct()
      val b = lb.toDF("k").distinct()
      assert(a.intersect(b).count() + a.except(b).count() == a.count())
    }
  }

  test("union distinct == distinct of unionAll") {
    for ((la, lb) <- samples(keyList, 6).zip(samples(keyList, 6).reverse)) {
      val sp = s; import sp.implicits._
      val a = la.toDF("k"); val b = lb.toDF("k")
      assert(a.union(b).distinct().count() == a.unionAll(b).distinct().count())
    }
  }

  test("window running sum final value == groupBy sum") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val o = Tables.orders(s, TestSpark.sf)
    val viaWindow = o.withColumn("cum", sum("o_totalprice").over(w))
      .groupBy("o_custkey").agg(max("cum").as("total"))
    val viaGroup = o.groupBy("o_custkey").agg(sum("o_totalprice").as("total"))
    val joined = viaWindow.as("w").join(viaGroup.as("g"), "o_custkey")
      .filter(abs(col("w.total") - col("g.total")) > 1e-6)
    assert(joined.isEmpty)
  }

  test("MinHash-LSH banding recall: no true Jaccard>=0.8 pair is missed") {
    // Corpora engineered to contain near-dup pairs: docs are random subsets
    // of a 12-token vocab, so high-overlap pairs are common.
    val vocab = ('a' to 'l').map(_.toString)
    val docGen = Gen.someOf(vocab).suchThat(_.nonEmpty).map(_.toList)
    for (docs <- samples(Gen.listOfN(24, docGen), 5)) {
      val sp = s; import sp.implicits._
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t.distinct) }
        .toDF("doc_id", "toks")
      // exercise the general-vocab LSH path explicitly (the adaptive entry
      // would pick the bitmap kernel for this tiny vocabulary)
      val got = ops.LlmPipeline.lshJaccardPairs(df).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
      val sets = docs.map(_.toSet)
      val expected = (for {
        i <- sets.indices; j <- (i + 1) until sets.length
        inter = (sets(i) & sets(j)).size
        uni = (sets(i) | sets(j)).size
        if inter * 5 >= uni * 4
      } yield (i.toLong, j.toLong)).toSet
      assert(got == expected, s"LSH pairs $got != exact $expected")
    }
  }

  test("moneySum is bit-exact across partition counts (decimal summation)") {
    val li = Tables.lineitem(s, TestSpark.sf)
    def total(parts: Int) = li.repartition(parts)
      .agg(Norm.moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
        Norm.d6Sum(col("l_extendedprice") / (col("l_quantity") + lit(7.0))))
      .collect().head
    val (one, many) = (total(1), total(13))
    assert(one.getLong(0) == many.getLong(0), "moneySum varied with partitioning")
    assert(one.getLong(1) == many.getLong(1), "d6Sum varied with partitioning")
  }

  test("greedy first-fit fold: budget, tightness, and order preservation on random inputs") {
    val docsGen = Gen.nonEmptyListOf(Gen.chooseNum(1L, 700L)) // some docs exceed the budget
    samples(docsGen, 200).foreach { tokens =>
      val input = tokens.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      val out = ops.LlmCuration.greedyFold(input, 512L)
      // order and content preserved one-to-one
      assert(out.map(o => (o._1, o._2)) == input)
      // bin indices are non-decreasing and start at 0
      assert(out.head._3 == 0L && out.sliding(2).forall {
        case Seq(a, b) => b._3 == a._3 || b._3 == a._3 + 1; case _ => true })
      val fills = out.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
      fills.foreach { case (bin, fill) =>
        assert(fill <= 512L || out.count(_._3 == bin) == 1,
          s"multi-doc bin $bin over budget: $fill for input $input") }
      // greedy tightness: each bin's first doc would have overflowed its predecessor
      out.groupBy(_._3).toSeq.sortBy(_._1).sliding(2).foreach {
        case Seq((pb, prev), (_, next)) =>
          assert(fills(pb) + next.head._2 > 512L, s"non-greedy split in $input")
        case _ => }
    }
  }

  test("representative queries are AQE-invariant") {
    val keys = Seq("agg_hash_groupby", "join_multiway", "win_topk_per_group",
      "llm_text_wordcount", "stream_session",
      // round-5 continuation families: decorrelated subqueries, curation,
      // the stream-stream interval join, and the greedy packer's
      // flatMapGroups fold must not depend on AQE's runtime re-planning
      "sub_lateral", "llm_curation_e2e", "stream_join_interval", "llm_pack_greedy",
      // round-6 additions: null-aware anti join, interval range frame, and
      // the hash-bucketed global shuffle must survive AQE re-planning
      "sub_not_in_null", "win_time_range", "llm_global_shuffle",
      "graph_pagerank_fixed", "win_funnel", "util_table_diff", "agg_weighted",
      // this session's additions with shuffle-sensitive shapes: grid-blocked
      // spatial join, degree-pruned triangles, islands window, top-K vocab
      // broadcast, MAD broadcast-back filter, windowed top-k rank
      "join_spatial_grid", "graph_triangles", "win_streak",
      "llm_vocab_coverage", "filter_outlier_mad", "stream_topk_windowed")
    keys.foreach { k =>
      def run(aqe: Boolean): Seq[String] = {
        s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
        try SparkEntry.queries(k)(s, TestSpark.sf).collect().map(_.toString).toSeq
        finally s.conf.set("spark.sql.adaptive.enabled", "true")
      }
      assert(run(true) == run(false), s"$k differs with AQE off")
    }
  }

  test("GraftRangeSource: random filter mixes never change results (pushdown residual correctness)") {
    // r10 verdict #5: pushFilters consumes only `id <cmp> Long` shapes;
    // everything else must fall to the residual path and be re-evaluated
    // by Spark, so ANY mix of filters — pushable, residual, OR-combined,
    // IsNotNull, non-id columns — yields exactly the rows a Scala-side
    // reference computes over the generated relation. Row and columnar
    // readers are both swept (the property is mode-independent).
    import org.apache.spark.sql.Column
    val rows = 500L
    val tags = Seq("a", "b", "c", "e", "z") // incl. a value not in the domain
    case class P(cond: Column, ref: ((Long, Long, Long, String)) => Boolean)
    val idVal = Gen.chooseNum(-10L, 510L) // spans both table edges
    val atom: Gen[P] = Gen.oneOf(
      idVal.map(v => P(col("id") > v, t => t._1 > v)),
      idVal.map(v => P(col("id") >= v, t => t._1 >= v)),
      idVal.map(v => P(col("id") < v, t => t._1 < v)),
      idVal.map(v => P(col("id") <= v, t => t._1 <= v)),
      idVal.map(v => P(col("id") === v, t => t._1 == v)),
      // Int literal: analysis canonicalizes it to Long before the source
      // sees it — the `_: Long` guard must still push it.
      Gen.chooseNum(-10, 510).map(v => P(col("id") === v, t => t._1 == v.toLong)),
      Gen.chooseNum(0L, 99L).map(v => P(col("bucket") > v, t => t._2 > v)),
      Gen.chooseNum(0L, 99L).map(v => P(col("bucket") === v, t => t._2 == v)),
      Gen.chooseNum(0L, 1000002L).map(v => P(col("val") <= v, t => t._3 <= v)),
      Gen.oneOf(tags).map(tg => P(col("tag") === tg, t => t._4 == tg)),
      Gen.oneOf(tags).map(tg => P(col("tag") =!= tg, t => t._4 != tg)),
      Gen.const(P(col("id").isNotNull, _ => true)),
      Gen.const(P(col("tag").isNotNull, _ => true)))
    // Disjunctions arrive at the source as Or filters — never pushable
    // here, always residual.
    val pred: Gen[P] = Gen.frequency(
      3 -> atom,
      1 -> Gen.zip(atom, atom).map { case (a, b) =>
        P(a.cond || b.cond, t => a.ref(t) || b.ref(t)) })
    val predSet: Gen[List[P]] = Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, pred))
    val truth = (0L until rows).map(i =>
      (i, i % 100, (i * i) % 1000003, Seq("a", "b", "c", "d", "e")((i % 5).toInt)))
    for (columnar <- Seq(false, true); preds <- samples(predSet, 25)) {
      val base = s.read.format("graft.sources.GraftRangeSource")
        .option("rows", rows).option("slices", 3).option("columnar", columnar)
        .load()
      val df = preds.foldLeft(base)((acc, p) => acc.filter(p.cond))
      val got = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).sorted
      val want = truth.filter(t => preds.forall(_.ref(t))).sorted
      assert(got.toSeq == want.toSeq,
        s"columnar=$columnar filters=${preds.map(_.cond).mkString(" AND ")}: " +
          s"got ${got.length} rows, want ${want.length}")
    }
  }

  test("GraftRangeSource: random OFFSET/LIMIT/TopN pages obey the range() reference (r11 pushdown)") {
    // The pushed row-count operators are span arithmetic; their contract:
    //  - OFFSET is fully consumed (Spark drops the node), so an
    //    offset-only read is EXACTLY the ids ≥ lo+o.
    //  - LIMIT is partial: Spark keeps GlobalLimit, so the count is
    //    exactly min(l, remaining) and every id is from the filtered span
    //    past the offset (which n ids is LIMIT's freedom, not a bug).
    //  - TopN is the exact k extreme ids (id is tie-free).
    val rows = 400L
    val bounds = for {
      lo <- Gen.chooseNum(0L, 410L); span <- Gen.chooseNum(0L, 410L)
    } yield (lo, math.min(rows, lo + span))
    for ((lo, hi) <- samples(bounds, 8)) {
      val span = math.max(0L, hi - lo)
      def base = s.read.format("graft.sources.GraftRangeSource")
        .option("rows", rows).option("slices", 3).load()
        .filter(col("id") >= lo && col("id") < hi)
      for (o <- Seq(0, 7, 1000); l <- Seq(0, 13, 1000)) {
        val avail = math.max(0L, span - o)
        // offset-only: exact suffix of the span
        val offIds = base.offset(o).collect().map(_.getLong(0)).sorted.toSeq
        assert(offIds == (lo + o).min(hi).until(hi),
          s"[$lo,$hi) offset $o: got ${offIds.take(5)}…")
        // offset+limit: exact count, ids inside the suffix, no duplicates
        val page = base.offset(o).limit(l).collect().map(_.getLong(0)).toSeq
        assert(page.length == math.min(l.toLong, avail),
          s"[$lo,$hi) offset $o limit $l: ${page.length} rows")
        assert(page.distinct.length == page.length &&
          page.forall(id => id >= lo + o && id < hi))
        // topN both directions: the exact extreme set, in order
        val top = base.orderBy(col("id").desc).limit(l)
          .collect().map(_.getLong(0)).toSeq
        assert(top == (math.max(lo, hi - l) until hi).reverse.map(identity),
          s"[$lo,$hi) top $l desc: got ${top.take(5)}…")
        val bot = base.orderBy(col("id")).limit(l)
          .collect().map(_.getLong(0)).toSeq
        assert(bot == (lo until math.min(hi, lo + l)),
          s"[$lo,$hi) top $l asc: got ${bot.take(5)}…")
      }
    }
  }

  test("SimHash: shared-token documents get closer signatures than disjoint ones") {
    // Run the declared simhash construction over a synthetic corpus: doc 0/1
    // share 9 of 10 tokens, doc 2 is disjoint; hamming(0,1) < hamming(0,2).
    val sp = s; import sp.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("graft_simhash_prop")
    // same construction as llm_dedup_simhash, via SQL against the temp view
    def nib(p: Int) = s"(instr('0123456789abcdef', substr(md5(tok), $p, 1)) - 1)"
    val sums = (for (p <- 1 to 16; b <- 0 to 3) yield
      s"sum(CASE WHEN (${nib(p)} div ${1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS s_${p}_$b").mkString(", ")
    val bits = (for (p <- 1 to 16; b <- 0 to 3) yield
      s"CASE WHEN s_${p}_$b > 0 THEN '1' ELSE '0' END").mkString("concat(", ", ", ")")
    val sigs = s.sql(
      s"""SELECT doc_id, $bits AS sig FROM (
            SELECT doc_id, $sums FROM (
              SELECT doc_id, explode(array_distinct(split(text, ' '))) AS tok
              FROM graft_simhash_prop) GROUP BY doc_id)""")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def hamming(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(hamming(sigs(0L), sigs(1L)) < hamming(sigs(0L), sigs(2L)),
      s"near-identical docs not closer: ${sigs.toSeq.sortBy(_._1)}")
  }

  test("cosine similarity of the declared fold stays in [-1, 1]") {
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-5.0f, 5.0f))
      .suchThat(_.exists(_ != 0.0f))
    for ((va, vb) <- samples(vecGen, 8).zip(samples(vecGen, 8).reverse)) {
      val sp = s; import sp.implicits._
      val df = Seq((va, vb)).toDF("fa", "fb")
        .select(expr("transform(fa, x -> CAST(x AS DOUBLE))").as("va"),
          expr("transform(fb, x -> CAST(x AS DOUBLE))").as("vb"))
        .select((expr("aggregate(zip_with(va, vb, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)") /
          (expr("sqrt(aggregate(va, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x))") *
            expr("sqrt(aggregate(vb, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x))"))).as("cos"))
      val c = df.collect().head.getDouble(0)
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
    }
  }

  test("all three exact Jaccard strategies agree: bitmap == LSH == prefix-filter") {
    import org.apache.spark.sql.functions._
    val toks = Tables.documents(s, "/root/testdata/sf0.001")
      .select(col("doc_id"), sort_array(array_distinct(split(col("text"), " "))).as("toks"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("jaccard_bp"))).toSet
    val bitmap = pairs(ops.LlmPipeline.nearDupPairs(toks)) // 31-word vocab -> bitmap path
    val lsh = pairs(ops.LlmPipeline.lshJaccardPairs(toks))
    val prefix = pairs(ops.LlmPipeline.prefixJaccardPairs(toks, 4, 5))
    assert(bitmap.nonEmpty, "fixture corpus is known to contain near-dups")
    assert(bitmap == lsh, s"bitmap vs LSH diverged: ${(bitmap diff lsh) ++ (lsh diff bitmap)}")
    assert(bitmap == prefix, s"bitmap vs prefix diverged: ${(bitmap diff prefix) ++ (prefix diff bitmap)}")
    // and at the declared llm_dedup_prefix_jaccard threshold (9/10), where
    // prefixes are shortest and the pruner is most aggressive
    val bitmap910 = pairs(ops.LlmPipeline.nearDupPairs(toks, num = 9, den = 10))
    val prefix910 = pairs(ops.LlmPipeline.prefixJaccardPairs(toks, 9, 10))
    assert(bitmap910 == prefix910,
      s"9/10 bitmap vs prefix diverged: ${(bitmap910 diff prefix910) ++ (prefix910 diff bitmap910)}")
  }

  test("charGrams emits strictly increasing UTF-8 order, incl. non-BMP codepoints") {
    import org.apache.spark.unsafe.types.UTF8String
    // U+FFFD sorts ABOVE U+1F600 in UTF-16 code-unit order but BELOW it in
    // codepoint/UTF-8 order — exactly the case java's String order gets
    // wrong and IntersectSize's strictly-increasing probe checks.
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a😀b�c😁d", // 😀, U+FFFD, 😁 interleaved
      "aaaa", "ab", "")
    texts.foreach { t =>
      val g = ops.LlmExtras.charGrams(t)
      assert(g.distinct == g, s"duplicate grams for '$t'")
      g.sliding(2).foreach {
        case Seq(x, y) =>
          assert(UTF8String.fromString(x).compareTo(UTF8String.fromString(y)) < 0,
            s"'$x' !< '$y' in UTF-8 order for text '$t'")
        case _ => ()
      }
      // same gram SET as the naive codepoint-window spec
      val cps = t.codePoints.toArray
      val expected = cps.sliding(3).filter(_.length == 3)
        .map(w => new String(w, 0, 3)).toSet
      assert(g.toSet == expected, s"gram set mismatch for '$t'")
    }
  }

  test("nearDupPairs routes a >4096-token vocabulary to LSH and stays exact") {
    val sp = s; import sp.implicits._
    // 35 base docs of 121 fresh tokens each (vocab 4235 > 4096 forces the
    // MinHash-LSH route at the nearDupPairs branch point) + a near-copy of
    // each missing its last 12 tokens (J = 109/121 ≈ 0.90 >= 0.8); token
    // namespaces are disjoint across bases, so those ARE all true pairs.
    val docs = (0 until 35).flatMap { i =>
      val toks = (0 until 121).map(t => f"tok${i * 121 + t}%05d")
      Seq((2L * i, toks.sorted), (2L * i + 1, toks.dropRight(12).sorted))
    }
    val vocab = docs.flatMap(_._2).distinct.size
    assert(vocab > 4096, s"test corpus vocab $vocab must exceed the bitmap bound")
    val got = ops.LlmPipeline.nearDupPairs(docs.toDF("doc_id", "toks")).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("jaccard_bp"))).toSet
    val expected = (0 until 35)
      .map(i => (2L * i, 2L * i + 1, 109L * 10000 / 121)).toSet
    assert(got == expected,
      s"LSH-route pairs diverged: ${(got diff expected) ++ (expected diff got)}")
  }

  test("connectedComponents == driver-side union-find on random graphs") {
    val edgeGen = for {
      n <- Gen.chooseNum(2, 36)
      m <- Gen.chooseNum(0, n * 2)
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n - 1L); b <- Gen.chooseNum(0L, n - 1L) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield (n, es.distinct)
    for ((n, es) <- samples(edgeGen, 8)) {
      val sp = s; import sp.implicits._
      // reference: plain union-find with min-id representatives
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
      }
      val expected = (0 until n.toInt).map(i => i.toLong -> find(i).toLong).toMap
      val nodes = (0L until n.toLong).toDF("doc_id")
      val pairs = es.toDF("doc_a", "doc_b")
      val got = Scale.connectedComponents(nodes, pairs)
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"n=$n edges=$es:\n got=$got\n exp=$expected")
    }
  }

  test("blockAllPairs visits every unordered pair exactly once — ScalaCheck over (n, blocks, signed sparse ids)") {
    // the r8 verdict asked for the invariant argued in SimKernel's scaladoc
    // (every unordered pair meets in EXACTLY one cogroup) to be property-
    // tested, and the r8 advice flagged negative ids — the generator covers
    // n ∈ [1,60], blocks ∈ [1,24], and id domains spanning zero.
    val sp = s; import sp.implicits._
    val caseGen = for {
      n <- Gen.chooseNum(1, 60)
      blocks <- Gen.chooseNum(1, 24)
      offset <- Gen.chooseNum(-1000L, 1000L)
      stride <- Gen.chooseNum(1L, 97L)
    } yield (n, blocks, offset, stride)
    for ((n, blocks, offset, stride) <- samples(caseGen, 12)) {
      val ids = (0 until n).map(i => offset + i * stride)
      val ds = sp.createDataset(ids.zipWithIndex)
      val pairs = ops.SimKernel.blockAllPairs(ds, blocks)(_._1) { (a, b) =>
        Some((math.min(a._1, b._1), math.max(a._1, b._1)))
      }.collect()
      val want = (for { i <- 0 until n; j <- i + 1 until n } yield
        (math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))).toSet
      assert(pairs.length == n * (n - 1) / 2,
        s"n=$n blocks=$blocks offset=$offset stride=$stride: ${pairs.length} pairs")
      assert(pairs.toSet == want,
        s"n=$n blocks=$blocks offset=$offset stride=$stride: pair set mismatch")
    }
  }

  test("knnExact matches local brute force on negative/sparse ids (floorMod blocking)") {
    val sp = s; import sp.implicits._
    val rnd = new scala.util.Random(7)
    val ids = Seq(-19L, -8L, -1L, 0L, 3L, 42L, 1001L, -500L)
    val vecs = ids.map(id => (id, Array.fill(6)(rnd.nextGaussian())))
      .map { case (id, v) => (id, v, math.sqrt(v.map(x => x * x).sum)) }
    val df = sp.createDataset(vecs).toDF("vec_id", "v", "nrm")
    val got = ops.SimKernel.knnExact(sp, df, 2, blocks = 3)
      .select("src", "dst", "rank").as[(Long, Long, Int)].collect().toSet
    def cos(a: (Long, Array[Double], Double), b: (Long, Array[Double], Double)): Double = {
      var acc = 0.0; var i = 0
      while (i < a._2.length) { acc += a._2(i) * b._2(i); i += 1 }
      acc / (a._3 * b._3)
    }
    val want = vecs.flatMap { a =>
      vecs.filter(_._1 != a._1)
        .map(b => (b._1, cos(a, b)))
        .sortBy { case (id, c) => (-c, id) }.take(2)
        .zipWithIndex.map { case ((dst, _), r) => (a._1, dst, r + 1) }
    }.toSet
    assert(got == want, s"got=$got\nwant=$want")
  }

  test("BroadcastRangeJoinExec == brute-force stabbing on random intervals (empty, duplicate, boundary)") {
    val sp = s; import sp.implicits._
    // The exec's bounded backward walk stops at lo ≤ p − maxLen; the
    // boundary class that kills naive implementations is lo == p − maxLen
    // with an interval of exactly maxLen (half-open: must NOT match) next
    // to duplicates and empty intervals. Generate exactly that zoo.
    val intervalGen = Gen.listOf(Gen.zip(Gen.chooseNum(-20L, 20L), Gen.chooseNum(0L, 12L)))
    val pointGen = Gen.listOf(Gen.chooseNum(-25L, 30L))
    for (((ivs0, pts0), round) <- samples(Gen.zip(intervalGen, pointGen), 25).zipWithIndex) {
      val ivs = ivs0.zipWithIndex.map { case ((lo, len), i) => (i.toLong, lo, lo + len) }
      val pts = pts0.zipWithIndex.map { case (p, i) => (1000L + i, p) }
      if (ivs.nonEmpty && pts.nonEmpty) {
        val build = sp.createDataset(ivs).toDF("iv_id", "lo", "hi")
        val probe = sp.createDataset(pts).toDF("p_id", "p")
        val df = graft.plans.GraftRangeJoin(probe, build, "p", "lo", "hi")
        assert(df.queryExecution.executedPlan.toString.contains("BroadcastRangeJoin"))
        val got = df.select("p_id", "iv_id").as[(Long, Long)].collect().toSet
        val want = (for {
          (pid, p) <- pts; (iid, lo, hi) <- ivs if lo <= p && p < hi
        } yield (pid, iid)).toSet
        assert(got == want, s"round $round: got=$got want=$want ivs=$ivs pts=$pts")
      }
    }
  }

  test("BroadcastRangeJoinExec: NULL probe keys and NULL interval bounds match nothing (SQL semantics)") {
    val sp = s; import sp.implicits._
    // r9 ADVICE (medium): the old exec coerced NULL→0L, silently matching
    // every interval containing 0. The contract is the BNLJ lowering's:
    // any comparison with NULL is false, so the row joins nothing. Nulls
    // are injected in all three columns, including intervals that WOULD
    // contain 0 (the exact false-match class).
    val ivGen = Gen.listOf(Gen.zip(
      Gen.option(Gen.chooseNum(-20L, 20L)), Gen.chooseNum(0L, 12L), Gen.prob(0.3)))
    val ptGen = Gen.listOf(Gen.option(Gen.chooseNum(-25L, 30L)))
    for (((ivs0, pts0), round) <- samples(Gen.zip(ivGen, ptGen), 20).zipWithIndex) {
      val ivs = ivs0.zipWithIndex.map { case ((lo, len, hiNull), i) =>
        (i.toLong, lo.map(java.lang.Long.valueOf).orNull,
          if (hiNull) null else lo.map(l => java.lang.Long.valueOf(l + len)).orNull)
      }
      val pts = pts0.zipWithIndex.map { case (p, i) =>
        (1000L + i, p.map(java.lang.Long.valueOf).orNull)
      }
      if (ivs.nonEmpty && pts.nonEmpty) {
        val build = sp.createDataFrame(ivs).toDF("iv_id", "lo", "hi")
        val probe = sp.createDataFrame(pts).toDF("p_id", "p")
        val df = graft.plans.GraftRangeJoin(probe, build, "p", "lo", "hi")
        val got = df.select("p_id", "iv_id").as[(Long, Long)].collect().toSet
        val want = (for {
          (pid, p) <- pts if p != null
          (iid, lo, hi) <- ivs if lo != null && hi != null &&
            lo.longValue() <= p.longValue() && p.longValue() < hi.longValue()
        } yield (pid, iid)).toSet
        assert(got == want, s"round $round: got=$got want=$want ivs=$ivs pts=$pts")
      }
    }
  }

  test("BroadcastRangeJoinExec: build side plans through a real BroadcastExchange") {
    val sp = s; import sp.implicits._
    val build = sp.createDataset(Seq((1L, 0L, 10L), (2L, 5L, 15L))).toDF("iv_id", "lo", "hi")
    val probe = sp.createDataset(Seq((100L, 7L), (101L, 20L))).toDF("p_id", "p")
    val df = graft.plans.GraftRangeJoin(probe, build, "p", "lo", "hi")
    assert(df.select("p_id", "iv_id").as[(Long, Long)].collect().toSet ==
      Set((100L, 1L), (100L, 2L)))
    // VERDICT r9 #3: the build side must ride the engine's broadcast
    // machinery (memory accounting, 512M-row/8GB caps, exchange reuse,
    // AQE stage participation) — not an exec-side collect+sc.broadcast.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastRangeJoin"), s"custom exec missing:\n$plan")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastQueryStage"),
      s"build side not planned through BroadcastExchange:\n$plan")
  }

  test("bucketedPrefix == the single-window exclusive running sum (groups, signed keys, one-row buckets, two values)") {
    import org.apache.spark.sql.expressions.Window
    val sp = s; import sp.implicits._
    val rows = Gen.listOf(Gen.zip(Gen.chooseNum(0L, 2L), Gen.chooseNum(-40L, 40L),
      Gen.chooseNum(0L, 9L), Gen.chooseNum(-5L, 5L)))
    // width 1: one-row buckets; 7: `div` truncation puts -6..6 in bucket 0;
    // 100: one bucket for everything
    val widths = samples(Gen.oneOf(1L, 7L, 100L), 12)
    for ((raw, width) <- samples(rows, 12).zip(widths); grp <- Seq(Nil, Seq("g"))) {
      // the order key k is unique within a group
      val df = raw.distinctBy(r => if (grp.isEmpty) r._2 else (r._1, r._2)).toDF("g", "k", "a", "b")
      val got = graft.ops.Shared.bucketedPrefix(df, grp, expr(s"k div $width"), Seq(col("k")),
          Seq(col("a") -> "a_before", col("b") -> "b_before"), total = Some("a_total"))
        .select("g", "k", "a_before", "b_before", "a_total")
      val group = Window.partitionBy(grp.map(col): _*)
      val earlier = group.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
      val want = df.select(col("g"), col("k"),
        coalesce(sum("a").over(earlier), lit(0L)).as("a_before"),
        coalesce(sum("b").over(earlier), lit(0L)).as("b_before"),
        sum("a").over(group).as("a_total"))
      val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1))
      assert(got.collect().sortBy(key).toSeq == want.collect().sortBy(key).toSeq,
        s"width=$width grp=$grp rows=$raw")
    }
  }

  test("bucketedPdiscMulti == percentile_disc when two cuts cross in the same bucket") {
    val sp = s; import sp.implicits._
    // values below 100000 share bucket 0 and carry almost all the weight;
    // two light values in far buckets keep the cuts from reaching them
    val hist = ((1 to 400).map(i => (s"g${i % 3}", (i * 37 % 211).toLong * 401L, (i % 5 + 1).toLong)) ++
      Seq(("g0", 550000L, 1L), ("g1", -250000L, 1L), ("g2", 900000L, 2L))).toDF("g", "v", "w")
    val got = graft.ops.Shared.bucketedPdiscMulti(hist, "g", "v", "w",
      Seq((1, 4, "p25"), (1, 2, "p50")))
    val want = hist.select(col("g"), col("v"), explode(expr("sequence(1, w)")))
      .groupBy("g")
      .agg(expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY v) AS BIGINT)").as("p25"),
        expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS BIGINT)").as("p50"))
    val rows = got.select("g", "p25", "p50").collect().sortBy(_.getString(0)).toSeq
    assert(rows.size == 3 && rows.forall(r => r.getLong(1) / 100000 == 0 && r.getLong(2) / 100000 == 0),
      s"both cuts must cross in bucket 0: $rows")
    assert(rows == want.collect().sortBy(_.getString(0)).toSeq)
  }

  test("Shared.eventDay == java.time whole days since the event epoch, on either side of midnight") {
    import java.time.{LocalDate, LocalDateTime}
    import java.time.temporal.ChronoUnit
    val sp = s; import sp.implicits._
    val epoch = LocalDate.parse(graft.ops.Shared.EventEpoch)
    // the last microsecond of a day and the first of the next, around the
    // epoch, a leap day and a year end
    val edges = Seq("2023-12-31", "2024-01-01", "2024-02-28", "2024-02-29", "2024-12-31")
      .flatMap { d =>
        val day = LocalDate.parse(d)
        Seq(day.atTime(23, 59, 59, 999999000), day.plusDays(1).atStartOfDay())
      }
    val micros = Gen.chooseNum(-40L * 86400000000L, 800L * 86400000000L)
    val random = samples(micros, 200).map(us => epoch.atStartOfDay().plus(us, ChronoUnit.MICROS))
    val ts: Seq[LocalDateTime] = edges ++ random
    val got = ts.zipWithIndex.toDF("ts", "i")
      .select(col("i"), expr(graft.ops.Shared.eventDay).cast("long"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    ts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i) == ChronoUnit.DAYS.between(epoch, t.toLocalDate), s"ts=$t")
    }
  }

  test("nearestCentroids: identical centroids tie to the lower cid, and top-2 keeps both in cid order") {
    val sp = s; import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_centroids").toString
    val vec = Gen.listOfN(6, Gen.chooseNum(-1.0f, 1.0f)).map(_.toArray)
    val twin = Array(0.5f, -0.25f, 1.0f, 0.0f, 0.75f, -1.0f)
    // centroids: vec_id 0 and 1 carry the same vector, 2 another one
    val vs = Seq(twin, twin, Array(-1.0f, 0.5f, 0.25f, 1.0f, -0.5f, 0.0f)) ++ samples(vec, 60)
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0L) }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    // the same index-order double fold as graft_dot
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, j) => acc + a(j).toDouble * b(j).toDouble)
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    for (top <- Seq(1, 2)) {
      val got = graft.ops.LlmExtras.nearestCentroids(s, dir, graft.ops.Shared.vecs(s, dir), 3, top)
        .select("vec_id", "cid").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (id, r) => id -> r.map(_._2).sorted.toSeq }
      val want = vs.zipWithIndex.map { case (v, i) =>
        i.toLong -> (0 until 3).sortBy(c => (-cos(v, vs(c)), c)).take(top).map(_.toLong).sorted
      }.toMap
      assert(got == want, s"top=$top")
      if (top == 1) assert(!got.values.exists(_ == Seq(1L)), "a tie must go to the lower cid")
      else assert(got.values.count(_ == Seq(0L, 1L)) > 0 && !got.values.exists(_ == Seq(1L, 2L)),
        "tied centroids are kept together, the lower cid first")
    }
  }

  test("Norm.floorMicro / floorBp == math.floor(k·x).toLong: floored before the cast, which DuckDB rounds") {
    // A bare CAST(1e6·x AS BIGINT) truncates in Spark but rounds in DuckDB,
    // so the builders floor first; on Spark they must equal a plain floor
    // at every sign, on either side of each unit, and at the BIGINT range
    // the fixtures reach.
    val sp = s; import sp.implicits._
    val edges = Seq(-0.5e-6, -1.5e-6, math.log(0.5), 0.0, -0.0, 1e9, -1e9) ++
      Seq(1e-6, 3e-6, -2e-6, 1e-4, -7e-4, 0.25, -0.25).flatMap(x => Seq(math.nextUp(x), math.nextDown(x)))
    val xs = edges ++ samples(Gen.chooseNum(-1e3, 1e3), 200)
    val got = xs.zipWithIndex.toDF("x", "i")
      .select(col("i"), expr(Norm.floorMicro("x")), expr(Norm.floorBp("x")))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    xs.zipWithIndex.foreach { case (x, i) =>
      assert(got(i) == (math.floor(1000000 * x).toLong, math.floor(10000 * x).toLong), s"x=$x")
    }
  }

  test("Shared.wordGrams == toks.sliding(n) complete windows: total on arrays shorter than n, as its DuckDB twin") {
    // The contract both wordGrams and wordGramsSql keep: max(L − n + 1, 0)
    // grams, so an array shorter than n yields none, never a short gram.
    val sp = s; import sp.implicits._
    val tok = Gen.oneOf("a", "b", "", "cc")
    for (n <- Seq(2, 3, 5, 8)) {
      val arrays = samples(Gen.chooseNum(0, n + 1).flatMap(Gen.listOfN(_, tok)), 60) ++
        (0 to n + 1).map(l => List.fill(l)("a"))
      val got = arrays.zipWithIndex.toDF("t", "i")
        .select(col("i"), graft.ops.Shared.wordGrams("t", n))
        .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
      arrays.zipWithIndex.foreach { case (t, i) =>
        val want = t.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq
        assert(got(i) == want, s"n=$n toks=$t")
      }
    }
  }
}
