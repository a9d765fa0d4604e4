package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Shuffle partitions default to core count (right for the sf0.1 driver
    // map), overridable for scale legs: SCALE_TUNING's rule is partitions ≈
    // shuffledBytes/200 MB, and AQE only COALESCES below this number, never
    // splits above it (outside skew-join), so a 24-partition sf100 leg
    // under-partitions its corpus-sized shuffles into spill knees (r12
    // fourth-decade finding: agg_product/join_multiway). The driver's runs
    // leave this unset — behavior there is unchanged.
    val shufflePartitions =
      sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").fold(cpus)(_.toInt)
    // r14: the r13 bench-only minPartitionSize=128k conf is REVERTED to the
    // Spark default (r13 VERDICT #2/#3: it shipped citing a measurement that
    // was never written). The A/B is now written down (OPTIMIZATION_r14.md
    // "minPartitionSize"): full 408-op map at CPUS=32, 128k 249.1 s vs
    // default 248.3 s — total flat, per-query geomean 1.018 AGAINST 128k,
    // and the heaviest percentile-family ops ran 0.2–1.5 s FASTER on the
    // default (filter_outlier_mad 5.25→3.71: the smaller floor fragmented
    // their many small post-shuffle stages into task-scheduling overhead).
    // No bench-only perf conf remains.
    val spark = GraftSession.local(cpus, shufflePartitions)
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JVM/codegen/parquet-reader init lands here, not on
    // whichever query happens to run first.
    spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().count()
    // Optional comma-separated key filter for targeted timing while
    // iterating (driver runs with it unset = full suite).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // First-class EXCLUSIONS (r11 verdict #2): scale legs skip the
    // adjudicated quadratic-by-contract ops; the skipped keys are
    // recorded in the artifact's own `excluded` field so the artifact —
    // not prose — says what was left out and why the total is smaller.
    val excluded = sys.env.get("SPARK_GRAFT_EXCLUDE").map(_.split(",").toSet).getOrElse(Set.empty[String])
    val selected = only.fold(SparkEntry.queries)(ks => SparkEntry.queries.filter(kv => ks(kv._1)))
      .filter(kv => !excluded(kv._1))
      .toSeq
    // Memo-honest accounting (r9 verdict #2): build every process-lifetime
    // memo HERE, deterministically, with its cost reported as its own
    // `memo:<name>` line — never smeared into whichever consumer op runs
    // first. Full-suite runs only; a targeted spot run pays (and shows)
    // its own op's true cold cost instead.
    val memoTimes: Seq[(String, Double)] =
      if (only.isEmpty || sys.env.get("SPARK_GRAFT_FORCE_MEMOS").contains("1")) {
        val ms = graft.ops.Shared.forceMemos(spark, sfDir)
        ms.foreach { case (n, t) =>
          System.err.println(f"[bench] memo:$n built in $t%.2f s (untimed, reported separately)")
        }
        ms
      } else Nil
    // Two full passes by default: per-query MIN is the reported number, so
    // one-off JIT/GC/scheduler outliers (r4 showed ±1 s swings on queries
    // nothing touched) don't read as plan regressions. Pass totals are
    // emitted too, so cross-pass variance itself is visible in the log.
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(2)
    // One UNTIMED warmup pass before the timed ones (r7 verdict #4): the
    // first execution of each query pays one-time costs that are not the
    // query — fixture-construction writes (scan/sink ops build their
    // tmp-dir inputs on first run), memo checkpoints (Shared.vecs/
    // wordPairs), and JIT/codegen compilation. r7's driver artifact showed
    // pass1 489.9 s vs pass2 286.7 s from exactly this; with the warmup
    // both timed passes see steady state and their totals agree to ~15%.
    // SPARK_GRAFT_WARMUP=0 skips it for quick local iteration.
    val warmupPasses = sys.env.get("SPARK_GRAFT_WARMUP").map(_.toInt).getOrElse(1)
    // A query that crashes must not masquerade as a fast query (r5: 62 ops
    // crashed in ~60 ms each and the silent catch made the bench look
    // healthy). Record the failure and report it in the JSON tail so the
    // error count rides along with the timing numbers.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Ops that crashed ONLY during the adaptive re-time pass (cleared from
    // `errors` because two clean timed samples exist) — reported in the
    // JSON tail so the event survives into artifact-based regression
    // checks (r11 advice).
    val retimeFailures = scala.collection.mutable.LinkedHashMap[String, Boolean]()
    def runPass(ops: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)])
        : Seq[(String, Double)] = ops.map { case (name, fn) =>
      val t0 = System.nanoTime()
      // noop sink materializes every output column (count() would let
      // Catalyst prune the projection and under-measure).
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch { case e: Throwable =>
        // SPARK_GRAFT_STRICT=1 (local sweeps): rethrow, don't tally.
        if (sys.env.get("SPARK_GRAFT_STRICT").contains("1")) throw e
        errors.getOrElseUpdate(name, e.toString.take(200))
        System.err.println(s"[bench] $name FAILED: ${e.toString.take(500)}")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    // Contention-proofing (r10 verdict #1): each pass runs the inventory in
    // a DIFFERENT deterministic order, so a heavy neighbor can't co-schedule
    // against the same op in every pass and min-of-passes rejects the
    // contention (the r10 driver artifact carried a 2.68× phantom on
    // win_rolling_corr because both passes ran the same fixed order).
    // Deterministic seeds keep runs reproducible.
    def shuffledOps(seed: Int) = new scala.util.Random(1000003L * seed + 42).shuffle(selected)
    def qJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    (1 to warmupPasses).foreach { i =>
      val t0 = System.nanoTime()
      runPass(selected)
      System.err.println(f"[bench] warmup pass $i done in ${(System.nanoTime() - t0) / 1e9}%.1f s (untimed)")
    }
    // Warmup-only failures (e.g. a transient fixture-write race) must not be
    // reported as bench failures — the report covers the TIMED passes (r8
    // advice). They still hit stderr above for visibility.
    if (errors.nonEmpty)
      System.err.println(s"[bench] ${errors.size} warmup-pass failure(s) cleared before timed passes: ${errors.keys.mkString(",")}")
    errors.clear()
    val allPasses = (1 to passes).map(i => runPass(shuffledOps(i)))
    allPasses.zipWithIndex.foreach { case (rs, i) =>
      println(s"""{"pass":${i + 1},"queries":${qJson(rs)},"sf":"$sfDir"}""")
    }
    // One Map per pass, built once (the filters below all look up by name).
    val passMaps = allPasses.map(_.toMap)
    // Adaptive re-time (r10 verdict #1, second leg): an op whose timed
    // passes disagree by >25% was plausibly co-scheduled against a heavy
    // neighbor in its FASTER pass too — give it one more sample and keep
    // the min of all three. Floor at 0.15 s: below that, 25% is scheduler
    // jitter on a number too small to matter for any total or regression
    // check, and re-timing the whole tail would cost a third full pass.
    val spreadCut = sys.env.get("SPARK_GRAFT_RETIME_SPREAD").map(_.toDouble).getOrElse(0.25)
    val unstable =
      if (passes < 2) Seq.empty
      else selected.filter { case (name, _) =>
        val ts = passMaps.map(_.apply(name))
        !errors.contains(name) && ts.min >= 0.15 && ts.max > ts.min * (1 + spreadCut)
      }
    // Mid-band hardening (r11 verdict #7): an op co-scheduled against the
    // SAME heavy neighbor in both shuffled passes shows no spread at all —
    // the spread gate can't see it, and the r11 driver map carried a 2.25×
    // phantom on util_checksum_shards exactly this way. Every op whose
    // current min sits in the 0.5–3 s band gets one unconditional third
    // sample (a fresh shuffled order makes a third collision unlikely);
    // below 0.5 s a phantom can't move any total, above 3 s the relative
    // spread gate has the resolution to catch it. ~200 ops ≈ +190 s on a
    // full run — the price of a driver artifact that matches the tree.
    // SPARK_GRAFT_BAND_RETIME=0 skips it for quick local iteration.
    val bandRetime =
      if (passes < 2 || sys.env.get("SPARK_GRAFT_BAND_RETIME").contains("0")) Seq.empty
      else selected.filter { case (name, _) =>
        val mn = passMaps.map(_.apply(name)).min
        !errors.contains(name) && mn >= 0.5 && mn <= 3.0
      }
    val toRetime = (unstable ++ bandRetime).distinctBy(_._1)
    val retimed: Seq[(String, Double)] =
      if (toRetime.isEmpty) Nil
      else {
        System.err.println(s"[bench] adaptive re-time of ${toRetime.size} op(s) (${unstable.size} with >${(spreadCut * 100).toInt}% pass spread, ${bandRetime.size} in the 0.5-3 s band): ${toRetime.map(_._1).mkString(",")}")
        val errsBefore = errors.keySet.toSet
        val rs = runPass(new scala.util.Random(7919L).shuffle(toRetime))
        // A failure DURING the re-time must not corrupt the artifact: the
        // op already holds two clean timed samples, so the crash sample
        // (milliseconds of throw time) is dropped from the min and the
        // error is cleared — it was a transient, not a bench failure of
        // the timed passes. (Same class as the warmup-failure clearing
        // above; without this, min(2.0, 2.8, 0.06-crash) = 0.06 would
        // feed scale accounting a bogus ratio AND flag the op failed.)
        // The cleared event is still RECORDED in the artifact's
        // retime_failures field (r11 advice): error_count stays 0, but a
        // late-onset flaky op leaves a machine-readable trace instead of
        // vanishing into stderr.
        val failedInRetime = errors.keySet.toSet -- errsBefore
        failedInRetime.foreach { n =>
          errors.remove(n)
          retimeFailures(n) = true
          System.err.println(s"[bench] re-time failure on $n cleared — keeping the two timed-pass samples")
        }
        val kept = rs.filterNot { case (n, _) => failedInRetime(n) }
        println(s"""{"pass":"retime","queries":${qJson(kept)},"sf":"$sfDir"}""")
        kept
      }
    val retimedMap = retimed.toMap
    val best = selected.map { case (name, _) =>
      name -> (passMaps.map(_.apply(name)) ++ retimedMap.get(name)).min
    }
    val passTotals = allPasses.map(_.map(_._2).sum)
    // Failed queries are excluded from the reported total — a crash time is
    // not a query time, and including it would understate the suite.
    val total = best.collect { case (n, v) if !errors.contains(n) => v }.sum
    // Per-query detail on its own line too (kept for round-over-round log
    // comparability; the combined final line below is the machine contract).
    println(s"""{"queries":${qJson(best)},"sf":"$sfDir"}""")
    // Scrub the FULL control class, not just \n\r\t — any other U+0000-001F
    // in an exception message would make the machine-parsed tail invalid.
    val errJson = errors.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replaceAll("[\\p{Cntrl}\"\\\\]", " ") + "\""
    }.mkString("{", ",", "}")
    val memoJson = memoTimes.map { case (k, v) => s"\"memo:" + k + "\":" + v }
      .mkString("{", ",", "}")
    val rtFailJson = retimeFailures.keys.map("\"" + _ + "\"").mkString("[", ",", "]")
    val exclJson = excluded.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // r13 VERDICT #1: the final stdout line is the driver's machine contract
    // and must carry the PER-QUERY map too ({"metric",...,"queries":{...}})
    // — the driver derives per_query/geomean/scaling from the parsed final
    // line, and two rounds of PERF artifacts had per_query:{} because the
    // map rode a separate (second-to-last) line. All prior fields are
    // preserved; the map is appended, never replacing the total.
    val tail = s"""{"metric":"total","value":$total,"unit":"sec","queries":${qJson(best)},"sf":"$sfDir","passes":$passes,"pass_totals":[${passTotals.mkString(",")}],"retimed":${retimed.size},"retime_failures":$rtFailJson,"excluded":$exclJson,"memos":$memoJson,"error_count":${errors.size},"errors":$errJson}"""
    println(tail)
    // The driver's tail capture is bounded (~59/274 per-query numbers
    // survive), so the full per-query map is ALSO written as its own
    // artifact — round-over-round per-query regression checks read this
    // file instead of depending on tail-capture luck.
    // Artifact hygiene (r9 verdict #8): a TARGETED spot bench must not
    // overwrite the tracked full-inventory artifact with a 1-op map —
    // spot runs land in /tmp unless SPARK_GRAFT_BENCH_OUT says otherwise.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isEmpty) "BENCH_FULL_latest.json" else "/tmp/BENCH_SPOT_latest.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      s"""{"queries":${qJson(best)},"sf":"$sfDir","total":$total,"passes":$passes,"pass_totals":[${passTotals.mkString(",")}],"retimed":${retimed.size},"retime_failures":$rtFailJson,"excluded":$exclJson,"memos":$memoJson,"error_count":${errors.size},"errors":$errJson}""" + "\n")
    graft.ops.CacheReuse.release()
    spark.stop()
  }
}
