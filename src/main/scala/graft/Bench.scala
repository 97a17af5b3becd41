package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every catalog query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric","value","unit","queries","sf"}. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // r17 (OPTIMIZATION_r17.md), env-parameterised with local
      // defaults so the driver's bench stays comparable:
      // - runtime bloom-filter injection OFF by default here: at bench
      //   scale every injected filter is DEFAULT-sized (1M items /
      //   8.4M bits — the optimizer has no stats to size it) and rides
      //   on joins whose small side already broadcasts, so it is pure
      //   build+broadcast overhead (measured −4% warm across the LSH
      //   probe family, −0.3 s on tpcds_q14a). At 100 TB re-enable
      //   (SPARK_GRAFT_RUNTIME_BLOOM=true) and size
      //   ...bloomFilter.creationSideThreshold/expectedNumItems to the
      //   real dimension cardinalities — guide §3.2.
      // - join strategy (r18, ADVICE medium): sort-merge stays the
      //   PLANNER default (SHJ's build-side hash map cannot spill, and
      //   the static flip rode on size ESTIMATES, absent/unreliable at
      //   scale — a misestimate at 100 TB is an executor OOM). The SHJ
      //   win is taken through AQE's runtime rewrite instead:
      //   maxShuffledHashJoinLocalMapThreshold converts SMJ→SHJ only
      //   when every post-shuffle partition's MEASURED map output is
      //   under the threshold, so the build map is bounded by a known
      //   constant at any scale — the scale-aware gate the advisor
      //   asked for (guide §3.1). Measured plan-neutral at sf0.1
      //   (JoinAudit receipt in OPTIMIZATION_r18.md): every un-hinted
      //   equi-join on the board broadcasts at this scale, and the
      //   operators' deliberate SHJ sites carry explicit shuffle_hash
      //   hints, which a planner default never overrides.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled",
        sys.env.getOrElse("SPARK_GRAFT_RUNTIME_BLOOM", "false"))
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "true"))
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_LOCAL_MAP", "128m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm-up (untimed): JIT + codegen caches + parquet footers, so the
    // first measured query isn't charged session bring-up.
    spark.range(1000000).selectExpr("count(*)", "sum(id)").collect()
    sources.Tables.names.foreach { n =>
      sources.Tables.table(spark, sfDir, n).count()
    }

    // optional name-substring filters (dev iteration; driver passes none)
    val cat = SparkEntry.catalog.filter(q =>
      args.isEmpty || args.exists(q.name.contains))
    // Median-of-N per query (default 3, SPARK_GRAFT_BENCH_REPS=1 for dev
    // loops): single-pass timings on this class of VM swing ±20%+ and
    // have manufactured phantom multi-x regressions on untouched queries.
    //
    // The N reps run as N FULL CATALOG PASSES, not back-to-back: with
    // adjacent reps a sustained multi-second VM episode (steal, GC
    // storm) captures all of one query's reps and owns its median —
    // exactly how ss03 was charged 14.26s in r9 (isolated re-run:
    // 1.06s). Spread passes put ~a full catalog (~40s+) between a
    // query's reps, so an episode has to persist across the whole run
    // to move a median — and that case the global sentinel catches.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // A/B escape hatch (SPARK_GRAFT_BENCH_ADJACENT=1): the pre-r10
    // back-to-back rep order, kept ONLY so the spread-vs-adjacent
    // comparison stays reproducible (SCALING.md records it).
    val adjacent = sys.env.get("SPARK_GRAFT_BENCH_ADJACENT").contains("1")
    def runOnce(q: CatalogQuery): (Double, Boolean) = {
      val t0 = System.nanoTime()
      // FORCED evaluation, not count(): under a bare count() Catalyst
      // join-eliminates aggregated-unique LEFT joins and prunes final
      // projections — dd15's whole dup chain and tx17's novelty
      // attribution were never running in the timed window (receipts
      // in SCALING.md round 14; the PipelineHeadroom fix, applied to
      // the official board). Hashing the full row into one aggregate
      // references every output column, so nothing prunes; bit_xor
      // because summing 2^63-range hashes overflows under ANSI mode.
      val ok = try {
        import org.apache.spark.sql.functions._
        val df = q.build(spark, sfDir)
        df.agg(count(lit(1)),
          bit_xor(xxhash64(struct(df.columns.map(col): _*)))).collect()
        true
      }
      // Named, not silent: an unhashable output schema (map column,
      // duplicate names) throws inside the consumer and would be
      // indistinguishable from a real query failure otherwise.
      catch { case t: Throwable =>
        System.err.println(s"[bench] ${q.name} failed: " +
          s"${t.getClass.getName}: ${t.getMessage}")
        false }
      val dt = (System.nanoTime() - t0) / 1e9
      // Isolation between runs: any cache/persist a query created is
      // charged to that query and must not squat on executor memory
      // for the rest of the run (outside the timed window).
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      (dt, ok)
    }
    val passes: Seq[Seq[(Double, Boolean)]] =
      if (adjacent) cat.map(q => (1 to reps).map(_ => runOnce(q))).transpose
      else (1 to reps).map(_ => cat.map(runOnce))
    val results = cat.zipWithIndex.map { case (q, i) =>
      val times = passes.map(_(i))
      // A throw on ANY rep fails the query — never masquerade as success.
      val ok = times.forall(_._2)
      val med = times.map(_._1).sorted.apply(reps / 2)
      (q.name, med, ok)
    }
    // Failed queries are reported as -1 AND listed in "failed" — a throw
    // must never masquerade as a fast success.
    def r3(v: Double): String = f"$v%.3f"
    val qs = results.map { case (k, v, ok) => "\"" + k + "\":" + (if (ok) r3(v) else "-1") }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true) => v }.sum
    // Noise sentinel: a pinned query subset whose source has been stable
    // for rounds. If ITS total moves >1.5× off the recorded floor, the
    // environment (VM steal, GC, thermal) moved — not the code — and the
    // whole run is flagged `degraded`, separating real regressions from
    // driver-VM episodes mechanically (impala_q59 went 5.5× in r7 with
    // zero code change). Floor = builder's median-of-3 at sf0.1,
    // local[32]; re-pin it only when a sentinel query's code changes.
    val sentinelQueries = Seq("q03_top_orders", "q27_topk",
      "g03_triangle_count", "tpcds_q4", "tpcds_q67", "impala_q59",
      "impala_orig_q59", "impala_q19", "tx10_tfidf_terms", "e03_sessionize")
    // sec, sf0.1 local[32] median-of-3 (SCALING.md). Round 15 re-pins
    // from MEASUREMENT on this box under the forced consumer (the r14
    // 7.25 was the count()-era floor scaled by a local[8] ratio — an
    // estimate, and visibly low for this hardware: the r14 official
    // board read ratio 1.68 while holding all 193 per-query floors).
    // Two same-session local[32] median-of-3 runs: 11.02 and 12.41;
    // the lower (cleaner) run is the floor, per the floors-are-clean-
    // baselines convention.
    val sentinelFloor = 11.02
    val sentinelTimes = results.filter { case (k, _, ok) =>
      ok && sentinelQueries.contains(k) }
    val sentinelApplies = sfDir.contains("sf0.1") &&
      sentinelTimes.size == sentinelQueries.size
    val sentinel = if (sentinelApplies) sentinelTimes.map(_._2).sum else -1.0
    val degraded = sentinelApplies && sentinel > 1.5 * sentinelFloor
    // sentinel_ratio lets a consumer normalize mechanically (divide any
    // absolute seconds by it) instead of re-deriving sentinel/floor.
    val sentinelRatio = if (sentinelApplies) sentinel / sentinelFloor else -1.0
    val sentinelJson =
      s""""sentinel":${r3(sentinel)},"sentinel_floor":${r3(sentinelFloor)},"sentinel_ratio":${r3(sentinelRatio)},"degraded":$degraded"""
    // Per-query floors (BenchFloors): the sentinel catches whole-run
    // degradation; this catches LOCALIZED episodes — any median above
    // FlagRatio x its pinned floor is named in "flagged" with both
    // numbers, so a consumer re-runs it isolated instead of reading a
    // phantom regression. Floors are sf0.1-specific.
    val flaggedEntries = if (sfDir.contains("sf0.1")) {
      BenchFloors.flagged(results.collect { case (k, v, true) => (k, v) })
        .map { case (k, v, f) => "\"" + k + "\":[" + r3(v) + "," + r3(f) + "]" }
    } else Seq.empty
    val flagged = flaggedEntries.mkString("{", ",", "}")
    // Sub-phase decomposition (OpMetrics): operators with conflated
    // phases (ss03's ML fit vs probe) report per-phase medians so an
    // episode attributes itself to a phase.
    val decompEntries = graft.core.OpMetrics.drainMedians().toSeq.sorted
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
    val decomp = decompEntries.mkString("{", ",", "}")
    // Digest-line variants of flagged/decomp are CAPPED: the digest must
    // stay inside the ~2000-char harness capture no matter how many
    // floors pin or phases register — full detail is on the long line.
    def capJson(entries: Seq[String], cap: Int): String = {
      val kept = new StringBuilder
      var dropped = 0
      entries.foreach { e =>
        val piece = (if (kept.nonEmpty) "," else "") + e
        if (kept.length + piece.length <= cap) kept.append(piece)
        else dropped += 1
      }
      if (dropped > 0)
        kept.append((if (kept.nonEmpty) "," else "") + "\"_dropped\":" + dropped)
      "{" + kept + "}"
    }
    val flaggedDigest = capJson(flaggedEntries, 300)
    val decompDigest = capJson(decompEntries, 200)
    // Effective plan-shaping configs (r18, ADVICE): the env-gated join
    // strategy means two boards can time different plans — record which
    // one THIS board ran so receipts are self-describing.
    val confJson = Seq(
      "spark.sql.join.preferSortMergeJoin" -> "preferSMJ",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "runtimeBloom",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "shjLocalMap")
      .map { case (k, short) =>
        "\"" + short + "\":\"" + spark.conf.get(k, "<unset>") + "\"" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"failed":$failed,$sentinelJson,"flagged":$flagged,"decomp":$decomp,"conf":$confJson,"sf":"$sfDir"}""")
    // The harness that captures this output keeps only the LAST ~2000
    // characters of stdout, and the full per-query line above is ~4x
    // that — so it can never be machine-parsed from the capture. Print a
    // <=1900-char digest LAST: total, per-family subtotals (prefix before
    // the first '_' digit group), the effective join configs, and the
    // slowest queries, in the same
    // {"metric",...} shape so a line-oriented JSON scan of the capture
    // finds one complete, parseable record.
    val fams = results.filter(_._3).groupBy { case (k, _, _) =>
      k.takeWhile(c => !c.isDigit && c != '_')
    }.map { case (f, rs) => "\"" + f + "\":" + r3(rs.map(_._2).sum) }
      .toSeq.sorted.mkString("{", ",", "}")
    val slow = results.filter(_._3).sortBy(-_._2)
    // greedily keep the slowest queries while the digest stays under budget
    val head = s"""{"metric":"total","value":${r3(total)},"unit":"sec","nq":${results.size},"families":$fams,"failed":$failed,$sentinelJson,"flagged":$flaggedDigest,"decomp":$decompDigest,"conf":$confJson,"sf":"$sfDir","slowest":{"""
    val budget = 1900 - head.length - 2
    val kept = new StringBuilder
    slow.foreach { case (k, v, _) =>
      val piece = (if (kept.nonEmpty) "," else "") + "\"" + k + "\":" + r3(v)
      if (kept.length + piece.length <= budget) kept.append(piece)
    }
    println(head + kept + "}}")
    spark.stop()
  }
}
