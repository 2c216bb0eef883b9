package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // ≥3 timed runs per query, report the MEDIAN: single-run numbers
    // swing ±2× on short queries (GC, JIT recompilation, page cache),
    // which round 2 showed makes regressions arguable instead of
    // diagnosable. SPARK_GRAFT_ONLY=a,b,c restricts to a subset for
    // iteration.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Warm up: run the selected suite once at the smallest SF so JIT/
    // codegen compilation isn't charged to whichever query happens to
    // run first (observed ±2× on the heavy queries otherwise).
    val warmDir = "/root/testdata/sf0.001"
    // SPARK_GRAFT_DEBUG=1 surfaces swallowed per-query failures — a
    // query that errors would otherwise bench as ~1 ms and silently
    // flatter the total.
    val debug = sys.env.contains("SPARK_GRAFT_DEBUG")
    def swallow(tag: String)(body: => Unit): Unit =
      try body catch {
        case e: Throwable => if (debug) {
          System.err.println(s"[bench] $tag failed: $e")
          e.printStackTrace()
        }
      }
    if (new java.io.File(warmDir).isDirectory)
      selected.foreach { case (name, fn) =>
        swallow(s"warmup:$name") { fn(spark, warmDir).count(); () }
      }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // Queries that ERRORED during timing: their recorded time is the
    // fast-fail latency, which would silently flatter every total —
    // so failures are counted into the printed line and the run
    // record, and a nonzero count marks the totals as invalid.
    val failed = scala.collection.mutable.SortedSet[String]()
    val results = selected.map { case (name, fn) =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); () } catch {
          case e: Throwable =>
            failed += name
            if (debug) {
              System.err.println(s"[bench] run:$name failed: $e")
              e.printStackTrace()
            }
        }
        (System.nanoTime() - t0) / 1e9
      }
      // Between queries, release leftover state so one query's debris
      // never taxes the next: the dedup/ANN pipelines eagerly
      // localCheckpoint their results, and those blocks survive until
      // a driver GC lets the ContextCleaner drop them — observed as a
      // late-suite query measuring 15× its isolated median under the
      // accumulated memory pressure.
      spark.catalog.clearCache()
      System.gc()
      name -> median(times)
    }.toMap
    // The harness that records this line keeps only the LAST 2000
    // chars of stdout (sbt appends its own ~75-char success line), so
    // the JSON must stay under ~1900 chars or it is truncated mid-line
    // and unparseable — exactly what happened to the round-3 artifact.
    // Compact the printed values to 3 significant digits and, if the
    // suite outgrows the budget, keep the most expensive queries in
    // the printed dict; the full-precision breakdown always goes to
    // BENCH_LOCAL.json in the working directory for offline reading.
    def fmt(v: Double): String =
      if (v >= 100) f"$v%.0f" else if (v >= 10) f"$v%.1f"
      else if (v >= 1) f"$v%.2f" else f"$v%.3f"
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // THE PERF-GATE BASIS (VERDICT r8 #5): the recorded baseline
    // (BENCH_r01, 42.57 s at sf0.1) measured exactly these 43
    // queries; the suite has since grown 4×+ (streaming runtimes,
    // index builds, a distributed trainer), so total-vs-total
    // comparisons manufacture fake breaches. The r1-subset total is
    // emitted as a SECOND metric in the printed line and in every
    // BENCH_LOCAL run record — the ≤2× gate reads THIS number, by
    // construction the like-for-like comparison.
    val baseline43 = Set(
      "catalog_lifecycle", "collection_items", "dd_embed_top",
      "dd_minhash_pairs", "dd_ngram_top", "dd_signatures",
      "dd_simhash_pairs", "ev_asof_join", "ev_hourly", "ev_props_json",
      "ev_sessions", "mm_features", "q10_sort_limit", "q11_cube",
      "q12_filter_project", "q13_range_join", "q14_where_filter",
      "q15_grouping_sets", "q16_window_suite", "q17_corr_subquery",
      "q18_stats", "q19_percentiles", "q1_pricing_summary",
      "q20_cond_pivot", "q21_setops_all", "q22_array_agg",
      "q2_topk_orders", "q3_join_revenue", "q4_rollup", "q5_semi_join",
      "q6_anti_join", "q7_running_total", "q8_distinct_agg",
      "q9_set_ops", "txt_dedup_exact", "txt_langid", "txt_quality",
      "txt_token_counts", "txt_top_tokens", "vec_ann_ivf",
      "vec_ann_lsh", "vec_knn", "vec_knn_filtered")
    val baselineSubtotal = results.collect {
      case (k, v) if baseline43.contains(k) => v
    }.sum
    // completeness marker: a baseline query that errors still records
    // a (fast-fail) time, but one MISSING from the selection would
    // silently understate the gate metric — the reader checks n == 43
    val baselineN = results.keys.count(baseline43.contains)
    // SELF-INVALIDATION: a baseline query that ERRORED contributes
    // its fast-fail latency, which flatters the gate metric — so when
    // any baseline query failed, baseline43_sec is emitted as null
    // (the gate number cannot be read at all) instead of relying on
    // the reader to cross-check the separate `errors` count.
    val baselineFailed = failed.count(baseline43.contains)
    val baselineSecJson =
      if (baselineFailed > 0) "null" else fmt(baselineSubtotal)
    // THE BENCH PROTOCOL, codified (VERDICT r7 #6): full-suite runs
    // APPEND a {ts, total, per-query} record to BENCH_LOCAL.json's
    // run history — never overwrite — and the "committed" block is
    // recomputed as the per-query MEDIAN of the last two full runs
    // plus their drift ratios. Totals on this shared host swing
    // ~1.3-1.45× between runs of identical code with near-uniform
    // per-query ratios, so regressions are judged on per-query ratios
    // against the committed medians, never on single-run totals.
    // Restricted runs (SPARK_GRAFT_ONLY) are iteration tools and
    // never touch the record.
    if (only.isEmpty) try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      // the working directory: `sbt runMain` forks in the checkout
      // it builds, so each checkout keeps its own run history
      val f = new java.io.File("BENCH_LOCAL.json")
      val root: com.fasterxml.jackson.databind.node.ObjectNode = {
        val old = if (f.exists()) {
          try mapper.readTree(f) catch { case _: Throwable => null }
        } else null
        if (old != null && old.isObject && old.has("runs"))
          old.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        else {
          val fresh = mapper.createObjectNode()
          val runs = fresh.putArray("runs")
          // migrate a legacy flat record into the history so the first
          // protocol run already has a pair to compare against
          if (old != null && old.isObject && old.has("queries")) {
            val r = runs.addObject()
            r.put("ts", "legacy")
            r.put("total", old.path("value").asDouble())
            r.put("sf", old.path("sf").asText())
            r.put("reps", old.path("reps").asInt())
            r.set[com.fasterxml.jackson.databind.JsonNode]("queries", old.get("queries"))
          }
          fresh
        }
      }
      val runs = root.withArray("runs")
      val rec = runs.addObject()
      rec.put("ts", java.time.Instant.now().toString)
      rec.put("total", total)
      rec.put("baseline43_total", baselineSubtotal)
      rec.put("baseline43_n", baselineN)
      rec.put("baseline43_failed", baselineFailed)
      rec.put("errors", failed.size)
      if (failed.nonEmpty) rec.put("failed_queries", failed.mkString(","))
      rec.put("sf", sfDir)
      rec.put("reps", reps)
      val qn = rec.putObject("queries")
      results.toSeq.sortBy(_._1).foreach { case (k, v) => qn.put(k, v) }
      while (runs.size() > 10) runs.remove(0) // bounded history
      // committed = per-query median of the last two FULL runs AT THE
      // CURRENT SF (for two samples the median is their midpoint),
      // with drift ratios. The sf filter matters: a one-off sf0.001
      // full run in the history must not blend ~100×-apart values
      // into the regression baseline.
      val last = (0 until runs.size()).map(i => runs.get(i))
        .filter(r => r.path("sf").asText() == sfDir)
        .takeRight(2).toSeq
      val perQuery = scala.collection.mutable.SortedMap[String, Seq[Double]]()
      last.foreach { r =>
        val it = r.path("queries").fields()
        while (it.hasNext) {
          val e = it.next()
          perQuery(e.getKey) = perQuery.getOrElse(e.getKey, Nil) :+ e.getValue.asDouble()
        }
      }
      val committed = root.putObject("committed")
      committed.put("sf", sfDir)
      committed.put("n_runs", last.size)
      val cq = committed.putObject("queries")
      var cTotal = 0.0
      perQuery.foreach { case (k, vs) => val m = median(vs); cq.put(k, m); cTotal += m }
      committed.put("total", cTotal)
      if (last.size == 2) {
        val ratios = perQuery.values.collect {
          case Seq(a, b) if math.min(a, b) > 0 => math.max(a, b) / math.min(a, b)
        }.toSeq.sorted
        if (ratios.nonEmpty) {
          committed.put("pair_total_ratio",
            math.max(last(0).path("total").asDouble(), last(1).path("total").asDouble()) /
              math.max(1e-9,
                math.min(last(0).path("total").asDouble(), last(1).path("total").asDouble())))
          committed.put("pair_query_ratio_median", ratios(ratios.size / 2))
          committed.put("pair_query_ratio_max", ratios.last)
        }
      }
      root.put("protocol",
        "append-only run history (last 10 kept); 'committed' = per-query median " +
          "of the last 2 full runs; judge regressions on per-query ratios vs " +
          "'committed', never on single-run totals (shared-host totals drift " +
          "~1.3-1.45x between identical-code runs)")
      mapper.writerWithDefaultPrettyPrinter().writeValue(f, root)
    } catch { case e: Throwable => if (debug) e.printStackTrace() }
    val budget = 1800
    val overhead =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","baseline43_sec":$baselineSecJson,"baseline43_n":$baselineN,"baseline43_ref_sec":42.57,"errors":${failed.size},"queries":{},"sf":"$sfDir","reps":$reps,"queries_omitted":00}""".length
    val entries = results.toSeq.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
    val kept = {
      var used = overhead
      entries.takeWhile { e =>
        used += e.length + 1; used <= budget
      }
    }
    val omitted = entries.size - kept.size
    val qs = kept.mkString("{", ",", "}")
    val suffix = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","baseline43_sec":$baselineSecJson,"baseline43_n":$baselineN,"baseline43_ref_sec":42.57,"errors":${failed.size},"queries":$qs,"sf":"$sfDir","reps":$reps$suffix}""")
    spark.stop()
  }
}
