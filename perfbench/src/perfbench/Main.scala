package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Runs one workload in this JVM and writes its result line.
  *
  * Phases: set-up (timed as `setup_s` from the JVM's launch), one
  * untimed warm-up round of every timed operation, then a fixed number
  * of whole rounds (see `timedRounds`). A traced run
  * (`--trace 1`) then sweeps every layer operation the workload did not
  * time and runs the `graft.functions` kernel microbenchmark, and
  * reports per-layer metrics instead of end-to-end ones.
  */
object Main {
  private val CollectionOps = Seq("query", "query_where", "get", "count", "upsert", "add",
    "delete_where", "compact", "index_build")
  private val OperatorOps = Seq("kmeans", "ivf_build", "ivf_query", "knn_exact", "minhash_pairs")

  final case class Metric(value: Double, unit: String)

  /** One timed round's storage: collection-log parquet files and their
    * bytes and index bytes at its end, and the bytes it wrote. */
  final case class Storage(logFiles: Long, logBytes: Long, indexBytes: Long, written: Long)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val root = opts("root")
    val launchNs = opts("launch-ns").toLong

    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/spark-warehouse")
      .config("spark.graft.collection.annIndexRoot", s"$root/ann")
      .getOrCreate()
    System.err.println(f"[perfbench] session ready at ${(epochNs() - launchNs) / 1e9}%.2f s")
    try {
      val rec = new Recorder(spark, full = traced)
      val checks = new Checks
      val env = new Env(spark, root, seed, rec, checks)
      val w: Workload = workload match {
        case "serve"  => new Serve(env)
        case "ingest" => new Ingest(env)
        case "batch"  => new Batch(env)
        case other    => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      System.err.println(f"[perfbench] set-up starts at ${(epochNs() - launchNs) / 1e9}%.2f s")
      w.setup()
      val setupS = (epochNs() - launchNs) / 1e9

      rec.phase = "warmup"
      rec.round(w.round(0))
      w.afterRound(0)
      spark.catalog.clearCache()
      System.gc()

      rec.phase = "timed"
      val walks = mutable.ArrayBuffer[Storage]()
      for (r <- 1 to timedRounds(seconds, w)) {
        System.gc() // so no round pays to collect the previous one's garbage
        val before = if (traced) storage(env) else Map.empty[String, Long]
        rec.round(w.round(r))
        if (traced) walks += storageDelta(env, before)
        w.afterRound(r)
      }
      rec.drain()
      val jvmAtEnd = jvmCounters()
      val rounds = rec.rounds("timed")
      // Each call kind's count per round and median latency over the
      // timed phase.
      val kinds = rec.children(rounds.head).groupBy(_.name).toSeq.sortBy(_._1).map {
        case (kind, first) =>
          val ms = rec.calls("timed").filter(_.name == kind).map(_.ms)
          System.err.println(f"[perfbench] $kind%-14s x${first.size} median ${median(ms)}%.2f ms" +
            s" of ${ms.map(m => f"$m%.1f").mkString(" ")}")
          (first.size, median(ms))
      }
      // A round's typical time: the medians weighted by count. Steadier
      // than the median of whole rounds, of which a run has only a few.
      val roundS = kinds.map { case (n, ms) => n * ms }.sum / 1000.0
      // The geometric mean of the medians weighs every call kind the
      // same, so a slower rare or cheap call shows as much as a slower
      // query: 10x on any one of serve's 7 kinds moves it by 39 %.
      val callMs = math.exp(kinds.map { case (_, ms) => math.log(ms) }.sum / kinds.size)
      val timedCalls = rec.calls("timed")
      val jobsPerRound = timedCalls.map(rec.jobsOf(_).size).sum.toDouble / rounds.size

      val metrics: Seq[(String, Metric)] =
        if (!traced) Seq(
          "setup_s" -> Metric(setupS, "s"),
          "round_s" -> Metric(roundS, "s"),
          "call_geomean_ms" -> Metric(callMs, "ms"),
          "spark_jobs" -> Metric(jobsPerRound, "jobs/round"),
          "stored_bytes_per_item" -> Metric(w.storedBytesPerItem, "bytes"))
        else {
          rec.phase = "sweep"
          sweep(env, w)
          rec.drain()
          perLayer(env, rounds, walks.toSeq, jvmAtEnd, roundS) ++ kernels(spark, seed)
        }

      for (p <- checks.report) System.err.println(s"[perfbench] check failed: $p")
      val json = resultJson(checks.ok, env.attempted, env.failed, metrics)
      if (traced) Files.write(Paths.get(opts("trace-file")),
        traceJson(workload, seed, rec, metrics).getBytes("UTF-8"))
      Files.write(Paths.get(opts("result")), json.getBytes("UTF-8"))
    } finally spark.stop()
  }

  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Timed rounds: `--seconds` over the workload's nominal round
    * length, at least two. It never depends on how fast this run goes,
    * so a faster program makes the same operations, not more rounds. */
  private def timedRounds(seconds: Double, w: Workload): Int =
    math.max(2, math.round(seconds / w.nominalRoundS).toInt)

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Runs, on small inputs, every layer operation the workload's
    * timed phase did not, so that each traced run reports every layer. */
  private def sweep(env: Env, w: Workload): Unit = {
    val ing = new Ingest(env, prefix = "sweep", batch = 100, adds = 3, stream = 900)
    env.rec.round(ing.round(1))
    ing.reads()
    ing.release()
    val b = w match {
      case b: Batch => b
      case _ =>
        val b = new Batch(env, corpusRows = 2000, queries = 16, baseDocs = 200, cells = 8,
          nprobe = 2, stream = 910, name = "sweep")
        b.setup()
        env.rec.round(b.round(1))
        b.afterRound(1)
        b
    }
    b.kmeans()
  }

  // ---------------------------------------------------------------- per layer

  private def perLayer(env: Env, rounds: Seq[Span], walks: Seq[Storage],
                       jvm: (Double, Double, Double), roundS: Double): Seq[(String, Metric)] = {
    val rec = env.rec
    val n = rounds.size.toDouble
    // An operation's spans come from the timed phase when the workload
    // times it, and from the sweep otherwise.
    def spansOf(op: String): Seq[Span] = {
      val timed = rec.calls("timed").filter(_.name == op)
      if (timed.nonEmpty) timed else rec.calls("sweep").filter(_.name == op)
    }
    def opMetrics(prefix: String, op: String, withDriver: Boolean): Seq[(String, Metric)] = {
      val ss = spansOf(op)
      Seq(s"$prefix.$op.ms" -> Metric(median(ss.map(_.ms)), "ms"),
        s"$prefix.$op.jobs" -> Metric(median(ss.map(rec.jobsOf(_).size.toDouble)), "jobs")) ++
        (if (withDriver) Seq(s"$prefix.$op.driver_ms" -> Metric(median(ss.map(rec.driverMs)), "ms"))
         else Nil)
    }
    val timedCalls = rec.calls("timed")
    val st = rec.stagesOf(timedCalls)
    val qs = rec.queriesBetween(rounds.head.startMs, rounds.last.endMs)
    def med(f: Storage => Long) = median(walks.map(w => f(w).toDouble))
    CollectionOps.flatMap(opMetrics("collection", _, withDriver = true)) ++
      Seq("catalog.get_collection.ms" -> Metric(median(spansOf("get_collection").map(_.ms)), "ms")) ++
      OperatorOps.flatMap(opMetrics("operators", _, withDriver = false)) ++
      Seq(
        "spark.stages" -> Metric(st.stages / n, "count/round"),
        "spark.tasks" -> Metric(st.tasks / n, "count/round"),
        "spark.executor_run_ms" -> Metric(st.runMs / n, "ms/round"),
        "spark.executor_cpu_ms" -> Metric(st.cpuNs / 1e6 / n, "ms/round"),
        "spark.shuffle_read_bytes" -> Metric(st.shuffleRead / n, "bytes/round"),
        "spark.shuffle_write_bytes" -> Metric(st.shuffleWrite / n, "bytes/round"),
        "spark.input_bytes" -> Metric(st.input / n, "bytes/round"),
        "spark.output_bytes" -> Metric(st.output / n, "bytes/round"),
        "spark.spill_bytes" -> Metric(st.spill / n, "bytes/round"),
        "spark.job_busy_ms" -> Metric(rec.jobBusyMs(timedCalls) / n, "ms/round"),
        "driver.actions" -> Metric(qs.size / n, "count/round"),
        "driver.analysis_ms" -> Metric(qs.map(_.analysisMs).sum / n, "ms/round"),
        "driver.optimization_ms" -> Metric(qs.map(_.optimizationMs).sum / n, "ms/round"),
        "driver.planning_ms" -> Metric(qs.map(_.planningMs).sum / n, "ms/round"),
        "storage.log_files" -> Metric(med(_.logFiles), "count"),
        "storage.log_bytes" -> Metric(med(_.logBytes), "bytes"),
        "storage.index_bytes" -> Metric(med(_.indexBytes), "bytes"),
        "storage.bytes_written" -> Metric(med(_.written), "bytes/round"),
        "jvm.gc_ms" -> Metric(jvm._1, "ms"),
        "jvm.jit_ms" -> Metric(jvm._2, "ms"),
        "jvm.heap_peak_mb" -> Metric(jvm._3, "MB"),
        "trace.round_s" -> Metric(roundS, "s"))
  }

  /** Sizes of the files under the run's data roots (collection logs,
    * collection ANN indexes, batch IVF indexes). */
  private def storage(env: Env): Map[String, Long] =
    Seq(s"${env.root}/warehouse", env.annRoot, env.ivfRoot).filter(p => Files.isDirectory(Paths.get(p)))
      .flatMap(p => Files.walk(Paths.get(p)).iterator.asScala.filter(Files.isRegularFile(_)))
      .map(f => f.toString -> Files.size(f)).toMap

  private def storageDelta(env: Env, before: Map[String, Long]): Storage = {
    val after = storage(env)
    val log = after.filter { case (f, _) => f.startsWith(s"${env.root}/warehouse") &&
      f.contains("/log/") && f.endsWith(".parquet") }
    val index = after.filter { case (f, _) => !f.startsWith(s"${env.root}/warehouse") }
    val written = after.map { case (f, s) => math.max(0L, s - before.getOrElse(f, 0L)) }.sum
    Storage(log.size.toLong, log.values.sum, index.values.sum, written)
  }

  /** (GC ms, JIT ms, peak heap MB) since the JVM started. */
  private def jvmCounters(): (Double, Double, Double) = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    (gc.toDouble, jit.toDouble, heap / 1048576.0)
  }

  // ---------------------------------------------------------------- kernels

  /** Evaluations per second of each `graft.functions` kernel. Each is
    * evaluated over a cached table joined with a small broadcast one,
    * so one pass evaluates it hundreds of thousands of times and the
    * kernel, not job launch or the cache scan, dominates the pass. */
  private def kernels(spark: SparkSession, seed: Long): Seq[(String, Metric)] = {
    import spark.implicits._
    val g = new Gen(seed, 950)
    val centres = Gen.centres(seed)
    def cached(df: DataFrame): DataFrame = { val c = df.repartition(4).cache(); c.count(); c }
    val vecs = cached(Seq.fill(4000)(Gen.vec(g, centres).toSeq).toDF("a")
      .withColumn("ca", graft.functions.Int8Encode(col("a")).getField("_c8")))
    val probes = broadcast(Seq.fill(64)(Gen.vec(g, centres).toSeq).toDF("b")
      .withColumn("cb", graft.functions.Int8Encode(col("b")).getField("_c8")))
    val texts = cached(Seq.fill(1000)(Gen.words(g, 60).mkString(" ")).toDF("text")
      .withColumn("sh", graft.functions.ShingleHashesMd5(col("text"), 3)))
    def times(n: Int) = broadcast(spark.range(n).toDF("rep"))
    val codebook = Gen.centres(seed + 1).flatMap(_.toSeq).toSeq
    def rate(df: DataFrame, agg: Column): Double = {
      val evals = df.count().toDouble
      df.select(agg).collect() // warm: codegen and JIT
      val ts = (1 to 2).map { _ =>
        val t = System.nanoTime(); df.select(agg).collect(); (System.nanoTime() - t) / 1e9
      }
      evals / median(ts)
    }
    import graft.functions.VectorExpressions.{cosine, dot, int8Dot, l2}
    val pairs = vecs.crossJoin(probes)
    val out = Seq(
      "cosine" -> rate(pairs, sum(cosine(col("a"), col("b")))),
      "dot" -> rate(pairs, sum(dot(col("a"), col("b")))),
      "l2" -> rate(pairs, sum(l2(col("a"), col("b")))),
      "int8_dot" -> rate(pairs, sum(int8Dot(col("ca"), col("cb")))),
      "pq_encode" -> rate(vecs.crossJoin(times(16)),
        sum(graft.functions.PqEncode(col("a"), codebook, 1, Gen.Clusters, Gen.Dim).getItem(0))),
      "minhash_signature" -> rate(texts.crossJoin(times(16)),
        sum(element_at(graft.functions.MinHashGridSignature(col("sh"), 64), 1))),
      "shingle_hashes" -> rate(texts.crossJoin(times(8)),
        sum(size(graft.functions.ShingleHashesMd5(col("text"), 3)))),
      "simhash" -> rate(texts.crossJoin(times(8)), sum(graft.functions.SimHash60(col("text")) % 1000)))
    vecs.unpersist()
    texts.unpersist()
    out.map { case (k, v) => s"kernel.$k.rows_per_s" -> Metric(v, "rows/s") }
  }

  // ---------------------------------------------------------------- output

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def metricsJson(ms: Seq[(String, Metric)]): String =
    ms.map { case (k, m) => s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}""" }
      .mkString("{", ", ", "}")

  def resultJson(correct: Boolean, attempted: Long, failed: Long, ms: Seq[(String, Metric)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metricsJson(ms)}}"""

  /** Every span with the Spark work attributed to it, then the metrics. */
  private def traceJson(workload: String, seed: Long, rec: Recorder,
                        ms: Seq[(String, Metric)]): String = {
    val spans = rec.spans.sortBy(_.id).map { s =>
      val st = rec.stagesOf(Seq(s))
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "phase": "${s.phase}", """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "dur_ms": ${num(s.ms)}, "ok": ${s.ok}, """ +
        s""""jobs": ${rec.jobsOf(s).size}, "driver_ms": ${num(rec.driverMs(s))}, """ +
        s""""stages": ${st.stages}, "tasks": ${st.tasks}, "executor_run_ms": ${st.runMs}, """ +
        s""""executor_cpu_ms": ${num(st.cpuNs / 1e6)}, "shuffle_read_bytes": ${st.shuffleRead}, """ +
        s""""shuffle_write_bytes": ${st.shuffleWrite}, "input_bytes": ${st.input}}"""
    }
    s"""{"workload": "$workload", "seed": $seed, "metrics": ${metricsJson(ms)},\n"spans": [\n""" +
      spans.mkString(",\n") + "\n]}\n"
  }
}
