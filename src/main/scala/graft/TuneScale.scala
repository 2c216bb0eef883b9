package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-law certification harness (r12): builds the collection ANN
  * tiers on DETERMINISTIC synthetic corpora far past the driver
  * fixtures (≤ 5,970 rows) and measures the laws the 100-TB story
  * rests on — graph recall at CONSTANT ef across N (explored rows ∝
  * log N), and the IVF probed fraction ∝ N^(−1/2). Not part of the
  * driver contract — run by hand (`tools/run-main.sh graft.TuneScale`);
  * the committed record table lives in ARCHITECTURE.md. The serve
  * and build parameters come from their size laws, so every readout
  * is the law value for the artifact's own N.
  *
  * Corpus: `CENTERS` (default 4096) cluster centers with coordinates
  * xxhash64-derived in [−1, 1]; vector i sits on center
  * xxhash64("a:i") mod CENTERS plus xxhash64-derived noise scaled by
  * 0.25 — clustered enough that IVF cells and graph navigation mean
  * something, fully reproducible from the ids alone (no RNG state).
  * Queries are ids n..n+NQ−1 of the SAME construction (in
  * distribution, out of corpus). Truth = exact brute-force cosine
  * top-k over the full corpus per query ([[operators.VectorOps.knnBrute]]).
  *
  * Env: SIZES=100000,400000,1600000  NQ=100  CENTERS=4096  TIERS=graph,ivf
  *      CPUS=16  SPARK_DRIVER_MEM=48g (read by build.sbt)
  */
object TuneScale {

  private def hfloat(tag: String, a: org.apache.spark.sql.Column,
                     b: org.apache.spark.sql.Column, scale: Double) =
    (pmod(xxhash64(concat_ws(":", lit(tag), a, b)), lit(20001L)) / 10000.0 - 1.0) * scale

  /** Deterministic clustered vectors for ids [lo, hi). */
  def vectors(s: SparkSession, lo: Long, hi: Long, dim: Int,
              centers: Int): DataFrame = {
    val cents = s.range(0, centers).select(col("id").as("cl"),
      transform(sequence(lit(0), lit(dim - 1)),
        j => hfloat("c", col("id"), j, 1.0)).as("center"))
    s.range(lo, hi)
      .select(col("id").as("vec_id"),
        pmod(xxhash64(concat(lit("a:"), col("id"))), lit(centers.toLong)).as("cl"))
      .join(broadcast(cents), "cl")
      .select(col("vec_id"),
        zip_with(col("center"),
          transform(sequence(lit(0), lit(dim - 1)),
            j => hfloat("n", col("vec_id"), j, 0.25)),
          (c, nz) => (c + nz).cast("float")).as("embedding"))
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("CPUS", "16")
    // Shuffle/spill blocks go to DISK, in a per-run directory wiped
    // at startup (r13, closing the r12 ops finding): java.io.tmpdir
    // here is RAM-backed tmpfs, and a killed predecessor JVM's
    // orphaned blockmgr-* dirs do not clean themselves — 59 GB of
    // them OOM'd the r12 6.4M ladder point. Artifacts (the small
    // output) stay on the tmpfs cache; only transient shuffle state
    // moves to disk.
    // SCALE_LOCAL_DIR is now OPTIONAL (r14): unset, the harness
    // POOLS ITS OWN scratch automatically — a disk dir plus a tmpfs
    // slice — because Spark's literal default here is RAM-backed
    // tmpfs, and a big build's shuffle files persist until their
    // stage's lineage is GC'd: the CUMULATIVE shuffle total (not
    // just the largest stage) must fit scratch, and RAM cannot hold
    // it alongside the heap (the first default-dirs 6.4M attempt was
    // OOM-killed at 70 GB of tmpfs blockmgr + a 54 GB heap). The
    // build-volume tier's capacity-derived waves
    // ([[graft.operators.GraphAnn.wavesForVolume]]) bound the peak
    // per stage so the pool suffices; the env var remains an ops
    // override for custom pooling. Comma-separated list supported
    // (Spark spreads blocks round-robin across the dirs). Spark
    // splits spark.local.dir on ',' WITHOUT trimming, so the
    // wiped/created paths and the ones Spark writes to must come
    // from the same trimmed list.
    //
    // Wipe guard (r14, closing the r13 advisory): the startup wipe
    // only ever deletes a directory this harness itself created — it
    // must contain the marker file a previous run wrote (or not
    // exist yet / be empty). A mis-set SCALE_LOCAL_DIR pointing at a
    // home dir or shared scratch now fails loudly instead of being
    // silently destroyed. The marker also documents the standing
    // hazard: concurrent TuneScale processes sharing one
    // SCALE_LOCAL_DIR are mutually destructive — parallel runs must
    // each set their own (the tools/run-main.sh pattern).
    val Marker = ".graft-scale-scratch"
    val defaultPool = Seq(
      "/root/tmp/graft-scale-local",
      s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft-scale-local")
    val localDirs = sys.env.get("SCALE_LOCAL_DIR")
      .map(_.split(",").toSeq).getOrElse(defaultPool)
      .map(_.trim).filter(_.nonEmpty)
    localDirs.foreach { one =>
      val ldPath = java.nio.file.Paths.get(one)
      if (java.nio.file.Files.exists(ldPath)) {
        val hasMarker = java.nio.file.Files.exists(ldPath.resolve(Marker))
        val isEmpty = {
          val s = java.nio.file.Files.list(ldPath)
          try s.findFirst().isEmpty finally s.close()
        }
        require(hasMarker || isEmpty,
          s"SCALE_LOCAL_DIR entry '$one' exists, is non-empty, and has no " +
            s"$Marker marker from a previous TuneScale run — refusing to " +
            "wipe a directory this harness did not create. Point the env " +
            "var at a fresh/dedicated scratch path.")
        import java.util.Comparator
        java.nio.file.Files.walk(ldPath).sorted(Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.delete(f))
      }
      java.nio.file.Files.createDirectories(ldPath)
      java.nio.file.Files.createFile(ldPath.resolve(Marker))
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // the corpus checkpoint lives in the storage pool; the default
      // 0.5 storageFraction PROTECTS it from eviction and the first
      // 25.6M build aborted with UNABLE_TO_ACQUIRE_MEMORY in the
      // candidate sort while half the heap sat in unevictable
      // storage. 0.25 keeps the checkpoint cached when there's room
      // and lets execution reclaim it (it spills to local dirs) when
      // the big shuffles need the pages.
      .config("spark.memory.storageFraction", "0.25")
      // wave slices and the corpus cut to disk via DISK_ONLY
      // localCheckpoints; spark.rdd.compress is off by default and
      // the 25.6M morgue showed a 28 GB uncompressed block set for
      // state lz4 shrinks ~3x. Static conf — set here, not in the
      // library (sessions at fixture scale don't care).
      .config("spark.rdd.compress", "true")
      .config("spark.driver.maxResultSize", "4g")
      .config("spark.local.dir", localDirs.mkString(","))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sizes = sys.env.getOrElse("SIZES", "100000").split(",").map(_.trim.toLong)
    val nq = sys.env.get("NQ").map(_.toInt).getOrElse(100)
    val centers = sys.env.get("CENTERS").map(_.toInt).getOrElse(4096)
    val tiers = sys.env.getOrElse("TIERS", "graph,ivf").split(",").map(_.trim).toSet
    val dim = 64

    for (n <- sizes) {
      // shuffle width scales with the corpus (the 100-TB sizing rule
      // applied to this box): at 25.6M rows a cpus-wide shuffle puts
      // ~10⁷ candidate pairs in ONE task's sort and execution memory
      // aborts; ~1 partition per 100k rows bounds per-task state,
      // and AQE coalesces the excess on the small stages.
      spark.conf.set("spark.sql.shuffle.partitions",
        math.max(cpus.toInt, math.min(2048L, n / 100000L)).toString)
      val corpus = vectors(spark, 0L, n, dim, centers).localCheckpoint(true)
      val queries = vectors(spark, n, n + nq, dim, centers)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        .localCheckpoint(true)
      val truth = graft.operators.VectorOps
        .knnBrute(queries, corpus.select(col("vec_id"), col("embedding").as("vec")), 10)
        .select(col("query_id"), col("vec_id")).localCheckpoint(true)

      def measure(tier: String, meta: Option[Map[String, String]]): Unit = {
        val wh = java.nio.file.Files.createTempDirectory(s"graft-scale-$tier-$n").toString
        val client = new graft.catalog.ChromaSpark(spark, wh)
        val d = new graft.catalog.CollectionData(client)
        client.createCollection("sc", meta)
        d.add("sc", corpus.select(
          format_string("v%09d", col("vec_id")).as("id"), col("embedding")))
        val t0 = System.nanoTime()
        // first query builds the artifact
        d.query("sc", queries.limit(1), nResults = 10, include = Nil).collect()
        val buildSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val res = d.query("sc", queries, nResults = 10, include = Nil)
          .select(col("query_id"),
            expr("CAST(substr(id, 2, 10) AS BIGINT)").as("vec_id"))
        val served = res.collect()
        val serveSec = (System.nanoTime() - t1) / 1e9
        // recall@10 against the exact truth
        val hit = truth.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val perQ = served.map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (q, rows) =>
            rows.count(hit.contains).toDouble / 10.0 }
        val mean = perQ.sum / perQ.size
        val min = perQ.min
        val p10 = perQ.toSeq.sorted.apply(math.max(0, perQ.size / 10 - 1))
        // whole-basin misses (recall < 0.5) — the bimodal failure mode
        // the r12 ladder found; p10 alone can hide up to NQ/10 − 1 of
        // them, so the count is printed outright
        val nmiss = perQ.count(_ < 0.5)
        // tier-specific law readouts from the artifact
        val law = res.queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.map(_.toString)
        }.flatten.find(p => p.contains("collgraph") || p.contains("collivf")) match {
          case Some(p0) =>
            val p = p0.replaceAll(
              "/(base|edges|edges_l\\d+|levels|entries|params|groups|vectors|centroids)(/.*)?$", "")
            if (p.contains("collgraph")) {
              val pr = spark.read.parquet(s"$p/params").head()
              val lvl = pr.getInt(pr.fieldIndex("maxlevel"))
              val entries = pr.getInt(pr.fieldIndex("entries"))
              val pn = pr.getLong(pr.fieldIndex("n"))
              // explored budget per query: the law values for the
              // artifact's own N and degree — the same law the serve
              // reads, so the readout cannot diverge from the serve
              val (bh, uh, ue, ef) = graft.operators.GraphAnn.serveBudgetFor(pn)
              val explored = d.graphExploredBudget(pr.getInt(pr.fieldIndex("m")), pn, 10)
              s"maxlevel=$lvl entries=$entries bh=$bh uh=$uh ue=$ue ef=$ef explored=$explored"
            } else {
              val cells = spark.read.parquet(s"$p/centroids").count()
              // the same resolver the serve uses (the r13 √cells
              // law) — never a hardcoded constant
              val nprobe = d.annNprobeFor(cells.toInt)
              f"cells=$cells nprobe=$nprobe probedFrac=${nprobe.toDouble / cells}%.4f"
            }
          case None => "tier=scan"
        }
        println(f"TUNESCALE tier=$tier n=$n nq=$nq mean=$mean%.3f min=$min%.2f " +
          f"p10=$p10%.2f miss=$nmiss build=${buildSec}%.0fs serve=${serveSec}%.1fs $law")
        // the tmpfs warehouse (the ingested log copy of the corpus) is
        // per-measure scratch — at 6.4M rows each abandoned one holds
        // ~1.6 GB of RAM-backed parquet, and the r12 OOM taught us
        // tmpfs debris is not hypothetical
        import java.util.Comparator
        java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
          .sorted(Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.delete(f))
      }

      if (tiers("graph"))
        measure("graph", Some(Map("hnsw:space" -> "cosine",
          "hnsw:M" -> "8", "hnsw:construction_ef" -> "256")))
      if (tiers("ivf")) measure("ivf", None)
      // metric-consistent IVF point (r14, verdict #4): hnsw:space
      // alone selects the metric without engaging the graph tier, so
      // the IVF trainer/probes run in COSINE — the ladder's truth
      // metric — instead of the default l2 whose top-10 disagreement
      // with cosine truth produced the misleading 0.758 reading.
      if (tiers("ivfcos"))
        measure("ivfcos", Some(Map("hnsw:space" -> "cosine")))
    }
    spark.stop()
  }
}
