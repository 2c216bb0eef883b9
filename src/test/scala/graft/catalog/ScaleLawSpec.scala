package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the GROWTH LAWS the 100-TB design claims (r12 — the scale
  * audit's formula half; the empirical half is the TuneScale record
  * table in ARCHITECTURE.md, measured to 1.6M rows):
  *
  *  - graph explored-rows budget grows ∝ log N at constant ef,
  *  - IVF cell count ∝ √N, so the probed fraction at constant
  *    nprobe ∝ N^(−1/2),
  *  - the kNN-build signature width adapts so the expected LSH
  *    bucket stays ~64 rows — without it every bucket trips the
  *    dense-skip past 64·maxBucket rows and the base graph silently
  *    degenerates to the ring (the r12 scale-audit cliff).
  */
class ScaleLawSpec extends SparkSpec {

  private lazy val cd = {
    val wh = java.nio.file.Files.createTempDirectory("graft-scalelaw").toString
    new CollectionData(new ChromaSpark(spark, wh))
  }

  test("graph explored budget grows logarithmically: +one constant walk per 8x of corpus") {
    val m = 8
    // pinned through 3.3×10⁸ rows (r14 — an octave past the verdict's
    // 1.6×10⁸ ask): the formula half of the certification; the
    // empirical half is the TuneScale ladder, measured to 25.6M
    val sizes = Seq(10000L, 80000L, 640000L, 5120000L, 40960000L,
      327680000L)
    val budgets = sizes.map(n => cd.graphExploredBudget(m, n, 10))
    // each x8 adds exactly one layer...
    val levels = sizes.map(n => cd.graphMaxLevelFor(m, n))
    assert(levels === Seq(4, 5, 6, 7, 8, 9))
    // ...and the whole budget obeys the r13 scale-serve law at every
    // point: one exhaustive model-scale layer (≤ the 131,072-row
    // cap — the basin-coverage constant), plus one stepped walk per
    // layer too big to enumerate, plus the constant base walk.
    // Nothing polynomial: the N-terms are the layer count (log₈ N)
    // and the cap-bounded exhaustive scan.
    val perLayerAbove = 3L * 128 * m // uh·ue·m at the scale tier
    val baseMax = 4L * 96 * m        // bh·ef·m at the volume tier
    val cap = graft.operators.GraphAnn.ExhaustiveLayerCapRows
    sizes.zip(budgets).zip(levels).foreach { case ((n, b), lvl) =>
      assert(b <= cap + (lvl - 1).toLong * perLayerAbove + baseMax,
        s"budget at $n exceeds cap + walks + base: $b")
    }
    // once the exhaustive layer size stabilizes (8×-aligned sizes
    // from 640k up all pick an 80,000-row layer), each further x8
    // adds EXACTLY one stepped walk — plus, at the 640k→5.12M step,
    // the one-time base-beam widening 64→96 the build-volume gate
    // pays (32·bh·m rows)
    val deltas = budgets.sliding(2).map { case Seq(a, b) => b - a }.toSeq
    val efStep = 32L * 4 * m
    assert(deltas(2) === perLayerAbove + efStep,
      s"640k->5.12M must be one walk + the beam step, got ${deltas(2)}")
    assert(deltas(3) === perLayerAbove,
      s"5.12M->41M must be exactly one stepped walk, got ${deltas(3)}")
    assert(deltas(4) === perLayerAbove,
      s"41M->328M must be exactly one stepped walk, got ${deltas(4)}")
    // in the exhaustive-base band (gate ≤ N ≤ cap) the serve scores
    // the base outright — budget = N exactly, and the serve is EXACT
    // (the r14 closure of the 100k whole-basin miss: a ≤-cap corpus
    // is model-scale by the law's own definition)
    assert(budgets(1) === sizes(1),
      s"band budget must be the base itself, got ${budgets(1)}")
    assert(sizes(1) <= cap)
    // leaving the band costs only the base walk the exhaustive base
    // didn't need (the exhaustive LAYER stays ~the same size)
    assert(deltas(1) > 0 && deltas(1) <= cap,
      s"band exit must stay under the cap, got ${deltas(1)}")
    // fitted growth exponent: on log-log axes a power law explored ∝
    // N^p has slope p = dlog(budget)/dlog(N); for a log-growth curve
    // the slope must collapse toward 0 as N grows — far below even
    // the r9 flat graph's p = 1/2 once past the one-time steps.
    val slopes = sizes.zip(budgets).sliding(2).map {
      case Seq((n1, b1), (n2, b2)) =>
        math.log(b2.toDouble / b1) / math.log(n2.toDouble / n1)
    }.toSeq
    assert(slopes.last < 0.1, s"tail growth exponent ${slopes.last} not log-like")
  }

  test("graph serve-budget law: fixture constants below the gate, certified steps above") {
    import graft.operators.GraphAnn.{serveBudgetFor, ScaleGateRows,
      BuildVolumeGateRows}
    // every oracled corpus (≤ 5,970 rows) serves the certified
    // fixture constants — the DuckDB twins replay them literally
    Seq(490L, 1470L, 5970L, ScaleGateRows - 1).foreach(n =>
      assert(serveBudgetFor(n) === ((3, 2, 64, 48)), s"sub-gate budget at $n"))
    // at and above the gate: the ladder-measured stepped budget that
    // holds the recall floor (ARCHITECTURE.md r13 table)
    Seq(ScaleGateRows, 100000L, 400000L, 1600000L,
        BuildVolumeGateRows - 1).foreach(n =>
      assert(serveBudgetFor(n) === ((4, 3, 128, 64)), s"scale budget at $n"))
    // at and above the build-volume gate the base beam widens once
    // more (96 — the bounded-volume-edges compensation, measured at
    // 6.4M: 0.956→0.970 mean / p10 0.80→0.90, saturating at 128)
    Seq(BuildVolumeGateRows, 6400000L, 1000000000L).foreach(n =>
      assert(serveBudgetFor(n) === ((4, 3, 128, 96)), s"volume-tier budget at $n"))
  }

  test("IVF cells follow the sqrt law; probed fraction shrinks as N^(-1/2) below the gate, N^(-1/4) above") {
    val sizes = Seq(10000L, 40000L, 160000L, 640000L, 2560000L)
    val cells = sizes.map(cd.annClustersFor)
    cells.zip(sizes).foreach { case (c, n) =>
      assert(c === math.ceil(math.sqrt(n.toDouble)).toInt) }
    // below the scale gate nprobe is the certified constant 24, so
    // each x4 of corpus doubles the cells and halves the probed
    // fraction (exponent -1/2); above it the r13 law grows nprobe ∝
    // √cells to hold the boundary-query recall floor, so the
    // fraction keeps shrinking at exponent -1/4 — still sublinear,
    // never constant-fraction. The gate-crossing step mixes the two
    // regimes plus the one-time 4/3 coefficient step; it is skipped,
    // like the graph budget's gate step.
    val fracs = cells.map(c => cd.annNprobeFor(c).toDouble / c)
    val slopes = sizes.zip(fracs).sliding(2).map {
      case Seq((n1, f1), (n2, f2)) =>
        math.log(f2 / f1) / math.log(n2.toDouble / n1)
    }.toSeq
    assert(math.abs(slopes.head - (-0.5)) < 0.02,
      s"sub-gate probed-fraction exponent ${slopes.head} != -1/2")
    slopes.drop(2).foreach(s => assert(math.abs(s - (-0.25)) < 0.02,
      s"scale-tier probed-fraction exponent $s != -1/4"))
    // the law itself, pinned at the ladder points (cells = ⌈√N⌉ of
    // 100k/400k/1.6M) and at the certified fixture widths
    assert(CollectionData.nprobeLawFor(78) === 24)
    assert(CollectionData.nprobeLawFor(23) === 23) // tiny: probe all
    assert(CollectionData.nprobeLawFor(317) === 36)
    assert(CollectionData.nprobeLawFor(633) === 51)
    assert(CollectionData.nprobeLawFor(1265) === 72)
  }

  test("kNN-build signature width adapts: expected bucket stays bounded, oracled corpora stay at 6 bits") {
    import graft.operators.GraphAnn.bitsForLayer
    // every oracled corpus (<= 8192 rows) keeps the DuckDB twins'
    // fixed 6-bit derivation
    Seq(490L, 1470L, 5970L, 8192L).foreach(n => assert(bitsForLayer(n) === 6))
    // past that, buckets stay in (32, 128] expected rows — never the
    // r12 cliff where N/2^bits > maxBucket kills every bucket
    Seq(10000L, 20000L, 100000L, 1600000L).foreach { n =>
      val b = bitsForLayer(n)
      val expectedBucket = n.toDouble / math.pow(2.0, b.toDouble)
      assert(expectedBucket <= 128.0 && expectedBucket > 32.0,
        s"n=$n bits=$b bucket=$expectedBucket")
    }
    // past the build-volume gate (~4.2M) the target tightens to
    // (16, 32] and the dense cap drops to ≤ 128, bounding the
    // candidate pair shuffle by 8N·128 at any skew (the 6.4M ladder
    // build materialized > 150 GB of pair traffic at the 64-row
    // target — r13); each node still draws an ~8× candidate
    // oversample for its top-2M edges (the first cut at 24/96
    // measured a base-edge recall tail at 6.4M)
    Seq(6400000L, 100000000L, 10000000000L).foreach { n =>
      val b = bitsForLayer(n)
      val expectedBucket = n.toDouble / math.pow(2.0, b.toDouble)
      assert(expectedBucket <= 32.0 && expectedBucket > 16.0,
        s"n=$n bits=$b bucket=$expectedBucket")
      assert(graft.operators.GraphAnn.bucketCapFor(n, 256) === 128)
    }
    assert(graft.operators.GraphAnn.bucketCapFor(1600000L, 256) === 256)
  }

  test("scale serve integration: exhaustive-base band is exact, forced layer branch holds recall, blackout guard survives a full-layer mask") {
    import org.apache.spark.sql.functions.{col => cc, format_string}
    // 66,000 rows — just past the 65,536 scale gate AND inside the
    // 131,072-row exhaustive-base band (r14): the ONLY automated
    // exercise of the scale serve branches (every driver fixture is
    // sub-gate BY DESIGN so the DuckDB twins replay the certified
    // walk constants; the ladder certifies by hand at 100k–25.6M).
    // dim 8 / 512 centers keeps the build tens of seconds at the
    // suite's local[4] while the LAW inputs (row count, layer sizes)
    // are exactly the scale regime's.
    val n = 66000L
    val corpus = graft.TuneScale.vectors(spark, 0L, n, 8, 512)
      .localCheckpoint(true)
    val wh = java.nio.file.Files.createTempDirectory("graft-scaleserve").toString
    // a PRIVATE index root: this test mutilates its artifact (part 4)
    // and the artifact cache is content-keyed, so a re-run against
    // the shared root would cache-hit the mutilated remains and fail
    // in part 2 (which still needs the adjacency it deletes later)
    spark.conf.set("spark.graft.collection.annIndexRoot",
      java.nio.file.Files.createTempDirectory("graft-scaleserve-idx").toString)
    try {
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    c.createCollection("ss", Some(Map("hnsw:space" -> "cosine",
      "hnsw:M" -> "8", "hnsw:construction_ef" -> "256")))
    d.add("ss", corpus.select(
      format_string("v%09d", cc("vec_id")).as("id"), cc("embedding")))
    val queries = graft.TuneScale.vectors(spark, n, n + 15L, 8, 512)
      .select(cc("vec_id").as("query_id"), cc("embedding").as("qvec"))
      .localCheckpoint(true)
    def bruteTop10: Set[(Long, String)] = queries.crossJoin(
        d.get("ss", include = Seq("embeddings"))
          .select(cc("id"), cc("embedding")))
      .select(cc("query_id"), cc("id"),
        graft.operators.VectorOps.cosine(cc("qvec"), cc("embedding")).as("s"))
      .withColumn("r", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(cc("query_id"))
          .orderBy(cc("s").desc, cc("id").asc)))
      .filter(cc("r") <= 10).select(cc("query_id"), cc("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def serve(): Array[(Long, String)] =
      d.query("ss", queries, nResults = 10, include = Nil)
        .collect().map(r =>
          (r.getLong(r.fieldIndex("query_id")), r.getString(r.fieldIndex("id"))))
    // 1) DEFAULT LAW — the exhaustive-base band: N ≤ the 131,072
    //    cap, so the serve scores the base outright and the result
    //    is EXACT (the r14 closure of the 100k whole-basin miss).
    //    Both sides rank by the same cosine with id tie-breaks, so
    //    equality is set equality, not a recall floor.
    val res = d.query("ss", queries, nResults = 10, include = Nil)
    val served = res.collect().map(r =>
      (r.getLong(r.fieldIndex("query_id")), r.getString(r.fieldIndex("id"))))
    assert(served.toSet === bruteTop10,
      "exhaustive-base band must serve the exact top-10")
    // the artifact is still the full scale shape (levels carries the
    // member VECTOR, layout law recorded) — the band is a SERVE-time
    // law; growth past the cap re-engages the hierarchy, no rebuild
    val scanned = res.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    val idx = scanned.find(_.contains("collgraph"))
      .getOrElse(fail("not serving from the graph tier"))
      .replaceAll("/(base|edges|edges_l\\d+|levels|entries|params|groups)(/.*)?$", "")
      .replaceAll("^file:", "") // rootPaths are URIs; Files.* wants paths
    assert(spark.read.parquet(s"$idx/levels").columns.toSet ===
      Set("vec_id", "lvl", "vec"))
    val pr = spark.read.parquet(s"$idx/params").head()
    assert(pr.getInt(pr.fieldIndex("npb")) ===
      graft.operators.GraphAnn.pbBucketsFor(n))
    assert(graft.operators.GraphAnn.serveBudgetFor(
      pr.getLong(pr.fieldIndex("n"))) === ((4, 3, 128, 64)))
    // params `hops` records the serve law for the artifact's own N
    // (r14 — the readout-divergence closure): above the gate, 4
    assert(pr.getInt(pr.fieldIndex("hops")) === 4)
    // 2) FORCED LAYER BRANCH: shrinking the cap below N (session
    //    knob) pushes the serve onto the exhaustive-LAYER seed +
    //    base walk — the path the ladder certifies at 400k+. Layer 1
    //    (8,250 rows ≤ 16,000) seeds; recall floor holds (0.85
    //    absorbs the 15-query fixture's quantization).
    spark.conf.set("spark.graft.graph.exhaustiveCap", "16000")
    try {
      val servedL = serve()
      val hitsL = servedL.count(bruteTop10.contains)
      assert(hitsL >= 128, s"forced layer-branch recall@10 below 0.85: $hitsL/150")
      // 3) BLACKOUT GUARD (r14 advisory closure): upsert EVERY
      //    layer-1 member — the exhaustive seed layer is now fully
      //    masked, and without the guard the seed frame would be
      //    empty and the serve would silently return zero rows. The
      //    guard must fall back to walkStarts' layered descent
      //    (whose own fallbacks bottom out at live base ids) and
      //    still produce full result sets.
      val layer1 = spark.read.parquet(s"$idx/levels")
        .filter(cc("lvl") >= 1).select(cc("vec_id"))
        .collect().map(_.getString(0)).toSeq
      assert(layer1.size < 10000, "fixture drift: layer 1 must stay under the delta cap")
      val sess = spark
      import sess.implicits._
      d.upsert("ss", layer1.map(id => (id, Seq.fill(8)(-9f)))
        .toDF("id", "embedding"))
      val servedB = serve()
      assert(servedB.length === 150,
        s"blackout fallback must still serve 10 rows per query, got ${servedB.length}")
      assert(servedB.groupBy(_._1).size === 15)
    } finally spark.conf.unset("spark.graft.graph.exhaustiveCap")
    // 4) BAND + DELTA, then ARTIFACT MUTILATION — the sharpest
    //    behavioral proof the band path reads NO graph structure:
    //    at the default law the masked base + delta serve is exact
    //    against the post-upsert truth; delete the upper-layer
    //    edges, the entry list, AND the base adjacency, and the
    //    serve must return the IDENTICAL rows (a walk serve would
    //    fail outright reading edges). Plan inspection cannot see
    //    this: localCheckpoint truncates seed subtrees out of the
    //    final plan.
    val servedAfter = serve().toSet
    assert(servedAfter === bruteTop10,
      "band serve with a post-build delta must stay exact")
    import java.util.Comparator
    val lvlCount = pr.getInt(pr.fieldIndex("maxlevel"))
    val doomed = (1 until lvlCount).map(l => s"$idx/edges_l$l") ++
      Seq(s"$idx/entries", s"$idx/edges")
    doomed.foreach { p =>
      val pth = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(pth))
        java.nio.file.Files.walk(pth).sorted(Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.delete(f))
    }
    // idempotent: the artifact is content-keyed, so a re-run of this
    // spec finds it already mutilated by the previous run — which is
    // itself the assertion still doing its job
    val served2 = serve().toSet
    assert(served2 === servedAfter,
      "band serve must not depend on any adjacency or the entry list")
    } finally spark.conf.unset("spark.graft.collection.annIndexRoot")
  }

  test("past the old cliff the kNN stage still yields metric edges, not just the ring") {
    import org.apache.spark.sql.functions.{col => cc, countDistinct}
    // 80k direction-uniform rows (5x past 64*256, the fixed-width
    // cliff): with the old 6-bit signatures the expected bucket holds
    // ~1,250 rows >> maxBucket 256, the dense-skip swallows most buckets and
    // a large share of nodes lose EVERY metric neighbor; adaptive
    // width must give every node a kNN edge. centers = n makes each
    // vector its own center (no cluster skew sheltering buckets
    // under the cap); dim 8 keeps the spec cheap — the law under
    // test is bucket arithmetic, not geometry.
    val n = 80000L
    val corpus = graft.TuneScale.vectors(spark, 0L, n, 8, n.toInt)
      .select(cc("vec_id"), cc("embedding").as("vec")).localCheckpoint(true)
    val dist = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      graft.operators.VectorOps.l2(a, b)
    // kNN stage only (no ring): distinct sources = nodes that kept
    // at least one metric neighbor
    def coveredNodes(bits: Int): Long = graft.operators.GraphAnn
      .buildKnnGraphDist(corpus, 4, dist, dim = 8, bitsPerTable = bits,
        strides = Seq.empty)
      .agg(countDistinct(cc("src"))).head().getLong(0)
    val fixed = coveredNodes(6)
    val adaptive = coveredNodes(graft.operators.GraphAnn.bitsForLayer(n))
    // hyperplane sign patterns are not equiprobable, so a few tail
    // buckets still trip the cap under the adaptive width — coverage
    // must stay essentially total (ring links carry the stragglers)
    assert(adaptive >= n - n / 100,
      s"adaptive width must cover ~every node: $adaptive of $n")
    assert(fixed < n / 2,
      s"fixed 6-bit width 5x past the cliff should orphan most nodes, kept $fixed")
  }
}
