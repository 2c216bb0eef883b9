package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GRAPH-BASED ANN — the navigable-small-world family (Malkov et
  * al. 2014), re-expressed as DataFrame ops, in two roles:
  *
  *  - the FLAT operator family ([[buildKnnGraph]]/[[beamSearch]],
  *    Long ids, cosine): an approximate k-NN graph (top-M neighbors
  *    from LSH-bucketed candidates plus deterministic ring links for
  *    guaranteed connectivity) searched by per-query beam from fixed
  *    medoid-nearest entries — `vec_ann_graph`'s certified shape,
  *    search cost hops × |Q| × ef × M once the graph exists;
  *  - the LAYERED-hierarchy primitives the collection tier's true-
  *    HNSW serve composes ([[buildKnnGraphDist]]/[[levelRankDf]]/
  *    [[ringEdges]]/[[beamSearchSeeded]], any id type, any metric):
  *    per-layer graph builds, deterministic level ranks, and
  *    per-query-seeded walks chained top-down so the base walk is
  *    query-local at constant ef (see CollectionData.buildGraphIndex).
  *
  * Scale shape:
  *  - Build: candidates come from the banded LSH equi-join (never
  *    all-pairs), oversized buckets are SKIPPED (a dense bucket's
  *    nodes are already reachable through other tables and the ring —
  *    the semanticNearDup cap discipline); per-node top-M is a
  *    WindowGroupLimit keyed by node. The ring links rank nodes with
  *    the sharded [[TextAnalysis.withShardedRank]] construction — no
  *    unpartitioned window anywhere.
  *  - Search: each hop is one equi-join of the (|Q| × ef)-row
  *    frontier against the adjacency on src plus one fetch join
  *    against the corpus on vec_id; nothing corpus-sized shuffles.
  *    Everything is exact cosine with vec_id tie-breaks, so results
  *    are engine-deterministic; recall is certified by the driver's
  *    recall_at_10 column with a spec floor, the rows-only ANN
  *    discipline.
  */
object GraphAnn {

  /** Approximate kNN graph: (src, dst) adjacency, out-degree ≤ m + 2
    * (m scored neighbors + ring successor + ring stride link).
    *
    * The candidate self-join carries float vectors — acceptable here
    * because the BUILD is a one-time pass whose volume is bounded by
    * the bucket cap (unlike a query-path hot scan); at extreme scale
    * the same join runs on int8 codes with exact re-scoring of the
    * top-M survivors, the [[Dedup.semanticNearDup]] code-carrying
    * candidate discipline, without changing the graph contract.
    */
  def buildKnnGraph(corpus: DataFrame, m: Int = 8,
                    tables: Int = 8, bitsPerTable: Int = 6, dim: Int = 64,
                    maxBucket: Int = 256, seed: Long = 42L): DataFrame = {
    // md5-derived planes (the certification-sweep discipline): the
    // candidate banding is re-derivable from the seed string alone
    val allPlanes = (0 until tables).map(t =>
      VectorOps.hashHyperplanes(bitsPerTable, dim, t, seed))
    val sig = corpus.select(col("vec_id"), col("vec"),
      posexplode(graft.functions.LshSignatures(col("vec"), allPlanes)).as(Seq("t", "sig")))
    // dense buckets explode quadratically in the self-join; skip them
    // — their members stay reachable via other tables and the ring
    val sized = sig.withColumn("bn",
      count(lit(1)).over(Window.partitionBy(col("t"), col("sig"))))
      .filter(col("bn") <= maxBucket)
    val cand = sized.as("a").join(sized.as("b"),
        col("a.t") === col("b.t") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        col("a.vec").as("svec"), col("b.vec").as("dvec"))
      .dropDuplicates("src", "dst") // collisions across tables
    val wTop = Window.partitionBy(col("src"))
      .orderBy(col("score").desc, col("dst").asc)
    val scored = cand
      .select(col("src"), col("dst"),
        VectorOps.cosine(col("svec"), col("dvec")).as("score"))
      .withColumn("r", row_number().over(wTop))
      .filter(col("r") <= m)
      .select(col("src"), col("dst"))
    // deterministic ring: rank by vec_id (sharded — no global window),
    // link rank r -> r+1 (mod N) and r -> r+37 (mod N). Guarantees the
    // graph is strongly connected regardless of LSH recall, the role
    // HNSW's long links play.
    val (ranked0, n) = TextAnalysis.withShardedRank(
      corpus.select(col("vec_id")), "rk", 32, Seq(col("vec_id")))
    val ranked = ranked0.select(col("vec_id"), (col("rk") - 1L).as("rk")) // 0-based
    def ringAt(stride: Long): DataFrame =
      ranked.as("x").join(ranked.as("y"),
          col("y.rk") === (col("x.rk") + lit(stride)) % lit(n))
        .select(col("x.vec_id").as("src"), col("y.vec_id").as("dst"))
    scored
      .unionByName(ringAt(1L))
      .unionByName(ringAt(37L % math.max(n, 1L)))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Signature width for an N-row layer: 6 bits (64 buckets/table)
    * up to 8,192 rows — every oracled corpus, so the DuckDB twins'
    * fixed range(0,6) derivation stays exact — then grows so the
    * EXPECTED bucket holds ~64 rows (⌈log₂(N/64)⌉). Without this the
    * fixed width is a hidden scale cliff: past 64·maxBucket rows
    * every bucket trips the `bn <= maxBucket` dense-skip and the
    * "graph" silently degenerates to the ring (r12 scale audit — the
    * exact failure shape r9's flat-√N law had, one level up).
    */
  def bitsForLayer(n: Long): Int =
    if (n <= 8192L) 6
    else if (n < BuildVolumeGateRows)
      math.ceil(math.log(n / 64.0) / math.log(2.0)).toInt
    else math.ceil(math.log(n / 32.0) / math.log(2.0)).toInt

  /** Row gate for the BUILD-VOLUME tier of the candidate laws (r13):
    * past ~4.2M rows the kNN stage's pair volume Σ b·min(b, cap) —
    * which the shuffle (and, on skewed sign patterns, the dense tail
    * at the cef cap) must carry — outgrows a single box's scratch
    * space (the 6.4M ladder build materialized > 150 GB of candidate
    * traffic at the 64-row bucket target and died on it, twice).
    * Above the gate the expected bucket tightens to ~32 rows
    * ([[bitsForLayer]]'s third tier) and the dense-bucket cap drops
    * to ≤ 128 ([[bucketCapFor]]): each node still draws ~8·32 ≈ 250
    * candidates for its top-2M edges (an ~8× oversample — the first
    * cut at 24/96 measured a recall tail at 6.4M: base edges from a
    * 6× pool left min-recall 0.50 queries that 8× repairs), while
    * the worst-case pair volume stays bounded by 8N·128 regardless
    * of how the corpus clusters (~25% of the unbounded 6.4M build's
    * shuffle, which twice outgrew local scratch). Ladder-certified
    * at 6.4M — every smaller artifact is bit-identical.
    */
  val BuildVolumeGateRows = 4194304L

  /** Effective dense-bucket skip cap for an N-row layer: the
    * caller's `cef` (the user's construction-pool knob) below the
    * build-volume gate, min(cef, 128) above it — floored at
    * `degree + 1` so a node can still fill its requested degree
    * from one bucket (the graphKnobs cef ≥ M+1 contract survives
    * the cap: an hnsw:M ≥ 64 collection at the volume tier would
    * otherwise quietly go sparse at exactly the scale the cap
    * protects). See [[BuildVolumeGateRows]].
    */
  def bucketCapFor(n: Long, cef: Int, degree: Int = 16): Int =
    if (n < BuildVolumeGateRows) cef
    else math.min(cef, math.max(128, degree + 1))

  /** Usable bytes across the session's Spark local dirs — the
    * scratch capacity the candidate stage's transient shuffle must
    * fit ([[wavesForVolume]]). Read at build time, not cached: a
    * prior build's leftover spill legitimately shrinks what the next
    * one may claim.
    */
  /** Usable SCRATCH bytes across the session's Spark local dirs,
    * media-aware (r14, recalibrated after the first default-dirs
    * 6.4M attempt was OOM-killed): a tmpfs local dir's statvfs
    * headroom is RAM the JVM heap also competes for — and shuffle
    * files persist until their stage's lineage is GC'd, so the
    * figure must be conservative. A tmpfs dir contributes 30% of its
    * usable bytes, a disk dir 80%.
    */
  private[graft] def localScratchUsableBytes(spark: SparkSession): Long =
    spark.sparkContext.getConf
      .get("spark.local.dir", System.getProperty("java.io.tmpdir", "/tmp"))
      .split(",").map(_.trim).filter(_.nonEmpty)
      .map { d =>
        val f = new java.io.File(d)
        val tmpfs =
          try java.nio.file.Files.getFileStore(f.toPath).`type`() == "tmpfs"
          catch { case _: Throwable => false }
        if (tmpfs) (f.getUsableSpace * 3) / 10 else (f.getUsableSpace * 8) / 10
      }.sum

  /** Effective bytes one candidate pair costs through the fused
    * single-generation exchange — CALIBRATED from the r14 25.6M
    * morgue, not modeled: the candidate join's (src, dst, d)
    * string-id pair exchange measured 45.9 GB for 5.09·10⁸ pairs =
    * 90 B effective after lz4. (The r13 figure of 24 B measured only
    * the post-dedup window exchange; budgeting with it under-sized
    * the 25.6M build ~4× and the JVM was OOM-killed mid-wave with
    * every per-wave budget "honored".)
    */
  private[graft] val PairShuffleBytes = 96L

  /** Bytes one kept signature row (id + dim floats + table/sig)
    * costs through the candidate join's build-side exchange —
    * measured ~195 B at dim = 64 from the same morgue (6.6 GB /
    * 34M rows); headroom for wider ids. The whole kept side rides
    * EVERY wave, so it is the fixed per-wave cost that splitting
    * cannot reduce — the budget subtracts it before dividing.
    */
  private[graft] val KeptRowBytes = 256L

  /** Number of sequential WAVES the kNN candidate stage splits into
    * so its transient shuffle fits local scratch (r14 — the
    * automatic replacement for hand-pooled SCALE_LOCAL_DIR sizing):
    * the SOURCE id space is hash-partitioned into `waves` slices
    * (see [[knnTopD]] — per-src self-contained, no cross-wave
    * merge), so a wave's live transit is ~pairVolume/waves plus the
    * kept signature side it re-exchanges. A wave may claim a third
    * of scratch: the rest stays for the previous wave's
    * not-yet-collected files and the final union's consumers. The
    * floor keeps a pathological kept estimate from driving the wave
    * count to the cap; the cap bounds the sequential job count.
    */
  private[graft] def wavesForVolume(pairCount: Long, keptRows: Long,
                                    usableBytes: Long): Int = {
    val fixed = keptRows * KeptRowBytes
    val budget = math.max(usableBytes / 3 - fixed, usableBytes / 8)
    math.min(64L, math.max(1L,
      (pairCount * PairShuffleBytes + budget - 1) / budget)).toInt
  }

  /** Wave count for the symmetrize→dedup→cap stage of a layered
    * build ([[graft.catalog.CollectionData]]): 2·n·k (src, dst, ed)
    * rows through one fused src-keyed exchange plus the per-slice
    * distinct — ~160 B/row realized with string ids (pair row + the
    * distinct's id-only row). Same third-of-scratch claim as
    * [[wavesForVolume]].
    */
  private[graft] def wavesForRecap(n: Long, k: Int,
                                   usableBytes: Long): Int = {
    val bytes = 2L * n * k * 160L
    math.min(64L, math.max(1L,
      (bytes + usableBytes / 3 - 1) / (usableBytes / 3))).toInt
  }

  /** Test hook: force the recap stage's wave count below the volume
    * gate (its organic trigger, layerN ≥ [[BuildVolumeGateRows]], is
    * unreachable at fixture scale — this is how the spec pins the
    * waved recap bit-equal to the single pass). Production leaves it
    * None.
    */
  @volatile private[graft] var recapForcedWaves: Option[Int] = None

  /** The kNN candidate stage shared by the metric-generic builds:
    * per-src top-`m` neighbors as (src, dst, d) — d IS
    * dist(src, dst), exact, so symmetric-metric callers (cosine, l2,
    * ip — every collection metric) can symmetrize and re-cap edges
    * WITHOUT re-joining vectors (r14: the re-cap's two
    * vector-carrying joins were the largest transient of the 6.4M
    * build after the pair shuffle itself, and grow ∝ N·M·dim).
    *
    * Above [[BuildVolumeGateRows]] the stage runs in
    * capacity-derived WAVES (see [[wavesForVolume]]): the realized
    * pair volume Σ b·(b−1) and kept-row count are first measured
    * from the bucket histogram (one aggregate over the signature
    * frame — map-side combined, output is bucket-count-sized), then
    * the SOURCE id space is hash-split so each wave's shuffle fits
    * the measured local scratch. A wave filters only the JOIN'S
    * PROBE side — the kept side stays whole — so every source's
    * complete candidate set ranks inside exactly one wave and the
    * union of slices IS the global result (no cross-wave merge; the
    * r13 shape's running top-m fold re-exchanged N·m rows per wave
    * and its bucket-keyed slices were why the fold existed at all).
    * Wave staging is bit-invisible in the artifact. Below the gate:
    * one wave, the certified single-pass shape.
    */
  private[graft] def knnTopD(corpus: DataFrame, m: Int,
                             dist: (Column, Column) => Column,
                             tables: Int = 8, bitsPerTable: Int = 6,
                             dim: Int = 64, maxBucket: Int = 256,
                             seed: Long = 42L, n: Long = 0L,
                             forcedWaves: Option[Int] = None): DataFrame = {
    val allPlanes = (0 until tables).map(t =>
      VectorOps.hashHyperplanes(bitsPerTable, dim, t, seed))
    val sig = corpus.select(col("vec_id"), col("vec"),
      posexplode(graft.functions.LshSignatures(col("vec"), allPlanes)).as(Seq("t", "sig")))
    // Bucket census FIRST — one map-side-combined aggregate whose
    // output is bucket-count-sized. It serves both masters: the
    // kept-bucket semi-join below and the realized pair volume the
    // wave sizing needs (measured, not modeled: clustered sign
    // patterns make Σ b·(b−1) diverge arbitrarily from 8N·E[b] —
    // the r13 lesson, learned twice).
    val bnTab = sig.groupBy(col("t"), col("sig"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBucket)
    // Over-cap buckets die BEFORE any wide exchange: on clustered
    // corpora MOST signature rows land in mega-buckets (87% of the
    // 25.6M ladder's), and the old in-exchange bn window shuffled
    // them — vectors aboard — only to drop them on arrival. The
    // explicit broadcast ships the kept keys to the scan side; at
    // fixture scale it is a sub-MB table, at ladder scale tens of
    // MB (one entry per surviving bucket, never per row).
    val kept = sig.join(
      broadcast(bnTab.select(col("t"), col("sig"))),
      Seq("t", "sig"), "left_semi")
    val wTop = Window.partitionBy(col("src"))
      .orderBy(col("d").asc, col("dst").asc)
    // Candidate scoring is MAP-SIDE on the co-partitioned bucket
    // join — (src, dst, d) is all that ever shuffles after it.
    // Fused dedup + rank, ONE src-keyed exchange (r14 — the r13
    // shape's groupBy(src,dst).min(d) was a SECOND pair-sized
    // exchange, 45.9 GB at the 25.6M morgue): the same (src, dst)
    // surfaces once per shared table with the SAME d (dist is
    // deterministic on the same two vectors), so under
    // (d asc, dst asc) the copies are ADJACENT and a lag-compare on
    // dst IS the dedup (dst identifies the pair within a src
    // partition). The rank window shares the dedup window's
    // partitioning and sort — no extra exchange, no extra sort.
    def topOf(probe: DataFrame): DataFrame =
      probe.as("a").join(kept.as("b"),
          col("a.t") === col("b.t") && col("a.sig") === col("b.sig") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
          dist(col("a.vec"), col("b.vec")).as("d"))
        .withColumn("dup", lag(col("dst"), 1).over(wTop) === col("dst"))
        .filter(!coalesce(col("dup"), lit(false)))
        .withColumn("r", row_number().over(wTop))
        .filter(col("r") <= m)
        .select(col("src"), col("dst"), col("d"))
    val waves = forcedWaves.getOrElse {
      if (n < BuildVolumeGateRows) 1
      else {
        val volRow = bnTab.agg(
          coalesce(sum(col("bn") * (col("bn") - lit(1L))), lit(0L)),
          coalesce(sum(col("bn")), lit(0L))).head()
        val (pairs, keptRows) = (volRow.getLong(0), volRow.getLong(1))
        val usable = localScratchUsableBytes(corpus.sparkSession)
        val w = wavesForVolume(pairs, keptRows, usable)
        println(s"GRAFT knnTopD: n=$n pairs=$pairs kept=$keptRows " +
          s"-> $w wave(s) (scratch=${usable / (1L << 30)}G)")
        w
      }
    }
    if (waves <= 1) topOf(kept)
    else {
      // SRC-sliced waves: the filter keys on the PROBE side's id
      // only, so it pushes below that side's exchange while the
      // kept side stays whole — every source's complete candidate
      // set ranks inside one wave, slices are src-disjoint, and
      // their union is the exact global result. Each slice is cut
      // to disk eagerly so the wave's shuffles go unreachable
      // before the next wave claims scratch; the GC nudge lets
      // ContextCleaner free them promptly (the transient budget in
      // [[wavesForVolume]] assumes one wave's files live at a time,
      // plus the not-yet-collected previous wave's).
      val slices = (0 until waves).map { w =>
        val slice = topOf(kept.filter(
          pmod(xxhash64(col("vec_id")), lit(waves.toLong)) === lit(w.toLong)))
          .localCheckpoint(eager = true,
            storageLevel = org.apache.spark.storage.StorageLevel.DISK_ONLY)
        System.gc()
        if (n >= BuildVolumeGateRows)
          println(s"GRAFT knnTopD: wave ${w + 1}/$waves cut " +
            s"(scratch free=${localScratchUsableBytes(corpus.sparkSession) / (1L << 30)}G)")
        slice
      }
      slices.reduce(_ unionByName _)
    }
  }

  /** Metric- and id-type-generic kNN-graph build — the collection
    * tier's entry point (string ids, the collection's own distance).
    * Same construction as [[buildKnnGraph]] (LSH-bucketed candidates,
    * dense-bucket skip, per-src top-M, deterministic ring links), but
    * neighbors rank by `dist` ASCENDING (lower = closer) and `vec_id`
    * may be any orderable type — every id touch is an equi-join, a
    * window partition, or an orderable tie-break. Kept separate from
    * the certified Long/cosine path so this addition cannot perturb
    * `vec_ann_graph`'s byte-exact oracle. Pass the layer row count
    * `n` so the volume tier's wave staging ([[knnTopD]]) can engage
    * past [[BuildVolumeGateRows]].
    */
  def buildKnnGraphDist(corpus: DataFrame, m: Int,
                        dist: (Column, Column) => Column,
                        tables: Int = 8, bitsPerTable: Int = 6, dim: Int = 64,
                        maxBucket: Int = 256, seed: Long = 42L,
                        strides: Seq[Long] = Seq(1L, 37L),
                        layerN: Long = 0L): DataFrame = {
    val scored = knnTopD(corpus, m, dist, tables, bitsPerTable, dim,
      maxBucket, seed, layerN).select(col("src"), col("dst"))
    val (ranked0, n) = TextAnalysis.withShardedRank(
      corpus.select(col("vec_id")), "rk", 32, Seq(col("vec_id")))
    val ranked = ranked0.select(col("vec_id"), (col("rk") - 1L).as("rk"))
    def ringAt(stride: Long): DataFrame =
      ranked.as("x").join(ranked.as("y"),
          col("y.rk") === (col("x.rk") + lit(stride)) % lit(n))
        .select(col("x.vec_id").as("src"), col("y.vec_id").as("dst"))
    strides.map(s => ringAt(s % math.max(n, 1L)))
      .foldLeft(scored)(_ unionByName _)
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Deterministic ring edges over `corpus` ids (rank by vec_id,
    * sharded — no global window): rank r → r+stride (mod N) for each
    * stride. The connectivity guarantee a layered build keeps EXEMPT
    * from its degree re-cap — dropping a ring edge for being
    * metric-far is exactly how HNSW's shrink step disconnects graphs.
    */
  def ringEdges(corpus: DataFrame, strides: Seq[Long]): DataFrame = {
    val (ranked0, n) = TextAnalysis.withShardedRank(
      corpus.select(col("vec_id")), "rk", 32, Seq(col("vec_id")))
    val ranked = ranked0.select(col("vec_id"), (col("rk") - 1L).as("rk"))
    def ringAt(stride: Long): DataFrame =
      ranked.as("x").join(ranked.as("y"),
          col("y.rk") === (col("x.rk") + lit(stride)) % lit(n))
        .select(col("x.vec_id").as("src"), col("y.vec_id").as("dst"))
    strides.map(s => ringAt(s % math.max(n, 1L)))
      .reduce(_ unionByName _)
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Deterministic HNSW level ranks: rank 1..N of every corpus id
    * ordered by (md5("lvl:" ‖ id), id) — a content-independent hash
    * order, so the hierarchy a layered build derives from it (layer l
    * = the top ⌈N/M^l⌉ ranks) is exponential-decay level assignment
    * (Malkov & Yashunin 2018 §4.1) made EXACT and replayable: same
    * ids ⇒ same layers in any engine, layer sizes are precise
    * geometric (never an empty middle layer), and memberships are
    * nested by construction. Sharded rank — no global window.
    */
  def levelRankDf(corpus: DataFrame): (DataFrame, Long) =
    TextAnalysis.withShardedRank(
      corpus.select(col("vec_id")), "hrk", 32,
      Seq(md5(concat(lit("lvl:"), col("vec_id").cast("string"))), col("vec_id")))

  /** Beam search from PER-QUERY seeds — the layered-descent primitive
    * (a true-HNSW serve chains one of these per layer: each layer's
    * ef-wide beam seeds the next layer's walk, so the base-layer beam
    * starts query-LOCAL and a constant ef holds recall where the
    * flat-graph walk needed ef ∝ √N). `seeds` is (query_id, vec_id);
    * seed rows whose vec_id is not in `corpus` (post-build upserts)
    * drop at the scoring join, the standard mask. Every hop is one
    * frontier×adjacency equi-join plus one corpus fetch join —
    * nothing corpus-sized shuffles, per-hop cost |Q|·ef·M rows.
    */
  /** Version tag of the GRAPH tier's build algorithm, baked into
    * every collgraph cache key (split from
    * [[VectorIndex.AlgoVersion]] in r12 so graph iterations stop
    * retiring trained-model artifacts). a11 = banded grouping
    * candidacy + adaptive signature width + the `pb` id-hash
    * partition layout of base/edges — an earlier artifact lacks the
    * partition column the pruned hop joins read. a12 = the bucket
    * count becomes the size-derived artifact constant `npb`
    * ([[pbBucketsFor]], recorded in params) — an a11 artifact is
    * always 64-way and lacks the column. a13 = sub-65k corpora skip
    * the layout entirely (npb = 1, plain writes — the r12 closing
    * bench measured fixture-scale builds paying for pruning that
    * cannot help them) and the count is conf-overridable
    * (`spark.graft.graph.pbBuckets`, keyed `-p` segment). a14 = the
    * `levels` relation carries each member's VECTOR (r13): upper
    * layers score against the ~N/(M−1)-row hierarchy relation
    * instead of re-joining the N-row base per hop, and the
    * scale-serve's exhaustive model-scale layer reads it outright —
    * an a13 artifact's levels lack the column the a14 serve scores.
    * a15 = the build-volume tier ([[BuildVolumeGateRows]]): past
    * ~4.2M rows the candidate buckets tighten so the pair shuffle
    * stays bounded — artifacts below the gate are bit-identical to
    * a14, but the version string is the stale-serve contract and it
    * stays honest. a16 = the tier's constants loosen 24/96 → 32/128
    * (the 6.4M recall-tail measurement). a17 (r14) = the params
    * `hops` column records the serve-budget law value for the
    * artifact's own N (above-gate params differed from what the
    * serve runs — the r13 readout-divergence advisory); edge VALUES
    * at every N are bit-identical to a16 (the wave-staged candidate
    * scoring and the carried-distance re-cap are exact refactors),
    * but the honest-version discipline bumps on any bit difference.
    */
  val GraphAlgoVersion = "a17"

  /** Id-hash bucket — the partition column the graph tier's `base`
    * and `edges` relations are laid out by (r12): deriving it on the
    * model-scale frontier side of each hop join lets dynamic
    * partition pruning read only the frontier's buckets. Stringly
    * deterministic: same (id, buckets) ⇒ same bucket in build and
    * serve; `buckets` is an ARTIFACT constant (params `npb`), so a
    * serve always derives with the layout its artifact was built
    * under. INT-typed (r12 review closure): partition-column
    * inference reads the written `pb` back as IntegerType, and a
    * long-typed frontier key would put an analyzer Cast on the
    * partition attribute — the exact thing that can stop dynamic
    * partition pruning from firing.
    */
  def pbOf(id: Column, buckets: Int = 64): Column =
    pmod(xxhash64(id.cast("string")), lit(buckets.toLong)).cast("int")

  /** Bucket count for an N-row graph: pruning only bites when the
    * frontier's distinct ids cover a small FRACTION of the buckets,
    * so the count grows with the corpus — ~15k rows per bucket,
    * floored at 64 and capped at 4096 directories (file-count
    * hygiene; at the cap a bucket of a 10⁹-row graph holds ~250k
    * rows, still a ~10⁻² read fraction for a single-query frontier).
    * BELOW 65,536 rows the layout is skipped entirely (1 = plain
    * writes): the whole relation is a few MB, per-hop pruning
    * subqueries cost more than the scan they save, and the r12
    * closing bench measured the fixture-scale builds/serves paying
    * +3 s each for a layout that cannot help them.
    */
  def pbBucketsFor(n: Long): Int =
    if (n < 65536L) 1
    else math.min(4096L, math.max(64L,
      java.lang.Long.highestOneBit(math.max(1L, n / 15000L)) * 2L)).toInt

  /** Row gate shared by the scale-adaptive serve laws: below it the
    * fixture-calibrated constants hold (every oracled corpus — the
    * DuckDB twins replay them literally), above it the measured
    * scale laws engage. Same threshold as the [[pbBucketsFor]]
    * layout gate on purpose: "model-scale fixture" and "scale
    * regime" should flip together, not at two magic numbers.
    */
  val ScaleGateRows = 65536L

  /** Serve-time search budget (baseHops, upperHops, upperEf, baseEf)
    * for a graph artifact over `n` indexed rows — the LAW the r12
    * verdict asked for in place of a manual knob (r13): the TuneScale
    * ladder measured recall at the constant fixture budget (3, 2, 64,
    * 48) decaying 0.940→0.871 mean with p10 = 0.00 from 400k rows up
    * (whole-basin misses), while the stepped budget (4, 3, 128, 64) —
    * paired with the exhaustive model-scale seed layer — measures
    * 0.990/1.000/1.000 mean at 100k/400k/1.6M with zero basin misses
    * (ARCHITECTURE.md r13 tables). Past the BUILD-VOLUME gate the
    * base beam widens once more to 96: the bounded-volume edges draw
    * from an ~8× candidate oversample instead of ~20×, and the wider
    * beam buys the lost granularity back (6.4M: 0.956→0.970 mean /
    * p10 0.80→0.90; ef 128 measures the same 0.971 — 96 is the
    * knee). Still ∝ log N everywhere: the steps multiply per-layer
    * constants and leave the layer count as the only N-term. Below
    * the gate the fixture constants are the certified optimum
    * (recall 1.000 on every driver fixture). The law is the only
    * source of these values: no session conf overrides them.
    *
    * The base walk is a CONSTANT number of hops (r10): the layered
    * descent seeds the base beam query-locally, so its job is local
    * refinement regardless of N — HNSW's per-layer constant expected
    * path length (Malkov & Yashunin 2018, §4.2). The upper-layer
    * beam is WIDER than the canonical HNSW upper greedy (ef=1) on
    * purpose: hnswlib's upper walks can afford ef=1 because its
    * edges are RNG-diversified at insert time; ours are plain kNN
    * edges, which turn near-duplicate clusters into cliques a narrow
    * beam cannot escape — measured across all five fixtures: ef=8
    * collapses one clique query to recall 0.1, ef=32 leaves
    * 0.80–0.96 tails, ef=64 holds recall 1.000 on every fixture.
    */
  def serveBudgetFor(n: Long): (Int, Int, Int, Int) =
    if (n < ScaleGateRows) (3, 2, 64, 48)
    else if (n < BuildVolumeGateRows) (4, 3, 128, 64)
    else (4, 3, 128, 96)

  /** Cap on the layer the scale serve scores EXHAUSTIVELY (r13): 2×
    * the scale gate. The exhaustive layer is the largest one at or
    * under this law size, so its realized size sits in (cap/M, cap]
    * — the basin-coverage knob: a corpus structured as B clusters
    * leaves ~e^(−layerSize/B) of them unrepresented in a sampled
    * layer, and every uncovered basin is a potential whole-basin
    * miss (intra-basin kNN edges give walks no route in). At 6.4M
    * rows a 65,536 cap picked the 12.5k-row layer (~3 rows/basin at
    * the ladder's 4,096 basins — e^−3 ≈ 5% uncovered, exactly the 5
    * measured misses); 131,072 picks the 100k-row layer (~24/basin,
    * coverage ≈ 1) and the misses vanish — measured, not
    * extrapolated. Still a CONSTANT: explored rows stay ≤ cap +
    * walks·(uh·ue·m) + base walk, and the per-batch layer scan
    * amortizes across the query batch.
    */
  val ExhaustiveLayerCapRows = 131072L

  def beamSearchSeeded(queries: DataFrame, corpus: DataFrame, graph: DataFrame,
                       seeds: DataFrame, ef: Int, hops: Int,
                       dist: (Column, Column) => Column,
                       pbBuckets: Option[Int] = None): DataFrame = {
    val q = broadcast(queries.select(col("query_id"), col("qvec")))
    val wBeam = Window.partitionBy(col("query_id"))
      .orderBy(col("d").asc, col("vec_id").asc)
    // When the relations carry the `pb` partition column, fold it
    // into the join keys from the (broadcast, model-scale) frontier
    // side: semantically redundant — vec_id equality already implies
    // bucket equality — but it is what hands Spark a dynamic
    // partition-pruning filter, so a hop reads the frontier's
    // buckets instead of the whole relation. The bucket count MUST
    // be the artifact's own (params `npb`): deriving under a
    // different modulus would silently drop every row whose two
    // residues differ, so pb-carrying relations refuse to run
    // without an explicit count (r12 review closure).
    val corpusPb = corpus.columns.contains("pb")
    val graphPb = graph.columns.contains("pb")
    require(!(corpusPb || graphPb) || pbBuckets.isDefined,
      "relations carry the pb partition column — pass the artifact's npb")
    val npb = pbBuckets.getOrElse(64)
    // The frontier is always broadcast: it amplifies the existing
    // |Q|-row query broadcast by ef·M — model-scale under the
    // serve's batch contract — and the hint is what reliably arms
    // dynamic partition pruning on the pb-keyed joins.
    def scoreOf(ids: DataFrame): DataFrame = {
      val idsK =
        if (corpusPb) broadcast(ids.withColumn("pb", pbOf(col("vec_id"), npb)))
        else ids
      val corpusK =
        if (corpusPb) corpus.select(col("vec_id"), col("vec"), col("pb"))
        else corpus.select(col("vec_id"), col("vec"))
      idsK
        .join(corpusK, if (corpusPb) Seq("vec_id", "pb") else Seq("vec_id"))
        .join(q, "query_id")
        .select(col("query_id"), col("vec_id"), dist(col("qvec"), col("vec")).as("d"))
    }
    // Fused per-hop dedup + rank, ONE query-keyed exchange (r14,
    // guide §2.4 — the knnTopD idiom applied to the serve): the hop
    // used to plan THREE exchanges — dropDuplicates(query_id,
    // vec_id) on the expansion, the same again on the scored union,
    // and the rank window's hash(query_id) — and under AQE each
    // exchange materializes as its own sequential job, so a
    // hops-deep serve was paying 3·hops driver round-trips (and at
    // scale, 3·hops shuffles of the same model-scale rows). Every
    // copy of a (query_id, vec_id) candidate carries the BITWISE
    // same d — dist is a deterministic expression of (qvec, vec),
    // whichever hop scored it — so after a (vec_id) sort inside the
    // query partition the copies are adjacent and a lag-compare IS
    // the dedup; the rank window shares the same hash(query_id)
    // partitioning and merely re-sorts. The pre-score expansion
    // dedup is dropped outright: duplicate dsts re-score to the
    // identical d (map-side broadcast joins, no exchange touched)
    // and die in the same lag-compare. Values are unchanged — only
    // exchange count moves (3·hops → hops).
    val wDedup = Window.partitionBy(col("query_id")).orderBy(col("vec_id"))
    var beam = scoreOf(seeds.select(col("query_id"), col("vec_id")))
    for (h <- 1 to hops) {
      val beamK =
        if (graphPb)
          broadcast(beam.select(col("query_id"), col("vec_id"))
            .withColumn("pb", pbOf(col("vec_id"), npb)))
        else beam
      val expanded = beamK
        .join(graph.withColumnRenamed("src", "vec_id"),
          if (graphPb) Seq("vec_id", "pb") else Seq("vec_id"))
        .select(col("query_id"), col("dst").as("vec_id"))
      val candidates = scoreOf(expanded)
        .unionByName(beam.select(col("query_id"), col("vec_id"), col("d")))
      beam = candidates
        .withColumn("dup", lag(col("vec_id"), 1).over(wDedup) === col("vec_id"))
        .filter(!coalesce(col("dup"), lit(false)))
        .withColumn("r", row_number().over(wBeam))
        .filter(col("r") <= ef)
        .select(col("query_id"), col("vec_id"), col("d"))
      // Lineage truncation at EVERY intermediate hop for UNPARTITIONED
      // relations (r15 — widened from the >3-hop gate): the lazy loop
      // references `beam` twice per hop (expansion + union), so the
      // composed plan tree DOUBLES per hop — 2^hops copies of the
      // seed subtree, each re-analyzed per serve. ReuseExchange
      // dedups the shuffles at runtime, but ANALYSIS/optimization of
      // the duplicated tree is driver wall the serve pays per call
      // (r8's "net loss" finding was for EAGER per-hop actions; the
      // lazy cut keeps construction job-free). Measured at the
      // certified 3-hop budget, same host state: collection_hnsw_deep
      // 3.83 → 2.54 s, collection_hnsw_graph 1.91 → 1.31 s (5-rep
      // medians). NOT applied to pb-partitioned relations at the lazy
      // 3-hop floor: dynamic partition pruning only fires when the
      // frontier side carries a SELECTIVE predicate, and a bare
      // RDD-backed frontier hides exactly those predicates — the cut
      // would silently turn each pruned hop into a full relation scan
      // (the DPP spec pins this contract). Sub-layout artifacts
      // (npb = 1 — every sub-65k corpus, where pruning can't help and
      // the relations carry no pb column) truncate every hop; deep
      // budgets past the lazy floor keep the r13 truncation
      // unconditionally, plan growth there being exponential.
      // eager = false keeps the search-construction contract lazy
      // (query() must run no jobs before its caller acts): the hop is
      // PLANNED here — a small tree, since its input is the previous
      // hop's RDD — but materializes only when the final action
      // cascades, and the doubly-referenced RDD is computed once by
      // reference-sharing. Values are unchanged: only the
      // materialization point moves, and every downstream op re-sorts
      // deterministically.
      if ((!(corpusPb || graphPb) || hops > 3) && h < hops)
        beam = beam.localCheckpoint(false)
    }
    beam.select(col("query_id"), col("vec_id"))
  }

  /** DRIVER-SIDE distance kernels — bitwise replicas of
    * [[graft.catalog.CollectionData.distanceExpr]]'s metric
    * expressions (one left-to-right double accumulation per
    * statistic, same operation order as the generated/interpreted
    * [[graft.functions.VectorExpressions]] kernels), so a walk
    * computed on the driver scores candidates to the exact bits the
    * in-plan walk would. Float inputs are upcast element-wise before
    * the call (exact), matching the kernels' cast-to-double access.
    */
  private[graft] def localDistance(metric: String): (Array[Double], Array[Double]) => Double = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); i += 1 }
      d
    }
    metric match {
      case "cosine" => (a, b) => {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          val x = a(i); val y = b(i)
          d += x * y; na += x * x; nb += y * y; i += 1
        }
        1.0 - d / (math.sqrt(na) * math.sqrt(nb))
      }
      case "ip" => (a, b) => 1.0 - dot(a, b)
      case "l2" => (a, b) => dot(a, a) - 2.0 * dot(a, b) + dot(b, b)
    }
  }

  /** Spark's (d ASC, vec_id ASC) sort order, replicated exactly for
    * the driver-side walk: doubles through catalyst's
    * SQLOrderingUtil (NaN greatest, -0.0 == 0.0 — NOT
    * java.lang.Double.compare), strings through UTF8String's binary
    * comparison (what string sorts/windows compare).
    */
  private[graft] def beamLess(da: Double, ia: String, db: Double, ib: String): Boolean = {
    val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(da, db)
    if (c != 0) c < 0
    else org.apache.spark.unsafe.types.UTF8String.fromString(ia)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(ib)) < 0
  }

  /** One upper-layer walk of the layered descent, computed ON THE
    * DRIVER over the collected model-scale hierarchy (r15, guide
    * §2.4 — the IVF probe local-relation idiom applied to the
    * descent): value-for-value the [[beamSearchSeeded]] loop — hop 0
    * scores the seeds against the layer (ids absent from the layer
    * drop, the standard mask), each hop expands the beam through the
    * layer adjacency, re-scores, dedups per vec_id (every copy of a
    * candidate carries the bitwise-identical distance) and keeps the
    * top `ef` by (d asc, vec_id asc) under Spark's own double/string
    * orderings ([[beamLess]]). Caller gates on the layers being
    * model-scale (sub-scale-gate corpora: every walked layer ≤
    * gate/M rows); at scale the serve's walked layers are data-sized
    * and stay in-plan.
    */
  private[graft] def localUpperWalk(qvec: Array[Double], startIds: Seq[String],
                                    layerVec: collection.Map[String, Array[Double]],
                                    adj: collection.Map[String, Array[String]],
                                    ef: Int, hops: Int,
                                    dist: (Array[Double], Array[Double]) => Double): Seq[String] = {
    def rank(cands: Iterator[(String, Double)]): Seq[(String, Double)] = {
      val dedup = collection.mutable.LinkedHashMap[String, Double]()
      cands.foreach { case (id, d) =>
        if (!dedup.contains(id)) dedup(id) = d
      }
      dedup.toSeq
        .sortWith { case ((ia, da), (ib, db)) => beamLess(da, ia, db, ib) }
        .take(ef)
    }
    var beam: Seq[(String, Double)] =
      startIds.flatMap(id => layerVec.get(id).map(v => id -> dist(qvec, v)))
    for (_ <- 1 to hops) {
      val scored = beam.iterator
        .flatMap { case (id, _) => adj.getOrElse(id, Array.empty[String]) }
        .flatMap(dst => layerVec.get(dst).map(v => dst -> dist(qvec, v)))
      beam = rank(scored ++ beam.iterator)
    }
    beam.map(_._1)
  }

  /** Fixed entry points: the `entries` corpus vectors nearest the
    * corpus CENTROID (medoid-style entry — the highest-coverage
    * deterministic start). The centroid is one model-scale aggregate
    * (dim doubles); entry selection is TakeOrderedAndProject.
    */
  private[operators] def entryPoints(corpus: DataFrame, entries: Int,
                                     dim: Int): Seq[Long] = {
    // fixed-point micro means (the kmeansCentroids discipline):
    // order-independent, engine-independent — the entry points are
    // model constants and must not depend on partition merge order
    val cent = corpus
      .select(posexplode(col("vec")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(sum(floor(col("x").cast("double") * lit(1000000.0))).as("s_micro"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => r.getInt(0) ->
        r.getLong(1).toDouble / r.getLong(2).toDouble / 1000000.0)
      .sortBy(_._1).map(_._2)
    val centLit = array(cent.map(c => lit(c.toFloat)): _*)
    corpus
      .select(col("vec_id"), VectorOps.cosine(centLit, col("vec")).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(entries)
      .collect().map(_.getLong(0)).toSeq // model-scale: `entries` ids
  }

  /** Beam search over a prebuilt graph. Returns the standard ANN
    * shape (query_id, rank, vec_id, score). `entryIds` lets a
    * persisted index supply its stored entry points (two fewer jobs
    * per search); absent, they derive from the corpus.
    *
    * The whole search is ONE action: each hop's beam subtree appears
    * twice in the next hop (expansion + union), but the duplicated
    * subplans are node-identical, so Spark's ReuseExchange computes
    * every hop's shuffle once — with `hops` small and the frontier at
    * (|Q| × ef) rows, lazy composition beats a per-hop checkpoint
    * whose job-scheduling overhead dominated the actual work
    * (measured 6.8 s → per-search job count was the cost, not data).
    */
  def beamSearch(queries: DataFrame, corpus: DataFrame, graph: DataFrame,
                 k: Int, ef: Int = 48, hops: Int = 3,
                 entries: Int = 8, dim: Int = 64,
                 entryIds: Option[Seq[Long]] = None): DataFrame = {
    require(ef >= k, s"ef ($ef) must be >= k ($k)")
    val starts = entryIds.getOrElse(entryPoints(corpus, entries, dim))
    val q = broadcast(queries.select(col("query_id"), col("qvec")))
    val wBeam = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    def scoreOf(ids: DataFrame): DataFrame = ids
      .join(corpus.select(col("vec_id"), col("vec")), "vec_id")
      .join(q, "query_id")
      .select(col("query_id"), col("vec_id"),
        VectorOps.cosine(col("qvec"), col("vec")).as("score"))
    // hop 0: every query starts at the shared entry points
    val sess = queries.sparkSession
    import sess.implicits._
    var beam = scoreOf(
      q.select(col("query_id")).crossJoin(broadcast(starts.toDF("vec_id"))))
    // Fused per-hop dedup + rank (r14, guide §2.4 — the
    // [[beamSearchSeeded]] shape): the two dropDuplicates and the
    // rank window used to plan three exchanges per hop; copies of a
    // (query_id, vec_id) candidate carry the bitwise-identical score
    // (cosine is a deterministic expression of (qvec, vec)), so a
    // (vec_id) sort inside the query partition makes them adjacent,
    // a lag-compare is the dedup, and the rank window reuses the
    // same hash(query_id) partitioning. Values unchanged — 3·hops
    // exchanges become hops.
    val wDedup = Window.partitionBy(col("query_id")).orderBy(col("vec_id"))
    for (h <- 1 to hops) {
      val expanded = beam
        .join(graph.withColumnRenamed("src", "vec_id"), "vec_id")
        .select(col("query_id"), col("dst").as("vec_id"))
      val candidates = scoreOf(expanded)
        .unionByName(beam.select(col("query_id"), col("vec_id"), col("score")))
      beam = candidates
        .withColumn("dup", lag(col("vec_id"), 1).over(wDedup) === col("vec_id"))
        .filter(!coalesce(col("dup"), lit(false)))
        .withColumn("r", row_number().over(wBeam))
        .filter(col("r") <= ef)
        .select(col("query_id"), col("vec_id"), col("score"))
      // per-hop lineage truncation — see [[beamSearchSeeded]] (r15):
      // lazy composition doubles the plan per hop (2^hops copies of
      // the entry subtree to analyze per serve); each intermediate
      // beam (|Q|·ef rows) is cut to an RDD-backed frame (lazily —
      // construction runs no jobs) so plan size, and therefore
      // planning cost, is linear in hops. Values unchanged.
      if (h < hops) beam = beam.localCheckpoint(false)
    }
    beam
      .withColumn("rank", row_number().over(wBeam).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        CrossEngine.rnd4(col("score")).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** PERSISTED graph under the [[IndexCache]] build-once discipline
    * (fingerprint-keyed on corpus content + m): the first call builds
    * and writes the adjacency PLUS the entry points (both are
    * corpus-derived constants — searches must never pay the centroid
    * and entry-selection jobs again); every later call — and every
    * bench rep — resolves by metadata check, the same contract as
    * [[VectorIndex.buildIfAbsent]].
    */
  def graphIndexIfAbsent(corpus: DataFrame, indexRoot: String,
                         m: Int = 8, entries: Int = 8, dim: Int = 64,
                         tables: Int = 8, bitsPerTable: Int = 6,
                         maxBucket: Int = 256, seed: Long = 42L): String =
    // EVERY build parameter folds into the fingerprint — a cached
    // graph must never be served for a build with different LSH
    // banding, bucket cap, seed, or dimensionality
    IndexCache.getOrBuild(indexRoot, "knngraph",
      s"${VectorIndex.contentHash(corpus)}-m$m-e$entries" +
        s"-t$tables-b$bitsPerTable-d$dim-x$maxBucket-s$seed" +
        s"-${VectorIndex.AlgoVersion}") { scratch =>
      val sess = corpus.sparkSession
      import sess.implicits._
      buildKnnGraph(corpus, m, tables, bitsPerTable, dim, maxBucket, seed)
        .write.mode("overwrite").parquet(s"$scratch/edges")
      entryPoints(corpus, entries, dim).toDF("vec_id")
        .coalesce(1).write.mode("overwrite").parquet(s"$scratch/entries")
    }

  /** End-to-end graph ANN over the cached persisted graph. */
  def annGraph(queries: DataFrame, corpus: DataFrame, k: Int,
               m: Int = 8, ef: Int = 48, hops: Int = 3): DataFrame = {
    val dir = graphIndexIfAbsent(corpus,
      s"${System.getProperty("java.io.tmpdir")}/graft-ivf-cache", m)
    val s = queries.sparkSession
    val graph = IndexCache.readCached(s, s"$dir/edges")
    val starts = IndexCache.readCached(s, s"$dir/entries")
      .collect().map(_.getLong(0)).toSeq // model-scale: `entries` ids
    beamSearch(queries, corpus, graph, k, ef, hops, entryIds = Some(starts))
  }

  /** Driver query: graph ANN over the standard query/corpus frames
    * with the driver-visible recall column (rows-only ANN discipline;
    * spec pins the floor).
    */
  def annGraphQuery(s: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val corpus = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id"), col("embedding").as("vec"))
    VectorOps.withRecallAt(annGraph(queries, corpus, k = 10),
      queries, corpus, k = 10)
  }
}
