package graft.catalog

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{VectorOps, WhereFilter}

/** Item-level data plane for collections — the document API the
  * reference's Chroma server exposes (`add` / `upsert` / `get` /
  * `delete` / `query` / `count`) but its client never calls
  * (SURVEY.md §0: the 573-line client has no item operations at
  * all). Modeled on the public Chroma v1 REST surface; implemented
  * as an LSM-style parquet log, not a translation of any server
  * internals.
  *
  * Storage layout (per collection data dir):
  *   one parquet file-set per write batch, rows carrying
  *   (_batch, _deleted) bookkeeping columns. Writes are APPEND-ONLY —
  *   upsert appends a newer version, delete appends a tombstone, and
  *   readers resolve latest-version-per-id with one window pass
  *   (merge-on-read). That makes every mutation an O(batch) parquet
  *   append with no read-modify-write of existing data — the only
  *   write pattern that survives 100 TB collections; a periodic
  *   `compact()` folds the log back to one resolved snapshot.
  *
  * Schema: id STRING, embedding ARRAY<FLOAT>, document STRING,
  * metadata_json STRING (+ _batch LONG, _deleted BOOLEAN at rest).
  */
class CollectionData(client: ChromaSpark) {
  import EngineError._

  private def spark: SparkSession = client.spark

  private def dir(collection: String): String = {
    client.getCollection(collection) // raises CollectionStateError if absent
    client.dataDir(collection)
  }

  /** Batch-mint state is a DIRECTORY of one empty marker file per
    * minted id (`_batches.d/N`); a legacy `_batches` counter file, if
    * present, only contributes a floor (pre-upgrade logs keep their
    * numbering and are never rewritten).
    */
  private def batchMarkerDir(path: String) = Paths.get(path, "_batches.d")

  private def currentBatchIn(path: String): Long = {
    val d = batchMarkerDir(path)
    val fromDir =
      if (Files.isDirectory(d)) {
        val s = Files.list(d)
        try {
          var m = -1L
          s.forEach { p =>
            val name = p.getFileName.toString
            if (name.forall(_.isDigit) && name.nonEmpty) m = math.max(m, name.toLong)
          }
          m
        } finally s.close()
      } else -1L
    val legacy = Paths.get(path, "_batches")
    val fromLegacy =
      if (Files.exists(legacy)) new String(Files.readAllBytes(legacy)).trim.toLong
      else -1L
    math.max(fromDir, fromLegacy)
  }

  /** MULTI-WRITER-SAFE batch minting: claiming id N is
    * `Files.createFile(_batches.d/N)`, and POSIX file creation is
    * atomic — of two concurrent writers racing for N, exactly one
    * succeeds and the loser retries at N+1, so every writer leaves
    * with a DISTINCT batch id (the property latest-wins resolution
    * depends on). The former counter file was an unlocked
    * read-modify-write that could mint one id twice. Retries are
    * bounded; a stampede past the bound fails with a clean
    * [[EngineError.CollectionStateError]] rather than spinning.
    */
  private def nextBatch(path: String): Long = {
    val d = batchMarkerDir(path)
    Files.createDirectories(d)
    var attempts = 0
    while (attempts < 1000) {
      val n = currentBatchIn(path) + 1
      try {
        Files.createFile(d.resolve(n.toString))
        return n
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => attempts += 1
      }
    }
    throw CollectionStateError(
      s"batch minting under '$path' contended past 1000 attempts")
  }

  /** Reset mint state to exactly `batch` (compaction folds the log to
    * batch 0). Marker dir is rebuilt beside the live one and swapped
    * in; the legacy counter file is removed.
    */
  private def resetBatches(path: String, batch: Long): Unit = {
    val d = batchMarkerDir(path)
    val fresh = Paths.get(path, "_batches.d_new")
    if (Files.exists(fresh)) deleteTree(fresh)
    Files.createDirectories(fresh)
    Files.createFile(fresh.resolve(batch.toString))
    if (Files.exists(d)) deleteTree(d)
    Files.move(fresh, d)
    Files.deleteIfExists(Paths.get(path, "_batches"))
  }

  private val ItemCols = Seq("id", "embedding", "document", "metadata_json")

  /** The collection's embedder, resolved from its `graft:embedder`
    * metadata against the process-wide [[graft.functions.Embedders]]
    * registry (Chroma's per-collection `embedding_function`,
    * SURVEY.md §0). Absent metadata → the default dim-16 hash
    * embedder; an UNREGISTERED name fails loudly — a collection
    * ported from a server with an embedder this engine doesn't know
    * must never silently ingest differently-shaped vectors.
    */
  private def embedderOf(collection: String): graft.functions.Embedders.Embedder = {
    val name = client.getCollection(collection).metadata
      .flatMap(_.get(graft.functions.Embedders.MetadataKey))
      .getOrElse(graft.functions.Embedders.Default)
    graft.functions.Embedders.resolve(name).getOrElse(
      throw MetadataParseError(
        s"collection '$collection': embedder '$name' is not registered " +
          s"(known: ${graft.functions.Embedders.names.mkString(", ")})"))
  }

  /** Rows arriving with a document but NO embedding are auto-embedded
    * (Chroma semantics: the server derives embeddings when the caller
    * supplies only documents) by the COLLECTION'S embedder — see
    * [[embedderOf]]; the default is the deterministic feature-hash
    * [[graft.functions.HashEmbed]].
    */
  private def normalize(items: DataFrame,
                        embedder: graft.functions.Embedders.Embedder): DataFrame = {
    val cols = items.columns.toSet
    require(cols.contains("id"), "items need an 'id' column")
    val doc = (if (cols.contains("document")) col("document").cast("string")
               else lit(null).cast("string"))
    val explicitEmb =
      if (cols.contains("embedding")) col("embedding").cast("array<float>")
      else lit(null).cast("array<float>")
    items.select(
      col("id").cast("string").as("id"),
      coalesce(explicitEmb,
        when(doc.isNotNull, embedder.embed(doc)))
        .as("embedding"),
      doc.as("document"),
      (if (cols.contains("metadata_json")) col("metadata_json").cast("string")
       else lit(null).cast("string")).as("metadata_json"))
  }

  /** True iff the batch lives on the driver AND is small: `Seq.toDF`
    * inputs optimize to a `LocalRelation` (`Dataset.isLocal` misses
    * them — `toDF(names...)` wraps the relation in column aliases, so
    * the ANALYZED plan is a Project; ConvertToLocalRelation folds it
    * back only in the OPTIMIZED plan). The row bound keeps a
    * pathological million-row driver-side Seq on the distributed
    * validation/write paths.
    */
  private def isSmallLocal(items: DataFrame): Boolean =
    items.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        lr.data.lengthCompare(10000) <= 0
      case _ => false
    }

  /** Driver-resident batch ids, WITHOUT a Spark job: a pure
    * projection of a `LocalRelation` folds back to a `LocalRelation`
    * (Catalyst's ConvertToLocalRelation), so `collect()` never leaves
    * the driver. None for distributed inputs — those take the normal
    * job-based validation paths.
    */
  private def localBatchIds(items: DataFrame): Option[Seq[String]] =
    if (isSmallLocal(items))
      Some(items.select(col("id").cast("string")).collect().map(_.getString(0)).toSeq)
    else None

  /** `checkedUnique = false` skips the in-batch duplicate-id check:
    * only for callers whose input provably has unique ids already
    * (delete batches derive from resolved(); add/update fold the
    * check into their existence validation — one job instead of two).
    */
  /** `smallBounded = true` asserts the caller PROVED the batch's row
    * count is bounded by a small driver-local input (e.g. update's
    * merge of a small local batch — an inner join cannot fan out past
    * it): those batches collect to the driver and write as one file
    * with no Spark job at all. Never set it for data-sized frames.
    */
  private def appendBatch(collection: String, items: DataFrame, deleted: Boolean,
                          checkedUnique: Boolean = false,
                          smallBounded: Boolean = false): Unit = {
    val d = dir(collection)
    recoverLog(d)
    val normalized = normalize(items, embedderOf(collection))
    // Resolve the batch to driver rows when it is provably bounded:
    // LocalRelation inputs fold with no job at all, and a DISTRIBUTED
    // batch is probe-collected through one limit job — if it fits the
    // catalog bound, the write happens driver-side with no executor
    // write job and no file-commit protocol (the DriverParquet
    // discipline; a 10k-row probe is at most a few MB). Batches past
    // the bound keep the distributed validate+write path unchanged.
    val localRows: Option[Seq[org.apache.spark.sql.Row]] =
      if (smallBounded || isSmallLocal(items)) Some(normalized.collect().toSeq)
      else {
        val probe = normalized.limit(10001).collect()
        if (probe.length <= 10000) Some(probe.toSeq) else None
      }
    if (!deleted && !checkedUnique) {
      // duplicate ids within one write batch share the same _batch
      // number, making resolved()'s latest-wins nondeterministic —
      // reject them up front. Bounded batches check in-memory;
      // unbounded ones pay one aggregation job.
      val dup = localRows match {
        case Some(rows) =>
          val ids = rows.map(_.getString(0))
          ids.size != ids.distinct.size
        case None =>
          normalized.groupBy("id").count().filter(col("count") > 1).limit(1).count() > 0
      }
      if (dup)
        throw CollectionStateError(s"write to '$collection': duplicate ids within the batch")
    }
    val batch = nextBatch(d)
    localRows match {
      case Some(rows) =>
        DriverParquet.writeBatch(spark.sessionState.newHadoopConf(), s"$d/log",
          rows, batch, deleted)
      case None => normalized
        .withColumn("_batch", lit(batch))
        .withColumn("_deleted", lit(deleted))
        .write.mode("append").parquet(s"$d/log")
    }
  }

  /** log_old fallback: a compact() killed between its two renames
    * leaves the pre-compaction log under log_old — still a complete,
    * readable history.
    */
  private def liveLogName(d: String): Option[String] =
    if (Files.exists(Paths.get(d, "log"))) Some("log")
    else if (Files.exists(Paths.get(d, "log_old"))) Some("log_old")
    else None

  /** Complete any compaction interrupted by a crash BEFORE the next
    * write; without this, an append would create a fresh `log` that
    * shadows the entire pre-crash history sitting in `log_old`.
    *  - log_old without log  (died between the two renames): the old
    *    log is the one true history — move it back.
    *  - log_old AND log      (died after the swap, before cleanup):
    *    the compacted log superseded log_old — delete the leftover.
    */
  private def recoverLog(d: String): Unit = {
    val logPath = Paths.get(d, "log")
    val old = Paths.get(d, "log_old")
    if (Files.exists(old)) {
      if (!Files.exists(logPath)) Files.move(old, logPath)
      else deleteTree(old)
    }
  }

  private def deleteTree(p: java.nio.file.Path): Unit = {
    import java.util.Comparator
    Files.walk(p).sorted(Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => Files.delete(f))
  }

  /** The at-rest log schema is FIXED (appendBatch always writes these
    * six columns), so readers declare it instead of paying parquet
    * footer-based schema inference on every merge-on-read.
    */
  private val LogSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "id STRING, embedding ARRAY<FLOAT>, document STRING, metadata_json STRING, _batch BIGINT, _deleted BOOLEAN")

  private def readLog(collection: String): DataFrame = {
    val d = dir(collection)
    liveLogName(d) match {
      case Some(name) => spark.read.schema(LogSchema).parquet(s"$d/$name")
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], LogSchema)
    }
  }

  /** Fork-edge metadata keys: a forked collection records its parent
    * and the parent batch it snapshots (copy-on-write — see [[fork]]).
    */
  private val ForkParentKey = "graft:fork_parent"
  private val ForkAsOfKey = "graft:fork_asof"

  private def forkEdge(collection: String): Option[(String, Long)] =
    client.getCollection(collection).metadata.flatMap { m =>
      (m.get(ForkParentKey), m.get(ForkAsOfKey)) match {
        case (Some(p), Some(a)) => Some((p, a.toLong))
        case _                  => None
      }
    }

  /** The collection's EFFECTIVE log: its own log stacked on top of
    * its (recursively resolved) parent chain, each fork edge frozen
    * at its recorded parent batch. `_lvl` tags chain depth (root 0);
    * resolution orders by (depth, batch) so a fork's writes always
    * override inherited rows, and within one level the usual batch
    * order applies. Returns (log-with-_lvl, own depth).
    */
  private def effLog(collection: String,
                     seen: Set[String] = Set.empty): (DataFrame, Int) = {
    if (seen.contains(collection))
      throw CollectionStateError(s"fork cycle detected at '$collection'")
    val own = readLog(collection)
    forkEdge(collection) match {
      case None => (own.withColumn("_lvl", lit(0)), 0)
      case Some((parent, asof)) =>
        val (plog, pdepth) = effLog(parent, seen + collection)
        val frozen = plog.filter(col("_lvl") =!= pdepth || col("_batch") <= asof)
        (frozen.unionByName(own.withColumn("_lvl", lit(pdepth + 1))), pdepth + 1)
    }
  }

  /** Latest version per id, tombstones dropped — the merge-on-read
    * resolution. One shuffle on id; at scale the log is additionally
    * partitioned so old batches prune out after compaction. `asOf`
    * restricts resolution to batches ≤ the given number ON THE
    * COLLECTION'S OWN LEVEL (a fork's inherited history is already
    * frozen by its edge): because the log is APPEND-ONLY, every
    * historical snapshot is still fully present, so time travel is a
    * pushed-down filter, not a restore.
    */
  private def resolved(collection: String, asOf: Option[Long] = None): DataFrame =
    snapshotResolved(collection, asOf).getOrElse(distributedResolved(collection, asOf))

  private def distributedResolved(collection: String, asOf: Option[Long]): DataFrame = {
    val (log0, depth) = effLog(collection)
    val w = Window.partitionBy(col("id"))
      .orderBy(col("_lvl").desc, col("_batch").desc)
    val log = asOf match {
      case Some(b) => log0.filter(col("_lvl") =!= depth || col("_batch") <= b)
      case None    => log0
    }
    log
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !col("_deleted"))
      .select(ItemCols.map(col): _*)
  }

  // ---------------------------------------------------------------
  // Driver-side snapshot path for SMALL collections.
  //
  // The reference talks to a server that keeps collections resident
  // and answers item calls in one round trip; the distributed
  // merge-on-read above answers them in one scan+shuffle JOB — right
  // for a 100 TB collection, pure scheduler overhead for a
  // catalog-sized one (the item-API lifecycle is dozens of reads
  // over a handful of rows, each paying ~100 ms of job latency for
  // microseconds of data). So small logs resolve ON THE DRIVER: read
  // the few KB of parquet directly (the read twin of
  // [[DriverParquet.writeBatch]]), resolve latest-per-id in memory,
  // and serve a LocalRelation — downstream filters fold to driver
  // work and downstream jobs skip the scan+window stages. Gated by
  // TOTAL LOG BYTES (spark.graft.collection.snapshotMaxBytes,
  // default 16 MB, 0 disables): a collection past the gate never
  // takes this path, so the 100 TB story is untouched. Cache entries
  // are keyed per level directory by a (file name, size) listing
  // signature — any append/compact/vacuum changes the listing and
  // invalidates, including writes by OTHER processes, which is the
  // same freshness guarantee a distributed scan's plan-time file
  // listing gives.
  // ---------------------------------------------------------------

  private type LogRow = (String, Seq[Float], String, String, Long, Boolean)

  // Access-order LRU bounded at 256 levels (r11 advisory #2: the old
  // ConcurrentHashMap wiped EVERYTHING past the cap, evicting hot
  // collections along with cold ones). The driver parquet read that
  // computes an entry runs outside the [[graft.Lru]] lock.
  private val snapshotCache: java.util.Map[String, (String, Seq[LogRow])] =
    graft.Lru.bounded[String, (String, Seq[LogRow])](256)

  private def snapshotMaxBytes: Long =
    spark.conf.getOption("spark.graft.collection.snapshotMaxBytes")
      .map(_.toLong).getOrElse(16L << 20)

  /** (listing signature, total bytes) of the live log dir — a driver
    * metadata walk, no data read. */
  private def logSignature(d: String): (String, Long) = liveLogName(d) match {
    case None => ("empty", 0L)
    case Some(name) =>
      val p = Paths.get(d, name)
      val s = Files.list(p)
      try {
        var bytes = 0L
        val parts = scala.collection.mutable.ArrayBuffer[String]()
        s.forEach { f =>
          val n = f.getFileName.toString
          if (n.endsWith(".parquet")) {
            val sz = Files.size(f)
            bytes += sz
            parts += s"$n:$sz"
          }
        }
        (s"$name|${parts.sorted.mkString(",")}", bytes)
      } finally s.close()
  }

  /** Fork-chain levels root-first: (data dir, batch cap from the
    * CHILD edge — None on the leaf), mirroring [[effLog]]'s freeze
    * semantics level by level. */
  private def chainLevels(collection: String,
                          seen: Set[String] = Set.empty): List[(String, Option[Long])] = {
    if (seen.contains(collection))
      throw CollectionStateError(s"fork cycle detected at '$collection'")
    forkEdge(collection) match {
      case None => List((dir(collection), None))
      case Some((parent, asof)) =>
        val up = chainLevels(parent, seen + collection)
        (up.init :+ ((up.last._1, Some(asof)))) :+ ((dir(collection), None))
    }
  }

  private def levelRows(d: String, sig: String): Seq[LogRow] =
    graft.Lru.getOrCompute(snapshotCache, d)(_._1 == sig) {
      val rows = liveLogName(d) match {
        case Some(name) =>
          DriverParquet.readLog(spark.sessionState.newHadoopConf(), s"$d/$name")
        case None => Nil
      }
      (sig, rows)
    }._2

  private val ItemSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "id STRING, embedding ARRAY<FLOAT>, document STRING, metadata_json STRING")

  /** Live rows resolved entirely on the driver, None when any chain
    * level exceeds the snapshot byte gate: latest version per id by
    * (level desc, batch desc); tombstones win resolution then drop —
    * identical to the window resolve. */
  private def snapshotLive(collection: String,
                           asOf: Option[Long]): Option[Array[LogRow]] = {
    val max = snapshotMaxBytes
    if (max <= 0) return None
    val levels = chainLevels(collection)
    val sigs = levels.map { case (d, _) => logSignature(d) }
    if (sigs.map(_._2).sum > max) return None
    val best = new java.util.HashMap[String, (Int, Long, LogRow)]()
    levels.zipWithIndex.foreach { case ((d, cap), lvl) =>
      levelRows(d, sigs(lvl)._1).foreach { r =>
        val b = r._5
        val inCap = cap.forall(b <= _) &&
          (lvl != levels.size - 1 || asOf.forall(b <= _))
        if (inCap) {
          val prev = best.get(r._1)
          if (prev == null || lvl > prev._1 || (lvl == prev._1 && b > prev._2))
            best.put(r._1, (lvl, b, r))
        }
      }
    }
    import scala.jdk.CollectionConverters._
    Some(best.values.asScala.iterator
      .filter(!_._3._6).map(_._3).toArray.sortBy(_._1))
  }

  private def localItemsDf(live: Seq[LogRow]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows: java.util.List[org.apache.spark.sql.Row] =
      live.map { r =>
        org.apache.spark.sql.Row(r._1, r._2, r._3, r._4)
      }.toList.asJava
    spark.createDataFrame(rows, ItemSchema)
  }

  private def snapshotResolved(collection: String, asOf: Option[Long]): Option[DataFrame] =
    snapshotLive(collection, asOf).map(localItemsDf(_))

  /** Driver-side row count for snapshot-eligible collections (the
    * same bounded-catalog discipline as the snapshot itself); larger
    * collections pay the distributed count. */
  private[catalog] def liveCount(collection: String): Option[Long] =
    snapshotLive(collection, None).map(_.length.toLong)

  /** COPY-ON-WRITE fork: a new collection whose reads see the source
    * exactly as of its current batch and whose writes land only in
    * its own log. O(1) in collection size — no bytes copy at fork
    * time (the catalog row + two metadata keys are the whole write),
    * which is the only viable branch semantics at 100 TB. Subsequent
    * source writes are invisible to the fork (snapshot isolation) and
    * fork writes never touch the source. Forks of forks chain;
    * [[compact]] on a fork materializes the inherited view and severs
    * the edge. Source metadata (e.g. `hnsw:space`) carries over, so
    * queries rank identically on both branches.
    */
  def fork(source: String, forkName: String): Collection = {
    val src = client.getCollection(source) // throws if absent
    val meta = src.metadata.getOrElse(Map.empty) ++ Map(
      ForkParentKey -> source,
      ForkAsOfKey -> currentBatch(source).toString)
    client.createCollection(forkName, Some(meta))
  }

  /** The newest batch number in the collection's log (−1 when no
    * write has happened yet) — the handle [[getAsOf]] snapshots
    * against.
    */
  def currentBatch(collection: String): Long = currentBatchIn(dir(collection))

  /** TIME TRAVEL read: the collection exactly as it stood after
    * `batch` — later upserts, deletes and updates invisible. Same
    * include-projection contract as [[get]]. A compact() folds
    * history into batch 0 and truncates time travel to post-compact
    * batches, which is the usual retention tradeoff.
    */
  def getAsOf(collection: String, batch: Long,
              include: Seq[String] = DefaultInclude): DataFrame =
    projectInclude(resolved(collection, Some(batch)).orderBy(col("id")), include)

  /** Chroma `add`: fails if any id already exists (live) or repeats
    * within the batch. Both violations surface from ONE validation
    * job: the batch ids and the live ids union into a single count
    * per id — any id seen twice is either an in-batch duplicate or an
    * existing-id conflict, and add rejects both with the same remedy.
    */
  def add(collection: String, items: DataFrame): Unit = {
    // a fresh collection (no log) can't have existence conflicts —
    // check only in-batch duplicates there
    if (liveLogName(dir(collection)).isDefined) {
      localBatchIds(items) match {
        case Some(ids) =>
          // driver-local batch: in-batch dup check costs no job, and
          // the existence probe is ONE pushed-down isin filter
          if (ids.size != ids.distinct.size)
            throw CollectionStateError(s"add to '$collection': duplicate ids within the batch")
          val clash = resolved(collection).filter(col("id").isin(ids: _*)).limit(1).count()
          if (clash > 0)
            throw CollectionStateError(
              s"add to '$collection': ids that already exist (use upsert)")
        case None =>
          // distributed batch: probe-collect the ids through one limit
          // job — a bounded batch then validates exactly like the
          // driver-local path (in-memory dup check, pushed-down isin
          // existence probe that folds to driver work entirely for
          // snapshot-resolved collections); only batches past the
          // catalog bound pay the union+shuffle validation
          val idProbe = normalize(items, embedderOf(collection)).select("id")
            .limit(10001).collect().map(_.getString(0)).toSeq
          if (idProbe.size <= 10000) {
            if (idProbe.size != idProbe.distinct.size)
              throw CollectionStateError(
                s"add to '$collection': duplicate ids within the batch")
            val clash = resolved(collection)
              .filter(col("id").isin(idProbe: _*)).limit(1).count()
            if (clash > 0)
              throw CollectionStateError(
                s"add to '$collection': ids that already exist (use upsert)")
          } else {
            val ids = normalize(items, embedderOf(collection)).select("id")
            val clashes = ids.unionByName(resolved(collection).select("id").join(ids, "id"))
              .groupBy("id").count().filter(col("count") > 1).limit(1).count()
            if (clashes > 0)
              throw CollectionStateError(
                s"add to '$collection': duplicate ids in the batch or ids that already exist (use upsert)")
          }
      }
      appendBatch(collection, items, deleted = false, checkedUnique = true)
    } else appendBatch(collection, items, deleted = false)
  }

  /** Chroma `upsert`: insert-or-replace by id. Pure append. */
  def upsert(collection: String, items: DataFrame): Unit =
    appendBatch(collection, items, deleted = false)

  /** Chroma `update`: replace EXISTING items only — the dual of
    * [[add]]: every id must already be live, else the call is
    * rejected (no partial write). Merge is FIELD-WISE like the
    * server's: columns absent from the input keep their current
    * value (a document-only update must not null out the embedding);
    * columns present replace, including explicit nulls.
    */
  def update(collection: String, items: DataFrame): Unit = {
    val present = items.columns.toSet
    val incoming = normalize(items, embedderOf(collection))
    val existing = resolved(collection)
    // ONE validation job finds both failure modes: an incoming id with
    // no live counterpart (missing → reject like the server), and an
    // id repeated within the batch (write-order nondeterminism).
    // Driver-local batches check dups in-memory and probe existence
    // with a pushed-down isin filter instead of a union+shuffle.
    val bad = localBatchIds(items) match {
      case Some(ids) =>
        ids.size != ids.distinct.size ||
          existing.filter(col("id").isin(ids: _*)).count() != ids.distinct.size
      case None =>
        incoming.select("id").withColumn("_n", lit(1))
          .unionByName(existing.select("id").withColumn("_n", lit(0)))
          .groupBy("id")
          .agg(sum(col("_n")).as("n_in"),
            org.apache.spark.sql.functions.count(lit(1)).as("n_all"))
          .filter(col("n_in") > 1 || (col("n_in") === 1 && col("n_all") === col("n_in")))
          .limit(1).count() > 0
    }
    if (bad)
      throw CollectionStateError(
        s"update to '$collection': duplicate ids in the batch or ids that do not exist (use upsert)")
    val merged = incoming.alias("n").join(existing.alias("o"), "id")
      .select(col("id") +: ItemCols.tail.map { c =>
        // a document update without an explicit embedding RE-EMBEDS
        // (normalize() already derived it) — upstream Chroma's update
        // semantics for auto-embedded collections
        val takeNew = present.contains(c) ||
          (c == "embedding" && present.contains("document"))
        (if (takeNew) col(s"n.$c") else col(s"o.$c")).as(c)
      }: _*)
    // merged ids are unique: incoming ids proved unique above, and the
    // inner join with resolved() (one row per id) cannot fan out —
    // so a small local batch also bounds the merged row count
    appendBatch(collection, merged, deleted = false, checkedUnique = true,
      smallBounded = isSmallLocal(items))
  }

  /** Chroma `peek`: the first `n` items by id order. */
  def peek(collection: String, n: Int = 10,
           include: Seq[String] = DefaultInclude): DataFrame =
    get(collection, limit = Some(n), include = include)

  /** Chroma `delete` by ids, metadata `where`, and/or document
    * `where_document` filter. Appends tombstones for the matching
    * live rows. A call with NO selector at all is rejected (like the
    * server API) — otherwise a forgotten argument would silently wipe
    * the collection.
    */
  def delete(collection: String, ids: Seq[String] = Nil, whereJson: Option[String] = None,
             whereDocumentJson: Option[String] = None): Unit = {
    if (ids.isEmpty && whereJson.isEmpty && whereDocumentJson.isEmpty)
      throw CollectionStateError(
        s"delete from '$collection': provide ids and/or a where/where_document filter (refusing a full wipe)")
    var victims = resolved(collection)
    if (ids.nonEmpty) victims = victims.filter(col("id").isin(ids: _*))
    whereJson.foreach(w => victims = victims.filter(metadataPredicate(w)))
    whereDocumentJson.foreach(w => victims = victims.filter(documentPredicate(w)))
    // A tombstone only needs the id (resolved() drops the whole id
    // once the newest row is deleted) — and most deletes hit few
    // rows, so probe with a BOUNDED collect first: small victim sets
    // append driver-side with no write job; anything larger falls
    // back to the distributed append, having paid only one cheap
    // limit-probe job extra.
    val bound = 10000
    val probe = victims.select(col("id")).limit(bound + 1).collect()
    if (probe.length <= bound) {
      val sp = spark
      import sp.implicits._
      appendBatch(collection, probe.map(_.getString(0)).toSeq.toDF("id"), deleted = true)
    } else appendBatch(collection, victims.select(col("id")), deleted = true)
  }

  /** Chroma `include` projection: which payload columns `get`/`query`
    * return. `id` always; defaults mirror the server (documents +
    * metadatas, embeddings on request). Narrowing here is not
    * cosmetic: the unselected columns prune out of the parquet scan.
    */
  private val IncludeMap = Map(
    "embeddings" -> "embedding", "documents" -> "document", "metadatas" -> "metadata_json")

  val DefaultInclude: Seq[String] = Seq("documents", "metadatas")

  private def projectInclude(df: DataFrame, include: Seq[String],
                             lead: Seq[String] = Nil, trail: Seq[String] = Nil): DataFrame = {
    val unknown = include.filterNot(IncludeMap.contains)
    if (unknown.nonEmpty)
      throw CollectionStateError(
        s"unknown include item(s): ${unknown.mkString(", ")} (valid: ${IncludeMap.keys.toSeq.sorted.mkString(", ")})")
    val picked = Seq("embedding", "document", "metadata_json")
      .filter(c => include.exists(i => IncludeMap(i) == c))
    df.select((lead ++ Seq("id") ++ picked ++ trail).map(col): _*)
  }

  /** Chroma `get`: by ids, `where`, and/or `where_document`, with
    * limit/offset paging on id order and `include` projection.
    */
  def get(collection: String, ids: Seq[String] = Nil, whereJson: Option[String] = None,
          limit: Option[Int] = None, offset: Int = 0,
          include: Seq[String] = DefaultInclude,
          whereDocumentJson: Option[String] = None): DataFrame = {
    var out = resolved(collection)
    if (ids.nonEmpty) out = out.filter(col("id").isin(ids: _*))
    whereJson.foreach(w => out = out.filter(metadataPredicate(w)))
    whereDocumentJson.foreach(w => out = out.filter(documentPredicate(w)))
    if (offset > 0) {
      // Distributed offset paging with NO global window: the boundary
      // id (the offset-th smallest) comes from a distributed top-N +
      // max aggregate, and the page is a plain filter past it. ids are
      // unique (resolved() keeps one row per id) so `id > boundary`
      // skips exactly `offset` rows; a collection smaller than
      // `offset` yields boundary = its max id (or NULL when empty) and
      // an empty page — offset-past-the-end semantics either way.
      val boundary = out.select(col("id").as("_bid")).orderBy(col("_bid"))
        .limit(offset).agg(max(col("_bid")).as("_boundary"))
      out = out.crossJoin(broadcast(boundary))
        .filter(col("id") > col("_boundary"))
        .drop("_boundary")
    }
    limit.foreach(l => out = out.orderBy(col("id")).limit(l))
    projectInclude(out.orderBy(col("id")), include)
  }

  def count(collection: String): Long =
    liveCount(collection).getOrElse(resolved(collection).count())

  /** The collection's distance function, from its `hnsw:space`
    * metadata — the same metadata surface the reference round-trips
    * verbatim (reference src/client.rs:97,351-359). Chroma's three
    * spaces; absent metadata means l2, upstream Chroma's documented
    * default `hnsw:space`.
    */
  private def distanceMetric(collection: String): String =
    client.getCollection(collection).metadata
      .flatMap(_.get("hnsw:space")).getOrElse("l2") match {
      case m @ ("cosine" | "l2" | "ip") => m
      case other => throw CollectionStateError(
        s"collection '$collection': unsupported hnsw:space '$other' (cosine | l2 | ip)")
    }

  /** Validated `hnsw:*` search/build parameters. Chroma's server
    * accepts these keys in collection metadata (the reference passes
    * them through opaquely, src/client.rs:97,351); a ported workload
    * must never have them silently ignored:
    *
    *  - `hnsw:space` — honored, selects the metric ([[distanceMetric]]).
    *  - `hnsw:search_ef` — HONORED: caps the per-query candidate list.
    *    [[query]] switches to a two-stage scan (int8 compressed-domain
    *    pre-score → top-`search_ef` shortlist → exact re-rank), and —
    *    mirroring upstream's hnswlib contract — `n_results` may not
    *    exceed it.
    *  - `hnsw:M`, `hnsw:construction_ef` — HONORED: declaring either
    *    routes the collection's persisted ANN tier through the GRAPH
    *    index ([[graphKnobs]]): `hnsw:M` = graph out-degree,
    *    `hnsw:construction_ef` = build candidate breadth. Collections
    *    without them serve from the default IVF tier.
    *  - `hnsw:batch_size`, `hnsw:sync_threshold`, `hnsw:num_threads`,
    *    `hnsw:resize_factor` — ingest knobs with no analogue in a
    *    scan-based engine: validated for type (a typo'd value still
    *    fails loudly) and documented advisory, never
    *    behavior-changing.
    *  - any OTHER `hnsw:` key → [[EngineError.MetadataParseError]].
    */
  private[catalog] def hnswSearchEf(collection: String): Option[Int] = {
    val meta = client.getCollection(collection).metadata.getOrElse(Map.empty)
    val hk = meta.keys.filter(_.startsWith("hnsw:")).toSeq.sorted
    val unknown = hk.filterNot(CollectionData.HnswKnownKeys.contains)
    if (unknown.nonEmpty)
      throw MetadataParseError(
        s"collection '$collection': unrecognized hnsw metadata key(s) ${unknown.mkString(", ")} " +
          s"(known: ${CollectionData.HnswKnownKeys.toSeq.sorted.mkString(", ")})")
    def posInt(key: String): Option[Int] = meta.get(key).map { v =>
      val n = try v.trim.toInt catch {
        case _: NumberFormatException =>
          throw MetadataParseError(s"collection '$collection': $key must be a positive integer, got '$v'")
      }
      if (n <= 0)
        throw MetadataParseError(s"collection '$collection': $key must be a positive integer, got '$v'")
      n
    }
    def posDouble(key: String): Unit = meta.get(key).foreach { v =>
      val d = try v.trim.toDouble catch {
        case _: NumberFormatException =>
          throw MetadataParseError(s"collection '$collection': $key must be a positive number, got '$v'")
      }
      if (d <= 0 || d.isNaN)
        throw MetadataParseError(s"collection '$collection': $key must be a positive number, got '$v'")
    }
    Seq("hnsw:M", "hnsw:construction_ef", "hnsw:batch_size",
      "hnsw:sync_threshold", "hnsw:num_threads").foreach(posInt)
    posDouble("hnsw:resize_factor")
    posInt("hnsw:search_ef")
  }

  /** Chroma distance semantics per space (lower = closer): cosine
    * distance 1−cos, inner-product distance 1−⟨a,b⟩, and SQUARED
    * euclidean — computed as ‖a‖²−2⟨a,b⟩+‖b‖² from the codegen'd dot
    * kernel (exact in double for the small-integer test vectors).
    */
  private[catalog] def distanceExpr(metric: String, a: Column, b: Column): Column = metric match {
    case "cosine" => lit(1.0) - VectorOps.cosine(a, b)
    case "ip"     => lit(1.0) - VectorOps.dot(a, b)
    case "l2"     => VectorOps.dot(a, a) - lit(2.0) * VectorOps.dot(a, b) + VectorOps.dot(b, b)
  }

  /** Chroma `query`: per query vector, the `nResults` nearest live
    * items by the collection's metric, optionally pre-filtered by
    * metadata `where` — filter FIRST, then score: the predicate
    * prunes the scan before any vector math runs.
    *
    * With `hnsw:search_ef` in the collection metadata the scan runs
    * in two stages (see [[hnswSearchEf]]): an int8 compressed-domain
    * pre-score keeps the top `search_ef` candidates per query (the
    * [[VectorOps.annSq]] shape — the hot scan reads quarter-width
    * codes), and only shortlist survivors pay the exact float
    * distance. Like upstream's hnswlib, `n_results > search_ef` is an
    * error, not a silent truncation.
    */
  def query(collection: String, queryEmbeddings: DataFrame, nResults: Int = 10,
            whereJson: Option[String] = None,
            include: Seq[String] = DefaultInclude,
            whereDocumentJson: Option[String] = None): DataFrame = {
    val metric = distanceMetric(collection)
    val searchEf = hnswSearchEf(collection)
    searchEf.foreach { ef =>
      if (nResults > ef)
        throw CollectionStateError(
          s"query('$collection'): n_results ($nResults) cannot exceed hnsw:search_ef ($ef)")
    }
    val q = broadcast(queryEmbeddings.select(col("query_id"), col("qvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("distance").asc, col("id").asc)
    // route + tail resolved ONCE: the indexed candidate serve and the
    // scan fallback's artifact-sourced corpus share the same state
    val tierState = annState(collection, metric)
    annCandidates(collection, tierState, queryEmbeddings, metric,
      whereJson, whereDocumentJson, nResults, searchEf) match {
      case Some(cands) =>
        // Persisted-index serve path: candidates already pruned to the
        // probed cells (+ post-build delta); exact re-rank only.
        val ranked = cands.join(q, "query_id")
          .withColumn("distance", distanceExpr(metric, col("qvec"), col("embedding")))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= nResults)
          .orderBy(col("query_id"), col("rank"))
        return projectInclude(ranked, include,
          lead = Seq("query_id"), trail = Seq("distance", "rank"))
      case None => ()
    }
    var corpus = embeddedLiveView(collection, tierState)
    whereJson.foreach(w => corpus = corpus.filter(metadataPredicate(w)))
    whereDocumentJson.foreach(w => corpus = corpus.filter(documentPredicate(w)))
    val scored = searchEf match {
      case None => corpus.join(q)
      case Some(ef) =>
        // n_results ≤ ef already enforced above
        // Stage 1 — compressed-domain pre-score. The repartition
        // below the scoring join is the CollapseProject barrier (the
        // annSq discipline without its eager persist: query() must
        // stay lazy): the O(dim) int8 encode materializes at the
        // exchange exactly once per corpus row instead of once per
        // (query, row) pair, and the exchange moves quarter-width
        // codes, not floats.
        val codes = VectorOps.sqEncodeAll(
            corpus.select(col("id"), col("embedding").as("_v")), "_v")
          .drop("_v")
          .repartition(col("id"))
        val qCodes = broadcast(VectorOps.sqEncodeAll(
            queryEmbeddings.select(col("query_id"), col("qvec").as("_v")), "_v")
          .drop("_v")
          .withColumnsRenamed(Map("_c8" -> "_qc8", "_s" -> "_qs", "_n" -> "_qn")))
        val adot = VectorOps.intDot(col("_qc8"), col("_c8")).cast("double") *
          col("_qs") * col("_s")
        val adist = metric match {
          case "cosine" => when(col("_qn") > 0 && col("_n") > 0,
            lit(1.0) - adot / (col("_qn") * col("_n"))).otherwise(lit(1.0))
          case "ip" => lit(1.0) - adot
          case "l2" => col("_qn") * col("_qn") - lit(2.0) * adot + col("_n") * col("_n")
        }
        val wApprox = Window.partitionBy(col("query_id"))
          .orderBy(col("adist").asc, col("id").asc)
        val shortlisted = codes.join(qCodes)
          .select(col("query_id"), col("id"), adist.as("adist"))
          .withColumn("arank", row_number().over(wApprox))
          .filter(col("arank") <= ef)
          .select(col("query_id"), col("id"))
        // Stage 2 — exact re-rank on shortlist survivors only.
        shortlisted.join(corpus, "id").join(q, "query_id")
    }
    val ranked = scored
      .withColumn("distance", distanceExpr(metric, col("qvec"), col("embedding")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= nResults)
      .orderBy(col("query_id"), col("rank"))
    projectInclude(ranked, include, lead = Seq("query_id"), trail = Seq("distance", "rank"))
  }

  // ---------------------------------------------------------------
  // Persisted per-collection ANN tier.
  //
  // The reference's `hnsw:*` metadata implies a server-side index
  // that answers queries SUBLINEARLY in collection size; the
  // two-stage int8 scan above is the right brute-force shape but
  // still O(corpus) per query batch. Collections past a row
  // threshold therefore serve `query()` from a persisted IVF index:
  // coarse k-means cells written `partitionBy(label)` so the probed
  // scan prunes to `nprobe` partition DIRECTORIES at planning time
  // (the [[graft.operators.VectorIndex]] layout, specialized to the
  // item schema and the collection's metric). The index is
  // CONTENT-fingerprinted (build-once/serve-many across clients and
  // re-ingests of identical data) and base+delta maintained: a
  // pointer records the build batch; rows written after it are
  // served exactly — post-build ids mask their indexed versions and
  // join the candidate set from the log tail — and the index
  // rebuilds only when the delta outgrows a fraction of the base
  // (the LSM contract: index the base, scan the tail). Forked
  // collections fall back to the scan path (their effective log
  // spans parents); small collections never pay the build.
  // ---------------------------------------------------------------

  private def annMinRows: Long =
    spark.conf.getOption("spark.graft.collection.annIndexMinRows")
      .map(_.toLong).getOrElse(256L)

  /** CORPUS-DERIVED cell count (the r7 scale fix): k = ⌈√N⌉ over the
    * collection's live embedded rows, clamped to [4, 65536]. A fixed
    * k makes every probe read nprobe/k of the corpus FOREVER — a
    * constant-factor win, not a sublinear serve. With k ∝ √N and a
    * recall-calibrated CONSTANT nprobe (below), probed bytes per
    * query batch are nprobe · N/k = nprobe · √N — the probed
    * FRACTION nprobe/√N shrinks as the collection grows, which is
    * the contract the reference's `hnsw:*` metadata implies. The
    * clamp bounds the other axis (assignment is O(N·k·dim); the
    * 65536 cap keeps centroid sets broadcastable at any N).
    */
  private[catalog] def annClustersFor(liveVecRows: Long): Int =
    math.min(65536, math.max(4,
      math.ceil(math.sqrt(math.max(1L, liveVecRows).toDouble)).toInt))

  /** Probe width for an index with `cells` cells: below the scale
    * gate a recall-calibrated constant (24 holds ≥0.9 recall@10 on
    * the certified driver corpus), clamped to the cell count — tiny
    * collections probe everything (exact). Above the gate nprobe
    * GROWS as √cells = N^(1/4) ([[CollectionData.nprobeLawFor]] —
    * the r13 law replacing the manual `annNprobe` knob the r12
    * ladder needed to hold recall): the probed fraction keeps
    * shrinking as N^(−1/4), still sublinear in probed rows
    * (nprobe·N/cells ∝ N^(3/4)), while the widening probe tracks the
    * measured recall decay (constant nprobe read 0.92→0.81 over
    * 100k→1.6M; the law column in ARCHITECTURE.md r13 holds the
    * floor).
    */
  private[graft] def annNprobeFor(cells: Int): Int =
    CollectionData.nprobeLawFor(cells)

  /** Live rows with embeddings — the N the cell count derives from.
    * Driver-resolved from the snapshot cache when small, one pushed
    * count otherwise (amortized: runs only on index build, and the
    * content-fingerprint cache makes builds once-per-content).
    */
  private def annLiveVecRows(collection: String): Long =
    snapshotLive(collection, None) match {
      case Some(live) => live.count(_._2 != null).toLong
      case None =>
        resolved(collection).filter(col("embedding").isNotNull).count()
    }

  private val AnnIters = 2
  private val AnnDeltaCap = 10000

  private def annPtrPath(d: String) = Paths.get(d, "_index_ptr")

  private def annIndexRoot: String =
    spark.conf.getOption("spark.graft.collection.annIndexRoot")
      .getOrElse(s"${System.getProperty("java.io.tmpdir")}/graft-collection-index")

  /** Content fingerprint of the collection's live (id, embedding,
    * document, metadata) state: driver-hashed from the snapshot rows
    * when the log is small, one map-side-partial aggregation job
    * otherwise — the [[graft.operators.VectorIndex.contentHash]]
    * discipline, so identical content re-ingested under a different
    * warehouse resolves to the SAME on-disk index.
    */
  private def annContentFingerprint(collection: String): String = {
    // memoized per (dir, batch, file set): the log is append-only, so
    // any content change lands a new batch/file and misses the key —
    // and the ANN and LEXICAL tiers of one hybrid serve fingerprint
    // the SAME content, which without the memo is two identical
    // corpus-scan jobs back to back
    val d = dir(collection)
    val key = s"$d|${currentBatchIn(d)}|${logFileNames(d).toSeq.sorted.mkString(",")}"
    // bounded: entries are ~100 bytes but keys embed warehouse dirs,
    // which a long-lived service mints without limit
    if (CollectionData.fingerprintMemo.size > 4096)
      CollectionData.fingerprintMemo.clear()
    CollectionData.fingerprintMemo.computeIfAbsent(key, { _: String =>
      snapshotLive(collection, None) match {
        case Some(live) =>
          val h = scala.util.hashing.MurmurHash3.orderedHash(
            live.iterator.map(r => (r._1, r._2, r._3, r._4)))
          f"drv$h%08x-${live.length}"
        case None =>
          graft.operators.VectorIndex.contentHash(
            resolved(collection).select(col("id").as("vec_id"),
              to_json(struct(col("embedding"), col("document"),
                col("metadata_json"))).as("vec")))
      }
    })
  }

  private def buildAnnIndex(collection: String, scratch: java.nio.file.Path,
                            cells: Int, nLive: Long): Unit = {
    // SNAPSHOT-FIRST (r13 — the buildGraphIndex r11 discipline,
    // finally applied to the IVF build): k-means makes 1 + AnnIters
    // passes over the corpus, and every pass over the lazy
    // merge-on-read view re-runs the log's latest-version-per-id
    // window shuffle — measured as a dominant share of the 1.6M-row
    // ladder build (2,998 s, ARCHITECTURE r12). Resolve the live rows
    // ONCE to a columnar snapshot, train from that, drop it after
    // (the artifact serves vectors/centroids only).
    val snap = s"$scratch/train_snapshot"
    resolved(collection).filter(col("embedding").isNotNull)
      .write.mode("overwrite").parquet(snap)
    val base = spark.read.parquet(snap)
    val train0 = base.select(col("id").as("vec_id"), col("embedding").as("vec"))
    // SAMPLED TRAINING above the scale gate (r13, cutting the
    // N·cells·dim·iters assignment law to sample·cells·dim·iters):
    // the full corpus is assigned exactly ONCE, at the layout write
    // below. The sample is a pure function of the id (xxhash64 mod),
    // so the trained model stays deterministic and engine-replayable;
    // every sub-gate corpus (all oracles) trains on every row.
    // nLive arrives from the caller's annLiveVecRows — identical to
    // the snapshot's count by construction (r13 review: re-counting
    // the just-written snapshot was one redundant job per build)
    val every = CollectionData.annTrainSampleEvery(nLive, cells)
    val train =
      if (every <= 1L) train0
      else train0.filter(
        pmod(xxhash64(concat(lit("ks:"), col("vec_id").cast("string"))),
          lit(every)) === 0L)
    val cents = VectorOps.kmeansCentroids(train, cells, AnnIters)
    // cluster by label BEFORE the partitioned write: without it every
    // upstream partition writes a file into every cell directory
    // (cells × partitions tiny files — observed 1845 files for a
    // 5k-row collection), and every later serve pays listing + footer
    // reads per file. One shuffle at build time buys exactly one file
    // per cell, the layout a 1000-executor scan wants.
    base.withColumn("label", VectorOps.nearestCentroidId(col("embedding"), cents))
      .repartition(col("label"))
      .write.mode("overwrite").partitionBy("label")
      .parquet(s"$scratch/vectors")
    val sp = spark
    import sp.implicits._
    cents.toDF("c_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$scratch/centroids")
    // the training snapshot is build scratch, not artifact surface
    import java.util.Comparator
    val snapPath = java.nio.file.Paths.get(snap)
    if (Files.exists(snapPath))
      Files.walk(snapPath).sorted(Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
  }

  /** Graph build knobs from collection metadata: Some((M,
    * construction_ef)) when the collection DECLARES the graph tier
    * via `hnsw:M` and/or `hnsw:construction_ef` (the reference
    * passes both through opaquely, reference src/client.rs:97,351).
    * `hnsw:M` is the graph's out-degree; `hnsw:construction_ef` the
    * build-time candidate breadth (our LSH bucket cap — the pool a
    * node's top-M neighbors are chosen from, hnswlib's ef_construction
    * role), floored at M+1 so a node can always fill its degree.
    * Values validated positive by [[hnswSearchEf]] before any route.
    */
  private[catalog] def graphKnobs(collection: String): Option[(Int, Int)] = {
    val meta = client.getCollection(collection).metadata.getOrElse(Map.empty)
    val m = meta.get("hnsw:M").map(_.trim.toInt)
    val cef = meta.get("hnsw:construction_ef").map(_.trim.toInt)
    if (m.isEmpty && cef.isEmpty) None
    else {
      val deg = m.getOrElse(GraphDefaultM)
      Some((deg, math.max(cef.getOrElse(GraphDefaultCef), deg + 1)))
    }
  }

  private val GraphDefaultM = 8
  private val GraphDefaultCef = 256

  /** Read a positive-integer graph conf (`maxLevel`, `pbBuckets`,
    * `exhaustiveCap`) from session conf, VALIDATED (r11): a 0,
    * negative or non-integer value fails loudly instead of silently
    * degrading the serve or the build. Unset, the law value holds.
    */
  private def graphServeKnob(key: String, lawDefault: Int): Int =
    spark.conf.getOption(key) match {
      case None => lawDefault
      case Some(raw) =>
        val v =
          try raw.trim.toInt
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"$key must be a positive integer, got '$raw'") }
        if (v <= 0) throw new IllegalArgumentException(
          s"$key must be a positive integer, got $v")
        v
    }

  /** Effective partition-bucket count for a graph BUILD over `live`
    * rows: the `spark.graft.graph.pbBuckets` conf override (keyed
    * `-p` segment + pointer-checked, the maxLevel discipline) or the
    * size-derived [[graft.operators.GraphAnn.pbBucketsFor]] law.
    */
  private[catalog] def graphPbBuckets(live: Long): Int =
    graphServeKnob("spark.graft.graph.pbBuckets",
      graft.operators.GraphAnn.pbBucketsFor(live))

  /** Dedup-grouping verify-gate width in PERCENT of the larger norm
    * (the certified constant the oracles replay). The collgraph cache
    * key and the pointer check carry it as the `-g2-` segment.
    */
  private[catalog] val GraphDedupGatePct = 2

  /** Number of hierarchy layers above the base: L = ⌊log_M N⌋
    * clamped [1, 10] — the canonical HNSW level cap (expected top
    * layer holds between 1 and M nodes; the deterministic rank
    * assignment below makes that exact: ⌈N/M^L⌉ ∈ [1, M]). Layer l
    * holds the ⌈N/M^l⌉ highest-ranked nodes by a content-independent
    * id hash, so memberships are NESTED and layer sizes are exact
    * geometric — no empty-middle-layer edge cases to serve around.
    */
  private[catalog] def graphMaxLevelFor(m: Int, n: Long): Int = {
    val law = {
      val deg = math.max(2, m).toDouble
      val raw = math.floor(math.log(math.max(2L, n).toDouble) / math.log(deg)).toInt
      math.min(16, math.max(1, raw))
    }
    // a maxLevel override is folded into the artifact identity (the
    // cache key's -L segment), so deviation is safe-by-construction —
    // only validate it parses positive
    graphServeKnob("spark.graft.graph.maxLevel", law)
  }

  /** Entry-set cap: when the level clamp binds (tiny `hnsw:M` on a
    * huge corpus — e.g. M=2 past 2¹⁷ rows), the top layer outgrows
    * "≤ M ids"; the entry relation then keeps only the top `GraphMaxEntries`
    * hash ranks — still a rank PREFIX, so memberships stay nested and
    * the exhaustive top-layer scoring stays driver- and
    * broadcast-safe at any (M, N).
    */
  private[catalog] val GraphMaxEntries = 4096

  /** Exact size of hierarchy layer `level` (≥ 1): ⌈N/M^level⌉. */
  private[catalog] def graphLayerSize(n: Long, m: Int, level: Int): Long = {
    val deg = math.max(2, m).toDouble
    math.ceil(math.max(1L, n).toDouble / math.pow(deg, level.toDouble)).toLong
  }

  /** Beam width for a graph-tier serve: `hnsw:search_ef` is the
    * user's calibrated candidate breadth and WINS when declared
    * (n_results ≤ search_ef already enforced by [[query]]); absent,
    * ef = max(law base ef, n_results) — a CONSTANT per budget tier
    * ([[graft.operators.GraphAnn.serveBudgetFor]]'s fourth value:
    * 48 at fixture scale = the certified 16·hops, 64 above the scale
    * gate, 96 above the build-volume gate where the bounded-volume
    * edges need the wider beam — r13). This is the r10 law change
    * the hierarchy buys: the r9 flat graph needed ef = 2√N to hold
    * recall (measured — hop/entry/M/stride sweeps recovered
    * nothing), which capped recall at the 4096-ef bound past N ≈ 4M
    * vectors. With query-local seeds the ef never grows with N —
    * only with the two one-time budget steps.
    */
  private[catalog] def graphBeamEf(searchEf: Option[Int], nResults: Int,
                                   efLaw: Int): Int =
    searchEf.getOrElse(math.max(efLaw, nResults))

  /** Explored-rows budget of one query under the layered serve — the
    * spec-pinned scale contract: top layer scored exhaustively
    * (⌈N/M^L⌉ ≤ M rows), each of the L−1 upper walks a constant
    * hops·ef·M, the base walk a constant hops·ef·M — total
    * O(log N)·constant, replacing the flat graph's √N·log N·M.
    */
  private[graft] def graphExploredBudget(m: Int, n: Long, nResults: Int): Long = {
    val lMax = graphMaxLevelFor(m, n)
    // the serve-budget LAW values (r13): the budget this formula
    // pins is what the serve explores at N. Above the scale gate the
    // serve seeds from the exhaustive model-scale layer (largest
    // layer ≤ the gate — scored outright, layers above it are nested
    // subsets and never touched) and walks only the layers too big
    // to enumerate: budget = one bounded layer scan + walks · the
    // stepped per-layer constant + the base walk — a ≤-gate constant
    // plus log₈(N/gate) walks, still nothing polynomial.
    val (bh, uh, ue, efL) = graft.operators.GraphAnn.serveBudgetFor(n)
    val baseWalk = bh.toLong * math.max(efL, nResults) * m
    val cap = graft.operators.GraphAnn.ExhaustiveLayerCapRows
    val lStar =
      if (n < graft.operators.GraphAnn.ScaleGateRows) lMax
      else if (n <= cap) 0 // exhaustive-base band (r14): serve is exact
      else (1 until lMax).find(l => graphLayerSize(n, m, l) <= cap)
        .getOrElse(lMax)
    if (lStar == 0) n // one ≤-cap base scan, no walks, no edge reads
    else if (lStar < lMax)
      graphLayerSize(n, m, lStar) + (lStar - 1).toLong * uh * ue * m + baseWalk
    else
      graphLayerSize(n, m, lMax) + (lMax - 1).toLong * uh * ue * m + baseWalk
  }

  /** Serve-time search budget of a persisted graph artifact, read
    * once per (JVM, artifact) from its `params` table — the artifact
    * is immutable after `_INDEX_OK`, so the hot path never pays a
    * read job. Returns (hops, entries, indexed corpus size, layers,
    * group count, partition-bucket count, graph degree m).
    */
  private def graphParams(idx: String): (Int, Int, Long, Int, Long, Int, Int) =
    CollectionData.graphParamsMemo.computeIfAbsent(idx, { _: String =>
      val r = graft.operators.IndexCache.readCached(spark, s"$idx/params").head()
      (r.getInt(r.fieldIndex("hops")), r.getInt(r.fieldIndex("entries")),
        r.getLong(r.fieldIndex("n")), r.getInt(r.fieldIndex("maxlevel")),
        r.getLong(r.fieldIndex("ngroups")),
        r.getInt(r.fieldIndex("npb")), r.getInt(r.fieldIndex("m")))
    })

  /** Exact element-wise upcast of a collected float/double vector —
    * the driver-side mirror of the distance kernels' cast-to-double
    * element access. Nulls or non-numeric elements throw; the caller
    * falls back to the distributed path, whose NULL semantics such
    * data would need.
    */
  private def vecToDoubles(xs: Seq[Any]): Array[Double] = {
    val out = new Array[Double](xs.length)
    var i = 0
    val it = xs.iterator
    while (it.hasNext) {
      it.next() match {
        case f: java.lang.Float  => out(i) = f.toDouble
        case d: java.lang.Double => out(i) = d.doubleValue()
        case other => throw new IllegalStateException(
          s"non-numeric vector element: $other")
      }
      i += 1
    }
    out
  }

  /** DRIVER-SIDE upper-layer descent over a sub-scale-gate graph
    * artifact (r15): collect the immutable model-scale hierarchy once
    * per JVM ([[CollectionData.upperDescentMemo]]) and run the
    * chained upper walks on the driver — value-for-value the
    * [[graft.operators.GraphAnn.beamSearchSeeded]] loop
    * ([[graft.operators.GraphAnn.localUpperWalk]]) — returning the
    * base walk's seed frame as a LOCAL relation. None ⇒ the caller
    * must run the distributed descent (entry blackout, inconsistent
    * vector widths, or a collect failure — the distributed path is
    * always correct, so falling back is always safe).
    */
  private def driverDescentSeeds(idx: String, gMaxLevel: Int, gUpperEf: Int,
                                 gUpperHops: Int, metric: String,
                                 touched: Seq[String],
                                 qframe: DataFrame): Option[DataFrame] =
    try {
      val model = graft.Lru.getOrCompute(
        CollectionData.upperDescentMemo, idx)(_ => true) {
        val lv = graft.operators.IndexCache.readCached(spark, s"$idx/levels")
          .select(col("vec_id"), col("lvl"), col("vec")).collect()
        val levels = lv.map(r =>
          (r.getString(0), r.getInt(1), vecToDoubles(r.getSeq[Any](2))))
        val dims = levels.iterator.map(_._3.length).toSet
        val entries = graft.operators.IndexCache
          .readCached(spark, s"$idx/entries")
          .collect().map(_.getString(0)).toSeq
        val adj = (1 until gMaxLevel).map { l =>
          val rows = graft.operators.IndexCache
            .readCached(spark, s"$idx/edges_l$l")
            .select(col("src"), col("dst")).collect()
          l -> rows.groupBy(_.getString(0))
            .map { case (src, rs) => src -> rs.map(_.getString(1)) }
        }.toMap
        CollectionData.UpperDescentModel(entries, levels, adj,
          if (dims.size <= 1) dims.headOption.getOrElse(0) else -1)
      }
      if (model.dim < 0) return None
      val touchedSet = touched.toSet
      val liveStarts = model.entries.filterNot(touchedSet)
      if (liveStarts.isEmpty) return None // blackout → walkStarts machinery
      val qRows = qframe.collect() // |Q| rows — model-scale, serve contract
      val distF = graft.operators.GraphAnn.localDistance(metric)
      val layerVecs: Map[Int, collection.Map[String, Array[Double]]] =
        (1 until gMaxLevel).map { l =>
          val m = collection.mutable.HashMap[String, Array[Double]]()
          model.levels.foreach { case (id, lvl, v) =>
            if (lvl >= l && !touchedSet.contains(id)) m(id) = v
          }
          l -> (m: collection.Map[String, Array[Double]])
        }.toMap
      val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
      qRows.foreach { r =>
        val qv = vecToDoubles(r.getSeq[Any](1))
        if (qv.length != model.dim && model.dim > 0)
          return None // dim mismatch: distributed NULL semantics apply
        var ids: Seq[String] = liveStarts
        var l = gMaxLevel - 1
        while (l >= 1) {
          ids = graft.operators.GraphAnn.localUpperWalk(qv, ids, layerVecs(l),
            model.adj.getOrElse(l, Map.empty), gUpperEf, gUpperHops, distF)
          l -= 1
        }
        ids.foreach(id => out.add(org.apache.spark.sql.Row(r.get(0), id)))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        qframe.schema.head.copy(name = "query_id"),
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.StringType, nullable = true)))
      Some(spark.createDataFrame(out, schema))
    } catch {
      case scala.util.control.NonFatal(_) => None
    }

  /** Build the persisted GRAPH tier — a LAYERED navigable graph (the
    * `hnsw:*` contract honored structurally, r10): the base-layer
    * kNN adjacency at degree `m` (LSH-bucketed candidates capped at
    * `cef` per bucket, symmetric ring links for connectivity), plus
    * ⌊log_M N⌋ sparse UPPER layers — layer l holds the ⌈N/M^l⌉
    * highest nodes by a deterministic id-hash rank
    * ([[graft.operators.GraphAnn.levelRankDf]]) with its own kNN
    * adjacency over exactly those nodes, the same construction at a
    * geometrically shrinking size (total build cost ≤ a constant
    * factor over the base graph). The top layer is model-scale
    * (⌈N/M^L⌉ ≤ M ids) and doubles as the entry set. A serve
    * greedy-descends the hierarchy — each layer's beam seeds the next
    * — so the base walk starts query-local and a CONSTANT ef holds
    * recall at any N: expected path length log N at constant beam
    * width, the property the flat r9 graph could only buy with
    * ef ∝ √N. Budget constants are recorded IN the artifact's params
    * table — a serve never recomputes a corpus-derived constant.
    */
  private def buildGraphIndex(collection: String, scratch: java.nio.file.Path,
                              m: Int, cef: Int, metric: String): Unit = {
    // base and (below) base edges are PARTITIONED by a 64-way id-hash
    // bucket (r12, a11): each beam-search hop equi-joins a model-
    // scale frontier against these relations, and the bucket column
    // in the join key lets dynamic partition pruning cut the hop to
    // the frontier's buckets instead of scanning every edge/vector —
    // at cluster scale that is the difference between hops × (whole
    // graph) and hops × (touched buckets). Values are unchanged; the
    // bucket is derived from the id alone ([[GraphAnn.pbOf]]).
    // bucket count is an ARTIFACT constant derived from the live
    // size ([[GraphAnn.pbBucketsFor]]; conf override for sweeps and
    // the DPP spec, keyed like maxLevel) and recorded in params
    // (npb): pruning needs bucket count to grow with the corpus, a
    // serve must derive frontier buckets with its artifact's layout,
    // and sub-65k corpora skip the layout entirely (npb = 1 — the
    // pruning subqueries cost more than the scans they save there)
    val npb = graphPbBuckets(annLiveVecRows(collection))
    val baseRaw = resolved(collection).filter(col("embedding").isNotNull)
      .select(col("id"), col("embedding"), col("document"), col("metadata_json"))
    if (npb > 1)
      baseRaw
        .withColumn("pb", graft.operators.GraphAnn.pbOf(col("id"), npb))
        .repartition(col("pb"))
        .write.mode("overwrite").partitionBy("pb").parquet(s"$scratch/base")
    else baseRaw.write.mode("overwrite").parquet(s"$scratch/base")
    // every later build pass (grouping, edges, levels, L−1 upper
    // layers, entries) reads the JUST-WRITTEN columnar snapshot, not
    // the lazy merge-on-read log view — the log's
    // latest-version-per-id window runs exactly once per build
    // instead of once per build job (r11)
    val fullCorpus = spark.read.parquet(s"$scratch/base")
      .select(col("id").as("vec_id"), col("embedding").as("vec"))
    // LSH planes must match the data's dimensionality — one header
    // probe (first row), model-scale
    val dim = fullCorpus.select(size(col("vec")).as("d")).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(1)
    val dist = (a: Column, b: Column) => distanceExpr(metric, a, b)
    // DEDUP-AWARE BUILD (r11 — the recorded near-dup upgrade path,
    // ARCHITECTURE r10): a k×-duplicated corpus consumes beam slots
    // ∝ k — recall@10 over 3-cliques is recall@30 over the distinct
    // points, so EVERY constant budget decays on un-deduped data
    // (measured 0.70 at the sf0.1 clique fixture). Collapse near-dup
    // GROUPS to one representative each, build the whole hierarchy
    // over representatives, and expand groups back after the walk
    // (one serve-side join; the exact re-rank tail restores
    // per-member distances) — recall@k over k-cliques becomes
    // recall@⌈k/dups⌉ over distinct points, removing the limit
    // instead of paying dups× budget.
    //
    // Group law, three stages — deterministic, SQL-replayable,
    // non-iterative, and NOTHING pairwise at any N:
    //
    //   1. BANDED candidacy (r12 — closing the r11 separated-copies
    //      weak): r11 required the FULL 48-bit LSH signature to
    //      agree, but a near-identical copy that moves ~6% of the
    //      vector's direction flips ≥1 of 48 sign bits ~60% of the
    //      time and never became a candidate — the measured binding
    //      constraint (ARCHITECTURE r11 gate-width calibration).
    //      Candidacy now runs over 8 LEAVE-ONE-OUT bands of 42 bits
    //      (band t = the 7 signatures of the OTHER tables, same
    //      md5-derived planes/seed the kNN candidate stage uses): a
    //      pair whose flips are confined to one table still agrees
    //      on the band omitting that table. Each band is ONE
    //      hash-partitioned groupBy producing the bucket's MINIMUM
    //      id; a vector's candidate reps are its ≤ 8 bucket mins —
    //      no pair join, no label propagation. 42-bit keys keep
    //      buckets essentially dup-only (random collisions ∝
    //      N²/2⁴², and a polluted bucket min merely fails the gate
    //      below — it never blocks another band's true twin).
    //   2. VERIFY gate, unchanged: a candidate pair survives only if
    //      relatively NEAR-IDENTICAL — ‖m − r‖ ≤ 2% · max(‖m‖,‖r‖).
    //      Sign bits capture only DIRECTION, so without this gate
    //      collinear-but-metric-far vectors would collapse into one
    //      unbounded group. Metric-free and scale-free; members that
    //      fail stay ordinary graph nodes. The member's rep is its
    //      MINIMUM verified candidate.
    //   3. DEPTH-1 ROOT law: banded matching is not transitive, so a
    //      chosen rep might itself be a verified member of a smaller
    //      id. A member only joins a rep that is a ROOT (has no
    //      verified candidate of its own); chain tails stay ordinary
    //      nodes. On exact-dup cliques every band agrees, the clique
    //      min is its own root, and the law reduces bitwise to the
    //      r11 full-signature grouping.
    //
    // A verified member is still served at its TRUE exact-re-ranked
    // distance (via its rep's expansion) — a rare false merge only
    // degrades its reachability to its rep's, never its score.
    val grpPlanes = (0 until 8).map(t =>
      graft.operators.VectorOps.hashHyperplanes(6, dim, t, 42L))
    val sigArr = fullCorpus.withColumn("sigarr",
      graft.functions.LshSignatures(col("vec"), grpPlanes))
    // all 8 leave-one-out band keys derive in ONE projection and
    // posexplode to (band, bkey) rows (r13, closing the r12 watch
    // item): the previous 8-way union planned 8 scan+signature
    // branches — and 16 with looBands' second reference in the
    // candidate join — recomputing the 8-table LSH per branch; the
    // exploded shape computes signatures once per row and scans the
    // snapshot once per reference. Same (band, bkey) set bitwise
    // (posexplode's pos ≡ the old lit(t)), so the oracle replay and
    // every group law downstream are untouched.
    val looBands = sigArr.select(col("vec_id"),
      posexplode(array((0 until 8).map(t =>
        concat_ws(",", (0 until 8).filter(_ != t)
          .map(u => col("sigarr").getItem(u).cast("string")): _*)): _*))
        .as(Seq("band", "bkey")))
    val bucketMin = looBands.groupBy(col("band"), col("bkey"))
      .agg(min(col("vec_id")).as("bm"))
    val candPairs = looBands.join(bucketMin, Seq("band", "bkey"))
      .filter(col("bm") < col("vec_id"))
      .select(col("vec_id"), col("bm").as("cand")).distinct()
    val repVecs = fullCorpus
      .select(col("vec_id").as("cand"), col("vec").as("rvec"))
    val verified = candPairs
      .join(fullCorpus, "vec_id")
      .join(repVecs, "cand")
      .filter(graft.operators.VectorOps.l2(col("vec"), col("rvec")) <=
        lit(GraphDedupGatePct / 100.0) * sqrt(greatest(
          graft.operators.VectorOps.dot(col("vec"), col("vec")),
          graft.operators.VectorOps.dot(col("rvec"), col("rvec")))))
      .select(col("vec_id"), col("cand"))
    val memberRep = verified.groupBy(col("vec_id"))
      .agg(min(col("cand")).as("rep_id"))
    // groups persists only the VERIFIED members of ROOT reps —
    // empty on a dup-free corpus, |duplicates| rows otherwise (never N)
    memberRep
      .join(memberRep.select(col("vec_id").as("rep_id")).distinct(),
        Seq("rep_id"), "left_anti")
      .select(col("vec_id").as("member_id"), col("rep_id"))
      .write.mode("overwrite").parquet(s"$scratch/groups")
    val nGroupMembers = spark.read.parquet(s"$scratch/groups").count()
    // representatives = everything not absorbed as a member; on a
    // dup-free corpus (the common case) the anti-join is skipped
    // outright so every downstream build job reads the snapshot
    // directly — grouping costs exactly one signature+verify pass.
    // When groups DID form, the rep set is materialized once to
    // scratch: ~10 downstream build jobs (base edges, levels, L−1
    // upper layers, entries) would otherwise each re-run the
    // anti-join; a grouped corpus shrinks the node set anyway, so
    // the extra relation is smaller than what grouping saved.
    val corpus =
      if (nGroupMembers == 0L) fullCorpus
      else {
        fullCorpus.join(
            spark.read.parquet(s"$scratch/groups")
              .select(col("member_id").as("vec_id")),
            Seq("vec_id"), "left_anti")
          .select(col("vec_id"), col("vec"))
          .write.mode("overwrite").parquet(s"$scratch/nodes")
        spark.read.parquet(s"$scratch/nodes")
      }
    // NAVIGABLE edge construction, every layer (canonical HNSW:
    // Malkov & Yashunin 2018 §4.1 M_max0 = 2·M plus the
    // shrink-connections step): 2M-degree kNN from LSH-bucketed
    // candidates, SYMMETRIZED (reverse edges make a node ENTERABLE
    // from every node that chose it — the in-degree half of
    // navigability), then RE-CAPPED to each node's closest 3M (one
    // join for the distances + one per-src window; 3M not 2M because
    // our kNN edges are not RNG-diversified, so the theory cap trims
    // real neighbors — measured 0.89 vs 0.93 recall at the 4× corpus
    // — while 3M ≈ the organic mean degree and still bounds hub
    // fan-in, which the LSH bucket cap otherwise leaves at
    // ~tables·bucketCap). RING edges are exempt from the cap and
    // unioned back, both directions: shrinking away a metric-far
    // ring link is exactly how HNSW's shrink disconnects graphs, and
    // the ring is the connectivity proof. Out-degree ≤ 3M + 4.
    //
    // Applied to the BASE and EVERY UPPER layer alike: top-M-only
    // edges saturate recall ~0.88 at any walk length (measured r10),
    // and with top-M-only UPPER layers the defect compounds per
    // descent step — the 4-layer clique fixture decayed to 0.70 even
    // at upper ef=64 while the navigable uppers hold the constant
    // budget. Upper layers shrink geometrically, so the extra build
    // cost is a constant factor on the base build.
    // layerN sizes the LSH signature width ([[GraphAnn.bitsForLayer]]):
    // 6 bits for every oracled corpus (≤ 8,192 rows — the DuckDB
    // twins' fixed derivation stays exact), widening past that so the
    // expected bucket stays ~64 rows and the dense-bucket skip never
    // swallows the whole layer (the r12 scale-audit cliff).
    // The kNN stage returns (src, dst, d) with d = dist(src, dst)
    // EXACT (GraphAnn.knnTopD) — and every collection metric
    // (cosine, l2, ip) is symmetric AND bitwise symmetric in the
    // generated code (a·b ≡ b·a per position; (a−b)² ≡ (b−a)²; same
    // summation order), so the reverse edge reuses d and the re-cap
    // ranks on carried distances. The previous shape re-joined the
    // layer's vectors onto BOTH endpoints of the symmetrized edge
    // set to recompute ed — at 25.6M rows that is ~2·N·2M edge rows
    // × dim floats ≈ 10²-GB of vector-carrying shuffle (the largest
    // transient of the build after the candidate stage itself) for
    // values the build had already computed. Values are bit-identical
    // either way; the ed column merely stops being recomputed (r14).
    def navigableEdges(layerCorpus: DataFrame, layerN: Long): DataFrame = {
      val knn2m = graft.operators.GraphAnn
        .knnTopD(layerCorpus, 2 * m, dist, dim = dim,
          maxBucket = graft.operators.GraphAnn.bucketCapFor(layerN, cef, 2 * m),
          bitsPerTable = graft.operators.GraphAnn.bitsForLayer(layerN),
          n = layerN)
      val ring = graft.operators.GraphAnn.ringEdges(layerCorpus, Seq(1L, 37L))
      val fwdAll = knn2m.select(col("src"), col("dst"), col("d").as("ed"))
      val revAll = knn2m.select(col("dst").as("src"), col("src").as("dst"),
        col("d").as("ed"))
      val ringAll = ring.unionByName(
        ring.select(col("dst").as("src"), col("src").as("dst")))
      val wCap = Window.partitionBy(col("src"))
        .orderBy(col("ed").asc, col("dst").asc)
      // One src-keyed slice of symmetrize→dedup→cap→ring→distinct.
      // Fused dedup + cap (r14): a pair surviving kNN in BOTH
      // directions yields two copies with the SAME ed (d is carried
      // and every collection metric is bitwise symmetric — see the
      // re-cap note above), so under (ed asc, dst asc) the copies
      // are adjacent and a lag-compare on dst replaces the old
      // groupBy(src,dst).min(ed) — deleting a second
      // 2·N·2M-row exchange, the largest remaining transient of the
      // ≥4.2M build after the candidate stage itself.
      def recapOf(fwd: DataFrame, rev: DataFrame,
                  ringS: DataFrame): DataFrame = {
        val capped = fwd.unionByName(rev)
          .withColumn("dup", lag(col("dst"), 1).over(wCap) === col("dst"))
          .filter(!coalesce(col("dup"), lit(false)))
          .withColumn("r", row_number().over(wCap))
          .filter(col("r") <= 3 * m)
          .select(col("src"), col("dst"))
        // distinct folds the cap-exempt ring back in; src-keyed, so
        // running it per slice is exact
        capped.unionByName(ringS).distinct()
      }
      val forcedW = graft.operators.GraphAnn.recapForcedWaves
      if (forcedW.isEmpty &&
          layerN < graft.operators.GraphAnn.BuildVolumeGateRows)
        recapOf(fwdAll, revAll, ringAll)
      else {
        // Volume tier: the symmetrized set is 2·N·2M rows — one
        // exchange of it cannot fit scratch at ladder scale, so the
        // stage runs in src-hash waves like the candidate stage
        // (every edge row of a slice keys on that slice's src;
        // slices are disjoint, their union exact). Each slice cuts
        // to disk eagerly so the wave's shuffles release before the
        // next claims scratch.
        val usable = graft.operators.GraphAnn
          .localScratchUsableBytes(layerCorpus.sparkSession)
        val w = forcedW.getOrElse(
          graft.operators.GraphAnn.wavesForRecap(layerN, 2 * m, usable))
        if (layerN >= graft.operators.GraphAnn.BuildVolumeGateRows)
          println(s"GRAFT recap: n=$layerN -> $w wave(s) " +
            s"(scratch=${usable / (1L << 30)}G)")
        val slices = (0 until w).map { i =>
          def sl(df: DataFrame): DataFrame = df.filter(
            pmod(xxhash64(col("src")), lit(w.toLong)) === lit(i.toLong))
          val s = recapOf(sl(fwdAll), sl(revAll), sl(ringAll))
            .localCheckpoint(eager = true,
              storageLevel = org.apache.spark.storage.StorageLevel.DISK_ONLY)
          System.gc()
          s
        }
        slices.reduce(_ unionByName _)
      }
    }
    // hierarchy levels: nested memberships from the deterministic
    // hash rank; lvl = the highest layer containing the node (only
    // lvl ≥ 1 rows persist — N/M of the corpus). Ranks run over the
    // REPRESENTATIVES (the graph's nodes), but layer THRESHOLDS and
    // the level count derive from the FULL live count: the hierarchy
    // shape must not depend on the collapse rate (the oracle unrolls
    // a fixed layer structure, and a near-boundary rep count would
    // make ⌊log_M N⌋ data-fragile). The over-provision is at most
    // one layer when duplication ≤ M× — a constant-cost walk each.
    // (Ranked before the base edges so nReps can size the base
    // layer's signature width — levelRankDf already counts.)
    val (rankedH, nReps) = graft.operators.GraphAnn.levelRankDf(corpus)
    val n = nReps + nGroupMembers // full live embedded count
    val edgesRaw = navigableEdges(corpus, nReps)
    if (npb > 1)
      edgesRaw
        .withColumn("pb", graft.operators.GraphAnn.pbOf(col("src"), npb))
        .repartition(col("pb"))
        .write.mode("overwrite").partitionBy("pb").parquet(s"$scratch/edges")
    else edgesRaw.write.mode("overwrite").parquet(s"$scratch/edges")
    // Volume-tier lineage release (r14): a completed write's input
    // lineage still pins every upstream stage's shuffle files until
    // the next GC lets ContextCleaner collect them — at fixture
    // scale irrelevant, but a ≥4.2M base build's candidate/recap
    // stages are tens of GB of scratch that the REMAINING build
    // steps (levels, upper layers) would otherwise share capacity
    // with. The nudge is what makes the capacity math in
    // [[graft.operators.GraphAnn.wavesForVolume]] hold cumulatively.
    if (nReps >= graft.operators.GraphAnn.BuildVolumeGateRows) System.gc()
    val maxLevel = graphMaxLevelFor(m, n)
    val thresholds = (1 to maxLevel).map(l => graphLayerSize(n, m, l))
    val lvlCol = thresholds.zipWithIndex.foldLeft(lit(0)) {
      case (acc, (thr, i)) => when(col("hrk") <= thr, lit(i + 1)).otherwise(acc)
    }
    // levels carries the member VECTOR too (r13, a14): every upper
    // layer is a nested prefix of this N/M-row relation, so a serve
    // scores upper layers — walked or exhaustive — against it
    // directly instead of joining each hop's ids back through the
    // N-row base; the whole hierarchy above the base costs one
    // relation of ~N/(M−1) rows.
    rankedH.select(col("vec_id"), lvlCol.as("lvl")).filter(col("lvl") >= 1)
      .join(corpus, "vec_id")
      .select(col("vec_id"), col("lvl"), col("vec"))
      .write.mode("overwrite").parquet(s"$scratch/levels")
    val levels = spark.read.parquet(s"$scratch/levels")
    // upper-layer adjacencies (layers 1..L−1; the top layer is
    // enumerated exhaustively at serve time, so it needs no edges):
    // plain top-M + rings restricted to the layer's members. NOT the
    // base construction: applying symmetrize+recap to the uppers was
    // measured WORSE on the deep clique fixture (0.70 → 0.50) — an
    // upper layer's job is coarse routing, and the re-cap
    // concentrates its few slots on near-duplicates.
    for (l <- 1 until maxLevel) {
      val members = levels.filter(col("lvl") >= l).select(col("vec_id"))
      // layer l holds exactly min(threshold_l, nReps) reps — known
      // without a job, sizing the layer's signature width
      val layerN = math.min(thresholds(l - 1), nReps)
      graft.operators.GraphAnn
        .buildKnnGraphDist(corpus.join(members, "vec_id"), m, dist,
          dim = dim,
          maxBucket = graft.operators.GraphAnn.bucketCapFor(layerN, cef, m),
          bitsPerTable = graft.operators.GraphAnn.bitsForLayer(layerN),
          layerN = layerN)
        .write.mode("overwrite").parquet(s"$scratch/edges_l$l")
    }
    // entries = top-layer membership (⌈N/M^L⌉ ≤ M ids whenever the
    // level clamp is slack; a hash-rank PREFIX capped at
    // GraphMaxEntries when it binds — see [[GraphMaxEntries]])
    val entries = math.min(graphLayerSize(n, m, maxLevel),
      GraphMaxEntries.toLong).toInt
    rankedH.filter(col("hrk") <= entries).select(col("vec_id"))
      .coalesce(1).write.mode("overwrite").parquet(s"$scratch/entries")
    val sp = spark
    import sp.implicits._
    // `hops` is a READOUT column (the serve derives its walk length
    // from serveBudgetFor at query time, never from params) — record
    // the law value for the artifact's own N so the recorded budget
    // matches what the serve will actually run (r14, closing the
    // r13 readout-divergence advisory: the sub-gate base-hop
    // constant 3 was recorded unconditionally while above-gate
    // serves walk bh=4).
    Seq((n, m, cef, entries,
        graft.operators.GraphAnn.serveBudgetFor(n)._1,
        maxLevel, nGroupMembers, npb))
      .toDF("n", "m", "cef", "entries", "hops", "maxlevel", "ngroups", "npb")
      .coalesce(1).write.mode("overwrite").parquet(s"$scratch/params")
  }

  /** The serving route: Some((indexDir, baseBatch)) when an index is
    * (or has just been made) current enough to serve from; None →
    * scan path. */
  /** Log file names at build time — the append-only witness: pure
    * appends PRESERVE existing files, so the live listing must remain
    * a superset of the recorded one for the batch-delta contract to
    * hold. A compact/vacuum rewrites the file set (and may fold batch
    * numbering right back onto the pointer's build batch, defeating a
    * numbering check alone — caught live by the compact-interplay
    * spec), so any recorded file going missing forces a rebuild.
    */
  private def logFileNames(d: String): Set[String] = liveLogName(d) match {
    case None => Set.empty
    case Some(name) =>
      val s = Files.list(Paths.get(d, name))
      try {
        val out = Set.newBuilder[String]
        s.forEach { f =>
          val n = f.getFileName.toString
          if (n.endsWith(".parquet")) out += n
        }
        out.result()
      } finally s.close()
  }

  /** Build (or cache-resolve) the IVF artifact for the collection's
    * CURRENT content — the one key template, shared by the primary
    * route and the graph tier's filtered side route so the
    * "identical cache key ⇒ identical artifact" guarantee cannot
    * drift between the two call sites.
    */
  private def ivfArtifact(collection: String, metric: String): String = {
    val fp = annContentFingerprint(collection)
    val live = annLiveVecRows(collection)
    val cells = annClustersFor(live)
    // the IVF trainer versions through its OWN key segment (r13):
    // the sampled-training change affects collivf artifacts alone,
    // so bumping the shared AlgoVersion would have retired every
    // lexical/PQ/dedup artifact for nothing — the r12
    // GraphAlgoVersion lesson, applied to the trained-model side
    graft.operators.IndexCache.getOrBuild(annIndexRoot, "collivf",
      s"$fp-k$cells-$metric-${CollectionData.IvfTrainerVersion}-" +
        graft.operators.VectorIndex.AlgoVersion) { scratch =>
      buildAnnIndex(collection, scratch, cells, live)
    }
  }

  private def annRoute(collection: String, metric: String): Option[(String, Long)] = {
    if (forkEdge(collection).isDefined) return None
    val d = dir(collection)
    if (logRows(collection) < annMinRows) return None
    def build(): Option[(String, Long)] = {
      val files = logFileNames(d)
      val b = currentBatchIn(d)
      // every sizing/build parameter is part of the cache key: given
      // identical content AND identical knobs the build is
      // deterministic, so a key hit can only serve the artifact this
      // code would rebuild (no AlgoVersion-style stale-serve window)
      val idx = graphKnobs(collection) match {
        case Some((m, cef)) =>
          // the collection DECLARED a graph index via hnsw:M /
          // hnsw:construction_ef → honor it with the graph tier.
          // The EFFECTIVE layer count folds into the key: it is
          // derived from (m, live rows) by default — already implied
          // by the content fingerprint — but the maxLevel conf
          // override shapes the artifact, and a cached graph built
          // under one override must never serve another (the
          // AlgoVersion stale-serve discipline, applied to knobs).
          val fp = annContentFingerprint(collection)
          val live = annLiveVecRows(collection)
          val lvl = graphMaxLevelFor(m, live)
          val npbKey = graphPbBuckets(live)
          graft.operators.IndexCache.getOrBuild(annIndexRoot, "collgraph",
            s"$fp-m$m-c$cef-L$lvl-g$GraphDedupGatePct-p$npbKey-$metric-" +
              graft.operators.GraphAnn.GraphAlgoVersion) { scratch =>
            buildGraphIndex(collection, scratch, m, cef, metric)
          }
        case None => ivfArtifact(collection, metric)
      }
      Files.write(annPtrPath(d),
        s"$idx\n$b\n${files.toSeq.sorted.mkString(",")}".getBytes("UTF-8"))
      Some((idx, b))
    }
    readValidPtr(d, annPtrPath(d)) match {
      case None => build()
      case Some((idx, b)) =>
        // tier/knob consistency: collection metadata is MUTABLE
        // (modifyCollection), so a pointer laid down under one tier
        // (or one set of graph knobs) must not keep serving after the
        // metadata declares another — the artifact basename encodes
        // both (collgraph-…-m$M-c$CEF-… / collivf-…), so the check is
        // two string ops, no snapshot hash. When the maxLevel conf
        // override is SET, the pointer must also carry that exact
        // layer count — a pointer laid down under one override must
        // not keep serving after the override changes (the default
        // derivation needs no check here: it is a pure function of
        // content + m, both already pointer-validated).
        val artifact = Paths.get(idx).getFileName.toString
        val consistent = graphKnobs(collection) match {
          case Some((m, cef)) =>
            artifact.startsWith("collgraph-") &&
              artifact.contains(s"-m$m-c$cef-") &&
              // the dedup gate always resolves to a concrete value,
              // so the pointer must carry exactly it (same stale-serve
              // discipline as maxLevel, simpler check)
              artifact.contains(s"-g$GraphDedupGatePct-") &&
              // pbBuckets override discipline mirrors maxLevel: a
              // pointer laid down under one override must not keep
              // serving after it changes — in BOTH directions (r13,
              // closing an r12 advisory): when the conf is unset, the
              // artifact's recorded npb must match the size law for
              // its OWN indexed corpus, or an artifact built under a
              // removed override (e.g. -p8-) keeps serving a
              // non-default layout silently (results unaffected — the
              // serve derives with the artifact's own npb — but the
              // stated stale-serve discipline is layout too)
              (spark.conf.getOption("spark.graft.graph.pbBuckets") match {
                case Some(v) => artifact.contains(s"-p${v.trim}-")
                case None =>
                  val (_, _, pn, _, _, gNpb, _) = graphParams(idx)
                  gNpb == graft.operators.GraphAnn.pbBucketsFor(pn)
              }) &&
              (spark.conf.getOption("spark.graft.graph.maxLevel") match {
                case Some(l) => artifact.contains(s"-L$l-")
                case None =>
                  // conf unset: the artifact's recorded layer count
                  // must match the default law for its OWN indexed
                  // corpus — a pointer laid down under a maxLevel
                  // override must not keep serving after the
                  // override is removed (params read is memoized
                  // per (JVM, artifact) and re-used by the serve)
                  val (_, _, pn, plvl, _, _, _) = graphParams(idx)
                  plvl == graphMaxLevelFor(m, pn)
              })
          case None => !artifact.startsWith("collgraph-")
        }
        if (consistent) Some((idx, b)) else build()
    }
  }

  /** Shared pointer validation for the persisted collection tiers:
    * the pointer must exist, its artifact must have completed
    * (`_INDEX_OK`), the artifact must have been built by THIS code's
    * trainers (every tier's cache key ends in the AlgoVersion, so a
    * pointer laid down before a version bump must not keep serving —
    * an a4-era artifact lacks the params/docs/tok_docs relations the
    * a6 serve reads, and version bumps exist precisely because
    * content+params cannot distinguish two trainers), the log's
    * batch numbering must not have been reset (compact/vacuum), and
    * every build-time log file must still be present (append-only
    * witness — a recorded file going missing means the log was
    * REWRITTEN and batch-delta reasoning is void). None → the caller
    * rebuilds (content-keyed, so an unchanged collection resolves to
    * the same artifact instantly).
    */
  private def readValidPtr(d: String,
                           ptr: java.nio.file.Path): Option[(String, Long)] = {
    if (!Files.exists(ptr)) return None
    val lines = new String(Files.readAllBytes(ptr), "UTF-8").split("\n", -1)
    if (lines.length < 3) return None
    val (idx, b) = (lines(0), lines(1).toLong)
    if (!Files.exists(Paths.get(idx, "_INDEX_OK"))) return None
    // per-tier version suffix (r12 split): graph artifacts carry
    // GraphAlgoVersion, trained-model tiers carry AlgoVersion
    val name = Paths.get(idx).getFileName.toString
    val wantVersion =
      if (name.startsWith("collgraph-"))
        graft.operators.GraphAnn.GraphAlgoVersion
      else graft.operators.VectorIndex.AlgoVersion
    if (!name.endsWith("-" + wantVersion)) return None
    // collivf artifacts additionally carry the IVF trainer segment
    // (r13): a pre-t2 full-train artifact must not keep serving
    // under the sampled trainer — the same stale-serve rule the
    // shared version enforces, scoped to the one tier that changed
    if (name.startsWith("collivf-") &&
        !name.contains(s"-${CollectionData.IvfTrainerVersion}-")) return None
    if (currentBatchIn(d) < b) return None
    val recorded = lines(2).split(",").filter(_.nonEmpty).toSet
    if (!recorded.subsetOf(logFileNames(d))) return None
    Some((idx, b))
  }

  /** Post-build tail: (ids touched after `baseBatch`, their current
    * live rows). Driver-resolved from the snapshot cache when small;
    * one pushed-down scan otherwise. None = tail too large → caller
    * rebuilds. */
  private def annDelta(collection: String,
                       baseBatch: Long): Option[(Seq[String], Option[DataFrame])] =
    snapshotLive(collection, None) match {
      case Some(_) =>
        val d = dir(collection)
        val (sig, _) = logSignature(d)
        val all = levelRows(d, sig)
        val touched = all.iterator.filter(_._5 > baseBatch).map(_._1).toSeq.distinct
        if (touched.isEmpty) Some((Nil, None))
        else if (touched.size > AnnDeltaCap) None
        else {
          val tset = touched.toSet
          val live = snapshotLive(collection, None).get.filter(r => tset.contains(r._1))
          Some((touched, Some(localItemsDf(live))))
        }
      case None =>
        val tail = readLog(collection).filter(col("_batch") > baseBatch)
          .select(col("id")).distinct()
        val probe = tail.limit(AnnDeltaCap + 1).collect().map(_.getString(0)).toSeq
        if (probe.isEmpty) Some((Nil, None))
        else if (probe.size > AnnDeltaCap) None
        else Some((probe,
          Some(resolved(collection).filter(col("id").isin(probe: _*)))))
    }

  /** Resolved serve state of the collection's current tier:
    * (artifact dir, build batch, post-build touched ids, their live
    * rows) — the route + tail resolution EVERY serve path of one
    * `query()` call shares, computed once (the tail probe can be a
    * Spark job on non-snapshot collections, and the pre-r9 shape
    * paid it twice when a filtered graph query fell through to the
    * scan path). A tail past the delta cap deletes the pointer and
    * re-routes — the rebuild folds the tail into the new base.
    */
  private def annState(collection: String, metric: String)
      : Option[(String, Long, Seq[String], Option[DataFrame])] =
    annRoute(collection, metric).flatMap { case (idx, baseBatch) =>
      annDelta(collection, baseBatch) match {
        case Some((touched, deltaLive)) =>
          Some((idx, baseBatch, touched, deltaLive))
        case None => // tail outgrew the base — rebuild, then serve clean
          Files.deleteIfExists(annPtrPath(dir(collection)))
          annRoute(collection, metric).flatMap { case (idx2, b2) =>
            annDelta(collection, b2).map { case (t2, d2) => (idx2, b2, t2, d2) }
          }
      }
    }

  private def sideIvfPtrPath(d: String) = Paths.get(d, "_annflt_ptr")

  /** Route for the FILTERED-query IVF SIDE-TIER of a graph-declared
    * collection (r10): graph collections refuse to walk the beam
    * under a predicate (the filtered-HNSW trap), and the pre-r10
    * fallback was an O(corpus) exact scan per filtered call — the
    * common case in a metadata-rich vector store. The side tier is a
    * plain collivf artifact under the SAME content fingerprint and
    * cell law as the primary IVF route (identical cache key, so a
    * collection that later switches metadata graph→IVF resolves the
    * very same artifact instantly), with its OWN pointer file and
    * base+delta resolution — it is built lazily on the first
    * filtered call and maintained exactly like any other tier.
    */
  private def sideIvfRoute(collection: String, metric: String): Option[(String, Long)] = {
    if (forkEdge(collection).isDefined) return None
    val d = dir(collection)
    if (logRows(collection) < annMinRows) return None
    def build(): Option[(String, Long)] = {
      val files = logFileNames(d)
      val b = currentBatchIn(d)
      val idx = ivfArtifact(collection, metric) // the ONE shared key template
      Files.write(sideIvfPtrPath(d),
        s"$idx\n$b\n${files.toSeq.sorted.mkString(",")}".getBytes("UTF-8"))
      Some((idx, b))
    }
    readValidPtr(d, sideIvfPtrPath(d)).orElse(build())
  }

  /** Resolved serve state of the filtered side tier — the
    * [[annState]] contract (route + delta, rebuild when the tail
    * outgrows the base) against the side pointer.
    */
  private def sideIvfState(collection: String, metric: String)
      : Option[(String, Long, Seq[String], Option[DataFrame])] =
    sideIvfRoute(collection, metric).flatMap { case (idx, baseBatch) =>
      annDelta(collection, baseBatch) match {
        case Some((touched, deltaLive)) =>
          Some((idx, baseBatch, touched, deltaLive))
        case None =>
          Files.deleteIfExists(sideIvfPtrPath(dir(collection)))
          sideIvfRoute(collection, metric).flatMap { case (idx2, b2) =>
            annDelta(collection, b2).map { case (t2, d2) => (idx2, b2, t2, d2) }
          }
      }
    }

  /** Per-query candidate set from the persisted tier: probed-cell
    * base rows (post-build ids masked) plus the resolved tail, with
    * the `where`/`where_document` filters applied BEFORE any vector
    * math — None when the collection doesn't route through an index.
    */
  private def annCandidates(collection: String,
                            state: Option[(String, Long, Seq[String], Option[DataFrame])],
                            queryEmbeddings: DataFrame,
                            metric: String, whereJson: Option[String],
                            whereDocumentJson: Option[String],
                            nResults: Int = 10,
                            searchEf: Option[Int] = None): Option[DataFrame] =
    state.flatMap { case (idx, _, touched, deltaLive) =>
      (idx, touched, deltaLive) match {
        // Tier dispatch keys on the artifact KIND (its cache-key
        // prefix — the same idiom the pointer validation uses), not
        // on a data file's existence: the r14 exhaustive-base band
        // serves a graph artifact without ever reading `edges`, so
        // an edges-existence probe both misroutes diagnostic states
        // and implies a dependence the band doesn't have.
        case (idx, touched, deltaLive)
            if Paths.get(idx).getFileName.toString.startsWith("collgraph-") =>
          // GRAPH tier (hnsw:M / hnsw:construction_ef declared): beam
          // search over the persisted adjacency yields the ef-wide
          // candidate set; the shared exact re-rank tail in query()
          // finishes the job. Post-build ids are masked from the base
          // (scoreOf's corpus join drops them from the beam) and the
          // delta joins the candidates exactly, same as the IVF tier.
          // Search cost is layers × |Q| × ef × M — log N in corpus,
          // the property the hnsw metadata contract asks for.
          //
          // FILTERED queries do NOT walk the graph: the beam's
          // candidate pool is only ef rows per query, so a post-beam
          // filter can empty it while matching rows exist (the
          // classic filtered-HNSW problem), and PRE-filtering the
          // corpus would sever the graph's navigability. Instead
          // (r10, the r9 weak #2 cleared) they serve from an IVF
          // SIDE-TIER under the same content discipline: built once
          // per content, its own pointer/delta resolution, routed
          // through the already-certified adaptive filtered probe —
          // sublinear (probed cells only) instead of the O(corpus)
          // exact scan this path used to pay, and exact among
          // matches wherever the adaptive prefix covers them.
          // EXACT ESCAPE HATCH (r11, closing an r10 advisory): the
          // side-tier probe is approximate — recall can drop below
          // 1.0 when a selective/skewed predicate's matches spread
          // past the 16·nResults adaptive cell prefix. Users who need
          // the pre-r10 exactness for such predicates set this conf
          // and filtered calls fall back to the exact filter-first
          // scan over the artifact base (returning None routes
          // query() there) — O(corpus) per call, by explicit opt-in.
          if ((whereJson.isDefined || whereDocumentJson.isDefined) &&
              spark.conf.getOption("spark.graft.graph.filteredExactScan")
                .exists(_.trim.equalsIgnoreCase("true")))
            None
          else if (whereJson.isDefined || whereDocumentJson.isDefined)
            sideIvfState(collection, metric).map { case (sidx, _, st, sd) =>
              ivfCandidates(sidx, st, sd, queryEmbeddings, metric,
                whereJson, whereDocumentJson, nResults)
            }
          else {
            // structural params (entries, layer count, indexed N)
            // travel with the artifact; walk length/width derive from
            // the artifact's OWN size through the serve-budget law
            // (r13, [[graft.operators.GraphAnn.serveBudgetFor]]):
            // explored cost stays ∝ log N — the hierarchy's point —
            // while the per-layer constant steps up past the scale
            // gate, which is what holds the measured recall floor
            // (the r12 ladder's constant-budget decay).
            val (_, gEntries, gN, gMaxLevel, gNGroups, gNpb, gM) = graphParams(idx)
            val (gHops, gUpperHops, gUpperEf, gEfLaw) =
              graft.operators.GraphAnn.serveBudgetFor(gN)
            val baseAll = graft.operators.IndexCache.readCached(spark, s"$idx/base")
            val base =
              if (touched.nonEmpty) baseAll.filter(!col("id").isin(touched: _*))
              else baseAll
            // keep the partition bucket in the walk relation so each
            // hop's vector fetch can dynamically prune to the
            // frontier's buckets (GraphAnn.pbOf layout, r12)
            val corpus =
              if (base.columns.contains("pb"))
                base.select(col("id").as("vec_id"), col("embedding").as("vec"),
                  col("pb"))
              else base.select(col("id").as("vec_id"), col("embedding").as("vec"))
            val dist = (a: Column, b: Column) => distanceExpr(metric, a, b)
            val qframe = queryEmbeddings.select(col("query_id"), col("qvec"))
            val sp = spark
            import sp.implicits._
            // the hierarchy relation (vec_id, lvl, vec — a14): every
            // upper layer is a nested prefix of these ~N/(M−1) rows,
            // so the whole descent above the base scores against it
            // and never re-joins the N-row base per hop
            val levelsAll = graft.operators.IndexCache.readCached(spark, s"$idx/levels")
            val levelsLive =
              if (touched.nonEmpty) levelsAll.filter(!col("vec_id").isin(touched: _*))
              else levelsAll
            def layerFrame(l: Int): DataFrame =
              levelsLive.filter(col("lvl") >= l).select(col("vec_id"), col("vec"))
            // EXHAUSTIVE MODEL-SCALE LAYER (r13 — the whole-basin-miss
            // fix the r12 ladder asked for): above the scale gate,
            // the serve picks the LARGEST layer that is still
            // model-scale (law size ≤ exhaustiveCap, default the
            // 65,536-row scale gate) and scores it exhaustively —
            // one |Q| × layer join against the levels relation, no
            // edges, no navigation. Nested membership makes every
            // layer above it a subset, so its true top-ue IS a
            // better seed set than any walk through those layers
            // could produce: the measured ~10% whole-basin misses
            // were exactly walks failing to cross basins in sparse
            // mid-hierarchy layers (kNN edges are intra-basin; only
            // ring links cross, at random). Walks remain for the
            // layers too big to enumerate — which, having ≥
            // cap/basins members per basin, are the ones local
            // navigation actually works on. Sub-gate corpora (every
            // oracled fixture) keep the certified full walk serve.
            val exhaustCap = graphServeKnob("spark.graft.graph.exhaustiveCap",
              graft.operators.GraphAnn.ExhaustiveLayerCapRows.toInt).toLong
            // lStar = the layer scored exhaustively. 0 is the BASE
            // itself (r14): in the band gate ≤ N ≤ cap the whole
            // corpus is already model-scale by the law's own
            // definition — the hierarchy cannot add information, and
            // the r13 ladder's one remaining 100k whole-basin miss
            // was exactly this band seeding from a 12.5k-row layer
            // (~3 rows/basin) when the ≤-cap base was sitting right
            // there. Scoring the base outright makes the serve EXACT
            // in the band at the same ≤-cap explored bound the
            // layer-seed path already concedes.
            val lStar: Int =
              if (gN < graft.operators.GraphAnn.ScaleGateRows) gMaxLevel
              else if (gN <= exhaustCap) 0
              else (1 until gMaxLevel)
                .find(l => graphLayerSize(gN, gM, l) <= exhaustCap)
                .getOrElse(gMaxLevel)
            // entry-blackout guard (walk-start path only): post-build
            // upserts of entry ids drop them from the masked corpus;
            // if EVERY top-layer start is gone the descent would
            // begin empty and the whole base would be unreachable
            // until a rebuild. Walk DOWN the nested hierarchy for
            // the first layer with an untouched member (each probe
            // is a model-scale ordered-limit over the levels table);
            // final fallback = lowest untouched base ids.
            // Deterministic at every step.
            // returns (seed frame, highest layer to walk): seeds are
            // members of every layer ≤ that index (nested
            // membership), so the descent starts exactly where its
            // seeds are resolvable — a blackout that fell through to
            // layer l (or to raw base ids, layer 0) must not feed a
            // higher layer's scoring join, where non-members drop
            // and the beam would silently empty (r13, closing a gap
            // the layer-frame scoring made load-bearing).
            def walkStarts(): (DataFrame, Int) = {
              val startIds = graft.operators.IndexCache.readCached(spark, s"$idx/entries")
                .collect().map(_.getString(0)).toSeq // ≤ M ids (top layer)
              val liveStarts = startIds.filterNot(touched.contains)
              if (liveStarts.nonEmpty) (liveStarts.toDF("vec_id"), gMaxLevel - 1)
              else {
                val fromLayers = (gMaxLevel - 1 to 1 by -1).iterator.map { l =>
                  l -> levelsLive.filter(col("lvl") >= l).select(col("vec_id"))
                    .orderBy(col("vec_id").asc)
                    .limit(math.max(gEntries, gUpperEf))
                    .collect().map(_.getString(0)).toSeq
                }.find(_._2.nonEmpty)
                fromLayers match {
                  case Some((l, ids)) => (ids.toDF("vec_id"), l)
                  case None => (base.select(col("id").as("vec_id"))
                    .orderBy(col("vec_id").asc)
                    .limit(math.max(gEntries, gUpperEf)), 0)
                }
              }
            }
            // LAYERED DESCENT: seed from the exhaustive model-scale
            // layer when the law provides one (its true top-ue per
            // query — layers above it are subsets and need no walk),
            // else from the top-layer entries; then walk each bigger
            // layer with the constant (gUpperEf, gUpperHops) law
            // beam, each layer's beam seeding the next — base walk
            // last, at the constant serve ef. Between layers the
            // model-scale seed frame is lazily localCheckpoint'ed:
            // each chained beam references its seeds 2^hops times,
            // so without truncation the plan tree would multiply per
            // LAYER the way it multiplies per hop — the cut keeps
            // total plan size linear in layers while construction
            // stays job-free (eager = false). Fault-tolerance
            // trade-off, documented: localCheckpoint blocks are NOT
            // recomputable from lineage — on a real cluster, losing
            // an executor mid-query fails that query (retried from
            // the artifact, which is durable), and the blocks
            // release at driver GC. That is the same contract
            // Spark's own broadcast-join blocks carry, accepted here
            // because every truncated frame is |Q|·ef rows.
            val wSeed = Window.partitionBy(col("query_id"))
              .orderBy(col("d").asc, col("vec_id").asc)
            val beamEfServe = graphBeamEf(searchEf, nResults, gEfLaw)
            val beam = if (lStar == 0) {
              // EXHAUSTIVE BASE (band: gate ≤ N ≤ cap): one |Q| × N
              // broadcast-q scan of the masked base — the exact
              // top-ef per query, no seeds, no walks, no edge reads.
              // Explored rows ≤ cap, the identical bound the
              // exhaustive-layer seed concedes. The artifact's
              // hierarchy stays dormant; growth past the cap
              // re-engages it with no rebuild (lStar is a serve-time
              // law of (N, cap), not an artifact property).
              corpus.select(col("vec_id"), col("vec"))
                .join(broadcast(qframe))
                .select(col("query_id"), col("vec_id"),
                  dist(col("qvec"), col("vec")).as("d"))
                .withColumn("r", row_number().over(wSeed))
                .filter(col("r") <= beamEfServe)
                .select(col("query_id"), col("vec_id"))
            } else {
            // Exhaustive-seed blackout guard (r14, closing the r13
            // advisory): a post-build delta can in principle mask
            // layer lStar ENTIRELY (only when the touched set is at
            // least the layer's law size — impossible at the default
            // caps since the r14 base band means every reachable
            // lStar layer holds > cap/M > AnnDeltaCap rows, but the
            // caps are conf-overridable and this branch must not
            // silently return zero rows). The size test keeps the
            // common path job-free; the limit-1 probe runs only in
            // the could-be-fully-masked case. On blackout the serve
            // falls back to walkStarts(), which already walks down
            // the nested hierarchy to the first live layer.
            val exhaustiveSeedLive: Boolean =
              lStar >= gMaxLevel ||
                touched.size < graphLayerSize(gN, gM, lStar) ||
                !layerFrame(lStar).isEmpty
            // DRIVER-SIDE UPPER DESCENT (r15, guide §2.4 — the IVF
            // probe local-relation idiom applied to the hierarchy):
            // below the scale gate every walked layer is model-scale
            // (levels ≤ gate/(M−1) rows with vectors — broadcast-
            // sized), yet the chained upper walks planned layers ×
            // hops exchanges that AQE materialized as sequential
            // jobs. The immutable artifact's upper hierarchy collects
            // once per JVM (the graphParamsMemo discipline) and the
            // walks run on the driver, handing the base walk ONE
            // local-relation seed frame. Bitwise-equal by
            // construction: GraphAnn.localUpperWalk replicates the
            // beamSearchSeeded loop under Spark's own double/string
            // orderings and the distance kernels' exact double
            // arithmetic (spec-pinned against the distributed path).
            // Above the gate the walked layers are data-sized and the
            // in-plan descent keeps running; entry blackout or an
            // inconsistent artifact falls back too.
            val localSeeds: Option[DataFrame] =
              if (gN < graft.operators.GraphAnn.ScaleGateRows &&
                  lStar == gMaxLevel &&
                  !spark.conf.getOption("spark.graft.graph.driverUpperDescent")
                    .exists(_.trim.equalsIgnoreCase("false")))
                driverDescentSeeds(idx, gMaxLevel, gUpperEf, gUpperHops,
                  metric, touched, qframe)
              else None
            val seeds: DataFrame = localSeeds.getOrElse {
            val (seeds0, firstWalk) =
              if (lStar < gMaxLevel && exhaustiveSeedLive) {
                (layerFrame(lStar)
                  .join(broadcast(qframe))
                  .select(col("query_id"), col("vec_id"),
                    dist(col("qvec"), col("vec")).as("d"))
                  .withColumn("r", row_number().over(wSeed))
                  .filter(col("r") <= gUpperEf)
                  .select(col("query_id"), col("vec_id"))
                  .localCheckpoint(false), lStar - 1)
              } else {
                val (st, fw) = walkStarts()
                (qframe.select(col("query_id")).crossJoin(broadcast(st)), fw)
              }
            var seeds0v: DataFrame = seeds0
            for (l <- firstWalk to 1 by -1) {
              val edgesL = graft.operators.IndexCache.readCached(spark, s"$idx/edges_l$l")
              // walked upper layers score against their own layer
              // frame (a subset of levels) — no pb column there, and
              // none needed: the relation is already M^l-fold
              // smaller than the base
              seeds0v = graft.operators.GraphAnn.beamSearchSeeded(
                  qframe, layerFrame(l), edgesL, seeds0v,
                  ef = gUpperEf, hops = gUpperHops, dist,
                  pbBuckets = None)
                .localCheckpoint(false)
            }
            seeds0v
            }
            val graph = graft.operators.IndexCache.readCached(spark, s"$idx/edges")
            graft.operators.GraphAnn.beamSearchSeeded(
              qframe, corpus, graph, seeds,
              ef = beamEfServe,
              hops = gHops, dist, pbBuckets = Some(gNpb))
            }
            // GROUP EXPANSION (r11, the dedup-aware build's serve
            // half): the walk ran over group REPRESENTATIVES, so
            // every beam hit fans back out to its group's members —
            // one scan of the groups artifact against the broadcast
            // model-scale beam (|Q|·ef rows); the shared exact
            // re-rank tail in query() restores per-member distances.
            // Candidates grow by at most the duplication factor —
            // the rows recall@k information-theoretically needs on a
            // duplicated corpus. Skipped entirely (no job, no scan)
            // on dup-free corpora via the artifact-recorded group
            // count. Two touched-mask obligations: (1) an upserted
            // member must NOT be resurrected through its group — the
            // post-expansion filter drops it (its live state joins
            // via the delta, same as every touched id); (2) members
            // whose REP was upserted are unreachable through the
            // walk (the rep left the masked corpus), so they are
            // injected directly for every query — bounded by the
            // touched cap × group fan-out, and removed entirely at
            // the next content-keyed rebuild.
            val expanded =
              if (gNGroups == 0L) beam
              else {
                val groupsDf = graft.operators.IndexCache
                  .readCached(spark, s"$idx/groups")
                val viaReps = groupsDf
                  .join(broadcast(beam.withColumnRenamed("vec_id", "rep_id")),
                    Seq("rep_id"))
                  .select(col("query_id"), col("member_id").as("vec_id"))
                val liveMembers =
                  if (touched.nonEmpty)
                    viaReps.filter(!col("vec_id").isin(touched: _*))
                  else viaReps
                val withMembers = beam.unionByName(liveMembers)
                val withOrphans =
                  if (touched.isEmpty) withMembers
                  else withMembers.unionByName(
                    groupsDf.filter(col("rep_id").isin(touched: _*) &&
                        !col("member_id").isin(touched: _*))
                      .select(col("member_id").as("vec_id"))
                      .crossJoin(broadcast(
                        queryEmbeddings.select(col("query_id"))))
                      .select(col("query_id"), col("vec_id")))
                withOrphans.dropDuplicates("query_id", "vec_id")
              }
            val baseCand = expanded.withColumnRenamed("vec_id", "id")
              .join(base, "id")
              .select(col("query_id"), col("id"), col("embedding"),
                col("document"), col("metadata_json"))
            val cand = deltaLive match {
              case Some(dl) => baseCand.unionByName(
                dl.filter(col("embedding").isNotNull)
                  .crossJoin(broadcast(queryEmbeddings.select(col("query_id"))))
                  .select(col("query_id"), col("id"), col("embedding"),
                    col("document"), col("metadata_json")))
              case None => baseCand
            }
            Some(cand)
          }
        case (idx, touched, deltaLive) =>
          Some(ivfCandidates(idx, touched, deltaLive, queryEmbeddings,
            metric, whereJson, whereDocumentJson, nResults))
      }
    }

  /** IVF-tier candidate serve (probed cells + delta, filters applied
    * before any vector math) — shared by the primary IVF route and
    * the graph tier's filtered side route.
    */
  private def ivfCandidates(idx: String, touched: Seq[String],
                            deltaLive: Option[DataFrame],
                            queryEmbeddings: DataFrame, metric: String,
                            whereJson: Option[String],
                            whereDocumentJson: Option[String],
                            nResults: Int): DataFrame = {
          val centsDf = graft.operators.IndexCache.readCached(spark, s"$idx/centroids")
            .select(col("c_id"),
              col("centroid").cast("array<float>").as("centroid"))
          // probe width derives from the INDEX's cell count (which may
          // lag the live corpus between rebuilds) — counted ONCE per
          // artifact and memoized (the artifact is immutable), so the
          // hot serve path never pays a per-query count job
          val nprobe = annNprobeFor(CollectionData.centroidCountMemo
            .computeIfAbsent(idx, { _: String => Integer.valueOf(centsDf.count().toInt) })
            .intValue())
          val cents = broadcast(centsDf)
          val probeW = Window.partitionBy(col("query_id"))
            .orderBy(col("c_dist").asc, col("c_id").asc)
          val rankedCells = queryEmbeddings
            .select(col("query_id"), col("qvec")).join(cents)
            .select(col("query_id"), col("c_id"),
              distanceExpr(metric, col("qvec"), col("centroid")).as("c_dist"))
          val probes =
            if (whereJson.isEmpty && whereDocumentJson.isEmpty)
              rankedCells
                .withColumn("c_rank", row_number().over(probeW))
                .filter(col("c_rank") <= nprobe)
                .select(col("query_id"), col("c_id"))
            else {
              // ADAPTIVE probe depth under a filter (the certified
              // [[graft.operators.VectorIndex.filteredProbePlan]]
              // cutoff, ported to the collection tier): a fixed
              // nprobe pool can hold fewer than nResults
              // predicate-matching rows while matches sit in unprobed
              // cells — an ultra-selective filter silently truncates
              // results. Instead, count predicate-matching rows per
              // cell (one column-pruned, count-only artifact scan —
              // vectors never leave disk), drop empty cells outright,
              // and per query probe the shortest centroid-ranked
              // prefix of MATCHING cells whose cumulative matches
              // reach 16 × nResults — floored at the unfiltered
              // nprobe so a loose filter never probes narrower than
              // the unfiltered serve (recall is monotonically ≥ the
              // fixed-width path). Ultra-selective filters degenerate
              // to exact search over exactly the matching cells.
              val need = 16L * nResults
              // Per-cell match counts are a pure function of
              // (artifact, filter, post-build mask): the artifact is
              // immutable after _INDEX_OK and the predicates are
              // literal JSON, so REPEAT filtered calls with the same
              // predicate (the dashboard pattern) must not recount
              // the vectors table — the counts memoize per
              // (artifact, filter fingerprint, touched set) and the
              // repeat serve rebuilds the model-scale stats frame
              // (≤ 65536 cells) from the driver-side memo for free.
              // key = artifact dir (plain, human-auditable) + a
              // SHA-256 over the length-prefixed (filter JSON, sorted
              // touched ids) state. Length-prefixing keeps the hashed
              // byte stream injective in the parts (ids and predicate
              // JSON may contain any delimiter); hashing keeps every
              // key O(1) bytes where the old concatenation embedded
              // up to AnnDeltaCap full ids per entry. A digest
              // collision across two different (filter, mask) states
              // is the usual 2^-128 non-event, and the blast radius
              // is recall (an overstated count stops the adaptive
              // prefix early), never wrong distances.
              def part(s: String) = s"${s.length}:$s"
              val statePart = part(whereJson.getOrElse("")) +
                part(whereDocumentJson.getOrElse("")) +
                touched.sorted.map(part).mkString
              val digest = java.security.MessageDigest.getInstance("SHA-256")
                .digest(statePart.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                .map("%02x".format(_)).mkString
              val statsKey = s"$idx#$digest"
              // LRU-bounded memo (see companion), through the one
              // blessed read-through shape (Lru.getOrCompute, r13):
              // the count job runs OUTSIDE the map lock — a
              // concurrent same-key race recomputes a pure value,
              // which beats serializing unrelated serves behind one
              // Spark job
              val stats = graft.Lru.getOrCompute(
                  CollectionData.filteredCellStatsMemo, statsKey)(_ => true) {
                CollectionData.filteredCellStatsComputes.incrementAndGet()
                var m = graft.operators.IndexCache.readCached(spark, s"$idx/vectors")
                if (touched.nonEmpty) m = m.filter(!col("id").isin(touched: _*))
                whereJson.foreach(wj => m = m.filter(metadataPredicate(wj)))
                whereDocumentJson.foreach(wd => m = m.filter(documentPredicate(wd)))
                m.groupBy(col("label").cast("int").as("c_id"))
                  .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_match"))
                  .collect().map(r => (r.getInt(0), r.getLong(1)))
              }
              val sp = spark
              import sp.implicits._
              val cellStats = stats.toSeq.toDF("c_id", "n_match")
              val cumW = Window.partitionBy(col("query_id"))
                .orderBy(col("c_rank").asc)
                .rowsBetween(Window.unboundedPreceding, -1)
              rankedCells.join(broadcast(cellStats), Seq("c_id"))
                .withColumn("c_rank", row_number().over(probeW))
                .withColumn("cum_before",
                  coalesce(sum(col("n_match")).over(cumW), lit(0L)))
                .filter(col("cum_before") < need || col("c_rank") <= nprobe)
                .select(col("query_id"), col("c_id"))
            }
          // ONE execution of the probe plan (r14, guide §2.4): the
          // ranked-cells pipeline used to run TWICE per call — once
          // collected (c_id only) for the planning-time literal
          // partition filter, and once more re-executed in-plan as
          // the candidate join's broadcast build inside the final
          // action. The probe set is |Q| × nprobe rows — model-scale
          // by the serve's batch contract — so collect it once and
          // re-inject the identical rows as a LOCAL relation: same
          // values by construction (one materialization of one
          // deterministic plan), half the probe executions, and the
          // local build side costs the final action no extra stages.
          val probeRows = probes.select(col("query_id"), col("c_id")).collect()
          val probeLabels = probeRows.map(_.getInt(1)).distinct.sorted // ≤ 65536 cell ids
          val probesLocal = spark.createDataFrame(
            java.util.Arrays.asList(probeRows: _*),
            probes.select(col("query_id"), col("c_id")).schema)
          // LITERAL partition filter → planning-time directory pruning;
          // the per-query cell assignment then comes from the broadcast
          // probe map, so each base row pairs only with the queries
          // that probed its cell
          var base = graft.operators.IndexCache.readCached(spark, s"$idx/vectors")
            .filter(col("label").isin(probeLabels.map(_.asInstanceOf[Any]): _*))
          if (touched.nonEmpty)
            base = base.filter(!col("id").isin(touched: _*))
          val baseCand = base.join(broadcast(probesLocal), col("label") === col("c_id"))
            .select(col("query_id"), col("id"), col("embedding"),
              col("document"), col("metadata_json"))
          var cand = deltaLive match {
            case Some(dl) => baseCand.unionByName(
              dl.filter(col("embedding").isNotNull)
                .crossJoin(broadcast(queryEmbeddings.select(col("query_id"))))
                .select(col("query_id"), col("id"), col("embedding"),
                  col("document"), col("metadata_json")))
            case None => baseCand
          }
          whereJson.foreach(wj => cand = cand.filter(metadataPredicate(wj)))
          whereDocumentJson.foreach(wd => cand = cand.filter(documentPredicate(wd)))
          cand
  }

  /** The collection's live EMBEDDED rows for a scan-path serve,
    * sourced from a persisted tier's base + resolved delta when one
    * is current — a plain columnar artifact scan instead of the log's
    * merge-on-read latest-per-id window. Rows are identical to
    * `resolved(...).filter(embedding IS NOT NULL)` by construction:
    * the base is the resolved embedded snapshot at the build batch,
    * post-build ids are masked, and the delta is their live state —
    * so every consumer (the filtered graph-collection serve, the
    * `hnsw:search_ef` two-stage scan) returns the same answers while
    * the raw log stays un-scanned on indexed collections' serve
    * paths. At 100 TB the difference is a window-shuffle over the
    * full log per query vs a columnar scan that starts from a cached
    * file index. Falls back to the merge-on-read resolve when no
    * tier is current (small collections, forks) or the tail outgrew
    * the base.
    */
  private def embeddedLiveView(collection: String,
                               state: Option[(String, Long, Seq[String], Option[DataFrame])]): DataFrame = {
    val fromTier = state.map { case (idx, _, touched, deltaLive) =>
      val basePath =
        if (Files.exists(Paths.get(idx, "base"))) s"$idx/base" else s"$idx/vectors"
      var base = graft.operators.IndexCache.readCached(spark, basePath)
        .select(col("id"), col("embedding"), col("document"), col("metadata_json"))
      if (touched.nonEmpty) base = base.filter(!col("id").isin(touched: _*))
      deltaLive match {
        case Some(dl) => base.unionByName(
          dl.filter(col("embedding").isNotNull)
            .select(col("id"), col("embedding"), col("document"),
              col("metadata_json")))
        case None => base
      }
    }
    fromTier.getOrElse(resolved(collection).filter(col("embedding").isNotNull))
  }

  /** Fold the log into a single resolved snapshot (batch 0 of a fresh
    * log) — run periodically so merge-on-read stays O(live rows).
    */
  def compact(collection: String): Unit = {
    val d = dir(collection)
    recoverLog(d) // clear any stale log_old so the swap below can't collide
    val tmp = s"$d/log_compacting"
    snapshotLive(collection, None) match {
      case Some(live) =>
        // snapshot-small log: the resolved rows are already on the
        // driver — fold them into one driver-written file, no
        // persist/write jobs (large logs keep the distributed fold)
        val t = Paths.get(tmp)
        if (Files.exists(t)) deleteTree(t)
        DriverParquet.writeBatch(spark.sessionState.newHadoopConf(), tmp,
          live.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3, r._4)).toSeq,
          batch = 0L, deleted = false)
      case None =>
        val snapshot = resolved(collection).persist()
        snapshot.count() // materialize before the log is replaced
        snapshot
          .withColumn("_batch", lit(0L))
          .withColumn("_deleted", lit(false))
          .coalesce(math.max(1, spark.sparkContext.defaultParallelism / 4))
          .write.mode("overwrite").parquet(tmp)
        snapshot.unpersist()
    }
    val logPath = Paths.get(s"$d/log")
    val old = Paths.get(s"$d/log_old")
    // Swap order keeps the collection readable through any single
    // failure: if the second move throws, the first is rolled back;
    // if the process dies between the two, readLog falls back to
    // log_old (snapshot data in log_compacting is redundant and a
    // re-run of compact overwrites it).
    if (Files.exists(logPath)) {
      Files.move(logPath, old)
      try Files.move(Paths.get(tmp), logPath)
      catch { case e: Throwable => Files.move(old, logPath); throw e }
    } else Files.move(Paths.get(tmp), logPath)
    if (Files.exists(old)) deleteTree(old)
    resetBatches(d, 0L)
    // compacting a fork materialized its inherited view into the own
    // log — sever the edge or resolution would double-count the parent
    if (forkEdge(collection).isDefined) {
      val cleaned = client.getCollection(collection).metadata
        .map(_ -- Seq(ForkParentKey, ForkAsOfKey)).filter(_.nonEmpty)
      client.modifyCollection(collection,
        newMetadata = Some(cleaned.getOrElse(Map.empty)))
    }
  }

  /** VACUUM with a retention horizon — the storage-GC step between
    * ordinary appends and a full [[compact]]: every batch ≤ `horizon`
    * folds into a single base snapshot at batch 0 (latest version per
    * id, superseded versions and settled tombstone chains dropped),
    * while batches > `horizon` stay byte-identical, so recent time
    * travel and the batch mint state survive. Time travel BELOW the
    * horizon is deliberately truncated to the horizon state — the
    * Delta-Lake checkpoint/retention semantics; the current view and
    * every as-of ≥ horizon are provably unchanged (latest-per-id over
    * a prefix-fold is the identity on suffix resolutions). Tombstones
    * in the folded range are kept ONLY when this collection is a fork
    * (they mask inherited parent rows); a root collection's folded
    * tombstone and the versions it masked vanish together. Refuses to
    * run when any fork freezes this collection's history at an edge
    * below the horizon — folding would rewrite that fork's frozen
    * view. At 100 TB this is the operation that keeps merge-on-read
    * resolution O(live + recent) instead of O(all history ever).
    */
  def vacuum(collection: String, horizon: Long): Unit = {
    val d = dir(collection)
    recoverLog(d)
    // fork-safety: an edge below the horizon reads history we'd fold
    client.listCollections().foreach { c =>
      forkEdge(c.name).foreach { case (parent, asof) =>
        if (parent == collection && asof < horizon)
          throw CollectionStateError(
            s"vacuum('$collection', $horizon): fork '${c.name}' freezes " +
              s"history at batch $asof < horizon — vacuum up to $asof at most")
      }
    }
    val tmp = s"$d/log_compacting"
    val isFork = forkEdge(collection).isDefined
    val (sig, logBytes) = logSignature(d)
    if (snapshotMaxBytes > 0 && logBytes <= snapshotMaxBytes) {
      // snapshot-small log: fold ON THE DRIVER (r15, the
      // [[DriverParquet]] discipline) — identical resolution (latest
      // version per id among batches ≤ horizon; batch ties impossible,
      // one write per id per batch; root tombstones drop), written as
      // one driver file per surviving (_batch, _deleted) group instead
      // of a Spark window + distributed write + commit protocol per
      // vacuum of a few KB. Past the byte gate the distributed fold
      // below runs unchanged — the 100 TB story is untouched.
      val rows = levelRows(d, sig)
      val latest = new java.util.HashMap[String, LogRow]()
      rows.iterator.filter(_._5 <= horizon).foreach { r =>
        val p = latest.get(r._1)
        if (p == null || r._5 > p._5) latest.put(r._1, r)
      }
      import scala.jdk.CollectionConverters._
      val folded = latest.values.asScala.iterator
        .filter(r => isFork || !r._6)
        .map(r => (r._1, r._2, r._3, r._4, 0L, r._6)).toSeq
      val kept = folded ++ rows.filter(_._5 > horizon)
      // a crashed earlier attempt may have left scratch files — clear
      // them, as the distributed path's mode("overwrite") did
      if (Files.exists(Paths.get(tmp))) deleteTree(Paths.get(tmp))
      Files.createDirectories(Paths.get(tmp))
      val conf = spark.sessionState.newHadoopConf()
      if (kept.isEmpty) // empty log still needs a schema-bearing file
        DriverParquet.writeBatch(conf, tmp, Nil, 0L, deleted = false)
      else kept.groupBy(r => (r._5, r._6)).toSeq.sortBy(_._1).foreach {
        case ((b, del), rs) =>
          DriverParquet.writeBatch(conf, tmp,
            rs.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3, r._4)),
            b, del)
      }
    } else {
      val own = readLog(collection)
      val w = Window.partitionBy(col("id")).orderBy(col("_batch").desc)
      val folded0 = own.filter(col("_batch") <= horizon)
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
        .withColumn("_batch", lit(0L))
      // a root collection has no lower level a tombstone could mask
      val folded =
        if (isFork) folded0
        else folded0.filter(!col("_deleted"))
      // ONE action: the write to the scratch dir reads the still-intact
      // log (the swap below happens strictly after), so no persist /
      // pre-materialization is needed
      folded.unionByName(own.filter(col("_batch") > horizon))
        .coalesce(math.max(1, spark.sparkContext.defaultParallelism / 4))
        .write.mode("overwrite").parquet(tmp)
    }
    val logPath = Paths.get(s"$d/log")
    val old = Paths.get(s"$d/log_old")
    // same crash-safe two-rename swap as [[compact]]
    if (Files.exists(logPath)) {
      Files.move(logPath, old)
      try Files.move(Paths.get(tmp), logPath)
      catch { case e: Throwable => Files.move(old, logPath); throw e }
    } else Files.move(Paths.get(tmp), logPath)
    if (Files.exists(old)) deleteTree(old)
    // mint state intentionally untouched: appends continue the sequence
  }

  /** Raw log depth in rows — the merge-on-read debt [[vacuum]] pays
    * down; an ops metric, not a data API. Row counts come from the
    * parquet FOOTERS driver-side (block metadata carries exact
    * counts) — a metadata listing, not a Spark job, which is how an
    * ops dashboard would poll this at any log size.
    */
  def logRows(collection: String): Long = {
    val d = dir(collection)
    liveLogName(d) match {
      case None => 0L
      case Some(name) =>
        val conf = spark.sessionState.newHadoopConf()
        val p = new org.apache.hadoop.fs.Path(s"$d/$name")
        val fs = p.getFileSystem(conf)
        fs.listStatus(p).iterator
          .filter(f => f.getPath.getName.endsWith(".parquet"))
          .map { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(f, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              import scala.jdk.CollectionConverters._
              r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
            }
            finally r.close()
          }.sum
    }
  }

  /** EXPORT a collection to a portable directory: the RESOLVED
    * snapshot (latest-per-id, tombstones dropped — history and fork
    * edges do not travel; an export is a backup of the current state,
    * not of the log) as parquet plus a one-row `_meta` table carrying
    * the collection metadata JSON. Everything a different warehouse —
    * or a different engine that reads parquet — needs to reconstruct
    * the collection, including its `hnsw:*` and `graft:embedder`
    * keys, which [[importCollection]] re-validates on arrival.
    * One distributed write; nothing collects.
    */
  def exportCollection(collection: String, exportDir: String): Unit = {
    val meta = client.getCollection(collection) // throws if absent
    val metaJson = meta.metadata.map(CollectionMeta.sortedJson).getOrElse("")
    snapshotLive(collection, None) match {
      case Some(live) =>
        // snapshot-small collection: the resolved rows are already on
        // the driver — write both export tables driver-side (r15, the
        // [[DriverParquet.writeBatch]] discipline) instead of paying
        // two Spark jobs plus the file-commit protocol for a few KB.
        // Same parquet encoding, same columns — any reader (including
        // [[importCollection]]) consumes them identically.
        val conf = spark.sessionState.newHadoopConf()
        Files.createDirectories(Paths.get(exportDir, "items"))
        Files.createDirectories(Paths.get(exportDir, "_meta"))
        DriverParquet.writeItems(conf, s"$exportDir/items",
          live.toSeq.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3, r._4)))
        DriverParquet.writeMeta(conf, s"$exportDir/_meta", meta.name, metaJson)
      case None =>
        resolved(collection)
          // the [[compact]] write-parallelism discipline: a snapshot
          // write wants file sizes, not one file per shuffle partition
          .coalesce(math.max(1, spark.sparkContext.defaultParallelism / 4))
          .write.mode("overwrite").parquet(s"$exportDir/items")
        val sp = spark
        import sp.implicits._
        Seq((meta.name, metaJson))
          .toDF("name", "metadata_json")
          .coalesce(1).write.mode("overwrite").parquet(s"$exportDir/_meta")
    }
  }

  /** IMPORT an exported directory as a NEW collection (optionally
    * renamed): recreate the catalog row with the exported metadata
    * (fork-edge keys are stripped — the parent chain did not travel)
    * and bulk-add the items as batch 0 of a fresh log. The embedder
    * is NOT re-run: exported rows carry their embeddings, and
    * re-embedding on import would silently rewrite vectors if the
    * registry differs — imports must be byte-faithful. An unknown
    * `hnsw:*` key in the exported metadata fails the first query
    * loudly, same as any other collection.
    */
  def importCollection(exportDir: String, newName: Option[String] = None): Collection = {
    val metaRow = spark.read.parquet(s"$exportDir/_meta").head()
    val name = newName.getOrElse(metaRow.getString(0))
    val metaJson = metaRow.getString(1)
    val metadata =
      if (metaJson.isEmpty) None
      else Some(CatalogCodec.mapFromSortedJson(metaJson)
        .removedAll(Seq(ForkParentKey, ForkAsOfKey)))
        .filter(_.nonEmpty)
    val created = client.createCollection(name, metadata) // dup name → typed error
    upsert(name, spark.read.parquet(s"$exportDir/items"))
    created
  }

  /** Chroma `query(query_texts=...)`: embed the texts with the SAME
    * embedder the collection's ingest path uses ([[embedderOf]]),
    * then delegate to [[query]] — identical text therefore lands at
    * distance 0 from its document under every metric, whichever
    * embedder the collection registered.
    */
  def queryTexts(collection: String, texts: Seq[String], nResults: Int = 10,
                 whereJson: Option[String] = None,
                 include: Seq[String] = DefaultInclude,
                 whereDocumentJson: Option[String] = None): DataFrame = {
    val sp = spark
    import sp.implicits._
    val embedder = embedderOf(collection)
    val q = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("query_id", "qtext")
      .select(col("query_id"), embedder.embed(col("qtext")).as("qvec"))
    query(collection, q, nResults, whereJson, include, whereDocumentJson)
  }

  /** HYBRID search over a collection — the `query_texts` +
    * `where_document` workflow a Chroma user runs when lexical
    * precision matters as much as embedding recall: BM25 over the
    * collection's live documents and the collection's own
    * embedder+metric kNN (through [[query]], so large collections'
    * vector side serves from the persisted ANN tier), fused by
    * Reciprocal Rank Fusion ([[graft.operators.HybridSearch.rrfFuse]]
    * — rank-only fusion, no score calibration across rankers).
    * Filters apply to BOTH rankers before any scoring. Fusion cost is
    * O(texts × perRankerK), independent of collection size.
    */
  // ---------------------------------------------------------------
  // Persisted per-collection LEXICAL (BM25) tier — the text ranker's
  // analogue of the ANN tier. Without it every hybrid query re-scans
  // the whole collection to recompute tf/df/dl/avgdl — O(corpus) per
  // call, the exact defect the ANN tier fixed for the vector side.
  // The artifact holds term-clustered postings (so the query-term
  // literal filter prunes row groups at the scan), a filter-evaluable
  // doc table (per-doc length + the two filter columns), and the two
  // corpus aggregates; every stat is ADDITIVE, so the base+delta
  // maintenance is EXACT (post-build docs' contributions subtracted
  // via the masked doc rows, delta re-tokenized inline) and FILTERED
  // queries derive their filtered-corpus stats from the artifact
  // joined against the compiled predicates — the raw log never scans
  // on the serve path (r8 weak #2). Serving goes through the SAME
  // scoring tail as the inline path (TextAnalysis.bm25From), so
  // indexed results are bitwise-equal by construction — spec-pinned
  // and oracled.
  // ---------------------------------------------------------------

  private def lexPtrPath(d: String) = Paths.get(d, "_lex_ptr")

  private def buildLexIndex(collection: String, scratch: java.nio.file.Path): Unit = {
    val base = resolved(collection).filter(col("document").isNotNull)
      .select(col("id").as("doc_id"), col("document"), col("metadata_json"))
    val docs = base.select(col("doc_id"), col("document").as("text"))
    val (tf, dl) = graft.operators.TextAnalysis.bm25Corpus(docs)
    // term-clustered + term-sorted: min/max row-group stats make the
    // serve-time `token IN (query terms)` filter prune at the scan
    tf.repartition(col("token")).sortWithinPartitions(col("token"))
      .write.mode("overwrite").parquet(s"$scratch/postings")
    // FILTER-EVALUABLE doc table: per-doc length PLUS the two filter
    // columns (`where` → metadata_json, `where_document` → document).
    // This is what lets a FILTERED hybrid query derive its corpus
    // stats (df, n_docs, avgdl — all additive) from the artifact
    // alone: the predicate evaluates here, never against the raw log
    // (no merge-on-read resolve on the serve path), and a
    // metadata-only filter never even reads the document column
    // (parquet column pruning). dl = 0 would mark a doc with no
    // doclens row — counted in n_docs, excluded from avgdl, exactly
    // as the inline (docs, doclens) pair behaves (unreachable under
    // the current tokenizer, which yields ≥1 token per doc; the
    // coalesce pins the inline semantics rather than assuming it).
    base.join(dl, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dl"), lit(0L)).as("dl"),
        col("metadata_json"), col("document"))
      .write.mode("overwrite").parquet(s"$scratch/docs")
    // n_docs = every doc (idf's base: the inline count over docs);
    // tok_docs = docs with a doclens row (avgdl's base: the inline
    // avg over dl). Under the current whitespace tokenizer every
    // non-null document yields ≥1 token (split never returns an
    // empty array), so the two coincide — they are kept DISTINCT so
    // the indexed ≡ inline contract survives a tokenizer that drops
    // empty tokens rather than silently diverging on avgdl.
    docs.agg(org.apache.spark.sql.functions.count(lit(1)).as("n_docs"))
      .crossJoin(dl.agg(coalesce(sum(col("dl")), lit(0L)).as("total_len"),
        org.apache.spark.sql.functions.count(lit(1)).as("tok_docs")))
      .coalesce(1).write.mode("overwrite").parquet(s"$scratch/stats")
  }

  private def lexRoute(collection: String): Option[(String, Long)] = {
    if (forkEdge(collection).isDefined) return None
    val d = dir(collection)
    if (logRows(collection) < annMinRows) return None
    def build(): Option[(String, Long)] = {
      val files = logFileNames(d)
      val b = currentBatchIn(d)
      val fp = annContentFingerprint(collection)
      val idx = graft.operators.IndexCache.getOrBuild(annIndexRoot, "colllex",
        s"$fp-${graft.operators.VectorIndex.AlgoVersion}") { scratch =>
        buildLexIndex(collection, scratch)
      }
      Files.write(lexPtrPath(d),
        s"$idx\n$b\n${files.toSeq.sorted.mkString(",")}".getBytes("UTF-8"))
      Some((idx, b))
    }
    readValidPtr(d, lexPtrPath(d)).orElse(build())
  }

  /** BM25 served from the persisted lexical artifact, exact on
    * deltas. `texts` is already driver-side, so the query-term
    * literals cost no job and push into the postings scan.
    */
  private def bm25Indexed(idx: String, queries: DataFrame, texts: Seq[String],
                          touched: Seq[String], deltaLive: Option[DataFrame],
                          topK: Int): DataFrame = {
    val sp0 = spark
    import sp0.implicits._
    val terms = texts.flatMap(t => graft.functions.GraftTextKernels
      .tokens(org.apache.spark.unsafe.types.UTF8String.fromString(t))).distinct
    var post = graft.operators.IndexCache.readCached(spark, s"$idx/postings")
    // only (doc_id, dl) — the filter columns stay on disk (pruned)
    val dlsRaw = graft.operators.IndexCache.readCached(spark, s"$idx/docs")
      .select(col("doc_id"), col("dl"))
    // corpus aggregates (n_docs, total_len, tok_docs): one immutable
    // 1-row relation per artifact — collected once per JVM (the
    // centroidCountMemo discipline, r15) and re-injected as a LOCAL
    // relation, so the serve's stat arithmetic folds at planning time
    // instead of costing a parquet-scan job plus broadcast per call
    val st = CollectionData.lexStatsMemo.computeIfAbsent(idx, { _: String =>
      val r = graft.operators.IndexCache.readCached(spark, s"$idx/stats").head()
      (r.getLong(r.fieldIndex("n_docs")), r.getLong(r.fieldIndex("total_len")),
        r.getLong(r.fieldIndex("tok_docs")))
    })
    val baseStats = Seq(st).toDF("n_docs", "total_len", "tok_docs")
    // post-build docs leave every base relation; their ORIGINAL
    // contributions to the corpus stats are subtracted exactly from
    // the masked doc rows (1-row aggregate, broadcast). n_docs counts
    // EVERY doc (idf's base: the inline count over docs); tok_docs
    // counts docs with a doclens row (avgdl's base: the inline avg
    // over dl). The current tokenizer makes them equal (every doc
    // yields ≥1 token); keeping them distinct pins the exact inline
    // formula rather than an equality that happens to hold today.
    // With NO touched docs the subtraction is identically (0, 0, 0) —
    // a literal, not an aggregation job over an empty relation (the
    // values are what sum-over-empty coalesces to and count-over-empty
    // returns; r15).
    val removed =
      if (touched.isEmpty) Seq((0L, 0L, 0L)).toDF("rm_len", "rm_docs", "rm_tok")
      else dlsRaw.filter(col("doc_id").isin(touched: _*)).agg(
        coalesce(sum(col("dl")), lit(0L)).as("rm_len"),
        org.apache.spark.sql.functions.count(lit(1)).as("rm_docs"),
        coalesce(sum(when(col("dl") > 0, 1L).otherwise(0L)), lit(0L)).as("rm_tok"))
    var dls = dlsRaw
    if (touched.nonEmpty) {
      post = post.filter(!col("doc_id").isin(touched: _*))
      dls = dls.filter(!col("doc_id").isin(touched: _*))
    }
    post = post.filter(col("token").isin(terms.map(_.asInstanceOf[Any]): _*))
    // the delta re-tokenizes inline — O(delta), exact
    val delta = deltaLive.map { dlv =>
      val dd = dlv.filter(col("document").isNotNull)
      (graft.operators.TextAnalysis.bm25Corpus(
        dd.select(col("id").as("doc_id"), col("document").as("text"))),
        dd)
    }
    val tf = delta match {
      case Some(((dTf, _), _)) => post.unionByName(
        dTf.filter(col("token").isin(terms.map(_.asInstanceOf[Any]): _*)))
      case None => post
    }
    val dl = delta match {
      case Some(((_, dDl), _)) => dls.unionByName(dDl)
      case None => dls
    }
    val added = delta match {
      case Some(((_, dDl), dd)) => dd.agg(
        org.apache.spark.sql.functions.count(lit(1)).as("add_docs"))
        .crossJoin(dDl.agg(
          coalesce(sum(col("dl")), lit(0L)).as("add_len"),
          org.apache.spark.sql.functions.count(lit(1)).as("add_tok")))
      case None =>
        val sp = spark
        import sp.implicits._
        Seq((0L, 0L, 0L)).toDF("add_docs", "add_len", "add_tok")
    }
    val adjusted = baseStats.crossJoin(removed).crossJoin(added)
    val nDocs = adjusted.select(
      (col("n_docs") - col("rm_docs") + col("add_docs")).as("n_docs"))
    // exact double: every operand is an integer < 2^53, so the
    // subtraction/addition and the final division match the inline
    // path's avg(dl) bit for bit
    val avgdl = adjusted.select(
      ((col("total_len") - col("rm_len") + col("add_len")).cast("double") /
        (col("tok_docs") - col("rm_tok") + col("add_tok")).cast("double")).as("avgdl"))
    graft.operators.TextAnalysis.bm25From(tf, dl,
      tf.groupBy(col("token"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("df")),
      nDocs, avgdl, queries, topK)
  }

  /** FILTERED BM25 served from the persisted lexical artifact (r8
    * weak #2 fixed): BM25's corpus stats are defined over the
    * FILTERED corpus, but every one of them is ADDITIVE, so they
    * derive EXACTLY from the artifact joined against the compiled
    * predicates — df(t) = matching postings rows per term, n_docs =
    * matching doc rows, avgdl = their mean length — with the raw log
    * never scanned and the document text read only from the
    * artifact's columnar `docs` table (and only when a
    * `where_document` predicate actually needs that column: a
    * metadata-only filter reads doc_id/dl/metadata_json and parquet
    * prunes the rest). Per filtered query the cost is one
    * column-pruned pass over the doc table plus the term-pruned
    * postings join — at 100 TB that is orders of magnitude below the
    * merge-on-read corpus re-scan this path used to pay. Post-build
    * rows are masked from both relations and the delta re-tokenizes
    * inline under the same predicates, so the result is bitwise-equal
    * to the inline computation by construction (same
    * [[graft.operators.TextAnalysis.bm25From]] tail, same integer
    * aggregates; spec-pinned and driver-oracled).
    */
  private def bm25IndexedFiltered(idx: String, queries: DataFrame,
                                  texts: Seq[String], touched: Seq[String],
                                  deltaLive: Option[DataFrame],
                                  preds: Seq[Column], topK: Int): DataFrame = {
    val terms = texts.flatMap(t => graft.functions.GraftTextKernels
      .tokens(org.apache.spark.unsafe.types.UTF8String.fromString(t))).distinct
    var matched = graft.operators.IndexCache.readCached(spark, s"$idx/docs")
    if (touched.nonEmpty)
      matched = matched.filter(!col("doc_id").isin(touched: _*))
    preds.foreach(p => matched = matched.filter(p))
    val mDl = matched.select(col("doc_id"), col("dl"))
    var post = graft.operators.IndexCache.readCached(spark, s"$idx/postings")
    if (touched.nonEmpty) post = post.filter(!col("doc_id").isin(touched: _*))
    // term literals prune postings row groups FIRST (tiny side), then
    // the equi-join against the matched doc set restricts df/tf to
    // the filtered corpus
    post = post.filter(col("token").isin(terms.map(_.asInstanceOf[Any]): _*))
      .join(mDl.select(col("doc_id")), "doc_id")
    // the delta re-tokenizes inline under the SAME predicates — O(delta)
    val delta = deltaLive.map { dlv =>
      var dd = dlv.filter(col("document").isNotNull)
      preds.foreach(p => dd = dd.filter(p))
      (graft.operators.TextAnalysis.bm25Corpus(
        dd.select(col("id").as("doc_id"), col("document").as("text"))),
        dd)
    }
    val tf = delta match {
      case Some(((dTf, _), _)) => post.unionByName(
        dTf.filter(col("token").isin(terms.map(_.asInstanceOf[Any]): _*)))
      case None => post
    }
    val dl = delta match {
      case Some(((_, dDl), _)) => mDl.unionByName(dDl)
      case None => mDl
    }
    // filtered corpus stats, all integer-additive: n_docs over every
    // matched doc, avgdl over the token-bearing ones (dl > 0) — the
    // exact relations the inline path's count/avg aggregate, so the
    // double division is bit-identical (integer operands < 2^53).
    // Memoized per (artifact, predicates, mask) — pure given an
    // immutable artifact and literal predicates (r15, the
    // filteredCellStatsMemo contract on the lexical side) — and
    // re-injected as a 1-row local relation so the stat arithmetic
    // folds at planning time on repeat calls.
    val sp1 = spark
    import sp1.implicits._
    val statsKey = idx + "|" + preds.map(_.toString).mkString("&") +
      "|" + touched.sorted.mkString(",")
    val bstats = graft.Lru.getOrCompute(
      CollectionData.lexFilteredStatsMemo, statsKey)(_ => true) {
      val r = matched.agg(
        org.apache.spark.sql.functions.count(lit(1)).as("b_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("b_len"),
        coalesce(sum(when(col("dl") > 0, 1L).otherwise(0L)), lit(0L)).as("b_tok"))
        .head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val baseAgg = Seq(bstats).toDF("b_docs", "b_len", "b_tok")
    val addAgg = delta match {
      case Some(((_, dDl), dd)) => dd.agg(
        org.apache.spark.sql.functions.count(lit(1)).as("a_docs"))
        .crossJoin(dDl.agg(
          coalesce(sum(col("dl")), lit(0L)).as("a_len"),
          org.apache.spark.sql.functions.count(lit(1)).as("a_tok")))
      case None =>
        val sp = spark
        import sp.implicits._
        Seq((0L, 0L, 0L)).toDF("a_docs", "a_len", "a_tok")
    }
    val both = baseAgg.crossJoin(addAgg)
    val nDocs = both.select((col("b_docs") + col("a_docs")).as("n_docs"))
    val avgdl = both.select(
      ((col("b_len") + col("a_len")).cast("double") /
        (col("b_tok") + col("a_tok")).cast("double")).as("avgdl"))
    graft.operators.TextAnalysis.bm25From(tf, dl,
      tf.groupBy(col("token"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("df")),
      nDocs, avgdl, queries, topK)
  }

  def queryHybrid(collection: String, texts: Seq[String], nResults: Int = 5,
                  whereJson: Option[String] = None,
                  whereDocumentJson: Option[String] = None,
                  rrfK: Int = 60, perRankerK: Int = 10): DataFrame = {
    val sp = spark
    import sp.implicits._
    var docs = resolved(collection).filter(col("document").isNotNull)
    whereJson.foreach(w => docs = docs.filter(metadataPredicate(w)))
    whereDocumentJson.foreach(w => docs = docs.filter(documentPredicate(w)))
    val queries = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("query_id", "query_text")
    // FILTERED hybrid queries ride the tier too (r8 weak #2 fixed):
    // BM25's corpus stats are defined over the FILTERED corpus, but
    // every stat is additive, so [[bm25IndexedFiltered]] derives them
    // from the artifact joined against the compiled predicates — the
    // raw log never scans on the serve path, filtered or not.
    def indexedLexical: Option[DataFrame] = {
      val preds = whereJson.map(metadataPredicate).toSeq ++
        whereDocumentJson.map(documentPredicate)
      def serve(idx: String, touched: Seq[String],
                deltaLive: Option[DataFrame]): DataFrame =
        if (preds.isEmpty) bm25Indexed(idx, queries, texts, touched, deltaLive, perRankerK)
        else bm25IndexedFiltered(idx, queries, texts, touched, deltaLive, preds, perRankerK)
      lexRoute(collection).flatMap { case (idx, baseBatch) =>
        annDelta(collection, baseBatch) match {
          case None => // tail outgrew the base — rebuild, then serve clean
            Files.deleteIfExists(lexPtrPath(dir(collection)))
            lexRoute(collection).flatMap { case (idx2, b2) =>
              annDelta(collection, b2).map { case (t2, d2) =>
                serve(idx2, t2, d2)
              }
            }
          case Some((touched, deltaLive)) =>
            Some(serve(idx, touched, deltaLive))
        }
      }
    }
    val lexical = indexedLexical.getOrElse(
      graft.operators.TextAnalysis.bm25(
        docs.select(col("id").as("doc_id"), col("document").as("text")),
        queries, topK = perRankerK))
      .select(col("query_id"), col("rank"), col("doc_id"))
    val qv = queries.select(col("query_id"),
      embedderOf(collection).embed(col("query_text")).as("qvec"))
    val vector = query(collection, qv, nResults = perRankerK,
      whereJson = whereJson, include = Nil, whereDocumentJson = whereDocumentJson)
      .select(col("query_id"), col("rank"), col("id").as("doc_id"))
    graft.operators.HybridSearch.rrfFuse(lexical, vector, k = rrfK, topK = nResults)
  }

  /** Metadata `where` over the JSON column: rewrite field references
    * to typed JSON extractions, then reuse the standard WhereFilter
    * compiler. Numeric comparisons coerce via double. Field names are
    * restricted to identifier characters — JSON-path metacharacters
    * ('.', '[', quotes) would silently address the wrong path.
    */
  private val SafeField = "^[A-Za-z0-9_-]+$".r

  /** Document-content `where_document` predicate — the sibling filter
    * of the metadata `where`, over the `document` column.
    */
  private def documentPredicate(whereDocJson: String): Column =
    WhereFilter.compileDocument(whereDocJson, col("document"))

  private def metadataPredicate(whereJson: String): Column =
    WhereFilter.compileWith(whereJson, (field, wantNumeric) => {
      if (SafeField.findFirstIn(field).isEmpty)
        throw InvalidPathError(field,
          "metadata filter fields must match [A-Za-z0-9_-]+ (JSON-path metacharacters unsupported)")
      val raw = get_json_object(col("metadata_json"), s"$$.${field}")
      if (wantNumeric) raw.cast("double") else raw
    })
}

object CollectionData {
  /** Dimension of the built-in feature-hash auto-embedder (see
    * [[graft.functions.HashEmbed]]) — small because it only needs to
    * separate the demo/test vocabulary, and the oracle re-derives all
    * 16 components in SQL.
    */
  val AutoEmbedDim = 16

  /** The IVF probe-width LAW (r13): constant 24 up to 256 cells
    * (⌈√N⌉ cells puts the scale gate at N = 65,536 — the shared
    * [[graft.operators.GraphAnn.ScaleGateRows]] threshold, and every
    * oracled corpus sits at ≤ 78 cells), then one 4/3 step and
    * growth ∝ √cells, so the probed fraction shrinks as N^(−1/4)
    * instead of N^(−1/2) — the same one-step-then-law shape as the
    * graph serve budget. Ladder-calibrated on the HARD query set
    * (ARCHITECTURE.md r13): in-distribution queries measure recall
    * 1.000 at nprobe 12 at every ladder point (the r12 "IVF decay"
    * was an l2-top-10 vs cosine-truth artifact — full-probe recall
    * equals nprobe-24 recall at all three N), so the law is sized
    * against boundary queries (two-basin midpoints), where
    * 32·√(cells/256) holds mean ≥ 0.95 across 100k→1.6M while the
    * constant 24 decays 0.937→0.918.
    */
  def nprobeLawFor(cells: Int): Int =
    if (cells <= 256) math.min(cells, 24)
    else math.min(cells,
      math.ceil(32.0 * math.sqrt(cells / 256.0)).toInt)

  /** Training-sample gate for the IVF k-means build (r13): below
    * [[graft.operators.GraphAnn.ScaleGateRows]] the trainer sees
    * every row (all oracled/fixture corpora — the certified driver
    * path is bitwise untouched); above it centroids train on a
    * deterministic xxhash-derived 1-in-`every` sample and only the
    * FINAL assignment touches the full corpus. Target sample is
    * ~256 rows per centroid (two orders over the scalable-k-means
    * O(k) floor, Bahmani et al. 2012, because the sample must also
    * keep empty cells rare), so `every` = ⌊N / (256·cells)⌋ — with
    * cells = ⌈√N⌉ the training pass shrinks from N·cells·dim to
    * 256·cells²·dim ≈ 256·N·dim per iteration: linear in N with no
    * √N factor. Keyed by [[IvfTrainerVersion]] (t2) — the
    * trainer-scoped segment of the collivf cache key, so a different
    * trainer can never stale-serve a full-train artifact without
    * retiring unrelated artifacts that share the broader
    * [[graft.operators.VectorIndex.AlgoVersion]].
    */
  def annTrainSampleEvery(nLive: Long, cells: Int): Long =
    if (nLive < graft.operators.GraphAnn.ScaleGateRows) 1L
    else math.max(1L, nLive / (256L * cells))

  /** Version of the collection-IVF TRAINER, a segment of the collivf
    * cache key only (r13): t2 = snapshot-first resolution + sampled
    * k-means above the scale gate ([[annTrainSampleEvery]]). Scoped
    * here so trainer changes never retire the lexical/PQ/dedup
    * artifacts that share [[graft.operators.VectorIndex.AlgoVersion]]
    * — the r12 GraphAlgoVersion lesson.
    */
  val IvfTrainerVersion = "t2"

  /** Per-artifact centroid counts: an index directory is immutable
    * once `_INDEX_OK` lands, so its cell count is counted once per
    * JVM and every later serve resolves it here instead of running a
    * per-query count job.
    */
  private[catalog] val centroidCountMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Per-artifact graph search budgets ((hops, entries, n, maxlevel,
    * ngroups) from the artifact's `params` table) — immutable once
    * `_INDEX_OK` lands, same discipline as [[centroidCountMemo]].
    */
  private[catalog] val graphParamsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int, Long, Int, Long, Int, Int)]()

  /** Collected upper hierarchy of a SUB-SCALE-GATE graph artifact
    * (r15): entry ids, the levels relation (vec_id, lvl, vector
    * upcast to doubles — exact), and each walked layer's adjacency.
    * All are model-scale by the gate (levels ≤ gate/(M−1) rows) and
    * immutable once `_INDEX_OK` lands, the [[graphParamsMemo]]
    * discipline — collected once per JVM so the serve's upper-layer
    * walks run driver-side with no per-layer jobs. `dim` = −1 marks
    * an inconsistent artifact (mixed vector widths); the serve then
    * keeps the distributed path, whose NULL-distance semantics such
    * data would need.
    */
  private[catalog] final case class UpperDescentModel(
    entries: Seq[String],
    levels: Array[(String, Int, Array[Double])],
    adj: Map[Int, Map[String, Array[String]]],
    dim: Int)

  private[catalog] val upperDescentMemo: java.util.Map[String, UpperDescentModel] =
    graft.Lru.bounded[String, UpperDescentModel](64)

  /** Lexical-tier corpus aggregates (n_docs, total_len, tok_docs) per
    * artifact — 1 row, immutable once `_INDEX_OK` lands; collected
    * once per JVM so serves fold the stat arithmetic at planning time
    * (the [[centroidCountMemo]] discipline).
    */
  private[catalog] val lexStatsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long)]()

  /** FILTERED lexical corpus aggregates (b_docs, b_len, b_tok) per
    * (artifact, compiled predicates, post-build mask) — pure given an
    * immutable artifact and literal predicates, exactly the
    * [[filteredCellStatsMemo]] contract on the lexical side: repeat
    * filtered hybrid calls with the same predicate stop re-counting
    * the doc table. 1-row values; bounded LRU.
    */
  private[catalog] val lexFilteredStatsMemo: java.util.Map[String, (Long, Long, Long)] =
    graft.Lru.bounded[String, (Long, Long, Long)](1024)

  /** Adaptive-probe cell stats memoized per (artifact, filter
    * fingerprint, post-build mask) — pure given an immutable artifact
    * and literal predicates, so repeat filtered calls with the same
    * predicate never recount the vectors table. Values are
    * model-scale (≤ 65536 cells). The compute counter is the ops
    * metric a cache-hit spec (and a dashboard) reads.
    *
    * Access-order LRU bounded at 1024 entries (r11, closing an r10
    * advisory): the old ConcurrentHashMap was wiped by a racy full
    * `clear()` past the cap, evicting hot unfiltered-artifact entries
    * along with the orphans each post-build ingest batch leaves
    * behind. The synchronized LinkedHashMap holds its lock only for
    * O(1) get/put — the Spark count job that COMPUTES an entry runs
    * outside it at the call site (a lost race recomputes a pure
    * value; it never blocks unrelated serves).
    */
  private[catalog] val filteredCellStatsMemo: java.util.Map[String, Array[(Int, Long)]] =
    graft.Lru.bounded[String, Array[(Int, Long)]](1024)
  private[catalog] val filteredCellStatsComputes =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Content fingerprints memoized per (dir, batch, log file set) —
    * pure given an append-only log (any mutation changes the key),
    * and computed twice per hybrid serve without it (once per tier).
    */
  private[catalog] val fingerprintMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The `hnsw:*` metadata keys Chroma's server accepts — anything
    * else under the `hnsw:` prefix is a typo or an unsupported
    * feature and raises [[EngineError.MetadataParseError]] (see
    * [[CollectionData.hnswSearchEf]]).
    */
  val HnswKnownKeys: Set[String] = Set(
    "hnsw:space", "hnsw:search_ef", "hnsw:construction_ef", "hnsw:M",
    "hnsw:batch_size", "hnsw:sync_threshold", "hnsw:num_threads",
    "hnsw:resize_factor")
}
