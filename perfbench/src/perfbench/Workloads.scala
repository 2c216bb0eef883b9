package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.catalog.{ChromaSpark, CollectionData}
import graft.operators.{Dedup, VectorIndex, VectorOps}

/** What every workload shares: the session, the program's entry
  * points, the recorder and the checks.
  */
final class Env(val spark: SparkSession, val root: String, val seed: Long,
                val rec: Recorder, val checks: Checks) {
  val client = new ChromaSpark(spark, s"$root/warehouse")
  val cd = new CollectionData(client)
  val centres: Array[Array[Double]] = Gen.centres(seed)
  val annRoot = s"$root/ann"
  val ivfRoot = s"$root/ivf"
  var attempted = 0L
  var failed = 0L

  /** One call into the program. In the timed phase a call that throws
    * counts as failed and the run goes on; anywhere else it ends the
    * run, because set-up that failed leaves nothing to measure. */
  def op[A](name: String)(body: => A): Option[A] =
    if (rec.phase != "timed") Some(rec.call(name)(body))
    else {
      attempted += 1
      try Some(rec.call(name)(body))
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $name failed: $e")
          None
      }
    }

  def queryDf(q: Array[Float]): DataFrame = {
    import spark.implicits._
    Seq((0, q.toSeq)).toDF("query_id", "qvec")
  }

  def dirBytes(p: String): Long = Files.walk(Paths.get(p)).iterator.asScala
    .filter(Files.isRegularFile(_)).map(Files.size).sum

  def deleteTree(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      Files.walk(path).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }
}

/** One workload: set-up, then rounds of a fixed operation sequence. */
trait Workload {
  def setup(): Unit
  /** One round of the timed operation sequence; `r` numbers it. */
  def round(r: Int): Unit
  /** Untimed work after a round: read-back checks, releasing state. */
  def afterRound(r: Int): Unit = ()
  /** Bytes on disk per stored item, from a point the seed fixes. */
  def storedBytesPerItem: Double
  /** Round length on the reference host; with `--seconds` it fixes
    * the number of timed rounds. */
  def nominalRoundS: Double
}

/** The Chroma calls against one collection, each checked against the
  * benchmark's model of that collection. */
final class CollectionOps(env: Env, val name: String, g: Gen) {
  import env._
  val model = new Model
  private val ids = ArrayBuffer[String]()
  private var minted = 0

  def newItems(n: Int): Seq[(String, Item)] = (0 until n).map { _ =>
    minted += 1
    (f"$name-$minted%06d", Gen.item(g, centres))
  }

  private def accept(rows: Seq[(String, Item)]): Unit = rows.foreach { case (id, it) =>
    if (!model.items.contains(id)) ids += id
    model.items(id) = it
  }

  private def pick(n: Int): Seq[String] = {
    val live = ids.filter(model.items.contains)
    Seq.fill(n)(live(g.rnd.nextInt(live.size))).distinct
  }

  def create(): Unit = op("create")(client.createCollection(name))

  def add(opName: String, n: Int): Unit = {
    val rows = newItems(n)
    val df = model.df(spark, rows)
    op(opName)(cd.add(name, df)).foreach(_ => accept(rows))
  }

  def upsert(existing: Int, fresh: Int): Unit = {
    val rows = pick(existing).map(id => (id, Gen.item(g, centres))) ++ newItems(fresh)
    val df = model.df(spark, rows)
    op("upsert")(cd.upsert(name, df)).foreach(_ => accept(rows))
  }

  def deleteWhere(w: Where): Unit =
    op("delete_where")(cd.delete(name, whereJson = Some(w.json))).foreach { _ =>
      model.items.filterInPlace { case (_, it) => !w.pred(it) }
    }

  def compact(): Unit = op("compact")(cd.compact(name)).foreach { _ =>
    val logRows = cd.logRows(name)
    checks.expect(logRows == model.items.size,
      s"$name: logRows $logRows after compact, live ${model.items.size}")
  }

  def query(opName: String, where: Option[Where]): Unit = {
    val q = Gen.vec(g, centres)
    val qdf = queryDf(q)
    op(opName)(cd.query(name, qdf, 10, whereJson = where.map(_.json)).collect())
      .foreach(rows => model.checkQuery(checks, s"$name $opName", rows, q, 10, where))
  }

  // Seeded first values; each filter kind then steps through its
  // values, so no filter repeats until a kind has gone round. A repeat
  // lets the program reuse a memoized per-cell count, one job fewer,
  // and the job count per round would depend on the seed.
  private val tier0 = g.rnd.nextInt(Gen.Tiers)
  private val below0 = g.rnd.nextInt(80)
  private val del0 = g.rnd.nextInt(100)
  private var wheres = 0
  private var deletes = 0

  /** Alternates an equality and a range filter, so every run makes the
    * same mix whatever the seed. */
  def nextWhere(): Where = {
    wheres += 1
    val k = (wheres - 1) / 2
    if (wheres % 2 == 1) Where.tier(s"t${(tier0 + k) % Gen.Tiers}")
    else Where.nBelow(10 + (below0 + 7 * k) % 80)
  }

  /** A filter on one `n` value, about 1 % of the items. */
  def nextDelete(): Where = {
    deletes += 1
    Where.nIs((del0 + 13 * (deletes - 1)) % 100)
  }

  def get(): Unit = {
    val want = pick(5) :+ s"$name-missing"
    op("get")(cd.get(name, ids = want).collect())
      .foreach(rows => model.checkGet(checks, s"$name get", rows, want))
  }

  def count(): Unit = op("count")(cd.count(name)).foreach { n =>
    checks.expect(n == model.items.size, s"$name: count $n, live ${model.items.size}")
  }

  def getCollection(): Unit = op("get_collection")(client.getCollection(name)).foreach { c =>
    checks.expect(c.name == name, s"getCollection($name) returned ${c.name}")
  }

  def logBytes: Long = env.dirBytes(client.dataDir(name))
}

/** `serve`: a pre-loaded collection above the ANN gate, read mostly. */
final class Serve(env: Env) extends Workload {
  import env._
  private val Rows = 600
  private val coll = new CollectionOps(env, "serve", new Gen(seed, 1))
  private var stored = 0.0

  // One order for every seed. A read right after a write refreshes the
  // driver snapshot (a `count` then takes about 130 ms, not 2 ms), so a
  // seeded order would make the cost of a call kind depend on the seed.
  // `count` comes three times, each after a read: at about 1.5 ms, one
  // sample a round moved 2x with host noise.
  private val sequence = Seq("query", "upsert", "query", "get", "count", "add", "query_where",
    "count", "delete_where", "query", "count")

  def setup(): Unit = {
    coll.create()
    coll.add("add_first", Rows)
    coll.query("index_build", None) // the first query builds the IVF tier
    stored = (coll.logBytes + dirBytes(annRoot)).toDouble / coll.model.items.size
  }

  def round(r: Int): Unit = sequence.foreach {
    case "query"          => coll.query("query", None)
    case "query_where"    => coll.query("query_where", Some(coll.nextWhere()))
    case "get"            => coll.get()
    case "count"          => coll.count()
    case "upsert"         => coll.upsert(4, 4)
    case "add"            => coll.add("add", 4)
    case "delete_where"   => coll.deleteWhere(coll.nextDelete())
  }

  def storedBytesPerItem: Double = stored
  def nominalRoundS: Double = 5.0
}

/** `ingest`: each round grows a fresh collection through `add`s, then
  * upserts, deletes by `where`, compacts and builds the ANN tier. */
final class Ingest(env: Env, prefix: String = "ingest", batch: Int = 120, adds: Int = 4,
                   stream: Int = 100) extends Workload {
  import env._
  private var last: CollectionOps = _
  private var stored = 0.0

  def setup(): Unit = ()

  def round(r: Int): Unit = {
    val c = new CollectionOps(env, s"$prefix$r", new Gen(seed, stream + r))
    last = c
    c.create()
    c.add("add_first", batch)
    (1 to adds).foreach(_ => c.add("add", batch))
    c.upsert(c.model.items.size / 10, 0)
    c.deleteWhere(Where.tier(s"t${r % Gen.Tiers}"))
    c.compact()
    c.query("index_build", None) // first query after the writes builds the IVF tier
    c.getCollection()
  }

  override def afterRound(r: Int): Unit = {
    val c = last
    val n = cd.count(c.name)
    checks.expect(n == c.model.items.size, s"${c.name}: count $n, live ${c.model.items.size}")
    val sample = c.model.items.keys.toSeq.sorted.take(8) :+ s"${c.name}-000001"
    c.model.checkGet(checks, s"${c.name} read-back", cd.get(c.name, ids = sample).collect(), sample)
    if (r == 1) stored = (c.logBytes + dirBytes(annRoot)).toDouble / c.model.items.size
    release()
  }

  /** Drops the round's collection and its index, so rounds never share state. */
  def release(): Unit = {
    client.deleteCollection(last.name)
    deleteTree(annRoot)
  }

  /** One of each read call on the last round's collection (used by the traced sweep). */
  def reads(): Unit = {
    last.query("query", None)
    last.query("query_where", Some(last.nextWhere()))
    last.get()
    last.count()
  }

  def storedBytesPerItem: Double = stored
  def nominalRoundS: Double = 5.5
}

/** `batch`: index build, IVF probe, exact kNN and MinHash dedup over a
  * generated corpus, the DataFrame pipeline of the paper. */
final class Batch(env: Env, corpusRows: Int = 3000, queries: Int = 64, baseDocs: Int = 800,
                  cells: Int = 16, nprobe: Int = 4, stream: Int = 10,
                  name: String = "batch") extends Workload {
  import env._
  import spark.implicits._
  private val K = 10
  private var corpusVecs: Array[Array[Float]] = _
  private var queryVecs: Array[Array[Float]] = _
  private var docs: Array[String] = _
  private var planted: Seq[(Long, Long)] = Nil
  private var corpus: DataFrame = _
  private var queryDf: DataFrame = _
  private var docDf: DataFrame = _
  private var stored = 0.0

  def setup(): Unit = {
    val g = new Gen(seed, stream)
    corpusVecs = Array.fill(corpusRows)(Gen.vec(g, centres))
    queryVecs = Array.fill(queries)(Gen.vec(g, centres))
    // Planted near-duplicates: a copy with its last word changed
    // (Jaccard 57/59 over 3-gram sets) or one middle word changed
    // (55/61 = 0.90); both sit at or above 0.9 and must be found.
    val base = Array.fill(baseDocs)(Gen.words(g, 60))
    val dups = ArrayBuffer[Array[String]]()
    val pairs = ArrayBuffer[(Long, Long)]()
    base.indices.foreach { i =>
      val u = g.rnd.nextDouble()
      if (u < 0.2) {
        val d = base(i).clone()
        val at = if (u < 0.1) d.length - 1 else 10 + g.rnd.nextInt(40)
        d(at) = s"x${g.rnd.nextInt(1000000)}"
        pairs += ((i.toLong, (baseDocs + dups.size).toLong))
        dups += d
      }
    }
    docs = (base ++ dups).map(_.mkString(" "))
    planted = pairs.toSeq
    val in = s"$root/input/$name"
    corpusVecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toSeq
      .toDF("vec_id", "vec").repartition(4).write.parquet(s"$in/corpus")
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
      .toDF("doc_id", "text").repartition(4).write.parquet(s"$in/docs")
    corpus = spark.read.parquet(s"$in/corpus")
    docDf = spark.read.parquet(s"$in/docs")
    queryDf = queryVecs.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq.toDF("query_id", "qvec")
  }

  private def dir(r: Int) = s"$ivfRoot/$name-$r"

  def round(r: Int): Unit = {
    op("ivf_build")(VectorIndex.build(corpus, dir(r), cells, 2))
    op("ivf_query")(VectorIndex.query(spark, dir(r), queryDf, K, nprobe).collect())
      .foreach(rows => checkTopK("ivf_query", rows, Some(0.8)))
    op("knn_exact")(VectorOps.knnBrute(queryDf, corpus, K).collect())
      .foreach(rows => checkTopK("knn_exact", rows, None))
    op("minhash_pairs")(Dedup.minhashPairs(docDf).collect()).foreach(checkPairs)
  }

  /** Trains centroids alone (the traced sweep's k-means span). */
  def kmeans(): Unit = op("kmeans")(VectorOps.kmeansCentroids(corpus, cells, 2)).foreach { cs =>
    checks.expect(cs.nonEmpty && cs.size <= cells && cs.forall(_._2.length == Gen.Dim),
      s"$name kmeans: ${cs.size} centroids")
  }

  override def afterRound(r: Int): Unit = {
    if (Files.exists(Paths.get(dir(r)))) {
      checkIndex(dir(r))
      if (r == 1) stored = dirBytes(dir(r)).toDouble / corpusRows
      deleteTree(dir(r))
    }
  }

  /** Exact cosine top-k of every query, computed apart from the program. */
  private lazy val truth: Array[Array[(Double, Long)]] = queryVecs.map { q =>
    corpusVecs.indices.map(i => (Exact.cosine(q, corpusVecs(i)), i.toLong))
      .sortBy { case (s, i) => (-s, i) }.toArray
  }

  /** Scores must equal the exact cosine at 4-decimal rounding, ranks
    * run 1..k. Exact search must return the exact top-k (ties allowed
    * at the rounding); IVF search must reach the recall floor. */
  private def checkTopK(label: String, rows: Array[Row], recallFloor: Option[Double]): Unit = {
    val byQuery = rows.groupBy(_.getAs[Int]("query_id"))
    checks.expect(byQuery.size == queries, s"$name $label: answers for ${byQuery.size} of $queries queries")
    byQuery.foreach { case (qi, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      checks.expect(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to K.toLong),
        s"$name $label q$qi: ranks ${sorted.map(_.getAs[Long]("rank")).mkString(",")}")
      val q = queryVecs(qi)
      sorted.foreach { r =>
        val id = r.getAs[Long]("vec_id")
        val ok = id >= 0 && id < corpusRows
        checks.expect(ok, s"$name $label q$qi: unknown vec_id $id")
        if (ok) {
          val e = Exact.cosine(q, corpusVecs(id.toInt))
          checks.expect(math.abs(r.getAs[Double]("score") - e) <= 0.5e-4 + 1e-9,
            s"$name $label q$qi: $id score ${r.getAs[Double]("score")} != $e")
        }
      }
      val t = truth(qi)
      val got = sorted.map(_.getAs[Long]("vec_id")).toSet
      recallFloor match {
        case None =>
          val kth = t(K - 1)._1
          checks.expect(t.takeWhile(_._1 > kth + 1e-4).forall(x => got.contains(x._2)) &&
            got.forall(id => id >= 0 && id < corpusRows && Exact.cosine(q, corpusVecs(id.toInt)) >= kth - 1e-4),
            s"$name $label q$qi: not the exact top-$K")
        case Some(floor) =>
          val want = t.take(K).map(_._2).toSet
          checks.recallSample(s"$name $label", floor, want.intersect(got).size.toDouble / K)
      }
    }
  }

  /** Every corpus vector sits in exactly one cell, and sampled vectors
    * sit in the cell of their nearest written centroid. */
  private def checkIndex(d: String): Unit = {
    val cents = spark.read.parquet(s"$d/centroids").collect()
      .map(r => (r.getAs[Int]("c_id"), r.getAs[Seq[Double]]("centroid").toArray))
    val labels = spark.read.parquet(s"$d/vectors").select(col("vec_id"), col("label")).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label")))
    val ids = labels.map(_._1)
    checks.expect(ids.length == corpusRows && ids.distinct.length == corpusRows &&
      ids.forall(i => i >= 0 && i < corpusRows), s"$name index: ${ids.length} rows, ${ids.distinct.length} distinct")
    val s = new Gen(seed, stream + 1).rnd
    labels.filter(_ => s.nextInt(20) == 0).foreach { case (id, label) =>
      val v = corpusVecs(id.toInt)
      def dist(c: Array[Double]) = v.indices.map(i => { val x = v(i) - c(i); x * x }).sum
      val best = cents.map(c => dist(c._2)).min
      val own = cents.find(_._1 == label).map(c => dist(c._2))
      checks.expect(own.exists(_ <= best + 1e-9 * (1 + best)), s"$name index: vec $id in cell $label, not its nearest")
    }
  }

  /** Each pair's Jaccard equals a recomputation over word 3-gram sets
    * and clears the 0.7 threshold; every planted pair is found. */
  private def checkPairs(rows: Array[Row]): Unit = {
    val sh = docs.map(Exact.shingles(_, 3))
    val found = rows.map { r =>
      val a = r.getAs[Long]("doc_a"); val b = r.getAs[Long]("doc_b")
      val j = r.getAs[Double]("jaccard")
      val e = Exact.jaccard(sh(a.toInt), sh(b.toInt))
      checks.expect(a < b && math.abs(j - Exact.rnd4(e)) <= 1e-9 && j >= 0.7,
        s"$name minhash: pair ($a,$b) jaccard $j, exact $e")
      (a, b)
    }.toSet
    val missed = planted.filterNot(found.contains)
    checks.expect(missed.isEmpty, s"$name minhash: missed planted pairs ${missed.take(5).mkString(",")}")
  }

  def storedBytesPerItem: Double = stored
  def nominalRoundS: Double = 7.5
}
