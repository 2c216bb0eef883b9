package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Seeded input generator. Every stream is its own `java.util.Random`
  * derived from (seed, stream), so one seed always yields the same
  * inputs, whatever else the run does.
  */
final class Gen(seed: Long, stream: Int) {
  val rnd = new java.util.Random(seed * 1000003L + stream)
}

object Gen {
  val Dim = 64
  val Clusters = 16
  val Tiers = 4

  /** Cluster centres shared by every stream of one seed, so query
    * vectors fall in the same clusters as the data they search. */
  def centres(seed: Long): Array[Array[Double]] = {
    val r = new Gen(seed, 0).rnd
    Array.fill(Clusters)(Array.fill(Dim)(r.nextGaussian()))
  }

  def vec(g: Gen, centres: Array[Array[Double]]): Array[Float] = {
    val c = centres(g.rnd.nextInt(centres.length))
    Array.tabulate(Dim)(i => (c(i) + 0.35 * g.rnd.nextGaussian()).toFloat)
  }

  private val Vocab = Array.tabulate(4000)(i => s"w$i")
  def words(g: Gen, n: Int): Array[String] = Array.fill(n)(Vocab(g.rnd.nextInt(Vocab.length)))

  def item(g: Gen, centres: Array[Array[Double]]): Item =
    Item(vec(g, centres), words(g, 12).mkString(" "), s"t${g.rnd.nextInt(Tiers)}", g.rnd.nextInt(100))
}

/** A collection item as the benchmark's own model holds it. */
final case class Item(vec: Array[Float], doc: String, tier: String, n: Int) {
  def meta: String = s"""{"tier":"$tier","n":$n}"""
}

/** A `where` filter: the JSON the program receives and the predicate
  * the model applies to check its answer. */
final case class Where(json: String, pred: Item => Boolean)

object Where {
  def tier(t: String) = Where(s"""{"tier":"$t"}""", _.tier == t)
  def nBelow(v: Int) = Where(s"""{"n":{"$$lt":$v}}""", _.n < v)
  def nIs(v: Int) = Where(s"""{"n":$v}""", _.n == v)
}

/** Distances computed apart from the program, in double precision. */
object Exact {
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }
  def rnd4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0

  def shingles(text: String, n: Int): Set[String] = {
    val t = text.trim.split("\\s+")
    if (t.length >= n) t.sliding(n).map(_.mkString(" ")).toSet else Set(t.mkString(" "))
  }
  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.intersect(b).size.toDouble
    inter / (a.size + b.size - inter)
  }
}

/** Collects check failures and recall samples for the run's verdict. */
final class Checks {
  private val problems = ArrayBuffer[String]()
  private val recall = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  private val floors = mutable.LinkedHashMap[String, Double]()

  def ok: Boolean = problems.isEmpty && recallOk
  def report: Seq[String] =
    problems.toSeq ++ recall.toSeq.collect {
      case (k, xs) if mean(xs) < floors(k) => f"recall $k: mean ${mean(xs)}%.4f < floor ${floors(k)}"
    }

  def expect(cond: Boolean, msg: => String): Unit =
    if (!cond && problems.size < 50) problems += msg

  def recallSample(kind: String, floor: Double, r: Double): Unit = {
    floors(kind) = floor
    recall.getOrElseUpdate(kind, ArrayBuffer()) += r
  }

  private def mean(xs: collection.Seq[Double]) = if (xs.isEmpty) 1.0 else xs.sum / xs.size
  private def recallOk = recall.forall { case (k, xs) => mean(xs) >= floors(k) }
}

/** The benchmark's model of one collection: the latest version of
  * every live item, updated only when the program accepted the write.
  */
final class Model {
  val items = mutable.HashMap[String, Item]()

  def df(spark: SparkSession, rows: Seq[(String, Item)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, it) => (id, it.vec.toSeq, it.doc, it.meta) }
      .toDF("id", "embedding", "document", "metadata_json")
  }

  /** Chroma `query` answer: ids and distances in rank order, checked
    * against the model (squared L2, the collection default metric). */
  def checkQuery(c: Checks, label: String, rows: Array[Row], q: Array[Float],
                 k: Int, where: Option[Where]): Unit = {
    val live = items.iterator.filter { case (_, it) => where.forall(_.pred(it)) }.toSeq
    val expectN = math.min(k, live.size)
    c.expect(rows.length == expectN, s"$label: ${rows.length} rows, expected $expectN")
    val sorted = rows.sortBy(_.getAs[Long]("rank"))
    c.expect(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length.toLong),
      s"$label: ranks are not 1..${sorted.length}")
    var prev = Double.NegativeInfinity
    sorted.foreach { r =>
      val id = r.getAs[String]("id")
      val d = r.getAs[Double]("distance")
      items.get(id) match {
        case None => c.expect(false, s"$label: returned id $id is not live")
        case Some(it) =>
          where.foreach(w => c.expect(w.pred(it), s"$label: $id fails filter ${w.json}"))
          val e = Exact.l2sq(q, it.vec)
          c.expect(math.abs(d - e) <= 1e-6 * math.max(1.0, e), s"$label: $id distance $d != $e")
          c.expect(r.getAs[String]("document") == it.doc, s"$label: $id document is stale")
          c.expect(r.getAs[String]("metadata_json") == it.meta, s"$label: $id metadata is stale")
      }
      c.expect(d >= prev, s"$label: distances decrease at rank ${r.getAs[Long]("rank")}")
      prev = d
    }
    if (expectN > 0) {
      val truth = live.map { case (id, it) => (Exact.l2sq(q, it.vec), id) }.sorted
        .take(expectN).map(_._2).toSet
      val got = sorted.map(_.getAs[String]("id")).toSet
      c.recallSample("collection", 0.9, truth.intersect(got).size.toDouble / expectN)
    }
  }

  /** Chroma `get` by ids: exactly the live requested ids, latest payload. */
  def checkGet(c: Checks, label: String, rows: Array[Row], ids: Seq[String]): Unit = {
    val want = ids.filter(items.contains).toSet
    val got = rows.map(_.getAs[String]("id"))
    c.expect(got.length == got.distinct.length && got.toSet == want,
      s"$label: got ${got.sorted.mkString(",")}, expected ${want.toSeq.sorted.mkString(",")}")
    rows.foreach { r =>
      items.get(r.getAs[String]("id")).foreach { it =>
        c.expect(r.getAs[String]("document") == it.doc && r.getAs[String]("metadata_json") == it.meta,
          s"$label: ${r.getAs[String]("id")} payload is stale")
      }
    }
  }
}
