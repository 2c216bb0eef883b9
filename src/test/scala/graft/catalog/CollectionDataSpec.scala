package graft.catalog

import java.nio.file.Files
import graft.SparkSpec
import graft.catalog.EngineError._

class CollectionDataSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): (ChromaSpark, CollectionData) = {
    val wh = Files.createTempDirectory("graft-items").toString
    val c = new ChromaSpark(spark, wh)
    c.createCollection("col")
    (c, new CollectionData(c))
  }

  private def items(rows: (String, Seq[Float], String, String)*) =
    rows.toDF("id", "embedding", "document", "metadata_json")

  test("add + get + count round-trip") {
    val (_, d) = fresh()
    d.add("col", items(
      ("a", Seq(1f, 0f), "doc a", """{"lang":"en","stars":5}"""),
      ("b", Seq(0f, 1f), "doc b", """{"lang":"fr","stars":2}""")))
    assert(d.count("col") === 2)
    val got = d.get("col").collect() // default include: (id, document, metadata_json)
    assert(got.map(_.getString(0)).toSeq === Seq("a", "b"))
    assert(got.head.getString(1) === "doc a")
  }

  test("add and upsert reject duplicate ids within one batch") {
    val (_, d) = fresh()
    assertThrows[CollectionStateError] {
      d.add("col", items(("a", Seq(1f, 0f), "v1", "{}"), ("a", Seq(0f, 1f), "v2", "{}")))
    }
    assertThrows[CollectionStateError] {
      d.upsert("col", items(("a", Seq(1f, 0f), "v1", "{}"), ("a", Seq(0f, 1f), "v2", "{}")))
    }
    assert(d.count("col") === 0) // nothing partially written
  }

  test("two interleaved writers mint distinct batch ids (atomic minting)") {
    val (c, d) = fresh()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(ids: Seq[String]): Thread = {
      val t = new Thread(() => {
        try {
          barrier.await() // maximize overlap of the two mint attempts
          d.upsert("col", items(ids.map(i => (i, Seq(1f, 0f), s"doc $i", "{}")): _*))
        } catch { case e: Throwable => errs.add(e) }
      })
      t.start(); t
    }
    val threads = Seq(writer(Seq("w1a", "w1b")), writer(Seq("w2a", "w2b")))
    threads.foreach(_.join(60000))
    assert(errs.isEmpty, s"concurrent writer failed: ${errs.peek()}")
    // both batches landed under DISTINCT ids: latest-wins resolution
    // stays well-defined and all four rows are live
    val log = spark.read.parquet(s"${c.dataDir("col")}/log")
    assert(log.select("_batch").distinct().count() === 2)
    assert(d.count("col") === 4)
    assert(d.currentBatch("col") === 1L)
    // the mint CAS left one marker file per batch id
    val markers = Files.list(java.nio.file.Paths.get(c.dataDir("col"), "_batches.d"))
      .toArray.map(_.toString.split('/').last).sorted
    assert(markers.toSeq === Seq("0", "1"))
  }

  test("legacy _batches counter file is honored as a floor and never re-minted") {
    val (c, d) = fresh()
    // simulate a pre-upgrade log: counter says the last batch was 4
    Files.write(java.nio.file.Paths.get(c.dataDir("col"), "_batches"), "4".getBytes)
    assert(d.currentBatch("col") === 4L)
    d.upsert("col", items(("a", Seq(1f, 0f), "x", "{}")))
    assert(d.currentBatch("col") === 5L) // minted ABOVE the legacy floor
  }

  test("delete with no selector is refused instead of wiping the collection") {
    val (_, d) = fresh()
    d.add("col", items(("a", Seq(1f, 0f), "x", "{}")))
    assertThrows[CollectionStateError] { d.delete("col") }
    assert(d.count("col") === 1)
  }

  test("metadata filter fields with JSON-path metacharacters are rejected") {
    val (_, d) = fresh()
    d.add("col", items(("a", Seq(1f, 0f), "x", """{"a.b":"x"}""")))
    assertThrows[InvalidPathError] {
      d.get("col", whereJson = Some("""{"a.b": "x"}""")).collect()
    }
  }

  test("add rejects duplicate live ids; upsert replaces them") {
    val (_, d) = fresh()
    d.add("col", items(("a", Seq(1f, 0f), "v1", "{}")))
    assertThrows[CollectionStateError] {
      d.add("col", items(("a", Seq(1f, 0f), "v2", "{}")))
    }
    d.upsert("col", items(("a", Seq(1f, 0f), "v2", "{}")))
    val got = d.get("col", ids = Seq("a")).collect()
    assert(got.length === 1 && got.head.getString(1) === "v2")
    assert(d.count("col") === 1)
  }

  test("delete by id appends a tombstone; re-add then works") {
    val (_, d) = fresh()
    d.add("col", items(("a", Seq(1f, 0f), "doc", "{}"), ("b", Seq(0f, 1f), "doc", "{}")))
    d.delete("col", ids = Seq("a"))
    assert(d.count("col") === 1)
    assert(d.get("col").collect().map(_.getString(0)).toSeq === Seq("b"))
    d.add("col", items(("a", Seq(1f, 1f), "doc3", "{}"))) // id free again
    assert(d.count("col") === 2)
  }

  test("get with metadata where-filter and paging") {
    val (_, d) = fresh()
    d.add("col", items(
      ("a", Seq(1f, 0f), "x", """{"lang":"en","stars":5}"""),
      ("b", Seq(0f, 1f), "y", """{"lang":"fr","stars":2}"""),
      ("c", Seq(1f, 1f), "z", """{"lang":"en","stars":1}""")))
    val en = d.get("col", whereJson = Some("""{"lang": "en"}""")).collect()
    assert(en.map(_.getString(0)).toSeq === Seq("a", "c"))
    val manyStars = d.get("col", whereJson = Some("""{"stars": {"$gte": 2}}""")).collect()
    assert(manyStars.map(_.getString(0)).toSeq === Seq("a", "b"))
    val page = d.get("col", limit = Some(1), offset = 1).collect()
    assert(page.map(_.getString(0)).toSeq === Seq("b"))
  }

  test("delete by where-filter") {
    val (_, d) = fresh()
    d.add("col", items(
      ("a", Seq(1f, 0f), "x", """{"keep":"no"}"""),
      ("b", Seq(0f, 1f), "y", """{"keep":"yes"}""")))
    d.delete("col", whereJson = Some("""{"keep": "no"}"""))
    assert(d.get("col").collect().map(_.getString(0)).toSeq === Seq("b"))
  }

  test("query returns nearest live items, respects where-filter") {
    val (_, d) = fresh()
    d.add("col", items(
      ("near", Seq(0.99f, 0.05f), "close", """{"tier":"a"}"""),
      ("orth", Seq(0f, 1f), "far", """{"tier":"a"}"""),
      ("alsoNear", Seq(0.98f, 0.01f), "close2", """{"tier":"b"}""")))
    val q = Seq((1L, Seq(1f, 0f))).toDF("query_id", "qvec")
    val top = d.query("col", q, nResults = 1).collect()
    assert(top.head.getString(1) === "alsoNear") // highest cosine
    val topA = d.query("col", q, nResults = 1, whereJson = Some("""{"tier": "a"}""")).collect()
    assert(topA.head.getString(1) === "near") // filter first, then score
  }

  test("query ignores deleted and re-ranks after upsert") {
    val (_, d) = fresh()
    d.add("col", items(
      ("a", Seq(1f, 0f), "v1", "{}"),
      ("b", Seq(0.9f, 0.1f), "v1", "{}")))
    d.delete("col", ids = Seq("a"))
    val q = Seq((1L, Seq(1f, 0f))).toDF("query_id", "qvec")
    assert(d.query("col", q, 5).collect().map(_.getString(1)).toSeq === Seq("b"))
    d.upsert("col", items(("b", Seq(0f, 1f), "v2", "{}"))) // moved away
    val after = d.query("col", q, 5).collect()
    assert(after.length === 1 && after.head.getAs[Double]("distance") > 0.5)
  }

  test("compact folds the log and preserves resolved state") {
    val (_, d) = fresh()
    d.add("col", items(("a", Seq(1f, 0f), "v1", "{}"), ("b", Seq(0f, 1f), "w", "{}")))
    d.upsert("col", items(("a", Seq(1f, 0f), "v2", "{}")))
    d.delete("col", ids = Seq("b"))
    val before = d.get("col").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    d.compact("col")
    val after = d.get("col").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(before === after && after === Seq(("a", "v2")))
    // further writes keep working after compaction
    d.add("col", items(("c", Seq(1f, 1f), "new", "{}")))
    assert(d.count("col") === 2)
  }

  test("update replaces existing items only; peek pages from the front") {
    val (_, d) = fresh()
    d.add("col", items(("a", Seq(1f, 0f), "v1", "{}"), ("b", Seq(0f, 1f), "w", "{}")))
    d.update("col", items(("a", Seq(1f, 0f), "v2", "{}")))
    assert(d.get("col", ids = Seq("a")).collect().head.getString(1) === "v2")
    // an unknown id rejects the whole batch, nothing partially written
    assertThrows[CollectionStateError] {
      d.update("col", items(("a", Seq(1f, 0f), "v3", "{}"), ("zz", Seq(0f, 0f), "x", "{}")))
    }
    assert(d.get("col", ids = Seq("a")).collect().head.getString(1) === "v2")
    assert(d.peek("col", 1).collect().map(_.getString(0)).toSeq === Seq("a"))
  }

  test("per-collection distance metric: l2 and ip rank by their own distances") {
    val wh = Files.createTempDirectory("graft-items").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    c.createCollection("l2c", Some(Map("hnsw:space" -> "l2")))
    c.createCollection("ipc", Some(Map("hnsw:space" -> "ip")))
    c.createCollection("badc", Some(Map("hnsw:space" -> "hamming")))
    val vecs = Seq(("a", Seq(1f, 2f)), ("b", Seq(3f, 4f)), ("c", Seq(0f, 0f)))
      .toDF("id", "embedding")
    d.add("l2c", vecs); d.add("ipc", vecs); d.add("badc", vecs)
    val q = Seq((1L, Seq(1f, 1f))).toDF("query_id", "qvec")
    val l2 = d.query("l2c", q, 10, include = Nil).collect()
      .map(r => (r.getString(1), r.getDouble(2))).toSeq
    assert(l2 === Seq(("a", 1.0), ("c", 2.0), ("b", 13.0))) // squared euclidean
    val ip = d.query("ipc", q, 10, include = Nil).collect()
      .map(r => (r.getString(1), r.getDouble(2))).toSeq
    assert(ip === Seq(("b", -6.0), ("a", -2.0), ("c", 1.0))) // 1 − ⟨a,b⟩
    assertThrows[CollectionStateError] { d.query("badc", q, 10) }
  }

  test("include projection controls returned columns on get and query") {
    val (_, d) = fresh()
    d.add("col", items(("a", Seq(1f, 0f), "doc a", """{"k":"v"}""")))
    assert(d.get("col").columns.toSeq === Seq("id", "document", "metadata_json"))
    assert(d.get("col", include = Seq("embeddings")).columns.toSeq === Seq("id", "embedding"))
    assert(d.get("col", include = Seq("embeddings", "documents", "metadatas")).columns.toSeq
      === Seq("id", "embedding", "document", "metadata_json"))
    val q = Seq((1L, Seq(1f, 0f))).toDF("query_id", "qvec")
    assert(d.query("col", q, 1, include = Seq("documents")).columns.toSeq
      === Seq("query_id", "id", "document", "distance", "rank"))
    assertThrows[CollectionStateError] { d.get("col", include = Seq("docs")) }
  }

  test("offset paging is window-free and bounded without a limit") {
    val (_, d) = fresh()
    d.add("col", items(("a", Seq(1f, 0f), "x", "{}"), ("b", Seq(0f, 1f), "y", "{}"),
      ("c", Seq(1f, 1f), "z", "{}")))
    val page = d.get("col", offset = 1) // no limit: must still be distributed-safe
    assert(page.collect().map(_.getString(0)).toSeq === Seq("b", "c"))
    // resolved()'s merge-on-read window partitions by id (fine); what
    // must NOT appear is a GLOBAL window — one whose spec begins with
    // an ordered column (no partition columns), which would funnel the
    // collection through a single task.
    val plan = page.queryExecution.executedPlan.toString
    val globalWindow = "windowspecdefinition\\([^,)]+ (ASC|DESC)".r
    assert(globalWindow.findFirstIn(plan).isEmpty,
      s"partition-less window operator in:\n$plan")
    assert(d.get("col", offset = 99).collect().isEmpty) // past the end
  }

  test("writes after a simulated mid-compact crash keep the full history") {
    val (c, d) = fresh()
    d.add("col", items(("a", Seq(1f, 0f), "x", "{}"), ("b", Seq(0f, 1f), "y", "{}")))
    val dataDir = java.nio.file.Paths.get(c.dataDir("col"))
    // simulate dying between compact's two renames: log moved away,
    // nothing replaced it
    Files.move(dataDir.resolve("log"), dataDir.resolve("log_old"))
    assert(d.count("col") === 2) // read-only fallback still sees history
    d.add("col", items(("c", Seq(1f, 1f), "z", "{}"))) // must NOT shadow history
    assert(d.get("col").collect().map(_.getString(0)).toSeq === Seq("a", "b", "c"))
    // and the add-must-not-exist invariant still holds for old ids
    assertThrows[CollectionStateError] {
      d.add("col", items(("a", Seq(1f, 0f), "dup", "{}")))
    }
  }

  test("compact succeeds after a crash that left a stale log_old behind") {
    val (c, d) = fresh()
    d.add("col", items(("a", Seq(1f, 0f), "x", "{}")))
    val dataDir = java.nio.file.Paths.get(c.dataDir("col"))
    // simulate dying after the swap but before cleanup
    Files.createDirectories(dataDir.resolve("log_old"))
    Files.write(dataDir.resolve("log_old").resolve("junk"), "x".getBytes)
    d.compact("col") // must not collide with the stale directory
    assert(d.count("col") === 1)
    assert(!Files.exists(dataDir.resolve("log_old")))
  }

  test("update merges field-wise; a document update re-embeds, metadata-only preserves") {
    val (_, d) = fresh()
    d.add("col", items(("a", Seq(1f, 0f), "v1", """{"k":"v"}""")))
    // document-only update: document replaced, embedding RE-DERIVED
    // from the new text (upstream Chroma update semantics), metadata kept
    d.update("col", Seq(("a", "v2")).toDF("id", "document"))
    val row = d.get("col", include = Seq("embeddings", "documents", "metadatas"))
      .collect().head
    assert(row.getString(2) === "v2")
    val expected = spark.sql("SELECT 1")
      .select(graft.functions.HashEmbed(
        org.apache.spark.sql.functions.lit("v2"), CollectionData.AutoEmbedDim))
      .collect().head.getSeq[Float](0)
    assert(row.getSeq[Float](1) === expected)
    assert(row.getString(3) === """{"k":"v"}""")
    // metadata-only update: embedding and document both preserved
    d.update("col", Seq(("a", """{"k":"w"}""")).toDF("id", "metadata_json"))
    val row2 = d.get("col", include = Seq("embeddings", "documents", "metadatas"))
      .collect().head
    assert(row2.getString(2) === "v2")
    assert(row2.getSeq[Float](1) === expected)
    assert(row2.getString(3) === """{"k":"w"}""")
  }

  test("add without embeddings auto-embeds; queryTexts finds the same-text doc at distance 0") {
    val (_, d) = fresh()
    d.add("col", Seq(
      ("a", "alpha beta gamma", "{}"),
      ("b", "delta epsilon zeta", "{}"),
      ("c", "alpha beta delta", "{}"))
      .toDF("id", "document", "metadata_json"))
    val got = d.get("col", include = Seq("embeddings")).collect()
    got.foreach(r => assert(r.getSeq[Float](1).length === CollectionData.AutoEmbedDim))
    // unit norm
    got.foreach { r =>
      val n = math.sqrt(r.getSeq[Float](1).map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1.0) < 1e-6)
    }
    val top = d.queryTexts("col", Seq("alpha beta gamma"), nResults = 3).collect()
    assert(top.head.getString(1) === "a") // identical text → identical vector
    assert(top.head.getAs[Double]("distance") < 1e-12)
    assert(top.map(_.getString(1)).toSeq === Seq("a", "c", "b")) // shared tokens rank c over b
  }

  test("operations on a missing collection raise") {
    val wh = Files.createTempDirectory("graft-items").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    assertThrows[CollectionStateError] { d.count("nope") }
  }

  test("time travel: getAsOf reads every historical snapshot from the append-only log") {
    val (_, d) = fresh()
    d.add("col", items(("a", Seq(1f, 0f), "doc a v1", "{}"),
      ("b", Seq(0f, 1f), "doc b", "{}")))
    val b0 = d.currentBatch("col")
    d.upsert("col", items(("a", Seq(1f, 1f), "doc a v2", "{}")))
    val b1 = d.currentBatch("col")
    d.delete("col", ids = Seq("b"))
    val b2 = d.currentBatch("col")
    assert(b0 < b1 && b1 < b2)
    // snapshot after the add: original doc a, b alive
    val s0 = d.getAsOf("col", b0).collect()
    assert(s0.map(_.getString(0)).toSeq === Seq("a", "b"))
    assert(s0.head.getString(1) === "doc a v1")
    // snapshot after the upsert: doc a replaced, b still alive
    val s1 = d.getAsOf("col", b1).collect()
    assert(s1.map(_.getString(0)).toSeq === Seq("a", "b"))
    assert(s1.head.getString(1) === "doc a v2")
    // snapshot after the delete == current state
    assert(d.getAsOf("col", b2).collect().map(_.getString(0)).toSeq === Seq("a"))
    assert(d.get("col").collect().map(_.getString(0)).toSeq === Seq("a"))
    // a pre-history batch number is an empty collection, not an error
    assert(d.getAsOf("col", -1L).count() === 0)
  }

  test("fork: snapshot isolation both directions, fork-local delete, inherited conflicts") {
    val (_, d) = fresh()
    d.add("col", items(("a", Seq(1f, 0f), "doc a", "{}"), ("b", Seq(0f, 1f), "doc b", "{}")))
    d.fork("col", "branch")
    // divergence: parent edits invisible to fork, fork edits invisible to parent
    d.upsert("col", items(("b", Seq(0f, 1f), "doc b v2", "{}")))
    d.add("branch", items(("c", Seq(1f, 1f), "doc c", "{}")))
    d.delete("branch", ids = Seq("a"))
    assert(d.get("col").collect().map(_.getString(0)).toSeq === Seq("a", "b"))
    assert(d.get("branch").collect().map(_.getString(0)).toSeq === Seq("b", "c"))
    assert(d.get("branch", ids = Seq("b")).collect().head.getString(1) === "doc b")
    // an id inherited from the parent is a real conflict for add
    assertThrows[CollectionStateError] {
      d.add("branch", items(("b", Seq(1f, 0f), "clash", "{}")))
    }
  }

  test("fork of fork chains, and compact severs the edge without changing content") {
    val (c, d) = fresh()
    d.add("col", items(("a", Seq(1f, 0f), "doc a", "{}")))
    d.fork("col", "f1")
    d.add("f1", items(("b", Seq(0f, 1f), "doc b", "{}")))
    d.fork("f1", "f2")
    d.add("f2", items(("x", Seq(1f, 1f), "doc x", "{}")))
    // f1 write after f2's fork point is invisible to f2
    d.add("f1", items(("y", Seq(2f, 1f), "doc y", "{}")))
    assert(d.get("f2").collect().map(_.getString(0)).toSeq === Seq("a", "b", "x"))
    d.compact("f2")
    assert(c.getCollection("f2").metadata
      .forall(m => !m.contains("graft:fork_parent")))
    assert(d.get("f2").collect().map(_.getString(0)).toSeq === Seq("a", "b", "x"))
    // post-compact, parent history changes can no longer leak in
    d.add("f1", items(("z", Seq(3f, 1f), "doc z", "{}")))
    assert(d.get("f2").collect().map(_.getString(0)).toSeq === Seq("a", "b", "x"))
    // fork cost is O(1): the branch data dir holds no parent bytes
    d.fork("col", "cheap")
    val branchDir = java.nio.file.Paths.get(c.dataDir("cheap"))
    assert(!java.nio.file.Files.exists(branchDir.resolve("log")),
      "fork must not copy parent data")
  }

  test("fork time travel: asOf applies to the fork's own writes over the frozen base") {
    val (_, d) = fresh()
    d.add("col", items(("a", Seq(1f, 0f), "doc a", "{}")))
    d.fork("col", "tbr")
    d.add("tbr", items(("b", Seq(0f, 1f), "doc b", "{}")))
    val b0 = d.currentBatch("tbr")
    d.delete("tbr", ids = Seq("a"))
    assert(d.getAsOf("tbr", b0).collect().map(_.getString(0)).toSeq === Seq("a", "b"))
    assert(d.get("tbr").collect().map(_.getString(0)).toSeq === Seq("b"))
  }

  test("vacuuming a fork keeps the tombstones that mask inherited rows") {
    val (_, d) = fresh()
    d.add("col", items(
      ("a", Seq(1f, 0f), "doc a", "{}"),
      ("b", Seq(0f, 1f), "doc b", "{}")))
    d.fork("col", "fv")
    d.delete("fv", ids = Seq("a"))             // tombstone masks parent 'a'
    d.add("fv", items(("x", Seq(1f, 1f), "doc x", "{}")))
    val before = d.get("fv").collect().map(_.getString(0)).toSeq
    assert(before === Seq("b", "x"))
    d.vacuum("fv", horizon = d.currentBatch("fv"))
    // the fold must NOT resurrect 'a': the tombstone survives because
    // the fork's base still masks a lower level
    assert(d.get("fv").collect().map(_.getString(0)).toSeq === Seq("b", "x"))
    assert(d.logRows("fv") === 2L, "folded to tombstone + x")
    // parent untouched
    assert(d.get("col").collect().map(_.getString(0)).toSeq === Seq("a", "b"))
  }

  test("vacuum on a root collection drops settled tombstone chains and supersessions") {
    val (_, d) = fresh()
    d.add("col", items(("a", Seq(1f, 0f), "v1", "{}"), ("b", Seq(0f, 1f), "doc b", "{}")))
    d.upsert("col", items(("a", Seq(1f, 0f), "v2", "{}")))
    d.delete("col", ids = Seq("b"))
    val live = d.get("col").collect().map(r => (r.getString(0), r.getString(2))).toSeq
    d.vacuum("col", horizon = d.currentBatch("col"))
    assert(d.get("col").collect().map(r => (r.getString(0), r.getString(2))).toSeq === live)
    assert(d.logRows("col") === 1L, "only the live latest version remains")
    // mint state survives: the next write continues the sequence
    val bBefore = d.currentBatch("col")
    d.add("col", items(("c", Seq(1f, 1f), "doc c", "{}")))
    assert(d.currentBatch("col") === bBefore + 1)
  }

  test("export/import: snapshot travels byte-faithfully, embeddings not re-derived, cross-warehouse restore") {
    val (c, d) = fresh()
    d.add("col", items(
      ("a", Seq(1f, 2f), "doc a", """{"lang":"en"}"""),
      ("b", Seq(3f, 4f), "doc b", "{}")))
    d.upsert("col", items(("a", Seq(5f, 6f), "doc a v2", """{"lang":"en"}""")))
    val ex = Files.createTempDirectory("graft-export").toString
    d.exportCollection("col", ex)
    // restore into a DIFFERENT warehouse (the backup/migration shape)
    val wh2 = Files.createTempDirectory("graft-import-wh").toString
    val c2 = new ChromaSpark(spark, wh2)
    val d2 = new CollectionData(c2)
    d2.importCollection(ex)
    val src = d.get("col", include = Seq("embeddings", "documents", "metadatas"))
      .collect().map(_.toSeq).toSeq
    val dst = d2.get("col", include = Seq("embeddings", "documents", "metadatas"))
      .collect().map(_.toSeq).toSeq
    assert(dst === src) // embeddings byte-equal: nothing re-embedded
    // exporting a missing collection raises the typed error
    assertThrows[CollectionStateError] { d.exportCollection("nope", ex) }
  }

  test("hnsw:search_ef is honored: shortlist search, ef floor on n_results, typo'd keys fail loudly") {
    val wh = Files.createTempDirectory("graft-hnsw").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    // identical corpora, one exact and one ef-capped — a ported Chroma
    // collection's hnsw params must change behavior measurably
    c.createCollection("exact", Some(Map("hnsw:space" -> "cosine")))
    c.createCollection("capped", Some(Map(
      "hnsw:space" -> "cosine", "hnsw:search_ef" -> "64",
      "hnsw:M" -> "16", "hnsw:construction_ef" -> "100")))
    val corpus = items((0 until 40).map { i =>
      (f"v$i%02d", Seq(math.cos(i * 0.15).toFloat, math.sin(i * 0.15).toFloat, 0.5f),
        s"doc $i", "{}")
    }: _*)
    d.add("exact", corpus)
    d.add("capped", corpus)
    val q = Seq((1L, Seq(1f, 0f, 0.5f))).toDF("query_id", "qvec")
    def top(coll: String, n: Int) =
      d.query(coll, q, nResults = n, include = Nil)
        .collect().map(r => (r.getString(1), r.getLong(3))).toSeq
    // ef ≥ corpus: the two-stage shortlist returns exactly the exact scan
    assert(top("capped", 10) === top("exact", 10))
    // the plan really is the compressed two-stage shape: int8 codes
    // scored by the codegen'd kernel, with the repartition(id)
    // exchange as the CollapseProject barrier below the scoring join
    val plan = d.query("capped", q, nResults = 10, include = Nil)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_int8_dot"), "stage-1 not scoring int8 codes")
    assert(plan.contains("hashpartitioning(id"), "encode barrier exchange missing")
    // hnswlib contract: n_results may not exceed search_ef
    assertThrows[CollectionStateError] { d.query("capped", q, nResults = 65) }
    // exact collection has no ef: large n_results is fine
    assert(d.query("exact", q, nResults = 65, include = Nil).count() === 40)
    // unknown hnsw:* key fails loudly, never silently ignores
    c.createCollection("typo", Some(Map("hnsw:spaace" -> "cosine")))
    d.add("typo", corpus)
    assertThrows[MetadataParseError] { d.query("typo", q) }
    // known key with a non-numeric value fails loudly too
    c.createCollection("badm", Some(Map("hnsw:M" -> "fast")))
    d.add("badm", corpus)
    assertThrows[MetadataParseError] { d.query("badm", q) }
  }

  test("tight search_ef prunes the exact re-rank to ef candidates per query") {
    val wh = Files.createTempDirectory("graft-hnsw-ef").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    c.createCollection("ef3", Some(Map("hnsw:space" -> "l2", "hnsw:search_ef" -> "3")))
    d.add("ef3", items((0 until 20).map { i =>
      (f"v$i%02d", Seq(i.toFloat, 0f), s"doc $i", "{}")
    }: _*))
    val q = Seq((1L, Seq(0f, 0f))).toDF("query_id", "qvec")
    // int8 pre-score is exact on these integer-valued vectors, so the
    // ef=3 shortlist IS the true top 3 — and n_results = ef returns
    // exactly those, proving the candidate list is really capped
    val got = d.query("ef3", q, nResults = 3, include = Nil)
      .collect().map(_.getString(1)).toSeq
    assert(got === Seq("v00", "v01", "v02"))
  }

  test("per-collection embedder registry: metadata selects it, update re-embeds with it, unknown fails") {
    import graft.functions.Embedders
    val wh = Files.createTempDirectory("graft-embedders").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    def docOnly(rows: (String, String)*) = rows.toDF("id", "document")
    // default collection: dim-16 hash embedder, unchanged semantics
    c.createCollection("def")
    d.add("def", docOnly("a" -> "hello world"))
    val defDim = d.get("def", include = Seq("embeddings"))
      .collect().head.getSeq[Float](1).length
    assert(defDim === 16)
    // registered alternative via graft:embedder metadata
    c.createCollection("wide", Some(Map(Embedders.MetadataKey -> "hash32")))
    d.add("wide", docOnly("a" -> "hello world"))
    def wideEmb() = d.get("wide", include = Seq("embeddings"))
      .collect().head.getSeq[Float](1)
    assert(wideEmb().length === 32)
    // queryTexts embeds with the COLLECTION's embedder: identical text
    // sits at distance 0 under the default l2 metric
    val hit = d.queryTexts("wide", Seq("hello world"), nResults = 1, include = Nil)
      .collect().head
    assert(hit.getString(1) === "a" && hit.getDouble(2) === 0.0)
    // a document update re-embeds with the collection's embedder
    val before = wideEmb()
    d.update("wide", docOnly("a" -> "совершенно other text"))
    val after = wideEmb()
    assert(after.length === 32 && after != before)
    // user-registered embedder is honored end to end
    Embedders.register(Embedders.Embedder("const2", 2, t =>
      org.apache.spark.sql.functions.array(
        org.apache.spark.sql.functions.length(t).cast("float"),
        org.apache.spark.sql.functions.lit(1f))))
    c.createCollection("custom", Some(Map(Embedders.MetadataKey -> "const2")))
    d.add("custom", docOnly("x" -> "abcd"))
    assert(d.get("custom", include = Seq("embeddings"))
      .collect().head.getSeq[Float](1) === Seq(4f, 1f))
    // unregistered name fails loudly at first use
    c.createCollection("ghost", Some(Map(Embedders.MetadataKey -> "no-such-model")))
    assertThrows[MetadataParseError] { d.add("ghost", docOnly("x" -> "y")) }
  }

  test("ann tier parameterization is corpus-derived: cells grow as sqrt(N), probed fraction shrinks") {
    val wh = Files.createTempDirectory("graft-annsize").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    // The sizing law: k = clamp(ceil(sqrt(N)), 4, 65536), nprobe =
    // min(k, 24). Probed bytes per batch = nprobe · N/k = 24·sqrt(N)
    // past the constant — sublinear serve, not a constant-factor win.
    assert(d.annClustersFor(1L) === 4) // floor clamp
    assert(d.annClustersFor(490L) === 23) // the certified driver corpus
    assert(d.annClustersFor(1000L) === 32)
    assert(d.annClustersFor(1000000L) === 1000)
    assert(d.annClustersFor(10000000000L) === 65536) // cap: centroids stay broadcastable
    // 100×-scale law: cells grow ~10× per 100× rows...
    assert(d.annClustersFor(100L * 1000000L) === 10000)
    // ...while nprobe holds at the certified 24 below the scale gate
    // and grows as √cells above it (the r13 boundary-query law), so
    // the probed FRACTION still shrinks monotonically — N^(−1/2)
    // below the gate, N^(−1/4) above, never constant-fraction
    val fractions = Seq(1000L, 100000L, 10000000L, 1000000000L).map { n =>
      val k = d.annClustersFor(n)
      d.annNprobeFor(k).toDouble / k
    }
    assert(fractions === fractions.sorted.reverse, s"fraction not shrinking: $fractions")
    // absolute scale pin, derived INDEPENDENTLY of the function under
    // test (r13 review: bounding by nprobeLawFor itself was a
    // tautology): frac(cells) = ⌈32·√(cells/256)⌉/cells ≤ 2/√cells +
    // 1/cells, so at 10⁹ rows (cells = ⌈√10⁹⌉ = 31623) the probed
    // fraction must sit under ~1.13% — a law that stopped shrinking
    // (e.g. went linear in cells) blows straight through this
    assert(fractions.last <= 2.0 / math.sqrt(31623.0) + 1.0 / 31623.0 + 1e-9)
    // tiny collections probe every cell — the exact serve
    assert(d.annNprobeFor(10) === 10)

    // And the BUILT artifact honors the law: a larger collection
    // trains measurably more cells (ceil(sqrt(N)), minus any cell
    // that loses every member) and probes a smaller fraction of them.
    def cellsAndProbedFraction(name: String, n: Int): (Long, Double) = {
      c.createCollection(name, Some(Map("hnsw:space" -> "l2")))
      d.add(name, items((0 until n).map { i =>
        (f"s$i%04d", Seq(i.toFloat, 0f), s"d$i", "{}")
      }: _*))
      val q = Seq((1L, Seq(0f, 0f))).toDF("query_id", "qvec")
      val res = d.query(name, q, nResults = 3, include = Nil)
      res.collect()
      val scan = res.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("collivf")) => f
      }.headOption.getOrElse(fail(s"$name does not serve from the persisted index"))
      val all = spark.read.parquet(scan.relation.location.rootPaths.head.toString)
        .select(org.apache.spark.sql.functions.col("label")).distinct().count()
      (all, scan.selectedPartitions.partitionCount.toDouble / all)
    }
    val (cellsSmall, fracSmall) = cellsAndProbedFraction("sz300", 300)
    val (cellsBig, fracBig) = cellsAndProbedFraction("sz1000", 1000)
    assert(cellsBig > cellsSmall,
      s"cell count did not grow with corpus: $cellsSmall -> $cellsBig")
    // 300 rows: k = 18 ≤ 24 → every cell probed (exact serve);
    // 1000 rows: k = 32 > 24 → strictly fewer than all cells probed
    assert(fracSmall === 1.0)
    assert(fracBig < 1.0, s"big collection probed fraction $fracBig not < 1")
  }

  test("layered graph tier: explored rows grow as log N at CONSTANT ef; hierarchy laws; artifact records the structure") {
    val wh = Files.createTempDirectory("graft-graphsize").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    // The r10 law change: the flat r9 graph needed ef = 2√N to hold
    // recall (measured), so explored rows grew √N·log N·M. The
    // layered hierarchy replaces the √N beam term with a log N LAYER
    // count at constant per-layer budget.
    // 1) layer-count law: L = clamp(⌊log_M N⌋, 1, 10)
    assert(d.graphMaxLevelFor(8, 490L) === 2)  // the certified driver corpus
    assert(d.graphMaxLevelFor(8, 1990L) === 3) // the 4x corpus
    assert(d.graphMaxLevelFor(8, 10L) === 1)   // floor clamp
    assert(d.graphMaxLevelFor(8, 10000000L) === 7)
    assert(d.graphMaxLevelFor(8, Long.MaxValue) === 16) // depth cap
    assert(d.graphMaxLevelFor(16, 10000000L) === 5) // denser ⇒ flatter
    // when the depth cap binds (pathological: tiny hnsw:M on a huge
    // corpus), the top layer outgrows "≤ M ids" — the entry set then
    // caps at a hash-rank prefix, keeping the exhaustive top-layer
    // scoring driver-safe at ANY (M, N)
    assert(math.min(d.graphLayerSize(1000000000L, 2,
      d.graphMaxLevelFor(2, 1000000000L)), d.GraphMaxEntries.toLong) ===
      d.GraphMaxEntries.toLong)
    // 2) exact geometric layer sizes — the top layer is model-scale
    //    (≤ M ids) at ANY corpus size below the level cap
    assert(d.graphLayerSize(490L, 8, 1) === 62L)
    assert(d.graphLayerSize(490L, 8, 2) === 8L)
    assert(d.graphLayerSize(1990L, 8, 3) === 4L)
    for (n <- Seq(1000L, 100000L, 10000000L)) {
      val top = d.graphLayerSize(n, 8, d.graphMaxLevelFor(8, n))
      assert(top >= 1L && top <= 8L, s"top layer at n=$n not model-scale: $top")
    }
    // 3) ef never carries a corpus term (the hierarchy's point) —
    //    only the law tier's constant (serveBudgetFor's 4th value)
    assert(d.graphBeamEf(None, 10, efLaw = 48) === 48)
    assert(d.graphBeamEf(None, 100, efLaw = 48) === 100)
    assert(d.graphBeamEf(Some(200), 10, efLaw = 48) === 200) // search_ef wins
    assert(d.graphBeamEf(Some(12), 10, efLaw = 48) === 12)
    assert(d.graphBeamEf(None, 10, efLaw = 96) === 96)
    // 4) explored-rows budget grows ∝ log N — pinned against the
    //    layer count itself, REPLACING the flat graph's √N term.
    //    Below the 65,536-row scale gate (r13 law) each 8× adds one
    //    constant walk at the fixture budget. Crossing the gate pays
    //    a one-time step bounded by the gate itself: the serve now
    //    seeds from the largest MODEL-SCALE layer scored exhaustively
    //    (≤ gate rows — the whole-basin-miss fix), so the step is a
    //    bounded constant, never a growth term. Above the gate each
    //    8× adds one walk at the stepped budget — the exhaustive
    //    layer's size is periodic in log₈ N, identical at these
    //    8×-aligned points, so deltas isolate the walk cost.
    val ns = Seq(500L, 4000L, 32000L, 256000L, 2048000L, 16384000L)
    val budgets = ns.map(d.graphExploredBudget(8, _, 10))
    val perLayerSub = 2L * 64L * 8L   // uh·ue·m below the gate
    val perLayerScale = 3L * 128L * 8L // uh·ue·m above it
    val gate = graft.operators.GraphAnn.ScaleGateRows
    val volGate = graft.operators.GraphAnn.BuildVolumeGateRows
    budgets.sliding(2).zip(ns.sliding(2)).foreach { case (Seq(a, b), Seq(n1, n2)) =>
      // crossing the build-volume gate carries the one-time base-beam
      // widening (64→96: 32·bh·m extra rows) on top of its walk
      val efStep = if (n1 < volGate && n2 >= volGate) 32L * 4 * 8 else 0L
      val bound =
        if (n1 < gate && n2 >= gate) gate // one-time step ≤ the gate cap
        else if (n2 >= gate) perLayerScale + efStep + 8L
        else perLayerSub + 8L
      assert(b - a <= bound,
        s"budget step exceeds its tier's law: $budgets for $ns")
    }
    // the explored FRACTION shrinks within each tier (the gate step
    // may locally bump it once) and is back under 1% by 16M rows
    val explored = ns.zip(budgets).map { case (n, b) => b.toDouble / n }
    val subF = ns.zip(explored).filter(_._1 < gate).map(_._2)
    val scaleF = ns.zip(explored).filter(_._1 >= gate).map(_._2)
    assert(subF === subF.sorted.reverse,
      s"sub-gate explored fraction not shrinking: $explored for $ns")
    assert(scaleF === scaleF.sorted.reverse,
      s"scale-tier explored fraction not shrinking: $explored for $ns")
    assert(explored.last < 0.01,
      s"explored fraction at 1.6·10⁷ rows not <1%: ${explored.last}")
    // ...and at a 10⁹-row corpus the whole budget is ~45k rows —
    // 0.0045% of the corpus: one gate-bounded exhaustive layer +
    // log₈(N/gate) stepped walks, where the r9 flat law would have
    // needed ef=2√N = 63k wide beams PER HOP (capped at 4096, i.e.
    // recall loss)
    assert(d.graphExploredBudget(8, 1000000000L, 10) < 50000L)

    // 5) the BUILT artifact records the structure: maxlevel + exact
    //    top-layer entry count, and deeper corpora get more layers
    def paramsOf(name: String, n: Int): (Int, Int, Long, Int) = {
      c.createCollection(name, Some(Map("hnsw:space" -> "l2", "hnsw:M" -> "8")))
      d.add(name, items((0 until n).map { i =>
        (f"g$i%05d", Seq(i.toFloat, 1f), s"d$i", "{}")
      }: _*))
      val q = Seq((1L, Seq(0f, 1f))).toDF("query_id", "qvec")
      val res = d.query(name, q, nResults = 3, include = Nil)
      assert(res.collect().length === 3)
      val idx = res.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten.find(_.contains("collgraph"))
        .getOrElse(fail(s"$name does not serve from the graph tier"))
        .replaceAll("/(base|edges|edges_l\\d+|levels|entries|params)$", "")
      val p = spark.read.parquet(s"$idx/params").head()
      (p.getInt(p.fieldIndex("hops")), p.getInt(p.fieldIndex("entries")),
        p.getLong(p.fieldIndex("n")), p.getInt(p.fieldIndex("maxlevel")))
    }
    val (hSmall, eSmall, nSmall, lSmall) = paramsOf("gs300", 300)
    val (hBig, eBig, nBig, lBig) = paramsOf("gs3000", 3000)
    assert(nSmall === 300L && nBig === 3000L)
    assert(hSmall === 3 && hBig === 3, "base walk length must be constant")
    assert(lSmall === d.graphMaxLevelFor(8, 300L)) // = 2
    assert(lBig === d.graphMaxLevelFor(8, 3000L))  // = 3
    assert(lBig > lSmall, s"layer count did not grow with corpus: $lSmall -> $lBig")
    assert(eSmall === d.graphLayerSize(300L, 8, lSmall).toInt)
    assert(eBig === d.graphLayerSize(3000L, 8, lBig).toInt)
    // 6) the persisted hierarchy is structurally sound: nested
    //    memberships with the exact sizes, per-layer edge relations
    //    present, top layer = the entries relation
    val q = Seq((1L, Seq(0f, 1f))).toDF("query_id", "qvec")
    val res = d.query("gs3000", q, nResults = 3, include = Nil)
    res.collect()
    val idx = res.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten.find(_.contains("collgraph")).get
      .replaceAll("/(base|edges|edges_l\\d+|levels|entries|params)$", "")
    val levels = spark.read.parquet(s"$idx/levels")
    for (l <- 1 to lBig) {
      assert(levels.filter(org.apache.spark.sql.functions.col("lvl") >= l).count()
        === d.graphLayerSize(3000L, 8, l),
        s"layer $l size mismatch")
      if (l < lBig)
        assert(spark.read.parquet(s"$idx/edges_l$l").count() > 0,
          s"missing/empty edges for layer $l")
    }
    val entryIds = spark.read.parquet(s"$idx/entries")
      .collect().map(_.getString(0)).toSet
    val topIds = levels.filter(org.apache.spark.sql.functions.col("lvl") >= lBig)
      .collect().map(_.getString(0)).toSet
    assert(entryIds === topIds, "entries relation is not the top layer")
  }

  test("oracle structural assumptions pinned: testdata growth fails HERE, not at the hash") {
    // The graph oracles structurally UNROLL the hierarchy (one upper
    // layer for collection_hnsw_graph, two for collection_hnsw_deep)
    // and the hybrid-filtered oracle brute-forces the filtered corpus
    // while the engine's adaptive probe stops at 16·perRankerK
    // cumulative matches. Those are scope assumptions about the
    // PINNED testdata — if the corpus ever grows, certification must
    // fail at this spec with a readable message, not as an opaque
    // hash mismatch in the driver gate.
    val wh = Files.createTempDirectory("graft-oraclepin").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
         if new java.io.File(dir).isDirectory) {
      val emb = graft.Tables.embeddings(spark, dir)
      val n = emb.filter(org.apache.spark.sql.functions.col("vec_id") >= 10).count()
      assert(d.graphMaxLevelFor(8, n) === 2,
        s"collection_hnsw_graph oracle unrolls exactly ONE upper layer " +
          s"(maxlevel 2) but $dir corpus n=$n derives " +
          s"${d.graphMaxLevelFor(8, n)} — regenerate the oracle")
      assert(d.graphMaxLevelFor(8, 3 * n) === 3,
        s"collection_hnsw_deep oracle unrolls exactly TWO upper layers " +
          s"(maxlevel 3) but the tripled $dir corpus n=${3 * n} derives " +
          s"${d.graphMaxLevelFor(8, 3 * n)} — regenerate the oracle")
      // collection_hnsw_filtered: its oracle is the filtered brute
      // force — valid ONLY while the fixture's IVF side-probe is
      // exhaustive (cells ≤ nprobe); past nprobe² = 576 embedded
      // rows, pruning engages and the inline oracle goes out of scope
      assert(d.annNprobeFor(d.annClustersFor(n)) === d.annClustersFor(n),
        s"collection_hnsw_filtered's brute-force oracle is out of scope " +
          s"at $dir: $n rows ⇒ ${d.annClustersFor(n)} cells > nprobe — rescope")
      // the certified layer thresholds at sf0.01 (the driver gate's SF)
      if (dir.endsWith("sf0.01")) {
        assert(n === 490L, s"graph fixtures pin n=490, got $n")
        assert(d.graphLayerSize(n, 8, 1) === 62L)
        assert(d.graphLayerSize(n, 8, 2) === 8L)
        assert(d.graphLayerSize(3 * n, 8, 1) === 184L)
        assert(d.graphLayerSize(3 * n, 8, 2) === 23L)
        assert(d.graphLayerSize(3 * n, 8, 3) === 3L)
      }
      // collection_hybrid_filtered / collection_hybrid_index: the
      // oracles brute-force the vector ranker inline — valid ONLY
      // because at this corpus size the IVF tier's probe is
      // EXHAUSTIVE (cells ≤ nprobe ⇒ every cell probed ⇒ the indexed
      // serve is exact, filtered or not: the adaptive probe floors
      // at the unfiltered width). If the documents table ever grows
      // past nprobe² = 576 embedded rows, pruning engages and the
      // inline-replay oracles stop being byte-valid.
      val docs = graft.Tables.documents(spark, dir)
      val hyDocs = docs.filter(
        org.apache.spark.sql.functions.col("doc_id") >= 3).count()
      val cells = d.annClustersFor(hyDocs)
      assert(d.annNprobeFor(cells) === cells,
        s"hybrid fixtures at $dir hold $hyDocs docs ⇒ $cells cells > " +
          s"nprobe ${d.annNprobeFor(cells)}: the IVF probe would prune, " +
          "so the inline-replay hybrid oracles are out of scope — rescope")
      // ...and the filter term the driver query interpolates into
      // where_document JSON must stay JSON-safe (same derivation)
      val term = docs.filter(org.apache.spark.sql.functions.col("doc_id") === 0)
        .head().getAs[String]("text").trim.split("\\s+").head
      assert(term.matches("[A-Za-z0-9_-]+"),
        s"hybrid-filtered oracle term '$term' not JSON-safe at $dir")
    }
  }

  test("graph tier recall holds at a 4x corpus at CONSTANT ef — the hierarchy carries it") {
    // The r9 weak was exactly this: on the FLAT graph, holding recall
    // at the 4× corpus needed ef = 2√N ≈ 90 (measured — hop, entry, M
    // and stride sweeps recovered nothing), which turns the 4096-ef
    // cap into a recall ceiling past ~4M vectors. The r10 hierarchy
    // replaces the √N term: sf0.1 embeddings (1990 rows) build
    // maxlevel = ⌊log₈ 1990⌋ = 3 layers, the descent seeds the base
    // walk query-locally, and the SAME constant budget that certifies
    // the 490-row driver corpus (hops=3, ef=48, upper 2×64) must hold
    // the 0.9 floor here — with the between-layer lineage truncation
    // active (two localCheckpointed upper walks in the serve).
    val wh = Files.createTempDirectory("graft-graphbig").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    c.createCollection("grbig", Some(Map("hnsw:space" -> "cosine",
      "hnsw:M" -> "8", "hnsw:construction_ef" -> "256")))
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.1")
    val rows = emb.filter(org.apache.spark.sql.functions.col("vec_id") >= 10)
      .select(org.apache.spark.sql.functions.format_string("v%07d",
        org.apache.spark.sql.functions.col("vec_id")),
        org.apache.spark.sql.functions.col("embedding")).collect()
    assert(rows.length >= 1900)
    d.add("grbig", items(rows.map(r =>
      (r.getString(0), r.getSeq[Float](1), s"doc ${r.getString(0)}", "{}")): _*))
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding").as("qvec"))
    val res = d.query("grbig", queries, nResults = 10, include = Nil)
    res.collect()
    // the hierarchy engaged: the artifact records 3 layers, the
    // top layer is the exact ⌈1990/8³⌉ = 4 ids, and the base walk
    // stays at the constant 3 hops
    val idx = res.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten.find(_.contains("collgraph"))
      .getOrElse(fail("4x corpus does not serve from the graph tier"))
      .replaceAll("/(base|edges|edges_l\\d+|levels|entries|params)$", "")
    val p = spark.read.parquet(s"$idx/params").head()
    assert(p.getInt(p.fieldIndex("maxlevel")) === 3)
    assert(p.getInt(p.fieldIndex("hops")) === 3)
    assert(p.getInt(p.fieldIndex("entries")) === 4)
    // recall vs brute force over the same collection state
    val brute = queries.crossJoin(d.get("grbig", include = Seq("embeddings"))
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("embedding")))
      .select(org.apache.spark.sql.functions.col("query_id"),
        org.apache.spark.sql.functions.col("id"),
        graft.operators.VectorOps.cosine(
          org.apache.spark.sql.functions.col("qvec"),
          org.apache.spark.sql.functions.col("embedding")).as("s"))
      .withColumn("r", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(org.apache.spark.sql.functions.col("query_id"))
          .orderBy(org.apache.spark.sql.functions.col("s").desc,
            org.apache.spark.sql.functions.col("id").asc)))
      .filter(org.apache.spark.sql.functions.col("r") <= 10)
      .select(org.apache.spark.sql.functions.col("query_id"),
        org.apache.spark.sql.functions.col("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val served = res.collect().map(r =>
      (r.getLong(r.fieldIndex("query_id")), r.getString(r.fieldIndex("id"))))
    val hits = served.count(brute.contains)
    assert(hits >= 90, s"4x-corpus graph recall@10 below 0.9: $hits/100")
  }

  test("dedup-aware graph build: cliques collapse to reps, constant budget holds recall, groups honor the touched mask") {
    import org.apache.spark.sql.functions.{col => cc, format_string, lit,
      transform => atransform, when => awhen}
    // The r10 documented limit: a k×-duplicated corpus consumes beam
    // slots ∝ k (recall@10 over 3-cliques = recall@30 over distinct
    // points), measured 0.70 at the sf0.1 clique fixture. The r11
    // dedup-aware build collapses verified near-dup groups to their
    // min-id representative, walks over reps, and expands groups
    // back after the walk — so the SAME constant budget must hold a
    // near-perfect floor on exactly that corpus.
    val wh = Files.createTempDirectory("graft-dedupbuild").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    c.createCollection("grdd", Some(Map("hnsw:space" -> "cosine",
      "hnsw:M" -> "8", "hnsw:construction_ef" -> "256")))
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(cc("vec_id") >= 10)
      .select(cc("vec_id"), cc("embedding"))
    def shifted(off: Long, f: Float) = base.select(
      (cc("vec_id") + lit(off)).as("vec_id"),
      atransform(cc("embedding"),
        (x, i) => awhen(i === 0, x * lit(f)).otherwise(x)).as("embedding"))
    val corpus = base.unionByName(shifted(1000000L, 1.01f))
      .unionByName(shifted(2000000L, 1.02f))
    val nFull = corpus.count()
    d.add("grdd", corpus.select(
      format_string("v%07d", cc("vec_id")).as("id"), cc("embedding")))
    val queries = emb.filter(cc("vec_id") < 5)
      .select(cc("vec_id").as("query_id"), cc("embedding").as("qvec"))
    val res = d.query("grdd", queries, nResults = 10, include = Nil)
    val served = res.collect().map(r =>
      (r.getLong(r.fieldIndex("query_id")), r.getString(r.fieldIndex("id"))))

    // 1) artifact shape: groups non-empty and recorded in params;
    //    most cliques collapsed (members ≈ 2/3 of the corpus); the
    //    graph's nodes are reps ONLY (no absorbed member in edges)
    val idx = res.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten.find(_.contains("collgraph"))
      .getOrElse(fail("clique corpus does not serve from the graph tier"))
      .replaceAll("/(base|edges|edges_l\\d+|levels|entries|params|groups)$", "")
    val groups = spark.read.parquet(s"$idx/groups")
    val nMembers = groups.count()
    val p = spark.read.parquet(s"$idx/params").head()
    assert(p.getLong(p.fieldIndex("ngroups")) === nMembers)
    assert(p.getLong(p.fieldIndex("n")) === nFull)
    assert(nMembers >= nFull / 2,
      s"clique collapse too weak: $nMembers members of $nFull rows")
    val memberIds = groups.select(cc("member_id"))
      .collect().map(_.getString(0)).toSet
    val edgeNodes = spark.read.parquet(s"$idx/edges")
      .select(cc("src")).distinct().collect().map(_.getString(0)).toSet
    assert(edgeNodes.intersect(memberIds).isEmpty,
      "graph edges reference absorbed group members")
    // every group is VERIFIED near-identical: members map to the
    // clique sibling with the same base id (rep = min id = base row)
    val badPair = groups.collect().find { r =>
      val m = r.getString(0).drop(1).toLong; val g = r.getString(1).drop(1).toLong
      m % 1000000L != g % 1000000L
    }
    assert(badPair.isEmpty, s"cross-clique group: $badPair")

    // 2) recall vs brute force over the clique corpus at the
    //    CONSTANT budget — the pre-r11 law decayed here by design
    val brute = queries.crossJoin(
        d.get("grdd", include = Seq("embeddings"))
          .select(cc("id"), cc("embedding")))
      .select(cc("query_id"), cc("id"),
        graft.operators.VectorOps.cosine(cc("qvec"), cc("embedding")).as("s"))
      .withColumn("r", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(cc("query_id"))
          .orderBy(cc("s").desc, cc("id").asc)))
      .filter(cc("r") <= 10).select(cc("query_id"), cc("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val hits = served.count(brute.contains)
    assert(hits >= 48, s"clique-corpus recall@10 below 0.96: $hits/50")

    // 3) touched-rep ORPHAN INJECTION: upsert a REP far away — its
    //    unmoved members leave the masked walk's reach, so the serve
    //    must inject them directly; they are clique siblings of the
    //    old top hits and must still surface for the same query
    val q0 = queries.filter(cc("query_id") === 0L)
    val top0 = served.filter(_._1 == 0L).map(_._2)
    val repWithMembers = groups.select(cc("rep_id")).distinct()
      .collect().map(_.getString(0)).toSet
    val movedRep = top0.find(repWithMembers.contains)
      .getOrElse(fail("query 0's top-10 holds no grouped rep — fixture drift"))
    val expectedMembers = groups
      .filter(cc("rep_id") === movedRep)
      .collect().map(_.getString(0)).toSet
    assert(expectedMembers.nonEmpty)
    d.upsert("grdd", Seq((movedRep, Seq.fill(64)(9f)))
      .toDF("id", "embedding"))
    val afterRep = d.query("grdd", q0, nResults = 10, include = Nil)
      .collect().map(r => r.getString(r.fieldIndex("id"))).toSet
    assert(expectedMembers.subsetOf(afterRep),
      s"members of the moved rep vanished: ${expectedMembers -- afterRep}")
    assert(!afterRep.contains(movedRep),
      "moved rep still served at its stale position")

    // 4) touched-MEMBER mask: upsert a member far away — expansion
    //    must not resurrect its build-time embedding
    val movedMember = expectedMembers.head
    d.upsert("grdd", Seq((movedMember, Seq.fill(64)(-9f)))
      .toDF("id", "embedding"))
    val afterMem = d.query("grdd", q0, nResults = 10, include = Nil)
      .collect().map(r => r.getString(r.fieldIndex("id"))).toSet
    assert(!afterMem.contains(movedMember),
      "moved member resurrected through group expansion")
  }

  test("banded grouping candidacy: exact law replay; sign-flipped near-copies group where full-sig equality could not") {
    import org.apache.spark.sql.functions.{col => cc, format_string, lit,
      transform => atransform, when => awhen}
    // r12 law (closing the r11 separated-copies weak): candidacy by
    // 8 LEAVE-ONE-OUT bands of 42 bits instead of full 48-bit
    // signature equality — a near-identical copy flipping sign bits
    // confined to one table still becomes a candidate. This spec
    // (a) replays the full three-stage law driver-side and asserts
    // the persisted groups relation matches it EXACTLY, and
    // (b) proves the banded stage is doing new work: at least one
    // grouped member's full 48-bit signature DIFFERS from its rep's.
    val wh = Files.createTempDirectory("graft-bandedlaw").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    c.createCollection("grbl", Some(Map("hnsw:space" -> "cosine",
      "hnsw:M" -> "8", "hnsw:construction_ef" -> "256")))
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(cc("vec_id") >= 10)
      .select(cc("vec_id"), cc("embedding"))
    // factor-1.5 copies on dim 0: copies with small |x0| are within
    // the 2% gate but flip a few direction sign bits — the pairs the
    // r11 full-sig law measurably missed (85% vs 98.6% coverage at
    // the sf0.1 fixture)
    val corpus = base.unionByName(base.select(
      (cc("vec_id") + lit(1000000L)).as("vec_id"),
      atransform(cc("embedding"),
        (x, i) => awhen(i === 0, x * lit(1.5f)).otherwise(x)).as("embedding")))
    d.add("grbl", corpus.select(
      format_string("v%07d", cc("vec_id")).as("id"), cc("embedding")))
    // force the build + locate the artifact
    val res = d.query("grbl",
      emb.filter(cc("vec_id") < 2)
        .select(cc("vec_id").as("query_id"), cc("embedding").as("qvec")),
      nResults = 5, include = Nil)
    res.collect()
    val idx = res.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten.find(_.contains("collgraph"))
      .getOrElse(fail("fixture does not serve from the graph tier"))
      .replaceAll("/(base|edges|edges_l\\d+|levels|entries|params|groups)$", "")
    val got = spark.read.parquet(s"$idx/groups")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet

    // ---- driver-side exact replay of the three-stage law ----
    val dim = 64
    val planes = (0 until 8).map(t =>
      graft.operators.VectorOps.hashHyperplanes(6, dim, t, 42L))
    val rows = corpus
      .select(format_string("v%07d", cc("vec_id")).as("id"), cc("embedding"),
        graft.functions.LshSignatures(cc("embedding"), planes).as("sig"))
      .collect()
      .map(r => (r.getString(0), r.getSeq[Float](1).toArray, r.getSeq[Long](2).toArray))
    val byId = rows.map(r => r._1 -> r).toMap
    // stage 1: leave-one-out band bucket minima → candidate pairs
    val buckets = new scala.collection.mutable.HashMap[(Int, String),
      scala.collection.mutable.ArrayBuffer[String]]()
    rows.foreach { case (id, _, sig) =>
      (0 until 8).foreach { t =>
        val key = (t, (0 until 8).filter(_ != t).map(sig).mkString(","))
        buckets.getOrElseUpdate(key,
          new scala.collection.mutable.ArrayBuffer[String]()) += id
      }
    }
    val candPairs = buckets.values.flatMap { b =>
      val bm = b.min
      b.filter(_ > bm).map(m => (m, bm))
    }.toSet
    // stage 2: verify gate (left-to-right double accumulation, the
    // expression's documented order)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
    }
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) {
        val dv = a(i).toDouble - b(i).toDouble; s += dv * dv; i += 1
      }
      math.sqrt(s)
    }
    val verifiedPairs = candPairs.filter { case (m, r) =>
      val mv = byId(m)._2; val rv = byId(r)._2
      l2(mv, rv) <= 0.02 * math.sqrt(math.max(dot(mv, mv), dot(rv, rv)))
    }
    // member's rep = min verified candidate
    val rep = verifiedPairs.groupBy(_._1).map { case (m, ps) =>
      m -> ps.map(_._2).min }
    // stage 3: depth-1 roots — a rep that is itself a verified member
    // is no root; its would-be members stay ordinary nodes
    val expected = rep.filter { case (_, r) => !rep.contains(r) }.toSet
    assert(expected.nonEmpty, "fixture drift: no groups formed")
    assert(got === expected,
      s"groups != law replay (got ${got.size}, expected ${expected.size}; " +
        s"diff ${(got diff expected).take(3)} / ${(expected diff got).take(3)})")
    // the banded stage does NEW work: some grouped member differs
    // from its rep in the full 48-bit signature (r11 candidacy = 0
    // such pairs by construction)
    val flipped = got.count { case (m, r) =>
      !java.util.Arrays.equals(byId(m)._3, byId(r)._3) }
    assert(flipped > 0,
      "no sign-flipped pair grouped — banded candidacy adds nothing here")
    // and every rep is a root (nothing chains)
    assert(got.map(_._2).intersect(got.map(_._1)).isEmpty)
  }

  test("hnsw:M metadata routes query() through the persisted GRAPH tier, exact on deltas") {
    val wh = Files.createTempDirectory("graft-graphidx").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    c.createCollection("gr", Some(Map("hnsw:space" -> "cosine",
      "hnsw:M" -> "6", "hnsw:construction_ef" -> "128")))
    assert(d.graphKnobs("gr") === Some((6, 128)))
    // the standard ANN corpus (real geometry, 490 rows ≥ the routing
    // threshold) under collection string ids
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = emb.filter(org.apache.spark.sql.functions.col("vec_id") >= 10)
      .select(org.apache.spark.sql.functions.format_string("v%07d",
        org.apache.spark.sql.functions.col("vec_id")),
        org.apache.spark.sql.functions.col("embedding")).collect()
    d.add("gr", items(rows.map(r =>
      (r.getString(0), r.getSeq[Float](1), s"doc ${r.getString(0)}", "{}")): _*))
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding").as("qvec"))
    // force the partition-bucket layout at fixture scale (the
    // size-derived law skips it below 65k rows) so 1b can assert the
    // pruning contract; keyed + pointer-checked like maxLevel
    // whole override window under one finally (r13, closing an r12
    // advisory): a throw anywhere inside — query, collect, the plan
    // asserts — must not leak the 8-bucket layout conf into the rest
    // of the shared-session suite
    val (res, scans, executed) = try {
      spark.conf.set("spark.graft.graph.pbBuckets", "8")
      val res0 = d.query("gr", queries, nResults = 10, include = Nil)
      res0.collect()
      val scans0 = res0.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      (res0, scans0, res0.queryExecution.executedPlan.toString)
    } finally spark.conf.unset("spark.graft.graph.pbBuckets")
    // 1) the plan reads the persisted collgraph artifact (not a scan)
    assert(scans.exists(_.relation.location.rootPaths.exists(
      _.toString.contains("collgraph"))),
      "query does not serve from the persisted graph tier")
    // 1b) the pruned-layout contract actually arms (r12): the hop
    // joins carry the pb partition key from the broadcast frontier,
    // so the executed plan must hold dynamic-pruning subqueries and
    // non-empty PartitionFilters on the bucketed artifact scans
    assert(executed.toLowerCase.contains("dynamicpruning"),
      "no dynamic partition pruning in the graph serve plan")
    assert("""PartitionFilters: \[[^\]]""".r.findFirstIn(executed).isDefined,
      "no non-empty PartitionFilters on the bucketed scans")
    // 2) the built BASE graph honors hnsw:M under the layered
    // construction: 2M-degree kNN symmetrized then re-capped to the
    // closest 3M (the HNSW shrink step bounding hub fan-in), plus
    // ring links both directions (cap-exempt) — out-degree ≤ 3M + 4
    val idxDir = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
      .find(_.contains("collgraph")).get
      .replaceAll("/(base|edges|edges_l\\d+|levels|entries|params)$", "")
    val g = spark.read.parquet(s"$idxDir/edges")
    val maxDeg = g.groupBy(org.apache.spark.sql.functions.col("src"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("deg"))
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("deg"))).head().getLong(0)
    assert(maxDeg <= 3 * 6 + 4, s"graph out-degree $maxDeg exceeds 3M + 4")
    // upper layers stay at degree ≤ M + 2 (no symmetrize, no recap)
    val g1 = spark.read.parquet(s"$idxDir/edges_l1")
    val maxDeg1 = g1.groupBy(org.apache.spark.sql.functions.col("src"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("deg"))
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("deg"))).head().getLong(0)
    assert(maxDeg1 <= 6 + 2, s"layer-1 out-degree $maxDeg1 exceeds M + 2")
    // 3) recall vs brute force over the same collection state
    val brute = queries.crossJoin(d.get("gr", include = Seq("embeddings"))
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("embedding")))
      .select(org.apache.spark.sql.functions.col("query_id"),
        org.apache.spark.sql.functions.col("id"),
        graft.operators.VectorOps.cosine(
          org.apache.spark.sql.functions.col("qvec"),
          org.apache.spark.sql.functions.col("embedding")).as("s"))
      .withColumn("r", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(org.apache.spark.sql.functions.col("query_id"))
          .orderBy(org.apache.spark.sql.functions.col("s").desc,
            org.apache.spark.sql.functions.col("id").asc)))
      .filter(org.apache.spark.sql.functions.col("r") <= 10)
      .select(org.apache.spark.sql.functions.col("query_id"),
        org.apache.spark.sql.functions.col("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val served = res.collect().map(r =>
      (r.getLong(r.fieldIndex("query_id")), r.getString(r.fieldIndex("id"))))
    val hits = served.count(brute.contains)
    // floor calibrated for the DELIBERATELY small degree (M=6 —
    // chosen to prove the knob shapes the artifact); the driver
    // query's M=8 parameterization carries its own ≥0.9 oracle floor
    assert(hits >= 72, s"graph-tier recall@10 too low: $hits/100")
    // 4) exact on deltas: a post-build insert that is the true
    // nearest must surface at rank 1 without a rebuild
    val q0vec = queries.filter(org.apache.spark.sql.functions.col("query_id") === 0L)
      .collect().head.getSeq[Float](1)
    d.add("gr", items(("zzz_exact", q0vec, "planted exact", "{}")))
    val after = d.query("gr",
      queries.filter(org.apache.spark.sql.functions.col("query_id") === 0L),
      nResults = 1, include = Nil).collect()
    assert(after.head.getString(after.head.fieldIndex("id")) === "zzz_exact")
  }

  test("graph tier: filtered queries route to the IVF side-tier; search_ef sets beam width; tier follows metadata changes; entry blackout survives") {
    import org.apache.spark.sql.functions.{col => c, format_string, lit}
    val wh = Files.createTempDirectory("graft-graphfix").toString
    val cl = new ChromaSpark(spark, wh)
    val d = new CollectionData(cl)

    cl.createCollection("gf", Some(Map("hnsw:space" -> "cosine", "hnsw:M" -> "8")))
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = emb.filter(c("vec_id") >= 10)
      .select(format_string("v%07d", c("vec_id")), c("embedding")).collect()
    d.add("gf", items(rows.map(r => (r.getString(0), r.getSeq[Float](1),
      s"doc ${r.getString(0)}", s"""{"tag":"${r.getString(0)}"}""")): _*))
    val q1 = emb.filter(c("vec_id") === 0L)
      .select(c("vec_id").as("query_id"), c("embedding").as("qvec"))

    // 1) FILTERED query: pick a target id and filter to exactly it —
    // the graph beam would almost surely not contain an arbitrary id.
    // As of r10 the filter routes through the IVF SIDE-TIER's
    // adaptive probe, which degenerates to exactly the matching
    // cells for an ultra-selective predicate — so the target comes
    // back exactly, served from collivf, never the collection log
    // and never a corpus-wide scan
    val target = rows(rows.length / 2).getString(0)
    val filteredDf = d.query("gf", q1, nResults = 1,
      whereJson = Some(s"""{"tag":"$target"}"""), include = Nil)
    val filtered = filteredDf.collect()
    assert(filtered.length === 1)
    assert(filtered.head.getString(filtered.head.fieldIndex("id")) === target)
    val fScans = filteredDf.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(fScans.exists(_.contains("collivf")),
      "filtered graph-collection query must serve from the IVF side-tier")
    assert(!fScans.exists(_.contains(wh)),
      s"filtered graph-collection serve scanned the collection log: $fScans")

    // unfiltered queries DO serve from the graph artifact
    val served = d.query("gf", q1, nResults = 3, include = Nil)
    served.collect()
    def idxDirOf(df: org.apache.spark.sql.DataFrame, marker: String): Option[String] =
      df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten.find(_.contains(marker))
    val gDir = idxDirOf(served, "collgraph")
    assert(gDir.isDefined, "unfiltered graph-collection query must serve from collgraph")

    // 2) entry blackout: upsert EVERY persisted entry id (the whole
    // top layer) — the descent must fall back to the next layer down
    // (nested membership, untouched members exist) and still return
    // base rows, not just the delta
    val idxRoot = gDir.get
      .replaceAll("/(base|edges|edges_l\\d+|levels|entries|params)$", "")
    val entryIds = spark.read.parquet(s"$idxRoot/entries")
      .collect().map(_.getString(0)).toSeq
    assert(entryIds.nonEmpty)
    d.upsert("gf", items(entryIds.map(id =>
      (id, Seq.fill(64)(9f), "moved", "{}")): _*)) // far from every query
    val after = d.query("gf", q1, nResults = 10, include = Nil).collect()
    assert(after.length === 10)
    val afterIds = after.map(r => r.getString(r.fieldIndex("id"))).toSet
    assert((afterIds -- entryIds.toSet).nonEmpty,
      "post-blackout query returned no base rows — beam started empty")
    // ...and recall HOLDS under blackout, not just reachability (r10):
    // the fallback seeds the layer-1 walk, which re-localizes before
    // the base walk — certify a floor over the full query set against
    // brute force on the live post-upsert state
    val queries = emb.filter(c("vec_id") < 10)
      .select(c("vec_id").as("query_id"), c("embedding").as("qvec"))
    val servedB = d.query("gf", queries, nResults = 10, include = Nil).collect()
      .map(r => (r.getLong(r.fieldIndex("query_id")),
        r.getString(r.fieldIndex("id"))))
    val bruteB = queries.crossJoin(d.get("gf", include = Seq("embeddings"))
        .select(c("id"), c("embedding")))
      .select(c("query_id"), c("id"),
        graft.operators.VectorOps.cosine(c("qvec"), c("embedding")).as("s"))
      .withColumn("r", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(c("query_id"))
          .orderBy(c("s").desc, c("id").asc)))
      .filter(c("r") <= 10).select(c("query_id"), c("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val hitsB = servedB.count(bruteB.contains)
    assert(hitsB >= 85, s"recall under full entry blackout: $hitsB/100 < 0.85")

    // 3) metadata-driven tier switch: a collection indexed as IVF
    // must re-route through the graph tier when hnsw:M appears later
    cl.createCollection("sw", Some(Map("hnsw:space" -> "cosine")))
    d.add("sw", items(rows.map(r => (r.getString(0), r.getSeq[Float](1),
      s"doc ${r.getString(0)}", "{}")): _*))
    val ivfServed = d.query("sw", q1, nResults = 3, include = Nil)
    ivfServed.collect()
    assert(idxDirOf(ivfServed, "collivf").isDefined, "expected IVF tier first")
    cl.modifyCollection("sw", newMetadata = Some(Map(
      "hnsw:space" -> "cosine", "hnsw:M" -> "8")))
    val graphServed = d.query("sw", q1, nResults = 3, include = Nil)
    graphServed.collect()
    assert(idxDirOf(graphServed, "collgraph").isDefined,
      "stale IVF pointer kept serving after hnsw:M was declared")
  }

  test("graph serve knobs are validated; filteredExactScan forces the exact scan path") {
    import org.apache.spark.sql.functions.{col => c, format_string}
    val wh = Files.createTempDirectory("graft-knobs").toString
    val cl = new ChromaSpark(spark, wh)
    val d = new CollectionData(cl)

    // 1) a 0/negative/non-integer maxLevel must fail loudly instead
    // of silently shaping a build (r11 advisory)
    spark.conf.set("spark.graft.graph.maxLevel", "-1")
    try intercept[IllegalArgumentException] {
      d.graphMaxLevelFor(8, 1000L)
    } finally spark.conf.unset("spark.graft.graph.maxLevel")

    // 2) exact escape hatch (r11 advisory): the r10 side-tier probe
    // made filtered queries on graph-declared collections approximate
    // — users with selective/skewed predicates can opt back into the
    // pre-r10 exactness per session; the serve then never touches the
    // collivf side-tier and matches brute force over live state
    cl.createCollection("ex", Some(Map("hnsw:space" -> "cosine",
      "hnsw:M" -> "8")))
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = emb.filter(c("vec_id") >= 10)
      .select(format_string("v%07d", c("vec_id")), c("embedding")).collect()
    d.add("ex", items(rows.map(r => (r.getString(0), r.getSeq[Float](1),
      s"doc ${r.getString(0)}",
      s"""{"par":${r.getString(0).drop(1).toLong % 7}}""")): _*))
    val qvec = emb.filter(c("vec_id") === 0L)
      .select(c("embedding")).collect().head.getSeq[Float](0)
    val q = emb.filter(c("vec_id") === 0L)
      .select(c("vec_id").as("query_id"), c("embedding").as("qvec"))
    def cosDist(a: Seq[Float], b: Seq[Float]): Double = {
      val (dot, na, nb) = a.zip(b).foldLeft((0.0, 0.0, 0.0)) {
        case ((s, x, y), (p, r)) =>
          (s + p.toDouble * r.toDouble, x + p.toDouble * p.toDouble,
            y + r.toDouble * r.toDouble)
      }
      1.0 - dot / math.sqrt(na * nb)
    }
    val truth = rows.filter(_.getString(0).drop(1).toLong % 7 == 3)
      .map(r => (r.getString(0), cosDist(qvec, r.getSeq[Float](1))))
      .sortBy { case (id, dd) => (dd, id) }.take(5).map(_._1).toSeq
    spark.conf.set("spark.graft.graph.filteredExactScan", "true")
    try {
      val res = d.query("ex", q, nResults = 5, include = Nil,
        whereJson = Some("""{"par":3}"""))
      val got = res.collect().map(r => r.getString(r.fieldIndex("id"))).toSeq
      val scans = res.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
      assert(!scans.exists(_.contains("collivf")),
        s"exact escape hatch still served from the IVF side-tier: $scans")
      assert(got === truth,
        s"exact filtered scan diverged from brute force: $got vs $truth")
    } finally spark.conf.unset("spark.graft.graph.filteredExactScan")
  }

  test("hybrid BM25 serves from the persisted lexical tier, bitwise-equal to inline, exact on deltas") {
    import org.apache.spark.sql.functions.{col => c, format_string, trim => strim, split => ssplit, array_join, slice => sslice}
    val wh = Files.createTempDirectory("graft-lexidx").toString
    val cl = new ChromaSpark(spark, wh)
    val d = new CollectionData(cl)
    cl.createCollection("lex") // default hash16 embedder, l2
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    d.add("lex", docs.filter(c("doc_id") >= 3)
      .select(format_string("d%07d", c("doc_id")).as("id"),
        c("text").as("document")))
    val texts = docs.filter(c("doc_id") < 3).orderBy(c("doc_id"))
      .select(array_join(sslice(ssplit(strim(c("text")), "\\s+"), 1, 8), " "))
      .collect().map(_.getString(0)).toSeq

    // 1) serves from the persisted colllex artifact
    val served = d.queryHybrid("lex", texts, nResults = 5)
    val indexed = served.collect()
    val scansLex = served.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scansLex.exists(_.contains("colllex")),
      "hybrid query does not read the persisted lexical index")

    // 2) bitwise equality with the inline path: force both tiers off
    // via the routing threshold and rerun the SAME query
    val key = "spark.graft.collection.annIndexMinRows"
    spark.conf.set(key, "1000000000")
    try {
      val inline = d.queryHybrid("lex", texts, nResults = 5).collect()
      assert(indexed.map(_.toSeq).toSeq === inline.map(_.toSeq).toSeq,
        "indexed BM25 diverged from the inline computation")
    } finally spark.conf.unset(key)

    // 3) exact on deltas: upsert a doc that strongly matches query 0's
    // terms — the indexed path must surface it exactly as inline does
    d.upsert("lex", Seq(("d0000999", texts.head + " " + texts.head))
      .toDF("id", "document"))
    val afterIdx = d.queryHybrid("lex", texts, nResults = 5).collect()
    spark.conf.set(key, "1000000000")
    try {
      val afterInl = d.queryHybrid("lex", texts, nResults = 5).collect()
      assert(afterIdx.map(_.toSeq).toSeq === afterInl.map(_.toSeq).toSeq,
        "post-delta indexed BM25 diverged from inline")
    } finally spark.conf.unset(key)
    assert(afterIdx.exists(r => r.getString(r.fieldIndex("doc_id")) == "d0000999"),
      "delta doc matching the query terms did not surface")

    // 3b) an EMPTY document in the delta exercises the corpus-stat
    // edge (n_docs counts it; its single empty token joins no query
    // term) — indexed must still equal inline exactly
    d.upsert("lex", Seq(("d0000997", "")).toDF("id", "document"))
    val afterEmpty = d.queryHybrid("lex", texts, nResults = 5).collect()
    spark.conf.set(key, "1000000000")
    try {
      val afterEmptyInl = d.queryHybrid("lex", texts, nResults = 5).collect()
      assert(afterEmpty.map(_.toSeq).toSeq === afterEmptyInl.map(_.toSeq).toSeq,
        "empty-document delta diverged indexed BM25 from inline")
    } finally spark.conf.unset(key)

    // 4) FILTERED hybrid queries serve from the lexical tier too (r8
    // weak #2 fixed): the filtered BM25 stats (df, n_docs, avgdl —
    // all additive) derive from the artifact's postings + doc table
    // joined against the compiled predicate, so the serve plan scans
    // the colllex artifact and NEVER the collection's raw log —
    // post-delta, under a live where_document filter
    val term = texts.head.split(" ").head
    val filtered = d.queryHybrid("lex", texts, nResults = 3,
      whereDocumentJson = Some(s"""{"$$contains":"$term"}"""))
    val filteredRows = filtered.collect()
    assert(filteredRows.nonEmpty)
    val fScans = filtered.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(fScans.exists(_.contains("colllex")),
      "filtered hybrid query must serve from the persisted lexical tier")
    assert(!fScans.exists(_.contains(wh)),
      s"filtered hybrid serve plan scanned the collection log: $fScans")
    // and it is bitwise-equal to the inline filtered computation
    spark.conf.set(key, "1000000000")
    try {
      val inlF = d.queryHybrid("lex", texts, nResults = 3,
        whereDocumentJson = Some(s"""{"$$contains":"$term"}""")).collect()
      assert(filteredRows.map(_.toSeq).toSeq === inlF.map(_.toSeq).toSeq,
        "filtered indexed BM25 diverged from the inline filtered computation")
    } finally spark.conf.unset(key)
  }

  test("filtered GRAPH-collection serve is sublinear: IVF side-tier with pruning ACTIVE, exact on deltas") {
    import org.apache.spark.sql.functions.{col => c, format_string, lit}
    // the tripled fixture: 1470 rows ⇒ 39 cells > nprobe 24, so the
    // side tier's filtered probe actually PRUNES directories (the
    // 490-row driver query certifies values with an exhaustive
    // probe; this spec certifies the scale shape)
    val wh = Files.createTempDirectory("graft-gfside").toString
    val cl = new ChromaSpark(spark, wh)
    val d = new CollectionData(cl)
    cl.createCollection("gfs", Some(Map("hnsw:space" -> "cosine", "hnsw:M" -> "8")))
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(c("vec_id") >= 10).select(c("vec_id"), c("embedding"))
    def shifted(off: Long, f: Float) = base.select(
      (c("vec_id") + lit(off)).as("vec_id"),
      org.apache.spark.sql.functions.transform(c("embedding"),
        (x, i) => org.apache.spark.sql.functions.when(i === 0, x * lit(f))
          .otherwise(x)).as("embedding"))
    val corpus = base.unionByName(shifted(1000000L, 1.01f))
      .unionByName(shifted(2000000L, 1.02f))
    d.add("gfs", corpus.select(format_string("v%07d", c("vec_id")).as("id"),
      c("embedding"),
      format_string("""{"par":%d}""", c("vec_id") % 3).as("metadata_json")))
    val queries = emb.filter(c("vec_id") < 3)
      .select(c("vec_id").as("query_id"), c("embedding").as("qvec"))
    val res = d.query("gfs", queries, nResults = 10,
      whereJson = Some("""{"par":{"$eq":1}}"""), include = Nil)
    val got = res.collect()
    assert(got.length === 30)
    // 1) the serve plan reads the collivf side artifact with
    //    directories PRUNED, and never touches the collection log
    val scans = res.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val paths = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(paths.exists(_.contains("collivf")),
      "filtered graph-collection query must serve from the IVF side-tier")
    assert(!paths.exists(_.contains(wh)),
      s"filtered side-tier serve scanned the collection log: $paths")
    val ivfScan = scans.find(_.relation.location.rootPaths
      .exists(p => p.toString.contains("collivf") && p.toString.contains("vectors")))
      .getOrElse(fail("no pruned scan of the side tier's vectors"))
    val allCells = spark.read.parquet(ivfScan.relation.location.rootPaths
        .head.toString).select(c("label")).distinct().count()
    assert(allCells > 24, s"fixture too small for pruning: $allCells cells")
    assert(ivfScan.selectedPartitions.partitionCount < allCells,
      s"side-tier probe scanned every cell: " +
        s"${ivfScan.selectedPartitions.partitionCount} of $allCells")
    // 2) recall vs filtered brute force over the same state
    val brute = queries.crossJoin(
        d.get("gfs", include = Seq("embeddings", "metadatas"))
          .filter(org.apache.spark.sql.functions.get_json_object(
            c("metadata_json"), "$.par").cast("double") === 1.0)
          .select(c("id"), c("embedding")))
      .select(c("query_id"), c("id"),
        graft.operators.VectorOps.cosine(c("qvec"), c("embedding")).as("s"))
      .withColumn("r", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(c("query_id"))
          .orderBy(c("s").desc, c("id").asc)))
      .filter(c("r") <= 10).select(c("query_id"), c("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val served = got.map(r => (r.getLong(r.fieldIndex("query_id")),
      r.getString(r.fieldIndex("id"))))
    assert(served.forall { case (_, id) =>
      id.stripPrefix("v").toLong % 3 === 1L }, "served a non-matching row")
    val hits = served.count(brute.contains)
    assert(hits >= 26, s"filtered side-tier recall@10: $hits/30 < 0.85")
    // 3) exact on deltas: a post-build matching insert that is the
    //    true nearest must surface at rank 1 without a rebuild
    val q0vec = queries.filter(c("query_id") === 0L).head().getSeq[Float](1)
    d.add("gfs", Seq(("zzz_match", q0vec, null: String, """{"par":1}"""))
      .toDF("id", "embedding", "document", "metadata_json"))
    val after = d.query("gfs", queries.filter(c("query_id") === 0L),
      nResults = 1, whereJson = Some("""{"par":{"$eq":1}}"""), include = Nil)
      .collect()
    assert(after.head.getString(after.head.fieldIndex("id")) === "zzz_match")
    // 4) the graph pointer is untouched: unfiltered queries still
    //    serve from collgraph
    val unf = d.query("gfs", queries, nResults = 3, include = Nil)
    unf.collect()
    val unfPaths = unf.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(unfPaths.exists(_.contains("collgraph")),
      "unfiltered query stopped serving from the graph tier")
  }

  test("maxLevel override folds into the artifact identity: no stale-serve in either direction") {
    import org.apache.spark.sql.functions.{col => c, format_string}
    val wh = Files.createTempDirectory("graft-lvlknob").toString
    val cl = new ChromaSpark(spark, wh)
    val d = new CollectionData(cl)
    cl.createCollection("lk", Some(Map("hnsw:space" -> "cosine", "hnsw:M" -> "8")))
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    d.add("lk", emb.filter(c("vec_id") >= 10)
      .select(format_string("v%07d", c("vec_id")).as("id"), c("embedding")))
    val q = emb.filter(c("vec_id") === 0L)
      .select(c("vec_id").as("query_id"), c("embedding").as("qvec"))
    def servedArtifact(): String = {
      val res = d.query("lk", q, nResults = 3, include = Nil)
      res.collect()
      res.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten.find(_.contains("collgraph"))
        .getOrElse(fail("not served from the graph tier"))
        .replaceAll("/(base|edges|edges_l\\d+|levels|entries|params)$", "")
    }
    val key = "spark.graft.graph.maxLevel"
    // 1) build under an override: the artifact carries -L1- and a
    //    single-layer structure
    spark.conf.set(key, "1")
    try {
      val flat = servedArtifact()
      assert(flat.contains("-L1-"), s"override not in the key: $flat")
      assert(spark.read.parquet(s"$flat/params").head()
        .getAs[Int]("maxlevel") === 1)
    } finally spark.conf.unset(key)
    // 2) override removed: the flat pointer must NOT keep serving —
    //    the default law (maxlevel 2 at 490 rows) rebuilds/re-routes
    val def2 = servedArtifact()
    assert(def2.contains("-L2-"),
      s"flat override artifact kept serving after the override was removed: $def2")
    // 3) re-setting the override routes back to the L1 artifact
    //    (cache hit, no rebuild), and a DIFFERENT override value
    //    builds its own artifact
    spark.conf.set(key, "1")
    try assert(servedArtifact().contains("-L1-"))
    finally spark.conf.unset(key)
  }

  test("collection_hnsw_graph driver query: recall_at_10 mean holds the 0.9 floor") {
    val out = graft.SparkEntry.collectionHnswGraph(spark, "/root/testdata/sf0.001").collect()
    assert(out.length === 100)
    val perQuery = out.groupBy(_.getLong(0)).values
      .map(_.head.getAs[Double]("recall_at_10"))
    val mean = perQuery.sum / perQuery.size
    assert(mean >= 0.9, s"graph-served collection mean recall $mean below 0.9")
  }

  test("collection_hnsw_deep driver query: 3-layer descent holds the 0.9 floor on the clique corpus") {
    // the tripled corpus is the adversarial case: every vector sits in
    // a near-duplicate 3-clique, exactly what trapped narrow upper
    // beams (recall 0.1 on one query at upper ef=8; 1.0 at the
    // shipped ef=64) — so this floor guards the upper-width law, and
    // the serve runs BOTH between-layer localCheckpoint truncations
    val out = graft.SparkEntry.collectionHnswDeep(spark, "/root/testdata/sf0.001").collect()
    assert(out.length === 30)
    val perQuery = out.groupBy(_.getLong(0)).values
      .map(_.head.getAs[Double]("recall_at_10"))
    val mean = perQuery.sum / perQuery.size
    assert(mean >= 0.9, s"deep graph-served mean recall $mean below 0.9")
  }

  test("large collections serve query() from a pruned persisted index, exact on deltas") {
    val wh = Files.createTempDirectory("graft-annidx").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    c.createCollection("big", Some(Map("hnsw:space" -> "l2")))
    // 1000 rows ≥ the 256-row routing threshold AND big enough that
    // the derived probe width (min(k, 24) at k = ceil(sqrt(1000)) =
    // 32) is strictly narrower than the cell count — pruning must be
    // visible. On a line so the true top-k is computable by hand and
    // lands in the nearest cells.
    d.add("big", items((0 until 1000).map { i =>
      (f"v$i%03d", Seq(i.toFloat, 0f), s"doc $i", s"""{"par":${i % 2}}""")
    }: _*))
    val q = Seq((1L, Seq(0f, 0f))).toDF("query_id", "qvec")
    val res = d.query("big", q, nResults = 5, include = Nil)
    // the plan scans the persisted index with a LITERAL partition
    // filter: planning-time directory pruning, strictly fewer
    // partitions than the index holds
    val scan = res.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("collivf")) => f
    }.headOption.getOrElse(fail("query plan does not scan the persisted index"))
    val allParts = spark.read.parquet(
      scan.relation.location.rootPaths.head.toString)
      .select(org.apache.spark.sql.functions.col("label")).distinct().count()
    assert(scan.selectedPartitions.partitionCount < allParts,
      s"no pruning: ${scan.selectedPartitions.partitionCount} of $allParts cells scanned")
    // exact top-5 by construction (nearest cells are certainly probed)
    assert(res.collect().map(_.getString(1)).toSeq ===
      Seq("v000", "v001", "v002", "v003", "v004"))
    // metadata filter applies BEFORE ranking on the index path too
    assert(d.query("big", q, nResults = 3, include = Nil,
      whereJson = Some("""{"par":1}""")).collect().map(_.getString(1)).toSeq ===
      Seq("v001", "v003", "v005"))
    // post-build upsert: the delta row ranks exactly without a rebuild
    d.upsert("big", items(("zz", Seq(0.5f, 0f), "delta hit", "{}")))
    assert(d.query("big", q, nResults = 2, include = Nil)
      .collect().map(_.getString(1)).toSeq === Seq("v000", "zz"))
    // post-build delete masks the indexed version
    d.delete("big", ids = Seq("v000"))
    assert(d.query("big", q, nResults = 3, include = Nil)
      .collect().map(_.getString(1)).toSeq === Seq("zz", "v001", "v002"))
    // an updated id's OLD indexed vector never resurfaces
    d.update("big", items(("v001", Seq(500f, 0f), "moved away", "{}")))
    assert(d.query("big", q, nResults = 3, include = Nil)
      .collect().map(_.getString(1)).toSeq === Seq("zz", "v002", "v003"))
  }

  test("a tier pointer to an older-AlgoVersion artifact is refused, never served") {
    // The stale-trainer trap, closed at the POINTER layer: cache keys
    // embed the AlgoVersion, so a fresh route can never RESOLVE an
    // old artifact — but a pointer file laid down before a version
    // bump still names one, and pre-r9 validation (completion marker
    // + batch + file set) would have kept serving it even though it
    // lacks the relations the new serve reads (params/docs/tok_docs).
    val wh = Files.createTempDirectory("graft-stale").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    c.createCollection("vg", Some(Map("hnsw:space" -> "l2")))
    d.add("vg", items((0 until 300).map { i =>
      (f"v$i%03d", Seq(i.toFloat, 0f), s"d$i", "{}")
    }: _*))
    val q = Seq((1L, Seq(0f, 0f))).toDF("query_id", "qvec")
    assert(d.query("vg", q, nResults = 3, include = Nil)
      .collect().map(_.getString(1)).toSeq === Seq("v000", "v001", "v002"))
    // forge a pre-bump pointer: an artifact directory named under an
    // OLD version, complete marker present, empty otherwise — exactly
    // what an a4-era build looks like to the validator
    val ptr = {
      val s = Files.walk(java.nio.file.Paths.get(wh))
      try s.filter(_.getFileName.toString == "_index_ptr").findFirst().get()
      finally s.close()
    }
    val lines = new String(Files.readAllBytes(ptr), "UTF-8").split("\n", -1)
    val current = java.nio.file.Paths.get(lines(0))
    val ver = graft.operators.VectorIndex.AlgoVersion
    assert(current.getFileName.toString.endsWith("-" + ver))
    val stale = current.getParent.resolve(
      current.getFileName.toString.stripSuffix(ver) + "a0")
    Files.createDirectories(stale)
    Files.write(stale.resolve("_INDEX_OK"), "a0".getBytes("UTF-8"))
    Files.write(ptr, (stale.toString + "\n" + lines(1) + "\n" + lines(2))
      .getBytes("UTF-8"))
    // the forged pointer is REFUSED: the serve rebuilds (content-keyed
    // — instant resolve to the real current-version artifact) and the
    // plan scans a current-version directory, never the stale one
    val res = d.query("vg", q, nResults = 3, include = Nil)
    assert(res.collect().map(_.getString(1)).toSeq === Seq("v000", "v001", "v002"))
    val scanned = res.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten.filter(_.contains("collivf"))
    assert(scanned.nonEmpty)
    assert(scanned.forall(!_.contains(stale.getFileName.toString)),
      s"stale-version artifact served: $scanned")
  }

  test("filtered IVF serve probes adaptively: selective filters reach matches past the fixed width") {
    val wh = Files.createTempDirectory("graft-adaptprobe").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    c.createCollection("sel", Some(Map("hnsw:space" -> "l2")))
    // 2000 rows on a line → k = ceil(sqrt(2000)) = 45 cells, fixed
    // nprobe = 24: the probed pool covers roughly the nearest half of
    // the line. Every predicate match lives in the FAR half (i ≥
    // 1500), so a fixed-width probe holds ZERO matching candidates —
    // the pre-r9 serve returned an empty result while 500 matches sat
    // in unprobed cells. The adaptive plan counts matches per cell,
    // skips empty cells, and probes matching cells (nearest first)
    // until the 16·k cumulative target — so the true filtered top-k
    // comes back exactly.
    d.add("sel", items((0 until 2000).map { i =>
      (f"v$i%04d", Seq(i.toFloat, 0f), s"doc $i",
        s"""{"far":${if (i >= 1500) 1 else 0}}""")
    }: _*))
    val q = Seq((1L, Seq(0f, 0f))).toDF("query_id", "qvec")
    val res = d.query("sel", q, nResults = 5, include = Nil,
      whereJson = Some("""{"far":1}"""))
    val got = res.collect().map(_.getString(1)).toSeq
    assert(got === Seq("v1500", "v1501", "v1502", "v1503", "v1504"),
      s"adaptive filtered probe missed far-cell matches: $got")
    // the serve still prunes: the probed directories are a strict
    // subset of the index's cells (matching cells only, not a full scan)
    val scan = res.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("collivf")) => f
    }.headOption.getOrElse(fail("filtered query does not scan the persisted index"))
    val allParts = spark.read.parquet(
      scan.relation.location.rootPaths.head.toString)
      .select(org.apache.spark.sql.functions.col("label")).distinct().count()
    assert(scan.selectedPartitions.partitionCount < allParts,
      s"adaptive probe scanned every cell: ${scan.selectedPartitions.partitionCount} of $allParts")
    // a loose filter keeps at least the unfiltered probe width, so
    // recall can only improve on the fixed-width path
    val loose = d.query("sel", q, nResults = 3, include = Nil,
      whereJson = Some("""{"far":0}""")).collect().map(_.getString(1)).toSeq
    assert(loose === Seq("v0000", "v0001", "v0002"))
    // r10: repeat filtered calls with the SAME predicate serve their
    // per-cell match counts from the (artifact, filter, mask) memo —
    // the artifact is immutable, so the counts are too. One compute
    // on first call, zero on the repeat (the dashboard pattern).
    val computesBefore = CollectionData.filteredCellStatsComputes.get()
    val repeat = d.query("sel", q, nResults = 5, include = Nil,
      whereJson = Some("""{"far":1}""")).collect().map(_.getString(1)).toSeq
    assert(repeat === got, "repeat filtered serve changed answers")
    assert(CollectionData.filteredCellStatsComputes.get() === computesBefore,
      "repeat filtered call with an identical predicate recounted the vectors table")
    // a DIFFERENT predicate is a different fingerprint — it computes
    val other = d.query("sel", q, nResults = 3, include = Nil,
      whereJson = Some("""{"far":0}""")) // repeat of 'loose': memoized too
    other.collect()
    assert(CollectionData.filteredCellStatsComputes.get() === computesBefore,
      "repeat of the second predicate recounted despite its own memo entry")
  }

  test("collection_ann_index driver query: per-query recall floor 0.9 through the index tier") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory)
    val res = graft.SparkEntry.queries("collection_ann_index")(spark, dir)
    val perQuery = res.groupBy(org.apache.spark.sql.functions.col("query_id"))
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("recall_at_10")).as("r"))
      .collect().map(_.getDouble(1))
    assert(perQuery.length === 10)
    assert(perQuery.min >= 0.9, s"collection index recall floor: ${perQuery.min}")
  }

  test("driver-snapshot and distributed resolution agree under random mutation sequences") {
    val wh = Files.createTempDirectory("graft-snapfuzz").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    c.createCollection("fuzz")
    val rnd = new scala.util.Random(7)
    val pool = (0 until 40).map(i => f"k$i%02d")
    def distributed[A](body: => A): A = {
      spark.conf.set("spark.graft.collection.snapshotMaxBytes", "0")
      try body
      finally spark.conf.unset("spark.graft.collection.snapshotMaxBytes")
    }
    def view(): Seq[String] =
      d.get("fuzz", include = Seq("embeddings", "documents", "metadatas"))
        .collect().map(_.toString).toSeq
    (1 to 20).foreach { step =>
      rnd.nextInt(3) match {
        case 0 =>
          val picked = rnd.shuffle(pool).take(1 + rnd.nextInt(4))
          d.upsert("fuzz", items(picked.map(id =>
            (id, Seq(rnd.nextInt(9).toFloat, 1f), s"v$step of $id", "{}")): _*))
        case 1 =>
          d.delete("fuzz", ids = Seq(pool(rnd.nextInt(pool.size))))
        case 2 =>
          val picked = pool(rnd.nextInt(pool.size))
          d.upsert("fuzz", items((picked, Seq(step.toFloat, 0f), s"u$step", "{}")))
      }
      assert(view() === distributed(view()), s"live-view divergence at step $step")
      assert(d.count("fuzz") === distributed(d.count("fuzz")),
        s"count divergence at step $step")
    }
    // as-of parity across the whole written history
    (0L to d.currentBatch("fuzz")).foreach { b =>
      val a = d.getAsOf("fuzz", b, include = Seq("documents"))
        .collect().map(_.toString).toSeq
      val e = distributed(d.getAsOf("fuzz", b, include = Seq("documents"))
        .collect().map(_.toString).toSeq)
      assert(a === e, s"as-of divergence at batch $b")
    }
  }

  test("the ANN tier survives compact and travels by content through export/import") {
    val wh = Files.createTempDirectory("graft-annlife").toString
    val ex = Files.createTempDirectory("graft-annlife-ex").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    c.createCollection("big")
    d.add("big", items((0 until 300).map { i =>
      (f"v$i%03d", Seq(i.toFloat, 0f), s"doc $i", "{}")
    }: _*))
    val q = Seq((1L, Seq(0f, 0f))).toDF("query_id", "qvec")
    def top3(coll: String) =
      d.query(coll, q, nResults = 3, include = Nil).collect().map(_.getString(1)).toSeq
    assert(top3("big") === Seq("v000", "v001", "v002")) // builds + serves the index
    // compact resets batch numbering below the pointer's build batch —
    // the route guard must rebuild (or re-point), never serve stale
    d.upsert("big", items(("zz", Seq(0.5f, 0f), "post-index", "{}")))
    d.compact("big")
    assert(top3("big") === Seq("v000", "zz", "v001"))
    // an exported+imported copy crosses the threshold with IDENTICAL
    // content → the content-fingerprinted index resolves to the same
    // on-disk artifact and answers identically
    d.exportCollection("big", s"$ex/big")
    d.importCollection(s"$ex/big", newName = Some("big2"))
    assert(top3("big2") === top3("big"))
  }

  test("the LEXICAL tier travels by content through export/import: restored hybrid serve pays no rebuild") {
    import org.apache.spark.sql.functions.{col => cc}
    val wh = Files.createTempDirectory("graft-lexlife").toString
    val ex = Files.createTempDirectory("graft-lexlife-ex").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    c.createCollection("hyb") // default hash16 embedder, l2
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    d.add("hyb", docs.filter(cc("doc_id") >= 3)
      .select(org.apache.spark.sql.functions.format_string("d%07d", cc("doc_id")).as("id"),
        cc("text").as("document")))
    val texts = Seq("the quick brown fox")
    def lexDirOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten.find(_.contains("colllex"))
        .getOrElse(fail("hybrid serve does not read a colllex artifact"))
        .replaceAll("/(postings|docs|stats)$", "")
    val before = d.queryHybrid("hyb", texts, nResults = 5)
    val beforeRows = before.collect()
    val beforeDir = lexDirOf(before)
    // export + import: identical content under a NEW log → the
    // content-fingerprinted lexical key resolves to the SAME on-disk
    // artifact — the restored collection's first hybrid serve is a
    // cache HIT, not a corpus-scale rebuild (the ANN tier's travel
    // guarantee, extended to the lexical tier)
    d.exportCollection("hyb", s"$ex/hyb")
    d.importCollection(s"$ex/hyb", newName = Some("hyb2"))
    val after = d.queryHybrid("hyb2", texts, nResults = 5)
    val afterRows = after.collect()
    assert(afterRows.map(_.toSeq).toSeq === beforeRows.map(_.toSeq).toSeq)
    assert(lexDirOf(after) === beforeDir,
      "restored collection rebuilt the lexical artifact instead of resolving it by content")
  }

  test("collection_ann_pruned driver query: directory pruning is ACTIVE inside the oracled path") {
    val res = graft.SparkEntry.collectionAnnPruned(spark, "/root/testdata/sf0.001")
    val rows = res.collect()
    assert(rows.length === 30) // 3 queries × top-10
    // the tripled corpus (1470 rows) derives 39 cells > nprobe 24 and
    // the 3-query probe union covers 35 of them, so the oracle-hashed
    // serve runs with planning-time directory pruning engaged —
    // strictly fewer partitions scanned than cells
    val scan = res.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("collivf")) => f
    }.headOption.getOrElse(fail("pruned driver query does not scan the persisted index"))
    val allParts = spark.read.parquet(
      scan.relation.location.rootPaths.head.toString)
      .select(org.apache.spark.sql.functions.col("label")).distinct().count()
    assert(scan.selectedPartitions.partitionCount < allParts,
      s"pruning inactive: ${scan.selectedPartitions.partitionCount} of $allParts cells scanned")
    // recall floor under pruning (driver-visible column; 0.92 observed)
    val perQuery = rows.groupBy(_.getLong(0)).values
      .map(_.head.getAs[Double]("recall_at_10"))
    val mean = perQuery.sum / perQuery.size
    assert(mean >= 0.85, s"pruned-serve mean recall $mean below 0.85")
  }

  test("small collections never pay an index build; forks fall back to the scan path") {
    val (c, d) = fresh()
    d.add("col", items(("a", Seq(1f, 0f), "x", "{}"), ("b", Seq(0f, 1f), "y", "{}")))
    val q = Seq((1L, Seq(1f, 0f))).toDF("query_id", "qvec")
    val small = d.query("col", q, nResults = 2, include = Nil)
    assert(!small.queryExecution.sparkPlan.toString.contains("collivf"))
    assert(small.collect().map(_.getString(1)).toSeq === Seq("a", "b"))
    // a fork of an indexed-size collection still answers exactly
    c.createCollection("base2")
    d.add("base2", items((0 until 300).map { i =>
      (f"w$i%03d", Seq(i.toFloat, 0f), s"doc $i", "{}")
    }: _*))
    d.query("base2", q, nResults = 1, include = Nil).collect() // builds the index
    d.fork("base2", "forked")
    d.add("forked", items(("new0", Seq(0.5f, 0f), "fork-local", "{}")))
    val got = d.query("forked", q, nResults = 2, include = Nil)
    assert(!got.queryExecution.sparkPlan.toString.contains("collivf"),
      "forked collections must take the scan path")
    assert(got.collect().map(_.getString(1)).toSeq === Seq("w001", "new0"))
  }

  test("recap wave staging is bit-invisible: forced waves yield the single-pass edge set exactly") {
    // the r14 volume-tier claim (CollectionData.navigableEdges): the
    // symmetrize→dedup→cap→ring→distinct stage runs in src-hash
    // waves above BuildVolumeGateRows; every edge row keys on its
    // slice's src, so slices are disjoint and their union is the
    // global result. recapForcedWaves exercises it at fixture scale;
    // a fresh annIndexRoot per variant defeats the content-keyed
    // artifact cache (identical content would otherwise reuse the
    // first build and the comparison would be vacuous).
    def edgesOf(tag: String, waves: Option[Int]): Set[(String, String)] = {
      val wh = Files.createTempDirectory(s"graft-recapw-$tag").toString
      val root = Files.createTempDirectory(s"graft-recapw-idx-$tag").toString
      graft.operators.GraphAnn.recapForcedWaves = waves
      spark.conf.set("spark.graft.collection.annIndexRoot", root)
      try {
        val c = new ChromaSpark(spark, wh)
        val d = new CollectionData(c)
        c.createCollection("rw", Some(Map("hnsw:space" -> "l2", "hnsw:M" -> "8")))
        d.add("rw", items((0 until 400).map { i =>
          (f"r$i%05d", Seq((i % 23).toFloat, (i % 7).toFloat), s"d$i", "{}")
        }: _*))
        val q = Seq((1L, Seq(3f, 2f))).toDF("query_id", "qvec")
        val res = d.query("rw", q, nResults = 3, include = Nil)
        res.collect()
        val idx = res.queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.map(_.toString)
        }.flatten.find(_.contains("collgraph"))
          .getOrElse(fail("rw does not serve from the graph tier"))
          .replaceAll("/(base|edges|edges_l\\d+|levels|entries|params)$", "")
        spark.read.parquet(s"$idx/edges").select("src", "dst")
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
      } finally {
        graft.operators.GraphAnn.recapForcedWaves = None
        spark.conf.unset("spark.graft.collection.annIndexRoot")
      }
    }
    val single = edgesOf("s", None)
    assert(single.nonEmpty)
    assert(edgesOf("w3", Some(3)) === single, "3-wave recap diverged from single-pass")
    assert(edgesOf("w5", Some(5)) === single, "5-wave recap diverged from single-pass")
  }

  test("driver-side upper descent is value-identical to the distributed descent (r15)") {
    // The sub-scale-gate serve runs its chained upper-layer walks on
    // the driver over the collected model-scale hierarchy
    // (GraphAnn.localUpperWalk) instead of layers × hops in-plan
    // exchanges. This pins the two paths VALUE-EQUAL on a 3-level
    // hierarchy (two chained upper walks) with a post-build upsert in
    // play (the touched mask must filter levels and entries
    // identically), including distances — the driver walk replicates
    // the distance kernels' double arithmetic and Spark's
    // (d asc, vec_id asc) orderings bit for bit.
    val wh = Files.createTempDirectory("graft-localdescent").toString
    val c = new ChromaSpark(spark, wh)
    val d = new CollectionData(c)
    c.createCollection("ld", Some(Map("hnsw:space" -> "cosine", "hnsw:M" -> "8")))
    // 3000 rows ⇒ maxlevel 3 (two upper walks); embeddings spread so
    // rankings have real structure, no duplicate vectors
    d.add("ld", items((0 until 3000).map { i =>
      (f"v$i%05d",
        Seq(math.sin(i * 0.37).toFloat, math.cos(i * 0.81).toFloat,
          math.sin(i * 0.13 + 1.0).toFloat),
        s"d$i", "{}")
    }: _*))
    // post-build upsert: touched ids must be masked from the walk's
    // levels on BOTH paths (and the delta re-ranks them identically)
    d.upsert("ld", items(
      ("v00007", Seq(0.1f, 0.2f, 0.3f), "d7b", "{}"),
      ("v00123", Seq(-0.4f, 0.5f, 0.6f), "d123b", "{}")))
    val q = Seq(
      (1L, Seq(0.2f, -0.3f, 0.5f)),
      (2L, Seq(-0.7f, 0.1f, 0.4f)),
      (3L, Seq(0.9f, 0.9f, -0.2f))).toDF("query_id", "qvec")
    def run(): Seq[(Long, Long, String, Double)] = {
      val r = d.query("ld", q, nResults = 5, include = Nil)
        .select("query_id", "rank", "id", "distance").collect()
      r.map(x => (x.getLong(0), x.getLong(1), x.getString(2), x.getDouble(3))).toSeq
    }
    val local = run() // default: driver descent on (sub-gate corpus)
    spark.conf.set("spark.graft.graph.driverUpperDescent", "false")
    val distributed = try run()
    finally spark.conf.unset("spark.graft.graph.driverUpperDescent")
    assert(local === distributed,
      "driver-side descent diverged from the distributed descent")
    assert(local.map(_._1).distinct.size === 3 && local.size === 15)
  }
}
