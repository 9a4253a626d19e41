package graft.operators

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** HNSW graph-ANN family (v18/v19): gate equality vs the exact sweep
  * under a generous dial, construction determinism, the driver bound's
  * loud refusal, and serve-from-index == in-session. The one at-rest
  * format is the sharded layout; a one-shard index is the whole corpus
  * in one graph. */
class HnswSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.local("hnsw-spec")
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("ef = corpus size ⇒ exhaustive sweep: equals brute force exactly") {
    // with ef = n the layer-0 search visits every reachable node; the
    // layer-0 graph is connected on this corpus (m=8, 2m at layer 0),
    // so the shortlist is the whole corpus and the Spark rescore makes
    // equality exact, not approximate
    val exact = rows(Similarity.annBruteForce(spark, sf))
    val got = rows(Hnsw.annHnsw(spark, sf, efSearch = 500))
    assert(got == exact)
  }

  test("gate profile is recall-complete on the pinned corpus") {
    // the Probe-chosen gate dial (see SparkEntry v18) — a regenerated
    // corpus that breaks this demotes in Verify rather than failing
    val exact = rows(Similarity.annBruteForce(spark, sf))
    val got = rows(Hnsw.annHnsw(spark, sf, efSearch = 8))
    assert(got == exact)
  }

  test("construction and search are deterministic") {
    val a = rows(Hnsw.annHnsw(spark, sf, efSearch = 64))
    Hnsw.graphMemo.clear()
    val b = rows(Hnsw.annHnsw(spark, sf, efSearch = 64))
    assert(a == b)
  }

  test("the graph memo is a real memo (same instance within a session)") {
    Hnsw.graphMemo.clear()
    val g1 = Hnsw.graphFor(spark, sf, 8, 96)
    val g2 = Hnsw.graphFor(spark, sf, 8, 96)
    assert(g1 eq g2)
  }

  test("driverMaxVectors refuses loudly, naming the sharded path") {
    val n = Hnsw.driverMaxVectors + 1
    val e = intercept[IllegalArgumentException] {
      Hnsw.buildGraph(new Array[Long](n), new Array[Array[Float]](n), 8, 96)
    }
    assert(e.getMessage.contains("driverMaxVectors"))
    assert(e.getMessage.contains("shard"))
  }

  test("serve from the at-rest index == in-session at equal dials") {
    // a one-shard index holds the same graph the driver operator builds
    // (same deterministic build over the same ascending ids), so the
    // served rows equal v18's in-session rows
    val idx = java.nio.file.Files.createTempDirectory("hnsw-idx").toString
    Hnsw.writeHnswIndexSharded(spark, sf, idx, nShards = 1)
    val served = rows(Hnsw.annHnswServeSharded(spark, sf, idx, efSearch = 256))
    val inSession = rows(Hnsw.annHnsw(spark, sf, efSearch = 256))
    assert(served == inSession)
  }

  test("serve refuses a directory without _meta.json") {
    val bare = java.nio.file.Files.createTempDirectory("hnsw-bare").toString
    val e = intercept[IllegalArgumentException] {
      Hnsw.annHnswServeSharded(spark, sf, bare).collect()
    }
    assert(e.getMessage.contains("_meta.json"))
    assert(e.getMessage.contains("writeHnswIndexSharded"))
  }

  test("serve refuses an index of a different family") {
    val idx = java.nio.file.Files.createTempDirectory("hnsw-wrongfam").toString
    Similarity.writeAnnIndex(spark, sf, idx) // a pq-family IVF index
    val e = intercept[IllegalArgumentException] {
      Hnsw.annHnswServeSharded(spark, sf, idx).collect()
    }
    assert(e.getMessage.contains("not hnsw_sharded"), e.getMessage)
  }

  test("sharded: in-session == brute force at the gate dial, and == the " +
      "single-graph serve on a 2-shard split") {
    // the fan-out/merge contract: each shard's walk finds its own
    // members of the global top-k, the union shortlist contains the
    // true top-k, and the exact rescore makes the outputs identical —
    // so a 2-shard serve equals the single-graph (one-shard) serve
    val exact = rows(Similarity.annBruteForce(spark, sf))
    assert(rows(Hnsw.annHnswSharded(spark, sf, efSearch = 32)) == exact)
    val idx = java.nio.file.Files.createTempDirectory("hnsw-shidx").toString
    Hnsw.writeHnswIndexSharded(spark, sf, idx, nShards = 2)
    val sharded2 = rows(Hnsw.annHnswServeSharded(spark, sf, idx, efSearch = 256))
    val single = java.nio.file.Files.createTempDirectory("hnsw-sgidx").toString
    Hnsw.writeHnswIndexSharded(spark, sf, single, nShards = 1)
    val sharded1 = rows(Hnsw.annHnswServeSharded(spark, sf, single, efSearch = 256))
    assert(sharded2 == sharded1,
      "2-shard fan-out serve must equal the one-shard serve")
    assert(sharded1 == exact, "one-shard serve at ef=256 must equal brute force")
  }

  test("sharded: at-rest serve == in-session sharded at equal dials, " +
      "deterministic across rebuilds") {
    val idx = java.nio.file.Files.createTempDirectory("hnsw-shidx2").toString
    Hnsw.writeHnswIndexSharded(spark, sf, idx, nShards = 4)
    val served = rows(Hnsw.annHnswServeSharded(spark, sf, idx, efSearch = 64))
    assert(served == rows(Hnsw.annHnswSharded(spark, sf, efSearch = 64)),
      "serving the at-rest shards must equal building them in-session")
    // rebuild in a fresh dir: same corpus + dials ⇒ same served rows
    val idx2 = java.nio.file.Files.createTempDirectory("hnsw-shidx3").toString
    Hnsw.writeHnswIndexSharded(spark, sf, idx2, nShards = 4)
    assert(rows(Hnsw.annHnswServeSharded(spark, sf, idx2, efSearch = 64)) == served)
  }

  test("sharded: the index is one file per shard partition and serve " +
      "refuses the wrong family in both directions") {
    val idx = java.nio.file.Files.createTempDirectory("hnsw-shlay").toString
    Hnsw.writeHnswIndexSharded(spark, sf, idx, nShards = 4)
    (0 until 4).foreach { s =>
      val files = new java.io.File(s"$idx/graph/shard=$s")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"shard=$s should be ONE file (one build task per shard), got ${files.length}")
    }
    // an IVF serve refuses the graph index by its family, naming it;
    // the HNSW serve refusing an IVF index is the different-family
    // test above
    val e = intercept[IllegalArgumentException] {
      Similarity.annIvfPqServe(spark, sf, idx).collect()
    }
    assert(e.getMessage.contains("'hnsw_sharded' index, not an IVF index"),
      e.getMessage)
  }

  test("sharded serve: repeat call serves from executor-resident shard " +
      "graphs (zero reloads) and returns identical rows") {
    // the serving-tier steady state: the first call loads + caches one
    // graph per shard (keyed by the shard partition's content stamp);
    // a repeat call must walk memory — no parquet read, no rebuild
    val idx = java.nio.file.Files.createTempDirectory("hnsw-resident").toString
    Hnsw.writeHnswIndexSharded(spark, sf, idx, nShards = 4)
    Hnsw.ShardGraphCache.invalidate()
    Hnsw.driftChecked.clear()
    val first = rows(Hnsw.annHnswServeSharded(spark, sf, idx, efSearch = 64))
    val loadsAfterFirst = Hnsw.ShardGraphCache.loadCount
    assert(Hnsw.ShardGraphCache.residentShards(idx) == Set(0, 1, 2, 3),
      "first serve should leave all 4 shard graphs resident")
    val second = rows(Hnsw.annHnswServeSharded(spark, sf, idx, efSearch = 64))
    assert(second == first)
    assert(Hnsw.ShardGraphCache.loadCount == loadsAfterFirst,
      "repeat serve must not reload any shard from parquet")
  }

  test("sharded serve's plan never scans the corpus — candidates carry " +
      "their vectors off the resident graphs (rescoreFromIndex)") {
    // the serving-tier cost model: repeat-serve work is walks + a
    // shortlist-bounded window, INDEPENDENT of corpus size. A corpus
    // scan in the plan (the r11 shape: stats-blind shortlist⋈corpus
    // sort-merge join) would re-couple serve latency to corpus bytes
    val idx = java.nio.file.Files.createTempDirectory("hnsw-noscan").toString
    Hnsw.writeHnswIndexSharded(spark, sf, idx, nShards = 2)
    Hnsw.annHnswServeSharded(spark, sf, idx).count() // drift check paid
    val plan = Hnsw.annHnswServeSharded(spark, sf, idx)
      .queryExecution.executedPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.isEmpty,
      s"resident serve must not scan any table, got: ${scans.map(_.tableIdentifier)}")
  }

  test("sharded append invalidates EXACTLY the touched shard's residency; " +
      "untouched shards keep serving from memory") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val base = forgeCorpus(col("vec_id") < 100)
    val idx = java.nio.file.Files.createTempDirectory("hnsw-res-app").toString
    Hnsw.writeHnswIndexSharded(spark, base, idx, nShards = 4)
    Hnsw.ShardGraphCache.invalidate()
    Hnsw.driftChecked.clear()
    Hnsw.annHnswServeSharded(spark, base, idx).count() // populate residency
    val loads0 = Hnsw.ShardGraphCache.loadCount
    // additions all ≡ 0 (mod 4): append rewrites shard 0 only
    val grown = forgeCorpus(col("vec_id") < 100 ||
      (col("vec_id") < 160 && pmod(col("vec_id"), lit(4)) === 0))
    assert(Hnsw.appendHnswIndexSharded(spark, grown, idx) == 15L)
    val served = rows(Hnsw.annHnswServeSharded(spark, grown, idx, efSearch = 256))
    assert(served == rows(Similarity.annBruteForce(spark, grown)),
      "post-append serve must see the appended vectors (stale residency would miss them)")
    assert(Hnsw.ShardGraphCache.loadCount == loads0 + 1,
      "only the rewritten shard (new content stamp) may reload; " +
        s"got ${Hnsw.ShardGraphCache.loadCount - loads0} reloads")
  }

  test("an index REWRITTEN at the same path is never served stale — " +
      "content stamps, not paths, key residency") {
    val idx = java.nio.file.Files.createTempDirectory("hnsw-rewrite").toString
    Hnsw.writeHnswIndexSharded(spark, sf, idx, nShards = 4)
    Hnsw.ShardGraphCache.invalidate()
    Hnsw.driftChecked.clear()
    Hnsw.annHnswServeSharded(spark, sf, idx).count() // resident @ 4 shards
    // overwrite IN PLACE with a different shard count (a re-shard —
    // the operational event a path-keyed cache would serve stale)
    Hnsw.writeHnswIndexSharded(spark, sf, idx, nShards = 2)
    val served = rows(Hnsw.annHnswServeSharded(spark, sf, idx, efSearch = 256))
    assert(served == rows(Similarity.annBruteForce(spark, sf)),
      "serve after an in-place rewrite must reflect the new index")
    // regenerate BOTH under the same names: a corpus of 100 vectors
    // shrinks to 80 and the index is rebuilt over it in place. A
    // path-keyed residency or drift memo would serve the old graph
    // (ids 80-99 in the top-k = silently wrong); content stamps re-key
    import org.apache.spark.sql.functions.col
    val dir = forgeCorpus(col("vec_id") < 100)
    Hnsw.writeHnswIndexSharded(spark, dir, idx, nShards = 2)
    assert(rows(Hnsw.annHnswServeSharded(spark, dir, idx, efSearch = 256)) ==
      rows(Similarity.annBruteForce(spark, dir)))
    graft.Tables.embeddings(spark, sf).filter(col("vec_id") < 80)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Hnsw.writeHnswIndexSharded(spark, dir, idx, nShards = 2)
    assert(rows(Hnsw.annHnswServeSharded(spark, dir, idx, efSearch = 256)) ==
      rows(Similarity.annBruteForce(spark, dir)),
      "serve after an in-place corpus+index rewrite must reflect the new state")
  }

  test("serve refuses corpus/index drift in BOTH directions, loudly") {
    // Drift either way is silent recall loss (an indexed id the corpus
    // no longer holds, or a corpus vector no walk can reach) — so the
    // serve must refuse with a message naming the mismatch
    import org.apache.spark.sql.functions.col
    def forge(n: Int, from: Int = 0): String = {
      val d = java.nio.file.Files.createTempDirectory("hnsw-corpus").toString
      graft.Tables.embeddings(spark, sf)
        .filter(col("vec_id") >= from && col("vec_id") < from + n)
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      d
    }
    val base = forge(100)
    val idx = java.nio.file.Files.createTempDirectory("hnsw-drift").toString
    Hnsw.writeHnswIndexSharded(spark, base, idx, nShards = 2)
    Hnsw.driftChecked.clear()
    // corpus GREW past the index: un-indexed vectors are unreachable
    val grown = forge(120)
    val e1 = intercept[IllegalArgumentException] {
      Hnsw.annHnswServeSharded(spark, grown, idx).collect()
    }
    assert(e1.getMessage.contains("never saw") &&
      e1.getMessage.contains("appendHnswIndexSharded"), e1.getMessage)
    // corpus MISSING indexed ids: the index was built over another corpus
    val shifted = forge(100, from = 50)
    val e2 = intercept[IllegalArgumentException] {
      Hnsw.annHnswServeSharded(spark, shifted, idx).collect()
    }
    assert(e2.getMessage.contains("not in the corpus"), e2.getMessage)
    // and the drift check keys on the corpus dir: a passing serve
    // against `base` must not let the wrong dir through afterwards
    assert(Hnsw.annHnswServeSharded(spark, base, idx, nQueries = 3, k = 2)
      .count() > 0)
    intercept[IllegalArgumentException] { // same index, wrong dir again
      Hnsw.annHnswServeSharded(spark, grown, idx).collect()
    }
  }

  private def forgeCorpus(pick: org.apache.spark.sql.Column): String = {
    val d = java.nio.file.Files.createTempDirectory("hnsw-corpus").toString
    graft.Tables.embeddings(spark, sf).filter(pick)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("append refuses an index whose vectors the corpus lost") {
    import org.apache.spark.sql.functions.col
    val base = forgeCorpus(col("vec_id") < 100)
    val idx = java.nio.file.Files.createTempDirectory("hnsw-append-bad").toString
    Hnsw.writeHnswIndexSharded(spark, base, idx, nShards = 4)
    val shifted = forgeCorpus(col("vec_id") >= 50 && col("vec_id") < 150)
    val e = intercept[IllegalArgumentException] {
      Hnsw.appendHnswIndexSharded(spark, shifted, idx)
    }
    assert(e.getMessage.contains("not in the corpus"), e.getMessage)
  }

  test("sharded append: only affected shard partitions are rewritten, " +
      "serve catches up, replay idempotent") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val base = forgeCorpus(col("vec_id") < 100)
    val idx = java.nio.file.Files.createTempDirectory("hnsw-shappend").toString
    Hnsw.writeHnswIndexSharded(spark, base, idx, nShards = 4)
    // additions all ≡ 0 (mod 4): only shard 0 is affected
    val grown = forgeCorpus(col("vec_id") < 100 ||
      (col("vec_id") < 160 && pmod(col("vec_id"), lit(4)) === 0))
    // drift refusal names the sharded append
    val e = intercept[IllegalArgumentException] {
      Hnsw.annHnswServeSharded(spark, grown, idx).collect()
    }
    assert(e.getMessage.contains("never saw") &&
      e.getMessage.contains("appendHnswIndexSharded"), e.getMessage)
    def snapshot(s: Int): Seq[(String, Long, Long)] =
      new java.io.File(s"$idx/graph/shard=$s").listFiles().toSeq
        .map(f => (f.getName, f.length(), f.lastModified()))
    val untouchedBefore = (1 to 3).map(snapshot)
    assert(Hnsw.appendHnswIndexSharded(spark, grown, idx) == 15L)
    assert((1 to 3).map(snapshot) == untouchedBefore,
      "shards 1-3 got no new vectors and must not be rewritten")
    val served = rows(Hnsw.annHnswServeSharded(spark, grown, idx, efSearch = 256))
    assert(served == rows(Similarity.annBruteForce(spark, grown)),
      "exhaustive ef after append must equal brute force on the grown corpus")
    // the append re-stamped the index: serving the OLD corpus now
    // refuses (the index has ids base never had) with no manual
    // invalidation in between
    intercept[IllegalArgumentException] {
      Hnsw.annHnswServeSharded(spark, base, idx).collect()
    }
    assert(Hnsw.appendHnswIndexSharded(spark, grown, idx) == 0L, "replay must no-op")
    assert(rows(Hnsw.annHnswServeSharded(spark, grown, idx, efSearch = 256)) == served)
  }

  test("clustered-corpus recall: the Alg.-4 heuristic keeps the " +
      "long-range links simple selection starves") {
    // SCALE.md's DriveHnswScale finding as a regression gate: on a CLUSTERED
    // corpus, plain top-M neighbor selection fills every adjacency
    // list with same-cluster members and recall PLATEAUS (~0.58 at
    // ANY ef, measured at 1e5); heuristic selection keeps one edge
    // per direction and lifts it to ~0.97. Pin the healthy number on
    // a small deterministic clustered corpus, pure driver-side —
    // reverting the selection rule fails here, not in a ladder run.
    val nVec = 2000; val nClusters = 16; val dim = 16
    def jitter(id: Int, d: Int): Float = {
      import org.apache.spark.sql.catalyst.expressions.XXH64
      (Math.floorMod(XXH64.hashLong(id.toLong * dim + d, 7L), 1600L)
        / 100.0f) - 8.0f
    }
    val vecs = Array.tabulate(nVec) { id =>
      val g = id % nClusters
      Array.tabulate(dim)(d =>
        (Math.floorMod(g * (d + 7) + g * g * 13, 401) - 200).toFloat +
          jitter(id, d))
    }
    val ids = Array.tabulate(nVec)(_.toLong)
    val g = Hnsw.buildGraph(ids, vecs, 8, 96)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val visited = new java.util.BitSet(nVec)
    val recalls = (0 until 50).map { q =>
      val want = (0 until nVec).filter(_ != q)
        .sortBy(i => (-cos(vecs(q), vecs(i)), i)).take(5).toSet
      val got = Hnsw.search(g, vecs(q), 64, visited)
        .map(_._2).filter(_ != q).take(5).toSet
      (want & got).size / 5.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9,
      f"clustered recall@5 fell to $mean%.3f (heuristic selection " +
        "regressed? simple top-M plateaus near 0.6 here)")
  }

  test("every node is reachable at layer 0 (the connectivity the " +
      "ef=n exhaustiveness test leans on)") {
    val g = Hnsw.graphFor(spark, sf, 8, 96)
    val n = g.ids.length
    val seen = new java.util.BitSet(n)
    var stack = List(g.entry)
    seen.set(g.entry)
    while (stack.nonEmpty) {
      val cur = stack.head; stack = stack.tail
      g.layers(0)(cur).foreach { nb =>
        if (!seen.get(nb)) { seen.set(nb); stack = nb :: stack }
      }
    }
    assert(seen.cardinality() == n,
      s"layer-0 graph disconnected: ${seen.cardinality()} of $n reachable")
  }

  /** Canonical graph content: (shard, vec_id, level, neighbors,
    * level-0 vector) — file/row order erased, adjacency order kept
    * (the build is deterministic, so two builds of the same vectors at
    * the same dials must agree on the ARRAYS, not just the sets). */
  private def graphRowSet(idx: String): Set[String] = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(s"$idx/graph")
      .select(col("shard"), col("vec_id"), col("level"),
        col("neighbor_ids"), col("embedding"))
      .collect()
      .map { r =>
        val nb = r.getSeq[Long](3).mkString(",")
        val emb = if (r.isNullAt(4)) "" else r.getSeq[Float](4).mkString(",")
        s"${r.getInt(0)}|${r.getLong(1)}|${r.getInt(2)}|$nb|$emb"
      }.toSet
  }

  test("reshard: 4 → 8 equals a fresh build at 8 row-for-row, meta " +
      "re-pins nShards, a shrink leaves no stale shard dirs, equal " +
      "count no-ops") {
    val idx = java.nio.file.Files.createTempDirectory("hnsw-reshard").toString
    Hnsw.writeHnswIndexSharded(spark, sf, idx, nShards = 4)
    Hnsw.reshardHnswIndexSharded(spark, idx, 8)
    val fresh8 = java.nio.file.Files.createTempDirectory("hnsw-fresh8").toString
    Hnsw.writeHnswIndexSharded(spark, sf, fresh8, nShards = 8)
    assert(graphRowSet(idx) == graphRowSet(fresh8),
      "resharding must produce exactly the graph a fresh build at the " +
        "new count produces (same deterministic buildGraph per shard)")
    val meta = graft.sources.IndexMeta.readRaw(idx, "writeHnswIndexSharded")
    assert(graft.sources.IndexMeta.intField(meta, "nShards") == 8)
    // the re-pinned meta routes the NEXT append by the new modulo
    assert(rows(Hnsw.annHnswServeSharded(spark, sf, idx, efSearch = 256)) ==
      rows(Similarity.annBruteForce(spark, sf)))
    // shrink: old shard= dirs beyond the new count must vanish
    Hnsw.reshardHnswIndexSharded(spark, idx, 2)
    val dirs = new java.io.File(s"$idx/graph").listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).toSet
    assert(dirs == Set("shard=0", "shard=1"),
      s"shrink to 2 left stale shard dirs: $dirs")
    assert(rows(Hnsw.annHnswServeSharded(spark, sf, idx, efSearch = 256)) ==
      rows(Similarity.annBruteForce(spark, sf)))
    // equal count: no rewrite at all (file mtimes untouched)
    def snap() = new java.io.File(s"$idx/graph").listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("shard="))
      .flatMap(d => d.listFiles().toSeq.map(f => (f.getName, f.lastModified())))
      .sorted
    val before = snap()
    Hnsw.reshardHnswIndexSharded(spark, idx, 2)
    assert(snap() == before, "reshard to the current count must no-op")
  }

  test("batch append: a maintained index grown from NOTHING serves " +
      "exactly; intra-batch dup vec_ids collapse; replay appends 0; " +
      "dial mismatch refuses") {
    import org.apache.spark.sql.functions.col
    val ss = spark; import ss.implicits._
    val idx = java.nio.file.Files.createTempDirectory("hnsw-bappend").toString
    Hnsw.ensureShardedMeta(idx, 8, 96, 4)
    val corpus = forgeCorpus(col("vec_id") < 120)
    val emb = graft.Tables.embeddings(spark, corpus)
    // first batch CREATES graph/ (no offline seed build)
    assert(Hnsw.appendHnswIndexShardedBatch(spark, idx,
      emb.filter(col("vec_id") < 70)) == 70L)
    // second batch overlaps the first (re-delivery) AND duplicates one
    // of its own rows — both collapse
    val dupRow = emb.filter(col("vec_id") === 70L)
    assert(Hnsw.appendHnswIndexShardedBatch(spark, idx,
      emb.filter(col("vec_id") >= 60).unionAll(dupRow)) == 50L)
    assert(rows(Hnsw.annHnswServeSharded(spark, corpus, idx, efSearch = 256)) ==
      rows(Similarity.annBruteForce(spark, corpus)),
      "the batch-maintained index must serve the whole corpus exactly")
    assert(Hnsw.appendHnswIndexShardedBatch(spark, idx, emb) == 0L,
      "a full replay must left-anti away")
    val e = intercept[IllegalArgumentException] {
      Hnsw.ensureShardedMeta(idx, 8, 96, nShards = 8)
    }
    assert(e.getMessage.contains("dial mismatch"), e.getMessage)
  }

  test("segment append: a batch lands as ONE new shard= partition, " +
      "base shards stay byte-stable AND resident, serve is exact, " +
      "replay appends 0, reshard compacts the segments away") {
    import org.apache.spark.sql.functions.col
    val base = forgeCorpus(col("vec_id") < 100)
    val idx = java.nio.file.Files.createTempDirectory("hnsw-seg").toString
    Hnsw.writeHnswIndexSharded(spark, base, idx, nShards = 4)
    Hnsw.ShardGraphCache.invalidate(); Hnsw.driftChecked.clear()
    Hnsw.annHnswServeSharded(spark, base, idx).count() // residency warm
    val loads0 = Hnsw.ShardGraphCache.loadCount
    def shardDirs() = new java.io.File(s"$idx/graph").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("shard="))
      .map(_.getName).toSet
    def snapshot(s: Int) = new java.io.File(s"$idx/graph/shard=$s")
      .listFiles().toSeq.map(f => (f.getName, f.length(), f.lastModified()))
    val basesBefore = (0 to 3).map(snapshot)
    val grown = forgeCorpus(col("vec_id") < 130)
    val emb = graft.Tables.embeddings(spark, grown)
    assert(Hnsw.appendHnswIndexSegment(spark, idx,
      emb.filter(col("vec_id") >= 100)) == 30L)
    assert(shardDirs() == Set("shard=0", "shard=1", "shard=2", "shard=3", "shard=4"),
      "the batch must land as exactly one NEW partition")
    assert((0 to 3).map(snapshot) == basesBefore,
      "a segment append must not rewrite any base shard")
    val served = rows(Hnsw.annHnswServeSharded(spark, grown, idx, efSearch = 256))
    assert(served == rows(Similarity.annBruteForce(spark, grown)),
      "fan-out serve must be exact over base shards + the segment")
    assert(Hnsw.ShardGraphCache.loadCount == loads0 + 1,
      "only the new segment may load; base residency must survive the append")
    assert(Hnsw.appendHnswIndexSegment(spark, idx, emb) == 0L,
      "a full replay must left-anti away")
    assert(shardDirs().size == 5, "a 0-vector replay must write NO segment")
    // compaction: reshard reads segments too and restores id-modulo
    Hnsw.reshardHnswIndexSharded(spark, idx, 8)
    assert(shardDirs() == (0 to 7).map(s => s"shard=$s").toSet,
      "reshard must fold the segments back into the balanced layout")
    assert(rows(Hnsw.annHnswServeSharded(spark, grown, idx, efSearch = 256)) ==
      rows(Similarity.annBruteForce(spark, grown)))
    // EQUAL-COUNT compaction: with a segment present, reshard to the
    // CURRENT count must still compact (the no-op guard checks the
    // layout, not just the meta count)
    val grown2 = forgeCorpus(col("vec_id") < 140)
    assert(Hnsw.appendHnswIndexSegment(spark, idx,
      graft.Tables.embeddings(spark, grown2).filter(col("vec_id") >= 130)) == 10L)
    assert(shardDirs().size == 9)
    Hnsw.reshardHnswIndexSharded(spark, idx, 8)
    assert(shardDirs() == (0 to 7).map(s => s"shard=$s").toSet,
      "equal-count reshard must compact segments, not no-op")
    assert(rows(Hnsw.annHnswServeSharded(spark, grown2, idx, efSearch = 256)) ==
      rows(Similarity.annBruteForce(spark, grown2)))
  }

  test("a failed segment write's EMPTY shard dir neither breaks serve " +
      "nor gets reused for the next segment") {
    import org.apache.spark.sql.functions.col
    val base = forgeCorpus(col("vec_id") < 100)
    val idx = java.nio.file.Files.createTempDirectory("hnsw-empty").toString
    Hnsw.writeHnswIndexSharded(spark, base, idx, nShards = 4)
    // the debris a committer abort leaves: a shard= dir with no
    // visible files (only working-file droppings)
    val debris = new java.io.File(s"$idx/graph/shard=4")
    debris.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(debris.getPath, "_temporary"),
      Array.empty[Byte])
    Hnsw.ShardGraphCache.invalidate(); Hnsw.driftChecked.clear()
    assert(rows(Hnsw.annHnswServeSharded(spark, base, idx, efSearch = 256)) ==
      rows(Similarity.annBruteForce(spark, base)),
      "serve must skip the empty partition, not refuse on it")
    // the next segment allocates PAST the debris (never reuse a dir a
    // concurrent abort may still touch)
    val grown = forgeCorpus(col("vec_id") < 110)
    assert(Hnsw.appendHnswIndexSegment(spark, idx,
      graft.Tables.embeddings(spark, grown).filter(col("vec_id") >= 100)) == 10L)
    assert(new java.io.File(s"$idx/graph/shard=5").isDirectory,
      "segment ids must allocate past the empty dir")
    assert(rows(Hnsw.annHnswServeSharded(spark, grown, idx, efSearch = 256)) ==
      rows(Similarity.annBruteForce(spark, grown)))
  }

  test("sharded serve re-validates drift after an IN-PLACE corpus " +
      "rewrite — the drift check is corpus-stamped, not corpus-pathed") {
    import org.apache.spark.sql.functions.col
    val dir = forgeCorpus(col("vec_id") < 100)
    val idx = java.nio.file.Files.createTempDirectory("hnsw-driftstamp").toString
    Hnsw.writeHnswIndexSharded(spark, dir, idx, nShards = 4)
    Hnsw.driftChecked.clear()
    assert(rows(Hnsw.annHnswServeSharded(spark, dir, idx, efSearch = 256)) ==
      rows(Similarity.annBruteForce(spark, dir))) // drift check cached
    // regenerate the corpus under the SAME path with a smaller id set:
    // the index now holds ids 80-99 that no corpus row backs — a
    // path-keyed drift cache would skip the check and serve them
    graft.Tables.embeddings(spark, sf).filter(col("vec_id") < 80)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      Hnsw.annHnswServeSharded(spark, dir, idx).collect()
    }
    assert(e.getMessage.contains("not in the corpus"), e.getMessage)
  }

  test("streaming maintain: hnswMaintainQuery grows the index per " +
      "micro-batch, serves exactly, and a full replay changes nothing") {
    import org.apache.spark.sql.functions.col
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = forgeCorpus(col("vec_id") < 100)
    val feed = graft.Tables.embeddings(spark, corpus)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val idx = java.nio.file.Files.createTempDirectory("hnsw-stream").toString
    def runFeed(): Unit = {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])]
      val ckpt = java.nio.file.Files.createTempDirectory("hnsw-sckpt").toString
      val q = graft.streaming.Runner.hnswMaintainQuery(spark, idx,
        mem.toDS().toDF("vec_id", "embedding"), ckpt, nShards = 4)
      try {
        mem.addData(feed.take(60).toSeq); q.processAllAvailable()
        mem.addData(feed.drop(60).toSeq); q.processAllAvailable()
      } finally q.stop()
    }
    runFeed()
    assert(rows(Hnsw.annHnswServeSharded(spark, corpus, idx, efSearch = 256)) ==
      rows(Similarity.annBruteForce(spark, corpus)),
      "the stream-maintained index must serve the fed corpus exactly")
    // segmented default: each busy batch is its own partition
    assert(new java.io.File(s"$idx/graph").listFiles()
      .count(d => d.isDirectory && d.getName.startsWith("shard=")) == 2,
      "two fed batches under the segmented default = two segments")
    val content = graphRowSet(idx)
    // replay the SAME feed from a fresh checkpoint: the diff-driven
    // append is idempotent, so the graph must not change at all
    runFeed()
    assert(graphRowSet(idx) == content, "replay changed the index")
    // the routed (segmented = false) mode reaches the same serve
    // verdicts from the same feed — modes differ in COST shape only
    val idxR = java.nio.file.Files.createTempDirectory("hnsw-streamR").toString
    val memR = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val ckptR = java.nio.file.Files.createTempDirectory("hnsw-sckptR").toString
    val qR = graft.streaming.Runner.hnswMaintainQuery(spark, idxR,
      memR.toDS().toDF("vec_id", "embedding"), ckptR, nShards = 4,
      segmented = false)
    try {
      memR.addData(feed.take(60).toSeq); qR.processAllAvailable()
      memR.addData(feed.drop(60).toSeq); qR.processAllAvailable()
    } finally qR.stop()
    assert(rows(Hnsw.annHnswServeSharded(spark, corpus, idxR, efSearch = 256)) ==
      rows(Similarity.annBruteForce(spark, corpus)),
      "the routed mode must serve the fed corpus exactly too")
    // a restarted stream passing different dials refuses loudly: the
    // first replayed batch hits ensureShardedMeta's create-or-match
    val mem2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val ckpt2 = java.nio.file.Files.createTempDirectory("hnsw-sckpt2").toString
    val q2 = graft.streaming.Runner.hnswMaintainQuery(spark, idx,
      mem2.toDS().toDF("vec_id", "embedding"), ckpt2, m = 4, nShards = 4)
    try {
      mem2.addData(feed.take(1).toSeq)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(chain.contains("dial mismatch"), chain)
    } finally q2.stop()
  }

  test("maintain merge policy: crossing compactEverySegments folds the " +
      "segments back to the balanced nShards layout mid-stream; serve " +
      "stays exact and a full replay changes nothing") {
    import org.apache.spark.sql.functions.col
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = forgeCorpus(col("vec_id") < 120)
    val feed = graft.Tables.embeddings(spark, corpus)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val batches = feed.grouped(30).toSeq // 4 batches of 30
    val idx = java.nio.file.Files.createTempDirectory("hnsw-compact").toString
    def runFeed(perBatch: Int => Unit): Unit = {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])]
      val ckpt = java.nio.file.Files.createTempDirectory("hnsw-cckpt").toString
      val q = graft.streaming.Runner.hnswMaintainQuery(spark, idx,
        mem.toDS().toDF("vec_id", "embedding"), ckpt, nShards = 2,
        compactEverySegments = 3)
      try batches.zipWithIndex.foreach { case (b, i) =>
        mem.addData(b.toSeq); q.processAllAvailable(); perBatch(i)
      } finally q.stop()
    }
    runFeed { i =>
      val n = Hnsw.shardPartitionCount(spark, idx)
      i match {
        case 0 => assert(n == 1, s"one segment after one batch, got $n")
        case 1 => assert(n == 2, s"two segments after two batches, got $n")
        // batch 3 lands segment #3 → the policy folds back to nShards;
        // batch 4 lands one more → 3 partitions → folds again
        case _ => assert(n == 2,
          s"post-threshold batches must end FOLDED at nShards=2, got $n")
      }
    }
    // the folded layout is the balanced id-modulo one reshard writes
    assert(Hnsw.shardPartitionCount(spark, idx) == 2)
    assert(rows(Hnsw.annHnswServeSharded(spark, corpus, idx, efSearch = 256)) ==
      rows(Similarity.annBruteForce(spark, corpus)),
      "the compacted stream-maintained index must serve the corpus exactly")
    val content = graphRowSet(idx)
    // full replay from a fresh checkpoint: every batch appends 0, the
    // partition count never re-crosses the threshold, nothing rewrites
    runFeed { _ =>
      assert(Hnsw.shardPartitionCount(spark, idx) == 2,
        "a replayed batch must not grow the folded index")
    }
    assert(graphRowSet(idx) == content, "replay changed the index")
  }

  test("composed online vector store: a maintain stream and a serve " +
      "stream on ONE index — every serve batch answers exactly from " +
      "the index state committed before it, across segment appends AND " +
      "an in-loop compaction, ending equal to brute force") {
    import org.apache.spark.sql.functions.col
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = forgeCorpus(col("vec_id") < 120)
    val emb = graft.Tables.embeddings(spark, corpus)
    val feed = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val queries = feed.take(5) // ids 0-4: indexed from the first batch on
    val queriesDf = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val idx = java.nio.file.Files.createTempDirectory("hnsw-online").toString
    val outDir = java.nio.file.Files.createTempDirectory("hnsw-online-out").toString
    val memV = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val memQ = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val qM = graft.streaming.Runner.hnswMaintainQuery(spark, idx,
      memV.toDS().toDF("vec_id", "embedding"),
      java.nio.file.Files.createTempDirectory("hnsw-online-ckm").toString,
      nShards = 2, compactEverySegments = 3)
    val qS = graft.streaming.Runner.hnswServeQuery(spark, idx,
      memQ.toDS().toDF("query_id", "embedding"), outDir,
      java.nio.file.Files.createTempDirectory("hnsw-online-cks").toString,
      k = 5, efSearch = 256)
    try {
      // 4 maintain batches of 30; batch 3 lands segment #3 and the
      // in-loop policy folds to the balanced 2-shard layout, batch 4
      // appends one more segment and folds again — the serve stream
      // rides through both layouts
      feed.grouped(30).zipWithIndex.foreach { case (batch, i) =>
        memV.addData(batch.toSeq); qM.processAllAvailable()
        memQ.addData(queries.toSeq); qS.processAllAvailable()
        val got = rows(spark.read.parquet(outDir)
          .filter(col("batch_id") === i.toLong).drop("batch_id"))
        val want = rows(Hnsw.annHnswServeShardedQueries(spark, idx,
          queriesDf, k = 5, efSearch = 256))
        assert(got == want,
          s"serve batch $i diverged from the committed index state")
      }
      assert(Hnsw.shardPartitionCount(spark, idx) == 2,
        "the composition must end compacted at nShards")
      assert(rows(spark.read.parquet(outDir)
        .filter(col("batch_id") === 3L).drop("batch_id")) ==
        rows(Similarity.annBruteForce(spark, corpus, nQueries = 5)),
        "the final serve batch must equal brute force over the full corpus")
    } finally { qM.stop(); qS.stop() }
  }

  test("online HNSW serve: hnswServeQuery answers a query stream from " +
      "the at-rest sharded index batch-for-batch equal to the batch " +
      "serve, reusing resident shard graphs across batches; a replayed " +
      "batch rewrites its own partition idempotently") {
    import org.apache.spark.sql.functions.col
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = forgeCorpus(col("vec_id") < 100)
    val idx = java.nio.file.Files.createTempDirectory("hnsw-oserve").toString
    Hnsw.writeHnswIndexSharded(spark, corpus, idx, nShards = 4)
    val emb = graft.Tables.embeddings(spark, corpus)
    val qvecs = emb.select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 10)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val outDir = java.nio.file.Files.createTempDirectory("hnsw-oserve-out").toString
    def answered(batchId: Long): Set[String] =
      rows(spark.read.parquet(outDir)
        .filter(col("batch_id") === batchId)
        .drop("batch_id"))
    def runServe(feeds: Seq[Seq[(Long, Array[Float])]], ckpt: String): Unit = {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])]
      val q = graft.streaming.Runner.hnswServeQuery(spark, idx,
        mem.toDS().toDF("query_id", "embedding"), outDir, ckpt,
        k = 5, efSearch = 256)
      try feeds.foreach { f => mem.addData(f); q.processAllAvailable() }
      finally q.stop()
    }
    Hnsw.ShardGraphCache.invalidate()
    val ckpt1 = java.nio.file.Files.createTempDirectory("hnsw-ockpt").toString
    runServe(Seq(qvecs.take(5).toSeq, qvecs.drop(5).toSeq), ckpt1)
    // batch 0's query set IS annHnswServeSharded's nQueries=5 set —
    // the online path must reproduce the batch serve row-for-row
    assert(answered(0L) ==
      rows(Hnsw.annHnswServeSharded(spark, corpus, idx, nQueries = 5,
        efSearch = 256)),
      "stream serve batch 0 != batch serve on the same query set")
    assert(answered(1L) ==
      rows(Hnsw.annHnswServeShardedQueries(spark, idx,
        emb.filter(col("vec_id") >= 5 && col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding")),
        k = 5, efSearch = 256)),
      "stream serve batch 1 != caller-queries batch serve")
    // residency: the second batch reloaded nothing (4 shards loaded
    // once — by either the stream's first batch or the comparison
    // serves above, all hitting the same content stamps)
    val loadsBefore = Hnsw.ShardGraphCache.loadCount
    val ckpt2 = java.nio.file.Files.createTempDirectory("hnsw-ockpt2").toString
    runServe(Seq(qvecs.take(5).toSeq), ckpt2)
    assert(Hnsw.ShardGraphCache.loadCount == loadsBefore,
      "a repeat serve batch must reuse the resident shard graphs")
    // the replay (fresh checkpoint, same batch id) rewrote batch 0's
    // partition with the same answers — the K5 idempotent sink
    assert(answered(0L) ==
      rows(Hnsw.annHnswServeSharded(spark, corpus, idx, nQueries = 5,
        efSearch = 256)))
  }

  test("bounded diff: a genuinely-new batch resolves freshness from " +
      "the id-bloom alone (no exact-check fallback, no rebuild); " +
      "replays and dup rows still left-anti to 0 through the fallback") {
    import org.apache.spark.sql.functions.col
    val corpus = forgeCorpus(col("vec_id") < 140)
    val emb = graft.Tables.embeddings(spark, corpus)
    val idx = java.nio.file.Files.createTempDirectory("hnsw-bloom").toString
    Hnsw.ensureShardedMeta(idx, 8, 96, 4)
    Hnsw.IdBloom.memo.clear()
    val rb0 = Hnsw.IdBloom.rebuildCount
    val fb0 = Hnsw.IdBloom.fallbackCount
    // three all-new batches: the steady state — the diff must come
    // from the bloom probe alone (fpp=1e-6 on tiny batches: no FPs)
    assert(Hnsw.appendHnswIndexSegment(spark, idx,
      emb.filter(col("vec_id") < 50)) == 50L)
    assert(Hnsw.appendHnswIndexSegment(spark, idx,
      emb.filter(col("vec_id") >= 50 && col("vec_id") < 100)) == 50L)
    assert(Hnsw.appendHnswIndexSegment(spark, idx,
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 120)) == 20L)
    assert(Hnsw.IdBloom.fallbackCount == fb0,
      "all-new batches must take ZERO exact-check fallbacks")
    assert(Hnsw.IdBloom.rebuildCount == rb0,
      "the maintained sidecar must never need a rebuild")
    // a full replay: every id is a bloom hit → the exact check runs
    // once and confirms nothing is fresh
    assert(Hnsw.appendHnswIndexSegment(spark, idx,
      emb.filter(col("vec_id") < 120)) == 0L)
    assert(Hnsw.IdBloom.fallbackCount == fb0 + 1,
      "a replay goes through the exact check — and appends 0")
    // overlap + intra-batch dup: only the truly-new ids land
    assert(Hnsw.appendHnswIndexSegment(spark, idx,
      emb.filter(col("vec_id") >= 110 && col("vec_id") < 130)
        .unionAll(emb.filter(col("vec_id") === 125L))) == 10L)
    val served = forgeCorpus(col("vec_id") < 130)
    Hnsw.ShardGraphCache.invalidate(); Hnsw.driftChecked.clear()
    assert(rows(Hnsw.annHnswServeSharded(spark, served, idx, efSearch = 256))
      == rows(Similarity.annBruteForce(spark, served)))
    // session restart (memo cold): the SIDECAR answers — no rebuild —
    // and idempotence still holds
    Hnsw.IdBloom.memo.clear()
    val rb1 = Hnsw.IdBloom.rebuildCount
    assert(Hnsw.appendHnswIndexSegment(spark, idx,
      emb.filter(col("vec_id") < 130)) == 0L)
    assert(Hnsw.IdBloom.rebuildCount == rb1,
      "a cold memo must read the sidecar, not rescan level-0")
    // an out-of-band id-set change (routed append with no valid bloom
    // present) DROPS the sidecar; the next segment append rebuilds it
    // from one scan and stays idempotent
    Hnsw.IdBloom.memo.clear()
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$idx/_idbloom"))
    val grown = forgeCorpus(col("vec_id") < 135)
    assert(Hnsw.appendHnswIndexShardedBatch(spark, idx,
      graft.Tables.embeddings(spark, grown)
        .filter(col("vec_id") >= 130)) == 5L)
    val rb2 = Hnsw.IdBloom.rebuildCount
    assert(Hnsw.appendHnswIndexSegment(spark, idx,
      graft.Tables.embeddings(spark, grown)) == 0L,
      "post-rebuild idempotence: the whole corpus is already indexed")
    assert(Hnsw.IdBloom.rebuildCount == rb2 + 1,
      "no valid sidecar after the out-of-band path → exactly one rebuild")
    // reshard preserves the id set → the bloom CARRIES OVER: the next
    // replay needs neither rebuild nor (bloom-miss) fresh inserts
    Hnsw.reshardHnswIndexSharded(spark, idx, 8)
    assert(Hnsw.appendHnswIndexSegment(spark, idx,
      graft.Tables.embeddings(spark, grown)) == 0L)
    assert(Hnsw.IdBloom.rebuildCount == rb2 + 1,
      "a valid bloom must survive reshard via carry-over, not rebuild")
    // routed append WITH a valid bloom folds its ids in: the following
    // segment replay sees them with no rebuild
    val grown2 = forgeCorpus(col("vec_id") < 140)
    assert(Hnsw.appendHnswIndexShardedBatch(spark, idx,
      graft.Tables.embeddings(spark, grown2)
        .filter(col("vec_id") >= 135)) == 5L)
    assert(Hnsw.appendHnswIndexSegment(spark, idx,
      graft.Tables.embeddings(spark, grown2)) == 0L)
    assert(Hnsw.IdBloom.rebuildCount == rb2 + 1,
      "the routed fold must keep the sidecar valid — no rebuild")
    // changing -Dgraft.hnsw.bloomCapacity mid-life must NOT break the
    // sidecar: increments build at the sidecar's PERSISTED capacity,
    // so merges stay compatible by construction; the new value takes
    // effect only at the next rebuild
    val prevCap = sys.props.get("graft.hnsw.bloomCapacity")
    try {
      sys.props("graft.hnsw.bloomCapacity") = "1234"
      Hnsw.IdBloom.memo.clear() // force the sidecar read path
      val grown3 = forgeCorpus(col("vec_id") < 150)
      assert(Hnsw.appendHnswIndexSegment(spark, idx,
        graft.Tables.embeddings(spark, grown3)
          .filter(col("vec_id") >= 140)) == 10L)
      assert(Hnsw.appendHnswIndexSegment(spark, idx,
        graft.Tables.embeddings(spark, grown3)) == 0L,
        "a capacity flip must neither invalidate the sidecar nor break merges")
      assert(Hnsw.IdBloom.rebuildCount == rb2 + 1,
        "a capacity flip alone must not trigger a rebuild")
    } finally prevCap match {
      case Some(v) => sys.props("graft.hnsw.bloomCapacity") = v
      case None => sys.props.remove("graft.hnsw.bloomCapacity"); ()
    }
  }

  test("drift-check memo stays ONE live entry per served index under " +
      "the maintain-then-serve steady state (stale stamps purged)") {
    import org.apache.spark.sql.functions.col
    val corpus = forgeCorpus(col("vec_id") < 100)
    val idx = java.nio.file.Files.createTempDirectory("hnsw-driftleak").toString
    Hnsw.writeHnswIndexSharded(spark, corpus, idx, nShards = 4)
    Hnsw.driftChecked.clear()
    // the designed steady state: maintain batch → serve, repeated —
    // every batch mints a NEW index stamp (and the in-place corpus
    // growth a new corpus stamp), so without the purge each cycle
    // would add one dead entry forever
    (0 until 3).foreach { i =>
      graft.Tables.embeddings(spark, sf)
        .filter(col("vec_id") < 100 + 10 * (i + 1))
        .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
      Hnsw.appendHnswIndexSegment(spark, idx,
        graft.Tables.embeddings(spark, corpus)
          .filter(col("vec_id") >= 100 + 10 * i))
      Hnsw.annHnswServeSharded(spark, corpus, idx, efSearch = 256).count()
    }
    assert(Hnsw.driftChecked.size == 1,
      s"stale drift entries must purge, got ${Hnsw.driftChecked.size}")
  }

  test("a crash between reshard's delete and rename auto-recovers: the " +
      "stranded complete staging is renamed in by serve, segment append " +
      "and reshard — never overwritten by a fresh tiny segment") {
    import org.apache.spark.sql.functions.col
    val corpus = forgeCorpus(col("vec_id") < 100)
    val idx = java.nio.file.Files.createTempDirectory("hnsw-crash").toString
    Hnsw.writeHnswIndexSharded(spark, corpus, idx, nShards = 4)
    val exact = rows(Similarity.annBruteForce(spark, corpus))
    def forgeCrash(): Unit = {
      // graph/ carries _SUCCESS from its own committed write, so the
      // moved dir is exactly the complete staged copy the swap leaves
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$idx/graph"),
        java.nio.file.Paths.get(s"$idx/.staging-reshard"))
      assert(new java.io.File(s"$idx/.staging-reshard/_SUCCESS").exists())
    }
    forgeCrash()
    Hnsw.ShardGraphCache.invalidate(); Hnsw.driftChecked.clear()
    assert(rows(Hnsw.annHnswServeSharded(spark, corpus, idx, efSearch = 256))
      == exact, "serve must auto-recover the stranded staging")
    assert(new java.io.File(s"$idx/graph/shard=0").isDirectory &&
      !new java.io.File(s"$idx/.staging-reshard").exists(),
      "recovery must be the one rename, not a copy")
    // segment append on the crashed state: recover FIRST, then diff —
    // a fresh-index append here would write a near-empty segment and
    // strand the full copy
    forgeCrash()
    val grown = forgeCorpus(col("vec_id") < 110)
    assert(Hnsw.appendHnswIndexSegment(spark, idx,
      graft.Tables.embeddings(spark, grown)) == 10L,
      "append must diff against the RECOVERED graph (10 new), not " +
        "treat the index as empty (110)")
    assert(rows(Hnsw.annHnswServeSharded(spark, grown, idx, efSearch = 256))
      == rows(Similarity.annBruteForce(spark, grown)))
    // reshard on the crashed state completes instead of refusing
    forgeCrash()
    Hnsw.reshardHnswIndexSharded(spark, idx, 8)
    assert(rows(Hnsw.annHnswServeSharded(spark, grown, idx, efSearch = 256))
      == rows(Similarity.annBruteForce(spark, grown)))
    // an INCOMPLETE staging (no _SUCCESS) is not content: nothing to
    // recover, the empty-index refusal stays loud
    val idx2 = java.nio.file.Files.createTempDirectory("hnsw-crash2").toString
    Hnsw.ensureShardedMeta(idx2, 8, 96, 4)
    new java.io.File(s"$idx2/.staging-reshard/shard=0").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$idx2/.staging-reshard/shard=0/part-0"),
      Array[Byte](1))
    val e = intercept[IllegalArgumentException] {
      Hnsw.reshardHnswIndexSharded(spark, idx2, 8)
    }
    assert(e.getMessage.contains("nothing to reshard"), e.getMessage)
  }

  test("the reshard swap is rename+rename: no moved-aside old copy " +
      "survives a completed reshard, and recovery from a mid-swap crash " +
      "drops the superseded trash alongside renaming the staging in") {
    import org.apache.spark.sql.functions.col
    val corpus = forgeCorpus(col("vec_id") < 80)
    val idx = java.nio.file.Files.createTempDirectory("hnsw-trash").toString
    Hnsw.writeHnswIndexSharded(spark, corpus, idx, nShards = 2)
    Hnsw.reshardHnswIndexSharded(spark, idx, 4)
    assert(!new java.io.File(s"$idx/.trash-reshard").exists(),
      "the deferred delete must remove the old copy once the swap lands")
    assert(rows(Hnsw.annHnswServeSharded(spark, corpus, idx, efSearch = 256))
      == rows(Similarity.annBruteForce(spark, corpus)))
    // fabricate the between-renames crash: graph/ moved ASIDE (trash
    // holds the pre-swap copy), staged copy complete, graph/ absent
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$idx/graph"),
      java.nio.file.Paths.get(s"$idx/.staging-reshard"))
    new java.io.File(s"$idx/.trash-reshard/shard=0").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$idx/.trash-reshard/shard=0/part-0"),
      Array[Byte](1)) // stale bytes — must be dropped, never read
    Hnsw.ShardGraphCache.invalidate(); Hnsw.driftChecked.clear()
    assert(rows(Hnsw.annHnswServeSharded(spark, corpus, idx, efSearch = 256))
      == rows(Similarity.annBruteForce(spark, corpus)),
      "recovery must serve from the authoritative staged copy")
    assert(!new java.io.File(s"$idx/.trash-reshard").exists(),
      "recovery must drop the superseded moved-aside copy")
    assert(!new java.io.File(s"$idx/.staging-reshard").exists())
  }

  test("hnswMaintainQuery refuses compactEverySegments in (0, nShards] " +
      "loudly AT START: the fold lands nShards partitions and every " +
      "batch adds one, so such a threshold would full-rebuild per trigger") {
    val ss = spark; import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val idx = java.nio.file.Files.createTempDirectory("hnsw-degen").toString
    val ckpt = java.nio.file.Files.createTempDirectory("hnsw-degen-ck").toString
    Seq(4, 2, 1).foreach { t => // == nShards, inside (0, nShards), floor
      val e = intercept[IllegalArgumentException] {
        graft.streaming.Runner.hnswMaintainQuery(spark, idx,
          mem.toDS().toDF("vec_id", "embedding"), ckpt, nShards = 4,
          compactEverySegments = t)
      }
      assert(e.getMessage.contains("compactEverySegments"), e.getMessage)
    }
    // 0 (off) and nShards+1 construct fine — stop immediately, unfed
    graft.streaming.Runner.hnswMaintainQuery(spark, idx,
      mem.toDS().toDF("vec_id", "embedding"), ckpt, nShards = 4,
      compactEverySegments = 0).stop()
    graft.streaming.Runner.hnswMaintainQuery(spark, idx,
      mem.toDS().toDF("vec_id", "embedding"), ckpt, nShards = 4,
      compactEverySegments = 5).stop()
  }

  test("id-bloom rebuild AUTO-SIZES from the observed id count: an " +
      "over-capacity index saturates loudly (counter + fallbacks), and " +
      "after one rebuild the steady state takes zero fallbacks again") {
    import org.apache.spark.sql.functions.col
    val corpus = forgeCorpus(col("vec_id") < 350)
    val emb = graft.Tables.embeddings(spark, corpus)
    val idx = java.nio.file.Files.createTempDirectory("hnsw-bloomsize").toString
    val prevCap = sys.props.get("graft.hnsw.bloomCapacity")
    try {
      sys.props("graft.hnsw.bloomCapacity") = "20" // tiny -D floor
      Hnsw.IdBloom.memo.clear()
      Hnsw.ensureShardedMeta(idx, 8, 96, 4)
      // creation at cap=20, then 200 ids folded in → the filter runs
      // far past its design fpp: a fresh 50-id batch gets flagged
      // "maybe indexed" almost everywhere — false positives that cost
      // an exact scan each. Correctness must hold anyway (the exact
      // fallback), and the saturation signal must fire.
      assert(Hnsw.appendHnswIndexSegment(spark, idx,
        emb.filter(col("vec_id") < 200)) == 200L)
      val fb0 = Hnsw.IdBloom.fallbackCount
      val sat0 = Hnsw.IdBloom.saturationCount
      assert(Hnsw.appendHnswIndexSegment(spark, idx,
        emb.filter(col("vec_id") >= 200 && col("vec_id") < 250)) == 50L,
        "saturation must never cost correctness — all 50 fresh ids land")
      assert(Hnsw.IdBloom.fallbackCount > fb0,
        "a saturated bloom flags fresh ids 'maybe' → exact fallback")
      assert(Hnsw.IdBloom.saturationCount > sat0,
        ">=10% false 'maybe' flags must fire the loud saturation signal")
      // operator response: force a rebuild (drop the sidecar) — the
      // rebuild scans the ids anyway, so it sizes the new filter from
      // the OBSERVED count (2x slack), not the stale -D floor
      Hnsw.IdBloom.memo.clear()
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$idx/_idbloom"))
      val rb0 = Hnsw.IdBloom.rebuildCount
      assert(Hnsw.appendHnswIndexSegment(spark, idx,
        emb.filter(col("vec_id") >= 250 && col("vec_id") < 300)) == 50L)
      assert(Hnsw.IdBloom.rebuildCount == rb0 + 1)
      val stamp = graft.sources.ContentStamp.of(spark, s"$idx/graph")
      val cap = Hnsw.IdBloom.validFor(spark, idx, stamp).map(_._1)
      assert(cap.contains(500L), // max(20, 2 x 250 observed at rebuild)
        s"rebuild must size from the observed id count, got $cap")
      // steady state restored: an all-new batch at 10x+ the -D floor
      // resolves from the bloom alone — zero fallbacks, zero signals
      val fb1 = Hnsw.IdBloom.fallbackCount
      val sat1 = Hnsw.IdBloom.saturationCount
      assert(Hnsw.appendHnswIndexSegment(spark, idx,
        emb.filter(col("vec_id") >= 300 && col("vec_id") < 350)) == 50L)
      assert(Hnsw.IdBloom.fallbackCount == fb1,
        "post-rebuild all-new batches must take ZERO exact fallbacks")
      assert(Hnsw.IdBloom.saturationCount == sat1)
      // and idempotence still holds across the resize
      assert(Hnsw.appendHnswIndexSegment(spark, idx,
        emb.filter(col("vec_id") < 350)) == 0L)
    } finally prevCap match {
      case Some(v) => sys.props("graft.hnsw.bloomCapacity") = v
      case None => sys.props.remove("graft.hnsw.bloomCapacity"); ()
    }
  }
}
