package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** HNSW-style graph ANN — encode family #5, and the first family whose
  * index is a NAVIGABLE GRAPH rather than an inverted file (Malkov &
  * Yashunin 2016, the structure behind most modern vector stores).
  *
  * Division of labor (the pattern every graft ANN family follows —
  * candidate GENERATION may approximate, SCORING is exact Spark):
  * the graph is built and searched ON THE DRIVER behind the loud
  * `driverMaxVectors` bound (the union-find `driverMaxEdges` pattern:
  * a graph walk is inherently sequential random access — no Spark
  * operator expresses it without one round-trip per hop — so the
  * honest formulation is a bounded driver structure, refusing loudly
  * past the bound), and each query's ef-search SHORTLIST is rescored
  * IN SPARK with the same `cosine` expression and (cos desc, vec_id)
  * window every other family uses. Gate equality with the exact v1
  * sweep therefore only needs the shortlist to CONTAIN the true
  * top-k — the IVF families' recall-complete-dial contract, probed by
  * the same `tools/Probe` harness (family `hnsw`, dial `efSearch`) and
  * auto-demoted by Verify if a regenerated corpus ever breaks it.
  *
  * 100 TB story: HNSW is the IN-MEMORY SERVING family — the graph (a
  * few hundred bytes/vector) lives where the search runs. At corpus
  * scale you shard: one graph per corpus partition, fan the query to
  * every shard, merge top-k (exactly how distributed vector stores
  * deploy HNSW). Here the driver IS the one serving shard, the bound
  * is explicit, and `driverMaxVectors` names the sharded path instead
  * of silently collecting a corpus that doesn't fit.
  *
  * Determinism (the gate precondition): level assignment is
  * hash-derived (no RNG state), insertion order is ascending vec_id,
  * all candidate orderings break ties on (distance, id), and
  * distances are sequential double folds — the same graph and the
  * same shortlists on every run, so recall-completeness on a pinned
  * corpus is a fact the probe can check, not a probability. */
object Hnsw {

  /** Refuse-loudly bound for the driver-held graph (vectors + adjacency
    * both live on the driver during build/search). 64-dim floats at
    * 2M vectors ≈ 0.5 GB + adjacency ≈ 0.13 GB — comfortable; past it,
    * shard the corpus and merge per-shard top-k (see class doc). */
  val driverMaxVectors: Int = 2000000

  /** In-memory graph: `ids` maps node index → vec_id (ascending),
    * `vecs` the corpus vectors, `layers(l)(node)` the adjacency at
    * level l (empty array when the node doesn't reach l). */
  final class Graph(val ids: Array[Long], val vecs: Array[Array[Float]],
                    val layers: Array[Array[Array[Int]]],
                    val entry: Int, val maxLevel: Int, val m: Int,
                    val efConstruction: Int)

  /** 1 − cosine, sequential double fold — smaller is closer. */
  private def dist(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0) 1.0 else 1.0 - dot / denom
  }

  /** Deterministic geometric level: the standard floor(−ln(u)·mL) with
    * u hash-derived from the vec_id (XXH64, seed 42 — the plane-matrix
    * convention), mL = 1/ln(m). No RNG state anywhere. */
  private def levelOf(id: Long, m: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val h = XXH64.hashLong(id, 42L)
    // map to (0, 1]: (h >>> 11) has 53 uniform bits; +1 avoids ln(0)
    val u = ((h >>> 11) + 1).toDouble / (1L << 53).toDouble
    (-math.log(u) / math.log(m.toDouble)).toInt
  }

  private val ord: Ordering[(Double, Int)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)

  /** ef-bounded best-first search on one layer (Malkov Alg. 2), from
    * `entries`. `neighbors` abstracts the adjacency so the BUILD (live
    * ArrayBuffers) and SEARCH (frozen arrays) paths share one walk
    * without copying adjacency per call. Returns up to `ef` nearest
    * (dist, node) pairs, every ordering tie-broken (dist, node) so the
    * walk — and thus the graph build — is deterministic. */
  private def searchLayer(q: Array[Float], entries: Seq[(Double, Int)],
                          ef: Int, neighbors: Int => scala.collection.IndexedSeq[Int],
                          vecs: Array[Array[Float]],
                          visited: java.util.BitSet): Seq[(Double, Int)] = {
    val cand = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](ord.reverse) // min-first
    val found = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](ord) // max-first
    visited.clear()
    entries.foreach { e =>
      if (!visited.get(e._2)) {
        visited.set(e._2); cand.enqueue(e); found.enqueue(e)
        if (found.size > ef) found.dequeue()
      }
    }
    while (cand.nonEmpty) {
      val c = cand.dequeue()
      if (found.size >= ef && ord.gt((c._1, c._2), found.head)) {
        cand.clear() // nearest unexpanded is farther than the worst kept → done
      } else {
        val ns = neighbors(c._2)
        var i = 0
        while (i < ns.length) {
          val n = ns(i)
          if (!visited.get(n)) {
            visited.set(n)
            val d = (dist(q, vecs(n)), n)
            if (found.size < ef || ord.lt(d, found.head)) {
              cand.enqueue(d); found.enqueue(d)
              if (found.size > ef) found.dequeue()
            }
          }
          i += 1
        }
      }
    }
    found.dequeueAll.reverse // nearest first
  }

  private val emptyAdj: scala.collection.IndexedSeq[Int] = Vector.empty

  /** Neighbor selection, Malkov Alg. 4 (the HEURISTIC, with pruned
    * backfill — hnswlib's default): walk candidates nearest-first and
    * keep one only if it is closer to `base` than to every
    * already-kept neighbor, then backfill remaining slots from the
    * pruned, nearest-first. Plain top-M selection fills a node's list
    * with its own cluster's members and drops the long-range links
    * greedy navigation needs — measured on the clustered ladder
    * corpus as a recall PLATEAU (~0.60 at ANY ef: the walk cannot
    * reach 40% of true neighbors); the heuristic keeps one edge per
    * "direction" instead, restoring reachability. Deterministic:
    * candidates arrive (dist, id)-sorted and ties prune (strict <),
    * with the backfill re-adding them in the same order. */
  private def selectHeuristic(base: Array[Float], cands: Seq[(Double, Int)],
                              m: Int, vecs: Array[Array[Float]]): Seq[(Double, Int)] = {
    val sorted = cands.sorted(ord)
    val kept = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
    val pruned = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
    val it = sorted.iterator
    while (it.hasNext && kept.length < m) {
      val c = it.next()
      if (kept.forall { case (_, r) => c._1 < dist(vecs(c._2), vecs(r)) })
        kept += c
      else pruned += c
    }
    val fill = pruned.iterator
    while (kept.length < m && fill.hasNext) kept += fill.next()
    kept.toSeq
  }

  /** The shared insertion loop (Malkov Alg. 1): insert nodes
    * `from until n` into the live adjacency `adj`, starting from
    * (`entry0`, `entryLevel0`) (−1/−1 for an empty graph). Mutates
    * `adj` in place; returns the final (entry, entryLevel). Both the
    * fresh [[buildGraph]] and the incremental [[insertAll]] run
    * EXACTLY this loop — append is not a second algorithm, it is the
    * same insertion continued. */
  private def insertRange(ids: Array[Long], vecs: Array[Array[Float]],
                          levels: Array[Int],
                          adj: Array[Array[scala.collection.mutable.ArrayBuffer[Int]]],
                          from: Int, entry0: Int, entryLevel0: Int,
                          m: Int, efConstruction: Int): (Int, Int) = {
    val n = ids.length
    val visited = new java.util.BitSet(n)
    var entry = entry0
    var entryLevel = entryLevel0
    def live(l: Int): Int => scala.collection.IndexedSeq[Int] =
      node => { val b = adj(l)(node); if (b == null) emptyAdj else b }
    for (i <- from until n) {
      val q = vecs(i)
      val lvl = levels(i)
      if (entry < 0) { entry = i; entryLevel = lvl }
      else {
        var ep = Seq((dist(q, vecs(entry)), entry))
        // greedy descent through layers above the node's level
        var l = entryLevel
        while (l > lvl) {
          ep = searchLayer(q, ep, 1, live(l), vecs, visited).take(1)
          l -= 1
        }
        // connect on each layer from min(lvl, entryLevel) down to 0
        l = math.min(lvl, entryLevel)
        while (l >= 0) {
          val cands = searchLayer(q, ep, efConstruction, live(l), vecs, visited)
          val mmax = if (l == 0) 2 * m else m
          val chosen = selectHeuristic(q, cands, m, vecs)
          chosen.foreach { case (_, c) =>
            adj(l)(i) += c
            val back = adj(l)(c)
            back += i
            if (back.length > mmax) {
              // shrink with the same heuristic, base = the overflowing
              // node (keeps ITS long-range links too)
              val kept = selectHeuristic(vecs(c),
                back.map(x => (dist(vecs(c), vecs(x)), x)).toSeq, mmax, vecs)
              back.clear(); back ++= kept.map(_._2)
            }
          }
          ep = cands
          l -= 1
        }
        if (lvl > entryLevel) { entry = i; entryLevel = lvl }
      }
    }
    (entry, entryLevel)
  }

  /** Build the graph: ascending-vec_id insertion, Alg.-4 heuristic
    * neighbor selection, Mmax = m above level 0 and 2m at level 0
    * (the paper's defaults). */
  def buildGraph(ids: Array[Long], vecs: Array[Array[Float]],
                 m: Int, efConstruction: Int): Graph = {
    require(ids.length == vecs.length, "ids/vecs length mismatch")
    require(ids.length <= driverMaxVectors,
      s"Hnsw.buildGraph: ${ids.length} vectors exceeds driverMaxVectors=" +
        s"$driverMaxVectors — the graph is driver-held; shard the corpus " +
        "(one graph per shard, merge per-shard top-k) past this bound")
    val n = ids.length
    val levels = Array.tabulate(n)(i => levelOf(ids(i), m))
    val maxLevel = if (n == 0) 0 else levels.max
    // layers(l)(node): growable neighbor lists during build
    val adj = Array.fill(maxLevel + 1, n)(null: scala.collection.mutable.ArrayBuffer[Int])
    for (l <- 0 to maxLevel; i <- 0 until n)
      if (levels(i) >= l) adj(l)(i) = scala.collection.mutable.ArrayBuffer.empty[Int]
    val (entry, entryLevel) =
      insertRange(ids, vecs, levels, adj, 0, -1, -1, m, efConstruction)
    new Graph(ids, vecs,
      Array.tabulate(maxLevel + 1)(l =>
        adj(l).map(b => if (b == null) Array.empty[Int] else b.toArray)),
      entry, entryLevel, m, efConstruction)
  }

  /** Incremental insertion — the hnswlib `addItems` analog: continue
    * the SAME insertion loop on an existing graph with `newIds`
    * (ascending among themselves), returning a NEW graph; `base` is
    * untouched (its adjacency arrays are copied into fresh buffers).
    * The result is NOT byte-identical to a fresh build of the merged
    * corpus — insertion order there is globally ascending, here it is
    * base-then-new — but it is the same deterministic function of
    * (base graph, new batch), and the recall contract (probed ef,
    * exact rescore) is order-independent. */
  private[graft] def insertAll(base: Graph, newIds: Array[Long],
                               newVecs: Array[Array[Float]]): Graph = {
    require(newIds.length == newVecs.length, "ids/vecs length mismatch")
    val n0 = base.ids.length
    val n = n0 + newIds.length
    require(n <= driverMaxVectors,
      s"Hnsw.insertAll: $n vectors exceeds driverMaxVectors=$driverMaxVectors")
    val existing = scala.collection.mutable.LongMap.empty[Unit]
    base.ids.foreach(existing.update(_, ()))
    newIds.foreach(id => require(!existing.contains(id),
      s"Hnsw.insertAll: vec_id=$id is already in the graph"))
    val m = base.m
    val ids = base.ids ++ newIds
    val vecs = base.vecs ++ newVecs
    // levels are a deterministic hash of the vec_id — recomputing for
    // base nodes reproduces exactly the levels their build assigned
    val levels = Array.tabulate(n)(i => levelOf(ids(i), m))
    val maxLevel = math.max(base.maxLevel,
      if (newIds.isEmpty) 0 else (n0 until n).map(levels).max)
    val adj = Array.fill(maxLevel + 1, n)(null: scala.collection.mutable.ArrayBuffer[Int])
    for (l <- 0 to maxLevel; i <- 0 until n) if (levels(i) >= l) {
      val b = scala.collection.mutable.ArrayBuffer.empty[Int]
      if (i < n0 && l <= base.maxLevel) b ++= base.layers(l)(i)
      adj(l)(i) = b
    }
    val (entry, entryLevel) = insertRange(ids, vecs, levels, adj,
      n0, base.entry, base.maxLevel, m, base.efConstruction)
    new Graph(ids, vecs,
      Array.tabulate(maxLevel + 1)(l =>
        adj(l).map(b => if (b == null) Array.empty[Int] else b.toArray)),
      entry, entryLevel, m, base.efConstruction)
  }

  /** Search the graph for `q`: greedy descent to layer 0, then one
    * ef-bounded layer-0 sweep; nearest-first (dist, node) pairs. */
  def search(g: Graph, q: Array[Float], ef: Int,
             visited: java.util.BitSet): Seq[(Double, Int)] = {
    if (g.ids.isEmpty) return Nil
    def frozen(l: Int): Int => scala.collection.IndexedSeq[Int] =
      node => scala.collection.immutable.ArraySeq.unsafeWrapArray(g.layers(l)(node))
    var ep = Seq((dist(q, g.vecs(g.entry)), g.entry))
    var l = g.maxLevel
    while (l > 0) {
      ep = searchLayer(q, ep, 1, frozen(l), g.vecs, visited).take(1)
      l -= 1
    }
    searchLayer(q, ep, ef, frozen(0), g.vecs, visited)
  }

  /** Session graph memo ([[graft.StampedMemo]]): the graph is a
    * deterministic function of (corpus, m, efConstruction), so a session
    * answering many queries builds it once (build once, serve). */
  private[graft] val graphMemo = graft.StampedMemo[(Int, Int), Graph]()

  private[graft] def graphFor(spark: SparkSession, dir: String,
                              m: Int, efConstruction: Int): Graph =
    graphMemo(spark, s"$dir/embeddings.parquet", (m, efConstruction)) {
      // bounded collect: the corpus vector relation, checked against
      // driverMaxVectors BEFORE collecting (count is a cheap column-
      // pruned scan; collecting first would OOM before the require)
      val emb = Tables.embeddings(spark, dir)
      val nVec = emb.count()
      require(nVec <= driverMaxVectors,
        s"Hnsw: corpus has $nVec vectors, driverMaxVectors=$driverMaxVectors " +
          "— shard the corpus (one graph per shard, merge per-shard top-k)")
      import spark.implicits._
      val rows = emb.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      buildGraph(rows.map(_._1), rows.map(_._2), m, efConstruction)
    }

  /** v18: HNSW ANN — driver graph search generates each query's
    * efSearch-shortlist; Spark rescores exactly (same cosine
    * expression + (cos desc, vec_id) window as every family) and cuts
    * top-k. Gate profile: the Probe-verified recall-complete efSearch
    * (see `tools/Probe` family `hnsw`); production dials are the
    * defaults. */
  def annHnsw(spark: SparkSession, dir: String, nQueries: Int = 10,
              k: Int = 5, m: Int = 8, efConstruction: Int = 96,
              efSearch: Int = 64): DataFrame = {
    import spark.implicits._
    val g = graphFor(spark, dir, m, efConstruction)
    val emb = Tables.embeddings(spark, dir)
    val qs = collectQueries(spark, emb, nQueries)
    val visited = new java.util.BitSet(g.ids.length)
    // shortlist pairs: (query_id, candidate vec_id); self-matches are
    // dropped here AND filtered in the rescore (belt and braces)
    val pairs = qs.flatMap { case (qid, qv) =>
      search(g, qv, efSearch, visited)
        .map { case (_, node) => (qid, g.ids(node)) }
        .filter(_._2 != qid)
    }
    val shortlist = spark.createDataset(pairs.toSeq)
      .toDF("query_id", "vec_id")
    rescore(emb, shortlist, nQueries, k)
  }

  /** Driver-held query set (≤ `nQueries` rows — the model-collect
    * pattern), ascending vec_id. */
  private def collectQueries(spark: SparkSession, emb: DataFrame,
                             nQueries: Int): Array[(Long, Array[Float])] = {
    import spark.implicits._
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
  }

  /** The family's exact-rescore tail, shared by the in-session paths
    * (driver graph, sharded in-session): join the
    * (query_id, vec_id) shortlist back to the corpus, score with the
    * same `cosine` expression and (cos desc, vec_id) window every
    * graft ANN family uses, cut top-k. Precondition: the shortlist
    * carries no duplicate (query_id, vec_id) pair — true for one
    * graph (search returns distinct nodes) and for sharded unions
    * (shards partition the id space). */
  private def rescore(emb: DataFrame, shortlist: DataFrame,
                      nQueries: Int, k: Int): DataFrame = {
    val qdf = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    shortlist
      .join(emb, "vec_id")
      .join(broadcast(qdf), "query_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** The rescore tail for candidates that ARRIVE with their vectors
    * (the sharded serve: [[searchShardWithVecs]] reads them off the
    * resident graphs) — same `cosine` expression, same
    * (cos desc, vec_id) window, same output shape as [[rescore]],
    * minus the corpus join: the queries are a driver-local relation
    * and the shortlist is dial-bounded (≤ nQueries × nShards ×
    * efSearch rows), so a repeat serve's cost is INDEPENDENT of
    * corpus size — no corpus scan, no stats-blind shortlist⋈corpus
    * join (which Catalyst can only sort-merge: the shortlist comes
    * off an RDD with no size statistics, so the old shape shuffled
    * the whole corpus per call; at 1e7 that was ~2.5 s of the ~3 s
    * resident-serve floor, SCALE.md). Values are identical: the
    * index stores the corpus `embedding` floats verbatim. */
  private def rescoreFromIndex(spark: SparkSession,
                               qs: Array[(Long, Array[Float])],
                               shortlist: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val qdf = spark.createDataset(qs.toSeq)
      .toDF("query_id", "q_emb")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    // no (query_id, vec_id) dedup exchange here — uniqueness is
    // STRUCTURAL: every vec_id lives in exactly one shard partition
    // (id-modulo routing; segments are diff-driven disjoint — the
    // replay-appends-0 spec pins it), one task walks one shard, and
    // callers hand this function a unique query set (the driver-side
    // distinctBy in annHnswServeShardedQueries; corpus queries are
    // distinct by construction). An extra exchange to defend against
    // a hand-edited index measurably taxes the resident serve floor
    // (~0.1 s of a ~0.6 s call — A/B'd round 15).
    shortlist
      .join(broadcast(qdf), "query_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  // ---------------------------------------------------------------
  // Sharded family (v19): the 100 TB deployment made code
  // ---------------------------------------------------------------

  /** Deterministic shard assignment: id-modulo (balanced for the
    * corpus's dense id space AND hash-like ids; no RNG state). */
  private def shardOf(vecId: Long, nShards: Int): Int =
    Math.floorMod(vecId, nShards.toLong).toInt

  /** One at-rest / shuffled row of a sharded graph. `level == -1`
    * marks the shard's entry-point row (neighbor_ids empty); level-0
    * rows carry the node's vector (the graph walk needs vectors WHERE
    * the graph lives — unlike the codes-only IVF layouts, a sharded
    * HNSW index is self-contained, which is also what makes its serve
    * executor-side instead of a driver collect). */
  private[graft] case class ShardRow(shard: Int, vec_id: Long, level: Int,
                                     neighbor_ids: Seq[Long],
                                     embedding: Option[Array[Float]])

  /** A built shard graph flattened to [[ShardRow]]s: every node's
    * level-0 row (with vector), non-empty higher-level adjacency rows,
    * and the entry marker. */
  private def graphRows(g: Graph, shard: Int): Iterator[ShardRow] = {
    val level0 = g.ids.indices.iterator.map { node =>
      ShardRow(shard, g.ids(node), 0,
        g.layers(0)(node).map(g.ids(_)).toSeq, Some(g.vecs(node)))
    }
    val upper = for {
      l <- (1 to g.maxLevel).iterator
      node <- g.layers(l).indices.iterator
      if g.layers(l)(node).nonEmpty
    } yield ShardRow(shard, g.ids(node), l, g.layers(l)(node).map(g.ids(_)).toSeq, None)
    val entry = Iterator.single(
      ShardRow(shard, g.ids(g.entry), -1, Nil, None))
    level0 ++ upper ++ entry
  }

  /** Rebuild one shard's [[Graph]] from its rows (executor-side — the
    * whole point: the graph is reconstructed where the search runs,
    * never on the driver). Loud on malformed shards. */
  private def graphFromRows(rows: Iterator[ShardRow], m: Int, efC: Int,
                            where: String): Graph = {
    val all = rows.toArray
    val (entryRows, adjRows) = all.partition(_.level < 0)
    require(entryRows.length == 1,
      s"$where: expected exactly 1 entry row, got ${entryRows.length}")
    val level0 = adjRows.filter(_.level == 0).sortBy(_.vec_id)
    val ids = level0.map(_.vec_id)
    val vecs = level0.map(r => r.embedding.getOrElse(
      throw new IllegalArgumentException(
        s"$where: level-0 row for vec_id=${r.vec_id} carries no vector")))
    val idx = scala.collection.mutable.LongMap.empty[Int]
    ids.indices.foreach(i => idx.update(ids(i), i))
    def resolve(id: Long): Int = idx.getOrElse(id,
      throw new IllegalArgumentException(
        s"$where: vec_id=$id referenced but has no level-0 row"))
    val maxLevel = adjRows.iterator.map(_.level).max
    val layers = Array.fill(maxLevel + 1, ids.length)(Array.empty[Int])
    adjRows.foreach { r =>
      layers(r.level)(resolve(r.vec_id)) = r.neighbor_ids.map(resolve).toArray
    }
    new Graph(ids, vecs, layers, resolve(entryRows(0).vec_id), maxLevel, m, efC)
  }

  /** Search every shard graph for every query and emit the union
    * shortlist — the map side of both the in-session sharded operator
    * and the at-rest fan-out serve. Runs inside one task per shard,
    * single-threaded per shard. */
  private def searchShard(g: Graph, qs: Array[(Long, Array[Float])],
                          efSearch: Int): Iterator[(Long, Long)] = {
    val visited = new java.util.BitSet(g.ids.length)
    qs.iterator.flatMap { case (qid, qv) =>
      search(g, qv, efSearch, visited).iterator
        .map { case (_, node) => (qid, g.ids(node)) }
        .filter(_._2 != qid)
    }
  }

  /** [[searchShard]] with each candidate's vector attached FROM THE
    * GRAPH — the serving-tier map side: a sharded index is
    * self-contained (level-0 rows carry the corpus vectors verbatim,
    * [[ShardRow]]), so the resident graph can hand the rescore its
    * inputs directly and the serve never joins back to the corpus. */
  private def searchShardWithVecs(g: Graph, qs: Array[(Long, Array[Float])],
                                  efSearch: Int): Iterator[(Long, Long, Array[Float])] = {
    val visited = new java.util.BitSet(g.ids.length)
    qs.iterator.flatMap { case (qid, qv) =>
      search(g, qv, efSearch, visited).iterator
        .map { case (_, node) => (qid, g.ids(node), g.vecs(node)) }
        .filter(_._2 != qid)
    }
  }

  /** v19: SHARDED HNSW ANN — the deployment SCALE.md describes for the
    * graph family, in code: the corpus partitions into `nShards`
    * id-modulo shards, each EXECUTOR task builds one shard's graph
    * (the same deterministic [[buildGraph]] the driver family uses)
    * and walks every query through it, and the per-shard shortlists
    * union into one exact Spark rescore. Nothing graph-shaped ever
    * touches the driver, and the per-task memory bound is
    * corpus/nShards — the knob that takes the family past
    * `driverMaxVectors` (dial nShards so each shard fits an executor).
    *
    * Recall composition: the global top-k's members each live in SOME
    * shard, and a shard's walk is recall-complete for its own members
    * under the same probed ef contract as v18 — smaller graph, same
    * beam — so the union shortlist contains the true top-k whenever
    * each per-shard walk is complete (Probe sweeps this dial;
    * Verify auto-demotes if a regenerated corpus breaks it).
    *
    * Cost vs one graph: search work is ~nShards × the single-graph
    * walk (every shard answers every query) — the standard fan-out
    * trade every distributed vector store makes; each walk is over a
    * graph 1/nShards the size, and the walks run in parallel. */
  def annHnswSharded(spark: SparkSession, dir: String, nQueries: Int = 10,
                     k: Int = 5, m: Int = 8, efConstruction: Int = 96,
                     efSearch: Int = 64, nShards: Int = 4): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val qs = collectQueries(spark, emb, nQueries)
    val shortlist = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .groupByKey { case (id, _) => shardOf(id, nShards) }
      .flatMapGroups { (_: Int, it: Iterator[(Long, Array[Float])]) =>
        // shuffle delivers rows unordered — sort for the deterministic
        // ascending-vec_id insertion the build contract requires
        val rows = it.toArray.sortBy(_._1)
        val g = buildGraph(rows.map(_._1), rows.map(_._2), m, efConstruction)
        searchShard(g, qs, efSearch)
      }
      .toDF("query_id", "vec_id")
    rescore(emb, shortlist, nQueries, k)
  }

  /** The sharded graph AT REST: `graph/` partitioned by `shard=`, each
    * partition one shard's [[ShardRow]]s written as ONE file (vectors
    * included — self-contained, see [[ShardRow]]), `_meta.json`
    * pinning (family, m, efConstruction, nShards). Build is
    * distributed: one executor task per shard. */
  def writeHnswIndexSharded(spark: SparkSession, dir: String, out: String,
                            m: Int = 8, efConstruction: Int = 96,
                            nShards: Int = 4): Unit = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    import spark.implicits._
    graft.sources.IndexMeta.write(out, Seq(
      "family" -> "hnsw_sharded", "m" -> m,
      "efConstruction" -> efConstruction, "nShards" -> nShards))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .groupByKey { case (id, _) => shardOf(id, nShards) }
      .flatMapGroups { (shard: Int, it: Iterator[(Long, Array[Float])]) =>
        val rows = it.toArray.sortBy(_._1)
        graphRows(buildGraph(rows.map(_._1), rows.map(_._2), m, efConstruction), shard)
      }
      // the group tasks are already one-per-shard; partitionBy alone
      // would still write one file per (task × touched partition), but
      // each task holds exactly one shard, so the layout lands as one
      // file per partition with no extra exchange
      .write.mode("overwrite").partitionBy("shard").parquet(s"$out/graph")
  }

  // ---------------------------------------------------------------
  // Executor-resident serving (the long-lived serving tier, in code)
  // ---------------------------------------------------------------

  /** Executor-JVM shard-graph residency — the steady state a serving
    * tier runs in: each executor keeps the shard graphs IT has served
    * resident, keyed by (indexPath, shard, content stamp), so a repeat
    * serve walks memory instead of re-reading parquet and rebuilding
    * adjacency per call. The stamp is the shard partition's visible
    * file listing (name:length:mtime) — any rewrite of the shard
    * (append, overwrite, compaction) changes it, so invalidation is
    * structural, not protocol: a stale graph simply can't be looked
    * up. `appendHnswIndexSharded` rewrites ONLY touched shards, so
    * untouched shards stay resident across appends — the serving-tier
    * analog of its touched-cells contract.
    *
    * Bounded: an LRU over total resident VECTORS (the dominant bytes),
    * default 4M (~1 GB at 64-dim floats) per executor JVM, overridable
    * with -Dgraft.hnsw.residentVectors for executors sized as serving
    * shards. A single graph over budget is kept alone (refusing would
    * break serve; the budget exists to stop unbounded accumulation
    * across many indexes, not to reject one big shard). Unlike the
    * driver-side [[graft.StampedMemo]], it lives on the executors. */
  private[graft] object ShardGraphCache {
    private val defaultBudget: Long = sys.props.get("graft.hnsw.residentVectors")
      .map(_.toLong).getOrElse(4000000L)
    @volatile private var budgetOverride: Option[Long] = None
    private def budget: Long = budgetOverride.getOrElse(defaultBudget)
    private val budgetScopeActive = new java.util.concurrent.atomic.AtomicBoolean(false)

    /** Spec hook: run `body` with the LRU budget set to `n` — exercise
      * eviction at a small budget without forking a JVM for the -D
      * property. The ONLY way to move the budget at runtime (the field
      * itself is private — production code cannot reach it); try/finally
      * restores the default and clears residency (graphs admitted under
      * a different budget) on every exit path, and a nested or
      * concurrent scope is REFUSED loudly instead of silently racing
      * the process-global singleton. The refusal guards withBudget
      * scopes against EACH OTHER only: a serve path running outside any
      * scope (any ShardGraphCache.get in a concurrently executing
      * suite) would still observe the scoped budget and the scope-exit
      * invalidation — which is why suites touching this cache must not
      * run concurrently (they don't: `Test/fork := true` with sbt's
      * default `testForkedParallel := false` runs suites serialized in
      * one forked JVM; don't flip that default). */
    private[graft] def withBudget[A](n: Long)(body: => A): A = {
      require(budgetScopeActive.compareAndSet(false, true),
        "nested/concurrent ShardGraphCache.withBudget scopes would race " +
          "the process-global budget")
      try { budgetOverride = Some(n); invalidate(); body }
      finally {
        budgetOverride = None; invalidate(); budgetScopeActive.set(false)
      }
    }
    // access-ordered: iteration starts at the least-recently-used entry
    private val lru = new java.util.LinkedHashMap[(String, Int, String), Graph](64, 0.75f, true)
    private var heldVectors: Long = 0L
    private val loads = new java.util.concurrent.atomic.AtomicLong()

    /** Parquet-load count — observability + the spec's cache-hit pin. */
    def loadCount: Long = loads.get()

    /** The eviction ledger — spec-pinned: must equal the sum of
      * resident graphs' vector counts across every put/evict path. */
    private[graft] def heldVectorCount: Long = synchronized(heldVectors)

    /** Resident keys in LRU order (least-recent first) — the spec's
      * eviction-order pin. */
    private[graft] def residentKeys: Seq[(String, Int, String)] = synchronized {
      import scala.jdk.CollectionConverters._
      lru.keySet.asScala.toSeq
    }

    def residentShards(indexPath: String): Set[Int] = synchronized {
      import scala.jdk.CollectionConverters._
      lru.keySet.asScala.collect { case (p, s, _) if p == indexPath => s }.toSet
    }

    def get(indexPath: String, shard: Int, stamp: String,
            load: () => Graph): Graph = {
      val key = (indexPath, shard, stamp)
      val hit = synchronized(lru.get(key)) // get() mutates access order
      if (hit != null) return hit
      val g = load() // outside the lock: loads run in parallel, one task per shard
      loads.incrementAndGet()
      synchronized {
        val raced = lru.get(key)
        if (raced != null) raced
        else {
          lru.put(key, g)
          heldVectors += g.ids.length
          val it = lru.entrySet().iterator()
          while (heldVectors > budget && lru.size() > 1 && it.hasNext) {
            val e = it.next()
            if (e.getKey != key) {
              heldVectors -= e.getValue.ids.length
              it.remove()
            }
          }
          g
        }
      }
    }

    private[graft] def invalidate(): Unit = synchronized {
      lru.clear(); heldVectors = 0L
    }
  }

  /** Hidden-file convention (shared with Spark's own listing and
    * [[graft.sources.ContentStamp]]): `_` metadata and `.` working
    * files are not shard content. */
  private def isVisible(name: String): Boolean =
    graft.sources.ContentStamp.isVisible(name)

  /** ONE recursive FS listing of `indexPath/graph` → (shard, content
    * stamp) per NON-EMPTY `shard=` partition, ascending (stamps via
    * [[graft.sources.ContentStamp.ofChildren]] — the residency key
    * changes exactly when the shard's bytes change, and the per-shard
    * stamps are byte-identical to the per-dir `ContentStamp.of` walks
    * this replaced, so resident graphs keyed under the old shape stay
    * valid). Driver-side, one listing pass to the index's own
    * filesystem per serve call — NOT one RPC round per shard dir,
    * which at the prescribed ~1.25e5 vectors/shard would be ~8,000
    * round-trips per serve batch on a 1e9-vector index. EMPTY dirs (no
    * visible files — the debris of a failed segment write, whose
    * committer aborted before any part file landed) are SKIPPED, not
    * served: an empty partition has no graph, no entry row, and
    * nothing a walk could find; refusing on it would take serving down
    * until manual cleanup for a write the replay already made whole. */
  private def shardStamps(indexPath: String,
                          spark: SparkSession): Seq[(Int, String)] =
    graft.sources.ContentStamp.ofChildren(spark, s"$indexPath/graph")
      .collect { case (name, stamp) if name.startsWith("shard=") =>
        (name.stripPrefix("shard=").toInt, stamp)
      }
      .sortBy(_._1)

  /** Number of POPULATED `shard=` partitions currently on disk — the
    * LSM depth ([[appendHnswIndexSegment]] adds one per non-empty
    * batch; [[reshardHnswIndexSharded]] folds them back to the
    * balanced nShards layout) that
    * [[graft.streaming.Runner.hnswMaintainQuery]]'s merge policy
    * watches. One recursive listing (the [[shardStamps]] walk); empty
    * dirs — aborted writes that never landed a file — don't count,
    * matching what serve fans out over. */
  def shardPartitionCount(spark: SparkSession, indexPath: String): Int =
    shardStamps(indexPath, spark).size

  /** Read one shard partition's [[ShardRow]]s EXECUTOR-SIDE, straight
    * from its parquet files (parquet-hadoop's Group API — public,
    * ships with Spark) — no DataFrame scan, no shuffle: the serving
    * task reads exactly its own shard's files from the index's
    * filesystem on a residency miss. `confProps` is the driver's
    * Hadoop configuration flattened for the closure (Configuration is
    * not serializable), so the read resolves the same filesystem the
    * driver listed. */
  private def readShardRows(indexPath: String, shard: Int,
                            confProps: Array[(String, String)]): Iterator[ShardRow] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    confProps.foreach { case (k, v) => conf.set(k, v) }
    val dir = new org.apache.hadoop.fs.Path(s"$indexPath/graph/shard=$shard")
    val fs = dir.getFileSystem(conf)
    val files = fs.listStatus(dir).toSeq
      .filter(f => f.isFile && isVisible(f.getPath.getName))
      .map(_.getPath).sortBy(_.getName)
    files.iterator.flatMap { p =>
      import org.apache.parquet.example.data.Group
      val out = scala.collection.mutable.ArrayBuffer.empty[ShardRow]
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
        .withConf(conf).build()
      try {
        var g: Group = reader.read()
        while (g != null) {
          // Spark's standard 3-level list encoding: outer optional
          // group → repeated "list" group → "element" field (index 0)
          val neigh: Seq[Long] =
            if (g.getFieldRepetitionCount("neighbor_ids") == 0) Nil
            else {
              val lst = g.getGroup("neighbor_ids", 0)
              val n = lst.getFieldRepetitionCount(0)
              (0 until n).map(i => lst.getGroup(0, i).getLong(0, 0))
            }
          val emb: Option[Array[Float]] =
            if (g.getFieldRepetitionCount("embedding") == 0) None
            else {
              val lst = g.getGroup("embedding", 0)
              val n = lst.getFieldRepetitionCount(0)
              Some(Array.tabulate(n)(i => lst.getGroup(0, i).getFloat(0, 0)))
            }
          out += ShardRow(shard, g.getLong("vec_id", 0),
            g.getInteger("level", 0), neigh, emb)
          g = reader.read()
        }
      } finally reader.close()
      out.iterator
    }
  }

  /** Drift validations already paid this session ([[graft.StampedMemo]],
    * stamped by the index's per-shard stamps plus the corpus stamp) — a
    * serving tier validates corpus/index agreement once at graph load,
    * not per batch; an index or corpus rewrite re-validates. */
  private[graft] val driftChecked = graft.StampedMemo[Unit, Unit]()

  /** Serve from a [[writeHnswIndexSharded]] index — the fan-out/merge
    * deployment in its SERVING-TIER shape: the bounded query set fans
    * out one task per shard; each task serves from its executor's
    * RESIDENT shard graph ([[ShardGraphCache]]) and, only on a
    * residency miss (first touch, or the shard was rewritten — the
    * content stamp is the key), reads its own shard partition's
    * parquet directly ([[readShardRows]] — no DataFrame scan, no
    * shuffle of the graph relation, ever) and reconstructs once. The
    * union shortlist arrives WITH its vectors (the index is
    * self-contained) and gets the family's exact Spark rescore
    * without rejoining the corpus ([[rescoreFromIndex]]) — so a
    * repeat serve costs the walks + a shortlist-bounded window only,
    * independent of corpus size (SCALE.md prices the tiers). The
    * graph never exists on the driver; per-task memory is one shard.
    * Per-call corpus touches are exactly two bounded reads: the
    * query collect (vec_id-pruned) and, once per index CONTENT
    * stamp, the drift validation.
    * [[appendHnswIndexSharded]] rewrites only touched shards, so an
    * append invalidates exactly those shards' residency. */
  def annHnswServeSharded(spark: SparkSession, dir: String, indexPath: String,
                          nQueries: Int = 10, k: Int = 5,
                          efSearch: Int = 64): DataFrame = {
    import graft.sources.IndexMeta.{intField, strField}
    val meta = graft.sources.IndexMeta.readRaw(indexPath, "writeHnswIndexSharded")
    require(strField(meta, "family") == "hnsw_sharded",
      s"$indexPath is a '${strField(meta, "family")}' index, not hnsw_sharded")
    val m = intField(meta, "m")
    val efC = intField(meta, "efConstruction")
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    recoverStagedReshard(spark, indexPath)
    val stamps = shardStamps(indexPath, spark)
    require(stamps.nonEmpty,
      s"$indexPath/graph has no populated shard= partitions — not a " +
        "populated writeHnswIndexSharded index")
    // corpus/index drift refuses loudly: an un-indexed corpus vector is
    // in no shard graph, so no walk can ever shortlist it, and an indexed id
    // missing from the corpus silently drops from the rescore join.
    // nIndexed == nCorpus plus indexed ⊆ corpus ⇒ the id sets are
    // equal — two id-only aggregates, no wide shuffle. Validated once
    // per (session, corpus content, index content): [[driftChecked]].
    val globalStamp = stamps.map { case (s, st) => s"$s=$st" }.mkString("|") +
      "||" + graft.sources.ContentStamp.of(spark, s"$dir/embeddings.parquet")
    driftChecked(spark, s"$indexPath <- $dir/embeddings.parquet", (), globalStamp) {
      val graph = spark.read.parquet(s"$indexPath/graph")
      val level0Ids = graph.filter(col("level") === 0).select(col("vec_id"))
      val nIndexed = level0Ids.count()
      val nCorpus = emb.count()
      val missing = level0Ids
        .join(emb.select(col("vec_id")), Seq("vec_id"), "left_anti").count()
      require(missing == 0,
        s"Hnsw sharded serve: $missing indexed vec_ids are not in the corpus " +
          s"at $dir — the index at $indexPath was built over a different " +
          "corpus; rebuild it (writeHnswIndexSharded) or serve the right dir")
      require(nIndexed == nCorpus,
        s"Hnsw sharded serve: corpus at $dir has ${nCorpus - nIndexed} vectors " +
          s"the index at $indexPath never saw — un-indexed vectors are in no " +
          "shard graph, so no walk can ever reach them (silent recall loss); " +
          "appendHnswIndexSharded the new vectors or rebuild")
    }
    val qs = collectQueries(spark, emb, nQueries)
    serveShardedCore(spark, indexPath, qs, k, efSearch, stamps, m, efC)
  }

  /** Serve a caller-supplied batch of query vectors from a
    * [[writeHnswIndexSharded]] index — the entry the ONLINE deployment
    * uses ([[graft.streaming.Runner.hnswServeQuery]] calls this per
    * micro-batch): queries arrive as (query_id, embedding) rows
    * instead of being drawn from the indexed corpus, and the answer
    * comes from the INDEX ALONE — shortlists carry their vectors off
    * the resident shard graphs ([[ShardGraphCache]]) and the exact
    * rescore never opens the corpus, so there is no corpus dir to
    * drift-check and no scan whose cost grows with corpus size. The
    * query batch is collected to the driver (the serve-batch contract
    * every ANN serve path shares: a micro-batch of queries is
    * dial-bounded, not corpus-shaped). Query ids SHARE THE CORPUS ID
    * SPACE: a candidate whose vec_id equals the query_id is dropped as
    * a self-match, same as every HNSW path — a caller whose external
    * query ids can collide with indexed vec_ids must remap them (e.g.
    * negate) or that one vector silently vanishes from that query's
    * answers. Duplicate query_id rows in one batch collapse to one
    * (arbitrary) row — a query is its id, so two embeddings under one
    * id would otherwise interleave at the same ranks. */
  def annHnswServeShardedQueries(spark: SparkSession, indexPath: String,
                                 queries: DataFrame, k: Int = 5,
                                 efSearch: Int = 64): DataFrame = {
    import graft.sources.IndexMeta.{intField, strField}
    val meta = graft.sources.IndexMeta.readRaw(indexPath, "writeHnswIndexSharded")
    require(strField(meta, "family") == "hnsw_sharded",
      s"$indexPath is a '${strField(meta, "family")}' index, not hnsw_sharded")
    import spark.implicits._
    recoverStagedReshard(spark, indexPath)
    val stamps = shardStamps(indexPath, spark)
    require(stamps.nonEmpty,
      s"$indexPath/graph has no populated shard= partitions — not a " +
        "populated writeHnswIndexSharded index")
    // duplicate query ids collapse DRIVER-side (free — the batch is
    // already collected; a dropDuplicates here would add a shuffle to
    // every serve trigger, ~15% of the resident floor)
    val qs = queries.select(col("query_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).distinctBy(_._1)
    serveShardedCore(spark, indexPath, qs, k, efSearch, stamps,
      intField(meta, "m"), intField(meta, "efConstruction"))
  }

  /** The fan-out/merge core shared by [[annHnswServeSharded]] (corpus
    * queries, drift-checked against `dir`) and
    * [[annHnswServeShardedQueries]] (caller queries — the online
    * serve). One element per partition ⇒ exactly one task per shard
    * (the fan-out layout residency assumes: shard s is always the
    * whole unit of work, so its graph is resident wherever s last
    * ran). Candidates carry their vectors off the resident graph
    * ([[searchShardWithVecs]]): the rescore never touches the corpus,
    * so the serve's repeat cost is walks + a shortlist-bounded window,
    * independent of corpus size. */
  private def serveShardedCore(spark: SparkSession, indexPath: String,
                               qs: Array[(Long, Array[Float])], k: Int,
                               efSearch: Int, stamps: Seq[(Int, String)],
                               m: Int, efC: Int): DataFrame = {
    import spark.implicits._
    val confProps = {
      import scala.jdk.CollectionConverters._
      spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => (e.getKey, e.getValue)).toArray
    }
    val shortlist = spark.sparkContext
      .parallelize(stamps, stamps.size)
      .flatMap { case (shard, stamp) =>
        val g = ShardGraphCache.get(indexPath, shard, stamp,
          () => graphFromRows(readShardRows(indexPath, shard, confProps),
            m, efC, s"$indexPath shard=$shard"))
        searchShardWithVecs(g, qs, efSearch)
      }
      .toDF("query_id", "vec_id", "embedding")
    rescoreFromIndex(spark, qs, shortlist, k)
  }

  /** Incremental maintenance of a [[writeHnswIndexSharded]] index —
    * the at-scale append: the new corpus vectors (diff-driven: exactly
    * the corpus vec_ids the index has never seen, so replay appends 0)
    * route to their id-modulo shards with the pinned `nShards`, and
    * ONLY the affected shards are read, re-inserted into
    * ([[insertAll]], executor-side inside the same one-task-per-shard
    * `flatMapGroups` the build uses), and rewritten — untouched shard
    * partitions are never opened, the
    * `appendAnnIndex` touched-cells contract. The rewrite is
    * two-phase through a staging dir (Spark refuses overwriting a
    * path it reads) with dynamic partition overwrite scoped to the
    * writer, replacing exactly the touched `shard=` directories.
    * Returns the number of vectors appended. */
  def appendHnswIndexSharded(spark: SparkSession, dir: String,
                             indexPath: String): Long = {
    recoverStagedReshard(spark, indexPath)
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // reverse drift refuses loudly: an indexed id with no corpus
    // vector means the index was built over a different corpus
    val level0Ids = spark.read.parquet(s"$indexPath/graph")
      .filter(col("level") === 0).select(col("vec_id"))
    val missing = level0Ids.join(emb.select(col("vec_id")), Seq("vec_id"), "left_anti").count()
    require(missing == 0,
      s"Hnsw sharded append: $missing indexed vec_ids are not in the corpus " +
        s"at $dir — the index at $indexPath was built over a different " +
        "corpus; rebuild it (writeHnswIndexSharded) or append the right dir")
    appendVectorsSharded(spark, indexPath, emb)
  }

  /** [[appendHnswIndexSharded]] driven by a BATCH of new vectors
    * instead of a corpus diff — the streaming-maintenance entry point
    * ([[graft.streaming.Runner.hnswMaintainQuery]] calls this per
    * micro-batch). Same idempotence, same touched-shards contract:
    * vectors already in the index left-anti away (a replayed batch
    * appends 0 and writes nothing), intra-batch duplicate vec_ids
    * collapse to one row, and only routed shards rewrite — so a
    * steady stream of arrivals keeps every UNTOUCHED shard's graph
    * executor-resident ([[ShardGraphCache]]) across batches. The
    * index must already carry `_meta.json` (the maintain query's
    * [[ensureShardedMeta]] creates it on the first batch); `graph/`
    * itself may be absent — the first batch CREATES it, so a
    * maintained index needs no offline writeHnswIndexSharded seed.
    *
    * SCALE CAVEAT — when arrivals are UNIFORM over the id space (the
    * common case), id-modulo routing touches EVERY shard every batch,
    * so the per-batch cost is a whole-index rewrite regardless of
    * batch size. That is fine for occasional corpus-diff catch-ups
    * and id-range-skewed arrivals; a steady uniform stream wants
    * [[appendHnswIndexSegment]] (write each batch as its own small
    * segment, rewrite nothing) with [[reshardHnswIndexSharded]] as
    * the periodic compaction — the LSM shape every production vector
    * store converges on. */
  def appendHnswIndexShardedBatch(spark: SparkSession, indexPath: String,
                                  newVecs: DataFrame): Long =
    appendVectorsSharded(spark, indexPath,
      newVecs.select(col("vec_id"), col("embedding")).dropDuplicates("vec_id"))

  /** Sidecar Bloom filter over the index's level-0 vec_ids — the
    * structure that makes the maintain stream's per-trigger DIFF flat
    * in base-index size. Without it, [[appendHnswIndexSegment]]'s
    * freshness check (idempotence: a replayed batch must append 0)
    * left-antied every batch against EVERY level-0 id — distributed
    * and column-pruned, but at a 1e9-vector maintained index that is a
    * billion-row scan per 5 s trigger to discover that a 10 k-doc
    * batch is new. With it, the steady state (genuinely new ids)
    * resolves the diff from the broadcast bloom alone — zero index
    * reads — and only ids the bloom flags as "maybe indexed" (true
    * re-deliveries, plus false positives at the configured fpp=1e-6:
    * ~1% of 10 k-row batches see ANY) fall back to the exact
    * left-anti, preserving exact idempotence. A bloom can only err
    * toward "maybe", so the fallback path makes wrong answers
    * impossible; over-capacity insertion degrades fpp and therefore
    * COST (more fallbacks, converging to the old per-batch scan),
    * never correctness.
    *
    * Validity is content-stamped like every corpus-derived memo: the
    * sidecar (`_idbloom` — underscore-prefixed, so Spark's listing and
    * [[graft.sources.ContentStamp]] never see it as relation content)
    * records the md5 of the `graph/` content stamp it was built
    * against; a digest mismatch (out-of-band write, torn sidecar)
    * makes it invisible and the next segment append rebuilds it from
    * one distributed level-0 scan — the cost the sidecar normally
    * saves, paid once. Every writer keeps it a SUPERSET of the
    * level-0 id set: segment and routed appends fold their fresh ids
    * in post-write; reshard (id-set-preserving) carries a valid bloom
    * over to the new stamp. Merge compatibility is pinned by
    * PERSISTING the creation-time capacity in the sidecar: increments
    * are always built at the sidecar's own recorded capacity, never
    * the current `-D` value, so an operator changing the property
    * mid-life cannot produce an incompatible merge — the new capacity
    * takes effect at the next rebuild.
    *
    * Sizing: ~3.6 bytes/id at fpp=1e-6 — 0.3% of the index's own
    * bytes at 64-dim floats. `-Dgraft.hnsw.bloomCapacity` (default
    * 1e6) should be set to the index's TARGET id count on a real
    * deployment (SCALE.md prices the ladder; past capacity the fpp —
    * and with it the fallback frequency, i.e. COST — degrades
    * gracefully). */
  private[graft] object IdBloom {
    import org.apache.spark.util.sketch.BloomFilter

    private[graft] def capacity: Long = sys.props
      .get("graft.hnsw.bloomCapacity").map(_.toLong).getOrElse(1000000L)
    private val fpp: Double = 1e-6

    private def sidecar(indexPath: String) =
      new org.apache.hadoop.fs.Path(s"$indexPath/_idbloom")
    private def fsOf(spark: SparkSession, indexPath: String) =
      sidecar(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    private def digestOf(stamp: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(stamp.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }

    /** (capacity, bloom) per index ([[graft.StampedMemo]], stamped by
      * the digest of the `graph/` stamp), restamped on every append. */
    private[graft] val memo = graft.StampedMemo[Unit, (Long, BloomFilter)]()
    private def scope(indexPath: String) = s"$indexPath/graph"
    /** Observability + the spec's rebuild pin. */
    private val rebuilds = new java.util.concurrent.atomic.AtomicLong()
    private[graft] def rebuildCount: Long = rebuilds.get()
    /** Exact-check fallbacks taken (a batch had ≥1 "maybe indexed"
      * id) — the spec pins that genuinely-new batches take none. */
    private val fallbacks = new java.util.concurrent.atomic.AtomicLong()
    private[graft] def fallbackCount: Long = fallbacks.get()
    private[graft] def noteFallback(): Unit = { fallbacks.incrementAndGet(); () }
    /** LOUD saturation signal (spec-pinned via the counter): a batch
      * whose false-positive "maybe indexed" flags cross 10% means the
      * filter is operating far past its design fpp (1e-6) — the silent
      * degradation mode where every batch quietly pays the exact index
      * scan the bloom exists to avoid. */
    private val saturations = new java.util.concurrent.atomic.AtomicLong()
    private[graft] def saturationCount: Long = saturations.get()
    private[graft] def noteSaturation(indexPath: String, falsePos: Long,
                                      nBatch: Long, cap: Long): Unit = {
      saturations.incrementAndGet()
      System.err.println(s"[hnsw] id-bloom SATURATED at $indexPath: " +
        s"$falsePos of $nBatch batch ids were FALSE 'maybe indexed' flags " +
        s"(sidecar capacity $cap) — each such batch pays the exact index " +
        "scan the bloom exists to avoid; raise -Dgraft.hnsw.bloomCapacity " +
        "and force a rebuild (delete the _idbloom sidecar — the rebuild " +
        "auto-sizes from the observed id count)")
    }

    private def readSidecar(spark: SparkSession,
                            indexPath: String): Option[(String, Long, BloomFilter)] = {
      val p = sidecar(indexPath)
      val f = fsOf(spark, indexPath)
      if (!f.exists(p)) return None
      val in = f.open(p)
      try Some((in.readUTF(), in.readLong(), BloomFilter.readFrom(in)))
      catch { case _: java.io.IOException => None } // torn write → rebuild
      finally in.close()
    }

    private def writeSidecar(spark: SparkSession, indexPath: String,
                             dg: String, cap: Long, bloom: BloomFilter): Unit = {
      val f = fsOf(spark, indexPath)
      val out = f.create(sidecar(indexPath), true)
      try { out.writeUTF(dg); out.writeLong(cap); bloom.writeTo(out) }
      finally out.close()
    }

    /** Distributed build at an EXPLICIT capacity (the sidecar's own
      * recorded one for increments, the current `-D` for creations) —
      * executors fold partitions into same-dial filters, merged up a
      * tree; nothing id-shaped crosses the driver row-by-row. */
    private def buildBloom(ids: DataFrame, cap: Long): BloomFilter = {
      val spark = ids.sparkSession
      import spark.implicits._
      ids.select(col("vec_id")).as[Long].rdd
        .coalesce(64, shuffle = false) // bound the 3.6 MB zero-value fan-out
        .treeAggregate(BloomFilter.create(cap, fpp))(
          (b, id) => { b.putLong(id); b },
          (a, b) => { a.mergeInPlace(b); a })
    }

    /** The (capacity, bloom) valid for `stamp` WITHOUT rebuilding:
      * session memo first, then the sidecar; None on any digest
      * mismatch. */
    private[graft] def validFor(spark: SparkSession, indexPath: String,
                                stamp: String): Option[(Long, BloomFilter)] = {
      val dg = digestOf(stamp)
      memo.get(spark, scope(indexPath), (), dg)
        .orElse(readSidecar(spark, indexPath).collect {
          case (d, c, b) if d == dg => memo.put(spark, scope(indexPath), (), dg, (c, b))
        })
    }

    /** The (capacity, bloom) valid for `stamp`, rebuilding (and
      * persisting the sidecar) from a distributed scan of `ids()` when
      * no valid copy exists — the one-time migration /
      * out-of-band-write recovery cost. An EMPTY stamp (graph not
      * created yet) yields an empty filter at the current
      * `-Dgraft.hnsw.bloomCapacity` without calling ids(); a LOADED
      * sidecar keeps its own recorded capacity. A REBUILD auto-sizes:
      * it is already scanning the ids, so the new capacity is
      * max(-D floor, 2 × observed count) — under the static default
      * alone, a rebuild at a 1e9-vector index would silently
      * over-saturate the filter (fpp degrades, every batch takes the
      * exact-check fallback, and the diff quietly becomes the
      * index-sized scan again — degradation with no signal). The 2×
      * slack leaves append headroom before the next rebuild; the -D
      * stays the FLOOR, so small indexes keep the configured size and
      * an operator can still pre-size for a known target. */
    def forStamp(spark: SparkSession, indexPath: String, stamp: String,
                 ids: () => DataFrame): (Long, BloomFilter) =
      validFor(spark, indexPath, stamp).getOrElse {
        val (cap, b) =
          if (stamp.isEmpty) (capacity, BloomFilter.create(capacity, fpp))
          else {
            rebuilds.incrementAndGet()
            val rel = ids()
            val observed = rel.count() // id-only, column-pruned — noise
            val sized = math.max(capacity, 2L * observed)
            (sized, buildBloom(rel, sized))
          }
        writeSidecar(spark, indexPath, digestOf(stamp), cap, b)
        memo.put(spark, scope(indexPath), (), digestOf(stamp), (cap, b))
      }

    /** Eagerly materialize the bloom increment for an append's fresh
      * ids, at the TARGET bloom's own capacity (merge compatibility by
      * construction). MUST run BEFORE the graph write commits:
      * committing a write recaches-by-path every cached plan rooted at
      * (or under) the written path, so a post-write evaluation of a
      * `fresh` plan that left-antis against `graph/` would diff
      * against the REWRITTEN graph, yield zero rows, and fold in
      * nothing — silently breaking the superset invariant the whole
      * scheme rests on. An action here pins the pre-write answer. */
    private[graft] def incrementOf(ids: DataFrame, cap: Long): BloomFilter =
      buildBloom(ids, cap)

    /** Fold a pre-materialized increment ([[incrementOf]], same
      * capacity) in and re-key sidecar + memo to the POST-write
      * `graph/` stamp. Runs only after the graph write committed; a
      * failure between merge and sidecar write leaves the old-digest
      * sidecar, which the next batch treats as invalid and rebuilds —
      * self-healing, never stale-served. */
    def mergeAndRestamp(spark: SparkSession, indexPath: String, cap: Long,
                        bloom: BloomFilter, increment: BloomFilter): Unit = {
      bloom.mergeInPlace(increment)
      restamp(spark, indexPath, cap, bloom)
    }

    private def restamp(spark: SparkSession, indexPath: String,
                        cap: Long, bloom: BloomFilter): Unit = {
      val dg = digestOf(graft.sources.ContentStamp.of(spark, scope(indexPath)))
      writeSidecar(spark, indexPath, dg, cap, bloom)
      memo.put(spark, scope(indexPath), (), dg, (cap, bloom)); ()
    }

    /** After a write that did NOT change the id set (reshard /
      * compaction): carry a pre-write-valid bloom over to the new
      * stamp; drop an invalid one (ignored anyway — hygiene). */
    def carryOver(spark: SparkSession, indexPath: String,
                  preStamp: String): Unit =
      validFor(spark, indexPath, preStamp) match {
        case Some((c, b)) => restamp(spark, indexPath, c, b)
        case None => drop(spark, indexPath)
      }

    /** A write that changed the id set withOUT folding its ids in (the
      * corpus-diff routed append when no valid bloom existed): drop
      * any sidecar so nothing downstream can trust a stale one. */
    def drop(spark: SparkSession, indexPath: String): Unit = {
      fsOf(spark, indexPath).delete(sidecar(indexPath), false); ()
    }

    /** The routed-append hook: a valid pre-write bloom gets the
      * pre-materialized increment folded in post-write; no valid
      * bloom → drop (the segment path will rebuild on its next
      * touch). */
    def afterRoutedAppend(spark: SparkSession, indexPath: String,
                          preBloom: Option[(Long, BloomFilter)],
                          freshIncrement: Option[BloomFilter]): Unit =
      (preBloom, freshIncrement) match {
        case (Some((c, b)), Some(inc)) =>
          mergeAndRestamp(spark, indexPath, c, b, inc)
        case _ => drop(spark, indexPath)
      }
  }

  /** LSM-style batch append: the not-yet-indexed vectors of `newVecs`
    * land as ONE NEW `shard=` partition (a SEGMENT — graph built by a
    * single executor task, one file, nothing existing is opened or
    * rewritten), because the fan-out serve is already partition-
    * agnostic: [[annHnswServeSharded]] lists `shard=` dirs and walks
    * each independent graph, and its recall composition only needs
    * each partition's walk to find its OWN members of the global
    * top-k — ANY partition of the corpus serves, id-modulo is just
    * the balanced one. So a maintained index under uniform arrivals
    * pays O(|batch|) per batch instead of a whole-index rewrite, and
    * every existing partition's residency ([[ShardGraphCache]]) stays
    * warm across appends.
    *
    * The trade is segment ACCUMULATION: serve walks nBase + nSegments
    * graphs, so fan-out cost grows per batch until
    * [[reshardHnswIndexSharded]] compacts — reshard already reads
    * every partition's level-0 rows (segments included), regroups by
    * id-modulo at the target count, and STATIC-overwrites, which
    * removes the segment dirs; run it when segment count or mean
    * segment size drifts past the serving budget (SCALE.md measures
    * the drift). Idempotence is the diff contract shared with the
    * routed append: a replayed batch's vectors are already indexed,
    * left-anti to zero, and NO segment is written. Segment ids
    * allocate above the current max `shard=` value — the index
    * directory is single-writer (the maintain query's contract), so
    * allocation cannot race. Returns the number of vectors appended. */
  def appendHnswIndexSegment(spark: SparkSession, indexPath: String,
                             newVecs: DataFrame): Long = {
    import graft.sources.IndexMeta.{intField, strField}
    val meta = graft.sources.IndexMeta.readRaw(indexPath, "writeHnswIndexSharded")
    require(strField(meta, "family") == "hnsw_sharded",
      s"$indexPath is a '${strField(meta, "family")}' index, not hnsw_sharded")
    val m = intField(meta, "m")
    val efC = intField(meta, "efConstruction")
    recoverStagedReshard(spark, indexPath)
    import spark.implicits._
    val graphPath = new org.apache.hadoop.fs.Path(s"$indexPath/graph")
    val gfs = graphPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // content-aware, not exists-aware: a FAILED first segment write
    // leaves graph/ holding only an empty shard= dir (the committer
    // aborted before any part file landed), and reading that would
    // fail schema inference and wedge the maintain stream. Empty dirs
    // still count toward segment-id allocation (never reuse a dir
    // that a concurrent abort may still be touching).
    val stampPre = graft.sources.ContentStamp.of(spark, graphPath.toString)
    val hasContent = stampPre.nonEmpty
    val nextSegment =
      if (!gfs.exists(graphPath)) 0
      else gfs.listStatus(graphPath).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("shard="))
        .map(_.getPath.getName.stripPrefix("shard=").toInt)
        .foldLeft(-1)(math.max) + 1
    def level0Ids =
      if (hasContent)
        spark.read.parquet(graphPath.toString)
          .filter(col("level") === 0).select(col("vec_id"))
      else spark.emptyDataset[Long].toDF("vec_id")
    // the BOUNDED diff ([[IdBloom]]): probe the batch against the
    // broadcast id-bloom; ids the bloom has never seen are fresh with
    // ZERO index reads (the steady state — per-trigger diff cost is
    // O(|batch|), flat in base-index size), and only "maybe indexed"
    // ids (re-deliveries + the fpp tail) pay the exact left-anti scan
    // that used to run every batch
    val (bloomCap, bloom) =
      IdBloom.forStamp(spark, indexPath, stampPre, () => level0Ids)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val probed = newVecs.select(col("vec_id"), col("embedding"))
      .dropDuplicates("vec_id")
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, v, bloomBc.value.mightContainLong(id)) }
      .toDF("vec_id", "embedding", "maybe")
      .persist() // probed once; feeds the maybe-count, the diff and the build
    try {
      // the guard keeps the level-0 relation OUT of the plan entirely
      // when no id needs the exact check (count is batch-bounded)
      val nMaybe = probed.filter(col("maybe")).count()
      if (nMaybe > 0) IdBloom.noteFallback()
      val freshRows =
        if (nMaybe == 0) probed
        else probed.filter(!col("maybe")).unionByName(
          probed.filter(col("maybe"))
            .join(level0Ids, Seq("vec_id"), "left_anti"))
      val fresh = freshRows
        .select(col("vec_id"), col("embedding"))
        .withColumn("shard", lit(nextSegment))
        .as[(Long, Array[Float], Int)]
        .persist() // counted, then (if non-empty) built — one diff pass
      try {
        val nNew = fresh.count()
        // saturation surfacing: maybes that turned out FRESH are bloom
        // false positives; past 10% of the batch the filter is far over
        // capacity and the fallback scan has silently become the norm
        if (nMaybe > 0) {
          val nBatch = probed.count() // cached — probed is persisted
          val falsePos = nNew - (nBatch - nMaybe)
          if (falsePos > 0 && falsePos * 10L >= nBatch)
            IdBloom.noteSaturation(indexPath, falsePos, nBatch, bloomCap)
        }
        if (nNew == 0) return 0L // replay / fully-known batch: no segment
        // the bloom increment is materialized BEFORE the write (see
        // [[IdBloom.incrementOf]]): `fresh`'s fallback branch left-antis
        // against graph/, and a committed write under that root may
        // recache-by-path the plan — evaluated after, it would diff
        // against the rewritten graph and fold in nothing
        val increment =
          IdBloom.incrementOf(fresh.toDF().select(col("vec_id")), bloomCap)
        // write DIRECTLY into the new `shard=` dir (files without the
        // partition column, exactly the layout partitionBy lands) — the
        // write path is a child the read relation never listed, so no
        // staging round is needed and nothing existing is opened
        fresh
          .groupByKey(_._3) // one group ⇒ one executor task builds the segment
          .flatMapGroups { (shard: Int, it: Iterator[(Long, Array[Float], Int)]) =>
            val rows = it.toArray.sortBy(_._1)
            graphRows(buildGraph(rows.map(_._1), rows.map(_._2), m, efC), shard)
          }
          .toDF().drop("shard")
          .repartition(1) // one file per segment — the one-file-per-shard layout
          .write.mode("overwrite")
          .parquet(s"$indexPath/graph/shard=$nextSegment")
        // post-write: fold the appended ids in and re-key to the new
        // stamp, so the NEXT batch's probe sees them (idempotence
        // without the scan)
        IdBloom.mergeAndRestamp(spark, indexPath, bloomCap, bloom, increment)
        nNew
      } finally { fresh.unpersist(blocking = false); () }
    } finally {
      probed.unpersist(blocking = false)
      // release the per-trigger broadcast copy eagerly: at the
      // documented deployment sizing (bloomCapacity = index target,
      // ~3.6 GB at 1e9 ids) a 5 s trigger would otherwise accumulate
      // multiple multi-GB copies in the block managers between
      // ContextCleaner GC cycles
      bloomBc.destroy()
      ()
    }
  }

  /** Create-or-match the sharded-index `_meta.json` — the
    * [[Similarity.ensureAnnMeta]] contract for the graph family: the
    * first maintained batch CREATES the dials; later batches, and any
    * restart that passes different arguments, must match them, because
    * inserting with different (m, efConstruction) than the base graph
    * silently changes recall and a different nShards silently
    * unbalances future routing. */
  private[graft] def ensureShardedMeta(indexPath: String, m: Int,
                                       efConstruction: Int,
                                       nShards: Int): Unit = {
    if (graft.sources.IndexMeta.exists(indexPath)) {
      import graft.sources.IndexMeta.{intField, strField}
      val s = graft.sources.IndexMeta.readRaw(indexPath, "writeHnswIndexSharded")
      val have = (strField(s, "family"), intField(s, "m"),
        intField(s, "efConstruction"), intField(s, "nShards"))
      require(have == (("hnsw_sharded", m, efConstruction, nShards)),
        s"maintained-index dial mismatch: index has $have, stream passed " +
          s"${("hnsw_sharded", m, efConstruction, nShards)}")
    } else graft.sources.IndexMeta.write(indexPath, Seq(
      "family" -> "hnsw_sharded", "m" -> m,
      "efConstruction" -> efConstruction, "nShards" -> nShards))
  }

  /** Shared core of the corpus-diff and batch appends: route the not-
    * yet-indexed vectors to their id-modulo shards, re-insert inside
    * the same one-task-per-shard `flatMapGroups` the build uses, and
    * rewrite ONLY the touched `shard=` partitions (two-phase through
    * a staging dir on the index's own filesystem). `vecs` must be
    * (vec_id, embedding) with unique vec_ids. */
  private def appendVectorsSharded(spark: SparkSession, indexPath: String,
                                   vecs: DataFrame): Long = {
    import graft.sources.IndexMeta.{intField, strField}
    val meta = graft.sources.IndexMeta.readRaw(indexPath, "writeHnswIndexSharded")
    require(strField(meta, "family") == "hnsw_sharded",
      s"$indexPath is a '${strField(meta, "family")}' index, not hnsw_sharded")
    val m = intField(meta, "m")
    val efC = intField(meta, "efConstruction")
    val nShards = intField(meta, "nShards")
    recoverStagedReshard(spark, indexPath)
    import spark.implicits._
    val graphPath = new org.apache.hadoop.fs.Path(s"$indexPath/graph")
    // a maintained index's FIRST batch finds no graph/ CONTENT yet
    // (absent, or only a failed write's empty dir — content-aware like
    // the segment path) — the empty relation makes every arriving
    // vector fresh and every routed shard a from-scratch buildGraph
    // (rest.isEmpty below)
    val stampPre = graft.sources.ContentStamp.of(spark, graphPath.toString)
    // a valid pre-write bloom ([[IdBloom]]) gets this append's ids
    // folded in post-write; captured BEFORE the rewrite (the diff
    // below must never recompute against the rewritten graph)
    val preBloom = IdBloom.validFor(spark, indexPath, stampPre)
    val graph =
      if (stampPre.nonEmpty)
        spark.read.parquet(graphPath.toString)
      else spark.emptyDataset[ShardRow].toDF()
    val level0Ids = graph.filter(col("level") === 0).select(col("vec_id"))
    val fresh = vecs.join(level0Ids, Seq("vec_id"), "left_anti")
      .withColumn("shard", pmod(col("vec_id"), lit(nShards.toLong)).cast("int"))
      .persist() // touched-collect + count + pending + the bloom fold
    // bounded collect: ≤ nShards ids — the probed-cells pattern; also
    // the idempotence early-out (no new vectors → no write at all)
    val touched = fresh.select(col("shard")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) { fresh.unpersist(blocking = false); return 0L }
    val nNew = fresh.count()
    // pending rows ride the same ShardRow relation as level = -2
    // markers (vector present, no adjacency) so ONE group per shard
    // sees its existing graph AND its additions
    val pending = fresh.select(col("shard"), col("vec_id"),
      lit(-2).as("level"),
      typedLit(Seq.empty[Long]).as("neighbor_ids"), col("embedding"))
    val existingTouched = graph
      .filter(col("shard").isin(touched.toSeq: _*))
      .select(col("shard"), col("vec_id"), col("level"),
        col("neighbor_ids"), col("embedding"))
    val updated = existingTouched.unionByName(pending)
      .as[ShardRow]
      .groupByKey(_.shard)
      .flatMapGroups { (shard: Int, it: Iterator[ShardRow]) =>
        val all = it.toArray
        val (pend, rest) = all.partition(_.level == -2)
        val adds = pend.sortBy(_.vec_id)
        val grown =
          if (rest.isEmpty) // a shard that never got a vector at build time
            buildGraph(adds.map(_.vec_id), adds.map(_.embedding.get), m, efC)
          else insertAll(
            graphFromRows(rest.iterator, m, efC, s"$indexPath shard=$shard"),
            adds.map(_.vec_id), adds.map(_.embedding.get))
        graphRows(grown, shard)
      }
    // stage on the INDEX's own filesystem (`.staging-append` — dot-
    // prefixed, so Spark's listing and partition discovery never see
    // it), not the driver's /tmp: Spark tasks write/read the staged
    // parquet, so a driver-local path would leak staging data on an
    // HDFS-default deployment and scatter task files across
    // executor-local disks on a multi-node file:// one. Hadoop
    // FileSystem creates and deletes it wherever the index lives.
    val staging = new org.apache.hadoop.fs.Path(s"$indexPath/.staging-append")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(staging, true) // a crashed append's leftovers
    // the bloom increment must be materialized BEFORE the graph/
    // overwrite commits: the commit recaches-by-path every cached plan
    // rooted at graph/ — including `fresh`, whose left-anti would then
    // re-evaluate against the REWRITTEN graph, yield zero rows, and
    // fold in nothing (silently breaking the superset invariant).
    // `.persist()` does not protect against recache-by-path.
    val freshIncrement = preBloom.map { case (cap, _) =>
      IdBloom.incrementOf(fresh.select(col("vec_id")), cap)
    }
    try {
      updated.toDF()
        .write.mode("overwrite").partitionBy("shard").parquet(staging.toString)
      spark.read.parquet(staging.toString)
        .repartition(col("shard")) // keep the one-file-per-shard layout
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard").parquet(s"$indexPath/graph")
      // keep the id-bloom sidecar a superset of level-0
      IdBloom.afterRoutedAppend(spark, indexPath, preBloom, freshIncrement)
    } finally {
      fs.delete(staging, true)
      fresh.unpersist(blocking = false); ()
    }
    nNew
  }

  /** Crash recovery for [[reshardHnswIndexSharded]]'s swap window: a
    * crash between the old graph's move-aside and the staging rename
    * leaves `.staging-reshard` as the authoritative complete copy (for
    * a segment-maintained index its vectors need not exist in any
    * corpus; the moved-aside `.trash-reshard` copy is pre-fold state
    * and is dropped on recovery). Every entry point that reads
    * `graph/` — serve, all three appends, reshard itself — calls this
    * first: when `graph/` has no visible content but a COMPLETE staged
    * copy exists (`_SUCCESS`, the committer's all-files-landed
    * marker), the staged copy is renamed into place and the operation
    * proceeds normally — one rename, no operator in the loop, and no
    * window in which a maintain stream could write a fresh tiny
    * segment next to a stranded full copy (the failure the old
    * "feed it a batch first" refusal used to invite). An INCOMPLETE
    * staging (no `_SUCCESS`: the crash hit during the staged write, so
    * the old graph is still intact or the index genuinely empty) is
    * not content and is left for reshard's own pre-write cleanup.
    * Returns true when a recovery was performed. */
  private[graft] def recoverStagedReshard(spark: SparkSession,
                                          indexPath: String): Boolean = {
    val gp = new org.apache.hadoop.fs.Path(s"$indexPath/graph")
    val staging = new org.apache.hadoop.fs.Path(s"$indexPath/.staging-reshard")
    val fs = gp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.sources.ContentStamp.of(spark, gp.toString).nonEmpty) return false
    if (!fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS")))
      return false
    // removes at most an EMPTY graph/ (no visible content — the crash
    // left either no dir at all or working-file droppings)
    if (fs.exists(gp)) fs.delete(gp, true)
    require(fs.rename(staging, gp),
      s"reshard recovery: rename $staging -> $gp failed; the complete " +
        "resharded graph is at the staging path — rename it to graph/ " +
        "to recover")
    // the recovered staging supersedes the crashed swap's moved-aside
    // old copy — drop it so a maintained index can't carry a stale
    // index-sized dir forever
    fs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/.trash-reshard"), true)
    true
  }

  /** Re-balance a [[writeHnswIndexSharded]] index to a NEW shard
    * count — the growth operation the scale ladder demands: the 1e7
    * rung (SCALE.md §"Sharded HNSW") measured that per-shard SIZE, not
    * corpus size, is the recall dial (312 k/shard at fixed m=8/efC=96
    * reads 0.842 @ef=256 vs 0.996 at 125 k/shard), so a maintained
    * index that has grown N× holds its recall by raising nShards N×,
    * keeping shard size at the rung it was tuned for — this is that
    * knob. The index is self-contained (level-0 rows carry vectors),
    * so resharding reads NO corpus: vectors regroup by the new
    * id-modulo and one executor task per shard rebuilds with the SAME
    * deterministic [[buildGraph]], producing row-for-row the graph
    * [[writeHnswIndexSharded]] would build at `newNShards` over the
    * same vectors (spec-pinned; file-internal row order may differ —
    * [[graphFromRows]] is order-insensitive).
    *
    * `graph/` swaps first (the rebuilt graph is STAGED complete on the
    * index's own filesystem, then the old dir is RENAMED aside and the
    * staging RENAMED in — two namespace ops, so the unreadable window
    * is ~ms instead of an O(old index files) recursive delete; the old
    * count's `shard=` dirs and any accumulated segments must vanish,
    * which a dynamic overwrite would leave behind; the staged copy is
    * kept on any failure, because for
    * a segment-maintained index it can be the only complete copy), then
    * `_meta.json` rewrites nShards. A crash between swap and meta
    * leaves new graph + old meta, which misroutes only FUTURE appends'
    * shard ASSIGNMENT — never answers: serve fans out over the
    * directory listing (every query walks every shard) and append's
    * diff is the global level-0 id set, so membership is balance, not
    * truth; re-running the reshard repairs it. A crash inside the swap
    * itself leaves `.staging-reshard` complete, and EVERY graph-reading
    * entry point auto-recovers it ([[recoverStagedReshard]]) — no
    * operator in the loop. Every shard's content stamp changes, so
    * all residency ([[ShardGraphCache]]) and drift validations re-key
    * structurally. Doubling as COMPACTION: accumulated
    * [[appendHnswIndexSegment]] partitions fold back into the balanced
    * id-modulo layout — the no-op guard checks the LAYOUT, not just
    * the meta count, so an equal-count reshard with segments present
    * still runs. */
  def reshardHnswIndexSharded(spark: SparkSession, indexPath: String,
                              newNShards: Int): Unit = {
    require(newNShards >= 1, s"newNShards must be >= 1, got $newNShards")
    import graft.sources.IndexMeta.{intField, strField}
    val meta = graft.sources.IndexMeta.readRaw(indexPath, "writeHnswIndexSharded")
    require(strField(meta, "family") == "hnsw_sharded",
      s"$indexPath is a '${strField(meta, "family")}' index, not hnsw_sharded")
    val m = intField(meta, "m")
    val efC = intField(meta, "efConstruction")
    recoverStagedReshard(spark, indexPath)
    // no-op ONLY when the layout already IS the target id-modulo one:
    // equal meta count with extra `shard=` dirs means accumulated
    // SEGMENTS (appendHnswIndexSegment), and reshard is their
    // compaction — it must run
    val gp = new org.apache.hadoop.fs.Path(s"$indexPath/graph")
    val gFs = gp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(gFs.exists(gp) &&
      graft.sources.ContentStamp.of(spark, gp.toString).nonEmpty,
      s"$indexPath/graph has no populated shard= partitions — a meta-only " +
        "maintained index has nothing to reshard yet; feed it a batch first")
    val dirs = gFs.listStatus(gp).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("shard="))
      .map(_.getPath.getName.stripPrefix("shard=").toInt).toSet
    if (intField(meta, "nShards") == newNShards &&
      dirs == (0 until newNShards).toSet) return
    // resharding regroups the SAME id set — a valid id-bloom carries
    // over to the post-swap stamp below instead of being rebuilt
    val stampPre = graft.sources.ContentStamp.of(spark, gp.toString)
    import spark.implicits._
    val rebuilt = spark.read.parquet(s"$indexPath/graph")
      .filter(col("level") === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .groupByKey { case (id, _) => shardOf(id, newNShards) }
      .flatMapGroups { (shard: Int, it: Iterator[(Long, Array[Float])]) =>
        val rows = it.toArray.sortBy(_._1)
        graphRows(buildGraph(rows.map(_._1), rows.map(_._2), m, efC), shard)
      }
    val staging = new org.apache.hadoop.fs.Path(s"$indexPath/.staging-reshard")
    val trash = new org.apache.hadoop.fs.Path(s"$indexPath/.trash-reshard")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(staging, true) // a PRIOR crashed reshard's leftovers
    fs.delete(trash, true)   // a prior swap's deferred old copy
    // the staged relation IS the final layout (one task per shard ⇒
    // one file per shard= dir), so the swap is RENAME + RENAME — two
    // namespace ops, no second Spark job. The old graph moves ASIDE
    // (`.trash-reshard` — dot-prefixed, invisible to Spark's listing
    // and every stamp walk) rather than being deleted in the window:
    // a recursive delete of the old graph costs O(old index files)
    // with the index UNREADABLE throughout (at the 1e7 rung that is
    // seconds of serve-visible outage per in-loop fold), while the
    // rename pair leaves only a ~ms gap; the deferred delete runs
    // AFTER the new graph is in place. Staging is KEPT if anything
    // below throws: for a segment-maintained index the staged copy may
    // be the only complete one (its vectors need not exist in any
    // corpus), so failure recovery is `mv .staging-reshard graph`,
    // named in the refusals. A crash between the renames leaves
    // exactly the state [[recoverStagedReshard]] repairs (graph absent,
    // staging complete); a crash after both renames leaves only the
    // old copy in trash, removed by the next reshard's pre-clean or
    // recovery pass — bounded by one fold interval on a maintained
    // index, and never visible to reads.
    rebuilt.toDF()
      .write.mode("overwrite").partitionBy("shard").parquet(staging.toString)
    require(fs.rename(gp, trash),
      s"reshard: could not move the old $gp aside; the complete " +
        s"resharded graph is at $staging — rename it to graph/ to recover")
    require(fs.rename(staging, gp),
      s"reshard: rename $staging -> $gp failed; the complete resharded " +
        "graph is at the staging path — rename it to graph/ to recover " +
        s"(the pre-swap graph is at $trash)")
    fs.delete(trash, true) // deferred: outside the swap window
    graft.sources.IndexMeta.write(indexPath, Seq(
      "family" -> "hnsw_sharded", "m" -> m,
      "efConstruction" -> efC, "nShards" -> newNShards))
    IdBloom.carryOver(spark, indexPath, stampPre)
  }
}
