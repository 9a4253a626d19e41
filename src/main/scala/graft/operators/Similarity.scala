package graft.operators

import graft.{ScratchCache, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * Array[Float] ×64, label).
  *
  * Shapes: brute-force top-k is the exact baseline (broadcast the query
  * set — the fact side streams once, no shuffle of the corpus); the
  * random-hyperplane LSH variant buckets the corpus so candidate
  * generation is an equi-join — the only formulation that scales to a
  * 100 TB corpus where all-pairs is impossible.
  */
object Similarity {

  /** Cosine similarity between two float-array columns — the native
    * codegen expression (functions.CosineSimilarity): one fused loop,
    * zero allocation. Numerically identical to [[cosineHof]] (sequential
    * double fold), asserted by SimilaritySpec. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosine_similarity(a, b)

  /** Composable formulation with built-in higher-order functions —
    * reference implementation for the equivalence spec, and the fallback
    * for sessions without GraftExtensions. */
  def cosineHof(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(ad, x => x * x), lit(0.0), (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(bd, x => x * x), lit(0.0), (acc, x) => acc + x))
    dot / (na * nb)
  }

  /** Exact brute-force top-k cosine neighbors for a query subset
    * (vec_id < nQueries). The small query side is broadcast; the corpus
    * is scanned once partition-parallel; per-query top-k via window. At
    * scale: corpus never shuffles, ranking shuffles only nQueries×corpus
    * candidate rows — prune further with the LSH variant below. */
  def annBruteForce(spark: SparkSession, dir: String,
                    nQueries: Int = 10, k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val joined = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("q_emb"), col("embedding")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** v20: two-stage truncated-dimension retrieval (the Matryoshka-
    * embedding serving pattern): a COARSE cosine over only the first
    * `truncDims` dimensions shortlists `shortlist` candidates per
    * query, then the FULL-dimension cosine reranks the shortlist to
    * top-`k`. With dim=64 and truncDims=16 the dominant pass (corpus ×
    * queries) runs at ¼ the flops and — when the head dims are stored
    * as their own column/file (the deployment layout; MRL-trained
    * embeddings front-load information exactly so this works) — ¼ the
    * scan bytes; the full vectors are touched only for the bounded
    * shortlist. The stage composes orthogonally with every routing
    * family here (IVF cells, LSH buckets, HNSW walks shortlist the
    * same way); this operator pins the rescore-stage semantics in
    * isolation, exactly like v1 pins the exact baseline.
    *
    * Scale shape: coarse pass = broadcast queries × one corpus scan
    * (never shuffles the corpus); shortlist = per-query WindowGroupLimit
    * (rank-limit pushed before the sort); rerank cost is
    * O(queries × shortlist × dim), independent of corpus size.
    *
    * Recall is NOT guaranteed (a truncated head can misrank a true
    * neighbor out of the shortlist), and on the pinned NEAR-RANDOM
    * corpus the head carries almost no signal (worst coarse rank of a
    * true top-5 neighbor: 447 of 499 at truncDims=16 — measured, the
    * v5/annLsh story again): the gate dials pin the two-stage
    * SEMANTICS via an oracle that replays both stages exactly, not
    * recall. MRL-trained embeddings front-load variance precisely so
    * small heads shortlist well; SimilaritySpec pins the property that
    * makes the stage trustworthy regardless: shortlist ≥ corpus
    * degenerates to exactly [[annBruteForce]]. */
  def annTruncatedRerank(spark: SparkSession, dir: String, nQueries: Int = 10,
                         k: Int = 5, truncDims: Int = 16,
                         shortlist: Int = 40): DataFrame = {
    require(truncDims >= 1 && shortlist >= k && k >= 1)
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val coarse = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("ccos", cosine(slice(col("q_emb"), 1, truncDims),
        slice(col("embedding"), 1, truncDims)))
    val w1 = Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("vec_id"))
    val short = coarse.withColumn("crank", row_number().over(w1))
      .filter(col("crank") <= shortlist)
    val w2 = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    short.withColumn("cos", cosine(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * xxhash64 folded to [-0.5, 0.5), computed ON THE DRIVER with the
    * same XXH64 chain Spark's `xxhash64(lit(plane), dim)` evaluates
    * (seed 42, int inputs) — bit-identical buckets to an all-expression
    * formulation, but the matrix becomes a plan literal instead of
    * per-row hash evaluations. No RNG state — reproducible everywhere. */
  private def planeComponent(plane: Int, dim: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    XXH64.hashInt(dim, XXH64.hashInt(plane, 42L)).toDouble /
      (Long.MaxValue.toDouble * 2.0)
  }

  /** Flattened row-major plane matrix for LSH table `t` (nPlanes × dim). */
  private def planeMatrix(t: Int, nPlanes: Int, dim: Int): Array[Double] =
    Array.tabulate(nPlanes * dim) { idx =>
      planeComponent(t * nPlanes + idx / dim, idx % dim)
    }

  /** Random-hyperplane signature for LSH table `t`: `nPlanes` sign bits
    * packed into a long — one fused codegen loop
    * ([[graft.functions.HyperplaneSig]]) against the literal plane
    * matrix, replacing nPlanes separate `aggregate(zip_with(...))`
    * folds (HOF lambdas get no CSE; measured ~4× on the signature pass).
    * `dim` must equal the embedding length — the expression nulls out on
    * any mismatch rather than projecting with a wrong stride; callers
    * derive it from the data ([[embDim]]). */
  def lshSignature(emb: Column, t: Int, nPlanes: Int, dim: Int = 64): Column =
    graft.functions.HyperplaneSig.hyperplane_sig(
      emb, typedLit(planeMatrix(t, nPlanes, dim)), lit(nPlanes))

  /** Embedding dimensionality, read from the first row (one tiny job —
    * the plane matrices are literals, so the dimension must be known at
    * plan-construction time, like the IVF centroid model). */
  private def embDim(emb: DataFrame): Int =
    emb.select(size(col("embedding"))).head.getInt(0)

  /** Approximate NN: bucket corpus and queries with `tables` independent
    * hyperplane signatures (multi-table probing), equi-join on
    * (table, bucket), exact-rescore candidates, top-k. Recall tested
    * against the brute-force baseline in ScalaTest.
    *
    * Candidate dedup happens AFTER scoring, on scalar (query_id, vec_id,
    * cos) rows — a `groupBy.max` instead of a `distinct` that would
    * shuffle the embedding arrays themselves. */
  def annLsh(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
             nPlanes: Int = 8, tables: Int = 4): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val dim = embDim(emb)
    def bucketed(df: DataFrame, idCol: String, embCol: String): DataFrame =
      df.select(col(idCol), col(embCol),
        posexplode(array((0 until tables).map(t =>
          lshSignature(col(embCol), t, nPlanes, dim)): _*)))
        .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    val corpus = bucketed(emb, "vec_id", "embedding")
    val queries = bucketed(
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      "query_id", "q_emb")
    val cand = corpus.join(queries, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("q_emb"), col("embedding")))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(max(col("cos")).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** IVF (inverted-file) ANN — the scale path for partitioned corpora:
    * train a coarse quantizer (Lloyd iterations from deterministic
    * seeds — the k lowest vec_ids; at 100 TB you train on a sample, the
    * full corpus is only *assigned*), bucket every vector by nearest
    * centroid (broadcast map-side argmax, no shuffle of the corpus
    * beyond the final per-cluster grouping), then answer queries by
    * probing the `nprobe` nearest centroids and exact-rescoring within
    * those clusters via an equi-join on cluster id.
    *
    * Determinism: seeds are id-ordered, Lloyd means are exact double
    * averages, argmax ties break on highest centroid id via struct
    * ordering — identical across runs/executors. On embeddings with no
    * cluster structure (this corpus), expected recall ≈ nprobe/k — the
    * spec asserts that floor rather than pretending structure exists. */
  def annIvf(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
             nClusters: Int = 16, iters: Int = 2, nprobe: Int = 4,
             trainFraction: Double = 1.0): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = centsFor(spark, dir, nClusters, iters, trainFraction)
    val corpusAssign = emb.withColumn("cid", assignCol(cents, col("embedding")))
    // probe: top-nprobe centroids per query via the fused
    // top_centroid_idxs (same ordering as the former
    // sort_array(struct(−cos, cid)) + slice probe: cos desc, cid asc,
    // NaN last — one literal-matrix expression instead of nClusters
    // cosine subtrees); construction shared with v9 (ivfProbes)
    val probes = ivfProbes(emb, cents, nQueries, nprobe)
    val cand = probes.join(corpusAssign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("q_emb"), col("embedding")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** Driver-held model memos ([[graft.StampedMemo]]): the Lloyd-trained
    * coarse centroids and PQ codebooks are deterministic functions of
    * (corpus, params) — id-ordered seeds, exact double means — so a
    * session trains each once; within a bench pass the first trainer
    * (v4/v8) carries the training cost and later callers (v9, the
    * `_prod` lines) see serving cost. A corpus rewritten in place
    * re-stamps, so a stale model is neither served nor PERSISTED into
    * an index by [[writeAnnIndex]]. */
  private[graft] val centsMemo = graft.StampedMemo[(Int, Int, Double), Seq[(Long, Array[Float])]]()
  private[graft] val booksMemo = graft.StampedMemo[(Int, Int, Int), Seq[Seq[Array[Float]]]]()

  private[graft] def centsFor(spark: SparkSession, dir: String, nClusters: Int,
                       iters: Int, trainFraction: Double): Seq[(Long, Array[Float])] =
    centsMemo(spark, s"$dir/embeddings.parquet", (nClusters, iters, trainFraction)) {
      ivfCentroids(Tables.embeddings(spark, dir), nClusters, iters, trainFraction)
    }

  private def booksFor(spark: SparkSession, dir: String, m: Int,
                       nCodes: Int, iters: Int): Seq[Seq[Array[Float]]] =
    booksMemo(spark, s"$dir/embeddings.parquet", (m, nCodes, iters)) {
      pqCodebooks(Tables.embeddings(spark, dir), m, nCodes, iters)
    }

  /** Drop memoized ANN models, to time a cold train (Bench, perfbench). */
  def invalidateModelMemo(): Unit = {
    centsMemo.clear(); booksMemo.clear(); residBooksMemo.clear()
  }

  /** Memo contract for Bench's partial re-time pass, declared HERE next
    * to the memo it describes (same shape as `Dedup.memoDeps`): gate /
    * production queries whose timing depends on [[centsMemo]] /
    * [[booksMemo]] being warm → the queries that train them. A new
    * model-sharing query in SparkEntry must add its pair here, or
    * Bench's third pass re-times it memo-cold and structurally includes
    * training cost. */
  val memoDeps: Map[String, Seq[String]] = Map(
    "v4_ann_ivf_prod"   -> Seq("v4_ann_ivf"),
    "v8_ann_pq_prod"    -> Seq("v8_ann_pq"),
    "v9_ann_ivfpq"      -> Seq("v4_ann_ivf", "v8_ann_pq"),
    "v9_ann_ivfpq_prod" -> Seq("v4_ann_ivf", "v8_ann_pq"),
    "v12_bitext_margin_ann"      -> Seq("v4_ann_ivf", "v8_ann_pq"),
    "v12_bitext_margin_ann_prod" -> Seq("v4_ann_ivf", "v8_ann_pq"),
    "v13_knn_graph"      -> Seq("v4_ann_ivf", "v8_ann_pq"),
    "v13_knn_graph_prod" -> Seq("v4_ann_ivf", "v8_ann_pq"),
    "v13_knn_graph_serve" -> Seq("v4_ann_ivf", "v8_ann_pq"),
    // v15 reuses the coarse quantizer v4 trains; its RESIDUAL
    // codebooks are its own per-pass cost (deliberately NOT a
    // memoTrainer: a trainer named v15* would sort before v4 in the
    // pass order and silently warm v4's centroid training)
    "v15_ann_ivfpq_residual" -> Seq("v4_ann_ivf"),
    "v16_ann_ivfsq8" -> Seq("v4_ann_ivf"),
    "v17_ann_ivfbq" -> Seq("v4_ann_ivf"),
    // the per-family serve lines re-derive the serve-side model
    // (pq needs the codebooks too; sq8/bq only the coarse quantizer)
    "v9_ann_ivfpq_serve" -> Seq("v4_ann_ivf", "v8_ann_pq"),
    "v15_ann_residual_serve" -> Seq("v4_ann_ivf"),
    "v16_ann_sq8_serve" -> Seq("v4_ann_ivf"),
    "v17_ann_bq_serve" -> Seq("v4_ann_ivf"),
    // the hnsw prod line reuses the graph the gate line builds (same
    // (m, efConstruction) memo key — only the search dial differs);
    // the serve line reads the at-rest graph, no in-session dep
    "v18_ann_hnsw_prod" -> Seq("v18_ann_hnsw"))

  /** Gate queries that TRAIN the model memos (see [[memoDeps]]). */
  val memoTrainers: Set[String] = Set("v4_ann_ivf", "v8_ann_pq",
    "v18_ann_hnsw")

  /** Coarse-quantizer training (Lloyd) shared by [[annIvf]] and
    * [[annIvfPq]]. The MODEL (≤ nClusters × dim floats) lives on the
    * driver and enters plans as literals — the MLlib KMeans pattern. The
    * corpus is never collected; assignment is a NARROW per-row argmax
    * (zero shuffles), where a crossJoin+groupBy formulation would
    * shuffle corpus × nClusters rows per Lloyd pass. Only the centroid
    * update aggregates (one shuffle per iteration, nClusters×dim rows
    * out). At corpus scale the quantizer trains on a SAMPLE
    * (deterministic seed) — only assignment touches every vector;
    * trainFraction = 1 keeps the small-corpus default exact.
    *
    * Determinism: seeds are the nClusters lowest vec_ids, Lloyd means
    * are exact double averages, argmax ties break on highest centroid
    * id via [[assignCol]] — identical across runs/executors. */
  private[operators] def ivfCentroids(emb: DataFrame, nClusters: Int,
                                      iters: Int, trainFraction: Double): Seq[(Long, Array[Float])] = {
    require(trainFraction > 0 && trainFraction <= 1.0,
      s"trainFraction must be in (0, 1], got $trainFraction")
    val trainSet = if (trainFraction >= 1.0) emb
                   else emb.sample(withReplacement = false, trainFraction, seed = 42L)
    var cents: Seq[(Long, Array[Float])] = {
      val spark = emb.sparkSession
      import spark.implicits._
      trainSet.orderBy(col("vec_id")).limit(nClusters)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().toSeq
    }
    val dim = cents.head._2.length
    for (_ <- 0 until iters) {
      // Lloyd update: narrow assign → one per-dimension avg aggregate
      // per dim (partial+final, no explode — a posexplode formulation
      // shuffled corpus×dim rows where this shuffles nClusters×dim
      // partial aggregates) → collect the model rows back to the driver
      val avgs = (0 until dim).map(i =>
        avg(element_at(col("embedding"), i + 1)).as(s"v_$i"))
      cents = trainSet.withColumn("cid", assignCol(cents, col("embedding")))
        .groupBy(col("cid"))
        .agg(avgs.head, avgs.tail: _*)
        .collect().toSeq
        .map(r => r.getLong(0) ->
          Array.tabulate(dim)(i => r.getDouble(1 + i).toFloat))
        .sortBy(_._1)
    }
    cents
  }

  /** Argmax over the literal centroid model via the fused
    * nearest_centroid_idx expression (ONE flattened-matrix literal).
    * The per-centroid cosine-subtree formulation
    * (array_max(array(struct(cos, cid), …))) re-planned and
    * re-codegen'd an O(nClusters × dim) tree for every Lloyd pass —
    * measured overhead-bound (near-identical runtime at 500 and 5 000
    * corpus rows). Ties break to the highest index == highest cid
    * (cents kept cid-ascending), matching the struct-max semantics. */
  private def assignCol(cents: Seq[(Long, Array[Float])], embCol: Column): Column = {
    val flat = cents.flatMap(_._2.map(_.toDouble)).toArray
    val cids = cents.map(_._1).toArray
    element_at(typedLit(cids),
      graft.functions.NearestCentroidIdx.nearest_centroid_idx(
        embCol, typedLit(flat), lit(cents.size)) + 1)
  }

  /** v9: IVF × PQ — the FAISS-IVFPQ composition and the production ANN
    * shape at 100 TB: the coarse quantizer ([[ivfCentroids]]) prunes the
    * search to the `nprobe` nearest cells, and within those cells
    * candidates are scored against the 2-byte PQ codes
    * ([[pqCodebooks]]/ADC), not the full vectors. Versus v8's exhaustive
    * ADC scan, the codes relation is only read for ~nprobe/nClusters of
    * the corpus; versus v4, the candidate scoring touches 128×-smaller
    * payloads. The exact `rerank` shortlist rescore keeps the output
    * schema and (under a recall-complete profile) the exact top-k of
    * [[annBruteForce]].
    *
    * PQ here encodes RAW vectors (not residuals): the corpus has no
    * cluster structure for residuals to exploit, and raw codes keep
    * cell assignment and encoding independent narrow projections. A
    * residual-encoding upgrade changes only the encode/reconstruct
    * columns — the probe/join/rerank shape is identical.
    *
    * Scale shape: one narrow projection builds the (cid, codes) index —
    * at rest this is the persisted ANN index, 2 bytes + a long per
    * vector; queries broadcast (queries × nprobe rows); candidate
    * generation is a broadcast equi-join on cid; only rerank × queries
    * full vectors are ever probed. */
  def annIvfPq(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
               nClusters: Int = 16, iters: Int = 2, nprobe: Int = 4,
               m: Int = 4, nCodes: Int = 16, rerank: Int = 64): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val dim = embDim(emb)
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val subDim = dim / m
    val cents = centsFor(spark, dir, nClusters, iters, trainFraction = 1.0)
    val codebooks = booksFor(spark, dir, m, nCodes, iters)
    // the ANN index: cell id + PQ codes in ONE narrow projection
    val index = emb.select(col("vec_id"),
      assignCol(cents, col("embedding")).as("cid"),
      array(pqCodeCols(codebooks, subDim): _*).as("codes"))
    ivfPqAnswer(index, ivfProbes(emb, cents, nQueries, nprobe), emb,
      codebooks, subDim, k, rerank)
  }

  /** The query side of IVF routing: (query_id, q_emb, cid) — one row
    * per probed cell per query, via the fused top-centroid expression. */
  private def ivfProbes(emb: DataFrame, cents: Seq[(Long, Array[Float])],
                        nQueries: Int, nprobe: Int): DataFrame =
    ivfProbesOf(
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      cents, nprobe)

  /** [[ivfProbes]] for an arbitrary (query_id, q_emb) relation —
    * shared with the serving paths, where queries arrive from a caller
    * (or a stream micro-batch) instead of a corpus-prefix subset. */
  private def ivfProbesOf(queries: DataFrame, cents: Seq[(Long, Array[Float])],
                          nprobe: Int): DataFrame = {
    val flatCents = cents.flatMap(_._2.map(_.toDouble)).toArray
    val centIds = cents.map(_._1).toArray
    queries
      .select(col("query_id"), col("q_emb"),
        explode(graft.functions.TopCentroidIdxs.top_centroid_idxs(
          col("q_emb"), typedLit(flatCents), lit(cents.size), lit(nprobe))).as("cidx"))
      .select(col("query_id"), col("q_emb"),
        element_at(typedLit(centIds), col("cidx") + 1).as("cid"))
  }

  /** Shared IVF×PQ answer tail: ADC-score the (cid, codes) index rows
    * inside the probed cells (broadcast equi-join on cid), take the
    * `rerank` shortlist per query, exact-rescore only the shortlist. */
  private def ivfPqAnswer(index: DataFrame, probes: DataFrame, emb: DataFrame,
                          codebooks: Seq[Seq[Array[Float]]], subDim: Int,
                          k: Int, rerank: Int): DataFrame =
    // ADC scoring inside the probed cells only: reconstruct from the
    // literal codebooks (mathematically the per-subspace LUT sum)
    ivfPqAnswerRecon(index, probes, emb,
      pqRecon(codebooks, subDim, col("codes")), k, rerank)

  /** Reconstruction from PQ codes against literal codebooks — the
    * shared decode of the raw path ([[ivfPqAnswer]]) and, summed with
    * the cell centroid, the residual path ([[annIvfPqResidual]]). */
  private def pqRecon(codebooks: Seq[Seq[Array[Float]]], subDim: Int,
                      codes: Column): Column = {
    val cbLit = typedLit(codebooks.map(_.flatMap(_.map(_.toDouble)).toSeq))
    flatten(transform(codes, (c, ms) =>
      slice(element_at(cbLit, ms + 1), c * subDim + 1, lit(subDim))))
  }

  /** The IVF×PQ answer tail for a caller-supplied reconstruction
    * column: ADC-score the probed cells, shortlist, exact-rescore. */
  private def ivfPqAnswerRecon(index: DataFrame, probes: DataFrame, emb: DataFrame,
                               recon: Column, k: Int, rerank: Int): DataFrame = {
    val cand = index.join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("acos", cosineHof(col("q_emb"), recon))
    // shortlist on SCALAR rows only (the annCandidatesOnIndex rationale,
    // guide §2.3/§8): q_emb would otherwise ride the shortlist window's
    // exchange on every probed-cell candidate row — |probed corpus| ×
    // queries rows of query vector at scale — for a rerank-sized
    // survivor set. Re-attach it from the one-row-per-query side
    // (probes carries one identical q_emb per probed cell; the
    // dropDuplicates is exact, not a choice among distinct values).
    val qSide = probes.select(col("query_id"), col("q_emb"))
      .dropDuplicates("query_id")
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("acos").desc, col("vec_id"))
    val shortlist = cand.select(col("query_id"), col("vec_id"), col("acos"))
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= rerank)
      .select(col("query_id"), col("vec_id"))
    // exact rescore of the shortlist only
    val rescored = shortlist
      .join(broadcast(qSide), "query_id")
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .withColumn("cos", cosine(col("q_emb"), col("embedding")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** The v9 index AT REST: the (vec_id, codes) relation written as
    * parquet PARTITIONED BY coarse cell id — 2 bytes + a long per
    * vector, laid out so each query's nprobe cells are whole partitions.
    * Build offline, serve with [[annIvfPqServe]]: the production
    * deployment split (FAISS: train+add offline, search online). */
  /** `includeVectors = true` stores the FULL vectors in the index
    * alongside the codes (cid-partitioned like everything else) — the
    * FAISS shape, where the index IS the vector storage. Serving then
    * rescоres from the probed cells' own files instead of joining back
    * to the corpus relation: the DriveAnnScale ladder measured that
    * corpus-join rescore SCANS the whole vector parquet to fetch a
    * few hundred shortlist rows (bounded compute, LINEAR read — the
    * hidden linear term in an otherwise sublinear serve), while the
    * cell-local rescore reads ~nprobe/nClusters of the vectors. The
    * cost is index bytes ≈ vector bytes (4·dim per entry) instead of
    * 2-byte codes — the standard trade; keep codes-only when a
    * range-clustered corpus relation can prune the rescore ids
    * instead. */
  def writeAnnIndex(spark: SparkSession, dir: String, out: String,
                    nClusters: Int = 16, iters: Int = 2,
                    m: Int = 4, nCodes: Int = 16,
                    includeVectors: Boolean = false,
                    family: String = "pq"): Unit = {
    val enc = encodeForIndex(spark, dir, Tables.embeddings(spark, dir),
      nClusters, iters, m, nCodes, family)
    val rows =
      if (includeVectors)
        enc.join(Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding")), "vec_id")
      else enc
    // one shuffle so each cid partition lands as ONE file (the dedup
    // index's layout rule): partitionBy alone writes one file per
    // (task × touched cell) — the build previously landed single-file
    // cells only because the single-row-group corpus scanned as one
    // task; with fan-in-parallel encodes that would be tasks × cells
    // sliver files, the small-file serve cost guide §6 warns about
    rows.repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(out)
    writeAnnMeta(out, family, nClusters, iters, m, nCodes)
  }

  /** The index's MODEL dials, persisted AT the index (`_meta.json` —
    * underscore-prefixed so parquet partition discovery ignores it,
    * the index root being the dataset itself): training is
    * deterministic given (model corpus, dials), so a serve that reads
    * the dials off the index re-derives exactly the build-time model —
    * a caller repeating them could repeat them WRONG (a different
    * nClusters trains a different coarse quantizer, whose probes route
    * to cells the index never wrote: silent recall loss, no error).
    * Mechanics shared with the dedup index via
    * [[graft.sources.IndexMeta]] — one file name, one failure mode. */
  private def writeAnnMeta(indexPath: String, family: String,
                           nClusters: Int, iters: Int,
                           m: Int, nCodes: Int): Unit =
    graft.sources.IndexMeta.write(indexPath, Seq(
      "family" -> family, "nClusters" -> nClusters, "iters" -> iters,
      "m" -> m, "nCodes" -> nCodes))

  /** Create the index `_meta.json` if absent; if present, REQUIRE the
    * dials match (the maintained-index drift guard — shared with the
    * Dedup index's appendDedupIndexBatch). */
  private[graft] def ensureAnnMeta(indexPath: String, family: String,
                                   nClusters: Int, iters: Int,
                                   m: Int, nCodes: Int): Unit = {
    if (graft.sources.IndexMeta.exists(indexPath)) {
      val meta = readAnnMeta(indexPath)
      require(meta == ((family, nClusters, iters, m, nCodes)),
        s"maintained-index dial mismatch: index has $meta, stream passed " +
          s"(${(family, nClusters, iters, m, nCodes)})")
    } else writeAnnMeta(indexPath, family, nClusters, iters, m, nCodes)
  }

  /** (family, nClusters, iters, m, nCodes) from the index's
    * `_meta.json`; loud on a meta-less directory and on an index whose
    * family is not one of the IVF [[indexFamilies]] (a graph index's
    * meta must never be read as IVF dials). */
  private[graft] def readAnnMeta(indexPath: String): (String, Int, Int, Int, Int) = {
    import graft.sources.IndexMeta.{intField, strField}
    val s = graft.sources.IndexMeta.readRaw(indexPath, "writeAnnIndex")
    val family = strField(s, "family")
    require(indexFamilies.contains(family),
      s"$indexPath is a '$family' index, not an IVF index (expected one of " +
        s"${indexFamilies.keys.toSeq.sorted.mkString(", ")})")
    (family, intField(s, "nClusters"), intField(s, "iters"),
      intField(s, "m"), intField(s, "nCodes"))
  }

  /** The four index payload families and their payload COLUMN NAMES —
    * the index is self-describing: the payload column name in the
    * at-rest schema identifies the encode family, so the serve and
    * append paths derive the family from the index itself
    * ([[indexFamilyOf]]) instead of trusting a caller to repeat it. */
  val indexFamilies: Map[String, String] = Map(
    "pq" -> "codes", "residual" -> "rcodes", "sq8" -> "q8", "bq" -> "bq")

  /** The encode family of an at-rest index, from its payload column. */
  def indexFamilyOf(columns: Seq[String]): String =
    indexFamilies.collectFirst {
      case (fam, payload) if columns.contains(payload) => fam
    }.getOrElse(throw new IllegalArgumentException(
      s"not a graft ANN index: no payload column among " +
        s"${indexFamilies.values.mkString("/")} in ${columns.mkString(", ")}"))

  /** Encode (vec_id, embedding) rows as index rows (vec_id, cid,
    * payload) with the model trained on `modelDir`'s corpus — the one
    * encode used by the offline build ([[writeAnnIndex]]), incremental
    * append ([[appendAnnIndex]]) and the streaming maintenance sink
    * ([[graft.streaming.Runner.annIndexMaintainQuery]]), so no two
    * write paths can drift in how they assign cells or codes. Narrow:
    * one argmax + a per-family payload projection per row, zero
    * shuffles.
    *
    * `family` picks the payload (the four encode families the
    * in-session operators span — the column name doubles as the
    * at-rest family tag, see [[indexFamilies]]):
    *   - "pq"       → `codes`:  m sub-argmaxes vs [[pqCodebooks]] (v9)
    *   - "residual" → `rcodes`: codes of x − centroid (v15)
    *   - "sq8"      → `q8`:     symmetric int8 vector (v16)
    *   - "bq"       → `bq`:     sign bits in one long (v17)
    * Each payload builder is THE SAME column the in-session operator
    * uses, so serve-from-index and in-session answers are equal by
    * construction (IndexServeSpec pins it per family). */
  def encodeForIndex(spark: SparkSession, modelDir: String, vectors: DataFrame,
                     nClusters: Int = 16, iters: Int = 2,
                     m: Int = 4, nCodes: Int = 16,
                     family: String = "pq"): DataFrame = {
    val dim = embDim(Tables.embeddings(spark, modelDir))
    val cents = centsFor(spark, modelDir, nClusters, iters, trainFraction = 1.0)
    val cid = assignCol(cents, col("embedding")).as("cid")
    family match {
      case "pq" =>
        require(dim % m == 0, s"m ($m) must divide dim ($dim)")
        val codebooks = booksFor(spark, modelDir, m, nCodes, iters)
        vectors.select(col("vec_id"), cid,
          array(pqCodeCols(codebooks, dim / m): _*).as("codes"))
      case "residual" =>
        require(dim % m == 0, s"m ($m) must divide dim ($dim)")
        val books = residBooksFor(spark, modelDir, nClusters, iters, m, nCodes, iters)
        vectors.select(col("vec_id"), cid,
          residualCodesCol(cents, books, dim / m, col("embedding")).as("rcodes"))
      case "sq8" =>
        withSq8(vectors, "embedding").select(col("vec_id"), cid, col("q8"))
      case "bq" =>
        require(dim <= 64, s"binary code packs into one long; dim ($dim) > 64")
        vectors.select(col("vec_id"), cid, bqCol(dim, col("embedding")).as("bq"))
      case other => throw new IllegalArgumentException(
        s"unknown index family '$other' (expected one of " +
          s"${indexFamilies.keys.toSeq.sorted.mkString(", ")})")
    }
  }

  /** Incremental index maintenance — the FAISS `add()` analog: encode
    * NEW vectors (vec_id, embedding) with the SAME deterministic model
    * the base index was built with (memoized per session; in
    * production the model ships with the index) and APPEND them to the
    * cid-partitioned parquet. No rebuild, no touch of existing
    * partitions beyond appending files into the affected cells;
    * serving picks the new vectors up on the next read. Periodic
    * retraining (model drift as the corpus distribution moves) is a
    * rebuild via [[writeAnnIndex]] — the standard IVF practice.
    *
    * `modelDir` (default: `dir`) pins the BUILD-TIME model corpus (the
    * annIvfPqServeQueries contract): training is deterministic per
    * corpus, so a fresh session appending AFTER `dir` has grown must
    * pass the corpus the index was built from — deriving the model
    * from the grown `dir` would silently retrain, assigning appended
    * vectors cells/codes inconsistent with the at-rest index (silent
    * recall loss). Same-session appends are protected by the model
    * memo either way.
    *
    * `compactTouchedCells`: repeated appends accrete one small file
    * per touched cell per call — the classic streaming small-file
    * problem, which at 1e9-vector scale turns a cell read into
    * thousands of file opens. When set, each AFFECTED cell partition
    * is compacted to one file after the append (only touched cells —
    * untouched partitions are never read or rewritten). */
  def appendAnnIndex(spark: SparkSession, dir: String, indexPath: String,
                     newVectors: DataFrame,
                     modelDir: String = null,
                     compactTouchedCells: Boolean = false): Unit = {
    val mDir = Option(modelDir).getOrElse(dir)
    // family AND model dials come from the INDEX (_meta.json + payload
    // column name), never caller arguments — appending pq codes to an
    // sq8 index, or codes from a differently-dialed model, is not a
    // mistake this API can express
    val (family, nClusters, iters, m, nCodes) = readAnnMeta(indexPath)
    require(family == indexFamilyOf(spark.read.parquet(indexPath).columns.toSeq),
      s"index schema and _meta.json disagree on the family")
    val encoded = encodeForIndex(spark, mDir, newVectors, nClusters, iters,
      m, nCodes, family)
    encoded.write.mode("append").partitionBy("cid").parquet(indexPath)
    if (compactTouchedCells) {
      // bounded collect: ≤ nClusters cell ids, the probed-cells pattern
      val touched = encoded.select(col("cid")).distinct()
        .collect().map(_.getLong(0))
      compactAnnCells(spark, indexPath, touched.toSeq)
    }
  }

  /** Rewrite the given cells of a [[writeAnnIndex]] index as one file
    * per cell — the small-file compaction behind [[appendAnnIndex]].
    * The cell list is a static partition filter on the read (only the
    * named cells' files are opened) and dynamic partition OVERWRITE —
    * scoped to the write via the writer option, never a session-conf
    * flip — replaces only those cells' directories at commit.
    * Two-phase through a staging path: Spark (rightly) refuses an
    * overwrite of a path it is reading, and a cache-based bypass
    * would tie write correctness to executor storage. Cost is two
    * writes of the TOUCHED cells only — at nClusters cells per index,
    * a fraction the size of the corpus. */
  def compactAnnCells(spark: SparkSession, indexPath: String,
                      cids: Seq[Long]): Unit = {
    if (cids.isEmpty) return
    val staging = java.nio.file.Files
      .createTempDirectory("graft-compact-staging").toString
    try {
      spark.read.parquet(indexPath)
        .filter(col("cid").isin(cids: _*))
        .repartition(col("cid")) // all rows of a cell in one task → one file
        .write.mode("overwrite").partitionBy("cid").parquet(staging)
      spark.read.parquet(staging)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cid").parquet(indexPath)
    } finally {
      // best-effort staging cleanup (local temp dir)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(staging))
    }
  }

  /** In-loop LSM compaction for the STREAM-MAINTAINED index — the
    * row-shaped analog of the graph family's `compactEverySegments`
    * fold: every COMMITTED `batch_id=` partition (those the checkpoint
    * can never replay — everything except `excludeBatchId`, the
    * in-flight batch) collapses into the `batch_id=-1` base, one file
    * per cid, via [[graft.sources.BatchFold]]'s staged crash-safe swap.
    * Without it, [[graft.streaming.Runner.annIndexMaintainQuery]] lands
    * one `(batch_id, cid)` tree per trigger forever (~17 k/day at 5 s),
    * so every probed cell's read fans out over thousands of tiny files
    * within days and the batch-level listing itself grows without
    * bound. The exactly-once property is untouched: the excluded batch
    * keeps its own partition for dynamic-overwrite replay, and folded
    * batches are by construction ones the commit log retired. Serving
    * is layout-agnostic (the `cid isin` filter prunes cid dirs under
    * the base exactly as it did under every batch). Returns the number
    * of partitions folded. */
  def compactMaintainedAnnBatches(spark: SparkSession, indexPath: String,
                                  excludeBatchId: Long): Int = {
    // Folded-base granularity (round-15 fold A/B, SCALE.md): a
    // single-file cell is UNSPLITTABLE, so when probed cells < cores
    // the fold made serve ~2.4× SLOWER at nClusters=16 — exactly the
    // config a small-corpus user picks. Salt the fold shuffle so each
    // cell lands in ~filesPerCell files whenever the cell count alone
    // cannot feed the cores; at deployment shape (nClusters ≥ ~2×
    // cores) this degenerates to the original one-file-per-cell base.
    val cores = spark.sparkContext.defaultParallelism
    val nClusters = readAnnMeta(indexPath)._2
    val filesPerCell = math.max(1, math.ceil(2.0 * cores / nClusters).toInt)
    graft.sources.BatchFold.fold(spark, indexPath, excludeBatchId) {
      (rows, staging) =>
        val parted =
          if (filesPerCell == 1) rows.repartition(col("cid"))
          else rows.repartition(nClusters * filesPerCell, col("cid"),
            pmod(xxhash64(col("vec_id")), lit(filesPerCell.toLong)))
        parted.write.mode("overwrite").partitionBy("cid").parquet(staging)
    }
  }

  /** Serve IVF×PQ queries from a [[writeAnnIndex]] index on disk. The
    * probed cell set (≤ queries × nprobe ids — driver-bounded, the
    * model-collect pattern) becomes a STATIC partition filter on the
    * index read: only the probed cells' files are opened, so a query
    * batch touches ~nprobe/nClusters of the index at rest — the
    * IndexServeSpec asserts this from scan metrics. Training is
    * deterministic, so the serve-side model (memo or retrain) equals
    * the build-side model; in production the model ships with the
    * index. */
  def annIvfPqServe(spark: SparkSession, dir: String, indexPath: String,
                    nQueries: Int = 10, k: Int = 5,
                    nprobe: Int = 4, rerank: Int = 64): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    annIvfPqServeQueries(spark, dir, indexPath,
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      k, nprobe, rerank)
  }

  /** [[annIvfPqServe]] for an arbitrary BATCH of queries (query_id,
    * q_emb) — the online-serving entry point: callers (including the
    * streaming `annServe` pipeline's foreachBatch) bring their own
    * query relation; the probed cell set of THIS batch becomes the
    * static partition filter, so each batch opens only its own cells'
    * files.
    *
    * `modelDir` (default: `dir`) pins the MODEL corpus separately from
    * the rescore corpus: after [[appendAnnIndex]] grows the corpus,
    * serving reads full vectors from the grown `dir` while the coarse
    * centroids / codebooks stay those of the build-time corpus — the
    * production contract (the model ships with the index; it does NOT
    * retrain because the corpus grew). */
  def annIvfPqServeQueries(spark: SparkSession, dir: String, indexPath: String,
                           queries: DataFrame, k: Int = 5,
                           nprobe: Int = 4, rerank: Int = 64,
                           modelDir: String = null): DataFrame = {
    // a maintained index whose in-loop fold crashed mid-swap self-heals
    // at read (the recoverStagedReshard precedent); offline indexes pay
    // one exists() probe
    graft.sources.BatchFold.recover(spark, indexPath)
    // MODEL dials from the index's own _meta.json — a caller-repeated
    // nClusters would train a different coarse quantizer whose probes
    // route to cells the index never wrote (silent recall loss); only
    // the QUERY dials (k, nprobe, rerank) are the caller's to choose
    val (metaFamily, nClusters, iters, m, nCodes) = readAnnMeta(indexPath)
    val emb = Tables.embeddings(spark, dir)
    val dim = embDim(emb)
    val mDir = Option(modelDir).getOrElse(dir)
    val cents = centsFor(spark, mDir, nClusters, iters, trainFraction = 1.0)
    val probes = ivfProbesOf(queries, cents, nprobe)
    val cids = probes.select(col("cid")).distinct().collect().map(_.getLong(0))
    val index = spark.read.parquet(indexPath)
      .filter(col("cid").isin(cids: _*))
    // the encode family is ALSO visible in the schema (the payload
    // column name) — cross-check it against the meta so a hand-edited
    // or mismatched index fails loudly
    val family = indexFamilyOf(index.columns.toSeq)
    require(family == metaFamily,
      s"index schema says family '$family' but _meta.json says '$metaFamily'")
    val payload = indexFamilies(family)
    // a vector-carrying index (writeAnnIndex includeVectors) rescores
    // from the probed cells' OWN files — without it the rescore join
    // scans the whole corpus relation to fetch rerank×queries rows
    // (bounded compute, linear read — measured by DriveAnnScale)
    val rescoreRel =
      if (index.columns.contains("embedding"))
        index.select(col("vec_id"), col("embedding"))
      else emb.select(col("vec_id"), col("embedding"))
    // per-family approximate decode — each is THE SAME recon column the
    // in-session operator scores with, so serve == in-session at equal
    // dials (IndexServeSpec)
    val recon = family match {
      case "pq" =>
        require(dim % m == 0, s"m ($m) must divide dim ($dim)")
        pqRecon(booksFor(spark, mDir, m, nCodes, iters), dim / m, col("codes"))
      case "residual" =>
        require(dim % m == 0, s"m ($m) must divide dim ($dim)")
        residualRecon(cents,
          residBooksFor(spark, mDir, nClusters, iters, m, nCodes, iters),
          dim / m, col("cid"), col("rcodes"))
      case "sq8" => sq8Recon(col("q8"))
      case "bq" => bqRecon(dim, col("bq"))
    }
    ivfPqAnswerRecon(index.select(col("vec_id"), col("cid"), col(payload)),
      probes, rescoreRel, recon, k, rerank)
  }

  /** v16: IVF × scalar-quantization (int8) ANN — the FAISS IVF-SQ8
    * shape and the third encode family (full vectors → v4; 2-byte PQ
    * codes → v9; int8 vectors → here): candidates inside the probed
    * cells are scored against the SYMMETRIC-INT8 quantized vectors
    * (v6's construction — scale = max|x|/127, qᵢ = round(xᵢ/scale)),
    * a 4× payload shrink with ~0.4%-per-component error, so the
    * approximate ranking is nearly exact and the recall-complete
    * rerank is small (contrast v8/v9, whose 128× compression needs
    * large reranks on structureless data). The per-vector scale is
    * NOT stored: cosine is invariant under positive per-vector
    * scaling, so the int pattern alone carries the angle.
    *
    * Scale shape: identical probe/join/rerank to v9 — cells as
    * equi-join partitions, int8 payloads in the probed cells only,
    * full vectors touched for rerank × queries rows. The middle point
    * of the compression/recall trade the three families span. */
  def annIvfSq8(spark: SparkSession, dir: String, nQueries: Int = 10,
                k: Int = 5, nClusters: Int = 16, iters: Int = 2,
                nprobe: Int = 4, rerank: Int = 16): DataFrame = {
    val emb = Tables.embeddingsFanned(spark, dir) // per-row sq8 encode: map-heavy
    val cents = centsFor(spark, dir, nClusters, iters, trainFraction = 1.0)
    val index = withSq8(emb, "embedding")
      .select(col("vec_id"), assignCol(cents, col("embedding")).as("cid"),
        col("q8"))
    ivfPqAnswerRecon(index, ivfProbes(emb, cents, nQueries, nprobe), emb,
      sq8Recon(col("q8")), k, rerank)
  }

  /** The SQ8 payload: per-vector symmetric int8 quantization (v6's
    * construction), added as a `q8` column. Scale is materialized in
    * its own projection first (the v6 rationale: HOF lambda bodies get
    * no common-subexpression elimination — an inline array_max would
    * re-scan the vector per element). ONE builder shared by the
    * in-session form ([[annIvfSq8]]) and the at-rest encode
    * ([[encodeForIndex]]) so index and session payloads cannot drift. */
  private def withSq8(df: DataFrame, embCol: String): DataFrame =
    df.withColumn("_sq8_scale",
        array_max(transform(col(embCol), x => abs(x.cast("double")))) / 127.0)
      .withColumn("q8",
        when(col("_sq8_scale") === 0,
          transform(col(embCol), _ => lit(0)))
          .otherwise(transform(col(embCol),
            x => round(x.cast("double") / col("_sq8_scale")).cast("int"))))
      .drop("_sq8_scale")

  /** SQ8 decode for approximate scoring: the int pattern as doubles
    * (cosine is invariant under the dropped positive per-vector
    * scale). */
  private def sq8Recon(q8: Column): Column =
    transform(q8, x => x.cast("double"))

  /** The BQ payload: `dim` sign bits packed into one long (exact bit
    * arithmetic — sum of distinct powers of two == OR, even at bit 63
    * under two's complement). Shared by [[annIvfBq]] and
    * [[encodeForIndex]]. */
  private def bqCol(dim: Int, embCol: Column): Column = {
    val powers = typedLit((0 until dim).map(1L << _))
    aggregate(sequence(lit(0), lit(dim - 1)), lit(0L),
      (acc, i) => acc + when(element_at(embCol, i + 1) >= 0,
        element_at(powers, i + 1)).otherwise(0L))
  }

  /** BQ decode: the ±1 vector of the stored sign bits (a literal
    * powers-table AND per component — stays inside codegen). */
  private def bqRecon(dim: Int, bq: Column): Column = {
    val powers = typedLit((0 until dim).map(1L << _))
    transform(sequence(lit(0), lit(dim - 1)),
      i => when(bq.bitwiseAND(element_at(powers, i + 1)) =!= 0, lit(1.0))
        .otherwise(lit(-1.0)))
  }

  /** v17: IVF × binary quantization (1-bit) ANN — the FOURTH encode
    * family and the cheapest point of the compression/recall trade
    * (full vectors → v4; int8 → v16; 2-byte PQ → v9; ONE SIGN BIT per
    * dimension → here, the BQ shape modern vector stores ship): each
    * vector's 64 sign bits pack into a single LONG — a 32× payload
    * shrink vs float32, 8 bytes a vector — and candidates inside the
    * probed cells are ranked by the ASYMMETRIC score dot(q, sign(x))
    * (the full-precision query against the ±1 decode; strictly better
    * ranking than symmetric Hamming, same 8-byte index). Packing is
    * exact bit arithmetic (sum of distinct powers of two == OR, even
    * at bit 63 under two's complement), decode is a literal
    * powers-table AND — both stay inside codegen, no UDF.
    *
    * Scale shape: identical probe/join/rerank to v9/v15/v16 — cells as
    * equi-join partitions, 8-byte payloads in the probed cells, full
    * vectors touched for rerank × queries rows. Sign bits keep the
    * angle's octant only, so the recall-complete rerank sits between
    * SQ8's (near-exact) and raw PQ's (128×-compressed) — the probed
    * trade the four families span. */
  def annIvfBq(spark: SparkSession, dir: String, nQueries: Int = 10,
               k: Int = 5, nClusters: Int = 16, iters: Int = 2,
               nprobe: Int = 4, rerank: Int = 64): DataFrame = {
    val emb = Tables.embeddingsFanned(spark, dir) // per-row bq encode: map-heavy
    val dim = embDim(emb)
    require(dim <= 64, s"binary code packs into one long; dim ($dim) > 64")
    val cents = centsFor(spark, dir, nClusters, iters, trainFraction = 1.0)
    val index = emb.select(col("vec_id"),
      assignCol(cents, col("embedding")).as("cid"),
      bqCol(dim, col("embedding")).as("bq"))
    ivfPqAnswerRecon(index, ivfProbes(emb, cents, nQueries, nprobe), emb,
      bqRecon(dim, col("bq")), k, rerank)
  }

  /** v8: product-quantization ANN — the vector-COMPRESSION scale path
    * (complements IVF's partitioning): split each `dim`-vector into `m`
    * subspaces, train a `nCodes`-codeword codebook per subspace (Lloyd,
    * the annIvf pattern — deterministic seeds, exact double means,
    * driver-held model as plan literals), and encode every vector as
    * `m` code indices — at the defaults 4 × 4 bits = 2 bytes instead of
    * 256 (128× payload shrink). Queries score candidates against the
    * RECONSTRUCTED codewords (mathematically the ADC lookup-table sum,
    * expressed through the same literal codebooks), take a `rerank`
    * shortlist per query, then exact-rescore the shortlist against the
    * full vectors — output schema identical to [[annBruteForce]].
    *
    * Scale shape: training touches a sample (here: all 2k vectors);
    * encoding is a NARROW per-row argmax per subspace (no shuffle);
    * query scoring scans the 2-byte codes relation, not the vectors —
    * at 100 TB the full-vector relation is only probed for
    * rerank × queries rows. On THIS corpus (near-random embeddings,
    * no cluster structure) the recall-complete rerank is large — the
    * gate profile is chosen by tools/Probe (pq family) and re-verified by
    * Verify's recall probe (the v4 pattern, auto-demoting); on real
    * corpora with structure a small rerank is the throughput setting. */
  def annPq(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
            m: Int = 4, nCodes: Int = 16, iters: Int = 2,
            rerank: Int = 64): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val dim = embDim(emb)
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val subDim = dim / m
    val codebooks = booksFor(spark, dir, m, nCodes, iters)
    val codes = encodePq(emb, codebooks)

    // reconstruct from the literal codebooks and score approximately —
    // dot(q, recon(x)) is exactly the ADC per-subspace LUT sum
    val cbLit = typedLit(codebooks.map(_.flatMap(_.map(_.toDouble)).toSeq))
    val recon = flatten(transform(col("codes"), (c, ms) =>
      slice(element_at(cbLit, ms + 1), c * subDim + 1, lit(subDim))))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val approx = codes.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("acos", cosineHof(col("q_emb"), recon))
    // scalar shortlist window + q_emb re-attach (the ivfPqAnswerRecon
    // rationale): the exhaustive ADC scan fans |corpus| × queries rows,
    // none of which should carry the query vector into the exchange
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("acos").desc, col("vec_id"))
    val shortlist = approx.select(col("query_id"), col("vec_id"), col("acos"))
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= rerank)
      .select(col("query_id"), col("vec_id"))
    // exact rescore of the shortlist only
    val rescored = shortlist
      .join(broadcast(queries), "query_id")
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .withColumn("cos", cosine(col("q_emb"), col("embedding")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** Per-subspace codebooks: Lloyd on the subvectors (annIvf's
    * ingredients — deterministic lowest-id seeds, assignment via the
    * fused literal-matrix argmax, exact double means, driver-held
    * model). ALL subspaces train together: one seed collect, then ONE
    * Spark job per Lloyd iteration — per-row the m assignments explode
    * to (s, code, pos, v) rows and a single (s, code, pos) average
    * updates every codebook (m × nCodes × subDim result rows). The
    * per-subspace-sequential formulation paid m × iters driver
    * round-trips of job latency for the same arithmetic. */
  private[operators] def pqCodebooks(emb: DataFrame, m: Int, nCodes: Int,
                                     iters: Int): Seq[Seq[Array[Float]]] = {
    val dim = embDim(emb)
    val subDim = dim / m
    def subCol(s: Int): Column = slice(col("embedding"), s * subDim + 1, subDim)
    var books: Seq[Seq[Array[Float]]] = {
      val spark = emb.sparkSession
      import spark.implicits._
      val seeds = emb.orderBy(col("vec_id")).limit(nCodes)
        .select(col("embedding")).as[Array[Float]].collect()
      (0 until m).map(s =>
        seeds.map(v => v.slice(s * subDim, (s + 1) * subDim)).toSeq)
    }
    for (_ <- 0 until iters) {
      val perSub = array(books.indices.map { s =>
        val flat = books(s).flatMap(_.map(_.toDouble)).toArray
        struct(lit(s).as("s"),
          graft.functions.NearestCentroidIdx.nearest_centroid_idx(
            subCol(s), typedLit(flat), lit(books(s).size)).as("code"),
          subCol(s).as("sub"))
      }: _*)
      val updated = emb.select(explode(perSub).as("e"))
        .select(col("e.s").as("s"), col("e.code").as("code"),
          posexplode(col("e.sub")))
        .groupBy(col("s"), col("code"), col("pos"))
        .agg(avg(col("col").cast("double")).as("v"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .view.mapValues { rows =>
          val arr = new Array[Float](subDim)
          rows.foreach(r => arr(r.getInt(2)) = r.getDouble(3).toFloat)
          arr
        }.toMap
      books = (0 until m).map { s =>
        updated.keys.filter(_._1 == s).map(_._2).toSeq.sorted
          .map(c => updated((s, c)))
      }
    }
    books
  }

  /** The compressed PQ relation (vec_id, codes): m narrow argmaxes per
    * row, no shuffle — exposed for specs and for callers persisting the
    * encoded corpus. */
  private[operators] def encodePq(emb: DataFrame,
                                  codebooks: Seq[Seq[Array[Float]]]): DataFrame = {
    val subDim = embDim(emb) / codebooks.size
    emb.select(col("vec_id"), array(pqCodeCols(codebooks, subDim): _*).as("codes"))
  }

  /** One argmax column per PQ subspace (narrow, codegen) — shared by
    * [[encodePq]] and [[annIvfPq]]'s index projection. */
  private def pqCodeCols(codebooks: Seq[Seq[Array[Float]]], subDim: Int): Seq[Column] =
    pqCodeColsOf(codebooks, subDim, col("embedding"))

  /** [[pqCodeCols]] over an arbitrary input vector column — the
    * residual path encodes r = x − centroid(cell), not x. */
  private def pqCodeColsOf(codebooks: Seq[Seq[Array[Float]]], subDim: Int,
                           input: Column): Seq[Column] =
    codebooks.indices.map { s =>
      val flat = codebooks(s).flatMap(_.map(_.toDouble)).toArray
      graft.functions.NearestCentroidIdx.nearest_centroid_idx(
        slice(input, s * subDim + 1, subDim),
        typedLit(flat), lit(codebooks(s).size))
    }

  /** The residual r = x − centroid(cell(x)) as a FLOAT array column —
    * the quantity residual PQ encodes. Narrow: one fused argmax (cell
    * assignment) + one zip_with per row. */
  private def residualCol(cents: Seq[(Long, Array[Float])], embCol: Column): Column = {
    val flat = cents.flatMap(_._2.map(_.toDouble)).toArray
    val idx = graft.functions.NearestCentroidIdx.nearest_centroid_idx(
      embCol, typedLit(flat), lit(cents.size))
    val mat = typedLit(cents.map(_._2.map(_.toDouble).toSeq))
    val cvec = element_at(mat, idx + 1)
    transform(zip_with(embCol, cvec, (x, c) => x.cast("double") - c),
      d => d.cast("float"))
  }

  /** Residual codebook memo (the [[booksMemo]] pattern — residual
    * codebooks depend on the coarse quantizer too, so the params carry
    * both dial sets). */
  private[graft] val residBooksMemo =
    graft.StampedMemo[(Int, Int, Int, Int, Int), Seq[Seq[Array[Float]]]]()

  private def residBooksFor(spark: SparkSession, dir: String, nClusters: Int,
                            cIters: Int, m: Int, nCodes: Int,
                            iters: Int): Seq[Seq[Array[Float]]] =
    residBooksMemo(spark, s"$dir/embeddings.parquet", (nClusters, cIters, m, nCodes, iters)) {
      val emb = Tables.embeddings(spark, dir)
      val cents = centsFor(spark, dir, nClusters, cIters, trainFraction = 1.0)
      pqCodebooks(
        emb.select(col("vec_id"),
          residualCol(cents, col("embedding")).as("embedding")),
        m, nCodes, iters)
    }

  /** v9 with RESIDUAL encoding — the FAISS IVFPQ default: PQ codebooks
    * are trained on (and codes encode) r = x − centroid(cell(x))
    * instead of x. On corpora with cluster structure the residuals
    * have far smaller variance than the raw vectors, so the same
    * 2-byte code budget quantizes them with lower error — better ADC
    * ranking, smaller recall-complete rerank (asserted on a clustered
    * synthetic corpus by ResidualPqSpec; on THIS corpus's
    * structureless embeddings the two paths probe alike, which the
    * spec also pins). Decode is centroid(cid) + codeword concat — the
    * probe/join/rerank shape is IDENTICAL to [[annIvfPq]], exactly as
    * its Scaladoc promised: only the encode/reconstruct columns
    * change. */
  def annIvfPqResidual(spark: SparkSession, dir: String, nQueries: Int = 10,
                       k: Int = 5, nClusters: Int = 16, iters: Int = 2,
                       nprobe: Int = 4, m: Int = 4, nCodes: Int = 16,
                       rerank: Int = 64): DataFrame = {
    val emb = Tables.embeddingsFanned(spark, dir) // per-row residual-PQ encode: map-heavy
    val dim = embDim(emb)
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val subDim = dim / m
    val cents = centsFor(spark, dir, nClusters, iters, trainFraction = 1.0)
    val books = residBooksFor(spark, dir, nClusters, iters, m, nCodes, iters)
    val index = emb.select(col("vec_id"),
      assignCol(cents, col("embedding")).as("cid"),
      residualCodesCol(cents, books, subDim, col("embedding")).as("rcodes"))
    ivfPqAnswerRecon(index, ivfProbes(emb, cents, nQueries, nprobe), emb,
      residualRecon(cents, books, subDim, col("cid"), col("rcodes")), k, rerank)
  }

  /** The residual-PQ payload: codes of r = x − centroid(cell(x)) under
    * the residual codebooks. Shared by [[annIvfPqResidual]] and
    * [[encodeForIndex]]. */
  private def residualCodesCol(cents: Seq[(Long, Array[Float])],
                               books: Seq[Seq[Array[Float]]], subDim: Int,
                               embCol: Column): Column =
    array(pqCodeColsOf(books, subDim, residualCol(cents, embCol)): _*)

  /** Residual decode = centroid + codeword reconstruction; the
    * centroid is looked up by cid VALUE through the literal id list
    * (cells are whole partitions of the join, so the lookup is one
    * element_at per row). Shared by the in-session form and the serve
    * path. */
  private def residualRecon(cents: Seq[(Long, Array[Float])],
                            books: Seq[Seq[Array[Float]]], subDim: Int,
                            cidCol: Column, codesCol: Column): Column = {
    val centIds = cents.map(_._1)
    val mat = typedLit(cents.map(_._2.map(_.toDouble).toSeq))
    val cvec = element_at(mat, array_position(typedLit(centIds), cidCol).cast("int"))
    zip_with(cvec, pqRecon(books, subDim, codesCol), (a, b) => a + b)
  }

  /** Embedding-cosine near-dup pairs above a threshold. Exact at test SF
    * via block-nested join through LSH buckets; pairs output. */
  def nearDupPairs(spark: SparkSession, dir: String, minCos: Double = 0.4): DataFrame = {
    val emb = Tables.embeddingsFanned(spark, dir) // all-pairs cosine map side
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("e_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("e_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("e_a"), col("e_b")))
      .filter(col("cos") > minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** LSH-bucketed near-dup pairs — the scale path for [[nearDupPairs]]:
    * candidates share a hyperplane-signature bucket in at least one of
    * `tables` tables (equi-join, never all-pairs), then exact-rescore and
    * threshold. Dedup across tables happens after scoring on scalar rows.
    * Probabilistic recall (vs v3's exact-but-O(n²) sweep) governed by
    * nPlanes/tables; found pairs carry the EXACT cosine — asserted
    * subset-equal against the brute-force sweep in ScalaTest. On this
    * corpus near-dups sit at cos ≈ 0.5 (near-random embeddings), where
    * hyperplane collision probability is intrinsically low — at real
    * near-dup thresholds (cos ≥ 0.9) the same parameters give
    * near-complete recall. */
  def nearDupLsh(spark: SparkSession, dir: String, minCos: Double = 0.4,
                 nPlanes: Int = 6, tables: Int = 8): DataFrame = {
    val emb = Tables.embeddingsFanned(spark, dir) // tables x signature map work
    val dim = embDim(emb)
    // persist ONLY the scalar (vec_id, tbl, bucket) index — persisting
    // the exploded relation with its embedding arrays would cache
    // `tables`× the corpus's array data (the array-heavy-persist trap
    // ProfileDedup, a main last at df0f5b7, measured); embeddings re-attach to the candidate ids
    // through two small joins after the scalar self-join + dedup.
    // (A/B'd: replacing the distinct() with a first-colliding-table
    // filter against broadcast signature arrays was ~3× SLOWER — the
    // distinct is map-side combined, so the candidate fan-out collapses
    // before it shuffles, while the filter variant dragged four
    // broadcast joins across the full fan-out.)
    val sigs = ScratchCache.arm( // both sides of the bucket self-join
      emb.select(col("vec_id"),
        posexplode(array((0 until tables).map(t =>
          lshSignature(col("embedding"), t, nPlanes, dim)): _*)))
        .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket"))
    val l = sigs.select(col("tbl"), col("bucket"), col("vec_id").as("id_a"))
    val r = sigs.select(col("tbl"), col("bucket"), col("vec_id").as("id_b"))
    val cand = l.join(r, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("e_a")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("e_b")), "id_b")
      .withColumn("cos", cosine(col("e_a"), col("e_b")))
      .filter(col("cos") > minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** v10: semantic deduplication — the SemDeDup recipe (Abbas et al.
    * 2023, arXiv:2303.09540): restrict the quadratic embedding near-dup
    * sweep to CLUSTERS, then within each cluster drop every item whose
    * cosine similarity to some earlier-ordered member exceeds `minCos`
    * (the paper's upper-triangular similarity-matrix pruning — an item
    * is dropped iff ANY earlier item is τ-similar, independent of that
    * item's own fate; the within-cluster order is a dial, here the
    * portable vec_id ascending). Emits EVERY vec with its kept/dropped
    * decision — no float columns, so the DuckDB oracle hashes exactly.
    *
    * Scale shape: the only quadratic work is an equi-join on the
    * cluster key with the similarity test as a residual — Σ|cluster|²
    * instead of |corpus|², which is the entire point of SemDeDup at
    * 100 TB (nClusters grows with the corpus so clusters stay bounded;
    * inside an oversized cluster fold the cluster id into
    * [[nearDupLsh]]'s hyperplane-bucket key — the m3 blockCols
    * pattern). The dropped set then re-attaches as a broadcast-sized
    * flag join. The gate query uses the corpus's curated `label` column
    * as the cluster assignment (portable SQL); [[semDedupTrained]]
    * derives it from the memoized Lloyd centroids when no curated
    * clustering exists. */
  def semDedup(spark: SparkSession, dir: String, minCos: Double = 0.4): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    semDedupOf(emb.select(col("vec_id"), col("label").as("cluster"), col("embedding")), minCos)
  }

  /** [[semDedup]] with the cluster assignment DERIVED from the
    * session-memoized IVF coarse quantizer (train once, serve — the
    * FAISS shape): the production path for corpora without a curated
    * cluster column. Assignment is the same narrow per-row argmax as
    * [[annIvf]]'s; determinism is the trainer's. */
  def semDedupTrained(spark: SparkSession, dir: String, minCos: Double = 0.4,
                      nClusters: Int = 16, iters: Int = 2,
                      trainFraction: Double = 1.0): DataFrame = {
    val cents = centsFor(spark, dir, nClusters, iters, trainFraction)
    val emb = Tables.embeddings(spark, dir)
    // cid → int so both variants share one output schema (cids are the
    // nClusters lowest seed vec_ids — far below Int range here; guarded)
    require(cents.forall(_._1 <= Int.MaxValue),
      "centroid cids exceed Int range — widen the cluster column")
    semDedupOf(emb.select(col("vec_id"),
      assignCol(cents, col("embedding")).cast("int").as("cluster"), col("embedding")), minCos)
  }

  /** Shared core: greedy earlier-wins pruning within a cluster column.
    * Input must carry (vec_id, cluster, embedding). */
  private def semDedupOf(base: DataFrame, minCos: Double): DataFrame = {
    val earlier = base.select(col("cluster").as("cl_b"),
      col("vec_id").as("id_b"), col("embedding").as("e_b"))
    // semi-join: each vec survives at most once regardless of how many
    // earlier near-dups it has — the fan-out collapses inside the join
    val dropped = base.join(earlier,
        col("cluster") === col("cl_b") && col("id_b") < col("vec_id") &&
          cosine(col("embedding"), col("e_b")) > minCos, "left_semi")
      .select(col("vec_id"), lit(true).as("is_dup"))
    base.select(col("vec_id"), col("cluster"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(!col("is_dup"), lit(true)).as("kept"))
  }

  /** v11: semantic decontamination — flag every train vector whose
    * cosine to ANY eval-set vector reaches `minCos`: d12's lexical
    * decontamination recipe lifted to embedding space, catching the
    * paraphrased/translated eval leakage n-gram overlap cannot see
    * (eval = vec_id < evalN, the held-out benchmark; train = the
    * rest). Emits one row per flagged train vec with the match count,
    * max cosine, and the best-matching eval vec (cos desc, id asc —
    * d12's deterministic argmax).
    *
    * Scale shape: eval sets are tiny by construction (benchmarks vs a
    * 100 TB corpus), so the eval side BROADCASTS and the train side is
    * one narrow scan — the corpus never shuffles; the ≤ evalN per-vec
    * fan-out collapses in a map-side-combined agg (the flagged subset
    * alone reaches the tiny argmax window). An eval set too big to
    * broadcast routes both sides through [[nearDupLsh]]'s hyperplane
    * buckets instead (the v5 scale path). Cosine rides the fused
    * native expression; the raw double matches DuckDB's
    * list_dot_product (the v1/v3 precedent). */
  def semDecontaminate(spark: SparkSession, dir: String, evalN: Long = 50,
                       minCos: Double = 0.4): DataFrame = {
    require(minCos > 0 && minCos <= 1, s"minCos must be in (0, 1], got $minCos")
    val emb = Tables.embeddings(spark, dir)
    val evalSide = emb.filter(col("vec_id") < evalN)
      .select(col("vec_id").as("id_eval"), col("embedding").as("e_e"))
    val hits = emb.filter(col("vec_id") >= evalN)
      .join(broadcast(evalSide))
      .withColumn("cos", cosine(col("embedding"), col("e_e")))
      .filter(col("cos") >= minCos)
      .select(col("vec_id"), col("id_eval"), col("cos"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("id_eval").asc)
    hits.withColumn("rn", row_number().over(w))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_eval_matches"),
        max(col("cos")).as("max_cos"),
        min(when(col("rn") === 1, col("id_eval"))).as("best_eval_id"))
  }

  /** v12: margin-based bitext mining (Artetxe & Schwenk 2019 — the
    * LASER/CCMatrix recipe): score every (src, tgt) candidate by RATIO
    * margin — cosine normalized by the mean of both sides' average
    * top-k neighborhood cosines — and emit each src vector's best tgt
    * with a mined flag at `minMargin`. The margin cancels hubness (a
    * tgt that is everyone's neighbor has a high nn_tgt, deflating its
    * margins), which raw cosine thresholds cannot. Sides here are the
    * deterministic vec_id parity split (src even / tgt odd — the
    * corpus has no language column); real corpora pass language
    * relations. Argmax is deterministic: ROUNDED margin desc, tgt_id
    * asc (the d12 convention).
    *
    * Scale shape: the exact all-pairs form below is the oracle-able
    * baseline (tgt side broadcast — the v1/v3 pattern). The 100 TB
    * path is [[bitextMarginAnn]] (the v3→v5 twin relationship): both
    * the candidate pairs AND the top-k neighborhood statistics come
    * from IVF×PQ cell-routed search, so nothing quadratic
    * materializes — margins are computed on candidates only, exactly
    * as FAISS-based CCMatrix mines. */
  def bitextMargin(spark: SparkSession, dir: String, k: Int = 4,
                   minMargin: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val emb = Tables.embeddingsFanned(spark, dir) // all-pairs cosine map side
    val src = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("src_id"), col("embedding").as("src_emb"))
    val tgt = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("tgt_id"), col("embedding").as("tgt_emb"))
    val pairs = graft.ScratchCache.arm( // feeds both nn aggs + the scoring join
      src.crossJoin(broadcast(tgt))
        .withColumn("cos", cosine(col("src_emb"), col("tgt_emb")))
        .select(col("src_id"), col("tgt_id"), col("cos")))
    def nnAvg(keyCol: String, otherCol: String, outCol: String) = {
      val w = Window.partitionBy(col(keyCol))
        .orderBy(col("cos").desc, col(otherCol).asc)
      pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .groupBy(col(keyCol)).agg(avg(col("cos")).as(outCol))
    }
    val scored = pairs
      .join(nnAvg("src_id", "tgt_id", "nn_src"), "src_id")
      .join(nnAvg("tgt_id", "src_id", "nn_tgt"), "tgt_id")
      .withColumn("margin",
        round(col("cos") / ((col("nn_src") + col("nn_tgt")) / 2), 6))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("margin").desc, col("tgt_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("src_id"), col("tgt_id"), col("cos"), col("margin"),
        (col("margin") >= minMargin).as("mined"))
  }

  /** One-direction ANN candidate search shared by [[bitextMarginAnn]]:
    * for every row of `queries` (qid, q_emb), the top-`rerank`
    * exact-rescored neighbors from `corpus` (id, embedding), found
    * through the IVF×PQ index — cell-route each query to its `nprobe`
    * nearest coarse cells, ADC-score only those cells' 2-byte codes,
    * exact-rescore only the shortlist. Unlike [[ivfPqAnswer]] the
    * probes side is NOT broadcast: in mining workloads the "queries"
    * are half the corpus, so candidate generation is a plain cid
    * equi-join (the v5 bucket-join shape — AQE broadcasts it when one
    * side happens to be small). Returns (qid, id, cos). */
  private def annCandidates(queries: DataFrame, corpus: DataFrame,
                            cents: Seq[(Long, Array[Float])],
                            codebooks: Seq[Seq[Array[Float]]], subDim: Int,
                            nprobe: Int, rerank: Int,
                            excludeSelf: Boolean = false): DataFrame =
    annCandidatesOnIndex(
      corpus.select(col("id"),
        assignCol(cents, col("embedding")).as("cid"),
        array(pqCodeCols(codebooks, subDim): _*).as("codes")),
      queries, corpus, cents, codebooks, subDim, nprobe, rerank, excludeSelf)

  /** [[annCandidates]] with the (id, cid, codes) index side supplied by
    * the caller — either encoded inline from the corpus (the in-session
    * mining path above) or READ from a [[writeAnnIndex]] parquet index
    * (the serve-from-at-rest path, [[knnGraphServe]] /
    * [[bitextMarginAnnServe]]). */
  private def annCandidatesOnIndex(indexSide: DataFrame,
                                   queries: DataFrame, corpus: DataFrame,
                                   cents: Seq[(Long, Array[Float])],
                                   codebooks: Seq[Seq[Array[Float]]], subDim: Int,
                                   nprobe: Int, rerank: Int,
                                   excludeSelf: Boolean = false): DataFrame = {
    val m = codebooks.size
    val nCodes = codebooks.head.size
    // index side (narrow, computed once per corpus row): coarse cell +
    // PQ codes + the reconstructed-vector norm² — Σ_s ||cb_s[code_s]||²
    // via per-subspace literal norm tables, so pair scoring never
    // touches the reconstruction
    val codeNormLits = codebooks.map(cb =>
      typedLit(cb.map(cw => cw.map(x => x.toDouble * x.toDouble).sum).toSeq))
    val codeNormSq = codebooks.indices.map(s =>
      element_at(codeNormLits(s), element_at(col("codes"), s + 1) + 1)).reduce(_ + _)
    val index = indexSide.withColumn("cnorm", sqrt(codeNormSq))
    val flatCents = cents.flatMap(_._2.map(_.toDouble)).toArray
    val centIds = cents.map(_._1).toArray
    // probe side (once per query row, BEFORE the cell explode): the ADC
    // lookup tables — luts[s][c] = dot(q_sub_s, cb_s[c]) — and the
    // query norm. m × nCodes × subDim flops per QUERY instead of a
    // full-vector reconstruction per PAIR (the FAISS ADC table trick;
    // the reconstruction formulation measured 10×+ slower at mining
    // fan-outs, where each query meets thousands of candidates).
    val luts = array(codebooks.indices.map { s =>
      val cbFlat = typedLit(codebooks(s).flatMap(_.map(_.toDouble)).toSeq)
      val qSub = slice(col("q_emb"), s * subDim + 1, subDim)
      transform(sequence(lit(0), lit(nCodes - 1)), c =>
        aggregate(zip_with(qSub, slice(cbFlat, c * subDim + 1, lit(subDim)),
          (a, b) => a.cast("double") * b), lit(0.0), (acc, x) => acc + x))
    }: _*)
    val probes = queries
      .withColumn("luts", luts)
      .withColumn("qnorm", sqrt(aggregate(
        transform(col("q_emb"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x)))
      .select(col("qid"), col("q_emb"), col("luts"), col("qnorm"),
        explode(graft.functions.TopCentroidIdxs.top_centroid_idxs(
          col("q_emb"), typedLit(flatCents), lit(cents.size), lit(nprobe))).as("cidx"))
      .withColumn("cid", element_at(typedLit(centIds), col("cidx") + 1))
    // pair scoring: m table lookups + one divide per candidate
    val adcDot = (0 until m).map(s =>
      element_at(element_at(col("luts"), s + 1), element_at(col("codes"), s + 1) + 1))
      .reduce(_ + _)
    val joined = index.join(probes, "cid")
    // self-match removed BEFORE the shortlist window (the ivfPqAnswer
    // convention) so it cannot occupy a rerank slot when query and
    // corpus are the same relation (knnGraph)
    val cand = (if (excludeSelf) joined.filter(col("id") =!= col("qid")) else joined)
      .withColumn("acos",
        when(col("qnorm") * col("cnorm") === 0, lit(0.0))
          .otherwise(adcDot / (col("qnorm") * col("cnorm"))))
    // shortlist on SCALAR rows only: the window's exchange otherwise
    // carries q_emb (the full query vector) on every CANDIDATE row —
    // at mining fan-outs that is queries × nprobe-cells × cell-size
    // rows of payload for a rerank-sized survivor set (guide §2.3
    // "project before the exchange", §8 "shuffle keys, not payloads").
    // The query vector re-attaches to the shortlist by a qid equi-join
    // against `queries` (rerank × |queries| rows meet |queries| rows;
    // AQE broadcasts the small side), exactly like the corpus rescore
    // join below — the output pairing is unchanged: each shortlist qid
    // re-acquires its unique q_emb.
    val wa = Window.partitionBy(col("qid")).orderBy(col("acos").desc, col("id"))
    val shortlist = cand.select(col("qid"), col("id"), col("acos"))
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= rerank)
      .select(col("qid"), col("id"))
    shortlist.join(queries, "qid")
      .join(corpus, "id")
      .withColumn("cos", cosine(col("q_emb"), col("embedding")))
      .select(col("qid"), col("id"), col("cos"))
  }

  /** v14: label-free embedding clustering — connected components over
    * the cosine near-dup pair graph (cos ≥ minCos), every vector
    * labeled with the min vec_id reachable in its component
    * (singletons label themselves). The d7 recipe lifted to embedding
    * space: where v10 (SemDeDup) scopes its greedy dedup to CURATED
    * label clusters, v14 derives the clusters from the geometry
    * itself — the corpus-clustering stage of CCNet/SemDeDup-style
    * pipelines when no taxonomy exists.
    *
    * Runs on [[Dedup.componentsOf]] — the same bounded driver
    * union-find fast path (loud `driverMaxEdges` guard) with the
    * distributed min-label-propagation fallback, memoized per
    * (session, dir, "cos", minCos). Pair source: the exact sweep
    * ([[nearDupPairs]], the oracle-able baseline) or the hyperplane-LSH
    * bucketed path ([[nearDupLsh]], `lsh = true`) — the 100 TB
    * candidate generator, identical output under a recall-complete
    * dial (v5's probed precondition). */
  def embeddingClusters(spark: SparkSession, dir: String, minCos: Double = 0.4,
                        lsh: Boolean = false, nPlanes: Int = 6, tables: Int = 8,
                        maxIters: Int = 20, driverMaxEdges: Int = 100000): DataFrame = {
    val source = if (lsh) s"cos-lsh-$nPlanes-$tables" else "cos"
    graft.operators.Dedup.componentsOf(spark,
      () => {
        val pairs =
          if (lsh) nearDupLsh(spark, dir, minCos, nPlanes, tables)
          else nearDupPairs(spark, dir, minCos)
        (pairs.select(col("id_a"), col("id_b")), Nil)
      },
      Tables.embeddings(spark, dir).select(col("vec_id").as("doc_id")),
      maxIters, driverMaxEdges, s"$dir/embeddings.parquet", (source, minCos))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
  }

  /** v13 exact baseline: the full k-NN GRAPH — every vector's top-k
    * cosine neighbors (not just a query subset like [[annBruteForce]]).
    * The graph is the substrate of embedding-space curation: SemDeDup
    * beyond label clusters, connected-component near-dup clustering,
    * UMAP/graph-layout inputs, kNN-classifier label spreading. Exact
    * all-pairs form for the oracle and the Verify probe; the 100 TB
    * path is [[knnGraph]] (the v1→v9 twin relationship). */
  def knnGraphExact(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val a = emb.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val b = emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
    val scored = a.join(broadcast(b), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("q_emb"), col("embedding")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** v13: the k-NN graph through the IVF×PQ index — [[annCandidates]]
    * with the whole corpus as the query side: cell-route every vector,
    * ADC-score only its probed cells' 2-byte codes via the per-query
    * lookup tables, exact-rescore only the per-vector shortlist, keep
    * top-k by exact cosine (ties on neighbor id — [[annBruteForce]]'s
    * convention).
    *
    * Scale shape: identical to v12_ann's candidate stage — the cid
    * equi-join pairs each vector only with ~nprobe/nClusters of the
    * corpus on compressed codes; full vectors are touched for
    * rerank×|corpus| rows instead of |corpus|²; the shortlist window
    * rides WindowGroupLimit. Under a recall-complete (nprobe, rerank)
    * dial — probed per run by Verify against the exact sweep,
    * auto-demoting — the graph is identical to [[knnGraphExact]]. */
  def knnGraph(spark: SparkSession, dir: String, k: Int = 5,
               nClusters: Int = 16, iters: Int = 2, nprobe: Int = 4,
               m: Int = 4, nCodes: Int = 16, rerank: Int = 64): DataFrame = {
    require(k >= 1 && rerank >= k, s"need 1 <= k <= rerank, got k=$k rerank=$rerank")
    val emb = Tables.embeddingsFanned(spark, dir) // per-query ADC LUTs: map-heavy
    val dim = embDim(emb)
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val subDim = dim / m
    val cents = centsFor(spark, dir, nClusters, iters, trainFraction = 1.0)
    val codebooks = booksFor(spark, dir, m, nCodes, iters)
    val all = emb.select(col("vec_id").as("id"), col("embedding"))
    val queries = all.select(col("id").as("qid"), col("embedding").as("q_emb"))
    val cands = annCandidates(queries, all, cents, codebooks, subDim,
      nprobe, rerank, excludeSelf = true)
    knnGraphTail(cands, k)
  }

  /** Shared v13 answer tail: exact-cosine top-k per query over the
    * candidate set (ties on neighbor id — [[annBruteForce]]'s
    * convention), WindowGroupLimit-shaped. */
  private def knnGraphTail(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id"))
    cands.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("rank"),
        col("id").as("neighbor_id"), col("cos"))
  }

  /** v13 served from the AT-REST index: [[knnGraph]] with the (cid,
    * codes) side READ from a [[writeAnnIndex]] parquet index instead of
    * encoded in-session — the deployment shape for mining a 100 TB
    * corpus: the index is built offline (and grown incrementally by
    * [[appendAnnIndex]]); a mining run re-encodes NOTHING, it reads
    * 2-byte codes at rest. No static cell filter here (unlike
    * [[annIvfPqServeQueries]]): the query side is the whole corpus, so
    * every cell is probed by construction — the pruning lever for
    * query BATCHES is moot for whole-corpus mining. `modelDir`
    * (default: `dir`) pins the build-time model corpus — pass it when
    * `dir` has grown past the index build (the [[appendAnnIndex]]
    * contract). Identical output to [[knnGraph]] at the same dials
    * (spec-pinned). */
  def knnGraphServe(spark: SparkSession, dir: String, indexPath: String,
                    k: Int = 5, nprobe: Int = 4,
                    rerank: Int = 64, modelDir: String = null): DataFrame = {
    require(k >= 1 && rerank >= k, s"need 1 <= k <= rerank, got k=$k rerank=$rerank")
    // model dials from the index's _meta.json (the serve contract);
    // the ADC-LUT mining path reads 2-byte PQ codes — other families
    // fail loudly here rather than mis-decode
    val (family, nClusters, iters, m, nCodes) = readAnnMeta(indexPath)
    require(family == "pq",
      s"knnGraphServe mines from a pq index (ADC lookup tables); got '$family'")
    val emb = Tables.embeddingsFanned(spark, dir) // per-query ADC LUTs: map-heavy
    val dim = embDim(emb)
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val subDim = dim / m
    val mDir = Option(modelDir).getOrElse(dir)
    val cents = centsFor(spark, mDir, nClusters, iters, trainFraction = 1.0)
    val codebooks = booksFor(spark, mDir, m, nCodes, iters)
    val indexSide = spark.read.parquet(indexPath)
      .select(col("vec_id").as("id"), col("cid"), col("codes"))
    val all = emb.select(col("vec_id").as("id"), col("embedding"))
    val queries = all.select(col("id").as("qid"), col("embedding").as("q_emb"))
    val cands = annCandidatesOnIndex(indexSide, queries, all, cents, codebooks,
      subDim, nprobe, rerank, excludeSelf = true)
    knnGraphTail(cands, k)
  }

  /** v12 scale path: margin-based bitext mining with candidates AND
    * top-k neighborhood statistics from the IVF×PQ index — the
    * FAISS-backed CCMatrix shape, replacing [[bitextMargin]]'s exact
    * all-pairs baseline. Both directions run [[annCandidates]]
    * (src→tgt for each src's candidate tgts + nn_src, tgt→src for
    * nn_tgt and the reverse candidates); margins are computed on the
    * candidate union only; per-src argmax on the ROUNDED margin
    * (margin desc, tgt_id asc — [[bitextMargin]]'s convention).
    *
    * Exactness: candidate pruning (cell routing + ADC shortlist) only
    * affects RECALL; the rescore is exact and the pair cosine is
    * direction-symmetric bit-for-bit (Σ aᵢbᵢ in index order; IEEE
    * multiply commutes), so under a recall-complete (nprobe, rerank)
    * dial — probed per run by Verify, auto-demoting (the v9 pattern) —
    * the output is identical to the exact form, margins and all.
    *
    * Scale shape: nothing quadratic materializes — the cid equi-join
    * pairs each query only with its probed cells' codes
    * (~nprobe/nClusters of the corpus, ADC-scored on 2-byte codes);
    * full vectors are touched only for the per-query shortlist
    * rescore; the nn-stat aggregates and the margin join move (id, id,
    * cos) scalars, never embeddings. At the production dials
    * (nprobe=4, rerank=64) a 1e9-vector mining run scores
    * ~rerank×|queries| full-vector pairs instead of |src|×|tgt|. */
  def bitextMarginAnn(spark: SparkSession, dir: String, k: Int = 4,
                      minMargin: Double = 1.0, nClusters: Int = 16,
                      iters: Int = 2, nprobe: Int = 4,
                      m: Int = 4, nCodes: Int = 16, rerank: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val emb = Tables.embeddingsFanned(spark, dir) // per-query ADC LUTs: map-heavy
    val dim = embDim(emb)
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val subDim = dim / m
    // shared coarse quantizer + codebooks, trained once on the whole
    // corpus (memoized — the v4/v8 model memo, so a session that ran
    // any IVF/PQ query serves these for free)
    val cents = centsFor(spark, dir, nClusters, iters, trainFraction = 1.0)
    val codebooks = booksFor(spark, dir, m, nCodes, iters)
    val src = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("id"), col("embedding"))
    val tgt = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("id"), col("embedding"))
    def asQueries(side: DataFrame) =
      side.select(col("id").as("qid"), col("embedding").as("q_emb"))
    // each direction feeds its nn-stat agg AND the pair union
    val sToT = graft.ScratchCache.arm(
      annCandidates(asQueries(src), tgt, cents, codebooks, subDim, nprobe, rerank))
    val tToS = graft.ScratchCache.arm(
      annCandidates(asQueries(tgt), src, cents, codebooks, subDim, nprobe, rerank))
    bitextMarginTail(sToT, tToS, k, minMargin)
  }

  /** v12_ann served from the AT-REST index ([[knnGraphServe]]'s twin
    * for bitext mining): both directions' candidates come from the
    * [[writeAnnIndex]] parquet codes — the index side of each
    * direction is the at-rest relation filtered to that side's
    * parity, a partition-independent narrow filter. Identical output
    * to [[bitextMarginAnn]] at the same dials (spec-pinned); same
    * no-cell-filter rationale as [[knnGraphServe]] (mining queries
    * probe every cell). */
  def bitextMarginAnnServe(spark: SparkSession, dir: String, indexPath: String,
                           k: Int = 4, minMargin: Double = 1.0,
                           nprobe: Int = 4, rerank: Int = 64,
                           modelDir: String = null): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    // model dials off the index (the knnGraphServe contract)
    val (family, nClusters, iters, m, nCodes) = readAnnMeta(indexPath)
    require(family == "pq",
      s"bitextMarginAnnServe mines from a pq index (ADC lookup tables); got '$family'")
    val emb = Tables.embeddingsFanned(spark, dir) // per-query ADC LUTs: map-heavy
    val dim = embDim(emb)
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val subDim = dim / m
    val mDir = Option(modelDir).getOrElse(dir)
    val cents = centsFor(spark, mDir, nClusters, iters, trainFraction = 1.0)
    val codebooks = booksFor(spark, mDir, m, nCodes, iters)
    val atRest = spark.read.parquet(indexPath)
      .select(col("vec_id").as("id"), col("cid"), col("codes"))
    val src = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("id"), col("embedding"))
    val tgt = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("id"), col("embedding"))
    def asQueries(side: DataFrame) =
      side.select(col("id").as("qid"), col("embedding").as("q_emb"))
    val sToT = graft.ScratchCache.arm(annCandidatesOnIndex(
      atRest.filter(col("id") % 2 === 1), asQueries(src), tgt,
      cents, codebooks, subDim, nprobe, rerank))
    val tToS = graft.ScratchCache.arm(annCandidatesOnIndex(
      atRest.filter(col("id") % 2 === 0), asQueries(tgt), src,
      cents, codebooks, subDim, nprobe, rerank))
    bitextMarginTail(sToT, tToS, k, minMargin)
  }

  /** Shared v12 answer tail over the two directions' candidate sets:
    * nn-stat aggregates, symmetric pair union, margin scoring, per-src
    * argmax (ROUNDED margin desc, tgt_id asc — [[bitextMargin]]'s
    * convention). */
  private def bitextMarginTail(sToT: DataFrame, tToS: DataFrame,
                               k: Int, minMargin: Double): DataFrame = {
    def nnAvg(cands: DataFrame, outCol: String) = {
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id").asc)
      cands.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .groupBy(col("qid")).agg(avg(col("cos")).as(outCol))
    }
    val nnSrc = nnAvg(sToT, "nn_src").withColumnRenamed("qid", "src_id")
    val nnTgt = nnAvg(tToS, "nn_tgt").withColumnRenamed("qid", "tgt_id")
    // candidate pair union: the same (src, tgt, cos) row arrives from
    // both directions with bit-identical cos (symmetric dot product),
    // so distinct() dedups exactly
    val pairs = sToT.select(col("qid").as("src_id"), col("id").as("tgt_id"), col("cos"))
      .unionByName(tToS.select(col("id").as("src_id"), col("qid").as("tgt_id"), col("cos")))
      .distinct()
    val scored = pairs
      .join(nnSrc, "src_id")
      .join(nnTgt, "tgt_id")
      .withColumn("margin",
        round(col("cos") / ((col("nn_src") + col("nn_tgt")) / 2), 6))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("margin").desc, col("tgt_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("src_id"), col("tgt_id"), col("cos"), col("margin"),
        (col("margin") >= minMargin).as("mined"))
  }

  /** v6: symmetric int8 quantization per embedding — the standard
    * vector-store compression (scale = max|x|/127, q_i = round(x_i /
    * scale) ∈ [−127, 127]). Fully narrow per-row: scale is materialized
    * in its own projection BEFORE the quantizing transform (HOF lambda
    * bodies get no common-subexpression elimination — an inline
    * array_max would re-scan the vector per element). Emits the q
    * array + scale so callers can reconstruct; at 100 TB this is a
    * map-only scan that shrinks the vector payload 4×. */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        (array_max(transform(col("embedding"), x => abs(x.cast("double"))))
          / 127.0).as("scale"))
      .select(col("vec_id"), col("scale"),
        when(col("scale") === 0,
          transform(col("embedding"), _ => lit(0)))
          .otherwise(transform(col("embedding"),
            x => round(x.cast("double") / col("scale")).cast("int")))
          .as("q"))

  /** v6 gate shape: [[quantizeInt8]] exploded to one row per vector
    * component (vec_id, idx, scale, q_i) — scalar columns only, so the
    * DuckDB comparator can sort+hash it (array columns crash its
    * pandas sort; same reshape d6 uses for minhash signatures).
    * Callers wanting the packed array use [[quantizeInt8]] directly. */
  def quantizeInt8Rows(spark: SparkSession, dir: String): DataFrame =
    quantizeInt8(spark, dir)
      .select(col("vec_id"), col("scale"), posexplode(col("q")))
      .select(col("vec_id"), col("pos").as("idx"), col("scale"),
        col("col").as("q_i"))

  /** v7: per-label embedding outliers — the standard data-quality pass
    * over a labeled corpus: compute each label's centroid, score every
    * vector by L2 distance to its own label's centroid, surface the
    * `topK` farthest per label (mislabeled/degenerate candidates).
    *
    * Scale shape: the per-dimension centroid aggregate shuffles only
    * labels × dims partial aggregates (map-side combined); centroids
    * come back as per-label arrays and join broadcast; the distance is
    * one sequential per-row fold (codegen, no shuffle); top-k per label
    * is a WindowGroupLimit. Float parity: centroid components are
    * rounded to 9 dp (a distributed mean's last ulp is
    * summation-order-dependent), distances to 6 dp — both sides of the
    * oracle fold the same (v - c)² sequence in the same order. */
  def centroidOutliers(spark: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // (label, dim, mean) — one narrow posexplode + one keyed agg
    val byDim = emb
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("col").cast("double")).as("c"))
    // reassemble ordered centroid arrays (labels × dims rows — tiny)
    val cents = byDim.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => round(s.getField("c"), 9)).as("centroid"))
    val dist = emb.join(broadcast(cents), "label")
      .withColumn("d2", aggregate(
        zip_with(col("embedding"), col("centroid"),
          (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("dist", round(sqrt(col("d2")), 6))
    val w = Window.partitionBy(col("label")).orderBy(col("dist").desc, col("vec_id"))
    dist.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("label"), col("rank"), col("vec_id"), col("dist"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v12_bitext_margin" -> ((s, d) => bitextMargin(s, d)),
    // v12 ANN gate profile: the cheapest recall-complete (nprobe,
    // rerank) on the pinned corpora, found by tools/Probe (bitext family)
    // (16:224 and 14:250 both lose pairs; 16:232 is complete at
    // sf0.001 AND sf0.01). Mining completeness is stricter than plain
    // ANN top-k — the candidate set must also contain each src's
    // argmax-by-MARGIN pair, whose ordering depends on every
    // candidate's hubness stats — so on these near-random embeddings
    // the gate dial is near-exhaustive at the gate SFs (232 of the
    // 250/side — the v9 precedent; at sf0.1+ the same dial prunes
    // harder: 232 of 1000/side). The production dials (nprobe=4,
    // rerank=64) are the bench's prod line. Verify's probe re-checks
    // per run and auto-demotes.
    "v12_bitext_margin_ann" -> ((s, d) => bitextMarginAnn(s, d, nprobe = 16, rerank = 232)),
    // v13 gate profile (tools/Probe, knn family): completeness here is the MAX over
    // every vector's top-k recall, and on these structureless
    // embeddings ADC ordering is nearly uninformative (v8 needed a
    // 272-of-500 shortlist for just 10 queries), so the only complete
    // dial at the gate SFs is the exhaustive shortlist (16:499 —
    // 16:480 still misses one edge at 0.999 recall). The gate buys
    // the value oracle through the real candidate machinery; at
    // sf0.1 the same dial prunes 4× (499 of 1999), and the
    // production dials (4:64) are the bench's prod line. Verify
    // re-checks per run against the exact sweep and auto-demotes.
    "v13_knn_graph" -> ((s, d) => knnGraph(s, d, nprobe = 16, rerank = 499)),
    // v14 gate = exact pair source (the d7 shape: the oracle closure
    // recomputes the same graph); the LSH pair source is the prod line
    "v14_embed_clusters" -> ((s, d) => embeddingClusters(s, d)),
    "v11_sem_decontaminate" -> ((s, d) => semDecontaminate(s, d)),
    "v7_centroid_outliers" -> ((s, d) => centroidOutliers(s, d)),
    "v6_quantize_int8" -> quantizeInt8Rows,
    // v2/v5 gate profiles: the CHEAPEST recall-complete settings on the
    // pinned corpora, found by sweeping (planes × tables) with
    // tools/Probe (lsh family; completeness is deterministic — signatures are
    // seeded) and re-verified per run by Verify's recall probe before
    // attaching the exact oracle (the d3 pattern; auto-demotes to
    // rows-only if a regenerated corpus breaks it). v5: (3,12) — (3,10)
    // loses pairs; 2× cheaper than the old (3,24). v2: (2,20) — (2,12)
    // misses neighbors. Near-dups here sit at cos ≈ 0.4-0.5
    // (near-random embeddings), where completeness needs few planes ×
    // many tables; at real near-dup thresholds (cos ≥ 0.9) the
    // throughput defaults (8×4 / 6×8) already recall near-complete
    // with far fewer candidates.
    "v5_near_dup_lsh" -> ((s, d) => nearDupLsh(s, d, nPlanes = 3, tables = 12)),
    "v1_ann_bruteforce" -> ((s, d) => annBruteForce(s, d)),
    // v20 gate profiles: the oracle replays the EXACT two-stage
    // semantics (head-slice shortlist, full-dim rerank), so the rows
    // hash-match at ANY dial — recall on this near-random corpus is
    // measured and documented in the scaladoc, and the deep-shortlist
    // degeneration to v1 is spec-pinned.
    "v20_ann_trunc_rerank" -> ((s, d) => annTruncatedRerank(s, d)),
    "v20_ann_trunc_rerank_dial2" -> ((s, d) =>
      annTruncatedRerank(s, d, truncDims = 8, shortlist = 120)),
    "v2_ann_lsh" -> ((s, d) => annLsh(s, d, nPlanes = 2, tables = 20)),
    "v3_near_dup_pairs" -> ((s, d) => nearDupPairs(s, d)),
    // v10's gate clusters by the curated label column so the greedy
    // kept/dropped decision is portable SQL; semDedupTrained is the
    // production path (spec'd deterministic + variant-equal semantics)
    "v10_semdedup" -> ((s, d) => semDedup(s, d)),
    // v4 gate profile: the cheapest recall-complete nprobe on the pinned
    // corpora, found by tools/Probe (ivf family: nprobe=12 misses neighbors;
    // 14 is complete at sf0.001 AND sf0.01, and no slower at sf0.1 —
    // runtime is dominated by Lloyd training, not the candidate join).
    // 14-of-16 probes is nearly exhaustive because these embeddings are
    // near-random (no cluster structure, see annIvf's scaladoc); on a
    // corpus with real clusters the default nprobe=4 is the right
    // throughput setting. Verify's recall probe re-checks per run and
    // auto-demotes to rows-only if a regenerated corpus breaks it.
    "v4_ann_ivf" -> ((s, d) => annIvf(s, d, nprobe = 14)),
    // v9 gate profile: the cheapest recall-complete (nprobe, rerank) on
    // the pinned corpora, found by tools/Probe (ivfpq family: 14:240 and 13:any
    // miss neighbors; 14:248 is complete at sf0.001 AND sf0.01). The
    // dials sit at/above the standalone-complete v4/v8 settings because
    // composition only shrinks the candidate pool. Near-exhaustive
    // probing is expected HERE (near-random embeddings, no cluster
    // structure); the production dials (nprobe=4, rerank=64) are the
    // bench's prod line. Verify's recall probe re-checks per run and
    // auto-demotes to rows-only if a regenerated corpus breaks it.
    "v9_ann_ivfpq" -> ((s, d) => annIvfPq(s, d, nprobe = 14, rerank = 248)),
    // v15 gate profile: cheapest recall-complete (nprobe, rerank) for
    // the RESIDUAL encoding on the pinned corpora (tools/Probe, residual family:
    // 14:200 misses neighbors, 14:208 is complete at sf0.001 AND
    // sf0.01). Note the dial vs raw v9's 14:248 — residual codes rank
    // well enough to shave the complete rerank 16% even on
    // structureless embeddings; on clustered corpora the gap is recall
    // itself (ResidualPqSpec).
    "v15_ann_ivfpq_residual" -> ((s, d) =>
      annIvfPqResidual(s, d, nprobe = 14, rerank = 208)),
    // v16 gate profile (tools/Probe, sq8 family): int8 error is ~0.4% per
    // component, so the approximate ranking is nearly exact — complete
    // at rerank=8 (vs raw PQ's 272), with nprobe=14 the same IVF
    // routing floor as v4. The cheap end of the compression/recall
    // trade the three encode families span.
    "v16_ann_ivfsq8" -> ((s, d) => annIvfSq8(s, d, nprobe = 14, rerank = 8)),
    // v17 gate profile (tools/Probe, bq family): sign bits keep only the
    // angle's octant, so the complete rerank lands at 192 (190 misses;
    // SQ8 needs 8, raw PQ 272) — the probed map of the four-family
    // compression/recall trade on the structureless pinned corpus.
    "v17_ann_ivfbq" -> ((s, d) => annIvfBq(s, d, nprobe = 14, rerank = 192)),
    // v8 gate profile: the cheapest recall-complete rerank shortlist on
    // the pinned corpora, found by tools/Probe (pq family: 256 misses neighbors,
    // 272 is complete at sf0.001 AND sf0.01; runtime is dominated by
    // codebook training, not the shortlist). A large rerank is expected
    // HERE: near-random embeddings give PQ codes little to discriminate
    // with — on corpora with real structure the default rerank=64 is
    // the throughput setting. Verify's recall probe re-checks per run
    // and auto-demotes to rows-only if a regenerated corpus breaks it.
    "v8_ann_pq" -> ((s, d) => annPq(s, d, rerank = 272)),
    // v18 gate profile (tools/Probe, hnsw family): the graph family —
    // candidate generation is a driver-held HNSW walk (see
    // operators.Hnsw), rescoring the same exact Spark expression as
    // every family. With Alg.-4 heuristic neighbor selection the
    // probe finds ef=6 — k+1, the STRUCTURAL floor (the shortlist
    // must hold k non-self candidates) — already complete at sf0.001
    // AND sf0.01 (5 misses); the gate runs ef=8, one step off the
    // floor so a self-exclusion tie on a regenerated corpus can't sit
    // exactly on the edge. Contrast the inverted-file families on the
    // same structureless corpus (v8 rerank=272 of 500, v13 499): the
    // beam walk re-ranks with EXACT distances at every hop, so its
    // shortlist quality doesn't degrade with quantization grain —
    // why graph indexes dominate high-recall serving. Verify's
    // recall probe re-checks per run and auto-demotes.
    "v18_ann_hnsw" -> ((s, d) => Hnsw.annHnsw(s, d, efSearch = 8)),
    // v19 gate profile (tools/Probe, hnsw family, v19 column): the
    // SHARDED deployment of the same graph family — per-executor-task
    // shard graphs, fan-out walk, union shortlist, exact rescore.
    // Probed floor ef=24, NOTABLY higher than v18's 6: a 1/nShards
    // graph is not "easier" — tiny graphs (125 nodes at sf0.001/4
    // shards) have few hierarchy levels and short adjacency lists, so
    // the greedy descent starts closer to arbitrary and the probe
    // showed a 0.90-recall band across ef=10..16 before completing at
    // 24. Gate runs 32 (one probed step of margin; same measured wall
    // as 24). Verify auto-demotes if a regenerated corpus breaks it.
    "v19_ann_hnsw_sharded" -> ((s, d) => Hnsw.annHnswSharded(s, d, efSearch = 32)),
  )

  /** Oracles set in SparkEntry after empirical float-parity validation
    * against DuckDB (see tools/check_oracle.py). */
  val oracle: Map[String, String] = Map(
    "v6_quantize_int8" ->
      """WITH s AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale
        |  FROM embeddings),
        |x AS (
        |  SELECT vec_id, scale, e, UNNEST(range(0, len(e))) AS i FROM s)
        |SELECT vec_id, CAST(i AS INTEGER) AS idx, scale,
        |       CASE WHEN scale = 0 THEN 0
        |            ELSE CAST(round(e[CAST(i AS INTEGER) + 1] / scale) AS INTEGER)
        |       END AS q_i
        |FROM x""".stripMargin,
    "v7_centroid_outliers" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |byd AS (
        |  SELECT label, i, avg(v[CAST(i AS INTEGER) + 1]) AS c
        |  FROM e, (SELECT UNNEST(range(0, 64)) AS i) t
        |  GROUP BY label, i),
        |cents AS (
        |  SELECT label, list_transform(list(c ORDER BY i), x -> round(x, 9)) AS centroid
        |  FROM byd GROUP BY label),
        |d AS (
        |  SELECT e.vec_id, e.label,
        |         round(sqrt(list_dot_product(
        |           [v[i+1] - centroid[i+1] FOR i IN range(0, len(v))],
        |           [v[i+1] - centroid[i+1] FOR i IN range(0, len(v))])), 6) AS dist
        |  FROM e JOIN cents USING (label)),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY label
        |    ORDER BY dist DESC, vec_id) AS rank FROM d)
        |SELECT label, rank, vec_id, dist FROM ranked WHERE rank <= 3""".stripMargin,
    "v1_ann_bruteforce" -> exactAnnSql,
    // v20's oracle replays BOTH stages (coarse head-slice shortlist,
    // then full-dim rerank) — not the exact top-k — so the comparison
    // verifies the two-stage semantics itself, dials included.
    "v20_ann_trunc_rerank" -> truncRerankSql(16, 40),
    "v20_ann_trunc_rerank_dial2" -> truncRerankSql(8, 120),
    // v2/v5's oracle is the EXACT counterpart's SQL: when the Verify
    // recall probe confirms the LSH output equals the exact sweep on
    // the pinned corpus (bucketing only affects recall; rescoring is
    // exact), the two relations are identical — rank, cos and all. The
    // probe auto-demotes to rows-only if a regenerated corpus breaks
    // the recall-complete precondition (Verify.lshTrusted).
    "v2_ann_lsh" -> exactAnnSql,
    // v4 under the same precondition as v2: candidate pruning (here,
    // centroid probing) only affects recall, rescoring is exact — when
    // the Verify probe confirms IVF output equals the exact sweep, the
    // relations are identical and the exact oracle applies.
    "v4_ann_ivf" -> exactAnnSql,
    // v8 under the same precondition as v4: the PQ shortlist prunes
    // candidates, the exact rescore makes surviving rows identical —
    // recall-complete (probed) ⇒ the exact oracle applies.
    "v8_ann_pq" -> exactAnnSql,
    // v9 composes v4's cell pruning with v8's shortlist pruning; both
    // only affect recall and the rescore is exact — recall-complete
    // (probed per run by Verify) ⇒ the exact oracle applies.
    "v9_ann_ivfpq" -> exactAnnSql,
    // v15 under the same precondition as v9 — residual encoding only
    // changes which candidates reach the (exact) rescore, so when the
    // Verify probe confirms set-equality with the exact sweep, the
    // exact oracle applies verbatim.
    "v15_ann_ivfpq_residual" -> exactAnnSql,
    // v16 under the same precondition (int8 scoring only affects which
    // candidates reach the exact rescore).
    "v16_ann_ivfsq8" -> exactAnnSql,
    // v17 under the same precondition (sign-bit scoring only affects
    // which candidates reach the exact rescore).
    "v17_ann_ivfbq" -> exactAnnSql,
    // v18 under the same precondition: the graph walk only decides
    // which candidates reach the exact rescore — recall-complete
    // (probed per run by Verify) ⇒ the exact oracle applies.
    "v18_ann_hnsw" -> exactAnnSql,
    // v19 (sharded graphs) under the same precondition — the union of
    // per-shard walks only decides which candidates reach the exact
    // rescore, so recall-complete ⇒ the exact oracle applies.
    "v19_ann_hnsw_sharded" -> exactAnnSql,
    "v3_near_dup_pairs" -> exactNearDupSql,
    "v5_near_dup_lsh" -> exactNearDupSql,
    // boolean/integer output only — the cosine appears solely inside
    // the threshold comparison, computed in double on both engines
    // v12: identical pair cosines (in-order dot product); the top-k
    // neighborhood AVG is a 4-value double mean rounded only inside the
    // 6-dp margin (the t19 float-parity pattern); argmax on the ROUNDED
    // margin so both engines rank identically
    // v12_ann under the v5/v9 precondition: candidate pruning only
    // affects recall and the rescore is exact, so when Verify's probe
    // confirms the ANN output equals the exact all-pairs form, the
    // exact oracle applies verbatim (demoted to rows-only otherwise)
    "v12_bitext_margin_ann" -> exactBitextSql,
    // v13 under the same precondition (probed vs knnGraphExact inline)
    "v13_knn_graph" -> exactKnnSql,
    // v14: the d7 oracle shape — transitive closure (recursive CTE)
    // over the exact cosine pair graph, min-id canonical labels
    "v14_embed_clusters" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v)
        |          / (sqrt(list_dot_product(a.v, a.v))
        |           * sqrt(list_dot_product(b.v, b.v))) > 0.4),
        |edges AS (
        |  SELECT id_a, id_b FROM p
        |  UNION ALL
        |  SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT vec_id AS src, vec_id AS dst FROM embeddings
        |  UNION
        |  SELECT r.src, ed.id_b FROM reach r JOIN edges ed ON r.dst = ed.id_a)
        |SELECT src AS vec_id, MIN(dst) AS cluster_id FROM reach GROUP BY src""".stripMargin,
    "v12_bitext_margin" -> exactBitextSql,
    // cross join + threshold + d12's argmax, all in doubles both
    // engines compute identically (in-order dot product, IEEE division)
    "v11_sem_decontaminate" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (
        |  SELECT t.vec_id, ev.vec_id AS id_eval,
        |         list_dot_product(t.v, ev.v)
        |           / (sqrt(list_dot_product(t.v, t.v))
        |            * sqrt(list_dot_product(ev.v, ev.v))) AS cos
        |  FROM e t JOIN e ev ON ev.vec_id < 50 AND t.vec_id >= 50),
        |m AS (SELECT * FROM p WHERE cos >= 0.4),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |                               ORDER BY cos DESC, id_eval) AS rn
        |  FROM m)
        |SELECT vec_id, COUNT(*) AS n_eval_matches, MAX(cos) AS max_cos,
        |       MIN(CASE WHEN rn = 1 THEN id_eval END) AS best_eval_id
        |FROM r GROUP BY vec_id""".stripMargin,
    "v10_semdedup" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dup AS (
        |  SELECT DISTINCT a.vec_id
        |  FROM e a JOIN e b ON a.label = b.label AND b.vec_id < a.vec_id
        |  WHERE list_dot_product(a.v, b.v)
        |          / (sqrt(list_dot_product(a.v, a.v))
        |           * sqrt(list_dot_product(b.v, b.v))) > 0.4)
        |SELECT e.vec_id, e.label AS cluster, d.vec_id IS NULL AS kept
        |FROM e LEFT JOIN dup d ON e.vec_id = d.vec_id""".stripMargin,
  )

  /** Exact top-k sweep (v1's semantics) — also v2's oracle under the
    * recall-complete precondition. */
  /** v20's oracle, parameterized by the FULL operator dial set
    * (nQueries, k, truncDims, shortlist) — matching annTruncatedRerank
    * exactly, so a future gate dial cannot drift operator and oracle
    * apart (the pageRankSql discipline): DuckDB slices the same head
    * dims (cast-then-slice == slice-then-cast, elementwise), folds the
    * same sequential double dot products, and applies the same two
    * ROW_NUMBER stages with the same tie-breaks. */
  private def truncRerankSql(td: Int, shortlist: Int,
                             nQueries: Int = 10, k: Int = 5): String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id < $nQueries),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |coarse AS (
       |  SELECT q.query_id, e.vec_id, q.qv, e.v,
       |         list_dot_product(q.qv[1:$td], e.v[1:$td])
       |           / (sqrt(list_dot_product(q.qv[1:$td], q.qv[1:$td]))
       |            * sqrt(list_dot_product(e.v[1:$td], e.v[1:$td]))) AS ccos
       |  FROM e, q WHERE e.vec_id <> q.query_id),
       |short AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                               ORDER BY ccos DESC, vec_id) AS crank
       |  FROM coarse),
       |scored AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |         list_dot_product(qv, v)
       |           / (sqrt(list_dot_product(qv, qv))
       |            * sqrt(list_dot_product(v, v))) AS cos
       |  FROM short WHERE crank <= $shortlist),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                               ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= $k""".stripMargin

  private lazy val exactAnnSql: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |         list_dot_product(CAST(q.q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
      |           / (sqrt(list_dot_product(CAST(q.q_emb AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[])))
      |            * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) AS cos
      |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5""".stripMargin

  /** v13's exact oracle: every vector's top-k neighbors over the full
    * all-pairs sweep — [[exactAnnSql]] without the query-subset
    * predicate. */
  private lazy val exactKnnSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |scored AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |         list_dot_product(a.v, b.v)
      |           / (sqrt(list_dot_product(a.v, a.v))
      |            * sqrt(list_dot_product(b.v, b.v))) AS cos
      |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5""".stripMargin

  /** Exact all-pairs sweep (v3's semantics) — also v5's oracle under
    * the recall-complete precondition. */
  private lazy val exactNearDupSql: String =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |       list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      |         / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
      |          * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS cos
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      |        / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
      |         * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) > 0.4""".stripMargin

  /** v12's exact all-pairs margin mining — also v12_ann's oracle under
    * the recall-complete precondition (probed per run by Verify).
    * Identical pair cosines (in-order dot product); the top-k
    * neighborhood AVG is a 4-value double mean rounded only inside the
    * 6-dp margin (the t19 float-parity pattern); argmax on the ROUNDED
    * margin so both engines rank identically. */
  private lazy val exactBitextSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (
      |  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
      |         list_dot_product(s.v, t.v)
      |           / (sqrt(list_dot_product(s.v, s.v))
      |            * sqrt(list_dot_product(t.v, t.v))) AS cos
      |  FROM e s JOIN e t ON s.vec_id % 2 = 0 AND t.vec_id % 2 = 1),
      |nx AS (
      |  SELECT src_id, AVG(cos) AS nn_src FROM (
      |    SELECT src_id, cos, ROW_NUMBER() OVER (PARTITION BY src_id
      |      ORDER BY cos DESC, tgt_id) AS rn FROM p)
      |  WHERE rn <= 4 GROUP BY src_id),
      |ny AS (
      |  SELECT tgt_id, AVG(cos) AS nn_tgt FROM (
      |    SELECT tgt_id, cos, ROW_NUMBER() OVER (PARTITION BY tgt_id
      |      ORDER BY cos DESC, src_id) AS rn FROM p)
      |  WHERE rn <= 4 GROUP BY tgt_id),
      |m AS (
      |  SELECT p.src_id, p.tgt_id, p.cos,
      |         ROUND(p.cos / ((nx.nn_src + ny.nn_tgt) / 2), 6) AS margin
      |  FROM p JOIN nx USING (src_id) JOIN ny USING (tgt_id)),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
      |    ORDER BY margin DESC, tgt_id) AS rn FROM m)
      |SELECT src_id, tgt_id, cos, margin,
      |       margin >= CAST(1.0 AS DOUBLE) AS mined
      |FROM r WHERE rn = 1""".stripMargin
}
