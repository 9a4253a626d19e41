package graft.operators

import graft.{ScratchCache, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * around the standard distributed shape: shingle → (inverted index |
  * signature banding) → candidate-pair join → verify. No driver-side
  * loops, no cartesian products — candidate generation is always a
  * key-equality shuffle join, which is the only formulation that
  * survives 100 TB (a naive pairwise compare is O(n²) and does not).
  *
  * Caching contract: operators persist small scalar index relations
  * that feed both sides of a self-join (the returned DataFrame still
  * depends on them, so the method cannot unpersist). Each is armed via
  * [[graft.ScratchCache]], which unpersists it automatically after the
  * caller's first materializing action — long-lived sessions need no
  * `clearCache()` between queries (ScratchCacheSpec pins this).
  */
object Dedup {

  import TextOps.{tokens, tokenWindows}

  /** documents → (doc_id, shingles): distinct word k-shingles, built on
    * TextOps.tokenWindows over a materialized token array (see its note
    * on lambda-body re-evaluation). */
  private def docShingles(spark: SparkSession, dir: String, k: Int = 3) =
    Tables.documentsFanned(spark, dir) // 64-perm md5 per doc: map-heavy (Tables.fanOut)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_distinct(tokenWindows(col("toks"), k, 1)).as("shingles"))

  /** text column → sorted distinct shingle-hash array, as a DataFrame
    * stage (tokens materialize first — an inline split would re-tokenize
    * per window, see TextOps.tokenWindows). ONE definition shared by the
    * batch (minhashLsh) and streaming (Pipelines.nearDupCandidates)
    * paths, so their bucket values cannot drift. */
  private[graft] def withShingleHashes(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("toks", tokens(col(textCol)))
      .withColumn("sh_hashes", shingleHashes(col("toks")))
      .drop("toks")

  /** [[withShingleHashes]]'s value over a MATERIALIZED token array — the
    * form a caller that already tokenized (the curate intake's
    * per-document pass) hashes with. */
  private[graft] def shingleHashes(toks: Column): Column =
    sort_array(array_distinct(transform(
      // null text windows to one null shingle: compact it away so the
      // document has no shingles (xxhash64(null) would be a shared 42)
      array_distinct(array_compact(tokenWindows(toks, 3, 1))),
      s => xxhash64(s))))

  /** (doc_id, text) → (doc_id, sh_hashes, n_sh): the hashed relation
    * every LSH core below reads. */
  private[graft] def hashedOf(docs: DataFrame): DataFrame =
    withShingleHashes(docs, "text")
      .select(col("doc_id"), col("sh_hashes"), size(col("sh_hashes")).as("n_sh"))

  /** Banded bucket hashes over a minhash-signature column — shared by
    * batch and streaming LSH (same values by construction). Callers must
    * pass a MATERIALIZED sigs column (a named column from a prior
    * projection), not an inline expression: each band references it. */
  private[graft] def bandHashCols(sigs: Column, numHashes: Int, bands: Int): Seq[Column] = {
    val rowsPerBand = numHashes / bands
    (0 until bands).map { b =>
      xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand).map(i =>
        element_at(sigs, i + 1)): _*)
    }
  }

  /** Exact dedup: content-hash groupBy. At scale this is one shuffle on
    * a 128-bit hash — the canonical first pass of any dedup pipeline. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Near-dup threshold shared by [[ngramJaccard]]'s default, the
    * clustering stages built on it, and their generated DuckDB oracles. */
  val ngramMinJ: Double = 0.8

  /** N-gram Jaccard near-dup pairs (word 3-shingles, J ≥ `minJ`), exact,
    * via **prefix filtering** (the SSJoin/PPJoin family): order shingles
    * by global document frequency (rare first), index only each doc's
    * first `n − ⌈J·n⌉ + 1` shingles — any pair with Jaccard ≥ J must
    * share a prefix shingle, so candidate generation touches a small
    * fraction of the inverted index and skips the stop-shingle blowup
    * entirely. Candidates are verified with `array_intersect` on the
    * full shingle arrays. Same output as the naive full-index join
    * (the DuckDB oracle runs the naive form), ~arbitrarily cheaper at
    * scale: frequent shingles never generate candidates. */
  def ngramJaccard(spark: SparkSession, dir: String, minJ: Double = ngramMinJ): DataFrame = {
    // minJ > 1 would make the prefix length n − ⌈minJ·n⌉ + 1 negative
    // (slice() rejects it at runtime, far from the cause) — fail fast
    require(minJ > 0 && minJ <= 1, s"minJ must be in (0, 1], got $minJ")
    // Prefix order = (xxhash64(shingle), shingle): a global total order
    // computable PER ROW — no document-frequency pass, no
    // collect_list shuffle, no persist. (A df-ascending order prunes
    // candidates harder on stop-shingle-heavy corpora, but costs a
    // global aggregation + join + the cache round-trips that dominated
    // this operator's runtime; the hash order keeps the whole candidate
    // side narrow. The prefix-filter guarantee only needs SOME shared
    // total order, so exactness is unaffected.)
    // shingle-hash arrays, globally ordered: the hash IS both the prefix
    // order and the verification token (intersecting sorted longs beats
    // intersecting strings; a 64-bit collision changing a count has
    // probability ~2^-64 per pair — ignorable, and the oracle agreed on
    // every corpus tested).
    // persist: the hashed-shingle relation (shared withShingleHashes
    // definition) feeds the prefix index AND both verify joins — three
    // evaluations of tokenize+shingle+sort otherwise. Long arrays
    // (~100 × 8 B/doc) cache columnar-cheap, unlike the string-shingle
    // arrays that made caching a loss upstream (ProfileDedup).
    val (out, scratch) = ngramJaccardScratch(spark, dir, minJ)
    scratch.foreach(ScratchCache.arm)
    out
  }

  /** [[ngramJaccard]] body with the scratch persists UNARMED and
    * returned to the caller — for operators (nearDupClusters) whose own
    * internal probe actions reference the scratch and would sweep it
    * mid-build if it were armed here; they arm (or unpersist) once
    * their internal actions are done. */
  private[operators] def ngramJaccardScratch(spark: SparkSession, dir: String,
      minJ: Double): (DataFrame, Seq[DataFrame]) = {
    val docs =
      // fanned: the tokenize + shingle + xxhash64-sort projection is the
      // pipeline's per-row-heavy map side — unfanned it ran as ~0.7 s
      // single-task stages serializing q34's whole d7 leg
      // (OPTIMIZATION_r19.md, finding 3); fanning measured d2/d7/d8 and
      // the curate composites faster with oracle green (r19 A/B)
      withShingleHashes(Tables.documentsFanned(spark, dir), "text")
        .select(col("doc_id"), col("sh_hashes"), size(col("sh_hashes")).as("n_sh"))
        .persist()
    val prefixLen = (col("n_sh") - ceil(lit(minJ) * col("n_sh")) + 1).cast("int")
    // persist the exploded PREFIX index (plain rows, ~prefixLen per
    // doc): it sits on both sides of the candidate self-join, which
    // would otherwise run the shingle+sort projection twice. Array-free
    // rows cache cheaply — unlike the per-doc shingle arrays, whose
    // columnar-cache cost exceeded their recompute cost (ProfileDedup).
    val pinv = docs
      .select(col("doc_id"), col("n_sh"),
        explode(slice(col("sh_hashes"), lit(1), prefixLen)).as("sh"))
      .persist()
    val a = pinv.select(col("sh"), col("doc_id").as("id_a"), col("n_sh").as("n_a"))
    val b = pinv.select(col("sh"), col("doc_id").as("id_b"), col("n_sh").as("n_b"))
    // length filter: J ≥ minJ forces min(n)/max(n) ≥ minJ — prune
    // size-mismatched candidates before the distinct/verify stages
    val cand = a.join(b, Seq("sh"))
      .filter(col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")) >= ceil(lit(minJ) * greatest(col("n_a"), col("n_b"))))
      .select(col("id_a"), col("id_b")).distinct()
    val verified = cand
      .join(docs.select(col("doc_id").as("id_a"), col("sh_hashes").as("sh_a"),
        col("n_sh").as("n_a")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("sh_hashes").as("sh_b"),
        col("n_sh").as("n_b")), "id_b")
      // linear merge over the pre-sorted hash arrays — no per-pair hash
      // set / intersection array like size(array_intersect) builds
      .withColumn("n_common", graft.functions.SortedIntersectCount
        .sorted_intersect_count(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("n_common") / (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= minJ)
      .select(col("id_a"), col("id_b"), col("n_common"), col("jaccard"))
    (verified, Seq(docs, pinv))
  }

  /** MinHash signatures: `numHashes` permutations approximated by
    * xxhash64(seed_i, shingle-hash); signature = per-seed min over the
    * set. One fused codegen loop over all permutations
    * ([[graft.functions.MinHashSigs]] — bit-identical to the composable
    * `array_min(transform(...))` formulation, without its per-permutation
    * array allocation). */
  def minhashSignatures(docs: DataFrame, numHashes: Int): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.MinHashSigs.minhash_sigs(
        transform(col("shingles"), s => xxhash64(s)), lit(numHashes)).as("sig"))

  /** Verification threshold shared by [[minhashLsh]]'s default and its
    * generated DuckDB oracle. */
  val lshMinJ: Double = 0.5

  /** MinHash + LSH near-dup candidates: band the signature (bands ×
    * rowsPerBand = numHashes), bucket-join on (band, band-hash), then
    * verify candidates with their EXACT Jaccard (array_intersect on the
    * shingle sets — candidates are few, so exact beats estimated and
    * avoids dragging 64-long signature arrays anywhere). Everything up
    * to the bucket join is a single narrow projection per doc — no
    * persist, no signature materialization round-trip. The bucket join
    * is a plain equi-shuffle — the LSH trick that makes near-dup
    * linear-ish at 100 TB. Defaults 16×4 target J≈0.5+. */
  def minhashLsh(spark: SparkSession, dir: String,
                 numHashes: Int = 64, bands: Int = 16, minJ: Double = lshMinJ): DataFrame =
    minhashLshOn(Tables.documents(spark, dir), numHashes, bands, minJ)

  /** [[minhashLsh]] over ANY (doc_id, text) relation: hashes the
    * relation, bands it, then calls [[lshPairsOf]] — the core the
    * streaming intake loops run over each micro-batch's persisted
    * hashed relation ([[graft.streaming.Runner.dedupIntakeQuery]]). */
  def minhashLshOn(documents: DataFrame,
                   numHashes: Int = 64, bands: Int = 16,
                   minJ: Double = lshMinJ): DataFrame = {
    // hash each shingle to a long ONCE (withShingleHashes; sorted so
    // verification can merge-count — minhash minima are
    // order-insensitive); the numHashes permutations then re-hash
    // fixed-width longs instead of strings (~64× fewer string hashes —
    // measured ~2 s → sub-second at sf0.1), all minima in ONE fused
    // codegen loop (functions.MinHashSigs).
    val docs = ScratchCache.arm( // feeds the banded index and both verify joins (see d2)
      hashedOf(documents)
        // a shingle-less document shares nothing: its Jaccard is 0/0
        .filter(col("n_sh") > 0))
    // persist the banded index (plain (doc, band, bucket) rows): it sits
    // on both sides of the bucket self-join, which would otherwise run
    // the minhash projection twice (~2× at sf0.1).
    lshPairsOf(docs, docs, ScratchCache.arm(bandsOf(docs, numHashes, bands)), minJ)
  }

  /** [[minhashLshOn]]'s core over an already hashed relation
    * (doc_id, sh_hashes, n_sh > 0) and its bands (doc_id, band, bucket):
    * the bucket self-join, then exact verification. `partners` (a
    * subset of `docs`) is the side a pair's LOWER id must come from —
    * `docs` itself for plain LSH; the curate intake passes its
    * stage-clean docs, so an intra-batch hit counts only against a
    * partner that survived the other stages, with no extra join. */
  private[graft] def lshPairsOf(partners: DataFrame, docs: DataFrame,
                                banded: DataFrame, minJ: Double): DataFrame = {
    val l = banded.select(col("band"), col("bucket"), col("doc_id").as("id_a"))
    val r = banded.select(col("band"), col("bucket"), col("doc_id").as("id_b"))
    val cand = l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(partners.select(col("doc_id").as("id_a"), col("sh_hashes").as("sh_a"),
        col("n_sh").as("n_a")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("sh_hashes").as("sh_b"),
        col("n_sh").as("n_b")), "id_b")
      .withColumn("n_common", graft.functions.SortedIntersectCount
        .sorted_intersect_count(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("n_common") / (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= minJ)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Portable MinHash signatures (md5 permutations) — the cross-engine
    * checkable variant of [[minhashSignatures]]: permutation i maps each
    * shingle to `md5(i + "|" + shingle)` and takes the lexicographic min
    * of the hex digests. md5 hex is identical in any engine (DuckDB
    * oracle included), so the SIGNATURE computation itself is under the
    * value-level correctness gate — xxhash64 variants above stay the
    * fast path (md5 is ~10× the cost; use this one for auditability,
    * that one for throughput). Exploded output (doc_id, perm, minhash)
    * keeps the oracle join-free. */
  /** Permutation count shared by [[minhashSigPortable]] and its generated
    * DuckDB oracle, so the two can never drift. */
  val portablePerms: Int = 8

  def minhashSigPortable(spark: SparkSession, dir: String,
                         numHashes: Int = portablePerms): DataFrame =
    // fully narrow: ALL permutation digests in one fused pass per doc
    // (functions.Md5MinHashSigs — reused MessageDigest, byte-wise
    // minima, bit-identical to the per-permutation
    // array_min(transform(md5(...))) form), no shuffle at all. md5 is
    // inherently ~10× xxhash64 — the price of cross-engine-checkable
    // digests; the xxhash64 signatures (minhashLsh) stay the
    // throughput path. (Also measured SLOWER here: a groupBy-min over
    // exploded shingles — string min-aggregates fall out of whole-stage
    // codegen — and a distinct-shingle dictionary + broadcast re-join,
    // whose broadcast cost exceeds the duplicate-hash saving.)
    docShingles(spark, dir)
      .select(col("doc_id"),
        posexplode(graft.functions.Md5MinHashSigs.md5_minhash_sigs(
          col("shingles"), lit(numHashes))))
      .withColumnRenamed("pos", "perm").withColumnRenamed("col", "minhash")

  /** SimHash (64-bit): per token-hash bit, majority vote across tokens
    * (term-frequency weighted), sign → bit. Fully narrow per-row — no
    * explode, no shuffle: embarrassingly parallel over input splits at
    * any scale. The bit voting runs in the native
    * [[graft.functions.SimHash64]] codegen expression: one pass with a
    * local int[64] instead of a 64-term filter/size expression tree. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.SimHash64.simhash64(
          transform(tokens(col("text")), t => xxhash64(t))).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, blocked by
    * `maxDist + 1` bit-chunks (pigeonhole: a pair within distance d must
    * share at least one of d+1 chunks) — a bucket equi-join, never
    * pairwise. The chunk count is DERIVED from maxDist so recall is
    * guaranteed for any setting; a fixed chunking would silently miss
    * pairs beyond its design distance. */
  def simhashPairs(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame =
    chunkedHammingPairs(simhash(spark, dir), maxDist, bits = 64)

  /** Pigeonhole-blocked Hamming join over any (doc_id, simhash) relation
    * — shared by the xxhash64 (64-bit) and md5-portable (60-bit) paths,
    * and by Multimodal's perceptual-hash pairs (m3). Chunks cover the
    * low `bits`; uncovered high bits only REMOVE differing bits from
    * chunks, so pigeonhole recall is unaffected. */
  /** `blockCols`: extra equality keys folded into the bucket join
    * (e.g. media kind) — pairs differing there are never candidates,
    * instead of being generated and residual-filtered away. Pigeonhole
    * recall is unaffected: a qualifying pair agrees on the block
    * columns by definition and still shares an exact chunk. */
  private[operators] def chunkedHammingPairs(sh: DataFrame, maxDist: Int,
                                             bits: Int,
                                             blockCols: Seq[String] = Nil): DataFrame = {
    require(maxDist >= 0 && maxDist < bits / 2, s"maxDist $maxDist out of range")
    // block columns join the internal chunk index by NAME — a caller
    // reusing one of the generated/required names would silently corrupt
    // the bucket key instead of erroring
    val reserved = Seq("doc_id", "simhash", "pos", "col", "chunk", "key")
    require((blockCols intersect reserved).isEmpty,
      s"blockCols may not use reserved names ${blockCols intersect reserved}")
    val nChunks = maxDist + 1
    val width = bits / nChunks
    val mask = (1L << width) - 1
    // persist the chunked index (4 scalars/row): it feeds BOTH sides of
    // the bucket self-join, which would otherwise tokenize+simhash the
    // corpus twice (self-joins re-execute unshared subtrees per side)
    val chunked = ScratchCache.arm(
      sh.select(Seq(col("doc_id"), col("simhash")) ++ blockCols.map(col) :+
        posexplode(array((0 until nChunks).map(c =>
          shiftright(col("simhash"), c * width).bitwiseAND(mask)): _*)): _*)
        .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "key"))
    val keys = Seq("chunk", "key") ++ blockCols
    val l = chunked.select(keys.map(col) ++
      Seq(col("doc_id").as("id_a"), col("simhash").as("sh_a")): _*)
    val r = chunked.select(keys.map(col) ++
      Seq(col("doc_id").as("id_b"), col("simhash").as("sh_b")): _*)
    l.join(r, keys)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b")).distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Portable SimHash (60-bit, md5 token hashes) — the cross-engine
    * checkable variant of [[simhash]]: token hash = first 15 md5 hex
    * chars parsed as a 60-bit integer (fits signed 64-bit in any
    * engine), then the same TF-weighted bit vote ([[graft.functions.SimHash64]]
    * — bits 60–63 see only −1 votes and stay 0). Unlike xxhash64-based
    * d4, every value is reproducible in DuckDB, so the whole simhash
    * computation sits under the value-level correctness gate; the
    * xxhash64 variant stays the throughput path (md5 is ~10× the cost). */
  def simhashPortable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.SimHash64.simhash64(
          transform(tokens(col("text")),
            t => conv(substring(md5(t.cast("binary")), 1, 15), 16, 10)
              .cast("long"))).as("simhash"))

  /** Hamming-≤3 pairs over the portable 60-bit simhash — oracle-checkable
    * end-to-end (the DuckDB side recomputes signatures and sweeps all
    * pairs; the Spark side blocks by 4×15-bit chunks, recall-complete by
    * pigeonhole, so outputs are identical, not merely approximately so). */
  def simhashPairsPortable(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame =
    chunkedHammingPairs(simhashPortable(spark, dir), maxDist, bits = 60)

  /** Near-dup clusters: connected components over the exact-Jaccard pair
    * graph (J ≥ minJ), every document labeled with the min doc_id
    * reachable in its component (singletons label themselves). Min-label
    * propagation to a fixpoint: per round, each node takes the min of
    * its own and its neighbors' labels — one join + one aggregation per
    * round, converging in diameter(G) rounds (corpus components are
    * pairs/triples → 2–3 rounds; web-scale graphs would switch to the
    * alternating large-star/small-star formulation to cut rounds, same
    * join shape). The driver loop only checks a converged COUNT per
    * round — no vertex data ever leaves the cluster.
    *
    * The fast path's label table (bounded by `driverMaxEdges`) is
    * memoized on the documents relation's stamp ([[clusterMemo]]): d7
    * and d8 both need the pair graph — the most expensive subgraph in
    * the suite — so the second caller reuses the labels instead of
    * rebuilding the graph. The distributed fall-through is never
    * memoized (its result is corpus-sized, not driver-bounded). */
  def nearDupClusters(spark: SparkSession, dir: String, minJ: Double = ngramMinJ,
                      maxIters: Int = 20,
                      driverMaxEdges: Int = 100000): DataFrame =
    componentsOf(spark,
      () => {
        val (pairsRaw, scratch) = ngramJaccardScratch(spark, dir, minJ)
        (pairsRaw.select(col("id_a"), col("id_b")), scratch)
      },
      Tables.documents(spark, dir).select(col("doc_id")),
      maxIters, driverMaxEdges, s"$dir/documents.parquet", ("ngram", minJ))

  /** Connected components over an arbitrary undirected PAIR graph — the
    * engine behind [[nearDupClusters]] (d7, n-gram pairs) and
    * `Similarity.embeddingClusters` (v14, cosine pairs). `pairsWithScratch`
    * is a THUNK so a memo hit never builds the pair graph at all;
    * `allIds` supplies the id universe as a single `doc_id` column
    * (rename at the call site); `scope` is the relation the pairs
    * derive from (only the caller knows which), and `params` tag the
    * pair SOURCE and threshold so different graphs over one relation
    * don't collide in the memo. */
  private[operators] def componentsOf(spark: SparkSession,
      pairsWithScratch: () => (DataFrame, Seq[DataFrame]),
      allIds: DataFrame, maxIters: Int, driverMaxEdges: Int,
      scope: String, params: (String, Double)): DataFrame = {
    val stamp = graft.sources.ContentStamp.of(spark, scope)
    if (driverMaxEdges > 0)
      clusterMemo.get(spark, scope, params, stamp) match {
        case Some(hit) => return labelsFor(spark, allIds, hit)
        case None =>
      }
    // unarmed variant: the fast-path probe collect below is an ACTION
    // referencing this scratch — armed, the sweep would unpersist it
    // before the distributed fall-through materializes pairs fully
    val (pairsRaw, scratch) = pairsWithScratch()
    val pairs = pairsRaw
      .persist() // consumed twice on the fast path, per-round on the slow
    // SMALL-GRAPH FAST PATH: the near-dup PAIR graph of a real corpus is
    // minuscule relative to the corpus (it is the output of a J ≥ minJ
    // filter, not the corpus itself). When it fits under an explicit
    // bound, union-find on the driver and map-join the labels back —
    // one job instead of diameter-many propagation rounds. The collect
    // is STRICTLY bounded (limit driverMaxEdges+1); oversized graphs
    // fall through to the distributed loop below. Set driverMaxEdges=0
    // to force the distributed path.
    if (driverMaxEdges > 0) {
      val sample = pairs.limit(driverMaxEdges + 1).collect()
      if (sample.length <= driverMaxEdges) {
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        // iterative find (walk to root, then compress) — a recursive
        // find can overflow the stack on a path-shaped component up to
        // driverMaxEdges deep
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (c != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        sample.foreach { row =>
          val (a, b) = (row.getLong(0), row.getLong(1))
          val (ra, rb) = (find(a), find(b))
          // min-root union: roots stay component minima, so the final
          // find IS the canonical label (trees stay shallow via path
          // compression; depth is amortized near-constant even without
          // union-by-rank since every find compresses its whole path)
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        // canonical label = min doc_id of the component (find after all
        // unions; min-root union keeps roots minimal). keys snapshotted
        // first: find() path-compresses values during the traversal
        val labels = parent.keys.toSeq.map(x => (x, find(x)))
        pairs.unpersist()
        scratch.foreach(_.unpersist()) // fast-path result doesn't read them
        clusterMemo.put(spark, scope, params, stamp, labels)
        return labelsFor(spark, allIds, labels)
      }
    }
    // DISTRIBUTED PATH: min-label propagation to a fixpoint.
    // symmetric edge list, persisted: probed every round
    val edges = pairs.union(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b"))).persist()
    // propagate ONLY over the touched subgraph (docs that appear in some
    // edge) — on a deduplicated corpus that is a small fraction of the
    // table, so the per-round joins run on component vertices, not the
    // whole corpus; untouched docs get self-labels in one final union
    val seed = edges.select(col("id_a").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id")).persist()
    var cached = seed // the persisted frame backing `labels`, per round
    var labels = seed
    // convergence via label-sum monotonicity: min-label propagation only
    // ever DECREASES labels, so Σ cluster_id is strictly decreasing
    // until the fixpoint — sum equality IS "no label changed", with no
    // prev-vs-next join and no flag column. (Σ ids fits a Long up to
    // ~1e9 docs × 1e9 max id; sum as Decimal if ids outgrow that.)
    // sum() over an EMPTY frame returns null: no pairs at all → every
    // doc is a singleton, the loop has nothing to do
    def labelSum(df: DataFrame): Option[Long] = {
      val row = df.agg(sum(col("cluster_id"))).head
      if (row.isNullAt(0)) None else Some(row.getLong(0))
    }
    var prevSum = labelSum(labels)
    var converged = prevSum.isEmpty
    var i = 0
    while (!converged && i < maxIters) {
      // each node takes the min of its own and its neighbors' labels:
      // union(self, edge-carried) → groupBy min — one join, one agg
      val carried = edges
        .join(labels.withColumnRenamed("doc_id", "id_b"), "id_b")
        .select(col("id_a").as("doc_id"), col("cluster_id"))
      val next = labels.union(carried)
        .groupBy(col("doc_id")).agg(min(col("cluster_id")).as("cluster_id"))
        .persist()
      val s = labelSum(next)
      cached.unpersist()
      cached = next
      labels = next
      converged = s == prevSum
      prevSum = s
      i += 1
    }
    // a non-fixpoint result is WRONG (labels are neither canonical nor
    // component minima) — fail loudly rather than return it
    if (!converged)
      sys.error(s"nearDupClusters did not converge in $maxIters rounds — " +
        "component diameter exceeds maxIters; raise it for this corpus")
    // scratch that outlives the method (shingle/prefix indexes, pair
    // graph, final label frame; the per-round frames were unpersisted in
    // the loop): arm AFTER the loop so no internal action sweeps it
    // mid-propagation
    scratch.foreach(ScratchCache.arm)
    ScratchCache.arm(pairs)
    ScratchCache.arm(cached)
    val touched = labels
    val untouched = allIds
      .join(touched.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    val all = touched.union(untouched)
    edges.unpersist()
    all
  }

  /** Fast-path cluster-label memo ([[graft.StampedMemo]]) — see
    * [[componentsOf]]. Values are bounded (≤ 2 × driverMaxEdges longs). */
  private[graft] val clusterMemo = graft.StampedMemo[(String, Double), Seq[(Long, Long)]]()

  /** Drop memoized cluster labels, to time a cold clustering. */
  def invalidateClusterMemo(): Unit = clusterMemo.clear()

  /** Memo contract for Bench's partial re-time pass, declared HERE so
    * the knowledge lives next to the memo it describes: gate queries
    * whose timing depends on [[clusterMemo]] being warm → the queries
    * that train it. A new memo-sharing query in [[queries]] must add
    * its pair here, or Bench's third pass re-times it memo-cold and
    * structurally includes training cost. */
  val memoDeps: Map[String, Seq[String]] = Map(
    "d8_keep_best" -> Seq("d7_near_dup_clusters"),
    // the curation compositions' keep-best stage (Curation
    // .curateLlmPacked / curateFullPacked) reuses the cluster labels
    // d7 trains
    "q34_curate_llm" -> Seq("d7_near_dup_clusters"),
    "q35_curate_full" -> Seq("d7_near_dup_clusters"))

  /** Gate queries that TRAIN [[clusterMemo]] (see [[memoDeps]]). */
  val memoTrainers: Set[String] = Set("d7_near_dup_clusters")

  /** Join a driver-held (doc_id → cluster_id) label table back over the
    * id universe; unlabeled ids are singletons labeling themselves. */
  private def labelsFor(spark: SparkSession, allIds: DataFrame,
                        labels: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val labelDf = labels.toDF("doc_id", "cluster_id")
    allIds
      .join(labelDf, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Keep-best representative per near-dup cluster: within each
    * component, keep the document with the highest quality score
    * (distinct-token ratio — near-identical docs differ slightly, so
    * scores discriminate), doc_id as the deterministic tie-break. The
    * canonical final stage of a dedup pipeline: emit one survivor per
    * cluster plus the member count. One window over the cluster key. */
  def keepBest(spark: SparkSession, dir: String, minJ: Double = ngramMinJ): DataFrame = {
    // ONE quality definition: derive the distinct-token ratio from
    // TextOps.quality's columns rather than re-tokenizing here
    val quality = TextOps.quality(spark, dir)
      .select(col("doc_id"),
        (col("n_distinct_tokens") / col("n_tokens").cast("double")).as("quality"))
    val clustered = nearDupClusters(spark, dir, minJ).join(quality, "doc_id")
    clustered
      .groupBy(col("cluster_id"))
      .agg(
        // one aggregation pass, no per-cluster sort: maximize
        // (quality, −doc_id) → highest quality, lowest id on ties
        max_by(struct(col("doc_id"), col("quality")),
          struct(col("quality"), (-col("doc_id")).as("neg_id"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"),
        col("best.doc_id").as("keep_id"),
        col("best.quality").as("keep_quality"),
        col("n_members"))
  }

  /** d11: duplicated-span coverage — the exact-substring dedup signal:
    * per document, how many of its k-token windows (stride 1, every
    * occurrence counted) appear verbatim in at least one OTHER
    * document. Any cross-document duplicated token span of length ≥ k
    * contains a duplicated k-window and vice versa, so window-level
    * coverage is an exact detector for ≥k-token copied spans — the
    * within-Spark analogue of suffix-array substring dedup (the
    * "train-data dedup" pass), with within-doc repetition excluded
    * (that is t8's signal). Scale shape: one explode, a distinct
    * (doc,gram) pre-aggregation, and a gram-keyed join — all shuffles
    * bounded by distinct grams, never all-pairs; at 100 TB you would
    * xxhash64 the gram strings to shrink shuffle keys (as d3 does) —
    * strings keep this under the DuckDB value gate.
    *
    * Gate-checked at the default `k = 8` AND at k = 5
    * (d11_exact_substring_dial2) via the parameterized oracle builder
    * `exactSubstringSql`. */
  def exactSubstring(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    exactSubstringOn(Tables.documentsFanned(spark, dir), k)

  /** [[exactSubstring]] over any (doc_id, text) frame. */
  def exactSubstringOn(docs: DataFrame, k: Int): DataFrame = {
    // every window occurrence (NOT distinct — coverage counts repeats)
    val wins = ScratchCache.arm(
      docs
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          explode(tokenWindows(col("toks"), k, 1)).as("gram")))
    val dupGrams = wins.select(col("doc_id"), col("gram")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("gram"), lit(1L).as("is_dup"))
    wins.join(dupGrams, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup") / col("n_windows").cast("double"), 6))
  }

  /** d16: exact-substring span REMOVAL — [[exactSubstring]]'s signal
    * turned into the transform training pipelines actually apply (the
    * suffix-array dedup pass of Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): rewrite each
    * document with every cross-document duplicated token span excised.
    * A token is removed iff it lies inside at least one k-token window
    * (stride 1, tail window truncated — the shared window formula)
    * whose gram appears verbatim in ≥ 2 distinct documents; since any
    * cross-doc duplicated span of length ≥ k contains such a window and
    * vice versa (d11's argument), the removed set is exactly the union
    * of ≥k-token copied spans. Output per doc: original token count,
    * removed count, and the rebuilt text (kept tokens in order,
    * space-joined; a fully-copied doc rebuilds to the empty string).
    *
    * Scale shape: the d11 machinery plus two bounded steps — the
    * covered-position explode fans out ONLY duplicated-window
    * occurrences (× k), i.e. work proportional to the duplication
    * found, not the corpus; and the rebuild is a per-doc ordered
    * aggregation whose group size is the doc's own token count — the
    * same per-row envelope as holding the text column. All shuffles
    * are gram- or doc-keyed; nothing is all-pairs.
    *
    * The DuckDB oracle hard-codes the default `k = 8`; non-default
    * invocations are NOT gate-checked. */
  def spanDedup(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    spanDedupOn(Tables.documentsFanned(spark, dir), k)

  /** [[spanDedup]] over any (doc_id, text) frame. */
  def spanDedupOn(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"span length k must be >= 2, got $k")
    val toks = ScratchCache.arm(
      docs.select(col("doc_id"), tokens(col("text")).as("toks")))
    // every window occurrence WITH its start position (posexplode);
    // persisted: feeds the dup-gram aggregate AND the coverage join
    val wins = ScratchCache.arm(
      toks.select(col("doc_id"), size(col("toks")).as("nt"),
          posexplode(tokenWindows(col("toks"), k, 1)))
        .withColumnRenamed("pos", "s").withColumnRenamed("col", "gram"))
    val dupGrams = wins.select(col("doc_id"), col("gram")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("gram"))
    // positions covered by some duplicated window: s .. min(s+k-1, nt-1)
    // (the tail window is truncated, never out of range)
    val covered = wins.join(dupGrams, Seq("gram"))
      .select(col("doc_id"),
        explode(sequence(col("s"),
          least(col("s") + lit(k - 1), col("nt") - 1))).as("p"))
      .distinct()
    val kept = toks.select(col("doc_id"), posexplode(col("toks")))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "tok")
      .join(covered, Seq("doc_id", "p"), "left_anti")
    // ordered rebuild: array_sort on (p, tok) structs — p is unique per
    // doc, so the order (and the output) is deterministic
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok")), " ").as("dedup_text"))
    toks.select(col("doc_id"), size(col("toks")).cast("bigint").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  /** d12: fuzzy decontamination — the near-dup analogue of
    * [[TextOps.decontaminate]]: a training document is contaminated when
    * it is a NEAR-duplicate (word-3-shingle Jaccard ≥ `minJ`) of any
    * held-out eval document (doc_id < `evalN`), catching lightly edited
    * benchmark copies that exact k-gram matching (t12) misses. Per
    * flagged doc: how many eval docs it matches, the best-matching eval
    * doc (highest Jaccard, ties → lowest id), and that Jaccard.
    *
    * EXACT, not LSH: candidate generation is [[ngramJaccard]]'s prefix
    * filter run cross-corpus — both sides index only their first
    * `n − ⌈J·n⌉ + 1` hash-ordered shingles, any qualifying pair must
    * collide there, and survivors are verified with the full sorted-hash
    * merge — so the oracle needs no recall precondition (unlike d3).
    * Scale shape: the eval side is a benchmark suite — tiny vs the
    * corpus — so its prefix index and shingle arrays BROADCAST; the
    * 100 TB train side is one narrow scan + prefix explode + map-side
    * joins, with the only shuffle being the candidate `distinct`
    * (bounded by prefix collisions, not corpus size).
    *
    * Gate-checked at the defaults (evalN = 50, minJ = lshMinJ) AND at
    * (30, 0.5) (d12_fuzzy_decontaminate_dial2) via the parameterized
    * oracle builder `fuzzyDecontaminateSql`. */
  def fuzzyDecontaminate(spark: SparkSession, dir: String, evalN: Long = 50,
                         minJ: Double = lshMinJ): DataFrame = {
    require(minJ > 0 && minJ <= 1, s"minJ must be in (0, 1], got $minJ")
    val docs = ScratchCache.arm( // feeds two prefix indexes + both verify joins
      // fanned: tokenize+shingle+sort is the map-heavy projection (the
      // ngramJaccardScratch rationale, r19 A/B)
      withShingleHashes(Tables.documentsFanned(spark, dir), "text")
        .select(col("doc_id"), col("sh_hashes"), size(col("sh_hashes")).as("n_sh")))
    val prefixLen = (col("n_sh") - ceil(lit(minJ) * col("n_sh")) + 1).cast("int")
    def prefixIdx(df: DataFrame) = df.select(col("doc_id"), col("n_sh"),
      explode(slice(col("sh_hashes"), lit(1), prefixLen)).as("sh"))
    val evalIdx = prefixIdx(docs.filter(col("doc_id") < evalN))
      .select(col("sh"), col("doc_id").as("id_eval"), col("n_sh").as("n_e"))
    val cand = prefixIdx(docs.filter(col("doc_id") >= evalN))
      .join(broadcast(evalIdx), Seq("sh"))
      // length filter, as in d2: J ≥ minJ forces min(n)/max(n) ≥ minJ
      .filter(least(col("n_sh"), col("n_e")) >=
        ceil(lit(minJ) * greatest(col("n_sh"), col("n_e"))))
      .select(col("doc_id"), col("id_eval")).distinct()
    val verified = cand
      .join(docs.select(col("doc_id"), col("sh_hashes").as("sh_t"),
        col("n_sh").as("n_t")), "doc_id")
      .join(broadcast(docs.filter(col("doc_id") < evalN)
        .select(col("doc_id").as("id_eval"), col("sh_hashes").as("sh_e"),
          col("n_sh").as("n_e"))), "id_eval")
      .withColumn("n_common", graft.functions.SortedIntersectCount
        .sorted_intersect_count(col("sh_t"), col("sh_e")))
      .withColumn("jaccard",
        col("n_common") / (col("n_t") + col("n_e") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= minJ)
    // deterministic argmax: rank (jaccard desc, id_eval asc) then fold —
    // verified is tiny (flagged pairs only), the window costs nothing
    val w = Window.partitionBy("doc_id")
      .orderBy(col("jaccard").desc, col("id_eval").asc)
    verified
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_eval_matches"),
        max(col("jaccard")).as("max_jaccard"),
        min(when(col("rn") === 1, col("id_eval"))).as("best_eval_id"))
  }

  /** d13: corpus-overlap diagnostics — exact k-gram-set Jaccard between
    * every pair of sources that share at least one gram. The
    * before-you-merge question every corpus intake answers ("how much
    * of crawl B is already in crawl A?"), and the source-level rollup
    * of d2's doc-level signal. Output is one row per overlapping
    * unordered pair with both set sizes, the intersection, and the
    * Jaccard.
    *
    * Scale shape: the shuffled relation is DISTINCT (source, gram) —
    * bounded by |vocab|×|sources|, not corpus size; the gram-keyed
    * self-join fans out at most (#sources choose 2) per gram, and the
    * pair aggregate map-side-combines. Sources (feeds/crawls/domains)
    * number thousands at most. At 100 TB, replace the exact join with
    * d6's per-source minhash UNION sketch (element-wise min — mergeable
    * at any fan-in) and estimate J from signature agreement; the exact
    * form here is the oracle-able baseline that gates that estimate.
    * That bound is ENFORCED, not assumed: past `maxSources` distinct
    * sources the method fails loudly and names [[sourceOverlapMinhash]]
    * (the `driverMaxEdges` pattern) — a common gram across S sources
    * fans out S² rows, so an unexpectedly fine-grained source column
    * (e.g. per-URL) must refuse fast instead of shuffling slowly.
    *
    * The guard is IN the plan (builders stay action-free — the
    * PlanAuditSpec convention): a one-row distinct-source count is
    * cross-joined broadcast under the gram column's projection
    * (the t19/t23 scalar-broadcast shape, raise_error-armed like
    * [[Ranges.pointInIntervalJoin]]'s span guard). Ordering holds by
    * stage dependency, not luck: the guarded projection feeds the
    * gram-keyed aggregation, so every row's guard evaluates while the
    * per-gram source sets are being BUILT — before the pair explosion
    * that fans out S² can consume them. The refusal costs one narrow
    * source-column scan inside the failing job; the admitted path pays
    * the same one-row broadcast the other scalar-guard operators do.
    *
    * One deliberate consequence of the guard being per-row: a corpus
    * yielding ZERO grams (every doc shorter than k tokens) returns
    * empty without evaluating the guard, even past `maxSources` — the
    * guarded S² fan-out is vacuous with no grams, so there is nothing
    * to refuse; the refusal exists to stop a SHUFFLE, not to validate
    * the source column in the abstract.
    *
    * A document with a NULL source belongs to no source: it is left
    * out before both the distinct-source count and the gram sets, so
    * it neither pairs nor counts toward `maxSources` (the oracle's
    * `a.source < b.source` join drops it the same way). */
  def sourceOverlap(spark: SparkSession, dir: String, k: Int = 3,
                    maxSources: Int = 10000): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val nSrc = Tables.documents(spark, dir)
      .filter(col("source").isNotNull)
      .select(col("source")).distinct()
      .agg(count(lit(1)).as("n_sources"))
    // ONE gram-keyed aggregation replaces the r18 distinct + cached
    // self-join (two extra full-relation exchanges): per gram, the
    // sorted SET of sources holding it (collect_set dedups, so the
    // separate distinct() stage is gone too; map-side partials collapse
    // duplicate (source, gram) pairs before the shuffle — guide §2.3
    // "aggregate before you shuffle", §2.4 "remove shuffles outright").
    // Pair counts then come from exploding each gram's ordered source
    // pairs — the same sources² fan-out the self-join produced, now
    // generated WITHOUT re-shuffling the gram relation twice. Two
    // chained generators (posexplode, then explode of the tail slice)
    // keep peak row width at S, never S².
    val byGram = ScratchCache.arm( // feeds sizes + the pair explosion
      Tables.documentsFanned(spark, dir) // 3-gram explode: map-heavy (Tables.fanOut)
        .filter(col("source").isNotNull)
        .select(col("source"), tokens(col("text")).as("toks"))
        .select(col("source"),
          explode(array_distinct(tokenWindows(col("toks"), k, 1))).as("gram"))
        .crossJoin(broadcast(nSrc))
        .select(col("source"),
          when(col("n_sources") > maxSources, raise_error(concat(
            lit("sourceOverlap: "), col("n_sources").cast("string"),
            lit(s" distinct sources exceeds maxSources=$maxSources — the " +
              "per-gram pair fan-out is sources² per shared gram; use " +
              "sourceOverlapMinhash (the mergeable-sketch estimate) or " +
              "raise maxSources deliberately"))))
            .otherwise(col("gram")).as("gram"))
        .groupBy(col("gram"))
        .agg(sort_array(collect_set(col("source"))).as("srcs")))
    val sizes = byGram.select(explode(col("srcs")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    byGram
      .filter(size(col("srcs")) >= 2)
      .select(col("srcs"), posexplode(col("srcs")))
      .select(col("col").as("source_a"),
        explode(slice(col("srcs"), col("pos") + lit(2), size(col("srcs"))))
          .as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n_grams").as("n_a"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n_grams").as("n_b"))), "source_b")
      .withColumn("jaccard", round(col("n_shared") /
        (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 6))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"), col("jaccard"))
  }

  /** d14: leakage-safe train/val/test split — t9's deterministic md5
    * split applied to the CLUSTER, not the document: every member of a
    * d7 near-dup cluster rides its representative's bucket, so
    * near-duplicates can never straddle train and eval — the
    * contamination a per-doc split silently permits (a doc and its
    * 0.9-Jaccard re-crawl landing on opposite sides of the boundary).
    * Bucket arithmetic and 80/10/10 bands are t9's exactly, applied to
    * the cluster id (= min member doc_id, d7's label); singleton
    * clusters therefore get t9's very split.
    *
    * Scale shape: d7's clustering (memoized — free if already run this
    * session) + one narrow map; no new shuffle. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame =
    nearDupClusters(spark, dir)
      .withColumn("bucket",
        (conv(substring(md5(col("cluster_id").cast("string").cast("binary")), 1, 8),
          16, 10).cast("long") % 100).cast("int"))
      .select(col("doc_id"), col("cluster_id"), col("bucket"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))

  /** d15: [[sourceOverlap]]'s 100 TB scale path made real — per-source
    * minhash UNION sketches (element-wise min of d6's per-doc md5
    * signatures; min-of-mins == minhash of the union, so the sketch is
    * mergeable at ANY fan-in — per-file, per-partition, per-day) and
    * the pairwise Jaccard ESTIMATE = signature agreement rate. The
    * corpus-sized work is d6's narrow signature pass plus one
    * map-side-combinable (source, perm) min agg; the estimate join
    * touches only |sources|×numHashes sketch rows. Emits every
    * unordered pair (zero-agreement pairs included — absence of
    * overlap is the answer intake wants).
    *
    * Deterministic end to end (md5, no sampling), so the estimate is
    * value-ORACLED — the gate pins the construction; the ESTIMATOR's
    * accuracy vs exact d13 is spec-pinned separately (±1/√numHashes
    * scale), and the merge property is spec'd associative. */
  def sourceOverlapMinhash(spark: SparkSession, dir: String,
                           numHashes: Int = portablePerms): DataFrame = {
    val docSource = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val srcSig = ScratchCache.arm( // both sides of the sketch self-join
      minhashSigPortable(spark, dir, numHashes)
        .join(docSource, "doc_id")
        .groupBy(col("source"), col("perm")).agg(min(col("minhash")).as("mh")))
    srcSig.select(col("source").as("source_a"), col("perm"), col("mh").as("mh_a"))
      .join(srcSig.select(col("source").as("source_b"), col("perm"),
        col("mh").as("mh_b")), Seq("perm"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(when(col("mh_a") === col("mh_b"), 1)).as("n_agree"))
      .withColumn("est_jaccard",
        round(col("n_agree") / lit(numHashes).cast("double"), 6))
  }

  /** The banded LSH relation (doc_id, band, bucket, shard) of a
    * (doc_id, sh_hashes) frame — ONE builder shared by the at-rest
    * index build ([[writeDedupIndex]]), the online probe side
    * ([[dedupServeBatch]]), the incremental append
    * ([[appendDedupIndex]]) and the streaming maintenance sink, so no
    * two paths can drift in how they band or shard. `shard` =
    * pmod(bucket, shards) exists purely for partition pruning: bucket
    * is a high-cardinality hash (unusable as a partition column), but
    * its mod-`shards` residue makes each query batch's candidate read
    * a static partition filter — the ANN index's probed-cells trick
    * applied to LSH buckets. */
  private[graft] def bandedOf(docs: DataFrame, numHashes: Int, bands: Int,
                              shards: Int): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    bandsOf(docs, numHashes, bands)
      .withColumn("shard", pmod(col("bucket"), lit(shards.toLong)).cast("int"))
  }

  /** (doc_id, sh_hashes) → (doc_id, band, bucket): one minhash
    * signature per doc, cut into `bands` banded bucket hashes. */
  private def bandsOf(docs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    // integer division would silently drop trailing hashes (64/10 → 6×10
    // used, 4 ignored), changing the effective LSH threshold — fail fast
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    docs
      .select(col("doc_id"),
        graft.functions.MinHashSigs.minhash_sigs(
          col("sh_hashes"), lit(numHashes)).as("sigs"))
      .select(col("doc_id"),
        posexplode(array(bandHashCols(col("sigs"), numHashes, bands): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** The `shards` default of a STREAM-MAINTAINED dedup index
    * ([[appendDedupIndexBatch]], [[graft.streaming.Runner.dedupIntakeQuery]],
    * [[graft.streaming.Runner.curateIntakeQuery]]): one shard. A shard
    * level must earn its pruning (SCALE.md), and an intake micro-batch
    * never lets it: ~200 docs × 16 bands ≈ 3 200 buckets touch every
    * one of 64 shards. 64 shards still cost every micro-batch 64
    * `shard=` directories under dynamic overwrite and, in
    * [[dedupServeBatch]], a second shingle-hash plan plus a collect to
    * find the shard set. With one shard a batch writes one bucket file
    * and the serve skips that pass. The at-rest [[writeDedupIndex]]
    * keeps 64, where a small probe batch can prune. An intake index
    * written with 64 shards resumes only with `shards = 64`; any other
    * value is refused by the dial-mismatch check. */
  val maintainedShards: Int = 1

  /** The d3 LSH index AT REST — dedup-at-intake's build half (the
    * `writeAnnIndex` deployment split applied to near-dup detection):
    * two relations under `out/`,
    *   - `buckets/`: the banded LSH rows partitioned by `shard` (band
    *     and bucket stay DATA columns: every band is probed by every
    *     batch, so a band partition level would multiply file count 16×
    *     for zero pruning — measured as the dominant serve cost) — a
    *     probe batch's candidate join reads only its own shards'
    *     partitions (static partition filter), one file each;
    *   - `shingles/`: each indexed doc's sorted shingle-hash array,
    *     range-clustered by doc_id — the exact-verification side; a
    *     candidate set's lookup prunes at file/row-group/page level.
    * Build offline once over the corpus; probe every arriving batch
    * with [[dedupServeBatch]]; grow with [[appendAnnIndex]]-style
    * appends ([[appendDedupIndex]]). At 100 TB the buckets relation is
    * bands × corpus rows of three longs and the shingles relation is
    * the corpus's hashed shingle sets — both a fraction of corpus
    * text bytes, and neither is ever scanned whole by a probe. */
  def writeDedupIndex(spark: SparkSession, dir: String, out: String,
                      numHashes: Int = 64, bands: Int = 16,
                      shards: Int = 64): Unit = {
    writeDedupMeta(out, numHashes, bands, shards)
    // explicit persist, not arm(): TWO write actions read this relation
    // (arm would sweep after the first and recompute for the second)
    val docs = hashedOf(Tables.documents(spark, dir)).persist()
    try {
      // one shuffle so each (band, shard) partition lands as ONE file —
      // without it every map task writes a sliver into every partition
      // (tasks × bands × shards files; measured 4× serve latency at
      // sf0.1 from file-open overhead alone)
      bandedOf(docs, numHashes, bands, shards)
        .repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard")
        .parquet(s"$out/buckets")
      graft.sources.Layout.writeRangeClustered(
        docs, s"$out/shingles", Seq("doc_id"))
    } finally docs.unpersist(blocking = false)
  }

  /** The dedup index's LSH dials, persisted AT the index
    * ([[graft.sources.IndexMeta]]'s `_meta.json` — the one convention
    * shared with the ANN index) so serve and append read them off the
    * index itself — the `indexFamilyOf` self-description idea taken one
    * step further, because here a silently mismatched dial is worse
    * than a missing column: a serve probing with a different `shards`
    * modulus computes shard residues the stored partitioning doesn't
    * use and the partition filter silently drops true candidates
    * (recall loss with no error). numHashes/bands drift is equally
    * silent (different banding → different buckets). One tiny
    * deterministic file, written at build / first maintained batch,
    * REQUIRED at read. */
  private def writeDedupMeta(indexPath: String, numHashes: Int,
                             bands: Int, shards: Int): Unit =
    graft.sources.IndexMeta.write(indexPath, Seq(
      "numHashes" -> numHashes, "bands" -> bands, "shards" -> shards))

  /** Pre-IndexMeta dedup indexes (rounds ≤ 9) wrote the same JSON body
    * under `meta.json`. Renaming the convention without a migration had
    * TWO failure modes on an old index: reads failed loudly (annoying
    * but safe), and — worse — [[appendDedupIndexBatch]]'s
    * create-or-match guard saw no `_meta.json`, "created" one from the
    * restarted stream's dials, and silently bypassed the dial-mismatch
    * check it exists for (new banding over old buckets = silent recall
    * loss). So every meta read funnels through [[readDedupMeta]] (which
    * READS the legacy file in place — serve paths must not mutate the
    * index directory: a rename on every read fails outright on
    * read-only index storage, and two concurrent serves can race the
    * move) and every append-path exists check through
    * [[dedupMetaExists]], which performs the rename — append already
    * mutates the index, so the migration rides the first write. Both
    * layouts present at once is refused as ambiguous either way. */
  private def migrateLegacyMeta(indexPath: String): Unit = {
    refuseBothMetaLayouts(indexPath)
    val legacy = java.nio.file.Paths.get(s"$indexPath/meta.json")
    if (java.nio.file.Files.exists(legacy))
      java.nio.file.Files.move(legacy, java.nio.file.Paths.get(
        s"$indexPath/${graft.sources.IndexMeta.fileName}"))
  }

  private def refuseBothMetaLayouts(indexPath: String): Unit = {
    val legacy = java.nio.file.Paths.get(s"$indexPath/meta.json")
    val current = java.nio.file.Paths.get(
      s"$indexPath/${graft.sources.IndexMeta.fileName}")
    require(!(java.nio.file.Files.exists(legacy) &&
        java.nio.file.Files.exists(current)),
      s"$indexPath has BOTH meta.json (legacy) and " +
        s"${graft.sources.IndexMeta.fileName} — ambiguous dials; delete " +
        "the stale one (they should be byte-identical if this index " +
        "was migrated and then appended by a newer build)")
  }

  /** [[graft.sources.IndexMeta.exists]] with the legacy-layout
    * migration applied first — the ONLY exists check append paths may
    * use (a bare exists on an un-migrated index would "create" fresh
    * dials over old buckets). Write paths only: this RENAMES the
    * legacy file. */
  private def dedupMetaExists(indexPath: String): Boolean = {
    migrateLegacyMeta(indexPath)
    graft.sources.IndexMeta.exists(indexPath)
  }

  /** Read the index dials — read-only (serve paths call this): a
    * legacy `meta.json` is read IN PLACE (the body is byte-compatible),
    * never renamed. A lost race with a concurrent append's migration
    * (legacy vanishes between the exists and the read) falls back to
    * the migrated name — the bytes are identical under either. */
  private[graft] def readDedupMeta(indexPath: String): (Int, Int, Int) = {
    import graft.sources.IndexMeta.intField
    refuseBothMetaLayouts(indexPath)
    val legacy = java.nio.file.Paths.get(s"$indexPath/meta.json")
    val s =
      try {
        if (java.nio.file.Files.exists(legacy))
          new String(java.nio.file.Files.readAllBytes(legacy), "UTF-8")
        else graft.sources.IndexMeta.readRaw(indexPath, "writeDedupIndex")
      } catch {
        case _: java.nio.file.NoSuchFileException =>
          graft.sources.IndexMeta.readRaw(indexPath, "writeDedupIndex")
      }
    (intField(s, "numHashes"), intField(s, "bands"), intField(s, "shards"))
  }

  /** Dedup-at-intake — probe a batch of NEW documents (doc_id, text)
    * against a [[writeDedupIndex]] index: every (query_id, match_id)
    * pair with exact shingle Jaccard ≥ `minJ` against the INDEXED
    * corpus (intra-batch duplicates are the batch's own
    * [[minhashLsh]] pass, deliberately out of scope — intake asks "is
    * this new doc already in my corpus"). LSH dials must match the
    * build (the model-ships-with-the-index contract; banding is
    * deterministic given the dials).
    *
    * Scale shape: the batch's banded probes BROADCAST; the candidate
    * join reads only the batch's shards' partitions of the buckets
    * relation (`shard isin (...)` — a static partition filter, ≤
    * `shards` values, far fewer for small batches; the shard set is
    * collected eagerly at build, one cheap pass over the bounded
    * batch — dynamic partition pruning cannot express this, because
    * an arbitrary probe batch carries no selective predicate for
    * Catalyst's DPP heuristic to accept; a one-shard index, the
    * stream-maintained default, leaves nothing to prune, so the pass
    * and the filter are skipped); exact verification touches only
    * candidates' shingle arrays, read through the range-clustered
    * shingles relation (file/row-group pruned by the candidate ids).
    * No stage scans the corpus. Both relations are read with the
    * schema in their footers ([[graft.sources.Layout.readParquet]]),
    * so over a one-shard index building the frame runs no Spark job.
    *
    * LSH dials come from the INDEX's own `_meta.json` — a caller
    * repeating them could silently repeat them WRONG: a mismatched
    * `shards` modulus makes the partition filter drop true candidates,
    * and mismatched banding probes buckets the index never wrote —
    * both silent recall loss, neither an error.
    *
    * Hashes the batch, bands it with those dials, then calls
    * [[serveHashedOf]] — the probe the intake loops run over their
    * persisted hashed relation ([[intakeHitsOf]]). */
  def dedupServeBatch(spark: SparkSession, indexPath: String,
                      batch: DataFrame,
                      minJ: Double = lshMinJ): DataFrame = {
    val (numHashes, bands, shards) = readDedupMeta(indexPath)
    // bounded collect (≤ shards ints — the probed-cells pattern): the
    // batch's shard set becomes the static partition filter. Runs
    // BEFORE the armed cache below, over a DELIBERATELY DISTINCT plan
    // (a 2-column projection — no n_sh): the collect's completion
    // event fires the ScratchCache listener, and the sweep matches
    // armed entries by plan sameResult — a collect over the armed
    // 3-column relation (or any plan CONTAINING it) would unpersist
    // `q` before the candidate and verify joins ever ran, even via a
    // late-delivered event from a pre-arm action (the listener bus is
    // asynchronous; on Spark 4 even `Dataset.rdd` posts an execution
    // event via withNewRDDExecutionId, so no action style avoids it).
    // Neither this plan nor any of its subtrees sameResult-matches
    // the armed projection, so no delivery order can sweep it —
    // DedupServeSpec pins `pending >= 1` after the builder. Cost: one
    // uncached shingle-hash pass over the (bounded) probe batch for
    // the shard set; the two expensive consumers share the cache.
    // Skipped for a one-shard index (maintainedShards): its single
    // partition is the whole relation, so there is nothing to prune.
    val probedShards = probedShardsOf(batch, numHashes, bands, shards)
    val q = ScratchCache.arm( // feeds probes AND the verify join
      hashedOf(batch)
        // a shingle-less probe shares nothing: its Jaccard is 0/0
        .filter(col("n_sh") > 0))
    serveHashedOf(spark, indexPath, q, bandedOf(q, numHashes, bands, shards),
      probedShards, minJ)
  }

  /** The shard set a probe batch touches, over the 2-column plan that
    * no armed relation's plan matches (see [[dedupServeBatch]]); None
    * for a one-shard index. */
  private def probedShardsOf(batch: DataFrame, numHashes: Int, bands: Int,
                             shards: Int): Option[Seq[Int]] =
    shardSetOf(bandedOf(
      withShingleHashes(batch, "text").select(col("doc_id"), col("sh_hashes")),
      numHashes, bands, shards), shards)

  /** The distinct `shard` values of a banded relation, collected; None
    * when `shards` is 1 (one partition leaves nothing to prune). An
    * armed `banded` would be swept by this collect: pass a persisted
    * relation or a plan no armed relation matches. */
  private[graft] def shardSetOf(banded: DataFrame, shards: Int): Option[Seq[Int]] =
    if (shards == 1) None
    else Some(banded.select(col("shard")).distinct().collect().map(_.getInt(0)).toSeq)

  /** [[dedupServeBatch]]'s core over an already hashed probe batch
    * (doc_id, sh_hashes, n_sh > 0) and its bands (doc_id, band, bucket),
    * banded with the index's dials. `probedShards` is the static
    * partition filter (None: read every shard). */
  private def serveHashedOf(spark: SparkSession, indexPath: String,
                            q: DataFrame, banded: DataFrame,
                            probedShards: Option[Seq[Int]],
                            minJ: Double): DataFrame = {
    val probes = banded.select(col("doc_id").as("query_id"), col("band"), col("bucket"))
    val buckets = graft.sources.Layout.readParquet(spark, s"$indexPath/buckets")
    val idx = probedShards.fold(buckets)(s => buckets.filter(col("shard").isin(s: _*)))
    val cand = idx.join(broadcast(probes), Seq("band", "bucket"))
      // a re-ingested identical id must not match itself
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id").as("match_id")).distinct()
    val sh = graft.sources.Layout.readParquet(spark, s"$indexPath/shingles")
    cand
      .join(sh.select(col("doc_id").as("match_id"), col("sh_hashes").as("m_sh"),
        col("n_sh").as("n_m")), "match_id")
      .join(q.select(col("doc_id").as("query_id"), col("sh_hashes").as("q_sh"),
        col("n_sh").as("n_q")), "query_id")
      .withColumn("n_common", graft.functions.SortedIntersectCount
        .sorted_intersect_count(col("q_sh"), col("m_sh")))
      .withColumn("jaccard",
        col("n_common") / (col("n_q") + col("n_m") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= minJ)
      .select(col("query_id"), col("match_id"), col("jaccard"))
  }

  /** Incremental dedup-index maintenance — the [[appendAnnIndex]]
    * analog: band NEW accepted documents with the SAME deterministic
    * dials and append them into the affected (band, shard) partitions
    * plus the shingles relation (a new sorted file — range pruning
    * still works per file). The intake loop is: probe a batch
    * ([[dedupServeBatch]]), keep the non-duplicates, append THEM here
    * so later batches dedup against everything accepted so far. */
  def appendDedupIndex(spark: SparkSession, indexPath: String,
                       newDocs: DataFrame): Unit = {
    migrateLegacyMeta(indexPath) // append mutates anyway — migrate here
    val (numHashes, bands, shards) = readDedupMeta(indexPath)
    val docs = hashedOf(newDocs).persist()
    try {
      bandedOf(docs, numHashes, bands, shards)
        .repartition(col("shard")) // one file per touched partition
        .write.mode("append").partitionBy("shard")
        .parquet(s"$indexPath/buckets")
      docs.repartitionByRange(col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("append").parquet(s"$indexPath/shingles")
    } finally docs.unpersist(blocking = false)
  }

  /** [[appendDedupIndex]]'s EXACTLY-ONCE streaming form — index rows
    * land under (batch_id, shard) / (batch_id) with write-scoped
    * dynamic partition OVERWRITE (the annIndexMaintainQuery recipe): a
    * replayed micro-batch rewrites its own partitions instead of
    * appending duplicates — and duplicate index rows are not benign
    * (a duplicated candidate would double-verify; a duplicated shingle
    * row would double-match). At the default [[maintainedShards]] a
    * batch's buckets are ONE file under `batch_id=B/shard=0`. A
    * maintained index is a directory the stream ALONE writes
    * (partition-discovery depth must stay uniform, so a
    * [[writeDedupIndex]] layout cannot be mixed in). Checks the dials
    * ([[ensureMaintainedDials]]), hashes `newDocs` once, then writes
    * through [[appendHashedBatch]]. */
  def appendDedupIndexBatch(spark: SparkSession, indexPath: String,
                            newDocs: DataFrame, batchId: Long,
                            numHashes: Int = 64, bands: Int = 16,
                            shards: Int = maintainedShards): Unit = {
    ensureMaintainedDials(indexPath, numHashes, bands, shards)
    val docs = hashedOf(newDocs).persist()
    try appendHashedBatch(spark, indexPath, docs,
      bandedOf(docs.filter(col("n_sh") > 0), numHashes, bands, shards), batchId)
    finally docs.unpersist(blocking = false)
  }

  /** First maintained batch CREATES the index's `_meta.json`; every
    * later batch (and any replay) must match it — a restarted stream
    * with different dials would otherwise silently corrupt the index's
    * banding. The intake loops call this at the head of each
    * micro-batch, before the fold and before any write, so a refused
    * restart leaves no decisions behind. */
  private[graft] def ensureMaintainedDials(indexPath: String, numHashes: Int,
                                           bands: Int, shards: Int): Unit =
    if (dedupMetaExists(indexPath)) {
      val meta = readDedupMeta(indexPath)
      require(meta == ((numHashes, bands, shards)),
        s"maintained-index dial mismatch: index has $meta, stream passed " +
          s"(${(numHashes, bands, shards)})")
    } else writeDedupMeta(indexPath, numHashes, bands, shards)

  /** [[appendDedupIndexBatch]]'s core over an already hashed relation
    * (doc_id, sh_hashes, n_sh) and its bands (doc_id, band, bucket,
    * shard), banded with the index's dials: buckets under
    * (batch_id, shard), shingles under batch_id, both by dynamic
    * overwrite. A shingle-less doc has no minima: it enters the
    * shingles relation but no bucket (no probe can reach it). */
  private[graft] def appendHashedBatch(spark: SparkSession, indexPath: String,
                                       hashed: DataFrame, banded: DataFrame,
                                       batchId: Long): Unit = {
    banded.select(col("doc_id"), col("band"), col("bucket"), col("shard"))
      .repartition(col("shard")) // one file per touched partition
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "shard")
      .parquet(s"$indexPath/buckets")
    hashed.select(col("doc_id"), col("sh_hashes"), col("n_sh"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(s"$indexPath/shingles")
  }

  /** In-loop LSM compaction for the MAINTAINED dedup index — the
    * [[graft.operators.Similarity.compactMaintainedAnnBatches]] twin:
    * both relations' COMMITTED `batch_id=` partitions (everything
    * except `excludeBatchId`, the in-flight batch the checkpoint can
    * still replay) fold into their `batch_id=-1` bases via
    * [[graft.sources.BatchFold]]'s crash-safe staged swap — buckets
    * back to one file per shard (the [[writeDedupIndex]] layout whose
    * file count round 9 measured probe latency tracking: 5.74 → 1.24 s
    * on a 16× cut; at the default [[maintainedShards]] that is one
    * `shard=0` file in the base), shingles back to one range-clustered
    * relation (doc-id pruning restored across the base). Without the
    * fold, [[graft.streaming.Runner.dedupIntakeQuery]] accretes one
    * bucket file per batch (per touched shard, on an index built with
    * more than one) FOREVER, eroding that win one trigger at a time.
    * The two relations fold one after the other; a
    * crash between them leaves both complete and correct, just at
    * asymmetric depth, and the next threshold crossing folds the
    * laggard — each relation's swap is independently recovered
    * ([[recoverDedupIndexFolds]], called by the intake loops at
    * trigger head; serve paths stay READ-ONLY by this file's
    * contract, so a standalone serve racing a crashed writer is the
    * documented single-writer window). Returns partitions folded. */
  def compactDedupIndexBatches(spark: SparkSession, indexPath: String,
                               excludeBatchId: Long): Int = {
    val nBuckets = graft.sources.BatchFold.fold(
      spark, s"$indexPath/buckets", excludeBatchId) { (rows, staging) =>
      rows.repartition(col("shard")) // one file per shard in the base
        .write.mode("overwrite").partitionBy("shard").parquet(staging)
    }
    val nShingles = graft.sources.BatchFold.fold(
      spark, s"$indexPath/shingles", excludeBatchId) { (rows, staging) =>
      graft.sources.Layout.writeRangeClustered(rows, staging, Seq("doc_id"))
    }
    nBuckets + nShingles
  }

  /** Finish any fold a crash interrupted, on BOTH relations — the
    * intake loops call this at trigger head (write paths may mutate;
    * serve paths must not — the legacy-meta migration rule). Cost when
    * clean: two FS exists() probes. */
  def recoverDedupIndexFolds(spark: SparkSession, indexPath: String): Unit = {
    graft.sources.BatchFold.recover(spark, s"$indexPath/buckets")
    graft.sources.BatchFold.recover(spark, s"$indexPath/shingles")
    ()
  }

  /** Per-batch duplicate hits for a stream-maintained index: hits
    * against the index (when it exists yet — the first batch of a fresh
    * intake has none) UNION intra-batch LSH pairs flagged
    * later-id-against-earlier-id (first-wins). `via` says which path
    * found the hit ("index" / "intra"). The dials must be the index's
    * own: a maintained index's `numHashes`/`bands` are refused here
    * when they differ. Hashes the batch once, then calls
    * [[intakeHitsOf]], the core the intake loops call on their
    * persisted per-document relation. */
  def intakeDupHits(spark: SparkSession, indexPath: String, batch: DataFrame,
                    numHashes: Int = 64, bands: Int = 16,
                    minJ: Double = lshMinJ): DataFrame = {
    val shards =
      if (!hasBuckets(indexPath)) maintainedShards
      else {
        val (nh, b, s) = readDedupMeta(indexPath)
        require((nh, b) == ((numHashes, bands)),
          s"maintained-index dial mismatch: index has ($nh, $b), caller " +
            s"passed ($numHashes, $bands)")
        s
      }
    val probedShards = probedShardsOf(batch, numHashes, bands, shards)
    val hashed = ScratchCache.arm(hashedOf(batch).filter(col("n_sh") > 0))
    intakeHitsOf(spark, indexPath, hashed,
      ScratchCache.arm(bandedOf(hashed, numHashes, bands, shards)), hashed,
      probedShards, minJ)
  }

  /** Whether a maintained index holds a bucket file yet. A first
    * micro-batch that accepts nothing leaves `buckets/` as an empty
    * directory, which has no schema to read: it is no index yet. */
  private def hasBuckets(indexPath: String): Boolean = {
    val root = java.nio.file.Paths.get(s"$indexPath/buckets")
    java.nio.file.Files.exists(root) && {
      val files = java.nio.file.Files.walk(root)
      try files.anyMatch(_.getFileName.toString.endsWith(".parquet"))
      finally files.close()
    }
  }

  /** [[intakeDupHits]]'s core over an already hashed batch
    * (doc_id, sh_hashes, n_sh > 0) and its bands (doc_id, band, bucket,
    * shard) under the index's dials: the index probe and the intra-batch
    * LSH both read these two relations, so the batch is hashed and
    * banded once. An intra pair counts only when its earlier doc is in
    * `partners` (see [[lshPairsOf]]). `probedShards` ([[shardSetOf]]) is
    * evaluated only when the index exists. */
  private[graft] def intakeHitsOf(spark: SparkSession, indexPath: String,
                                  hashed: DataFrame, banded: DataFrame,
                                  partners: DataFrame,
                                  probedShards: => Option[Seq[Int]],
                                  minJ: Double): DataFrame = {
    val indexHits =
      if (hasBuckets(indexPath))
        serveHashedOf(spark, indexPath, hashed, banded, probedShards, minJ)
          .withColumn("via", lit("index"))
      else {
        val sq = spark; import sq.implicits._
        Seq.empty[(Long, Long, Double, String)]
          .toDF("query_id", "match_id", "jaccard", "via")
      }
    val intraHits = lshPairsOf(partners, hashed, banded, minJ)
      .select(col("id_b").as("query_id"), col("id_a").as("match_id"),
        col("jaccard"))
      .withColumn("via", lit("intra"))
    indexHits.unionByName(intraHits)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d15_source_overlap_minhash" -> ((s, d) => sourceOverlapMinhash(s, d)),
    "d14_leakage_safe_split" -> ((s, d) => leakageSafeSplit(s, d)),
    "d13_source_overlap" -> ((s, d) => sourceOverlap(s, d)),
    "d12_fuzzy_decontaminate" -> ((s, d) => fuzzyDecontaminate(s, d)),
    // _dial2 twins (the TextOps round-11 convention): the same operator
    // at a second, non-default dial, gated by the parameterized oracle
    // builders — proves k/evalN/minJ flow through the plan
    "d12_fuzzy_decontaminate_dial2" ->
      ((s, d) => fuzzyDecontaminate(s, d, evalN = 30, minJ = 0.5)),
    "d11_exact_substring" -> ((s, d) => exactSubstring(s, d)),
    "d11_exact_substring_dial2" -> ((s, d) => exactSubstring(s, d, k = 5)),
    "d16_span_dedup" -> ((s, d) => spanDedup(s, d)),
    "d7_near_dup_clusters" -> ((s, d) => nearDupClusters(s, d)),
    "d8_keep_best" -> ((s, d) => keepBest(s, d)),
    "d1_dedup_exact" -> exact,
    "d2_ngram_jaccard" -> ((s, d) => ngramJaccard(s, d)),
    "d3_minhash_lsh" -> ((s, d) => minhashLsh(s, d)),
    "d4_simhash" -> simhash,
    "d5_simhash_pairs" -> ((s, d) => simhashPairs(s, d)),
    "d6_minhash_sig" -> ((s, d) => minhashSigPortable(s, d)),
    "d9_simhash_portable" -> simhashPortable,
    "d10_simhash_pairs_portable" -> ((s, d) => simhashPairsPortable(s, d)),
  )

  /** d4/d5 depend on xxhash64 (no DuckDB equivalent) → rows-only checks;
    * their semantics are covered by ScalaTest recall/agreement specs.
    * d3's VERIFIED output (exact hash-set Jaccard ≥ lshMinJ) is oracled
    * against exact string-shingle Jaccard: valid because (a) verification
    * is exact, so banding only affects recall, and (b) on the FIXED
    * seed-42 gate corpus every qualifying pair has J ≥ 0.89 (sf0.01 and
    * sf0.001 both checked), where 16×4-band recall is
    * deterministic-complete (asserted by the recall=1 ScalaTest). A
    * regenerated corpus with pairs in the probabilistic-recall band
    * (J ≈ 0.5–0.8) would need this oracle demoted to rows-only.
    * Thresholds/permutation counts interpolate from the same constants
    * the operators default to, so Spark and oracle cannot drift. */
  /** Shared oracle CTEs — the word-3-shingle construction and the
    * unthresholded all-pairs intersection live ONCE; every shingle-based
    * oracle (d2/d3/d6/d7/d8) interpolates these, so a tokenization or
    * shingle-size change cannot drift between oracles. */
  private val shingleCte: String =
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |         list_distinct([array_to_string(t[i+1:i+3], ' ')
       |                        FOR i IN range(0, GREATEST(LEN(t)-3, 0) + 1)]) AS shingles
       |  FROM toks)""".stripMargin

  private val pairsCte: String =
    """inv AS (
      |  SELECT doc_id, LEN(shingles) AS n_sh, UNNEST(shingles) AS s FROM sh),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
      |         COUNT(*) AS n_common
      |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1,2,3,4)""".stripMargin

  private val jaccardExpr: String =
    "n_common / CAST(n_a + n_b - n_common AS DOUBLE)"

  /** Shared SQL prefix for d7/d8: shingle → pair → symmetric edge list →
    * transitive closure → min-label clusters (recursive CTE — the
    * oracle-side equivalent of the label-propagation fixpoint). */
  /** d11's oracle, parameterized by the window length `k` (the round-11
    * dial2 convention — TextOps.scala's parameterized-builder pattern):
    * the gate checks a second, non-default k, so the dial provably
    * flows through both engines instead of holding only at the frozen
    * default. */
  private def exactSubstringSql(k: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS t FROM documents),
       |w AS (
       |  SELECT doc_id, UNNEST([array_to_string(t[i+1:i+$k], ' ')
       |                         FOR i IN range(0, GREATEST(LEN(t)-$k, 0) + 1)]) AS gram
       |  FROM toks),
       |dg AS (
       |  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM w)
       |  GROUP BY gram HAVING COUNT(*) >= 2)
       |SELECT w.doc_id, COUNT(*) AS n_windows,
       |       CAST(SUM(CASE WHEN dg.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |       ROUND(SUM(CASE WHEN dg.gram IS NOT NULL THEN 1 ELSE 0 END)
       |             / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
       |FROM w LEFT JOIN dg ON w.gram = dg.gram
       |GROUP BY w.doc_id""".stripMargin

  /** d12's oracle, parameterized by (evalN, minJ) — same convention.
    * Valid at ANY minJ: d12's prefix filter + exact verify carry no
    * recall precondition (unlike d3's banding), so a second threshold
    * checks the Spark plan's filter/prefix arithmetic, not a
    * probabilistic recall claim. */
  private def fuzzyDecontaminateSql(evalN: Long, minJ: Double): String =
    s"""WITH $shingleCte,
       |inv AS (
       |  SELECT doc_id, LEN(shingles) AS n_sh, UNNEST(shingles) AS s FROM sh),
       |cp AS (
       |  SELECT t.doc_id AS doc_id, e.doc_id AS id_eval,
       |         e.n_sh AS n_e, t.n_sh AS n_t, COUNT(*) AS n_common
       |  FROM inv e JOIN inv t ON e.s = t.s
       |  WHERE e.doc_id < $evalN AND t.doc_id >= $evalN
       |  GROUP BY 1,2,3,4),
       |m AS (
       |  SELECT doc_id, id_eval,
       |         n_common / CAST(n_e + n_t - n_common AS DOUBLE) AS jaccard
       |  FROM cp
       |  WHERE n_common / CAST(n_e + n_t - n_common AS DOUBLE) >= $minJ),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |                               ORDER BY jaccard DESC, id_eval) AS rn
       |  FROM m)
       |SELECT doc_id, COUNT(*) AS n_eval_matches, MAX(jaccard) AS max_jaccard,
       |       MIN(CASE WHEN rn = 1 THEN id_eval END) AS best_eval_id
       |FROM r GROUP BY doc_id""".stripMargin

  private def clustersSqlPrefix: String =
    s"""WITH RECURSIVE $shingleCte,
       |$pairsCte,
       |edges AS (
       |  SELECT id_a, id_b FROM pairs WHERE $jaccardExpr >= $ngramMinJ
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs WHERE $jaccardExpr >= $ngramMinJ),
       |reach AS (
       |  SELECT doc_id AS src, doc_id AS dst FROM documents
       |  UNION
       |  SELECT r.src, e.id_b FROM reach r JOIN edges e ON r.dst = e.id_a),
       |clusters AS (
       |  SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)""".stripMargin

  val oracle: Map[String, String] = Map(
    // d15: d6's signature arithmetic grouped by source (min over the
    // source's whole shingle multiset == min of per-doc mins), then
    // per-pair agreement over the perm axis — deterministic md5
    // construction, so the ESTIMATE itself is value-checkable
    "d15_source_overlap_minhash" ->
      s"""WITH $shingleCte,
         |srcsig AS (
         |  SELECT d.source, perm, MIN(md5(perm::VARCHAR || '|' || s)) AS mh
         |  FROM (SELECT doc_id, UNNEST(shingles) AS s FROM sh)
         |  CROSS JOIN (SELECT UNNEST(range(0, $portablePerms)) AS perm)
         |  JOIN documents d USING (doc_id)
         |  GROUP BY d.source, perm)
         |SELECT a.source AS source_a, b.source AS source_b,
         |       CAST(COUNT(*) FILTER (WHERE a.mh = b.mh) AS BIGINT) AS n_agree,
         |       ROUND(COUNT(*) FILTER (WHERE a.mh = b.mh)
         |             / CAST($portablePerms AS DOUBLE), 6) AS est_jaccard
         |FROM srcsig a JOIN srcsig b
         |  ON a.perm = b.perm AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin,
    // d14: d7's recursive-CTE closure + t9's bucket arithmetic verbatim,
    // applied to the cluster id
    "d14_leakage_safe_split" ->
      s"""$clustersSqlPrefix
         |SELECT doc_id, cluster_id,
         |       CAST(CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS INTEGER) AS bucket,
         |       CASE WHEN CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 80 THEN 'train'
         |            WHEN CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM clusters""".stripMargin,
    // d13: t24's gram construction keyed by source; Jaccard =
    // BIGINT counts with one 6-dp-rounded double division (t19 parity)
    "d13_source_overlap" ->
      """WITH toks AS (
        |  SELECT source, string_split_regex(TRIM(text), '\s+') AS t FROM documents),
        |g AS (
        |  SELECT DISTINCT source, gram FROM (
        |    SELECT source,
        |           UNNEST([array_to_string(array_slice(t, i+1, i+3), ' ')
        |                   FOR i IN range(0, GREATEST(LEN(t)-3, 0) + 1)]) AS gram
        |    FROM toks)),
        |sizes AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM g GROUP BY source),
        |inter AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, sa.n_grams AS n_a, sb.n_grams AS n_b,
        |       n_shared,
        |       ROUND(n_shared / CAST(sa.n_grams + sb.n_grams - n_shared
        |                             AS DOUBLE), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.source = source_a
        |JOIN sizes sb ON sb.source = source_b""".stripMargin,
    "d12_fuzzy_decontaminate" -> fuzzyDecontaminateSql(50, lshMinJ),
    "d12_fuzzy_decontaminate_dial2" -> fuzzyDecontaminateSql(30, 0.5),
    "d11_exact_substring" -> exactSubstringSql(8),
    "d11_exact_substring_dial2" -> exactSubstringSql(5),
    "d16_span_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t FROM documents),
        |w AS (
        |  SELECT doc_id, LEN(t) AS nt,
        |         UNNEST([{'s': i, 'g': array_to_string(t[i+1:i+8], ' ')}
        |                 FOR i IN range(0, GREATEST(LEN(t)-8, 0) + 1)],
        |                recursive := true)
        |  FROM toks),
        |dg AS (
        |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM w)
        |  GROUP BY g HAVING COUNT(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT w.doc_id, UNNEST(range(w.s, LEAST(w.s + 8, w.nt))) AS p
        |  FROM w JOIN dg ON w.g = dg.g),
        |tokpos AS (
        |  SELECT doc_id, UNNEST([{'p': i, 'tok': t[i+1]}
        |                         FOR i IN range(0, LEN(t))],
        |                        recursive := true)
        |  FROM toks),
        |kept AS (
        |  SELECT tokpos.doc_id, tokpos.p, tokpos.tok
        |  FROM tokpos LEFT JOIN cov
        |    ON tokpos.doc_id = cov.doc_id AND tokpos.p = cov.p
        |  WHERE cov.p IS NULL),
        |rebuilt AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |         STRING_AGG(tok, ' ' ORDER BY p) AS dedup_text
        |  FROM kept GROUP BY doc_id)
        |SELECT toks.doc_id, CAST(LEN(toks.t) AS BIGINT) AS n_tokens,
        |       CAST(LEN(toks.t) - COALESCE(rebuilt.n_kept, 0) AS BIGINT) AS n_removed,
        |       COALESCE(rebuilt.dedup_text, '') AS dedup_text
        |FROM toks LEFT JOIN rebuilt USING (doc_id)""".stripMargin,
    "d7_near_dup_clusters" ->
      s"""$clustersSqlPrefix
         |SELECT doc_id, cluster_id FROM clusters""".stripMargin,
    "d8_keep_best" ->
      s"""$clustersSqlPrefix,
         |quality AS (
         |  SELECT doc_id,
         |         LEN(list_distinct(string_split_regex(TRIM(text), '\\s+')))
         |           / CAST(LEN(string_split_regex(TRIM(text), '\\s+')) AS DOUBLE) AS quality
         |  FROM documents),
         |ranked AS (
         |  SELECT c.cluster_id, c.doc_id, q.quality,
         |         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
         |                            ORDER BY q.quality DESC, c.doc_id) AS rn
         |  FROM clusters c JOIN quality q USING (doc_id))
         |SELECT cluster_id,
         |       MIN(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
         |       MAX(CASE WHEN rn = 1 THEN quality END) AS keep_quality,
         |       COUNT(*) AS n_members
         |FROM ranked GROUP BY cluster_id""".stripMargin,
    "d3_minhash_lsh" ->
      s"""WITH $shingleCte,
        |$pairsCte
        |SELECT id_a, id_b,
        |       $jaccardExpr AS jaccard
        |FROM pairs
        |WHERE $jaccardExpr >= $lshMinJ""".stripMargin,
    "d6_minhash_sig" ->
      s"""WITH $shingleCte
        |SELECT doc_id, CAST(perm AS INTEGER) AS perm,
        |       MIN(md5(perm::VARCHAR || '|' || s)) AS minhash
        |FROM (SELECT doc_id, UNNEST(shingles) AS s FROM sh)
        |CROSS JOIN (SELECT UNNEST(range(0, $portablePerms)) AS perm)
        |GROUP BY doc_id, perm""".stripMargin,
    "d1_dedup_exact" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "d2_ngram_jaccard" ->
      s"""WITH $shingleCte,
        |$pairsCte
        |SELECT id_a, id_b, n_common,
        |       $jaccardExpr AS jaccard
        |FROM pairs
        |WHERE $jaccardExpr >= $ngramMinJ""".stripMargin,
    "d9_simhash_portable" -> portableSimhashSql,
    "d10_simhash_pairs_portable" ->
      s"""WITH s AS ($portableSimhashSql)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
  )

  /** 60-bit md5 simhash in portable SQL — token hash = first 15 md5 hex
    * chars as an integer, per-bit TF-weighted vote, ties → 0 (exactly
    * [[graft.functions.SimHash64]] over the same hashes). Shared by the
    * d9 oracle and d10's all-pairs sweep. */
  private def portableSimhashSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS tok
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS hv
       |  FROM toks),
       |votes AS (
       |  SELECT doc_id, b.b AS b,
       |         SUM(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM h CROSS JOIN (SELECT UNNEST(range(0, 60)) AS b) b
       |  GROUP BY doc_id, b.b)
       |SELECT doc_id,
       |       CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
       |FROM votes GROUP BY doc_id""".stripMargin
}
