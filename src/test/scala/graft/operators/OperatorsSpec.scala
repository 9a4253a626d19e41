package graft.operators

import graft.{GraftSession, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Invariant specs for the batch operators on the sf0.001 corpus. The
  * value-level correctness gate is the DuckDB oracle (Verify +
  * tools/check_oracle.py); these specs assert the semantic invariants
  * that hold at any scale factor.
  */
class OperatorsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.tune(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4"))
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("apportion: per-order shares sum exactly to the order total") {
    import spark.implicits._
    val bad = GmallQueries.apportion(spark, sf)
      .groupBy("order_id").agg(sum("final_detail_amount").as("s"))
      .join(Tables.orders(spark, sf), col("order_id") === col("o_orderkey"))
      .filter(abs(col("s") - col("o_totalprice")) > 1e-9)
      .count()
    assert(bad === 0L)
  }

  test("first_order: exactly one '1' per user, on the earliest order") {
    import spark.implicits._
    val fo = GmallQueries.firstOrder(spark, sf).cache()
    val perUser = fo.groupBy("user_id")
      .agg(sum(when(col("if_first_order") === "1", 1).otherwise(0)).as("n_first"))
    assert(perUser.filter(col("n_first") =!= 1).count() === 0L)
    // the flagged order is the minimum (create_time, order_id) per user
    val flagged = fo.filter(col("if_first_order") === "1")
      .select(col("user_id"), col("create_time").as("f_time"), col("order_id").as("f_id"))
    val earliest = fo.groupBy("user_id")
      .agg(min(struct(col("create_time"), col("order_id"))).as("m"))
      .select(col("user_id"), col("m.create_time").as("e_time"), col("m.order_id").as("e_id"))
    val mismatch = flagged.join(earliest, "user_id")
      .filter(col("f_id") =!= col("e_id")).count()
    assert(mismatch === 0L)
    fo.unpersist()
  }

  test("dau_dedup: one row per (user, day); re-dedup is a fixpoint") {
    val dd = GmallQueries.dauDedup(spark, sf).cache()
    assert(dd.groupBy("user_id", "dt").count().filter(col("count") > 1).count() === 0L)
    assert(dd.dropDuplicates("user_id", "dt").count() === dd.count())
    dd.unpersist()
  }

  test("router: output topics are exactly ods_<whitelisted types>, count preserved") {
    val r = GmallQueries.router(spark, sf).cache()
    val topics = r.select("topic").distinct().collect().map(_.getString(0)).toSet
    assert(topics === Set("ods_click", "ods_view", "ods_purchase", "ods_signup"))
    val expected = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view", "purchase", "signup")).count()
    assert(r.count() === expected)
    r.unpersist()
  }

  test("minhash-LSH recovers every exact-Jaccard near-dup pair (recall=1 on corpus)") {
    import spark.implicits._
    val exactPairs = Dedup.ngramJaccard(spark, sf, minJ = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lshPairs = Dedup.minhashLsh(spark, sf)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exactPairs.nonEmpty, "corpus should contain planted near-dups")
    assert(exactPairs.subsetOf(lshPairs),
      s"missed: ${exactPairs.diff(lshPairs).take(5)}")
  }

  test("simhash: deterministic across runs; near-dup pairs have close hashes") {
    import spark.implicits._
    val h1 = Dedup.simhash(spark, sf).as[(Long, Long)].collect().toMap
    val h2 = Dedup.simhash(spark, sf).as[(Long, Long)].collect().toMap
    assert(h1 === h2)
    val dupPairs = Dedup.ngramJaccard(spark, sf, minJ = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val closeFrac = dupPairs.count { case (a, b) =>
      java.lang.Long.bitCount(h1(a) ^ h1(b)) <= 8
    }.toDouble / math.max(dupPairs.length, 1)
    assert(closeFrac >= 0.8, s"only $closeFrac of J>=0.9 pairs within hamming 8")
  }

  test("ann-lsh: candidates are rescored exactly (cos matches brute force)") {
    import spark.implicits._
    // k large enough to rank the whole corpus → the join is total
    val bf = Similarity.annBruteForce(spark, sf, nQueries = 10, k = 1 << 20)
      .select($"query_id", $"neighbor_id", $"cos".as("bf_cos"))
    val lsh = Similarity.annLsh(spark, sf)
    val joined = lsh.join(bf, Seq("query_id", "neighbor_id"), "left")
    assert(joined.filter(col("bf_cos").isNull).count() === 0L,
      "every LSH candidate must appear in the full brute-force ranking")
    assert(joined.filter(abs(col("cos") - col("bf_cos")) > 1e-12).count() === 0L)
  }

  test("ann-ivf: deterministic, exact rescoring, recall ≥ probe-fraction floor") {
    import spark.implicits._
    val ivf1 = Similarity.annIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val ivf2 = Similarity.annIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(ivf1 === ivf2)
    // recall@5 vs brute force: corpus has no cluster structure, so the
    // honest expectation is ≈ nprobe/k = 4/16; assert half that floor
    val bf = Similarity.annBruteForce(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val hits = ivf1.count { case (q, _, n) => bf.contains((q, n)) }
    val recall = hits.toDouble / bf.size
    assert(recall >= 0.125, s"recall@5 = $recall below probe-fraction floor")
    // rescoring is exact: cos values match brute force for shared pairs
    val bfCos = Similarity.annBruteForce(spark, sf, k = 1 << 20)
      .select($"query_id", $"neighbor_id", $"cos".as("bf_cos"))
    val bad = Similarity.annIvf(spark, sf)
      .join(bfCos, Seq("query_id", "neighbor_id"))
      .filter(abs(col("cos") - col("bf_cos")) > 1e-12).count()
    assert(bad === 0L)
  }

  test("cosine on mismatched dimensions yields NULL (native and HOF agree)") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")).as("native"),
      Similarity.cosineHof(col("a"), col("b")).as("hof")).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("simhash pair blocking adapts chunk count to maxDist") {
    // maxDist=7 → 8 chunks of 8 bits; must at least recover the
    // maxDist=3 result set (monotone in distance)
    import spark.implicits._
    val d3 = Dedup.simhashPairs(spark, sf, maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val d7 = Dedup.simhashPairs(spark, sf, maxDist = 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(d3.subsetOf(d7))
  }

  test("asOfJoin: inclusive boundary, latest-preceding pick, left-outer nulls") {
    import spark.implicits._
    val left = Seq((Some(1L), 5L, "e5"), (Some(1L), 2L, "e2"),
      (Some(2L), 9L, "e9"), (None, 9L, "enull"))
      .toDF("k", "t", "tag")
    val right = Seq((Some(1L), 3L, "r3"), (Some(1L), 5L, "r5"),
      (Some(1L), 7L, "r7"), (None, 1L, "rnull"))
      .toDF("k", "rt", "rtag")
    val got = AsOf.asOfJoin(left, right, "k", "t", "rt")
      .select("tag", "rtag").as[(String, String)].collect().toMap
    // t=5 matches the SAME-instant right row (inclusive >=), not r3;
    // t=2 precedes every right row → null; key 2 has no right rows;
    // null keys NEVER match (SQL join semantics) but still emit
    assert(got === Map("e5" -> "r5", "e2" -> null, "e9" -> null,
      "enull" -> null))
  }

  test("portable simhash: 60-bit range; chunked pairs equal the brute-force sweep") {
    import spark.implicits._
    val hashes = Dedup.simhashPortable(spark, sf).as[(Long, Long)].collect()
    // 60-bit hashes: bits 60–63 must be 0 (only −1 votes reach them)
    assert(hashes.forall { case (_, h) => h >= 0L && (h >>> 60) == 0L })
    // pigeonhole blocking is exact, not approximate: the chunked join
    // must produce EXACTLY the all-pairs hamming-≤3 sweep
    val brute = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d)).toSet
    val chunked = Dedup.simhashPairsPortable(spark, sf)
      .as[(Long, Long, Int)].collect().toSet
    assert(chunked === brute)
  }

  test("native cosine expression is bit-identical to the HOF formulation") {
    val emb = graft.Tables.embeddings(spark, sf)
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("e_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("e_b"))
    val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b")).limit(5000)
      .withColumn("native", Similarity.cosine(col("e_a"), col("e_b")))
      .withColumn("hof", Similarity.cosineHof(col("e_a"), col("e_b")))
    assert(pairs.filter(col("native") =!= col("hof")).count() === 0L)
  }

  test("fingerprint: invariant under token reordering") {
    import spark.implicits._
    // same bag of tokens, different order → same fingerprint definition
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma alpha beta"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        md5(array_join(array_sort(array_distinct(split(trim(col("text")), "\\s+"))), " ")
          .cast("binary")).as("fp"))
    val fps = df.select("fp").as[String].collect()
    assert(fps(0) === fps(1))
  }

  test("dau_approx within HLL error bound of exact distinct counts") {
    import spark.implicits._
    val exact = GmallQueries.dauDedup(spark, sf)
      .groupBy("dt").agg(countDistinct("user_id").as("d"))
      .select(col("dt").cast("string"), col("d")).as[(String, Long)].collect().toMap
    val approx = GmallQueries.dauApprox(spark, sf)
      .select(col("dt").cast("string"), col("dau_approx")).as[(String, Long)].collect().toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (dt, a) =>
      val e = exact(dt)
      assert(math.abs(a - e).toDouble / e <= 0.10, s"$dt: approx $a vs exact $e")
    }
  }

  test("portable HLL within error bound of exact distinct counts") {
    import spark.implicits._
    val exact = GmallQueries.dauDedup(spark, sf)
      .groupBy("dt").agg(countDistinct("user_id").as("d"))
      .select(col("dt").cast("string"), col("d")).as[(String, Long)].collect().toMap
    val hll = GmallQueries.dauHllPortable(spark, sf)
      .select(col("dt").cast("string"), col("dau_hll")).as[(String, Double)].collect().toMap
    assert(hll.keySet === exact.keySet)
    // m=256 → rsd ≈ 1.04/√256 = 6.5%; assert a 3-sigma-ish envelope
    hll.foreach { case (dt, a) =>
      val e = exact(dt)
      assert(math.abs(a - e) / e <= 0.20, s"$dt: hll $a vs exact $e")
    }
  }

  test("parametric HLL: wider registers stay within their tighter error envelope") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
    val exact = GmallQueries.dauDedup(spark, sf)
      .groupBy("dt").agg(countDistinct("user_id").as("d"))
      .select(col("dt").cast("string"), col("d")).as[(String, Long)].collect().toMap
    // the same sketch machinery at m=1024 and m=64: the per-m error
    // envelope (3 × 1.04/√m) must hold at each width — the constants
    // and register/rank arithmetic all derive from bBits
    Seq(10 -> 0.10, 6 -> 0.40).foreach { case (bBits, bound) =>
      val p = new GmallQueries.HllParams(bBits)
      val est = p.registerRanks(events)
        .groupBy(col("dt"), col("j")).agg(max(col("rank")).as("r"))
        .groupBy(col("dt"))
        .agg(collect_list(struct(col("j"), col("r"))).as("regs"))
        .select(col("dt").cast("string"), col("regs"))
        .as[(String, Seq[(Int, Int)])].collect()
        .map { case (dt, regs) =>
          val arr = new Array[Int](p.m)
          regs.foreach { case (j, r) => arr(j) = r }
          dt -> p.estimate(arr)
        }.toMap
      assert(est.keySet === exact.keySet)
      est.foreach { case (dt, a) =>
        val e = exact(dt)
        assert(math.abs(a - e) / e <= bound,
          s"m=${p.m} $dt: hll $a vs exact $e exceeds $bound")
      }
    }
  }

  test("lang_id: deterministic and total (one prediction per doc)") {
    val l1 = TextOps.langId(spark, sf)
    assert(l1.count() === Tables.documents(spark, sf).count())
    assert(l1.filter(col("predicted_lang").isNull).count() === 0L)
  }

  test("session_window boundary: a gap of exactly 30 min MERGES (touching windows)") {
    // pins the oracle's split condition (> INTERVAL 30 MINUTE, strict) to
    // Spark's session merge rule: sessions merge when the next event's
    // window TOUCHES the current session end (start <= end), so an event
    // at exactly prev+gap stays in the same session. Only a gap strictly
    // greater than the gap duration splits. The corpus's sub-second
    // timestamps never hit this boundary on their own — this test pins it.
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-01 00:00:00"),
      (1L, "2024-01-01 00:30:00"), // exactly prev+gap → MERGED (touching)
      (2L, "2024-01-01 00:00:00"),
      (2L, "2024-01-01 00:30:01")  // strictly beyond gap → new session
    ).toDF("user_id", "t").select(col("user_id"), col("t").cast("timestamp").as("ts"))
    val sessions = ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .count().groupBy("user_id").count()
      .as[(Long, Long)].collect().toMap
    assert(sessions(1L) === 1L)
    assert(sessions(2L) === 2L)
  }

  test("every registered function is callable from plain SQL") {
    import spark.implicits._
    val row = spark.sql(
      """SELECT cosine_similarity(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS cos,
        |       simhash64(array(1L, 2L, 3L)) AS sh,
        |       minhash_sigs(array(1L, 2L, 3L), 4) AS mh,
        |       md5_minhash_sigs(array('a', 'b'), 2) AS pmh,
        |       hyperplane_sig(array(1.0f, 0.0f),
        |                      array(0.5d, -0.25d, -0.5d, 0.25d), 2) AS hp,
        |       sorted_intersect_count(array(1L, 2L, 5L), array(2L, 3L, 5L)) AS ic
        |""".stripMargin).head
    assert(row.getDouble(0) === 1.0)
    assert(row.getAs[Seq[Long]]("mh").length === 4)
    assert(row.getAs[Seq[String]]("pmh").forall(_.length == 32))
    // planes: [0.5,-0.25] → dot 0.5 > 0 → bit0; [-0.5,0.25] → dot -0.5 → no bit1
    assert(row.getAs[Long]("hp") === 1L)
    assert(row.getAs[Int]("ic") === 2)
  }

  test("SQL function builders reject wrong arity with an analysis error") {
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT cosine_similarity(array(1.0f))").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT cosine_similarity(array(1.0f), array(1.0f), array(1.0f))").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT simhash64(array(1L), array(2L))").collect()
    }
  }

  test("minhashLsh rejects bands that do not divide numHashes") {
    intercept[IllegalArgumentException] {
      Dedup.minhashLsh(spark, sf, numHashes = 64, bands = 10)
    }
  }

  // --- fused codegen expressions vs their composable formulations ---
  // the fused forms exist purely for throughput; these specs pin that
  // swapping them in can never change a value

  private def tokenHashes = Tables.documents(spark, sf)
    .select(col("doc_id"),
      sort_array(array_distinct(transform(split(trim(col("text")), "\\s+"),
        t => xxhash64(t)))).as("hs"))

  test("minhash_sigs is bit-identical to per-permutation array_min(transform)") {
    val n = 8
    val fused = tokenHashes.select(col("doc_id"),
      graft.functions.MinHashSigs.minhash_sigs(col("hs"), lit(n)).as("sig"))
    val composed = tokenHashes.select(col("doc_id"),
      array((0 until n).map(i =>
        array_min(transform(col("hs"), h => xxhash64(lit(i), h)))): _*).as("sig"))
    assert(fused.exceptAll(composed).count() === 0L)
    assert(composed.exceptAll(fused).count() === 0L)
  }

  test("md5_minhash_sigs is bit-identical to per-permutation array_min(transform(md5))") {
    val n = 4
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"),
        array_distinct(split(trim(col("text")), "\\s+")).as("sh"))
    val fused = toks.select(col("doc_id"),
      graft.functions.Md5MinHashSigs.md5_minhash_sigs(col("sh"), lit(n)).as("sig"))
    val composed = toks.select(col("doc_id"),
      array((0 until n).map(i =>
        array_min(transform(col("sh"),
          s => md5(concat(lit(s"$i|"), s).cast("binary"))))): _*).as("sig"))
    assert(fused.exceptAll(composed).count() === 0L)
    assert(composed.exceptAll(fused).count() === 0L)
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted distinct arrays") {
    val pairs = tokenHashes.select(col("doc_id").as("id_a"), col("hs").as("a"))
      .crossJoin(tokenHashes.select(col("doc_id").as("id_b"), col("hs").as("b")))
      .filter(col("id_a") < col("id_b")).limit(5000)
    val bad = pairs.filter(
      graft.functions.SortedIntersectCount.sorted_intersect_count(col("a"), col("b"))
        =!= size(array_intersect(col("a"), col("b")))).count()
    assert(bad === 0L)
  }

  test("near-dup clusters: pairs co-clustered, labels are component minima, keepBest covers all docs") {
    import spark.implicits._
    val labels = Dedup.nearDupClusters(spark, sf).cache()
    val byDoc = labels.as[(Long, Long)].collect().toMap
    // every near-dup pair's endpoints share a cluster
    Dedup.ngramJaccard(spark, sf).select($"id_a", $"id_b").as[(Long, Long)]
      .collect().foreach { case (a, b) =>
        assert(byDoc(a) === byDoc(b), s"pair ($a,$b) split across clusters")
      }
    // labels are minima of their component → label ≤ doc_id, and the
    // label is itself labeled with itself (canonical representative)
    byDoc.foreach { case (doc, c) =>
      assert(c <= doc)
      assert(byDoc(c) === c, s"representative $c of $doc not canonical")
    }
    // keepBest: one survivor per cluster, members sum to corpus size
    val kb = Dedup.keepBest(spark, sf)
    assert(kb.count() === byDoc.values.toSet.size)
    assert(kb.agg(sum("n_members")).head.getLong(0) === byDoc.size)
    labels.unpersist()
  }

  test("nearDupClusters driver fast path equals the distributed propagation loop") {
    import spark.implicits._
    val fast = Dedup.nearDupClusters(spark, sf)
      .as[(Long, Long)].collect().toSet
    val slow = Dedup.nearDupClusters(spark, sf, driverMaxEdges = 0)
      .as[(Long, Long)].collect().toSet
    assert(fast === slow)
  }

  test("cluster-label memo: hit on second call, bypassed when distributed path forced") {
    import spark.implicits._
    Dedup.invalidateClusterMemo()
    assert(Dedup.clusterMemoSize === 0)
    val first = Dedup.nearDupClusters(spark, sf).as[(Long, Long)].collect().toSet
    assert(Dedup.clusterMemoSize === 1, "fast path must memoize its labels")
    val second = Dedup.nearDupClusters(spark, sf).as[(Long, Long)].collect().toSet
    assert(second === first, "memo hit must return identical labels")
    assert(Dedup.clusterMemoSize === 1)
    // forcing the distributed path bypasses the memo and still agrees
    val forced = Dedup.nearDupClusters(spark, sf, driverMaxEdges = 0)
      .as[(Long, Long)].collect().toSet
    assert(forced === first)
    Dedup.invalidateClusterMemo()
    assert(Dedup.clusterMemoSize === 0)
  }

  test("search page: pagination stable, ES-style highlight wraps every match") {
    // sf0.01: the sf0.001 part table has <5 q13 matches, which the
    // offset(5) would swallow — highlight needs rows to assert on
    val rows = GmallQueries.searchPage(spark, "/root/testdata/sf0.01").collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      val name = r.getAs[String]("p_name")
      assert(r.getAs[String]("highlight") === name.replace("a", "<em>a</em>"))
    }
    // stability: same page twice
    val again = GmallQueries.searchPage(spark, "/root/testdata/sf0.01").collect()
    assert(rows.map(_.getLong(0)).toSeq === again.map(_.getLong(0)).toSeq)
  }

  test("near-dup clusters with zero pairs: every doc is its own singleton") {
    // J = 1.0 requires identical shingle sets — none exist in this
    // corpus → empty edge set; must not NPE on the empty label-sum,
    // must emit all-self labels
    val singletons = Dedup.nearDupClusters(spark, sf, minJ = 1.0)
    assert(singletons.filter(col("doc_id") =!= col("cluster_id")).count() === 0L)
    assert(singletons.count() === Tables.documents(spark, sf).count())
  }

  test("IVF trained on a sample still answers: k results per query, deterministic") {
    import spark.implicits._
    val a = Similarity.annIvf(spark, sf, trainFraction = 0.5)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    // invalidate the model memo so the second run RETRAINS — this spec
    // pins retrain-determinism, not memo-hit equality
    Similarity.invalidateModelMemo()
    val b = Similarity.annIvf(spark, sf, trainFraction = 0.5)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(a.nonEmpty)
    assert(a.groupBy(_._1).forall(_._2.length == 5))
    assert(a.toSeq === b.toSeq)
    intercept[IllegalArgumentException] {
      Similarity.annIvf(spark, sf, trainFraction = 0.0)
    }
  }

  test("annPq: codes are compact and valid, gate profile equals exact, default has recall floor") {
    val emb = Tables.embeddings(spark, sf)
    val books = Similarity.pqCodebooks(emb, m = 4, nCodes = 16, iters = 2)
    // every subspace codebook trained (possibly < nCodes after empty
    // Lloyd clusters, never more); codes index into it
    assert(books.size === 4)
    assert(books.forall(b => b.nonEmpty && b.size <= 16))
    val codes = Similarity.encodePq(emb, books).cache()
    assert(codes.count() === emb.count())
    val bad = codes.select(posexplode(col("codes")))
      .filter(col("col") < 0 ||
        col("col") >= element_at(typedLit(books.map(_.size)), col("pos") + 1))
      .count()
    assert(bad === 0L, "every code must index its subspace codebook")
    codes.unpersist()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.mkString("|")).toSet
    // gate profile (probed recall-complete): identical to brute force
    assert(canon(Similarity.annPq(spark, sf, rerank = 272)) ===
      canon(Similarity.annBruteForce(spark, sf)))
    // throughput default: a recall floor, not completeness (near-random
    // embeddings — see scaladoc)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = pairs(Similarity.annBruteForce(spark, sf))
    val got = pairs(Similarity.annPq(spark, sf))
    // sanity floor only: default-rerank recall on near-random embeddings
    // is an empirical property of the pinned corpus with no probe behind
    // it (unlike the rerank=272 completeness above) — assert the operator
    // finds a meaningful fraction, not a corpus-specific ratio that a
    // regenerated corpus could flake
    assert(want.intersect(got).size.toDouble / want.size >= 0.2)
  }

  test("annIvfPq: gate profile equals exact; defaults answer k per query, deterministic") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.mkString("|")).toSet
    // gate profile (Probe-verified (ivfpq family) recall-complete): identical to
    // brute force — cell pruning + shortlist pruning only affect recall,
    // the rescore is exact
    assert(canon(Similarity.annIvfPq(spark, sf, nprobe = 14, rerank = 248)) ===
      canon(Similarity.annBruteForce(spark, sf)))
    // production dials: k results per query, deterministic across runs
    import spark.implicits._
    val a = Similarity.annIvfPq(spark, sf)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    // retrain-determinism, not memo-hit equality (the annIvf pattern)
    Similarity.invalidateModelMemo()
    val b = Similarity.annIvfPq(spark, sf)
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(a.nonEmpty)
    assert(a.groupBy(_._1).forall(_._2.length == 5))
    assert(a.toSeq === b.toSeq)
    // every result the defaults return is a true cosine pair from the
    // corpus (exact rescore): it must appear in the exhaustive sweep
    // extended to the same depth
    val sweep = canon(Similarity.annBruteForce(spark, sf, k = 2000)
      .drop("rank"))
    val gotPairs = canon(Similarity.annIvfPq(spark, sf).drop("rank"))
    assert(gotPairs.subsetOf(sweep))
  }

  test("streaming near-dup candidates cover every verified batch LSH pair (shared buckets)") {
    import spark.implicits._
    // batch-mode execution of the streaming operator (state per group,
    // one batch) with the batch path's parameters: bucket construction
    // is shared code, so the candidate set must contain every pair the
    // batch pipeline verifies
    val candidates = graft.streaming.Pipelines
      .nearDupCandidates(
        Tables.documents(spark, sf).select("doc_id", "text"),
        numHashes = 64, bands = 16)
      .select($"id_a", $"id_b").distinct().as[(Long, Long)].collect().toSet
    val verified = Dedup.minhashLsh(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(verified.nonEmpty)
    verified.foreach { p =>
      assert(candidates.contains(p), s"verified pair $p missing from stream candidates")
    }
  }

  test("near-dup LSH: subset of the exact sweep with identical cosines") {
    import spark.implicits._
    val exact = Similarity.nearDupPairs(spark, sf)
      .select($"id_a", $"id_b", $"cos").as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val lsh = Similarity.nearDupLsh(spark, sf)
      .select($"id_a", $"id_b", $"cos").as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (a, b, c) =>
      assert(exact.contains((a, b)), s"($a,$b) not in exact sweep")
      assert(exact((a, b)) === c, s"cos mismatch for ($a,$b)")
    }
  }

  test("filter_decision (t10): null, empty and whitespace text drop as too_short") {
    import spark.implicits._
    val docs = Seq((1L, null: String), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    val got = TextOps.filterDecisionOn(docs)
      .select("doc_id", "n_tokens", "drop_reason", "keep").as[(Long, Int, String, Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(got.map(r => (r._1, r._3, r._4)) ===
      Seq((1L, "too_short", false), (2L, "too_short", false), (3L, "too_short", false)))
    assert(got.head._2 === 0, "null text counts as 0 tokens")
  }

  test("decontaminate: eval docs excluded, flags match gram overlap, full train coverage") {
    import spark.implicits._
    val out = TextOps.decontaminate(spark, sf).as[(Long, Long, Boolean)].collect()
    val nTrain = Tables.documents(spark, sf).filter($"doc_id" >= 50).count()
    assert(out.length === nTrain, "one row per train doc, zero-match docs included")
    assert(out.forall(_._1 >= 50), "eval docs must not appear in the output")
    out.foreach { case (id, n, flag) => assert(flag === (n > 0), s"flag mismatch for $id") }
    // the corpus shares a 31-word vocabulary — SOME contamination must exist,
    // and the 5-gram unit must not flag everything
    assert(out.exists(_._3) )
  }

  test("boilerplate: ratio in [0,1], counts consistent, high-df grams flagged") {
    import spark.implicits._
    val out = TextOps.boilerplate(spark, sf).as[(Long, Long, Long, Double)].collect()
    assert(out.length === Tables.documents(spark, sf).count())
    out.foreach { case (id, nG, nB, r) =>
      assert(nB <= nG && r >= 0.0 && r <= 1.0, s"bounds violated for $id")
      assert(math.abs(r - nB.toDouble / nG) < 1e-6)
    }
  }

  test("stratified sample: exact per-language quota, deterministic across runs") {
    import spark.implicits._
    val a = TextOps.stratifiedSample(spark, sf).as[(Long, String, Int)].collect().toSet
    val b = TextOps.stratifiedSample(spark, sf).as[(Long, String, Int)].collect().toSet
    assert(a === b, "md5-ranked sample must be run-deterministic")
    val perLang = a.groupBy(_._2).view.mapValues(_.size).toMap
    val langSizes = Tables.documents(spark, sf).groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    langSizes.foreach { case (lang, n) =>
      assert(perLang(lang) === math.min(20L, n).toInt, s"quota wrong for $lang")
    }
  }

  test("centroid outliers: per-label top-3 by distance, ranks ordered, self-consistent") {
    import spark.implicits._
    val out = Similarity.centroidOutliers(spark, sf)
      .as[(Int, Int, Long, Double)].collect()
    val byLabel = out.groupBy(_._1)
    val nLabels = Tables.embeddings(spark, sf).select("label").distinct().count()
    assert(byLabel.size === nLabels)
    byLabel.values.foreach { rows =>
      assert(rows.map(_._2).sorted.toSeq === Seq(1, 2, 3))
      // rank order must follow distance descending
      val sorted = rows.sortBy(_._2).map(_._4)
      assert(sorted.zip(sorted.tail).forall { case (x, y) => x >= y })
    }
  }

  test("funnel: step timestamps strictly increase and max_step matches nulls") {
    val f = GmallQueries.funnel(spark, sf).cache()
    // later steps require earlier ones
    assert(f.filter(col("purchase_ts").isNotNull && col("click_ts").isNull)
      .count() === 0L)
    // strict ordering whenever a step is present
    assert(f.filter(col("click_ts").isNotNull &&
      col("click_ts") <= col("view_ts")).count() === 0L)
    assert(f.filter(col("purchase_ts").isNotNull &&
      col("purchase_ts") <= col("click_ts")).count() === 0L)
    // max_step is derived, not stored — re-derive and compare
    val expected = lit(1) +
      when(col("click_ts").isNotNull, 1).otherwise(0) +
      when(col("purchase_ts").isNotNull, 1).otherwise(0)
    assert(f.filter(col("max_step") =!= expected).count() === 0L)
    // one row per user with a view event
    val nViewUsers = Tables.events(spark, sf)
      .filter(col("event_type") === "view")
      .select("user_id").distinct().count()
    assert(f.count() === nViewUsers)
    f.unpersist()
  }

  test("retention: offset 0 holds the full cohort; later days never exceed it") {
    val r = GmallQueries.retention(spark, sf).cache()
    assert(r.filter(col("day_offset") < 0).count() === 0L)
    // every user is active on their own cohort day, so offset-0 count
    // == cohort size, and any later offset is a subset of the cohort
    val day0 = r.filter(col("day_offset") === 0)
      .select(col("cohort_date"), col("n_users").as("cohort_size"))
    val cohortSizes = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy("user_id").agg(min(col("d")).as("cohort_date"))
      .groupBy("cohort_date").agg(count(lit(1)).as("expected"))
    assert(day0.join(cohortSizes, "cohort_date")
      .filter(col("cohort_size") =!= col("expected")).count() === 0L)
    assert(r.join(day0, "cohort_date")
      .filter(col("n_users") > col("cohort_size")).count() === 0L)
    r.unpersist()
  }

  test("quantile_filter: keeps the top half per language, threshold clean") {
    val kept = TextOps.quantileFilter(spark, sf).cache()
    val all = TextOps.quality(spark, sf)
      .select(col("doc_id"), (col("n_distinct_tokens") /
        col("n_tokens").cast("double")).as("ttr"))
      .join(Tables.documents(spark, sf).select("doc_id", "lang"), "doc_id")
      .cache()
    val counts = all.groupBy("lang").count()
      .join(kept.groupBy("lang").agg(count(lit(1)).as("kept")), "lang")
      .collect()
    counts.foreach { row =>
      val n = row.getAs[Long]("count"); val k = row.getAs[Long]("kept")
      // pr >= 0.5 keeps n − ceil((n−1)/2) rows exactly
      assert(k === n - Math.ceil((n - 1) / 2.0).toLong,
        s"lang ${row.getAs[String]("lang")}: kept $k of $n")
    }
    // no dropped doc outranks a kept one within its language
    val dropped = all.join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
    val minKept = kept.groupBy("lang").agg(min("ttr").as("min_kept"))
    assert(dropped.join(minKept, "lang")
      .filter(col("ttr") > col("min_kept")).count() === 0L)
    kept.unpersist(); all.unpersist()
  }

  test("pack_sequences: per-group offsets tile with no gap and bins derive") {
    import spark.implicits._
    val p = TextOps.packSequences(spark, sf).cache()
    // offsets within a group form a contiguous tiling: sorted by
    // start_off, each doc starts where the previous one ended
    val bad = p.select("grp", "start_off", "n_tokens").as[(Int, Long, Int)]
      .collect().groupBy(_._1).values.map { docs =>
        val s = docs.sortBy(_._2)
        s.head._2 == 0L &&
          s.zip(s.tail).forall { case ((_, off, n), (_, off2, _)) => off + n == off2 }
      }
    assert(bad.forall(identity))
    assert(p.filter(col("bin") =!= floor(col("start_off") / 512).cast("int"))
      .count() === 0L)
    p.unpersist()
  }

  test("exact_substring: counts duplicated k-windows, cross-doc only") {
    import spark.implicits._
    // 12 tokens each; docs 1 and 2 share tokens 4..11 (one copied
    // 8-token span = exactly one shared window); doc 3 is disjoint;
    // doc 4 repeats its own window twice but shares nothing cross-doc
    val span = (4 to 11).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 a3 $span a4"),
      (2L, s"b1 b2 b3 $span b4"),
      (3L, (1 to 12).map(i => s"c$i").mkString(" ")),
      (4L, "d1 d2 d3 d4 d5 d6 d7 d8 d1 d2 d3 d4 d5 d6 d7 d8"))
      .toDF("doc_id", "text")
    val out = Dedup.exactSubstringOn(docs, k = 8).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup"))).toMap
    // 12 tokens, k=8 → 5 windows; the shared span is windows[3] only
    assert(out(1L) === ((5L, 1L)))
    assert(out(2L) === ((5L, 1L)))
    assert(out(3L) === ((5L, 0L)))
    // 16 tokens → 9 windows, all repeats are WITHIN doc 4 → no dups
    assert(out(4L) === ((9L, 0L)))
    // corpus run: coverage bounded, near-dup docs show partial overlap
    val d = Dedup.exactSubstring(spark, sf).cache()
    assert(d.filter(col("n_dup") > col("n_windows")).count() === 0L)
    assert(d.filter(col("n_dup") > 0).count() > 0L,
      "near-dup corpus should share some 8-token spans")
    d.unpersist()
  }

  test("hyperplane_sig is bit-identical to the per-plane xxhash64 fold") {
    val emb = Tables.embeddings(spark, sf)
    val t = 1; val nPlanes = 8
    val fused = Similarity.lshSignature(col("embedding"), t, nPlanes)
    // the formulation hyperplane_sig replaced: per-plane HOF fold with
    // per-row hash evaluation of the plane matrix
    val composed = (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => x.cast("double") *
            (xxhash64(lit(t * nPlanes + p), i).cast("double") /
              lit(Long.MaxValue.toDouble * 2.0))),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    assert(emb.filter(fused =!= composed).count() === 0L)
  }

  test("bm25: matches a driver-side reference at default AND non-default params") {
    // independent reference: same Okapi formula over collected docs
    def reference(qts: Seq[String], k1: Double, b: Double,
                  topK: Int): Seq[(Int, Long, Long, Double)] = {
      val docs = Tables.documents(spark, sf).select("doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
      val dl = docs.map { case (id, ts) => id -> ts.size.toDouble }.toMap
      val n = docs.length.toDouble
      val avgdl = dl.values.sum / n
      val tf = docs.map { case (id, ts) =>
        id -> ts.groupBy(identity).map { case (t, xs) => t -> xs.size.toDouble } }
      val df = qts.map(t => t -> tf.count(_._2.contains(t)).toDouble).toMap
      val scored = tf.flatMap { case (id, m) =>
        val terms = qts.filter(m.contains)
        if (terms.isEmpty) None
        else {
          val s = terms.map { t =>
            val idf = math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
            idf * (m(t) * (k1 + 1)) / (m(t) + k1 * (1 - b + b * dl(id) / avgdl))
          }.sum
          Some((id, terms.size.toLong,
            BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        }
      }
      scored.sortBy { case (id, _, s) => (-s, id) }.take(topK).zipWithIndex
        .map { case ((id, nt, s), i) => (i + 1, id, nt, s) }.toSeq
    }
    def got(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
        .sortBy(_._1)
    assert(got(TextOps.bm25(spark, sf)) ===
      reference(Seq("hash", "join", "scan"), 1.2, 0.75, 20))
    // non-default params (not gate-covered): other terms, k1/b, topK
    assert(got(TextOps.bm25(spark, sf, queryTerms = Seq("data", "stream"),
        k1 = 2.0, b = 0.5, topK = 7)) ===
      reference(Seq("data", "stream"), 2.0, 0.5, 7))
    // a term absent from the corpus contributes nothing and breaks nothing
    assert(got(TextOps.bm25(spark, sf,
        queryTerms = Seq("hash", "zzz_not_a_token"), topK = 5)) ===
      reference(Seq("hash", "zzz_not_a_token"), 1.2, 0.75, 5))
  }

  test("unigram_logprob: scores bounded by the rarest/commonest token, every doc scored") {
    val out = TextOps.unigramLogProb(spark, sf).cache()
    val nDocs = Tables.documents(spark, sf).count()
    assert(out.count() === nDocs)
    // a mixture of token log-probs lies between the extreme log-probs
    val toks = Tables.documents(spark, sf)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
    val counts = toks.groupBy("tok").count().collect().map(_.getLong(1))
    val total = counts.sum.toDouble
    val lo = math.log(counts.min / total) - 1e-6
    val hi = math.log(counts.max / total) + 1e-6
    assert(out.filter(col("avg_logprob") < lo || col("avg_logprob") > hi).count() === 0L)
    assert(out.filter(col("avg_logprob") >= 0).count() === 0L,
      "log-probs of a >1-token vocabulary are strictly negative")
    out.unpersist()
  }

  test("bigram_logprob: every doc scored, smoothed probs strictly in (0,1)") {
    val out = TextOps.bigramLogProb(spark, sf).cache()
    val nDocs = Tables.documents(spark, sf).count()
    assert(out.count() === nDocs)
    // add-1 smoothing keeps every conditional in (0, 1): averages are
    // strictly negative and bounded below by the rarest transition
    val bgs = Tables.documents(spark, sf)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(explode(TextOps.tokenWindows(col("toks"), 2, 1)).as("bg"))
    val maxCp = bgs.withColumn("prev", split(col("bg"), " ").getItem(0))
      .groupBy("prev").count().agg(max("count")).head.getLong(0)
    val vocab = Tables.documents(spark, sf)
      .select(explode(TextOps.tokens(col("text"))).as("tok")).distinct().count()
    val lo = math.log(1.0 / (maxCp + vocab)) - 1e-6
    assert(out.filter(col("avg_logprob") < lo || col("avg_logprob") >= 0)
      .count() === 0L)
    // n_bigrams matches the shared window formula per doc
    val want = Tables.documents(spark, sf)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(TextOps.tokenWindows(col("toks"), 2, 1)).cast("long").as("w_n"))
    assert(out.join(want, "doc_id")
      .filter(col("n_bigrams") =!= col("w_n")).count() === 0L)
    out.unpersist()
  }

  test("compression_ratio: codegen path equals the driver-side zlib, all docs scored") {
    val out = TextOps.compressionRatio(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("deflate_len")).toMap
    val want = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .collect().map { r =>
        r.getAs[Long]("doc_id") -> graft.functions.DeflateLen.deflatedLen(
          r.getAs[String]("text").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }.toMap
    assert(out === want)
    // run-to-run determinism (the rows-only gate leans on this)
    val again = TextOps.compressionRatio(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("deflate_len")).toMap
    assert(again === out)
  }

  test("dataset_card: strata cover the corpus exactly, shares sum to ~1") {
    val card = TextOps.datasetCard(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(card.map(_.getAs[Long]("n_docs")).sum === nDocs)
    val docShare = card.map(_.getAs[Double]("doc_share")).sum
    val tokShare = card.map(_.getAs[Double]("token_share")).sum
    assert(math.abs(docShare - 1.0) < 1e-4 && math.abs(tokShare - 1.0) < 1e-4)
    assert(card.forall(r => r.getAs[Double]("avg_chars") > 0))
  }

  // q26/Ranges: the binning rewrite must be join-for-join identical to
  // the naive range join, while planning as an equi-join
  test("pointInIntervalJoin: binned equals naive ranged, keyed and unkeyed") {
    val ev = Tables.events(spark, sf).select(col("user_id"), col("event_id"), col("ts"))
    val sess = GmallQueries.sessionize(spark, sf)
      .select(col("user_id"), col("session_start"), col("session_end"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.mkString("|")).toSet
    val naiveKeyed = ev.join(sess, Seq("user_id"))
      .filter(col("ts") >= col("session_start") && col("ts") <= col("session_end"))
    val binnedKeyed = Ranges.pointInIntervalJoin(ev, sess, Seq("user_id"),
      "ts", "session_start", "session_end")
    assert(canon(binnedKeyed) === canon(naiveKeyed))
    // unkeyed (global intervals): same containment set, but the naive
    // plan is a nested loop and the rewrite stays an equi-join
    val iv = sess.select(col("session_start"), col("session_end")).limit(20)
    val naive = ev.join(iv,
      col("ts") >= col("session_start") && col("ts") <= col("session_end"))
    val binned = Ranges.pointInIntervalJoin(ev, iv, Seq.empty,
      "ts", "session_start", "session_end")
    assert(canon(binned) === canon(naive))
    assert(naive.queryExecution.sparkPlan.toString.contains("BroadcastNestedLoopJoin"),
      "the naive range join should plan as a nested loop (that's the problem)")
    assert(!binned.queryExecution.sparkPlan.toString.contains("BroadcastNestedLoopJoin") &&
      !binned.queryExecution.sparkPlan.toString.contains("CartesianProduct"),
      "the rewrite must plan as an equi-join")
  }

  test("pointInIntervalJoin: degenerate intervals fail loudly") {
    import spark.implicits._
    val pts = Seq(("2024-01-01 00:30:00")).toDF("p")
      .select(to_timestamp(col("p")).as("ts"))
    def iv(s: String, e: String) = Seq((s, e)).toDF("s", "e")
      .select(to_timestamp(col("s")).as("lo"), to_timestamp(col("e")).as("hi"))
    val reversed = intercept[Exception] {
      Ranges.pointInIntervalJoin(pts, iv("2024-01-02 00:00:00", "2024-01-01 00:00:00"),
        Seq.empty, "ts", "lo", "hi").collect()
    }
    assert(reversed.getMessage.contains("end precedes start") ||
      Option(reversed.getCause).exists(_.getMessage.contains("end precedes start")))
    val tooWide = intercept[Exception] {
      Ranges.pointInIntervalJoin(pts, iv("2024-01-01 00:00:00", "2026-01-01 00:00:00"),
        Seq.empty, "ts", "lo", "hi").collect()
    }
    assert(tooWide.getMessage.contains("bins") ||
      Option(tooWide.getCause).exists(_.getMessage.contains("bins")))
  }

  // t18: the two-phase (MG candidates → exact recount) form must be
  // bit-identical to the naive full-vocabulary groupBy at ANY parameters
  private def naiveHitters(k: Int, minCount: Long) =
    Tables.documents(spark, sf)
      .select(TextOps.tokens(col("text")).as("toks"))
      .select(explode(TextOps.tokenWindows(col("toks"), k, 1)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)

  test("heavy_hitters: two-phase pruning equals the naive groupBy, defaults") {
    val got = TextOps.heavyHitters(spark, sf).collect().map(_.mkString("|")).toSet
    val want = naiveHitters(3, 5).collect().map(_.mkString("|")).toSet
    assert(got === want)
    assert(got.nonEmpty, "threshold should qualify some grams on this corpus")
  }

  test("heavy_hitters: exact at non-default k/minCount too") {
    val got = TextOps.heavyHitters(spark, sf, k = 2, minCount = 10)
      .collect().map(_.mkString("|")).toSet
    val want = naiveHitters(2, 10).collect().map(_.mkString("|")).toSet
    assert(got === want)
  }

  test("heavy_hitters: MG summary overflow fails loudly, not silently") {
    val e = intercept[Exception] {
      TextOps.heavyHitters(spark, sf, summaryCap = 1).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t =>
      Option(t.getMessage).exists(_.contains("raise summaryCap"))),
      s"expected the loud overflow error, got: $e")
  }

  // d12: the prefix-filtered cross-corpus join must equal a naive
  // all-cross-pairs sweep computed on STRING shingles (so the spec also
  // revalidates the hash-array verify path), at defaults and at
  // non-default parameters the oracle does not cover
  private def naiveFuzzyDecon(evalN: Long, minJ: Double) = {
    val sh = Tables.documents(spark, sf)
      .select(col("doc_id"),
        array_distinct(TextOps.tokenWindows(
          TextOps.tokens(col("text")), 3, 1)).as("shingles"))
    val e = sh.filter(col("doc_id") < evalN)
      .select(col("doc_id").as("id_eval"), col("shingles").as("sh_e"))
    val t = sh.filter(col("doc_id") >= evalN)
      .select(col("doc_id"), col("shingles").as("sh_t"))
    val pairs = t.crossJoin(e)
      .withColumn("n_common", size(array_intersect(col("sh_t"), col("sh_e"))))
      .withColumn("jaccard", col("n_common") /
        (size(col("sh_t")) + size(col("sh_e")) - col("n_common")).cast("double"))
      .filter(col("jaccard") >= minJ)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("jaccard").desc, col("id_eval").asc)
    pairs.withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_eval_matches"),
        max(col("jaccard")).as("max_jaccard"),
        min(when(col("rn") === 1, col("id_eval"))).as("best_eval_id"))
  }

  test("fuzzy_decontaminate: prefix-filtered join equals the naive cross sweep") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.mkString("|")).toSet
    assert(canon(Dedup.fuzzyDecontaminate(spark, sf)) ===
      canon(naiveFuzzyDecon(50, Dedup.lshMinJ)))
    // non-default params (not gate-covered): bigger eval set, looser J
    assert(canon(Dedup.fuzzyDecontaminate(spark, sf, evalN = 100, minJ = 0.3)) ===
      canon(naiveFuzzyDecon(100, 0.3)))
  }

  test("scd2_history: versions contiguous, intervals chain, one current row") {
    val h = GmallQueries.scd2History(spark, sf).cache()
    // exactly one open (is_current) interval per user
    assert(h.filter(col("is_current")).groupBy("user_id").count()
      .filter(col("count") =!= 1).count() === 0L)
    assert(h.filter(col("is_current") && col("valid_to").isNotNull).count() === 0L)
    // versions are 1..k with no gaps
    val vstats = h.groupBy("user_id")
      .agg(min("version").as("v0"), max("version").as("v1"), count(lit(1)).as("n"))
    assert(vstats.filter(col("v0") =!= 1 || col("v1") =!= col("n")).count() === 0L)
    // intervals chain: valid_to == next version's valid_from
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("version")
    val chained = h.withColumn("next_from", lead("valid_from", 1).over(w))
    assert(chained.filter(col("next_from").isNotNull &&
      col("valid_to") =!= col("next_from")).count() === 0L)
    // no collapsed run repeats its predecessor's state
    val rep = h.withColumn("prev_state", lag("state", 1).over(w))
      .filter(col("prev_state").isNotNull && col("prev_state") === col("state"))
    assert(rep.count() === 0L)
    // run lengths sum back to the per-user event count
    val evCount = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n_ev"))
    val sums = h.groupBy("user_id").agg(sum("n_events").as("n_run"))
      .join(evCount, "user_id")
    assert(sums.filter(col("n_run") =!= col("n_ev")).count() === 0L)
    h.unpersist()
  }

  test("temporal_join: every event matches exactly one interval, consistent with the history") {
    val out = GmallQueries.temporalJoin(spark, sf).cache()
    val nEvents = Tables.events(spark, sf).count()
    // coverage: one output row per event, no duplicates from the join
    assert(out.count() === nEvents)
    assert(out.groupBy("event_id").count()
      .filter(col("count") =!= 1).count() === 0L)
    // the version a user's LAST event maps to is the open one
    val lastEv = Tables.events(spark, sf)
      .groupBy("user_id").agg(max(struct(col("ts"), col("event_id"))).as("m"))
      .select(col("user_id"), col("m.event_id").as("event_id"))
    val current = GmallQueries.scd2History(spark, sf)
      .filter(col("is_current"))
      .select(col("user_id"), col("version").as("cur_version"))
    val mism = out.join(lastEv, Seq("user_id", "event_id"))
      .join(current, "user_id")
      .filter(col("version") =!= col("cur_version"))
    assert(mism.count() === 0L)
    // boundary semantics: an event AT a version's valid_from maps to
    // that version, not the closed predecessor
    val atBoundary = out.join(
      GmallQueries.scd2History(spark, sf)
        .filter(col("version") > 1)
        .select(col("user_id"), col("valid_from").as("ts"),
          col("version").as("v_open")),
      Seq("user_id", "ts"))
    assert(atBoundary.count() > 0, "corpus has boundary events by construction")
    assert(atBoundary.filter(col("version") < col("v_open")).count() === 0L)
    out.unpersist()
  }

  test("sampled_percentiles: estimates land within rank tolerance of the true quantiles") {
    // the estimator is deterministic on the pinned corpus, so this is a
    // fixed number, not a flaky draw; 0.1 is ~1.6x the DKW 95% bound at
    // K=500 (and the sf0.001 groups are smaller than K → exact there)
    val est = GmallQueries.sampledPercentiles(spark, sf).collect()
      .map(r => r.getString(0) -> Seq(
        0.25 -> r.getDouble(2), 0.5 -> r.getDouble(3), 0.95 -> r.getDouble(4)))
    assert(est.nonEmpty)
    val all = Tables.orders(spark, sf)
      .select(col("o_orderstatus"), col("o_totalprice")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted).toMap
    for ((grp, ps) <- est; (p, v) <- ps) {
      val vals = all(grp)
      val rank = vals.count(_ <= v + 1e-9).toDouble / vals.length
      assert(math.abs(rank - p) <= 0.1,
        s"group $grp p$p estimate $v has empirical rank $rank")
    }
    // with sampleK >= every group, the sample IS the group and the
    // estimate degenerates to the exact disc quantile (non-default
    // param, not gate-covered)
    val maxGroup = all.values.map(_.length).max
    val estFull = GmallQueries.sampledPercentiles(spark, sf, sampleK = maxGroup)
      .collect().map(r => r.getString(0) -> Seq(
        0.25 -> r.getDouble(2), 0.5 -> r.getDouble(3), 0.95 -> r.getDouble(4)))
    for ((grp, ps) <- estFull; (p, v) <- ps) {
      val vals = all(grp)
      val exact = vals(math.ceil(p * vals.length).toInt - 1)
      assert(math.abs(v - exact) < 1e-9, s"group $grp p$p: $v != exact disc $exact")
    }
  }

  test("delta_agg: incremental merge equals full recompute at any cutoff") {
    def direct(cutoff: String) = {
      val o = Tables.orders(spark, sf)
      val c = Tables.customer(spark, sf)
      val n = Tables.nation(spark, sf)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .filter(!(col("o_orderstatus") === "P" &&
          col("o_orderdate") >= lit(cutoff)))
        .groupBy(n("n_name").as("province_name"))
        .agg(count(lit(1)).as("n_orders"),
          Tables.dollars(sum(Tables.cents(col("o_totalprice")))).as("amount"))
    }
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.mkString("|")).toSet
    // mid-range cutoff, all-delta (base empty), all-base (delta empty)
    for (cutoff <- Seq("1996-06-15", "1990-01-01", "2005-01-01"))
      assert(canon(GmallQueries.deltaAgg(spark, sf, cutoff)) ===
        canon(direct(cutoff)), s"cutoff $cutoff")
  }

  test("cdc_apply: last-writer-wins snapshot with delete tombstones") {
    val snap = GmallQueries.cdcApply(spark, sf).cache()
    // one row per surviving key
    assert(snap.groupBy("user_id").count().filter(col("count") > 1).count() === 0L)
    // independent formulation: window latest per key, tombstone filter
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val ev = Tables.events(spark, sf)
    val want = ev
      .withColumn("rn", row_number().over(w))
      .withColumn("n_ops", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("user_id"), col("ts").as("last_ts"),
        col("event_type").as("last_event_type"),
        col("value").as("last_value"),
        get_json_object(col("props"), "$.k").cast("int").as("last_k"),
        col("n_ops"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.mkString("|")).toSet
    assert(canon(snap) === canon(want))
    // tombstoned keys really had a trailing delete
    val gone = ev.select(col("user_id")).distinct()
      .join(snap.select("user_id"), Seq("user_id"), "left_anti")
    val lastIsDelete = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("event_type") === "error")
      .select("user_id")
    assert(canon(gone) === canon(lastIsDelete))
    snap.unpersist()
  }

  test("gap_fill: calendar is dense, filled rows are zero, forward-fill is last active") {
    val g = GmallQueries.gapFill(spark, sf).cache()
    // dense calendar: row count per user == span days, no duplicate days
    val span = g.groupBy("user_id")
      .agg(min("d").as("d0"), max("d").as("d1"), count(lit(1)).as("n"),
        countDistinct("d").as("nd"))
    assert(span.filter(col("n") =!= col("nd") ||
      col("n") =!= datediff(col("d1"), col("d0")) + 1).count() === 0L)
    // filled rows carry zeros; real rows match the daily rollup
    assert(g.filter(col("filled") &&
      (col("n_events") =!= 0 || col("day_cents") =!= 0)).count() === 0L)
    val daily = Tables.events(spark, sf)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("e_n"), sum(Tables.cents(col("value"))).as("e_c"))
    val joined = g.filter(!col("filled")).join(daily, Seq("user_id", "d"), "left")
    assert(joined.filter(col("e_n").isNull || col("n_events") =!= col("e_n") ||
      col("day_cents") =!= col("e_c")).count() === 0L)
    // forward fill: last_active_day is the greatest non-filled day ≤ d
    val active = g.filter(!col("filled")).select(col("user_id"), col("d").as("ad"))
    val expect = g.join(active, Seq("user_id"))
      .filter(col("ad") <= col("d"))
      .groupBy("user_id", "d").agg(max("ad").as("want"))
    val cmp = g.join(expect, Seq("user_id", "d"), "left")
    assert(cmp.filter(col("last_active_day") =!= col("want")).count() === 0L)
    g.unpersist()
  }

  test("ngramNovelty: equals the per-doc first-owner reference; totals close") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // same window construction as tokenWindows(k=3, stride=1): one
    // window per start 0..max(len-3,0), tail windows shorter
    def grams(text: String): Set[String] = {
      val toks = text.trim.split("\\s+")
      (0 to math.max(toks.length - 3, 0))
        .map(i => toks.slice(i, math.min(i + 3, toks.length)).mkString(" "))
        .toSet
    }
    val byDoc = docs.map { case (id, t) => id -> grams(t) }
    val firstOwner = byDoc.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).min }
    val want = byDoc.map { case (id, gs) =>
      id -> (gs.size.toLong, gs.count(g => firstOwner(g) == id).toLong)
    }.toMap
    val got = TextOps.ngramNovelty(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got.keySet === want.keySet)
    for ((id, (n, nov)) <- want) {
      assert(got(id)._1 === n, s"doc $id n_grams")
      assert(got(id)._2 === nov, s"doc $id n_novel")
      assert(math.abs(got(id)._3 - nov.toDouble / n) < 1e-6, s"doc $id novelty")
    }
    // every distinct gram is novel exactly once, and the earliest doc
    // introduces everything it contains
    assert(got.values.map(_._2).sum === firstOwner.size.toLong)
    assert(got(docs.map(_._1).min)._3 === 1.0)
  }

  // v10 semDedup: brute-force double-precision reference for the greedy
  // earlier-wins decision — drop iff ANY earlier same-cluster item is
  // τ-similar, independent of that item's own kept/dropped fate
  private def semDedupReference(rows: Array[(Long, Int, Array[Double])],
                                minCos: Double): Set[(Long, Int, Boolean)] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    rows.map { case (id, cl, v) =>
      val dup = rows.exists { case (id2, cl2, v2) =>
        cl2 == cl && id2 < id && cos(v2, v) > minCos }
      (id, cl, !dup)
    }.toSet
  }

  test("semDedup: label-clustered decision equals the brute-force reference") {
    val rows = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).toArray.map(_.toDouble)))
    val got = Similarity.semDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    assert(got === semDedupReference(rows, 0.4))
    // every vec decided exactly once; the first member of each cluster
    // has no earlier neighbor, so it is always kept
    assert(got.size === rows.length)
    val firstIds = rows.groupBy(_._2).values.map(_.map(_._1).min).toSet
    assert(got.filter(r => firstIds(r._1)).forall(_._3))
  }

  test("semDedup: trained-cluster variant obeys the same invariant on its own assignment") {
    val out = Similarity.semDedupTrained(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    assert(out.length === emb.size)
    // recompute the greedy decision from the output's OWN cluster
    // assignment — the trained path must apply the identical pruning rule
    val byId = out.map { case (id, cl, _) => (id, cl, emb(id)) }
    assert(out.toSet === semDedupReference(byId, 0.4))
    // deterministic across invocations (memo hit AND cold retrain)
    Similarity.invalidateModelMemo()
    val again = Similarity.semDedupTrained(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(again.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
  }

  test("sourceOverlap: equals the driver-side exact pair Jaccard, symmetric and bounded") {
    val grams = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => r.getString(0) -> r.getString(1))
      .groupBy(_._1)
      .map { case (s, rows) =>
        s -> rows.flatMap { case (_, text) =>
          val t = text.trim.split("\\s+")
          // same window rule as tokenWindows(k=3, stride=1): one window
          // per start, the tail window clamps
          (0 to math.max(t.length - 3, 0)).map(i => t.slice(i, i + 3).mkString(" "))
        }.toSet
      }
    val expected = (for {
      (a, ga) <- grams; (b, gb) <- grams if a < b
      inter = (ga & gb).size if inter > 0
    } yield (a, b, ga.size.toLong, gb.size.toLong, inter.toLong,
      BigDecimal(inter.toDouble / (ga.size + gb.size - inter))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    val got = Dedup.sourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    assert(got === expected)
    assert(got.nonEmpty, "synthetic sources share vocabulary — overlap must exist")
    // unordered pairs appear exactly once, a < b
    assert(got.forall { case (a, b, _, _, _, _) => a < b })
  }

  test("sourceOverlap: refuses loudly past maxSources, pointing at the sketch path") {
    // the guard is IN the plan (builders stay action-free), so the
    // refusal surfaces at the first ACTION, raised from the guarded
    // gram projection before the sources² fan-out aggregates anything
    val rel = Dedup.sourceOverlap(spark, sf, maxSources = 1) // action-free
    val e = intercept[Exception] { rel.count() }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(msgs.contains("maxSources"), msgs)
    assert(msgs.contains("sourceOverlapMinhash"),
      "the refusal must name the 100 TB path")
    // and the default cap admits the real corpus unchanged
    assert(Dedup.sourceOverlap(spark, sf).count() > 0)
    // a NULL source is no source: it neither pairs nor counts toward
    // the cap — a cap of exactly the real source count admits a corpus
    // with null-source docs, and the output equals that corpus with
    // those docs removed
    def forge(docs: org.apache.spark.sql.DataFrame): String = {
      val d = java.nio.file.Files.createTempDirectory("graft-d13-null").toString
      docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
      d
    }
    val docs = Tables.documents(spark, sf)
    val nulled = col("doc_id") % 7 === 0
    val withNull = forge(docs.withColumn("source",
      when(nulled, lit(null).cast("string")).otherwise(col("source"))))
    val without = forge(docs.filter(!nulled))
    val nReal = docs.filter(!nulled).select("source").distinct().count().toInt
    def rowsOf(dir: String) =
      Dedup.sourceOverlap(spark, dir, maxSources = nReal).collect().map(_.toSeq).toSet
    assert(rowsOf(withNull) === rowsOf(without))
  }

  test("sourceOverlapMinhash: union sketch merges associatively; estimate tracks exact Jaccard") {
    // merge property: the per-source sketch equals the element-wise min
    // of sketches over ANY doc partition — computed driver-side from
    // the per-doc d6 signatures (the relation a per-file/per-day
    // pipeline would actually merge)
    val docSigs = Dedup.minhashSigPortable(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val srcOf = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def sketch(docs: Set[Long]): Map[Int, String] =
      docSigs.filter(t => docs(t._1)).groupBy(_._2)
        .map { case (p, rows) => p -> rows.map(_._3).min }
    val bySrc = srcOf.keySet.groupBy(srcOf)
    for ((s, docs) <- bySrc) {
      val (lo, hi) = docs.partition(_ % 2 == 0)
      val merged = (sketch(lo).toSeq ++ sketch(hi).toSeq)
        .groupBy(_._1).map { case (p, vs) => p -> vs.map(_._2).min }
      assert(merged === sketch(docs), s"merge mismatch for $s")
    }
    // estimator accuracy at 32 perms vs the exact d13 Jaccard: per-pair
    // std is sqrt(J(1-J)/32) <= 0.089, so mean |err| ~0.07 and a 190-pair
    // max ~3.5 sigma — bounds set with slack above both
    val exact = Dedup.sourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
    val est = Dedup.sourceOverlapMinhash(spark, sf, numHashes = 32).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(est.keySet.size ===
      bySrc.size * (bySrc.size - 1) / 2, "every unordered pair emitted")
    val errs = est.map { case (k, e) => math.abs(e - exact.getOrElse(k, 0.0)) }
    assert(errs.sum / errs.size <= 0.12,
      s"mean |est-exact| ${errs.sum / errs.size} too high")
    assert(errs.max <= 0.40, s"max |est-exact| ${errs.max} too high")
  }

  test("leakageSafeSplit: co-clustered docs share a split; singletons get t9's split") {
    val split = Dedup.leakageSafeSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
    val docs = Tables.documents(spark, sf).count()
    assert(split.length === docs, "every doc is assigned")
    // the leakage guarantee: one split per cluster
    for ((_, members) <- split.groupBy(_._2))
      assert(members.map(_._4).distinct.length === 1)
    // singleton clusters (cluster_id == doc_id) must agree with t9's
    // per-doc split — same hash, same bands
    val t9 = TextOps.hashSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val singletons = split.filter { case (d, c, _, _) => d == c }
    assert(singletons.nonEmpty)
    for ((d, _, _, s) <- singletons) assert(s === t9(d), s"doc $d")
    // all three bands are populated at this corpus size
    assert(split.map(_._4).distinct.sorted === Seq("test", "train", "val"))
  }

  test("bitextMargin: equals the driver-side margin reference at default and shifted params") {
    def cosD(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
    def reference(k: Int, minMargin: Double): Set[(Long, Long, Double, Double, Boolean)] = {
      val src = emb.filter(_._1 % 2 == 0); val tgt = emb.filter(_._1 % 2 == 1)
      val cos = (for ((s, vs) <- src; (t, vt) <- tgt)
        yield (s, t) -> cosD(vs, vt)).toMap
      def topAvg(pairs: Seq[(Long, Double)]): Double = {
        val top = pairs.sortBy { case (o, c) => (-c, o) }.take(k).map(_._2)
        top.sum / top.length
      }
      val nnS = src.map { case (s, _) =>
        s -> topAvg(tgt.map { case (t, _) => (t, cos((s, t))) }.toSeq) }.toMap
      val nnT = tgt.map { case (t, _) =>
        t -> topAvg(src.map { case (s, _) => (s, cos((s, t))) }.toSeq) }.toMap
      src.map { case (s, _) =>
        val best = tgt.map { case (t, _) =>
          (t, cos((s, t)), r6(cos((s, t)) / ((nnS(s) + nnT(t)) / 2))) }
          .minBy { case (t, _, m) => (-m, t) }
        (s, best._1, best._2, best._3, best._3 >= minMargin)
      }.toSet
    }
    def run(k: Int, minMargin: Double) =
      Similarity.bitextMargin(spark, sf, k, minMargin).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getBoolean(4))).toSet
    val got = run(4, 1.0)
    assert(got === reference(4, 1.0))
    // one row per src vector, and the flag splits at the default dials
    assert(got.size === emb.count(_._1 % 2 == 0))
    assert(got.exists(_._5) && got.exists(!_._5),
      "minMargin=1.0 must separate mined from unmined on this corpus")
    assert(run(2, 1.02) === reference(2, 1.02))
  }

  test("bpeMerges: equals an independent driver-side BPE reference on the real corpus") {
    // independent re-implementation (different data structures and
    // segmentation mechanism — List + sliding pair counts + recursive
    // rewrite) of Sennrich-style BPE over the same word histogram
    def reference(nMerges: Int): Seq[(Int, String, String, String, Long)] = {
      val hist = Tables.documents(spark, sf)
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy("w").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      var words: Map[List[String], Long] = hist.toSeq
        .map { case (w, n) => (w.toList.map(_.toString) :+ "</w>") -> n }
        .groupMapReduce(_._1)(_._2)(_ + _)
      def segment(syms: List[String], l: String, r: String): List[String] = syms match {
        case a :: b :: rest if a == l && b == r => (l + r) :: segment(rest, l, r)
        case a :: rest => a :: segment(rest, l, r)
        case Nil => Nil
      }
      (1 to nMerges).iterator.map { rank =>
        val counts = words.toSeq.flatMap { case (syms, n) =>
          syms.sliding(2).collect { case List(a, b) => ((a, b), n) }
        }.groupMapReduce(_._1)(_._2)(_ + _)
        if (counts.isEmpty) None
        else {
          val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
          if (c < 2) None
          else {
            words = words.toSeq.map { case (syms, n) => segment(syms, l, r) -> n }
              .groupMapReduce(_._1)(_._2)(_ + _)
            Some((rank, l, r, l + r, c))
          }
        }
      }.takeWhile(_.isDefined).flatten.toSeq
    }
    val got = TextOps.bpeMerges(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSeq.sortBy(_._1)
    assert(got === reference(40))
    // structural invariants: consecutive ranks, generalizing merges only
    assert(got.map(_._1) === (1 to got.length))
    assert(got.forall { case (_, l, r, m, c) => m == l + r && c >= 2 })
    // shifted param flows through (prefix property: BPE is greedy, so
    // fewer merges = a prefix of the same table)
    val short = TextOps.bpeMerges(spark, sf, nMerges = 5).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSeq.sortBy(_._1)
    assert(short === got.take(5))
  }

  test("bpeTokenize: per-doc counts equal a driver-side segmentation with the learned merges") {
    val merges = TextOps.bpeMerges(spark, sf).orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.nonEmpty)
    // independent segmentation (recursive rewrite) applied rank-ordered
    def rewrite(syms: List[String], l: String, r: String): List[String] = syms match {
      case a :: b :: rest if a == l && b == r => (l + r) :: rewrite(rest, l, r)
      case a :: rest => a :: rewrite(rest, l, r)
      case Nil => Nil
    }
    def seg(text: String): Seq[String] =
      text.trim.split("\\s+").toSeq.flatMap { w =>
        merges.foldLeft(w.toList.map(_.toString) :+ "</w>") {
          case (syms, (l, r)) => rewrite(syms, l, r)
        }
      }
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextOps.bpeTokenize(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    assert(got.keySet === docs.keySet)
    for ((id, text) <- docs) {
      val expect = seg(text)
      val (nBpe, nWords, ratio) = got(id)
      assert(nBpe === expect.length, s"doc $id")
      assert(nWords === text.trim.split("\\s+").length, s"doc $id")
      assert(math.abs(ratio - nBpe.toDouble / nWords) < 1e-3, s"doc $id")
    }
    // merges generalize: subwords per word must beat the no-merge
    // baseline (avg word length + 1) somewhere on the real corpus
    assert(got.values.exists(_._3 < 3.0))
  }

  test("bitextMarginAnn: set-equal to exact bitextMargin under the probed gate dial") {
    // the v5/Probe-lsh pattern: candidate pruning only affects recall,
    // the rescore is exact — at the Probe-verified (bitext family)
    // recall-complete dial the ANN output must be IDENTICAL to the
    // all-pairs baseline, margins, argmax, flag and all. Verify
    // re-probes this per run; here it gates sbt test too.
    val exact = Similarity.bitextMargin(spark, sf).collect()
      .map(_.mkString("|")).toSet
    val ann = Similarity.bitextMarginAnn(spark, sf, nprobe = 16, rerank = 232)
      .collect().map(_.mkString("|")).toSet
    assert(ann === exact)
    // shifted params flow through the ANN form identically
    val exactShift = Similarity.bitextMargin(spark, sf, k = 2, minMargin = 1.02)
      .collect().map(_.mkString("|")).toSet
    val annShift = Similarity.bitextMarginAnn(spark, sf, k = 2, minMargin = 1.02,
      nprobe = 16, rerank = 232).collect().map(_.mkString("|")).toSet
    assert(annShift === exactShift)
  }

  test("embeddingClusters: equals driver-side union-find; LSH source equals exact at the probed dial") {
    // independent reference: plain union-find over the collected exact
    // pair graph (different mechanism from componentsOf's min-label
    // propagation / min-root union)
    val pairEdges = Similarity.nearDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    for ((a, b) <- pairEdges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val allIds = Tables.embeddings(spark, sf).select("vec_id").collect().map(_.getLong(0))
    val want = allIds.map(id => id -> find(id)).toMap
    val got = Similarity.embeddingClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    // real clustering happened (some multi-member component) AND
    // singletons label themselves
    assert(got.exists { case (id, c) => id != c })
    assert(got.count { case (id, c) => id == c } > 0)
    // LSH pair source at v5's probed recall-complete dial (3 planes ×
    // 12 tables) yields the identical clustering
    val lsh = Similarity.embeddingClusters(spark, sf,
      lsh = true, nPlanes = 3, tables = 12).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lsh === got)
  }

  test("knnGraph: set-equal to the exact all-pairs graph under the probed gate dial") {
    val exact = Similarity.knnGraphExact(spark, sf).collect()
      .map(_.mkString("|")).toSet
    val ann = Similarity.knnGraph(spark, sf, nprobe = 16, rerank = 499)
      .collect().map(_.mkString("|")).toSet
    assert(ann === exact)
    // graph shape: one top-k block per vector, ranks 1..k, no self-loops
    val n = Tables.embeddings(spark, sf).count()
    assert(exact.size === n * 5)
    val rows = Similarity.knnGraph(spark, sf, nprobe = 16, rerank = 499).collect()
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)))
    assert(rows.groupBy(_.getLong(0)).forall { case (_, g) =>
      g.map(_.getInt(1)).sorted.toSeq == (1 to 5) })
  }

  test("knnGraph: production dials keep structure (ranks consecutive, no self-loops)") {
    val rows = Similarity.knnGraph(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)))
    assert(rows.groupBy(_.getLong(0)).forall { case (_, g) =>
      val ranks = g.map(_.getInt(1)).sorted.toSeq
      ranks == (1 to ranks.length)
    })
  }

  test("bitextMarginAnn: production dials prune but keep schema and per-src uniqueness") {
    // throughput dials (nprobe=4, rerank=64): recall is corpus-dependent
    // (near-random embeddings are the worst case) — assert structure,
    // not set equality: one row per surviving src, exact-rescored cos,
    // margins positive, src/tgt from the right parity sides
    val out = Similarity.bitextMarginAnn(spark, sf).collect()
    assert(out.nonEmpty)
    val srcIds = out.map(_.getLong(0))
    assert(srcIds.distinct.length === srcIds.length, "one row per src")
    assert(out.forall(r => r.getLong(0) % 2 == 0 && r.getLong(1) % 2 == 1))
    assert(out.forall(_.getDouble(3) > 0))
  }

  test("semDecontaminate: equals the brute-force cross reference at default and shifted params") {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
    def reference(evalN: Long, minCos: Double): Set[(Long, Long, Double, Long)] = {
      val evals = emb.filter(_._1 < evalN)
      emb.filter(_._1 >= evalN).flatMap { case (id, v) =>
        val hits = evals.map { case (e, ve) => (e, cos(v, ve)) }
          .filter(_._2 >= minCos)
        if (hits.isEmpty) None
        else {
          val best = hits.minBy { case (e, c) => (-c, e) }
          Some((id, hits.size.toLong, hits.map(_._2).max, best._1))
        }
      }.toSet
    }
    def run(evalN: Long, minCos: Double) =
      Similarity.semDecontaminate(spark, sf, evalN, minCos).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
    // exact equality incl. the cosine: both sides accumulate the same
    // doubles in array order (the v1/v3 cross-engine precedent)
    val got = run(50L, 0.4)
    assert(got === reference(50L, 0.4))
    assert(got.nonEmpty, "default gate profile must flag something")
    // shifted eval boundary and threshold exercise the non-default path
    assert(run(20L, 0.35) === reference(20L, 0.35))
  }

  test("hybridRrf: equals driver-side fusion of the two rank lists at default and shifted params") {
    def cosD(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
    def reference(terms: Seq[String], qv: Long, nLex: Int, nVec: Int,
                  rrfK: Int, topK: Int): Seq[(Int, Long, Option[Int], Option[Int], Double)] = {
      // lex leg: the bm25 operator itself (value-gated by its own
      // oracle/spec) — this spec pins the FUSION, not the scorer
      val lex = TextOps.bm25(spark, sf, terms, topK = nLex).collect()
        .map(r => r.getLong(1) -> r.getInt(0)).toMap
      val q = emb.find(_._1 == qv).get._2
      val vec = emb.filter(_._1 != qv)
        .map { case (id, v) => (id, cosD(v, q)) }
        .sortBy { case (id, c) => (-c, id) }
        .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }
        .filter(_._2 <= nVec).toMap
      (lex.keySet ++ vec.keySet).toSeq.map { id =>
        val rrf = BigDecimal(
          lex.get(id).map(r => 1.0 / (rrfK + r)).getOrElse(0.0) +
            vec.get(id).map(r => 1.0 / (rrfK + r)).getOrElse(0.0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, lex.get(id), vec.get(id), rrf)
      }.sortBy { case (id, _, _, rrf) => (-rrf, id) }
        .zipWithIndex.collect { case ((id, l, v, rrf), i) if i < topK =>
          (i + 1, id, l, v, rrf) }
    }
    def run(terms: Seq[String], qv: Long, nLex: Int, nVec: Int,
            rrfK: Int, topK: Int) =
      TextOps.hybridRrf(spark, sf, terms, qv, nLex, nVec, rrfK, topK).collect()
        .map(r => (r.getInt(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getInt(2)),
          if (r.isNullAt(3)) None else Some(r.getInt(3)),
          r.getDouble(4)))
    val got = run(Seq("hash", "join", "scan"), 0L, 50, 50, 60, 20)
    assert(got.toSeq === reference(Seq("hash", "join", "scan"), 0L, 50, 50, 60, 20))
    // both legs must actually contribute at the default profile
    assert(got.exists(_._3.isDefined) && got.exists(_._4.isDefined))
    val shifted = run(Seq("sort", "merge"), 7L, 30, 40, 10, 15)
    assert(shifted.toSeq === reference(Seq("sort", "merge"), 7L, 30, 40, 10, 15))
  }

  test("domainMix: integer largest-remainder quotas on a skewed mixture; undershoot surfaced") {
    import spark.implicits._
    // masses: a = 200×50 = 10000 (isqrt 100), b = 100×10 = 1000 (31),
    // c = 4×4 = 16 (4) — quotas must tilt toward a but keep b and c
    val docs = (
      (1 to 200).map(i => (i.toLong, "a", 50)) ++
      (201 to 300).map(i => (i.toLong, "b", 10)) ++
      (301 to 304).map(i => (i.toLong, "c", 4))).toDF("doc_id", "source", "n_toks")
    val avail = Map("a" -> 200L, "b" -> 100L, "c" -> 4L)
    def refQuota(budget: Long): Map[String, Long] = {
      val wt = Map("a" -> 100L, "b" -> 31L, "c" -> 4L)
      val s = wt.values.sum
      val base = wt.map { case (k, w) => k -> budget * w / s }
      val rem = wt.map { case (k, w) => k -> budget * w % s }
      val spill = budget - base.values.sum
      val bumped = rem.toSeq.sortBy { case (k, r) => (-r, k) }
        .take(spill.toInt).map(_._1).toSet
      base.map { case (k, q) => k -> (q + (if (bumped(k)) 1L else 0L)) }
    }
    // budget 200 pushes c's quota (200·4/135 = 5) past its 4 docs —
    // the undershoot branch actually triggers
    for (budget <- Seq(37, 200)) {
      val quota = refQuota(budget)
      assert(quota.values.sum === budget.toLong, "apportionment must be exact")
      val got = TextOps.domainMixOf(docs, budget).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
      val bySrc = got.groupBy(_._2)
      for ((s, q) <- quota) {
        assert(got.filter(_._2 == s).forall(_._4 == q), s"quota column for $s")
        // a source smaller than its quota contributes all it has — the
        // total undershoots rather than silently re-weighting
        assert(bySrc.get(s).map(_.length.toLong).getOrElse(0L) ===
          math.min(q, avail(s)), s"sample size for $s at budget $budget")
      }
      // ranks are the md5 bottom-k: contiguous from 1 within each source
      for ((s, rows) <- bySrc)
        assert(rows.map(_._3).sorted === (1 to rows.length).toArray.toSeq, s"ranks for $s")
      assert(got.map(_._1).distinct.length === got.length)
    }
    // deterministic: same sample on re-run
    val a = TextOps.domainMixOf(docs, 37).collect().map(_.toSeq).toSet
    assert(a === TextOps.domainMixOf(docs, 37).collect().map(_.toSeq).toSet)
  }

  test("d16 span_dedup == driver-side reference; removal set is exactly the dup-window cover") {
    import spark.implicits._
    val k = 8
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    def toks(t: String): Array[String] = t.trim.split("\\s+")
    // reference: windows with positions (tail truncated), cross-doc dup
    // grams, covered positions, ordered rebuild — independent code path
    val wins = docs.flatMap { case (id, t) =>
      val a = toks(t)
      (0 to math.max(a.length - k, 0)).map(s =>
        (id, s, a.slice(s, s + k).mkString(" ")))
    }
    val dup = wins.map { case (id, _, g) => (g, id) }.distinct
      .groupBy(_._1).collect { case (g, ds) if ds.length >= 2 => g }.toSet
    val covered = wins.filter(w => dup(w._3)).flatMap { case (id, s, _) =>
      val n = toks(docs.find(_._1 == id).get._2).length
      (s until math.min(s + k, n)).map(p => (id, p))
    }.toSet
    val expect = docs.map { case (id, t) =>
      val a = toks(t)
      val kept = a.indices.filterNot(p => covered((id, p))).map(a)
      (id, (a.length.toLong, (a.length - kept.length).toLong, kept.mkString(" ")))
    }.toMap
    val got = Dedup.spanDedup(spark, sf, k)
      .as[(Long, Long, Long, String)].collect()
    assert(got.length === docs.length, "one row per document")
    got.foreach { case (id, nt, nr, txt) =>
      val (ent, enr, etxt) = expect(id)
      assert(nt === ent && nr === enr && txt === etxt, s"doc $id")
    }
    // the corpus must actually exercise removal (planted near-dups share
    // long spans) AND keep most docs untouched
    assert(got.count(_._3 > 0) > 0, "no spans removed — corpus assumption broken")
    assert(got.count(_._3 == 0) > 0, "everything removed — corpus assumption broken")
    // consistency with d11: a doc loses tokens iff d11 sees dup windows
    val d11 = Dedup.exactSubstring(spark, sf, k)
      .select("doc_id", "n_dup").as[(Long, Long)].collect().toMap
    got.foreach { case (id, _, nr, _) =>
      assert((nr > 0) === (d11(id) > 0), s"d11/d16 disagree on doc $id")
    }
  }

  test("d16 span_dedup: planted duplicate span is excised, unique text survives") {
    import spark.implicits._
    val span = (1 to 8).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $span delta"),
      (2L, s"$span epsilon zeta eta theta iota kappa"),
      (3L, "nothing shared here at all in this row")).toDF("doc_id", "text")
    val out = Dedup.spanDedupOn(docs, 8)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 12L, 8L, "alpha beta gamma delta")))
    assert(out(1) === ((2L, 14L, 8L, "epsilon zeta eta theta iota kappa")))
    assert(out(2)._3 === 0L && out(2)._4 === "nothing shared here at all in this row")
  }

  test("t30 dsir_sample == driver-side reference: weights, Gumbel keys, and the top-k cut") {
    import spark.implicits._
    val nBuckets = 1024
    val budget = 100
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
    def md5hex8(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    def bigrams(t: String): Seq[String] = {
      val a = t.trim.split("\\s+")
      (0 to math.max(a.length - 2, 0)).map(s => a.slice(s, s + 2).mkString(" "))
    }
    // reference: bucket histograms, smoothed log-ratio weights, keys
    val featsByDoc = docs.map { case (id, src, t) =>
      (id, src, bigrams(t).map(b => (md5hex8(b) % nBuckets).toInt))
    }
    val ct = scala.collection.mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    val cr = scala.collection.mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    featsByDoc.foreach { case (_, src, fs) => fs.foreach { f =>
      if (src == "src0") ct(f) += 1
      cr(f) += 1
    } }
    val (totT, totR) = (ct.values.sum, cr.values.sum)
    val ref = featsByDoc.map { case (id, src, fs) =>
      val logW = fs.map(f =>
        math.log((ct(f) + 1).toDouble / (totT + nBuckets)) -
          math.log((cr(f) + 1).toDouble / (totR + nBuckets))).sum
      val u = (md5hex8(id.toString).toDouble + 0.5) / 4294967296.0
      (id, src, fs.length.toLong, logW, logW - math.log(-math.log(u)))
    }
    val expTop = ref.sortBy { case (id, _, _, _, key) => (-key, id) }.take(budget)
    val got = TextOps.dsirSample(spark, sf)
      .as[(Long, Long, Double, Double)].collect()
    assert(got.length === budget)
    // same docs in the same key order, same values to the rounding grain
    got.zip(expTop).foreach { case ((id, nf, lw, key), (eid, _, enf, elw, ekey)) =>
      assert(id === eid, s"sample membership/order diverges at doc $id vs $eid")
      assert(nf === enf)
      assert(math.abs(lw - elw) < 1e-6, s"log_w for doc $id")
      assert(math.abs(key - ekey) < 1e-6, s"sample key for doc $id")
    }
    // importance weighting must favor the target's own docs: mean log_w
    // of src0 docs above the corpus mean (the DSIR selection pressure)
    val srcMean = ref.filter(_._2 == "src0").map(_._4).sum /
      ref.count(_._2 == "src0")
    val allMean = ref.map(_._4).sum / ref.length
    assert(srcMean > allMean,
      "target-source docs should carry above-average importance weight")
    // deterministic: identical sample on re-run
    val again = TextOps.dsirSample(spark, sf)
      .as[(Long, Long, Double, Double)].collect()
    assert(got.toSeq === again.toSeq)
  }

  test("t29 nb_quality == driver-side NB reference; seed classes separate on their own docs") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
    def toks(t: String): Array[String] = t.trim.split("\\s+")
    val seedCounts = scala.collection.mutable.HashMap
      .empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    docs.foreach { case (_, src, t) =>
      if (src == "src0" || src == "src1") toks(t).foreach { w =>
        val (p, n) = seedCounts(w)
        seedCounts(w) = if (src == "src0") (p + 1, n) else (p, n + 1)
      }
    }
    val totP = seedCounts.valuesIterator.map(_._1).sum
    val totN = seedCounts.valuesIterator.map(_._2).sum
    val v = seedCounts.size.toLong
    val expect = docs.map { case (id, _, t) =>
      val ts = toks(t)
      val s = ts.map { w =>
        val (cp, cn) = seedCounts(w)
        math.log((cp + 1).toDouble / (totP + v)) -
          math.log((cn + 1).toDouble / (totN + v))
      }.sum / ts.length
      (id, (ts.length.toLong, s))
    }.toMap
    val got = TextOps.nbQuality(spark, sf)
      .as[(Long, Long, Double, Boolean)].collect()
    assert(got.length === docs.length)
    got.foreach { case (id, nt, score, keep) =>
      val (ent, eScore) = expect(id)
      assert(nt === ent, s"token count for doc $id")
      assert(math.abs(score - eScore) < 1e-6, s"score for doc $id: $score vs $eScore")
      assert(keep === (score > 0), s"keep flag for doc $id")
    }
    // on its own training docs the classifier must separate the classes
    val bySrc = docs.map { case (id, src, _) => id -> src }.toMap
    val posScores = got.collect { case (id, _, s, _) if bySrc(id) == "src0" => s }
    val negScores = got.collect { case (id, _, s, _) if bySrc(id) == "src1" => s }
    assert(posScores.nonEmpty && negScores.nonEmpty, "both seed classes present")
    assert(posScores.sum / posScores.length > negScores.sum / negScores.length,
      "NB must score its own positive class higher on average")
  }

  test("t31 gopher fracs == driver-side reference, incl. the dup-5/8 branch the corpus never hits") {
    import spark.implicits._
    val docs = Seq(
      // heavy loop: "x y z" repeated — duplicated 5- and 8-grams exist
      (1L, Array.fill(6)("x y z").mkString(" ")),
      (2L, "alpha beta alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three"), // shorter than 5 and 8 tokens: single clamped window
      (4L, "solo")).toDF("doc_id", "text")
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = docs.as[(Long, String)].collect().map { case (id, text) =>
      val a = text.trim.split("\\s+")
      val byN = Seq(2, 3, 4, 5, 8).map { n =>
        val counts = (0 to math.max(a.length - n, 0))
          .map(i => a.slice(i, i + n).mkString(" "))
          .groupBy(identity).map { case (g, o) => (g, o.size) }
        val topCov = counts.map { case (g, c) => c.toLong * g.length }.max
        val dupCov = counts.collect { case (g, c) if c >= 2 => c.toLong * g.length }.sum
        n -> ((round6(topCov.toDouble / text.length), round6(dupCov.toDouble / text.length)))
      }.toMap
      id -> byN
    }.toMap
    val got = TextOps.gopherNgramFracsOf(docs)
      .as[(Long, Double, Double, Double, Double, Double)].collect()
    assert(got.length === 4)
    got.foreach { case (id, t2, t3, t4, d5, d8) =>
      assert(t2 === expect(id)(2)._1, s"top2 doc $id")
      assert(t3 === expect(id)(3)._1, s"top3 doc $id")
      assert(t4 === expect(id)(4)._1, s"top4 doc $id")
      assert(d5 === expect(id)(5)._2, s"dup5 doc $id")
      assert(d8 === expect(id)(8)._2, s"dup8 doc $id")
    }
    // the synthetic loop doc must actually exercise the dup branch
    val loop = got.find(_._1 == 1L).get
    assert(loop._5 > 0.5 && loop._6 > 0.5, "doc 1 duplicated 5/8-grams cover most chars")
  }

  test("t32/t33 unigram: model invariants, learned compression, and corpus round-trip") {
    import spark.implicits._
    val model = TextOps.unigramPieces(spark, sf)
      .as[(String, Long, Double)].collect()
    assert(model.nonEmpty && model.forall(_._2 > 0), "no zero-count pieces survive")
    // every single code point of the corpus is in the vocabulary (coverage
    // guarantee: any word always segments)
    val singles = model.map(_._1).filter(_.length == 1).toSet
    val corpusChars = Tables.documents(spark, sf).select("text").as[String].collect()
      .flatMap(_.trim.split("\\s+")).flatMap(_.map(_.toString)).toSet
    assert(corpusChars.subsetOf(singles), "all corpus code points kept")
    // log-probs are the normalized kept-vocab distribution (6 dp)
    val tot = model.map(_._2).sum.toDouble
    model.foreach { case (p, c, lp) =>
      assert(math.abs(lp - math.log(c / tot)) < 5e-7, s"logprob of '$p'") }
    // the corpus repeats a small word set heavily — EM must learn
    // multi-character pieces, and tokenizing the training corpus with
    // them must compress below the character baseline
    assert(model.exists(_._1.length > 1), "multi-char pieces learned")
    val tok = TextOps.unigramTokenize(spark, sf)
      .as[(Long, Int, Int, Double)].collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    tok.foreach { case (id, np, nw, ppw) =>
      val words = docs(id).trim.split("\\s+")
      assert(nw === words.length, s"word count doc $id")
      assert(np >= nw, s"every word yields at least one piece, doc $id")
      assert(np < words.map(_.length).sum,
        s"pieces beat the char baseline on the training corpus, doc $id")
      assert(ppw === BigDecimal(np.toDouble / math.max(nw, 1))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, s"ratio doc $id")
    }
  }
}
