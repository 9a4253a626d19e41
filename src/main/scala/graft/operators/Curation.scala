package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composition proof that the
  * operator families form a usable training-data pipeline, not isolated
  * queries: quality filter (t10) ∩ near-dup keep-best survivors (d8) ∩
  * decontamination (t12) → curated corpus, written range-clustered by
  * doc_id ([[graft.sources.Layout]]) so downstream readers slice it by
  * id range for free.
  *
  * Each stage is the already-gate-checked operator; curation combines
  * their DECISIONS via left-semi joins on doc_id (three id-only
  * relations — at 100 TB the decision sets are a small fraction of
  * corpus bytes, and the payload-carrying `documents` relation is
  * scanned once at the end). Eval documents (doc_id < evalN) are
  * excluded by construction — they are the decontamination REFERENCE,
  * never training data.
  */
object Curation {

  /** Run the pipeline, write the curated corpus to `outDir`
    * (range-clustered parquet), return the per-stage funnel summary
    * (stage, n_docs) for reporting/monitoring. */
  def curate(spark: SparkSession, dir: String, outDir: String,
             evalN: Long = 50): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val quality = TextOps.filterDecision(spark, dir)
      .filter(col("keep")).select(col("doc_id"))
    val survivors = Dedup.keepBest(spark, dir)
      .select(col("keep_id").as("doc_id"))
    val clean = TextOps.decontaminate(spark, dir, evalN)
      .filter(!col("contaminated")).select(col("doc_id"))
    val curated = docs
      .join(quality, Seq("doc_id"), "left_semi")
      .join(survivors, Seq("doc_id"), "left_semi")
      .join(clean, Seq("doc_id"), "left_semi")
    graft.sources.Layout.writeRangeClustered(curated, outDir, Seq("doc_id"))
    // funnel counts are monitoring output, not a hot path — each is one
    // id-relation action (the written corpus count reads the output
    // back: it reports what was PERSISTED, not what was planned)
    Seq(
      "total" -> docs.count(),
      "quality_keep" -> quality.count(),
      "dedup_survivors" -> survivors.count(),
      "decontaminated_clean" -> clean.count(),
      "curated_written" -> spark.read.parquet(outDir).count())
      .toDF("stage", "n_docs")
  }

  /** The FULL training-data recipe — [[curate]]'s filter ∩ dedup ∩
    * decontaminate composition extended through selection and
    * materialization: the per-language quality-quantile band (t15)
    * joins the decision set; the stratified sample (t14's core) then
    * draws `quota` docs per language FROM THE CURATED SET (sampling
    * after filtering, so strata fill with surviving docs); and the
    * final selection is packed into fixed-token-budget training
    * sequences (t16's core) — the relation a trainer actually reads.
    * Writes the packed assignment to `outDir` range-clustered by
    * (grp, bin) so a trainer's sequence reader slices bins for free;
    * returns the funnel summary.
    *
    * Scale shape: unchanged from the parts — decision sets are id-only
    * relations combined by semi-joins; the sample is a per-stratum
    * WindowGroupLimit over the curated ids; only the final ≤
    * strata × quota selection carries text into the packing windows. */
  def curateFull(spark: SparkSession, dir: String, outDir: String,
                 evalN: Long = 50, keepFrac: Double = 0.5,
                 quota: Int = 20, budget: Int = 512,
                 nGroups: Int = 8): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // the 4-decision composition is the expensive part of the recipe;
    // persist its (doc_id, lang) projection so the funnel counts, the
    // sample, and the packed write all read ONE evaluation of it
    // (id+lang only — tiny relative to corpus bytes). Explicit persist
    // rather than ScratchCache.arm: this method runs several actions
    // over the relation, and arm() sweeps after the first.
    val curatedIds = fullCuratedIds(spark, dir, evalN, keepFrac)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sampled = TextOps.stratifiedSampleOf(curatedIds, quota)
        .select(col("doc_id"))
      val selection = docs.join(sampled, Seq("doc_id"), "left_semi")
      val packed = TextOps.packSequencesOf(selection, budget, nGroups)
      graft.sources.Layout.writeRangeClustered(packed, outDir, Seq("grp", "bin"))
      Seq(
        "total" -> docs.count(),
        "curated" -> curatedIds.count(),
        "sampled" -> sampled.count(),
        "packed_written" -> spark.read.parquet(outDir).count())
        .toDF("stage", "n_docs")
    } finally curatedIds.unpersist(blocking = false)
  }

  /** [[curateFull]]'s decision composition as an id relation
    * (doc_id, lang): rule filter (t10) ∩ keep-best (d8) ∩
    * decontamination (t12) ∩ per-language quality-quantile band (t15).
    * Shared by [[curateFull]] and [[curateFullPacked]] (the q35 gate
    * form) so the two cannot drift. */
  private def fullCuratedIds(spark: SparkSession, dir: String,
                             evalN: Long, keepFrac: Double): DataFrame = {
    // shared fanned corpus relation across the text-consuming decision
    // sides — the llmCuratedDocs rationale (one scan + one reused
    // exchange instead of four private single-task re-scans)
    val docs = Tables.documents(spark, dir)
    val docsF = Tables.documentsFanned(spark, dir)
    // the eval-gram set is collected first: keepBest arms scratch
    // relations, and an action run after arming may sweep them
    val evalSet = TextOps.evalGramSet(docs, evalN)
    val quality = TextOps.filterDecisionOn(docsF)
      .filter(col("keep")).select(col("doc_id"))
    val survivors = Dedup.keepBest(spark, dir)
      .select(col("keep_id").as("doc_id"))
    val clean = TextOps.decontaminateOn(docsF.filter(col("doc_id") >= evalN), evalSet)
      .filter(!col("contaminated")).select(col("doc_id"))
    val band = TextOps.quantileFilterOn(docsF, keepFrac)
      .select(col("doc_id"))
    docs.select(col("doc_id"), col("lang"))
      .join(quality, Seq("doc_id"), "left_semi")
      .join(survivors, Seq("doc_id"), "left_semi")
      .join(clean, Seq("doc_id"), "left_semi")
      .join(band, Seq("doc_id"), "left_semi")
  }

  /** q35: [[curateFull]] as a pure relation for the correctness gate —
    * the q34 treatment applied to the selection-centric recipe: the
    * packed training-sequence assignment of filter ∩ dedup ∩
    * decontaminate ∩ quantile band → per-language stratified sample OF
    * THE SURVIVORS → fixed-budget packing of the ORIGINAL text.
    * Membership pins all four decisions and the per-stratum sample
    * cut; (grp, n_tokens, start_off, bin) pin the packing.
    *
    * The DuckDB oracle hard-codes the defaults; non-default invocations
    * are NOT gate-checked. */
  def curateFullPacked(spark: SparkSession, dir: String,
                       evalN: Long = 50, keepFrac: Double = 0.5,
                       quota: Int = 20, budget: Int = 512,
                       nGroups: Int = 8): DataFrame = {
    val curatedIds = graft.ScratchCache.arm(
      fullCuratedIds(spark, dir, evalN, keepFrac))
    val sampled = TextOps.stratifiedSampleOf(curatedIds, quota)
      .select(col("doc_id"))
    val selection = Tables.documents(spark, dir)
      .join(sampled, Seq("doc_id"), "left_semi")
    TextOps.packSequencesOf(selection, budget, nGroups)
  }

  /** The MODERN LLM-pretraining recipe — [[curateFull]]'s composition
    * upgraded with the round-8 operators, in the order production
    * pipelines run them: rule filter (t10) ∩ near-dup keep-best (d8) ∩
    * decontamination (t12) ∩ **trained quality classifier** (t29) →
    * **exact-substring span removal** (d16, computed among the
    * survivors so cross-doc spans duplicated within the retained set
    * are excised; docs deduplicated down to nothing drop out) →
    * **DSIR importance resampling** (t30's core, target-vs-survivor
    * distributions — selection AFTER filtering, the curateFull
    * convention) → fixed-budget sequence packing (t16) of the CLEANED
    * text, written range-clustered by (grp, bin).
    *
    * Scale shape: unchanged from the parts — decisions are id-only
    * semi-joins; the span rewrite and DSIR scoring run once over the
    * persisted survivor relation; only the ≤ `budget` selection
    * carries cleaned text into the packing windows. */
  def curateLlm(spark: SparkSession, dir: String, outDir: String,
                evalN: Long = 50, targetSource: String = "src0",
                budget: Int = 100, packBudget: Int = 512,
                nGroups: Int = 8): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // survivors carry text (span-dedup AND dsir both read it) — persist
    // the full rows; several actions run over this relation
    val curated = llmCuratedDocs(spark, dir, evalN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (cleaned, sampled, packed) =
        llmStages(curated, targetSource, budget, packBudget, nGroups)
      graft.sources.Layout.writeRangeClustered(packed, outDir, Seq("grp", "bin"))
      Seq(
        "total" -> docs.count(),
        "curated" -> curated.count(),
        "span_cleaned_nonempty" -> cleaned.count(),
        "dsir_sampled" -> sampled.count(),
        "packed_written" -> spark.read.parquet(outDir).count())
        .toDF("stage", "n_docs")
    } finally curated.unpersist(blocking = false)
  }

  /** [[curateLlm]]'s decision composition as a relation: the full
    * `documents` rows surviving rule filter (t10) ∩ near-dup keep-best
    * (d8) ∩ decontamination (t12) ∩ NB classifier (t29). Shared by
    * [[curateLlm]] (which persists it across the funnel actions) and
    * [[curateLlmPacked]] (the gate form, which arms it) so the two can
    * never drift. */
  private[graft] def llmCuratedDocs(spark: SparkSession, dir: String,
                             evalN: Long): DataFrame = {
    // ONE fanned corpus relation feeds the text-carrying side AND every
    // text-consuming decision side (r19): all subtrees share the
    // identical scan + fan-out exchange, so the physical plan computes
    // the corpus scan once and reuses the exchange (ReusedExchange)
    // instead of four private single-task re-scans — and each side's
    // tokenize/gram explode runs fanned. (r18 kept the decision sides
    // on plain scans because fanning them as STANDALONE queries paid a
    // per-query exchange; inside this one composed plan the exchange is
    // paid once and shared.) keepBest stays on its own path — its pair
    // graph is memoized (d7) and its shingle side is already fanned.
    val docsF = Tables.documentsFanned(spark, dir)
    // the driver-built verdict tables are collected first: keepBest arms
    // scratch relations, and an action run after arming may sweep them
    val docs = Tables.documents(spark, dir)
    val evalSet = TextOps.evalGramSet(docs, evalN)
    val nb = TextOps.nbTable(TextOps.nbModelOn(docs))
    val quality = TextOps.filterDecisionOn(docsF)
      .filter(col("keep")).select(col("doc_id"))
    val survivors = Dedup.keepBest(spark, dir)
      .select(col("keep_id").as("doc_id"))
    val clean = TextOps.decontaminateOn(docsF.filter(col("doc_id") >= evalN), evalSet)
      .filter(!col("contaminated")).select(col("doc_id"))
    val classified = TextOps.nbScoreOf(docsF, nb)
      .filter(col("keep")).select(col("doc_id"))
    docsF
      .join(quality, Seq("doc_id"), "left_semi")
      .join(survivors, Seq("doc_id"), "left_semi")
      .join(clean, Seq("doc_id"), "left_semi")
      .join(classified, Seq("doc_id"), "left_semi")
  }

  /** The transform/select/pack tail of the recipe over a (persisted)
    * curated relation: span removal (d16, among survivors) → DSIR
    * Gumbel-top-`budget` selection (t30) → fixed-budget packing (t16)
    * of the CLEANED text. Returns (cleaned, sampled, packed). */
  private def llmStages(curated: DataFrame, targetSource: String,
                        budget: Int, packBudget: Int,
                        nGroups: Int): (DataFrame, DataFrame, DataFrame) = {
    val cleaned = Dedup.spanDedupOn(curated, 8)
      .filter(col("dedup_text") =!= "") // fully-copied docs drop out
    val sampled = TextOps.dsirSampleOf(curated, targetSource, 1024, budget)
      .select(col("doc_id"))
    val selection = cleaned.join(sampled, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("dedup_text").as("text"))
    (cleaned, sampled, TextOps.packSequencesOf(selection, packBudget, nGroups))
  }

  /** q34: [[curateLlm]] as a pure relation for the correctness gate —
    * the packed training-sequence assignment (doc_id, grp, n_tokens,
    * start_off, bin) of the end-to-end recipe, with no side-effect
    * write. One row per selected document; hash-matching this relation
    * pins the ENTIRE funnel: membership pins all four decision stages
    * and the DSIR top-`budget` cut, n_tokens pins the span removal
    * (counts are over the REBUILT text), and (grp, start_off, bin) pin
    * the packing arithmetic.
    *
    * The DuckDB oracle hard-codes the defaults; non-default invocations
    * are NOT gate-checked. */
  def curateLlmPacked(spark: SparkSession, dir: String,
                      evalN: Long = 50, targetSource: String = "src0",
                      budget: Int = 100, packBudget: Int = 512,
                      nGroups: Int = 8): DataFrame = {
    val curated = graft.ScratchCache.arm(llmCuratedDocs(spark, dir, evalN))
    val (_, _, packed) = llmStages(curated, targetSource, budget, packBudget, nGroups)
    packed
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q34_curate_llm" -> ((s, d) => curateLlmPacked(s, d)),
    "q35_curate_full" -> ((s, d) => curateFullPacked(s, d)))

  /** The t10 ∩ d7/d8 ∩ t12 decision CTEs both composition oracles
    * share — each stage's SQL verbatim from its own oracle (a drift
    * between this prefix and a stage oracle would be a copy error, not
    * a semantic fork). Ends at `cleanids`; q34 appends the t29
    * classifier + d16/t30 tail, q35 the t15 band + t14 sample tail. */
  private def decisionCtes: String =
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |         list_distinct([array_to_string(t[i+1:i+3], ' ')
       |                        FOR i IN range(0, GREATEST(LEN(t)-3, 0) + 1)]) AS shingles
       |  FROM toks),
       |inv AS (
       |  SELECT doc_id, LEN(shingles) AS n_sh, UNNEST(shingles) AS s FROM sh),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
       |         COUNT(*) AS n_common
       |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1,2,3,4),
       |edges AS (
       |  SELECT id_a, id_b FROM pairs
       |  WHERE n_common / CAST(n_a + n_b - n_common AS DOUBLE) >= ${Dedup.ngramMinJ}
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs
       |  WHERE n_common / CAST(n_a + n_b - n_common AS DOUBLE) >= ${Dedup.ngramMinJ}),
       |reach AS (
       |  SELECT doc_id AS src, doc_id AS dst FROM documents
       |  UNION
       |  SELECT r.src, e.id_b FROM reach r JOIN edges e ON r.dst = e.id_a),
       |clusters AS (
       |  SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
       |q AS (
       |  SELECT doc_id, LEN(list_distinct(t)) / CAST(LEN(t) AS DOUBLE) AS quality
       |  FROM toks),
       |rk AS (
       |  SELECT c.doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
       |                            ORDER BY q.quality DESC, c.doc_id) AS rn
       |  FROM clusters c JOIN q USING (doc_id)),
       |survivors AS (SELECT doc_id FROM rk WHERE rn = 1),
       |tok AS (SELECT doc_id, UNNEST(t) AS tok FROM toks),
       |tc AS (SELECT doc_id, tok, COUNT(*) AS n FROM tok GROUP BY 1, 2),
       |rep AS (
       |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
       |         MAX(n) / CAST(SUM(n) AS DOUBLE) AS max_tok_frac
       |  FROM tc GROUP BY 1),
       |sw AS (
       |  SELECT doc_id,
       |         LEN(list_filter(t, x -> x IN ('a','the')))
       |           / CAST(LEN(t) AS DOUBLE) AS stopword_ratio
       |  FROM toks),
       |keepq AS (
       |  SELECT r.doc_id FROM rep r JOIN sw s USING (doc_id)
       |  WHERE r.n_tokens >= 15 AND r.max_tok_frac <= 0.15
       |    AND s.stopword_ratio <= 0.15),
       |g5 AS (
       |  SELECT doc_id,
       |         UNNEST(list_distinct([array_to_string(t[i+1:i+5], ' ')
       |                               FOR i IN range(0, GREATEST(LEN(t)-5, 0) + 1)])) AS gram
       |  FROM toks),
       |eg AS (SELECT DISTINCT gram FROM g5 WHERE doc_id < 50),
       |contam AS (
       |  SELECT DISTINCT g5.doc_id FROM g5 JOIN eg USING (gram)
       |  WHERE g5.doc_id >= 50),
       |cleanids AS (
       |  SELECT doc_id FROM documents
       |  WHERE doc_id >= 50
       |    AND doc_id NOT IN (SELECT doc_id FROM contam))""".stripMargin

  /** The composition oracles are CTE chains of the already-gated
    * per-stage oracles ([[decisionCtes]] + each recipe's tail), each
    * stage's SQL verbatim with the input relation swapped for the
    * previous stage's output. Constants interpolated from the same
    * defaults the operators use. */
  val oracle: Map[String, String] = Map(
    "q35_curate_full" ->
      s"""$decisionCtes,
         |band AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id,
         |           PERCENT_RANK() OVER (PARTITION BY lang
         |             ORDER BY LEN(list_distinct(string_split_regex(TRIM(text), '\\s+')))
         |                      / CAST(LEN(string_split_regex(TRIM(text), '\\s+')) AS DOUBLE),
         |               doc_id) AS pr
         |    FROM documents)
         |  WHERE pr >= 0.5),
         |curated AS (
         |  SELECT doc_id, lang FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM keepq)
         |    AND doc_id IN (SELECT doc_id FROM survivors)
         |    AND doc_id IN (SELECT doc_id FROM cleanids)
         |    AND doc_id IN (SELECT doc_id FROM band)),
         |sampled AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id,
         |           ROW_NUMBER() OVER (PARTITION BY lang
         |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |    FROM curated)
         |  WHERE rk <= 20),
         |pt AS (
         |  SELECT doc_id,
         |         LEN(string_split_regex(TRIM(text), '\\s+')) AS n_tokens,
         |         md5(CAST(doc_id AS VARCHAR)) AS rk_key
         |  FROM documents JOIN sampled USING (doc_id)),
         |pg AS (
         |  SELECT *, CAST(CAST('0x' || substr(rk_key, 1, 8) AS BIGINT) % 8
         |                 AS INTEGER) AS grp
         |  FROM pt),
         |pc AS (
         |  SELECT doc_id, grp, n_tokens,
         |         CAST(SUM(n_tokens) OVER (PARTITION BY grp
         |                                  ORDER BY rk_key, doc_id
         |                                  ROWS UNBOUNDED PRECEDING)
         |              - n_tokens AS BIGINT) AS start_off
         |  FROM pg)
         |SELECT doc_id, grp, n_tokens, start_off,
         |       CAST(start_off // 512 AS INTEGER) AS bin
         |FROM pc""".stripMargin,
    "q34_curate_llm" ->
      s"""$decisionCtes,
         |nbm AS (
         |  SELECT tc.tok,
         |         CAST(SUM(CASE WHEN d.source = 'src0' THEN tc.n ELSE 0 END) AS BIGINT) AS cp,
         |         CAST(SUM(CASE WHEN d.source = 'src1' THEN tc.n ELSE 0 END) AS BIGINT) AS cn
         |  FROM tc JOIN documents d USING (doc_id)
         |  WHERE d.source IN ('src0', 'src1') GROUP BY 1),
         |nbs AS (
         |  SELECT CAST(SUM(cp) AS BIGINT) AS tot_p, CAST(SUM(cn) AS BIGINT) AS tot_n,
         |         CAST(COUNT(*) AS BIGINT) AS vocab FROM nbm),
         |classified AS (
         |  SELECT tc.doc_id FROM tc LEFT JOIN nbm USING (tok), nbs
         |  GROUP BY tc.doc_id
         |  HAVING ROUND(SUM(tc.n * (ln((COALESCE(nbm.cp, 0) + 1)
         |                               / CAST(nbs.tot_p + nbs.vocab AS DOUBLE))
         |                          - ln((COALESCE(nbm.cn, 0) + 1)
         |                               / CAST(nbs.tot_n + nbs.vocab AS DOUBLE))))
         |               / SUM(tc.n), 6) > 0),
         |curated AS (
         |  SELECT doc_id FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM keepq)
         |    AND doc_id IN (SELECT doc_id FROM survivors)
         |    AND doc_id IN (SELECT doc_id FROM cleanids)
         |    AND doc_id IN (SELECT doc_id FROM classified)),
         |ctoks AS (SELECT toks.* FROM toks JOIN curated USING (doc_id)),
         |w8 AS (
         |  SELECT doc_id, LEN(t) AS nt,
         |         UNNEST([{'s': i, 'g': array_to_string(t[i+1:i+8], ' ')}
         |                 FOR i IN range(0, GREATEST(LEN(t)-8, 0) + 1)],
         |                recursive := true)
         |  FROM ctoks),
         |dg AS (
         |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM w8)
         |  GROUP BY g HAVING COUNT(*) >= 2),
         |cov AS (
         |  SELECT DISTINCT w8.doc_id, UNNEST(range(w8.s, LEAST(w8.s + 8, w8.nt))) AS p
         |  FROM w8 JOIN dg ON w8.g = dg.g),
         |tokpos AS (
         |  SELECT doc_id, UNNEST([{'p': i, 'tok': t[i+1]}
         |                         FOR i IN range(0, LEN(t))],
         |                        recursive := true)
         |  FROM ctoks),
         |kept AS (
         |  SELECT tokpos.doc_id, tokpos.p, tokpos.tok
         |  FROM tokpos LEFT JOIN cov
         |    ON tokpos.doc_id = cov.doc_id AND tokpos.p = cov.p
         |  WHERE cov.p IS NULL),
         |rebuilt AS (
         |  SELECT doc_id, STRING_AGG(tok, ' ' ORDER BY p) AS dedup_text
         |  FROM kept GROUP BY doc_id),
         |cbg AS (
         |  SELECT ctoks.doc_id, d.source,
         |         UNNEST([array_to_string(t[i+1:i+2], ' ')
         |                 FOR i IN range(0, GREATEST(LEN(t)-2, 0) + 1)]) AS bg
         |  FROM ctoks JOIN documents d USING (doc_id)),
         |dtf AS (
         |  SELECT doc_id, source,
         |         CAST(CAST('0x' || substr(md5(bg), 1, 8) AS BIGINT) % 1024 AS INTEGER) AS f,
         |         COUNT(*) AS n
         |  FROM cbg GROUP BY 1, 2, 3),
         |hist AS (
         |  SELECT f,
         |         CAST(SUM(CASE WHEN source = 'src0' THEN n ELSE 0 END) AS BIGINT) AS ct,
         |         CAST(SUM(n) AS BIGINT) AS cr
         |  FROM dtf GROUP BY 1),
         |tots AS (SELECT CAST(SUM(ct) AS BIGINT) AS tot_t,
         |                CAST(SUM(cr) AS BIGINT) AS tot_r FROM hist),
         |wts AS (
         |  SELECT dtf.doc_id,
         |         SUM(dtf.n * (ln((hist.ct + 1) / CAST(tots.tot_t + 1024 AS DOUBLE))
         |                    - ln((hist.cr + 1) / CAST(tots.tot_r + 1024 AS DOUBLE)))) AS log_w
         |  FROM dtf JOIN hist USING (f), tots GROUP BY dtf.doc_id),
         |keyed AS (
         |  SELECT doc_id,
         |         log_w + (-ln(-ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) + 0.5)
         |                          / 4294967296.0))) AS key
         |  FROM wts),
         |sampled AS (SELECT doc_id FROM keyed ORDER BY key DESC, doc_id LIMIT 100),
         |pt AS (
         |  SELECT doc_id,
         |         LEN(string_split_regex(TRIM(dedup_text), '\\s+')) AS n_tokens,
         |         md5(CAST(doc_id AS VARCHAR)) AS rk_key
         |  FROM rebuilt JOIN sampled USING (doc_id)),
         |pg AS (
         |  SELECT *, CAST(CAST('0x' || substr(rk_key, 1, 8) AS BIGINT) % 8
         |                 AS INTEGER) AS grp
         |  FROM pt),
         |pc AS (
         |  SELECT doc_id, grp, n_tokens,
         |         CAST(SUM(n_tokens) OVER (PARTITION BY grp
         |                                  ORDER BY rk_key, doc_id
         |                                  ROWS UNBOUNDED PRECEDING)
         |              - n_tokens AS BIGINT) AS start_off
         |  FROM pg)
         |SELECT doc_id, grp, n_tokens, start_off,
         |       CAST(start_off // 512 AS INTEGER) AS bin
         |FROM pc""".stripMargin)
}
