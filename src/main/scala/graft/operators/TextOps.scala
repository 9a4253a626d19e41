package graft.operators

import graft.{ScratchCache, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines, over
  * the `documents` table (doc_id, text, lang, source, n_chars). All are
  * narrow, per-row column expressions — fully codegen'd, no UDFs, no
  * shuffle except where aggregation is inherent — so they scale linearly
  * with input splits at 100 TB.
  */
object TextOps {

  /** Tokenize on whitespace. Shared definition (used by Dedup too) so
    * every operator and its oracle agree on token boundaries. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  private def tokens(c: String): Column = tokens(col(c))

  /** Sliding token windows joined back to strings — the one formula
    * behind shingles (k, stride=1), n-grams (k=2, stride=1) and chunks
    * (k=32, stride=24): windows start every `stride` tokens, the last
    * window covers the tail. Kept inside codegen via
    * `transform(sequence(...))`; callers must pass a MATERIALIZED token
    * array (an inline `split` would re-tokenize per window — lambda
    * bodies get no subexpression elimination). */
  def tokenWindows(toks: Column, k: Int, stride: Int): Column =
    transform(
      sequence(lit(0), greatest(
        floor((size(toks) - lit(k - stride + 1)) / lit(stride)).cast("int"),
        lit(0))),
      i => array_join(slice(toks, i * stride + lit(1), lit(k)), " "))

  /** Quality scoring: char/token counts, type-token ratio inputs, and
    * stopword ratio (tiny built-in stopword set). One pass, no shuffle. */
  def quality(spark: SparkSession, dir: String): DataFrame =
    qualityOn(Tables.documents(spark, dir))

  /** [[quality]] over ANY (doc_id, text) relation — the per-batch form
    * the streaming intake scores each arriving micro-batch with. */
  def qualityOn(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", tokens("text"))
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct_tokens"),
        stopwordRatio(col("toks")).as("stopword_ratio"))

  /** Share of a token array's tokens in the (tiny, built-in) stopword
    * set — ONE definition behind t1's `stopword_ratio` feature and the
    * t10 verdict's `stopword_heavy` rule, so the two cannot drift. */
  private def stopwordRatio(toks: Column): Column =
    size(filter(toks, t => t.isin(lit("a"), lit("the")))) /
      size(toks).cast("double")

  /** Token counting with a BPE-ish regex (word pieces + standalone
    * punctuation), the classic pre-tokenizer approximation. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(tokens("text")).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
        .as("bpe_tokens"))

  /** Document fingerprint: order-insensitive content hash (md5 of the
    * sorted distinct token bag). Robust to token reordering — the
    * "same content, shuffled" near-dup class — and exactly reproducible
    * in any engine. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      md5(array_join(array_sort(array_distinct(tokens("text"))), " ")
        .cast("binary")).as("fingerprint"))

  /** Language ID: character-bigram profile score against built-in
    * per-language marker profiles. Heuristic (documents in this corpus
    * share one vocabulary, so scores are close); deterministic argmax
    * with lexicographic tie-break. Pure column expressions — the profile
    * table is a literal array, no join, no shuffle. */
  // marker character-bigrams per language (public linguistic
  // commonplaces); shared by langId and its generated DuckDB oracle so
  // the two can never drift
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("ch", "ei", "de", "en", "sch"),
    "en" -> Seq("th", "he", "in", "er", "an"),
    "es" -> Seq("de", "la", "os", "ar", "ci"),
    "fr" -> Seq("le", "es", "ou", "qu", "ai"),
    "zh" -> Seq("zh", "sh", "ng", "xi", "ao"))

  def langId(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = langProfiles.foldLeft(docs) { case (df, (lang, grams)) =>
      df.withColumn(s"score_$lang",
        grams.map(g => regexp_count(col("text"), lit(java.util.regex.Pattern.quote(g))))
          .reduce(_ + _))
    }
    // argmax by (score desc, lang asc): sort (−score, lang) ascending
    val scoreCols = langProfiles.map { case (l, _) => struct((-col(s"score_$l")).as("s"), lit(l).as("l")) }
    scored.select(
      col("doc_id"),
      col("lang").as("labeled_lang"),
      sort_array(array(scoreCols: _*)).getItem(0).getField("l").as("predicted_lang"))
  }

  /** Corpus-level n-gram frequency: top word-bigrams (explode →
    * partial+final count → global top-k under a total order). The
    * orderBy+limit pattern stays a TakeOrderedAndProject — no full
    * sort of the aggregate at scale. */
  def ngramFreq(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    // plain scan: the downstream agg is VOCAB-keyed (gram), so the 1-task
    // map-side combine already bounds the work — fanning measured 0.96×
    // (r19 A/B; the doc_id fan multiplies partial-agg shuffle rows)
    val grams = Tables.documents(spark, dir)
      .select(tokens("text").as("toks"))
      .select(explode(tokenWindows(col("toks"), 2, 1)).as("gram"))
    grams.groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(topK)
  }

  /** Document chunking with overlap — the standard pre-training /
    * RAG-ingest reshape: fixed-size token windows with `overlap` tokens
    * of context carried between consecutive chunks. Narrow explode per
    * doc (no shuffle); chunk count ≈ n/(size−overlap). */
  def chunk(spark: SparkSession, dir: String,
            chunkSize: Int = 32, overlap: Int = 8): DataFrame = {
    val stride = chunkSize - overlap
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens("text").as("toks"))
      .select(col("doc_id"),
        posexplode(tokenWindows(col("toks"), chunkSize, stride)))
      .select(col("doc_id"), col("pos").as("chunk_no"), col("col").as("chunk_text"),
        size(split(col("col"), " ")).as("n_tokens"))
  }

  /** PII patterns shared by [[piiMask]] and its generated oracle —
    * conservative syntax that parses identically under Java regex
    * (Spark) and RE2 (DuckDB): no backrefs, no lookaround. */
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  /** t7: PII scrubbing (email/phone masking + match counts) — a standard
    * compliance pass over training text. The corpus has no organic PII,
    * so each doc is first enriched with DETERMINISTIC doc_id-derived
    * contact strings (same expression on the oracle side) — the regex
    * path is exercised against real matches, not vacuous no-ops. Fully
    * narrow per-row; at 100 TB this is a map-only scan. */
  def piiMask(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("raw", concat(
        col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(col("raw"), lit(emailRe), lit("<EMAIL>")),
          lit(phoneRe), lit("<PHONE>")).as("masked"),
        size(regexp_extract_all(col("raw"), lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(phoneRe), lit(0))).as("n_phones"))

  /** t8: repetition profile (Gopher-style quality filters): most-frequent
    * token share and duplicated-bigram share per document. Highly
    * repetitive docs (boilerplate, generation loops) score high and get
    * filtered before training. Two keyed aggregations on (doc, gram) —
    * partial/map-side combine keeps the shuffle proportional to DISTINCT
    * grams per doc, not tokens, at any corpus size. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionOn(Tables.documents(spark, dir)) // fanning measured 0.83× (r19 A/B)

  /** [[repetition]] over ANY (doc_id, text) relation (the qualityOn
    * rationale). */
  def repetitionOn(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), tokens("text").as("toks"))
    val tokStats = toks
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id")).agg(
        sum(col("n")).as("n_tokens"),
        max(col("n")).as("max_tok_count"))
    val bigramStats = toks
      .select(col("doc_id"), explode(tokenWindows(col("toks"), 2, 1)).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id")).agg(
        sum(col("n")).as("n_bigrams"),
        sum(when(col("n") >= 2, col("n")).otherwise(lit(0))).as("dup_bigram_occurrences"))
    tokStats.join(bigramStats, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("max_tok_count"),
        (col("max_tok_count") / col("n_tokens").cast("double")).as("max_tok_frac"),
        (col("dup_bigram_occurrences") / col("n_bigrams").cast("double")).as("dup_bigram_frac"))
  }

  /** t9: deterministic hash split — the reproducible train/val/test
    * assignment every training pipeline needs: bucket = first 8 md5 hex
    * chars of the doc_id (mod 100), split by 80/10/10 bucket ranges.
    * Content-independent, engine-independent (md5), stable under
    * re-partitioning and re-runs — unlike rand()/sampleBy, whose output
    * depends on seed plumbing and partitioning. Narrow map-only scan;
    * also emits the bucket so callers can re-derive any split ratio. */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket",
        (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
          .cast("long") % 100).cast("int"))
      .select(col("doc_id"), col("lang"), col("bucket"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))

  /** t10: the filter DECISION stage (C4/Gopher-style) — composes the
    * quality (t1) and repetition (t8) metrics into a keep/drop verdict
    * with the first failing rule as the reason. This is the step that
    * actually shrinks a 100 TB crawl: everything upstream computes
    * features, this emits the survivors. Rules ordered, thresholds
    * chosen so the corpus exercises every branch. */
  def filterDecision(spark: SparkSession, dir: String): DataFrame =
    filterDecisionOn(Tables.documents(spark, dir))

  /** [[filterDecision]] over ANY (doc_id, text) relation — the rule
    * stage the streaming intake applies per micro-batch; ONE
    * implementation with the batch gate query so stream and batch
    * verdicts cannot drift.
    *
    * ONE narrow per-row pass (r19): every input to the verdict —
    * token count, stopword ratio, and repetition's max-token share —
    * is a per-row function of the token array, so the former
    * qualityOn ⋈ repetitionOn composition (two explode + groupBy
    * aggregations and a doc_id join: three shuffles) collapses into a
    * single shuffle-free projection. The max token count is the
    * longest equal-run in the SORTED token array (any total order
    * groups equal tokens; bit-identical to the explode + count max —
    * oracle-pinned). t1/t8 keep their relational forms: their OUTPUTS
    * are the aggregation shapes; only the decision fuses. At 100 TB
    * the decision stage becomes a map-only scan (guide §1.2: remove
    * shuffles the computation never needed). */
  def filterDecisionOn(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", tokens("text"))
      .select(col("doc_id"), nTokensOf(col("toks")).as("n_tokens"),
        maxTokFracOf(col("toks")).as("max_tok_frac"),
        stopwordRatio(col("toks")).as("stopword_ratio"))
      .select(col("doc_id"), col("n_tokens"), col("max_tok_frac"),
        col("stopword_ratio"),
        ruleReason(col("n_tokens"), col("max_tok_frac"), col("stopword_ratio"))
          .as("drop_reason"))
      .withColumn("keep", col("drop_reason").isNull)

  /** t10's verdict over a MATERIALIZED token array (a named column:
    * every feature reads it): the first failing rule's name, or null to
    * keep. The rules are [[filterDecisionOn]]'s, so the streaming
    * intake's per-document pass and the batch gate query cannot drift. */
  def filterReason(toks: Column): Column =
    ruleReason(nTokensOf(toks), maxTokFracOf(toks), stopwordRatio(toks))

  private def ruleReason(nTokens: Column, maxTokFrac: Column,
                         stopwordRatio: Column): Column =
    when(nTokens < 15, "too_short")
      .when(maxTokFrac > 0.15, "repetitive")
      .when(stopwordRatio > 0.15, "stopword_heavy")

  // null text has no token array and size(NULL) is NULL, which no rule
  // would fire on: count it as 0 tokens, so it drops as too_short
  // instead of passing as keep
  private def nTokensOf(toks: Column): Column = coalesce(size(toks), lit(0))

  /** Repetition's max-token share: the longest equal-run in the SORTED
    * token array, folded as (previous token, current run, best run). */
  private def maxTokFracOf(toks: Column): Column = {
    val best = aggregate(
      array_sort(toks),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (acc, x) => {
        val run = when(x <=> acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    best / size(toks).cast("double")
  }

  /** t11: TF-IDF top terms per document — the classic corpus-statistic
    * join: per-(doc, token) term frequency ⋈ per-token document
    * frequency, score = tf · ln(N/df), top `topK` terms per doc.
    * Keyword extraction / quality weighting for training corpora. Two
    * keyed aggs (map-side combined) + one broadcast-size dimension
    * (distinct tokens) + a per-doc WindowGroupLimit — every stage
    * shuffle-bounded by distinct keys, not corpus size. N is the one
    * driver-side scalar (a count, not data — the "model" pattern).
    * Scores rounded to 6 dp so a last-ulp `ln` divergence between
    * engines cannot flip the oracle compare. */
  def tfidf(spark: SparkSession, dir: String, topK: Int = 5): DataFrame = {
    val docs = Tables.documents(spark, dir) // fanning measured flat 1.00× (r19 A/B)
    val nDocs = docs.count()
    // persist: the tf relation feeds BOTH the document-frequency
    // aggregate and the scoring join — without it the 900k-token
    // explode+groupBy runs twice (plain scalar rows, cache-cheap;
    // armed on ScratchCache, so it unpersists after the caller's action)
    val tf = ScratchCache.arm(
      docs.select(col("doc_id"), explode(tokens("text")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
    tf.join(dfreq, "tok")
      .withColumn("score",
        round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("tok"), col("score"))
  }

  /** t19: unigram language-model scoring — the perplexity-proxy quality
    * filter (the KenLM-filter shape with the simplest possible LM):
    * score each document by its average token log-probability under the
    * corpus's own unigram distribution; unusually low scores mark
    * gibberish/OCR noise, unusually high ones boilerplate. Two
    * vocab-bounded aggregates (per-doc term counts, corpus counts), one
    * driver scalar for the total, one broadcast join back — the corpus
    * itself never shuffles more than its distinct (doc, token) pairs.
    * At 100 TB you'd train the model on a sample and only the narrow
    * scoring join touches every document; the formulation is identical.
    *
    * Float parity with the oracle: both sides compute
    * Σ n·ln(c/total) / Σ n over ≤ |vocab ∩ doc| terms and round to
    * 6 dp — the v7 centroid pattern. */
  def unigramLogProb(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsFanned(spark, dir) // token explode: map-heavy
    val tf = ScratchCache.arm(
      docs.select(col("doc_id"), explode(tokens("text")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n")))
    val model = tf.groupBy(col("tok")).agg(sum(col("n")).as("c"))
    // corpus total as a broadcast ONE-ROW relation inside the plan (not
    // a driver head action): the operator stays a single lazy plan — no
    // mid-construction materialization barrier, no unarmed-persist
    // dance, and one fewer driver round-trip per invocation. Long sum
    // cast to double AFTER summing — arithmetic identical to the former
    // lit(total.toDouble).
    val total = model.agg(sum(col("c")).cast("double").as("total"))
    tf.join(broadcast(model), "tok")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n")).as("n_tokens"),
        round(
          sum(col("n") * log(col("c") / col("total"))) / sum(col("n")),
          6).as("avg_logprob"))
  }

  /** t22: bigram LM scoring — the conditional-probability upgrade of
    * t19 (the KenLM-filter shape one order up): score each document by
    * the average log-probability of its bigrams under the corpus bigram
    * model with add-1 smoothing, P(w|prev) = (c(prev,w) + 1) /
    * (c(prev·) + |V|). Low scores = unnatural token transitions
    * (shuffled text, boilerplate soup) that unigram frequencies cannot
    * see.
    *
    * Scale shape: the corpus shuffles only distinct (doc, bigram)
    * pairs; the bigram model and its prefix marginals are
    * vocabulary-bounded aggregates that join back BROADCAST. Float
    * parity: both sides compute Σ n·ln((c+1)/(cp+V)) / Σ n and round
    * to 6 dp (the t19 pattern). Degenerate single-token docs emit the
    * tail window both engines produce (the shared window formula), so
    * coverage is every document. */
  def bigramLogProb(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsFanned(spark, dir) // bigram explode: map-heavy
    val bf = ScratchCache.arm(docs
      .select(col("doc_id"), tokens("text").as("toks"))
      .select(col("doc_id"),
        explode(tokenWindows(col("toks"), 2, 1)).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("n")))
    val model = bf.groupBy(col("bg")).agg(sum(col("n")).as("c"))
      .withColumn("prev", split(col("bg"), " ").getItem(0))
    val prefix = model.groupBy(col("prev")).agg(sum(col("c")).as("cp"))
    // |V| as a broadcast ONE-ROW relation inside the plan — the t19
    // pattern: no driver action mid-construction, the operator is one
    // lazy plan. (cp + vocab) stays long + long, cast after — identical
    // arithmetic to the former lit(vocab).
    val vocabDf = docs.select(explode(tokens("text")).as("tok"))
      .agg(count_distinct(col("tok")).as("vocab"))
    bf.join(broadcast(model), "bg")
      .join(broadcast(prefix), "prev")
      .crossJoin(broadcast(vocabDf))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n")).as("n_bigrams"),
        round(
          sum(col("n") * log((col("c") + lit(1)) /
            (col("cp") + col("vocab")).cast("double"))) / sum(col("n")),
          6).as("avg_logprob"))
  }

  /** t29: model-based quality classification — the trained-classifier
    * quality filter every modern pretraining pipeline runs (GPT-3's
    * WebText-vs-crawl logistic filter, CCNet's fastText classifier),
    * expressed as multinomial Naive Bayes so training is exact
    * distributed arithmetic instead of SGD: docs from `posSource`
    * stand in for the curated high-quality reference, docs from
    * `negSource` for the raw crawl, and every document is scored by
    * its average per-token log-odds
    * Σ n·(ln P(tok|pos) − ln P(tok|neg)) / Σ n with add-1 smoothing
    * over the seed-union vocabulary (tokens unseen in either seed get
    * the constant smoothed floor). `keep` = rounded score > 0.
    *
    * Scale shape: the class-conditional counts are ONE vocab-bounded
    * aggregate over the seed docs only, collected to the driver as a
    * per-token log-odds table ([[nbTable]]); scoring is then a per-row
    * lookup over each document's token array — no join, no shuffle on
    * the corpus side. At 100 TB the seeds are a fixed sample and only
    * the narrow scoring projection touches every document — the exact
    * deployment shape of the fastText filter, with the model as a
    * broadcast table instead of a binary blob.
    *
    * Float parity: both sides sum identical ln-ratio terms per doc and
    * round half-up to 6 dp (the t19 precedent); the keep flag compares
    * the ROUNDED score so the boolean cannot straddle an ulp. The
    * DuckDB oracle hard-codes the default sources; non-default
    * invocations are NOT gate-checked. */
  def nbQuality(spark: SparkSession, dir: String,
                posSource: String = "src0",
                negSource: String = "src1"): DataFrame =
    nbScoreOf(Tables.documentsFanned(spark, dir),
      nbTable(nbModel(spark, dir, posSource, negSource)))

  /** [[nbQuality]]'s trained model: per-token seed-class counts
    * (tok, cp, cn) — ONE vocab-bounded aggregate over the seed docs
    * only (the corpus is not touched). Train once, serve many: scorers
    * collect it into an [[NbTable]]. */
  def nbModel(spark: SparkSession, dir: String,
              posSource: String = "src0",
              negSource: String = "src1"): DataFrame =
    nbModelOn(Tables.documents(spark, dir), posSource, negSource)

  /** [[nbModel]] over ANY (source, text) relation — lets composers
    * (q34) train on a corpus relation they already hold. */
  def nbModelOn(docs: DataFrame,
                posSource: String = "src0",
                negSource: String = "src1"): DataFrame = {
    require(posSource != negSource, "seed classes must differ")
    docs
      .filter(col("source").isin(posSource, negSource))
      .select(col("source"), explode(tokens("text")).as("tok"))
      .groupBy(col("tok"))
      .agg(sum(when(col("source") === posSource, 1L).otherwise(0L)).as("cp"),
        sum(when(col("source") === negSource, 1L).otherwise(0L)).as("cn"))
  }

  /** A trained [[nbModel]] as a driver-built lookup table: each seed
    * token's smoothed log-odds
    * ln((cp+1)/(tot_p+vocab)) − ln((cn+1)/(tot_n+vocab)), and the
    * constant an unseen token scores (cp = cn = 0). The model is
    * vocab-bounded and was broadcast whole before, so collecting it
    * adds no size assumption. Broadcast once: every plan that scores
    * with the table ships only the handle, and the blocks are released
    * when the table is garbage-collected. */
  final class NbTable private[TextOps] (
      logOdds: org.apache.spark.broadcast.Broadcast[Map[String, Double]],
      unseen: Double) {
    private val sumLogOdds = {
      val (bc, floor) = (logOdds, unseen) // the closure must not capture `this`
      udf((toks: Seq[String]) =>
        if (toks == null) null
        else {
          val table = bc.value
          var s = 0.0
          toks.foreach(t => s += table.getOrElse(t, floor))
          java.lang.Double.valueOf(s)
        })
    }

    /** Mean per-token log-odds of a token array, rounded half-up to
      * 6 dp; null for a null array. */
    def avgLogOdds(toks: Column): Column =
      round(sumLogOdds(toks) / size(toks).cast("double"), 6)

    /** t29's verdict: the rounded score is positive. */
    def keep(toks: Column): Column = avgLogOdds(toks) > 0
  }

  /** Collect `model` (tok, cp, cn) into an [[NbTable]]. The terms are
    * the ones the relational scorer summed: `StrictMath.log` is Spark's
    * `log`, and the long counts divide as doubles. */
  def nbTable(model: DataFrame): NbTable = {
    val rows = model.select(col("tok"), col("cp"), col("cn")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val denP = (rows.map(_._2).sum + rows.length).toDouble
    val denN = (rows.map(_._3).sum + rows.length).toDouble
    def logOdds(cp: Long, cn: Long): Double =
      StrictMath.log((cp + 1).toDouble / denP) - StrictMath.log((cn + 1).toDouble / denN)
    new NbTable(
      model.sparkSession.sparkContext.broadcast(
        rows.map { case (t, cp, cn) => t -> logOdds(cp, cn) }.toMap),
      logOdds(0L, 0L))
  }

  /** Score ANY (doc_id, text) relation against an [[NbTable]] — the
    * serve half: one per-row projection over the token array, no join
    * and no shuffle. Shared by t29, q34, the streaming scorer and the
    * curate intake, so their values cannot drift. Output
    * (doc_id, n_tokens, avg_logodds, keep); a null text has no tokens
    * and no row. */
  def nbScoreOf(docs: DataFrame, table: NbTable): DataFrame =
    docs.select(col("doc_id"), tokens("text").as("toks"))
      .filter(col("toks").isNotNull)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        table.avgLogOdds(col("toks")).as("avg_logodds"))
      .withColumn("keep", col("avg_logodds") > 0)

  /** t30: DSIR importance resampling — Data Selection with Importance
    * Resampling (Xie et al. 2023): select pretraining documents whose
    * hashed-n-gram feature distribution matches a small high-quality
    * TARGET corpus, by (1) estimating target and raw unigram-of-feature
    * distributions over `nBuckets` hashed bigram buckets, (2) scoring
    * every document with its log importance weight
    * Σ n·(ln p̂_target(f) − ln p̂_raw(f)) (add-1 smoothed over the
    * bucket space), and (3) Gumbel-top-k resampling `budget` docs —
    * sampling WITHOUT replacement ∝ exp(log_w) is exactly taking the
    * top k of log_w + Gumbel noise, and the noise here is DETERMINISTIC
    * (inverse-CDF of an md5-derived uniform, the t9/t14 arithmetic), so
    * the sample is reproducible AND value-oracled. Docs from
    * `targetSource` stand in for the curated target corpus.
    *
    * Scale shape: feature hashing is narrow (md5 → bucket); both
    * histograms are ONE map-side-combined aggregate with ≤ `nBuckets`
    * output rows; the scoring join broadcasts the bucket table; the
    * final selection is a global top-k (TakeOrderedAndProject — no full
    * sort). The corpus shuffles only its distinct (doc, bucket) pairs —
    * strictly narrower than (doc, token).
    *
    * Float parity: both sides compute identical smoothed ln-ratio terms
    * and identical Gumbel keys; displayed values round to 6 dp. The
    * top-`budget` cut orders by the full-precision key (cross-engine
    * sum-order noise ~1e-12 vs continuous key spacing — the v7/t11
    * float-ordering precedent). Gate-checked at the defaults AND at a
    * second dial (t30_dsir_sample_dial2: nBuckets=256, budget=50) via
    * the parameterized [[dsirSampleSql]] builder. */
  def dsirSample(spark: SparkSession, dir: String,
                 targetSource: String = "src0",
                 nBuckets: Int = 1024, budget: Int = 100): DataFrame =
    dsirSampleOf(Tables.documentsFanned(spark, dir), targetSource, nBuckets, budget)

  /** [[dsirSample]]'s core over ANY (doc_id, source, text) relation —
    * composable on a curated subset (Curation selects FROM the
    * survivors, so the raw distribution is the candidate pool, not the
    * pre-filter corpus). */
  def dsirSampleOf(docs: DataFrame, targetSource: String,
                   nBuckets: Int, budget: Int): DataFrame = {
    require(nBuckets >= 2 && budget >= 1)
    val feats = ScratchCache.arm(
      docs.select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("source"),
          explode(tokenWindows(col("toks"), 2, 1)).as("bg"))
        .withColumn("f",
          (conv(substring(md5(col("bg").cast("binary")), 1, 8), 16, 10)
            .cast("long") % nBuckets).cast("int"))
        .groupBy(col("doc_id"), col("source"), col("f"))
        .agg(count(lit(1)).as("n")))
    // every observed bucket has cr >= 1, so the scoring join is inner;
    // unobserved buckets never contribute to any doc's sum
    val hist = feats.groupBy(col("f"))
      .agg(sum(when(col("source") === targetSource, col("n")).otherwise(0L)).as("ct"),
        sum(col("n")).as("cr"))
    val tots = hist.agg(sum(col("ct")).as("tot_t"), sum(col("cr")).as("tot_r"))
    val w = feats.join(broadcast(hist), Seq("f"))
      .crossJoin(broadcast(tots))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_feats"),
        sum(col("n") * (
          log((col("ct") + lit(1)) /
            (col("tot_t") + lit(nBuckets)).cast("double")) -
            log((col("cr") + lit(1)) /
              (col("tot_r") + lit(nBuckets)).cast("double")))).as("log_w"))
    // deterministic Gumbel: u from the doc_id md5 (t9's arithmetic),
    // g = -ln(-ln(u)); key = log_w + g
    val u = (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
    w.withColumn("key", col("log_w") + -log(-log(u)))
      .orderBy(col("key").desc, col("doc_id")).limit(budget)
      .select(col("doc_id"), col("n_feats"),
        round(col("log_w"), 6).as("log_w"),
        round(col("key"), 6).as("sample_key"))
  }

  /** t31: the Gopher n-gram character-fraction family (Rae et al. 2021,
    * Appendix A) — the repetition signals t8 does NOT cover: per
    * document, the fraction of characters covered by the single most
    * repeated word n-gram (n = 2, 3, 4) and by ALL duplicated word
    * n-grams (n = 5, 8). "Covered" is the standard overlap-ignoring
    * simplification (occurrences × gram length / doc chars — the same
    * one public reimplementations use), so a fraction can exceed 1 on
    * pathological repetition; that is the signal, not a bug. All five
    * n's ride ONE corpus scan: each doc explodes its windows for every
    * n tagged with n, so the per-(doc, n, gram) count and the per-(doc,
    * n) reduction are two map-side-combined shuffles bounded by
    * distinct grams — no per-n re-scan, no join fan-in of five
    * pipelines. Fractions rounded to 6 dp for cross-engine parity. */
  def gopherNgramFracs(spark: SparkSession, dir: String): DataFrame =
    gopherNgramFracsOf(Tables.documentsFanned(spark, dir))

  /** [[gopherNgramFracs]] over any (doc_id, text) relation — the spec
    * entry point: the pinned corpus never repeats a 5-gram inside one
    * document, so the dup-branch (n = 5, 8) is exercised by a synthetic
    * repetitive corpus in the ScalaTest, while the oracle pins its
    * all-zero output on the real corpus. */
  def gopherNgramFracsOf(documents: DataFrame): DataFrame = {
    val ns = Seq(2, 3, 4, 5, 8)
    val docs = documents
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        tokens("text").as("toks"))
    val grams = docs
      .select(col("doc_id"), col("n_chars"),
        explode(flatten(array(ns.map(n =>
          transform(tokenWindows(col("toks"), n, 1),
            g => struct(lit(n).as("nn"), g.as("gram")))): _*))).as("g"))
      .select(col("doc_id"), col("n_chars"),
        col("g.nn").as("nn"), col("g.gram").as("gram"))
    val counts = grams
      .groupBy(col("doc_id"), col("nn"), col("gram"))
      .agg(count(lit(1)).as("cnt"), max(col("n_chars")).as("n_chars"))
      .withColumn("covered", col("cnt") * length(col("gram")))
    // fold straight to per-doc: the per-(doc, n) reduction is just a
    // conditional max/sum, so it rides the SAME doc-keyed aggregate —
    // two shuffles total (distinct grams, then docs), not three
    def top(n: Int): Column =
      round(max(when(col("nn") === n, col("covered")))
        / max(col("n_chars")).cast("double"), 6)
    def dup(n: Int): Column =
      round(sum(when(col("nn") === n && col("cnt") >= 2, col("covered"))
        .otherwise(lit(0))) / max(col("n_chars")).cast("double"), 6)
    counts.groupBy(col("doc_id")).agg(
      top(2).as("top_2gram_char_frac"),
      top(3).as("top_3gram_char_frac"),
      top(4).as("top_4gram_char_frac"),
      dup(5).as("dup_5gram_char_frac"),
      dup(8).as("dup_8gram_char_frac"))
  }

  /** t20: dataset card — the per-(source, language) composition report
    * every corpus release ships: document and token counts, average
    * document size, and each stratum's share of the corpus. One
    * map-side-combined aggregate over the corpus (partials bounded by
    * distinct strata), then a window over the TINY aggregate for the
    * shares — the corpus is scanned once and never reshuffled. All
    * ratios are exact-integer-derived doubles (long sums / counts), so
    * cross-engine parity is exact at 6 dp. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        size(tokens("text")).cast("long").as("toks"),
        col("n_chars").cast("long").as("n_chars"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        round(avg(col("n_chars")), 6).as("avg_chars"))
      .withColumn("doc_share",
        round(col("n_docs") / sum(col("n_docs")).over(w), 6))
      .withColumn("token_share",
        round(col("n_tokens") / sum(col("n_tokens")).over(w), 6))
  }

  /** t21: compression-ratio quality signal (Gopher/CCNet family) —
    * raw bytes / DEFLATE bytes per document via the native
    * [[graft.functions.DeflateLen]] expression. High ratios mark
    * repetitive boilerplate, near-1 ratios high-entropy noise; both are
    * standard cut candidates. Fully narrow map-only scan (one
    * thread-local deflate call per row, inside codegen). zlib output is
    * deterministic per input but engine-specific — no portable SQL can
    * reproduce it, so this is a ROWS-ONLY gate entry (the d4/d5
    * pattern) with value determinism and the reference-implementation
    * equality pinned in ScalaTest instead. */
  def compressionRatio(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        octet_length(col("text")).as("raw_len"),
        graft.functions.DeflateLen.deflate_len(col("text")).as("deflate_len"))
      .withColumn("ratio",
        when(col("deflate_len") > 0,
          round(col("raw_len") / col("deflate_len"), 6)))

  /** Distinct k-token shingles per document, as STRINGS — the
    * cross-engine-checkable gram unit for the corpus-statistic
    * operators below (decontaminate/boilerplate). A production run at
    * 100 TB would hash each gram to a long first (xxhash64, as the
    * dedup family does) to shrink the shuffled keys 10×; strings keep
    * these two under the DuckDB value gate. */
  private def docGrams(spark: SparkSession, dir: String, k: Int): DataFrame =
    docGramsOn(Tables.documents(spark, dir), k)

  private def docGramsOn(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(col("doc_id"), tokens("text").as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(tokenWindows(col("toks"), k, 1))).as("gram"))

  /** t12: benchmark decontamination — the standard pre-training pass
    * that flags training documents sharing any k-gram with a held-out
    * evaluation set (here: doc_id < `evalN` stands in for the benchmark
    * suite). Per surviving doc: how many of its distinct k-grams appear
    * anywhere in the eval set, and the keep/flag verdict. Scale shape:
    * the eval-gram dictionary is tiny relative to the corpus — it is
    * collected to the driver as a set ([[evalGramSet]]) and every train
    * doc is one per-row lookup over its own grams; no all-pairs, no
    * join, no corpus shuffle on gram. */
  def decontaminate(spark: SparkSession, dir: String, evalN: Long = 50,
                    k: Int = 5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    decontaminateOn(docs.filter(col("doc_id") >= evalN), evalGramSet(docs, evalN, k))
  }

  /** A k-gram set built on the driver and broadcast once — the
    * decontamination lookup table ([[evalGramSet]]). The eval-gram
    * dictionary was broadcast whole before, so collecting it adds no
    * size assumption; its blocks are released when the set is
    * garbage-collected. */
  final class GramSet private[TextOps] (
      k: Int, grams: org.apache.spark.broadcast.Broadcast[Set[String]]) {
    private val countIn = {
      val bc = grams // the closure must not capture `this`
      udf((gs: Seq[String]) => if (gs == null) 0L else gs.count(bc.value.contains).toLong)
    }

    /** How many of a MATERIALIZED token array's distinct k-grams are in
      * the set (the windows are [[docGramsOn]]'s). */
    def matched(toks: Column): Column =
      countIn(array_distinct(tokenWindows(toks, k, 1)))
  }

  /** The held-out eval set's distinct k-gram dictionary — the
    * decontamination REFERENCE (tiny vs any corpus) — as a [[GramSet]]:
    * the eval docs (doc_id < `evalN` of the `documents` relation
    * `docs`) have their distinct grams collected in one map-only pass,
    * deduplicated across docs on the driver. */
  def evalGramSet(docs: DataFrame, evalN: Long = 50, k: Int = 5): GramSet =
    new GramSet(k, docs.sparkSession.sparkContext.broadcast(
      docs.filter(col("doc_id") < evalN)
        .select(tokens("text").as("toks"))
        .select(array_distinct(tokenWindows(col("toks"), k, 1)))
        .collect().iterator.flatMap(_.getSeq[String](0))
        // null text windows to one null gram, which matches nothing
        .filter(_ != null).toSet))

  /** [[decontaminate]] over ANY (doc_id, text) relation against an
    * eval-gram set — ONE per-row implementation for the batch gate
    * query (which passes the ≥ evalN corpus), q34/q35 and the
    * streaming curate intake, so their verdicts cannot drift. Output
    * (doc_id, n_matched, contaminated), one row per input doc. */
  def decontaminateOn(docs: DataFrame, evalGrams: GramSet): DataFrame =
    docs.select(col("doc_id"), tokens("text").as("toks"))
      .select(col("doc_id"), evalGrams.matched(col("toks")).as("n_matched"))
      .withColumn("contaminated", col("n_matched") > 0)

  /** t17: Bloom-pruned decontamination — [[decontaminate]]'s 100 TB
    * shape when the eval-gram dictionary outgrows a comfortable
    * broadcast-hash build: a driver-built Bloom filter over
    * `xxhash64(gram)` (a few bits per gram instead of a hash relation)
    * prunes the train side map-side via the native
    * `bloom_might_contain_long` expression, then an EXACT join confirms
    * the survivors. Bloom false positives (and xxhash64 collisions) are
    * confirmed away; false negatives are impossible — so the output is
    * bit-identical to [[decontaminate]] and carries the SAME DuckDB
    * oracle. The confirm join sees only fpp × corpus + true matches.
    * Same two-phase prune-then-confirm shape Spark's runtime row-level
    * filtering injects for shuffle joins — here the filter is explicit
    * so the prune survives any plan shape and the fpp is chosen, not
    * heuristic. */
  def decontaminateBloom(spark: SparkSession, dir: String, evalN: Long = 50,
                         k: Int = 5, fpp: Double = 0.01): DataFrame = {
    val grams = docGrams(spark, dir, k)
    // persisted UNARMED while the filter is built: the sizing count is
    // an internal action, which would sweep an armed entry before the
    // confirm join reads it (the nearDupClusters fast-path pattern);
    // armed below once the model exists, so the CALLER's action sweeps
    val evalGrams = grams.filter(col("doc_id") < evalN)
      .select(col("gram")).distinct()
      .persist()
    // driver-built model → binary literal (the IVF-centroid pattern);
    // sizing needs the distinct-gram count
    val nEval = evalGrams.count()
    val bloom = evalGrams
      .select(xxhash64(col("gram")).as("h"))
      .stat.bloomFilter("h", math.max(nEval, 1L), fpp)
    ScratchCache.arm(evalGrams)
    val bloomLit = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      lit(bos.toByteArray)
    }
    val pruned = grams.filter(col("doc_id") >= evalN)
      .filter(graft.functions.BloomMightContainLong
        .bloom_might_contain_long(bloomLit, xxhash64(col("gram"))))
    val matched = pruned
      .join(evalGrams, Seq("gram"), "left_semi") // exact confirm
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matched"))
    Tables.documents(spark, dir).filter(col("doc_id") >= evalN)
      .select(col("doc_id"))
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"))
      .withColumn("contaminated", col("n_matched") > 0)
  }

  /** t13: inter-document boilerplate profile (CCNet-style) — grams that
    * recur across many DISTINCT documents are template/boilerplate, not
    * content; per doc, the fraction of its distinct grams that are
    * corpus-boilerplate is the drop signal. Same two-keyed-agg shape as
    * tfidf: gram document-frequency (shuffle bounded by distinct
    * grams), join back, per-doc ratio. */
  def boilerplate(spark: SparkSession, dir: String, k: Int = 3,
                  minDf: Int = 25): DataFrame = {
    val grams = ScratchCache.arm( // k-gram explode: map-heavy
      docGramsOn(Tables.documentsFanned(spark, dir), k))
    val dfreq = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    grams.join(dfreq, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_ratio",
        round(col("n_boiler") / col("n_grams").cast("double"), 6))
  }

  /** t14: deterministic stratified sampling — `quota` documents per
    * language, selected by md5-rank (reproducible across engines, runs
    * and partitionings; the split-family trick of t9 applied to quota
    * sampling). Per-stratum top-k runs as a WindowGroupLimit (rank
    * pushed into the shuffle); at extreme stratum cardinality you'd
    * pre-filter on an md5 threshold first and rank the survivors. */
  def stratifiedSample(spark: SparkSession, dir: String, quota: Int = 20): DataFrame =
    stratifiedSampleOf(Tables.documents(spark, dir), quota)

  /** [[stratifiedSample]]'s core over ANY (doc_id, lang) relation —
    * composable on a curated subset (Curation samples AFTER filtering,
    * so strata fill from surviving documents, not the raw corpus). */
  def stratifiedSampleOf(docs: DataFrame, quota: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("rk_key"), col("doc_id"))
    docs
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string").cast("binary")).as("rk_key"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= quota)
      .select(col("doc_id"), col("lang"), col("rk"))
  }

  /** t15: quantile-based quality filter — keep the top `keepFrac` of
    * each language by type-token ratio, the standard "drop the worst
    * half per stratum" corpus-pruning pass (percentile thresholds
    * adapt per language, unlike a global cutoff which would drop whole
    * low-TTR languages). percent_rank = (rank−1)/(n−1) on the EXACT
    * ttr double (IEEE division of the same int operands is
    * bit-identical across engines), doc_id tie-break so ranks are
    * total. One keyed window shuffle, bounded by stratum size; at
    * extreme stratum cardinality the approx-percentile threshold
    * (computed once, broadcast, then a narrow filter) is the scale
    * path — this is the exact variant.
    *
    * Gate-checked at the default `keepFrac = 0.5` AND at a second dial
    * (t15_quantile_filter_dial2: keepFrac = 0.3) via the parameterized
    * [[quantileFilterSql]] builder. */
  def quantileFilter(spark: SparkSession, dir: String,
                     keepFrac: Double = 0.5): DataFrame =
    quantileFilterOn(Tables.documents(spark, dir), keepFrac)

  /** [[quantileFilter]] over ANY (doc_id, lang, text) relation — the
    * qualityOn rationale; lets composers (q35) feed the shared corpus
    * relation instead of a private re-scan. */
  def quantileFilterOn(docs: DataFrame, keepFrac: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("ttr"), col("doc_id"))
    // Threshold in decimal space: 1.0 - 0.7 in IEEE doubles is
    // 0.30000000000000004, which would wrongly exclude a row whose
    // percent_rank is exactly 0.3.
    val threshold =
      (BigDecimal(1) - BigDecimal(keepFrac.toString)).toDouble
    docs
      .withColumn("toks", tokens("text"))
      .select(col("doc_id"), col("lang"),
        (size(array_distinct(col("toks")))
          / size(col("toks")).cast("double")).as("ttr"))
      .withColumn("pr", percent_rank().over(w))
      .filter(col("pr") >= threshold)
      .select(col("doc_id"), col("lang"),
        round(col("ttr"), 6).as("ttr"), round(col("pr"), 6).as("pr"))
  }

  /** t16: sequence packing (concat-and-chunk) — assign documents to
    * fixed-token-budget training sequences: concatenate in a
    * deterministic md5 order and cut every `budget` tokens; a document
    * belongs to the bin its first token lands in (GPT-style packing,
    * where a doc may straddle the cut). Packing is inherently
    * sequential, so the scale unit is the GROUP: docs are md5-bucketed
    * into `nGroups` independent packing streams and the running-offset
    * window runs per group — no global sort, no single-partition
    * window; at 100 TB you raise nGroups to O(cluster cores) and each
    * group's prefix-sum is one partition-local scan after the keyed
    * shuffle.
    *
    * Gate-checked at the defaults `budget = 512`, `nGroups = 8` AND at
    * a second dial (t16_pack_sequences_dial2: budget=128, nGroups=4)
    * via the parameterized [[packSequencesSql]] builder. */
  def packSequences(spark: SparkSession, dir: String, budget: Int = 512,
                    nGroups: Int = 8): DataFrame =
    packSequencesOf(Tables.documents(spark, dir), budget, nGroups)

  /** [[packSequences]]'s core over ANY (doc_id, text) relation —
    * composable on a curated/sampled subset (Curation packs the final
    * selection, not the raw corpus). */
  def packSequencesOf(docs: DataFrame, budget: Int = 512,
                      nGroups: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
      .orderBy(col("rk_key"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs
      .select(col("doc_id"), size(tokens("text")).as("n_tokens"),
        md5(col("doc_id").cast("string").cast("binary")).as("rk_key"))
      .withColumn("grp",
        (conv(substring(col("rk_key"), 1, 8), 16, 10).cast("long")
          % nGroups).cast("int"))
      .withColumn("start_off",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("grp"), col("n_tokens"),
        col("start_off"),
        floor(col("start_off") / lit(budget)).cast("int").as("bin"))
  }

  /** t18: corpus heavy hitters — k-grams with global count ≥ `minCount`,
    * EXACT counts, without shuffling the full gram vocabulary.
    *
    * Shape: a plain `groupBy(gram).count().filter(n >= T)` shuffles one
    * partial-aggregate row per DISTINCT gram per map task — at 100 TB
    * the long tail (typos, ids, boilerplate variants) dominates that
    * shuffle and the filter only applies after it. This two-phase form
    * prunes BEFORE the shuffle:
    *
    *  1. Candidates: each partition summarizes its grams with a
    *     bounded-memory Misra-Gries sketch (`summaryCap` counters) and
    *     emits grams whose local count could reach ceil(minCount / P) —
    *     by pigeonhole, any gram with global count ≥ minCount reaches
    *     that bar in at least one partition, so candidate recall is 1.
    *     MG's deficit bound (true count − counter ≤ decrements) makes
    *     the emit test `counter + decrements ≥ localT`, which cannot
    *     lose a qualifying gram while the guard below holds.
    *  2. Confirm: exact recount of ONLY the candidate grams (broadcast
    *     semi-join — candidates ≤ P × summaryCap keys), then the exact
    *     global filter. False positives from phase 1 cost only work,
    *     never correctness — the output is bit-identical to the naive
    *     groupBy, and carries the same exact SQL oracle.
    *
    * Two summary modes, chosen by `summaryCap`:
    *  - default (unbounded): exact local counts — memory is one counter
    *    per DISTINCT gram per partition, the same envelope Spark's own
    *    hash partial aggregation uses before spilling. Never loses a
    *    candidate at any threshold.
    *  - finite cap: a true Misra-Gries sketch for adversarial
    *    vocabularies. MG can only guarantee recall when the support
    *    floor holds (localT > localRows / (cap+1) — the classic MG
    *    bound); the sketch tracks its decrement rounds and FAILS LOUDLY
    *    with the capacity to raise once exactness is no longer provable,
    *    rather than return a silently incomplete candidate set (the d7
    *    non-convergence pattern). Real heavy-hitter settings (support
    *    1e-6 over 1e12 rows → 1e6 counters) sit comfortably under this.
    *
    * The gram relation is computed twice (candidates + recount) — two
    * narrow scans instead of a full-vocabulary shuffle is the right
    * trade at scale; caching the exploded grams would pin a corpus-sized
    * relation. mapPartitions is justified here (per-partition imperative
    * summary with early pruning — a declarative groupBy cannot filter
    * before its shuffle). */
  def heavyHitters(spark: SparkSession, dir: String, k: Int = 3,
                   minCount: Long = 5,
                   summaryCap: Int = Int.MaxValue): DataFrame = {
    import spark.implicits._
    require(minCount >= 1 && summaryCap >= 1)
    // plain scan: the exact recount is VOCAB-keyed and the MG summary
    // is one pass — fanning measured 0.88× (r19 A/B)
    def grams = Tables.documents(spark, dir)
      .select(tokens("text").as("toks"))
      .select(explode(tokenWindows(col("toks"), k, 1)).as("gram"))
    // partition count of the narrow gram plan = the file splits of the
    // documents scan (no shuffle in the lineage), so this matches the
    // partitioning mapPartitions below sees. Overestimating P would be
    // safe (lower bar, more candidates); underestimating could lose one.
    val p = grams.rdd.getNumPartitions
    val localT = math.max(1L, (minCount + p - 1) / p)
    val cands = grams.as[String].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      var dec = 0L // Misra-Gries decrement rounds so far
      it.foreach { g =>
        if (m.contains(g) || m.size < summaryCap) m(g) = m.getOrElse(g, 0L) + 1L
        else { // summary full: decrement-all, drop zeros (classic MG)
          dec += 1L
          m.filterInPlace((_, c) => c > 1L)
          m.mapValuesInPlace((_, c) => c - 1L)
        }
      }
      if (dec >= localT) throw new IllegalStateException(
        s"heavyHitters: Misra-Gries summary overflowed ($dec decrement rounds " +
          s">= local threshold $localT) — a qualifying gram may have been " +
          s"dropped; raise summaryCap (now $summaryCap)")
      m.iterator.collect { case (g, c) if c + dec >= localT => g }
    }.toDF("gram").distinct()
    grams
      .join(broadcast(cands), Seq("gram"), "left_semi")
      .groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** Count-min-sketch cell for hash row `r`: md5 over `"r:token"`
    * (the q22 md5-portable pattern — DuckDB computes the identical
    * digest), first 15 hex chars as a 60-bit non-negative long, mod
    * `width`. One cell per (row, token) occurrence. */
  private def cmsBucket(r: Int, tok: Column, width: Int): Column =
    pmod(conv(substring(md5(concat(lit(s"$r:"), tok).cast("binary")), 1, 15), 16, 10)
      .cast("long"), lit(width.toLong))

  /** t34: count-min sketch over the token stream — the BOUNDED-STATE
    * route to frequency estimation that t18's exact heavy hitters
    * deliberately isn't. The sketch is `depth` × `width` counters
    * (rows where a bucket was ever hit; absent cell = 0), built as one
    * narrow explode (`depth` cells per token occurrence) into a
    * groupBy whose key space is capped at depth×width REGARDLESS of
    * vocabulary — map-side partial aggregation collapses each input
    * split to ≤ depth×width rows before the shuffle, so at 100 TB the
    * shuffle moves O(splits × depth × width) rows, not O(tokens).
    * Point estimates (t35) read min over rows; over-estimation only,
    * ε = e/width with prob 1 − e^−depth (Cormode & Muthukrishnan).
    * Sketches are element-wise ADDITIVE, so per-day / per-partition
    * sketches merge by summing `c` on (r, bucket) — the same
    * mergeability contract as q22's HLL registers, spec-pinned
    * (split-and-sum == whole-corpus) in TextOpsSketchSpec. */
  def cmsSketch(spark: SparkSession, dir: String,
                depth: Int = 4, width: Int = 512): DataFrame = {
    require(depth >= 1 && width >= 1, s"degenerate CMS: $depth x $width")
    cmsSketchOn(Tables.documentsFanned(spark, dir), depth, width)
  }

  /** Sketch over an arbitrary documents-shaped relation — shared by the
    * batch gate query, the mergeability spec, and the streaming
    * constant-state twin (Pipelines.cmsSketchStream). */
  def cmsSketchOn(docs: DataFrame, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 1, s"degenerate CMS: $depth x $width")
    docs.select(explode(tokens("text")).as("tok"))
      .select(posexplode(array((0 until depth).map(r =>
        cmsBucket(r, col("tok"), width)): _*)).as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("c"))
  }

  /** t35: point-frequency estimates from the t34 sketch — est(tok) =
    * min over hash rows of the addressed counter (0 when the cell was
    * never hit; a token absent from the corpus reads 0 unless every
    * one of its cells collides, which the dial2 width-16 twin
    * deliberately forces). The probe side is O(depth × |probes|) rows
    * joined against the ≤ depth×width sketch — at 100 TB the entire
    * query cost is the one bounded-key sketch aggregation; the probe
    * join is noise. Estimates NEVER under-count (spec-pinned against
    * the exact per-token counts on the corpus). */
  def cmsEstimate(spark: SparkSession, dir: String,
                  probes: Seq[String] = Seq("hash", "join", "scan", "data", "zzz_absent"),
                  depth: Int = 4, width: Int = 512): DataFrame =
    cmsEstimateFrom(spark, cmsSketch(spark, dir, depth, width), probes, depth, width)

  /** The ONE probe-side estimator — shared by the batch gate query
    * (in-session sketch) and the maintained-store serve path
    * ([[maintainedCms]]), so point lookups cannot drift between
    * deployments: min over hash rows of the addressed counter, absent
    * cells reading 0 through the left join. */
  def cmsEstimateFrom(spark: SparkSession, sketch: DataFrame,
                      probes: Seq[String], depth: Int, width: Int): DataFrame = {
    import spark.implicits._
    require(probes.nonEmpty)
    val pb = probes.toDF("tok")
      .select(col("tok"), posexplode(array((0 until depth).map(r =>
        cmsBucket(r, col("tok"), width)): _*)).as(Seq("r", "bucket")))
    pb.join(broadcast(sketch), Seq("r", "bucket"), "left")
      .groupBy(col("tok")).agg(min(coalesce(col("c"), lit(0L))).as("est_n"))
  }

  /** Current sketch of a maintained CMS store (the at-rest
    * "bounded-state frequency service"): per-(r, bucket) sums across
    * the `batch_id=-1` base and every live batch partition — counters
    * are element-wise additive, so the read-side merge IS the sketch.
    * The relation is ≤ depth × width rows however long the stream has
    * run. */
  def maintainedCms(spark: SparkSession, cmsDir: String): DataFrame =
    spark.read.parquet(cmsDir)
      .groupBy(col("r"), col("bucket")).agg(sum(col("c")).as("c"))

  /** Fold a maintained CMS store's committed `batch_id=` partitions
    * into the `batch_id=-1` base (the round-15 BatchFold contract,
    * GraphOps.foldMaintainedEdges applied to (r, bucket, c)): counters
    * are additive, so the base is the per-cell SUM of everything
    * folded — one file, ≤ depth × width rows. */
  def foldMaintainedCms(spark: SparkSession, cmsDir: String,
                        excludeBatchId: Long): Int =
    graft.sources.BatchFold.fold(spark, cmsDir, excludeBatchId) {
      (rows, staging) =>
        rows.groupBy(col("r"), col("bucket")).agg(sum(col("c")).as("c"))
          .coalesce(1)
          .write.mode("overwrite").parquet(staging)
    }

  /** Create-or-match the maintained CMS store's `_meta.json` (the
    * ensureAnnMeta pattern): every counter in the store is mod-`width`
    * under `depth` hash rows, so a restarted stream passing different
    * dials would SILENTLY sum incompatible sketches — refuse loudly
    * instead. */
  private[graft] def ensureCmsMeta(cmsDir: String, depth: Int, width: Int): Unit = {
    import graft.sources.IndexMeta
    if (IndexMeta.exists(cmsDir)) {
      val s = IndexMeta.readRaw(cmsDir, "cmsMaintainQuery")
      val got = (IndexMeta.intField(s, "depth"), IndexMeta.intField(s, "width"))
      require(got == ((depth, width)),
        s"maintained-CMS dial mismatch: store has (depth, width) = $got, " +
          s"stream passed (${(depth, width)})")
    } else IndexMeta.write(cmsDir,
      Seq("kind" -> "cms", "depth" -> depth, "width" -> width))
  }

  /** t36: weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    * A-ES), md5-deterministic: each doc draws u ∈ (0,1) from the first
    * 13 hex chars of md5(doc_id) (52 bits — exactly representable in a
    * double, so DuckDB's arithmetic is bit-identical), and the k docs
    * with the largest ln(u)/w^beta win — exactly the distribution of
    * sampling proportional to w^beta without replacement. The mixture-
    * construction primitive t25's quota allocator feeds: "give me k
    * documents drawn by quality weight", reproducible across runs,
    * engines, and partitionings (key depends only on doc_id).
    *
    * Scale shape: the key is one narrow map; the global top-k is
    * TakeOrderedAndProject (per-partition heaps of k, no global sort —
    * plan-asserted in TextOpsSketchSpec). beta is the sampling
    * temperature: 1 = proportional to weight, 0.5 = flattened (the
    * dial2 twin), 0 = uniform. */
  def weightedSample(spark: SparkSession, dir: String,
                     k: Int = 25, beta: Double = 1.0): DataFrame =
    weightedSampleOn(Tables.documents(spark, dir), k, beta)

  /** The ONE A-ES key derivation — shared by the batch sample, its
    * oracle contract, and the streaming per-stratum sampler
    * (Pipelines.weightedSampleStream), so membership cannot drift
    * between deployments: ln(u)/w^beta with u drawn from the first 13
    * md5 hex chars of doc_id (52 bits — exact in a double). */
  def esKey(beta: Double): Column = {
    val u = (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 13), 16, 10)
      .cast("double") + lit(0.5)) / lit(math.pow(2.0, 52))
    log(u) / pow(col("n_chars").cast("double"), lit(beta))
  }

  /** The sample over an arbitrary documents-shaped relation — shared
    * with TextOpsSketchSpec's controlled-weight cases. */
  def weightedSampleOn(docs: DataFrame, k: Int, beta: Double): DataFrame = {
    require(k >= 1)
    docs.filter(col("n_chars") > 0)
      .select(col("doc_id"), col("lang"), col("n_chars").as("w"), esKey(beta).as("k0"))
      .orderBy(col("k0").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("lang"), col("w"), round(col("k0"), 9).as("es_key"))
  }

  /** t37: PMI phrase mining — the word2phrase/collocation pass every
    * tokenizer-prep and phrase-aware pipeline runs before training:
    * score each adjacent bigram by pointwise mutual information
    * PMI(a,b) = ln(c(ab)·N / (c(a)·c(b))) over corpus unigram/bigram
    * counts, keeping bigrams with count ≥ `minCount` (the support
    * floor that makes PMI stable). High PMI = the pair co-occurs far
    * above chance — a phrase candidate ("new york"); near-zero =
    * independent neighbors.
    *
    * Scale shape (the t11/t19 family): the corpus is scanned once into
    * unigram and adjacent-bigram counts — both shuffles bounded by
    * DISTINCT grams, not corpus size; the unigram model joins back
    * BROADCAST (vocab-bounded), and N rides the plan as a broadcast
    * one-row aggregate (the t19 scalar pattern — PlanAudit licenses
    * exactly that single-row-build loop join). Float parity: both
    * engines compute ln((n_ab × N) / (c_a × c_b)) with counts cast to
    * double BEFORE the product (a long product overflows at corpus
    * scale) and round to 6 dp. */
  def pmiPhrases(spark: SparkSession, dir: String, minCount: Long = 5): DataFrame =
    pmiPhrasesOn(Tables.documents(spark, dir), minCount) // fanning measured 0.68× (r19 A/B)

  /** The mining pass over an arbitrary documents-shaped relation —
    * shared with TextOpsSketchSpec's closed-form corpus. */
  def pmiPhrasesOn(docs: DataFrame, minCount: Long): DataFrame = {
    require(minCount >= 1)
    val toks = ScratchCache.arm(docs.select(tokens("text").as("toks")))
    val uni = ScratchCache.arm(toks.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c")))
    val total = uni.agg(sum(col("c")).cast("double").as("total"))
    val bi = toks.filter(size(col("toks")) >= 2)
      .select(explode(tokenWindows(col("toks"), 2, 1)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val u1 = uni.select(col("tok").as("w1"), col("c").as("c1"))
    val u2 = uni.select(col("tok").as("w2"), col("c").as("c2"))
    bi.select(
        substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"),
        col("n_ab"))
      .join(broadcast(u1), "w1")
      .join(broadcast(u2), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("n_ab"),
        round(log((col("n_ab") * col("total")) /
          (col("c1").cast("double") * col("c2").cast("double"))), 6).as("pmi"))
  }

  /** t23: BM25 relevance scoring — the standard retrieval scorer every
    * corpus-search / RAG-recall pipeline runs: score each document
    * against a query-term set with Okapi BM25
    * (idf(t) = ln((N − df + ½)/(df + ½) + 1), Lucene's non-negative
    * variant) and surface the top-`topK`. The natural companion to t11's
    * TF-IDF (per-doc keywords) — this direction ranks DOCS for a QUERY.
    *
    * Scale shape (NO corpus-wide shuffle): for a bounded query-term
    * set, doc length and per-term tf are both NARROW per-row
    * computations — size(toks) and size(filter(toks, == term)) — so
    * the corpus is scanned once with per-row cost O(|toks| ×
    * |queryTerms|) and never shuffled. (The previous shape shuffled
    * every distinct (doc, token) pair just to recover these two
    * columns — at 100 TB that shuffle IS the query cost.) Only rows
    * with a query-term hit survive into the tiny per-term df aggregate
    * (broadcast back); corpus stats (N, avgdl) ride the plan as a
    * broadcast one-row aggregate (the t19 pattern). The global top-k
    * is a rank-limit window (WindowGroupLimit pushes the limit before
    * the final sort). For LARGE query sets (thousands of terms) the
    * inverted-index shape — explode + groupBy(doc, tok) — wins
    * instead; that is t11/t5's territory.
    *
    * Float parity: both sides sum the identical idf·tf-saturation terms
    * per doc and round to 6 dp (the t19 precedent). */
  def bm25(spark: SparkSession, dir: String,
           queryTerms: Seq[String] = Seq("hash", "join", "scan"),
           k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty && topK >= 1)
    val docs = Tables.documents(spark, dir) // fanning measured 0.76× (r19 A/B)
    val qlit = array(queryTerms.map(lit): _*)
    // one narrow scan: per-doc length + per-query-term occurrence counts
    val base = ScratchCache.arm(
      docs.select(col("doc_id"), tokens("text").as("toks"))
        .select(col("doc_id"), size(col("toks")).as("dl"),
          transform(qlit, t =>
            size(filter(col("toks"), x => x === t))).as("qtfs")))
    val stats = base.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    // only query-term hits leave the scan: (doc, term, tf, dl) rows
    val qtf = base
      .select(col("doc_id"), col("dl"), posexplode(col("qtfs")))
      .filter(col("col") > 0)
      .select(col("doc_id"), col("dl"),
        element_at(qlit, col("pos") + 1).as("tok"), col("col").as("tf"))
    val dfq = qtf.groupBy(col("tok")).agg(count_distinct(col("doc_id")).as("df"))
    val scored = qtf
      .join(broadcast(dfq), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("s", col("idf") * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
    val agg = scored.groupBy(col("doc_id"))
      .agg(round(sum(col("s")), 6).as("bm25"), count(lit(1)).as("n_terms"))
    val w = Window.orderBy(col("bm25").desc, col("doc_id"))
    agg.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("doc_id"), col("n_terms"), col("bm25"))
  }

  /** t24: source novelty scoring — for each document, the fraction of
    * its DISTINCT k-grams that first appear in the corpus at this doc
    * (first owner = min doc_id). The marginal-contribution metric crawl
    * curation ranks sources/snapshots by: a doc whose grams all exist
    * in earlier docs adds nothing; novelty ≈ 1 marks genuinely new
    * content. Complements d11 (which flags SHARED grams symmetrically —
    * here ownership is asymmetric in corpus order, so re-crawls score
    * near 0 while their originals stay high).
    *
    * Scale shape: one shuffle of distinct (doc, gram) pairs keyed by
    * gram (the window computes the per-gram min in the same exchange),
    * then a map-side-combined per-doc count agg — the inverted-index
    * build shape, never all-pairs. At 100 TB the gram key is the
    * natural partitioner and long-tail grams (seen once) never skew.
    *
    * Float parity: novelty = long/long division rounded to 6 dp —
    * identical IEEE doubles on both engines (the t19 precedent). */
  def ngramNovelty(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val grams = Tables.documentsFanned(spark, dir) // k-gram explode: map-heavy
      .select(col("doc_id"), tokens("text").as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(tokenWindows(col("toks"), k, 1))).as("gram"))
    val w = Window.partitionBy(col("gram"))
    grams.withColumn("first_doc", min(col("doc_id")).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("doc_id") === col("first_doc"), 1)).as("n_novel"))
      .withColumn("novelty", round(col("n_novel") / col("n_grams"), 6))
  }

  /** t25: domain mixture sampling — resample the corpus toward
    * temperature-flattened per-source weights under an EXACT total
    * budget: the LM-mixture recipe (alpha-sampling, XLM-R-style
    * p_s ∝ mass_s^0.5) that keeps token-heavy domains from drowning
    * small ones. Weight mass = per-source TOKEN count (the measure
    * mixtures balance, and non-degenerate even when doc counts are
    * uniform), flattened by integer sqrt; quotas are q4's
    * largest-remainder apportionment in PURE INTEGER arithmetic
    * (base = budget·w div Σw, spill = budget − Σbase handed out by
    * remainder desc, source asc) so both engines compute identical
    * quotas — no float normalization whose summation order could
    * flip a boundary. Selection within a source is t14's
    * deterministic bottom-quota by md5(doc_id). A source smaller
    * than its quota contributes everything it has and the total
    * undershoots; stealing the shortfall from other sources would
    * silently break the target mixture, so it is surfaced, not
    * patched.
    *
    * Scale shape: token counting is one narrow map + a #sources-row
    * agg; all quota arithmetic lives on that tiny relation (the
    * unpartitioned windows hold #sources rows — nothing big moves);
    * the sample is one per-source WindowGroupLimit, t14's shape. */
  def domainMix(spark: SparkSession, dir: String, budget: Int = 100): DataFrame =
    domainMixOf(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(tokens("text")).as("n_toks")),
      budget)

  /** [[domainMix]]'s core over ANY (doc_id, source, n_toks) relation —
    * composable on a curated subset (the stratifiedSampleOf pattern),
    * and the spec's entry for skewed mixtures the uniform synthetic
    * corpus cannot produce. */
  def domainMixOf(docs: DataFrame, budget: Int): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val all = Window.partitionBy() // #sources rows — single partition is the point
    val quotas = docs.groupBy(col("source"))
      .agg(sum(col("n_toks")).as("mass"))
      .withColumn("wt", floor(sqrt(col("mass").cast("double"))))
      .withColumn("base", expr(s"(${budget}L * wt) div sum(wt) over ()"))
      .withColumn("rem", expr(s"(${budget}L * wt) % sum(wt) over ()"))
      .withColumn("spill", lit(budget.toLong) - sum(col("base")).over(all))
      .withColumn("rrank", row_number().over(
        Window.orderBy(col("rem").desc, col("source").asc)))
      .withColumn("quota",
        col("base") + when(col("rrank") <= col("spill"), 1L).otherwise(0L))
      .select(col("source"), col("quota"))
    val w = Window.partitionBy(col("source")).orderBy(col("rk_key"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string").cast("binary")).as("rk_key"))
      .withColumn("rk", row_number().over(w))
      .join(broadcast(quotas), "source")
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("source"), col("rk"), col("quota"))
  }

  /** t26: hybrid retrieval via reciprocal-rank fusion — the standard
    * two-tower search recipe (Cormack et al. 2009; every production
    * hybrid store): fuse the LEXICAL ranking (t23's BM25 over the query
    * terms) with the SEMANTIC ranking (cosine to a query embedding,
    * v1's exact form) by rrf = Σ 1/(rrfK + rank), using the doc_id ↔
    * vec_id correspondence. A doc absent from one list simply
    * contributes nothing from it — no score normalization across
    * incommensurable scales, which is the point of RRF. Ranks, not raw
    * scores, cross the fusion boundary, so the only floats are
    * 1/(rrfK+rank) on exact integers — bit-identical on any engine.
    *
    * Scale shape: each leg is its own already-scaled operator (t23's
    * df-filtered scoring; the vector leg is one narrow corpus scan
    * against the broadcast single query vec — swap in [[Similarity
    * .annIvfPq]]'s index serve at 100 TB); the fusion full-outer join
    * holds ≤ nLex + nVec rows. */
  def hybridRrf(spark: SparkSession, dir: String,
                queryTerms: Seq[String] = Seq("hash", "join", "scan"),
                queryVecId: Long = 0L, nLex: Int = 50, nVec: Int = 50,
                rrfK: Int = 60, topK: Int = 20): DataFrame = {
    require(rrfK >= 1 && topK >= 1 && nLex >= 1 && nVec >= 1)
    val lex = bm25(spark, dir, queryTerms, topK = nLex)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    val wv = Window.orderBy(col("cos").desc, col("vec_id").asc)
    val vec = emb.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("embedding")))
      .withColumn("vec_rank", row_number().over(wv))
      .filter(col("vec_rank") <= nVec)
      .select(col("vec_id").as("doc_id"), col("vec_rank"))
    // written lex-term-first: the same two-term addition order as the
    // oracle, so the rounded double cannot drift
    val fused = lex.join(vec, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)), 6))
    val w = Window.orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("doc_id"), col("lex_rank"), col("vec_rank"),
        col("rrf"))
  }

  /** t27: BPE tokenizer training (Sennrich et al. 2016 — the standard
    * subword vocabulary learner every LLM data pipeline runs before
    * tokenizing): learn `nMerges` byte-pair merges over the corpus and
    * emit the ordered merge table (rank, left, right, merged,
    * pair_count) — the artifact a tokenizer ships.
    *
    * Scale split (how HF/SentencePiece train on TB corpora): the only
    * corpus-scale stage is the WORD HISTOGRAM — one hash shuffle,
    * output bounded by |distinct words|, which is vocabulary-bounded
    * (~1e7 for web text) regardless of corpus bytes. The merge loop
    * then runs on the HISTOGRAM (weighted by word count, never
    * re-touching the corpus): driver-side here, guarded by
    * `maxDistinctWords` with a loud failure (the d7 driverMaxEdges
    * pattern). Per-iteration cost is one scan of the word table
    * (O(words × avgLen)); an incremental pair-index (the tokenizers
    * crate's structure) is the documented constant-factor upgrade —
    * the asymptotics and the distribution boundary are already right.
    *
    * Determinism: argmax pair by (count desc, left asc, right asc);
    * loop stops early when the best pair count < 2 (a merge seen once
    * generalizes nothing). Rows-only at the gate BY DESIGN: the merge
    * recurrence (each iteration re-segments against all prior merges)
    * has no portable-SQL expression — semantics are pinned by
    * OperatorsSpec's independent reference implementation (the
    * d4/t21 precedent). */
  def bpeMerges(spark: SparkSession, dir: String, nMerges: Int = 40,
                maxDistinctWords: Int = 2000000): DataFrame = {
    import spark.implicits._
    trainBpe(spark, dir, nMerges, maxDistinctWords)
      .toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** Driver-held BPE model memo (the Similarity centsFor pattern):
    * training is a deterministic function of (corpus, params), so
    * t27 trains once per session and t28's tokenization serves the
    * memoized table. Keyed by applicationId — a new session never
    * sees a stale model; [[invalidateBpeMemo]] for in-place rewrites
    * and Bench's cold-pass contract. */
  private val bpeMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Int, Int), Seq[(Int, String, String, String, Long)]]()

  def invalidateBpeMemo(): Unit = bpeMemo.clear()

  private def trainBpe(spark: SparkSession, dir: String, nMerges: Int,
                       maxDistinctWords: Int): Seq[(Int, String, String, String, Long)] =
    bpeMemo.computeIfAbsent(
      (spark.sparkContext.applicationId, dir, nMerges, maxDistinctWords), _ => {
        require(nMerges >= 1 && maxDistinctWords >= 1)
        val hist = Tables.documents(spark, dir)
          .select(explode(tokens("text")).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("n"))
        val rows = hist.limit(maxDistinctWords + 1).collect()
        require(rows.length <= maxDistinctWords,
          s"corpus has > $maxDistinctWords distinct words; raise maxDistinctWords " +
            "(the histogram stays cluster-side until this bounded collect)")
        // words as symbol sequences with the end-of-word marker — one
        // symbol per CODE POINT (the segmenter's shared derivation, so
        // non-BMP characters never split into surrogate halves)
        var words: Array[(Array[String], Long)] = rows.map { r =>
          (graft.functions.BpeSegment.codePointSymbols(r.getString(0)) :+ "</w>",
            r.getLong(1))
        }
        val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
        var rank = 0
        var continue = true
        while (rank < nMerges && continue) {
          val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
          for ((syms, n) <- words; i <- 0 until syms.length - 1) {
            val p = (syms(i), syms(i + 1))
            pairCounts(p) = pairCounts.getOrElse(p, 0L) + n
          }
          val best = pairCounts.toSeq
            .sortBy { case ((l, r), c) => (-c, l, r) }.headOption
          best match {
            case Some(((l, r), c)) if c >= 2 =>
              rank += 1
              merges += ((rank, l, r, l + r, c))
              words = words.map { case (syms, n) =>
                val out = scala.collection.mutable.ArrayBuffer.empty[String]
                var i = 0
                while (i < syms.length) {
                  if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
                    out += l + r; i += 2
                  } else { out += syms(i); i += 1 }
                }
                (out.toArray, n)
              }
            case _ => continue = false
          }
        }
        merges.toSeq
      })

  /** t28: tokenize the corpus with the learned BPE merges — the apply
    * side of t27, closing the loop a real pipeline runs (train the
    * vocab, then tokenize everything with it). The merge table rides
    * the plan as two parallel string-array LITERALS into the native
    * `bpe_segment` expression (functions.BpeSegment — the
    * nearest_centroid_idx driver-held-model pattern), so tokenization
    * is a NARROW map-only scan: no shuffle, no UDF SerDe, per-row cost
    * O(merges × chars). Emits per-doc subword counts plus the
    * whitespace token count for the compression-ratio reading
    * (subwords/word — the metric tokenizer teams track). Rows-only at
    * the gate (inherits t27's no-portable-SQL reason); semantics pinned
    * by OperatorsSpec: segmenting the training corpus reproduces the
    * trainer's final word states exactly, and detokenization
    * round-trips. */
  def bpeTokenize(spark: SparkSession, dir: String, nMerges: Int = 40,
                  maxDistinctWords: Int = 2000000): DataFrame = {
    val model = trainBpe(spark, dir, nMerges, maxDistinctWords)
    val lefts = typedLit(model.map(_._2))
    val rights = typedLit(model.map(_._3))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.BpeSegment.bpe_segment(col("text"), lefts, rights).as("toks"),
        size(tokens("text")).as("n_words"))
      .select(col("doc_id"), size(col("toks")).as("n_bpe_tokens"), col("n_words"),
        round(size(col("toks")).cast("double") /
          greatest(col("n_words"), lit(1)), 4).as("subwords_per_word"))
  }

  /** t32: unigram-LM tokenizer training (the SentencePiece-unigram
    * recipe, Kudo 2018 — BPE's sibling; HF-tokenizers ships both, so
    * does graft). Same scale split as t27: the DISTRIBUTED stage is the
    * vocabulary-bounded word histogram — one shuffle over the corpus,
    * map-side combined, collected behind the same loud bound — and the
    * model loop runs driver-side on the histogram (SentencePiece
    * itself trains in one process; the corpus-sized stage is the
    * histogram, not the EM). Simplified-but-faithful training:
    * occurrence-weighted substring seed (all pieces ≤ `maxPieceLen`
    * code points), then hard-EM rounds — Viterbi E-step via the SAME
    * kernel the `unigram_segment` expression applies
    * ([[graft.functions.UnigramSegment.viterbi]], the lockstep
    * contract), count re-estimation M-step, and a linear prune
    * schedule from `seedMultiplier`×vocab down to `vocabSize` (single
    * code points are never pruned, so every word always segments).
    * Deterministic: sums are order-independent, every sort breaks ties
    * (count desc, piece asc), no RNG. Rows-only at the gate (the
    * t27 precedent — EM fixed points are not portable SQL); semantics
    * pinned by OperatorsSpec against the expression and a brute-force
    * Viterbi reference. Output: (piece, count, logprob) — the model
    * table, logprob = ln(count / Σcount) over the kept vocabulary. */
  def unigramPieces(spark: SparkSession, dir: String, vocabSize: Int = 120,
                    maxPieceLen: Int = 5, emIters: Int = 4,
                    maxDistinctWords: Int = 2000000): DataFrame = {
    import spark.implicits._
    trainUnigram(spark, dir, vocabSize, maxPieceLen, emIters, maxDistinctWords)
      .map { case (p, c, lpRounded, _) => (p, c, lpRounded) }
      .toDF("piece", "count", "logprob")
  }

  private val unigramMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Int, Int, Int, Int), Seq[(String, Long, Double, Double)]]()

  def invalidateUnigramMemo(): Unit = unigramMemo.clear()

  /** Returns (piece, count, logprob rounded to 6 dp, logprob RAW). The
    * rounded value is t32's display/output column; the RAW value is
    * what [[unigramTokenize]] feeds the segmenter — the E-step ran on
    * raw `math.log` scores, so serving must too, or segmentations
    * within ~1e-6 of a tie could resolve differently than the trainer's
    * final pass (rounding is an output-formatting concern, not a model
    * parameter). */
  private def trainUnigram(spark: SparkSession, dir: String, vocabSize: Int,
                           maxPieceLen: Int, emIters: Int,
                           maxDistinctWords: Int): Seq[(String, Long, Double, Double)] =
    unigramMemo.computeIfAbsent(
      (spark.sparkContext.applicationId, dir, vocabSize, maxPieceLen, emIters,
        maxDistinctWords), _ => {
        require(vocabSize >= 1 && maxPieceLen >= 1 && emIters >= 1)
        val rows = Tables.documents(spark, dir)
          .select(explode(tokens("text")).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("n"))
          .limit(maxDistinctWords + 1).collect()
        require(rows.length <= maxDistinctWords,
          s"corpus has > $maxDistinctWords distinct words; raise maxDistinctWords " +
            "(the histogram stays cluster-side until this bounded collect)")
        val words: Array[(Array[String], Long)] = rows.map { r =>
          (graft.functions.BpeSegment.codePointSymbols(r.getString(0)), r.getLong(1))
        }
        // occurrence-weighted substring seed
        val seed = scala.collection.mutable.HashMap.empty[String, Long]
        for ((cps, n) <- words; j <- cps.indices;
             i <- (j + 1) to math.min(j + maxPieceLen, cps.length)) {
          val p = cps.slice(j, i).mkString
          seed(p) = seed.getOrElse(p, 0L) + n
        }
        val singles: Seq[String] =
          seed.keys.filter(p => p.codePointCount(0, p.length) == 1).toSeq.sorted
        val seedBudget = vocabSize * 4
        var counts: Map[String, Long] =
          singles.map(s => s -> seed(s)).toMap ++
            seed.iterator.filter { case (p, _) => p.codePointCount(0, p.length) > 1 }
              .toSeq.sortBy { case (p, c) => (-c, p) }.take(seedBudget).toMap
        for (it <- 1 to emIters) {
          val lp = new java.util.HashMap[String, java.lang.Double](counts.size * 2)
          val total = counts.valuesIterator.sum.toDouble
          counts.foreach { case (p, c) => lp.put(p, math.log(c / total)) }
          val em = scala.collection.mutable.HashMap.empty[String, Long]
          for ((cps, n) <- words;
               s <- graft.functions.UnigramSegment.viterbi(cps, lp, maxPieceLen))
            em(s) = em.getOrElse(s, 0L) + n
          // singles never die (floor 1); multis live only if used; linear
          // prune schedule seedBudget → vocabSize across the EM rounds
          val budget = vocabSize + ((seedBudget - vocabSize).toLong *
            (emIters - it) / emIters).toInt
          val multiBudget = math.max(budget - singles.length, 0)
          counts = singles.map(s => s -> math.max(em.getOrElse(s, 0L), 1L)).toMap ++
            em.iterator.filter { case (p, c) =>
              p.codePointCount(0, p.length) > 1 && c > 0 }
              .toSeq.sortBy { case (p, c) => (-c, p) }.take(multiBudget).toMap
        }
        val total = counts.valuesIterator.sum.toDouble
        counts.toSeq.sortBy { case (p, c) => (-c, p) }.map { case (p, c) =>
          val raw = math.log(c / total)
          (p, c, BigDecimal(raw)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, raw)
        }
      })

  /** t33: tokenize the corpus with the learned unigram-LM pieces — the
    * apply side of t32, via the native `unigram_segment` expression
    * (the 12th native expression): the piece table rides the plan as
    * parallel (string, double) array literals, tokenization is a
    * narrow map-only scan, per-row cost O(chars × maxPieceLen) hash
    * lookups. Emits the same per-doc reading as t28 so the two
    * tokenizer families are directly comparable on the
    * subwords-per-word axis. Rows-only at the gate (inherits t32's
    * no-portable-SQL reason); OperatorsSpec pins expression ==
    * trainer-kernel and Viterbi optimality against brute-force
    * enumeration. */
  def unigramTokenize(spark: SparkSession, dir: String, vocabSize: Int = 120,
                      maxPieceLen: Int = 5, emIters: Int = 4,
                      maxDistinctWords: Int = 2000000): DataFrame = {
    val model = trainUnigram(spark, dir, vocabSize, maxPieceLen, emIters, maxDistinctWords)
    val pieces = typedLit(model.map(_._1))
    // RAW logprobs, not the 6-dp display values: the E-step segmented
    // under raw math.log scores, so the served table must match or
    // near-tie splits could drift from the trainer's final pass
    val logprobs = typedLit(model.map(_._4))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.UnigramSegment.unigram_segment(col("text"), pieces, logprobs)
          .as("toks"),
        size(tokens("text")).as("n_words"))
      .select(col("doc_id"), size(col("toks")).as("n_pieces"), col("n_words"),
        round(size(col("toks")).cast("double") /
          greatest(col("n_words"), lit(1)), 4).as("pieces_per_word"))
  }

  /** Bench memo contract (the Similarity memoDeps shape): t28 serves
    * the BPE model t27 trains; t33 serves the unigram model t32
    * trains. */
  val memoDeps: Map[String, Seq[String]] = Map(
    "t28_bpe_tokenize" -> Seq("t27_bpe_merges"),
    "t33_unigram_tokenize" -> Seq("t32_unigram_pieces"))
  val memoTrainers: Set[String] = Set("t27_bpe_merges", "t32_unigram_pieces")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t27_bpe_merges" -> ((s, d) => bpeMerges(s, d)),
    "t28_bpe_tokenize" -> ((s, d) => bpeTokenize(s, d)),
    "t32_unigram_pieces" -> ((s, d) => unigramPieces(s, d)),
    "t33_unigram_tokenize" -> ((s, d) => unigramTokenize(s, d)),
    "t26_hybrid_rrf" -> ((s, d) => hybridRrf(s, d)),
    "t25_domain_mix" -> ((s, d) => domainMix(s, d)),
    // _dial2 twins: same operator at a second, non-default dial, each
    // paired with the parameterized SQL builder below — proves the dial
    // actually flows through the plan instead of holding only at the
    // defaults the original oracles froze
    "t25_domain_mix_dial2" -> ((s, d) => domainMix(s, d, budget = 37)),
    "t24_ngram_novelty" -> ((s, d) => ngramNovelty(s, d)),
    "t23_bm25" -> ((s, d) => bm25(s, d)),
    "t15_quantile_filter" -> ((s, d) => quantileFilter(s, d)),
    "t15_quantile_filter_dial2" -> ((s, d) => quantileFilter(s, d, keepFrac = 0.3)),
    "t18_heavy_hitters" -> ((s, d) => heavyHitters(s, d)),
    "t18_heavy_hitters_dial2" -> ((s, d) => heavyHitters(s, d, k = 2, minCount = 9)),
    "t34_cms_sketch" -> ((s, d) => cmsSketch(s, d)),
    // dial2 forces collisions: 45-ish distinct tokens into 16 buckets
    "t34_cms_sketch_dial2" -> ((s, d) => cmsSketch(s, d, depth = 3, width = 16)),
    "t35_cms_estimate" -> ((s, d) => cmsEstimate(s, d)),
    "t35_cms_estimate_dial2" -> ((s, d) => cmsEstimate(s, d, depth = 3, width = 16)),
    "t36_weighted_sample" -> ((s, d) => weightedSample(s, d)),
    "t36_weighted_sample_dial2" -> ((s, d) => weightedSample(s, d, k = 10, beta = 0.5)),
    "t37_pmi_phrases" -> ((s, d) => pmiPhrases(s, d)),
    // dial2 at 25: the sf0.01 bigram support distribution is bimodal
    // (<5 or >=12), so 25 is the nearest dial that provably discriminates
    "t37_pmi_phrases_dial2" -> ((s, d) => pmiPhrases(s, d, minCount = 25)),
    "t19_unigram_logprob" -> unigramLogProb,
    "t22_bigram_logprob" -> bigramLogProb,
    "t29_nb_quality" -> ((s, d) => nbQuality(s, d)),
    "t30_dsir_sample" -> ((s, d) => dsirSample(s, d)),
    "t30_dsir_sample_dial2" -> ((s, d) => dsirSample(s, d, nBuckets = 256, budget = 50)),
    "t31_gopher_fracs" -> ((s, d) => gopherNgramFracs(s, d)),
    "t20_dataset_card" -> datasetCard,
    // t21 is rows-only BY DESIGN: zlib byte counts are deterministic
    // but engine-specific (no DuckDB analog) — see compressionRatio
    "t21_compression_ratio" -> compressionRatio,
    "t16_pack_sequences" -> ((s, d) => packSequences(s, d)),
    "t16_pack_sequences_dial2" -> ((s, d) => packSequences(s, d, budget = 128, nGroups = 4)),
    "t12_decontaminate" -> ((s, d) => decontaminate(s, d)),
    "t17_decontaminate_bloom" -> ((s, d) => decontaminateBloom(s, d)),
    "t13_boilerplate" -> ((s, d) => boilerplate(s, d)),
    "t14_stratified_sample" -> ((s, d) => stratifiedSample(s, d)),
    "t14_stratified_sample_dial2" -> ((s, d) => stratifiedSample(s, d, quota = 7)),
    "t11_tfidf" -> ((s, d) => tfidf(s, d)),
    "t10_filter_decision" -> filterDecision,
    "t9_hash_split" -> hashSplit,
    "t7_pii_mask" -> piiMask,
    "t8_repetition" -> repetition,
    "t1_quality" -> quality,
    "t2_token_count" -> tokenCount,
    "t3_fingerprint" -> fingerprint,
    "t4_lang_id" -> langId,
    "t5_ngram_freq" -> ((s, d) => ngramFreq(s, d)),
    "t6_chunking" -> ((s, d) => chunk(s, d)),
  )

  /** t4's DuckDB oracle, generated from [[langProfiles]]: literal
    * occurrence counts via replace-length arithmetic (same
    * non-overlapping left-to-right semantics as Spark's regexp_count on
    * a quoted literal), argmax via ROW_NUMBER ordered (score DESC, lang)
    * — exactly langId's (−score, lang) lexicographic tie-break. */
  private def langIdOracle: String = {
    val branches = langProfiles.map { case (lang, grams) =>
      val score = grams.map(g =>
        s"(LENGTH(text) - LENGTH(REPLACE(text, '$g', ''))) // ${g.length}")
        .mkString(" + ")
      s"SELECT doc_id, lang AS labeled_lang, '$lang' AS cand, $score AS score FROM documents"
    }.mkString("\nUNION ALL\n")
    s"""WITH scores AS (
       |$branches),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |                               ORDER BY score DESC, cand) AS r
       |  FROM scores)
       |SELECT doc_id, labeled_lang, cand AS predicted_lang
       |FROM ranked WHERE r = 1""".stripMargin
  }

  /** t12's oracle — also t17's: the Bloom-pruned two-phase variant is
    * value-identical by construction. */
  private def decontaminateSql: String =
    s"""WITH ${gramCte(5)},
       |eg AS (SELECT DISTINCT gram FROM g WHERE doc_id < 50),
       |m AS (
       |  SELECT g.doc_id, COUNT(*) AS n FROM g JOIN eg USING (gram)
       |  WHERE g.doc_id >= 50 GROUP BY g.doc_id)
       |SELECT d.doc_id, CAST(COALESCE(m.n, 0) AS BIGINT) AS n_matched,
       |       COALESCE(m.n, 0) > 0 AS contaminated
       |FROM (SELECT doc_id FROM documents WHERE doc_id >= 50) d
       |LEFT JOIN m USING (doc_id)""".stripMargin

  /** Distinct-k-gram CTE shared by the t12/t13 oracles — same window
    * arithmetic as Dedup's shingle CTE, parameterized by k. */
  private def gramCte(k: Int): String =
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS t FROM documents),
       |g AS (
       |  SELECT doc_id,
       |         UNNEST(list_distinct([array_to_string(t[i+1:i+$k], ' ')
       |                               FOR i IN range(0, GREATEST(LEN(t)-$k, 0) + 1)])) AS gram
       |  FROM toks)""".stripMargin

  /** t34's oracle, parameterized by (depth, width): DuckDB rebuilds the
    * identical sketch — same md5("r:token") 60-bit bucket derivation,
    * same groupBy — so every counter hash-matches. */
  private def cmsSketchCte(depth: Int, width: Int): String = {
    val rows = (0 until depth).map(r => s"($r)").mkString(", ")
    s"""toks AS (
       |  SELECT UNNEST(string_split_regex(TRIM(text), '\\s+')) AS tok FROM documents),
       |cells AS (
       |  SELECT d.r,
       |         CAST('0x' || substr(md5(CAST(d.r AS VARCHAR) || ':' || tok), 1, 15) AS BIGINT)
       |           % $width AS bucket
       |  FROM toks, (VALUES $rows) AS d(r)),
       |cms AS (
       |  SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM cells GROUP BY r, bucket)""".stripMargin
  }

  private def cmsSketchSql(depth: Int, width: Int): String =
    s"""WITH ${cmsSketchCte(depth, width)}
       |SELECT r, bucket, c FROM cms""".stripMargin

  /** t35's oracle: same sketch CTE + the min-over-rows point lookup for
    * the probe list (absent cells read 0 via the left join). */
  private def cmsEstimateSql(probes: Seq[String], depth: Int, width: Int): String = {
    val rows = (0 until depth).map(r => s"($r)").mkString(", ")
    // SQL-escape embedded quotes: probes become single-quoted DuckDB
    // literals, so a probe containing ' would otherwise break (or
    // inject into) the generated oracle. Latent with the default probe
    // list, but the builder is parameterized.
    val plist = probes.map(p => s"'${p.replace("'", "''")}'").mkString(", ")
    s"""WITH ${cmsSketchCte(depth, width)},
       |probes AS (SELECT UNNEST([$plist]) AS tok),
       |pb AS (
       |  SELECT p.tok, d.r,
       |         CAST('0x' || substr(md5(CAST(d.r AS VARCHAR) || ':' || p.tok), 1, 15) AS BIGINT)
       |           % $width AS bucket
       |  FROM probes p, (VALUES $rows) AS d(r))
       |SELECT pb.tok, CAST(MIN(COALESCE(cms.c, 0)) AS BIGINT) AS est_n
       |FROM pb LEFT JOIN cms USING (r, bucket) GROUP BY pb.tok""".stripMargin
  }

  /** t36's oracle, parameterized by (k, beta): DuckDB draws the same
    * 52-bit u (exact in a double), computes the same ln(u)/w^beta key,
    * and takes the same top-k. Ordering uses the UNROUNDED key in both
    * engines; only the emitted es_key is rounded (9 dp). */
  private def weightedSampleSql(k: Int, beta: Double): String =
    s"""WITH wdocs AS (
       |  SELECT doc_id, lang, n_chars,
       |         (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) + 0.5)
       |           / POWER(2.0, 52) AS u
       |  FROM documents WHERE n_chars > 0)
       |SELECT doc_id, lang, n_chars AS w,
       |       ROUND(LN(u) / POWER(CAST(n_chars AS DOUBLE), $beta), 9) AS es_key
       |FROM wdocs
       |ORDER BY LN(u) / POWER(CAST(n_chars AS DOUBLE), $beta) DESC, doc_id
       |LIMIT $k""".stripMargin

  /** t37's oracle, parameterized by minCount: identical window
    * arithmetic for the adjacent bigrams, identical double association
    * (counts cast to double BEFORE the product), 6-dp rounding. */
  private def pmiPhrasesSql(minCount: Long): String =
    s"""WITH toks AS (
       |  SELECT string_split_regex(TRIM(text), '\\s+') AS t FROM documents),
       |uni AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT UNNEST(t) AS tok FROM toks) GROUP BY tok),
       |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM uni),
       |bgx AS (
       |  SELECT UNNEST([array_to_string(t[i+1:i+2], ' ')
       |                 FOR i IN range(0, GREATEST(LEN(t)-2, 0) + 1)]) AS bg
       |  FROM toks WHERE LEN(t) >= 2),
       |bc AS (
       |  SELECT bg, CAST(COUNT(*) AS BIGINT) AS n_ab
       |  FROM bgx GROUP BY bg HAVING COUNT(*) >= $minCount),
       |sp AS (
       |  SELECT n_ab, split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2
       |  FROM bc)
       |SELECT sp.w1, sp.w2, sp.n_ab,
       |       ROUND(LN((sp.n_ab * tot.total)
       |                / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 6) AS pmi
       |FROM sp
       |JOIN uni u1 ON u1.tok = sp.w1
       |JOIN uni u2 ON u2.tok = sp.w2
       |CROSS JOIN tot""".stripMargin

  /** t18's oracle, parameterized by (k, minCount) — the exact
    * recount-side semantics (the Misra-Gries sketch only PRUNES
    * candidates; the reported counts are exact), so any dial pair is
    * oracle-able. */
  private def heavyHittersSql(k: Int, minCount: Long): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS t FROM documents),
       |g AS (
       |  SELECT UNNEST([array_to_string(t[i+1:i+$k], ' ')
       |                 FOR i IN range(0, GREATEST(LEN(t)-$k, 0) + 1)]) AS gram
       |  FROM toks)
       |SELECT gram, CAST(COUNT(*) AS BIGINT) AS n
       |FROM g GROUP BY gram HAVING COUNT(*) >= $minCount""".stripMargin

  /** Parameterized oracle builders (round 11): each dial-bearing
    * operator's SQL takes the dial as an argument, so the gate can
    * check a SECOND, non-default dial (`*_dial2` entries) with the
    * same text — hard-coded-default oracles only proved the operators
    * at one point of their parameter space. */
  private def domainMixSql(budget: Int): String =
    s"""WITH mass AS (
       |  SELECT source,
       |         SUM(LEN(string_split_regex(TRIM(text), '\\s+'))) AS mass
       |  FROM documents GROUP BY 1),
       |w AS (
       |  SELECT source,
       |         CAST(FLOOR(SQRT(CAST(mass AS DOUBLE))) AS BIGINT) AS wt
       |  FROM mass),
       |q AS (
       |  SELECT source, wt,
       |         ($budget * wt) // CAST(SUM(wt) OVER () AS BIGINT) AS base,
       |         ($budget * wt) % CAST(SUM(wt) OVER () AS BIGINT) AS rem
       |  FROM w),
       |q2 AS (
       |  SELECT source, base, rem,
       |         ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rrank,
       |         $budget - CAST(SUM(base) OVER () AS BIGINT) AS spill
       |  FROM q),
       |quota AS (
       |  SELECT source,
       |         base + CASE WHEN rrank <= spill THEN 1 ELSE 0 END AS quota
       |  FROM q2),
       |r AS (
       |  SELECT doc_id, source,
       |         ROW_NUMBER() OVER (PARTITION BY source
       |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |  FROM documents)
       |SELECT r.doc_id, r.source, r.rk, quota.quota
       |FROM r JOIN quota USING (source)
       |WHERE rk <= quota""".stripMargin

  private def quantileFilterSql(keepFrac: Double): String = {
    // decimal-space threshold, matching quantileFilter's BigDecimal
    // arithmetic: both engines parse the same decimal literal into the
    // same nearest double
    val threshold = (BigDecimal(1) - BigDecimal(keepFrac.toString)).toString
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |         LEN(list_distinct(string_split_regex(TRIM(text), '\\s+')))
       |           / CAST(LEN(string_split_regex(TRIM(text), '\\s+')) AS DOUBLE) AS ttr
       |  FROM documents),
       |ranked AS (
       |  SELECT doc_id, lang, ttr,
       |         PERCENT_RANK() OVER (PARTITION BY lang
       |                              ORDER BY ttr, doc_id) AS pr
       |  FROM scored)
       |SELECT doc_id, lang, ROUND(ttr, 6) AS ttr, ROUND(pr, 6) AS pr
       |FROM ranked WHERE pr >= $threshold""".stripMargin
  }

  private def packSequencesSql(budget: Int, nGroups: Int): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         LEN(string_split_regex(TRIM(text), '\\s+')) AS n_tokens,
       |         md5(CAST(doc_id AS VARCHAR)) AS rk_key
       |  FROM documents),
       |g AS (
       |  SELECT *, CAST(CAST('0x' || substr(rk_key, 1, 8) AS BIGINT) % $nGroups
       |                 AS INTEGER) AS grp
       |  FROM t),
       |c AS (
       |  SELECT doc_id, grp, n_tokens,
       |         CAST(SUM(n_tokens) OVER (PARTITION BY grp
       |                                  ORDER BY rk_key, doc_id
       |                                  ROWS UNBOUNDED PRECEDING)
       |              - n_tokens AS BIGINT) AS start_off
       |  FROM g)
       |SELECT doc_id, grp, n_tokens, start_off,
       |       CAST(start_off // $budget AS INTEGER) AS bin
       |FROM c""".stripMargin

  private def stratifiedSampleSql(quota: Int): String =
    s"""SELECT doc_id, lang, rk FROM (
       |  SELECT doc_id, lang,
       |         ROW_NUMBER() OVER (PARTITION BY lang
       |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= $quota""".stripMargin

  private def dsirSampleSql(nBuckets: Int, budget: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split_regex(TRIM(text), '\\s+') AS t
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, source,
       |         UNNEST([array_to_string(t[i+1:i+2], ' ')
       |                 FOR i IN range(0, GREATEST(LEN(t)-2, 0) + 1)]) AS bg
       |  FROM toks),
       |tf AS (
       |  SELECT doc_id, source,
       |         CAST(CAST('0x' || substr(md5(bg), 1, 8) AS BIGINT) % $nBuckets AS INTEGER) AS f,
       |         COUNT(*) AS n
       |  FROM bg GROUP BY 1, 2, 3),
       |hist AS (
       |  SELECT f,
       |         CAST(SUM(CASE WHEN source = 'src0' THEN n ELSE 0 END) AS BIGINT) AS ct,
       |         CAST(SUM(n) AS BIGINT) AS cr
       |  FROM tf GROUP BY 1),
       |tots AS (SELECT CAST(SUM(ct) AS BIGINT) AS tot_t,
       |                CAST(SUM(cr) AS BIGINT) AS tot_r FROM hist),
       |w AS (
       |  SELECT tf.doc_id, CAST(SUM(tf.n) AS BIGINT) AS n_feats,
       |         SUM(tf.n * (ln((hist.ct + 1) / CAST(tots.tot_t + $nBuckets AS DOUBLE))
       |                   - ln((hist.cr + 1) / CAST(tots.tot_r + $nBuckets AS DOUBLE)))) AS log_w
       |  FROM tf JOIN hist USING (f), tots GROUP BY tf.doc_id),
       |keyed AS (
       |  SELECT doc_id, n_feats, log_w,
       |         log_w + (-ln(-ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) + 0.5)
       |                          / 4294967296.0))) AS key
       |  FROM w)
       |SELECT doc_id, n_feats, ROUND(log_w, 6) AS log_w, ROUND(key, 6) AS sample_key
       |FROM keyed ORDER BY key DESC, doc_id LIMIT $budget""".stripMargin

  val oracle: Map[String, String] = Map(
    // t26: lex leg = t23's BM25 CTEs verbatim (rank <= nLex); vec leg =
    // v11's double cosine; fusion arithmetic is 1/(60+rank) on exact
    // integer ranks, summed lex-term-first exactly as the operator does
    "t26_hybrid_rrf" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
        |stats AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
        |qtf AS (SELECT * FROM tf WHERE tok IN ('hash', 'join', 'scan')),
        |dfq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM qtf GROUP BY tok),
        |scored AS (
        |  SELECT q.doc_id,
        |         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) *
        |         (q.tf * 2.2) /
        |         (q.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS sc
        |  FROM qtf q JOIN dfq d USING (tok) JOIN dl l USING (doc_id)
        |  CROSS JOIN stats s),
        |lagg AS (SELECT doc_id, ROUND(SUM(sc), 6) AS bm25 FROM scored GROUP BY doc_id),
        |lsel AS (
        |  SELECT doc_id, lex_rank FROM (
        |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
        |    FROM lagg) WHERE lex_rank <= 50),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qv AS (SELECT v FROM e WHERE vec_id = 0),
        |vcos AS (
        |  SELECT e.vec_id,
        |         list_dot_product(e.v, qv.v)
        |           / (sqrt(list_dot_product(e.v, e.v))
        |            * sqrt(list_dot_product(qv.v, qv.v))) AS cos
        |  FROM e CROSS JOIN qv WHERE e.vec_id <> 0),
        |vsel AS (
        |  SELECT doc_id, vec_rank FROM (
        |    SELECT vec_id AS doc_id,
        |           ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS vec_rank
        |    FROM vcos) WHERE vec_rank <= 50),
        |f AS (
        |  SELECT doc_id, lex_rank, vec_rank,
        |         ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + lex_rank), 0)
        |             + COALESCE(CAST(1 AS DOUBLE) / (60 + vec_rank), 0), 6) AS rrf
        |  FROM lsel FULL JOIN vsel USING (doc_id))
        |SELECT * FROM (
        |  SELECT ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rank,
        |         doc_id, lex_rank, vec_rank, rrf
        |  FROM f) WHERE rank <= 20""".stripMargin,
    // t25: integer quota arithmetic reproduced verbatim (div/% on
    // BIGINT; window SUMs cast back down — DuckDB widens to HUGEINT);
    // token mass via t2's whitespace split, ranking via t14's md5
    "t25_domain_mix" -> domainMixSql(100),
    // the _dial2 twins gate each parameterized operator at a SECOND,
    // non-default dial (round-11 hardening: oracles previously held
    // only at defaults) — same SQL builder, different substitution,
    // so the dial truly flows through both engines
    "t25_domain_mix_dial2" -> domainMixSql(37),
    // t24: same trigram construction as t5/t6's oracles (slice windows
    // over whitespace split); counts via FILTER so both engines emit
    // BIGINT (DuckDB's SUM(int) would widen to HUGEINT)
    "t24_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id,
        |           UNNEST([array_to_string(array_slice(t, i+1, i+3), ' ')
        |                   FOR i IN range(0, GREATEST(LEN(t)-3, 0) + 1)]) AS gram
        |    FROM toks)),
        |f AS (
        |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY gram) AS first_doc
        |  FROM grams)
        |SELECT doc_id, COUNT(*) AS n_grams,
        |       COUNT(*) FILTER (WHERE doc_id = first_doc) AS n_novel,
        |       round(COUNT(*) FILTER (WHERE doc_id = first_doc)
        |             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
        |FROM f GROUP BY doc_id""".stripMargin,
    // t23: DuckDB recomputes the identical Okapi BM25 terms (Lucene idf
    // variant, k1=1.2, b=0.75, query = hash/join/scan) and ranks the
    // same (score DESC, doc_id) — both sides round the per-doc sum to
    // 6 dp (the t19 float-parity pattern)
    "t23_bm25" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
        |stats AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
        |qtf AS (SELECT * FROM tf WHERE tok IN ('hash', 'join', 'scan')),
        |dfq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM qtf GROUP BY tok),
        |scored AS (
        |  SELECT q.doc_id,
        |         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) *
        |         (q.tf * 2.2) /
        |         (q.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl)) AS sc
        |  FROM qtf q JOIN dfq d USING (tok) JOIN dl l USING (doc_id)
        |  CROSS JOIN stats s),
        |agg AS (
        |  SELECT doc_id, ROUND(SUM(sc), 6) AS bm25,
        |         CAST(COUNT(*) AS BIGINT) AS n_terms
        |  FROM scored GROUP BY doc_id),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        |  FROM agg)
        |SELECT rank, doc_id, n_terms, bm25 FROM ranked WHERE rank <= 20""".stripMargin,
    // exact by construction: phase-1 pruning has recall 1 (pigeonhole +
    // MG deficit bound, overflow fails loudly), phase 2 recounts
    // exactly — so the naive GROUP BY / HAVING is THE oracle, not an
    // approximation of it. Hard-codes the defaults k=3, minCount=5.
    "t20_dataset_card" ->
      """WITH s AS (
        |  SELECT source, lang,
        |         CAST(LEN(string_split_regex(TRIM(text), '\s+')) AS BIGINT) AS toks,
        |         CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents),
        |a AS (
        |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(toks) AS BIGINT) AS n_tokens,
        |         ROUND(AVG(n_chars), 6) AS avg_chars
        |  FROM s GROUP BY source, lang)
        |SELECT source, lang, n_docs, n_tokens, avg_chars,
        |       ROUND(n_docs / CAST(SUM(n_docs) OVER () AS DOUBLE), 6) AS doc_share,
        |       ROUND(n_tokens / CAST(SUM(n_tokens) OVER () AS DOUBLE), 6) AS token_share
        |FROM a""".stripMargin,
    "t19_unigram_logprob" ->
      """WITH t AS (
        |  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS n FROM t GROUP BY 1, 2),
        |m AS (SELECT tok, SUM(n) AS c FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM m)
        |SELECT tf.doc_id, CAST(SUM(tf.n) AS BIGINT) AS n_tokens,
        |       ROUND(SUM(tf.n * ln(m.c / tot.total)) / SUM(tf.n), 6) AS avg_logprob
        |FROM tf JOIN m USING (tok), tot
        |GROUP BY tf.doc_id""".stripMargin,
    "t29_nb_quality" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         UNNEST(string_split_regex(TRIM(text), '\s+')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, source, tok, COUNT(*) AS n FROM t GROUP BY 1, 2, 3),
        |m AS (SELECT tok,
        |        CAST(SUM(CASE WHEN source = 'src0' THEN n ELSE 0 END) AS BIGINT) AS cp,
        |        CAST(SUM(CASE WHEN source = 'src1' THEN n ELSE 0 END) AS BIGINT) AS cn
        |      FROM tf WHERE source IN ('src0', 'src1') GROUP BY 1),
        |s AS (SELECT CAST(SUM(cp) AS BIGINT) AS tot_p, CAST(SUM(cn) AS BIGINT) AS tot_n,
        |             CAST(COUNT(*) AS BIGINT) AS vocab FROM m),
        |scored AS (
        |  SELECT tf.doc_id, CAST(SUM(tf.n) AS BIGINT) AS n_tokens,
        |         ROUND(SUM(tf.n * (ln((COALESCE(m.cp, 0) + 1)
        |                              / CAST(s.tot_p + s.vocab AS DOUBLE))
        |                         - ln((COALESCE(m.cn, 0) + 1)
        |                              / CAST(s.tot_n + s.vocab AS DOUBLE))))
        |               / SUM(tf.n), 6) AS avg_logodds
        |  FROM tf LEFT JOIN m USING (tok), s
        |  GROUP BY tf.doc_id)
        |SELECT doc_id, n_tokens, avg_logodds, avg_logodds > 0 AS keep
        |FROM scored""".stripMargin,
    "t30_dsir_sample" -> dsirSampleSql(1024, 100),
    "t30_dsir_sample_dial2" -> dsirSampleSql(256, 50),
    "t31_gopher_fracs" ->
      """WITH toks AS (
        |  SELECT doc_id, LENGTH(text) AS n_chars,
        |         string_split_regex(TRIM(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, n_chars, nn,
        |         UNNEST([array_to_string(t[i+1:i+nn], ' ')
        |                 FOR i IN range(0, GREATEST(LEN(t)-nn, 0) + 1)]) AS gram
        |  FROM toks, (SELECT UNNEST([2, 3, 4, 5, 8]) AS nn) u),
        |gc AS (
        |  SELECT doc_id, nn, gram, MAX(n_chars) AS n_chars, COUNT(*) AS cnt
        |  FROM grams GROUP BY 1, 2, 3),
        |pern AS (
        |  SELECT doc_id, nn, MAX(n_chars) AS n_chars,
        |         MAX(cnt * LENGTH(gram)) AS top_cov,
        |         SUM(CASE WHEN cnt >= 2 THEN cnt * LENGTH(gram) ELSE 0 END) AS dup_cov
        |  FROM gc GROUP BY 1, 2)
        |SELECT doc_id,
        |  ROUND(MAX(CASE WHEN nn = 2 THEN top_cov END) / MAX(CAST(n_chars AS DOUBLE)), 6) AS top_2gram_char_frac,
        |  ROUND(MAX(CASE WHEN nn = 3 THEN top_cov END) / MAX(CAST(n_chars AS DOUBLE)), 6) AS top_3gram_char_frac,
        |  ROUND(MAX(CASE WHEN nn = 4 THEN top_cov END) / MAX(CAST(n_chars AS DOUBLE)), 6) AS top_4gram_char_frac,
        |  ROUND(MAX(CASE WHEN nn = 5 THEN dup_cov END) / MAX(CAST(n_chars AS DOUBLE)), 6) AS dup_5gram_char_frac,
        |  ROUND(MAX(CASE WHEN nn = 8 THEN dup_cov END) / MAX(CAST(n_chars AS DOUBLE)), 6) AS dup_8gram_char_frac
        |FROM pern GROUP BY doc_id""".stripMargin,
    "t22_bigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t FROM documents),
        |w AS (
        |  SELECT doc_id, UNNEST([array_to_string(t[i+1:i+2], ' ')
        |                         FOR i IN range(0, GREATEST(LEN(t)-2, 0) + 1)]) AS bg
        |  FROM toks),
        |bf AS (SELECT doc_id, bg, COUNT(*) AS n FROM w GROUP BY 1, 2),
        |m0 AS (SELECT bg, SUM(n) AS c FROM bf GROUP BY 1),
        |m AS (SELECT bg, c, string_split(bg, ' ')[1] AS prev FROM m0),
        |pf AS (SELECT prev, SUM(c) AS cp FROM m GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT tok) AS vocab
        |      FROM (SELECT UNNEST(t) AS tok FROM toks))
        |SELECT bf.doc_id, CAST(SUM(bf.n) AS BIGINT) AS n_bigrams,
        |       ROUND(SUM(bf.n * ln((m.c + 1) / CAST(pf.cp + v.vocab AS DOUBLE)))
        |             / SUM(bf.n), 6) AS avg_logprob
        |FROM bf JOIN m USING (bg) JOIN pf USING (prev), v
        |GROUP BY bf.doc_id""".stripMargin,
    "t18_heavy_hitters" -> heavyHittersSql(3, 5),
    "t18_heavy_hitters_dial2" -> heavyHittersSql(2, 9),
    "t34_cms_sketch" -> cmsSketchSql(4, 512),
    "t34_cms_sketch_dial2" -> cmsSketchSql(3, 16),
    "t35_cms_estimate" -> cmsEstimateSql(
      Seq("hash", "join", "scan", "data", "zzz_absent"), 4, 512),
    "t35_cms_estimate_dial2" -> cmsEstimateSql(
      Seq("hash", "join", "scan", "data", "zzz_absent"), 3, 16),
    "t36_weighted_sample" -> weightedSampleSql(25, 1.0),
    "t36_weighted_sample_dial2" -> weightedSampleSql(10, 0.5),
    "t37_pmi_phrases" -> pmiPhrasesSql(5),
    "t37_pmi_phrases_dial2" -> pmiPhrasesSql(25),
    "t15_quantile_filter" -> quantileFilterSql(0.5),
    "t15_quantile_filter_dial2" -> quantileFilterSql(0.3),
    "t16_pack_sequences" -> packSequencesSql(512, 8),
    "t16_pack_sequences_dial2" -> packSequencesSql(128, 4),
    "t12_decontaminate" -> decontaminateSql,
    // t17 is value-identical to t12 by construction (Bloom prune has
    // false positives only; the exact confirm join removes them) — the
    // SAME oracle gates the two-phase path
    "t17_decontaminate_bloom" -> decontaminateSql,
    "t13_boilerplate" ->
      s"""WITH ${gramCte(3)},
        |dfreq AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY 1)
        |SELECT g.doc_id, COUNT(*) AS n_grams,
        |       CAST(SUM(CASE WHEN dfreq.df >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |       ROUND(CAST(SUM(CASE WHEN dfreq.df >= 25 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / COUNT(*), 6) AS boiler_ratio
        |FROM g JOIN dfreq USING (gram)
        |GROUP BY g.doc_id""".stripMargin,
    "t14_stratified_sample" -> stratifiedSampleSql(20),
    "t14_stratified_sample_dial2" -> stratifiedSampleSql(7),
    "t11_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.tok,
        |         round(t.tf * ln((SELECT n FROM nd) / d.df), 6) AS score
        |  FROM tf t JOIN dfreq d USING (tok)),
        |ranked AS (
        |  SELECT doc_id, tok, score,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id
        |                            ORDER BY score DESC, tok) AS rank
        |  FROM scored)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, tok, score
        |FROM ranked WHERE rank <= 5""".stripMargin,
    "t10_filter_decision" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t FROM documents),
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
        |d AS (
        |  SELECT r.doc_id, r.n_tokens, r.max_tok_frac, s.stopword_ratio,
        |         CASE WHEN r.n_tokens < 15 THEN 'too_short'
        |              WHEN r.max_tok_frac > 0.15 THEN 'repetitive'
        |              WHEN s.stopword_ratio > 0.15 THEN 'stopword_heavy'
        |         END AS drop_reason
        |  FROM rep r JOIN sw s USING (doc_id))
        |SELECT *, drop_reason IS NULL AS keep FROM d""".stripMargin,
    "t9_hash_split" ->
      """SELECT doc_id, lang,
        |       CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS INTEGER) AS bucket,
        |       CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 80 THEN 'train'
        |            WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "t7_pii_mask" ->
      s"""WITH raw AS (
         |  SELECT doc_id,
         |         text || ' contact user' || doc_id || '@example.com or +1-555-'
         |              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
         |  FROM documents)
         |SELECT doc_id,
         |       regexp_replace(regexp_replace(raw, '$emailRe', '<EMAIL>', 'g'),
         |                      '$phoneRe', '<PHONE>', 'g') AS masked,
         |       LEN(regexp_extract_all(raw, '$emailRe')) AS n_emails,
         |       LEN(regexp_extract_all(raw, '$phoneRe')) AS n_phones
         |FROM raw""".stripMargin,
    "t8_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t FROM documents),
        |tok AS (SELECT doc_id, UNNEST(t) AS tok FROM toks),
        |tc AS (SELECT doc_id, tok, COUNT(*) AS n FROM tok GROUP BY 1, 2),
        |tstats AS (
        |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |         CAST(MAX(n) AS BIGINT) AS max_tok_count
        |  FROM tc GROUP BY 1),
        |grams AS (
        |  SELECT doc_id, UNNEST([array_to_string(array_slice(t, i+1, i+2), ' ')
        |                         FOR i IN range(0, GREATEST(LEN(t)-2, 0) + 1)]) AS gram
        |  FROM toks),
        |gc AS (SELECT doc_id, gram, COUNT(*) AS n FROM grams GROUP BY 1, 2),
        |gstats AS (
        |  SELECT doc_id, SUM(n) AS n_bigrams,
        |         SUM(CASE WHEN n >= 2 THEN n ELSE 0 END) AS dup
        |  FROM gc GROUP BY 1)
        |SELECT t.doc_id, t.n_tokens, t.max_tok_count,
        |       t.max_tok_count / CAST(t.n_tokens AS DOUBLE) AS max_tok_frac,
        |       g.dup / CAST(g.n_bigrams AS DOUBLE) AS dup_bigram_frac
        |FROM tstats t JOIN gstats g USING (doc_id)""".stripMargin,
    "t4_lang_id" -> langIdOracle,
    "t1_quality" ->
      """SELECT doc_id, LENGTH(text) AS n_chars,
        |       LEN(string_split_regex(TRIM(text), '\s+')) AS n_tokens,
        |       LEN(list_distinct(string_split_regex(TRIM(text), '\s+'))) AS n_distinct_tokens,
        |       LEN(list_filter(string_split_regex(TRIM(text), '\s+'), t -> t IN ('a','the')))
        |         / CAST(LEN(string_split_regex(TRIM(text), '\s+')) AS DOUBLE) AS stopword_ratio
        |FROM documents""".stripMargin,
    "t2_token_count" ->
      """SELECT doc_id,
        |       LEN(string_split_regex(TRIM(text), '\s+')) AS ws_tokens,
        |       LEN(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
        |FROM documents""".stripMargin,
    "t3_fingerprint" ->
      """SELECT doc_id,
        |       md5(array_to_string(list_sort(list_distinct(string_split_regex(TRIM(text), '\s+'))), ' ')) AS fingerprint
        |FROM documents""".stripMargin,
    "t5_ngram_freq" ->
      """WITH toks AS (
        |  SELECT string_split_regex(TRIM(text), '\s+') AS t FROM documents),
        |grams AS (
        |  SELECT UNNEST([array_to_string(array_slice(t, i+1, i+2), ' ')
        |                 FOR i IN range(0, GREATEST(LEN(t)-2, 0) + 1)]) AS gram
        |  FROM toks)
        |SELECT gram, COUNT(*) AS n FROM grams
        |GROUP BY gram ORDER BY n DESC, gram LIMIT 20""".stripMargin,
    "t6_chunking" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS chunk_no,
        |         array_to_string(array_slice(t, i*24+1, i*24+32), ' ') AS chunk_text
        |  FROM toks, UNNEST(range(0, GREATEST((LEN(t)-9)//24, 0) + 1)) AS u(i))
        |SELECT doc_id, chunk_no, chunk_text,
        |       LEN(string_split(chunk_text, ' ')) AS n_tokens
        |FROM c""".stripMargin,
  )
}
