package graft.text

import org.apache.spark.sql.functions._
import graft.Tables
import graft.api.GraftQuery
import TextFns._

/** Text-analysis operators over `documents` — the LLM-training-pipeline
  * surface (token counting, quality scoring, language ID, fingerprinting).
  * All pure column expressions: embarrassingly parallel per-row maps with no
  * shuffle except the final presentation sort / small aggregations, so the
  * plans are a single WholeStageCodegen span over the parquet scan and scale
  * linearly to any corpus size.
  */
object TextQueries {

  /** Per-language keep-rates for mixture rebalancing, as x1000 integer
    * thresholds against hash60 % 1000 (exact, engine-independent — no
    * float rate comparison anywhere). Declared before any GraftQuery val
    * (TextOracle interpolates it; see the init-order note on
    * [[graft.dedup.DedupQueries.ClusterJaccard]]).
    */
  val RebalanceThresholds: Seq[(String, Int)] =
    Seq("en" -> 1000, "fr" -> 500, "es" -> 250, "de" -> 125, "zh" -> 63)

  /** Token budget per packed sequence bin and the bucket fan-out for
    * [[packing]] — also interpolated by TextOracle. The bucket count is
    * the PARALLELISM KNOB, not a semantic constant: each bucket is one
    * window-sort task holding corpus/buckets tokens, so production sizes
    * it like shuffle partitions (total_tokens / (a few GB of tokens per
    * task)) — at 100 TB that is tens of thousands of buckets, here 32
    * matches the local core count. Changing it changes which docs share
    * a bin (each bucket packs independently) but every invariant — bins
    * full except the last per bucket, totals conserved, content-hash
    * determinism — holds at ANY bucket count.
    */
  val PackTokens = 2048
  val PackBuckets = 32

  /** Minimum token count for the pipeline funnel's length stage. */
  val FunnelMinTokens = 10

  /** Fixed query-term set for the BM25 keyword-search operator — one rare
    * term ("dup", df ~5% of docs: high idf) against four common ones
    * (df ~80%: idf near the floor), so the ranking exercises both ends of
    * the idf curve. Declared before any GraftQuery val (TextOracle
    * interpolates these; see the init-order note on [[RebalanceThresholds]]).
    */
  val Bm25Terms: Seq[String] = Seq("dup", "spark", "hash", "stream", "sort")
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 10

  /** Fixed query phrase for the exact-phrase retrieval operator — three
    * common corpus words, so the phrase matches a handful of docs at every
    * SF (verified non-empty at sf0.001/0.01/0.1) while each individual
    * term's posting list stays large enough to exercise the positional
    * intersection. Declared before any GraftQuery val (TextOracle
    * interpolates it; see the init-order note on [[RebalanceThresholds]]).
    */
  val PhraseTerms: Seq[String] = Seq("table", "scan", "merge")

  /** Snippet length (tokens from the first match) reported by
    * [[phraseSearch]]: the phrase plus two tokens of right context.
    */
  val PhraseSnippetLen: Int = PhraseTerms.length + 2

  /** PII patterns ([[piiRedact]]; the same Java/RE2 common-subset regexes
    * [[piiScreen]] counts with). Declared before any GraftQuery val
    * (TextOracle interpolates them).
    */
  val PiiEmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
  val PiiDigitPat = "[0-9]{3,}"

  /** Ranks fitted by [[zipfFit]] and the log-quantization scale. 4 decimal
    * digits keeps every OLS sufficient statistic exactly representable:
    * lx ≤ ln(1000)·1e4 ≈ 6.9e4, ly ≤ ln(corpus)·1e4, so n·Σ(lx·ly) stays
    * far below 2^63 (1e6-scale logs would overflow the n·Σxy numerator).
    */
  val ZipfTopN = 1000
  val ZipfLogScale = 10000.0

  /** Eval-query set for the retrieval-quality harness ([[evalNdcg]]):
    * four fixed multi-term queries mixing the rare "dup" with common
    * terms, so per-query candidate pools and grade distributions differ.
    * Declared before any GraftQuery val (TextOracle interpolates these).
    */
  val NdcgQueries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("dup", "spark"),
    2 -> Seq("stream", "sort", "hash"),
    3 -> Seq("vector", "join", "merge"),
    4 -> Seq("customer", "slow"))

  /** NDCG cutoff (the @k). */
  val NdcgK = 10

  /** A term with tf >= this earns a second relevance point (graded, not
    * binary, ground truth: rel = |terms present| + |terms with tf >= sat|).
    */
  val NdcgTfSat = 3

  /** Position discounts 1/log2(r+1) for r = 1..[[NdcgK]], quantized to
    * 9-decimal LONGs in SCALA and inlined as literals on BOTH engines —
    * the one transcendental in the NDCG arithmetic never evaluates in
    * either engine, so last-ulp libm drift is impossible by construction
    * (stronger than the [[searchBm25]] quantize-after-ln recipe: here the
    * argument space is 10 known ints, so the constants fold completely).
    */
  def ndcgDiscQ: Seq[Long] = (1 to NdcgK).map(r =>
    math.floor(1e9 / (math.log(r + 1.0) / math.log(2.0)) + 0.5).toLong)

  /** Dialect-shared CASE mapping a rank column to its quantized discount. */
  private[text] def ndcgDiscCase(rankCol: String): String =
    "CAST(CASE " + ndcgDiscQ.zipWithIndex.map { case (q, i) =>
      s"WHEN $rankCol = ${i + 1} THEN $q"
    }.mkString(" ") + " ELSE 0 END AS BIGINT)"

  /** Dialect-shared CASE mapping a relevance grade to gain 2^rel - 1
    * (exact integers — no pow() on either engine). Grades are bounded by
    * 2·n_terms (a coverage point plus a saturation point per term), so
    * the branch list is DERIVED from [[NdcgQueries]] — a longer eval
    * query can never silently fall into the ELSE-0 branch on both
    * engines at once.
    */
  private[text] def ndcgGainCase(relCol: String): String = {
    val maxRel = 2 * NdcgQueries.map(_._2.length).max
    "CAST(CASE " + (0 to maxRel).map(g =>
      s"WHEN $relCol = $g THEN ${(1L << g) - 1}").mkString(" ") +
      " ELSE 0 END AS BIGINT)"
  }

  /** Per-document token statistics: whitespace tokens, distinct tokens,
    * type-token ratio, a BPE-ish sub-word count (regex chunks of <=4 chars),
    * and stopword ratio.
    */
  val tokenStats: GraftQuery = GraftQuery(
    "doc_token_stats",
    "token counting: whitespace + BPE-ish regex sub-words + TTR + stopword ratio",
    TextOracle.tokenStatsSql) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        col("lang"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        (size(array_distinct(col("toks"))) / size(col("toks"))).as("ttr"),
        size(expr("regexp_extract_all(text, '([a-z]{1,4})', 1)")).as("n_bpeish"),
        (stopwordCount(col("toks"), Stopwords) / size(col("toks")))
          .as("stopword_ratio"))
      .orderBy("doc_id")
  }

  /** Quality score in [0,1]: length factor x (1 - stopword ratio), plus a
    * keep/drop verdict at 0.45 — the shape of a pretraining quality filter.
    */
  val quality: GraftQuery = GraftQuery(
    "doc_quality",
    "quality scoring: length/stopword-based score + keep verdict",
    TextOracle.qualitySql) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_ratio",
        stopwordCount(col("toks"), Stopwords) / col("n_tokens"))
      .withColumn("score",
        least(lit(1.0), col("n_tokens") / lit(60.0)) * (lit(1.0) - col("stop_ratio")))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("stop_ratio"),
        col("score"),
        when(col("score") >= 0.45, lit("keep")).otherwise(lit("drop")).as("verdict"))
      .orderBy("doc_id")
  }

  /** Model-based quality filter — the trained-classifier slot (fastText in
    * CCNet/C4-style pipelines) that [[quality]]'s heuristic only
    * approximates: a corpus-trained multinomial Naive Bayes. The heuristic
    * keep/drop verdict provides the (weak, self-supervised) training
    * labels; per-class token likelihoods with add-one smoothing train in
    * one vocab-bounded pass; every doc is then scored by its tokens'
    * class-conditional log-likelihoods plus the class log-prior, and the
    * keep/drop decision is the exact-integer sign of the log-likelihood
    * ratio.
    *
    * Scale shape: the (doc, token) partial-agg is the ONE corpus-sized
    * shuffle (shared by train and score — the model never sees the corpus
    * twice); the likelihood table is the token TYPE space (vocab-bounded,
    * broadcastable here, a word-keyed shuffle join at 100 TB — the
    * [[bpeEncode]] contract), and the model statistics/priors are 1-row
    * broadcast frames. This is how a classifier-based filter actually
    * deploys on 100 TB: model state moves to the data, never the reverse.
    *
    * Determinism: ln is quantized per token TYPE and per class to 9
    * decimals (the BM25/entropy/bigram-LM recipe); each doc's score is an
    * exact LONG sum of cnt x quantized-ln (order-insensitive under any
    * partitioning), and the verdict compares exact LONGs — no float
    * boundary anywhere. Assumes both classes are non-empty (true of this
    * corpus at every SF; a one-class corpus has nothing to train).
    */
  val qualityNb: GraftQuery = GraftQuery(
    "doc_quality_nb",
    "model-based quality filter: corpus-trained Naive Bayes over heuristic labels, per-doc LLR + verdict",
    TextOracle.qualityNbSql) { (s, d) =>
    sharedDocNb(s, d).orderBy("doc_id")
  }

  /** The Naive-Bayes quality pipeline over any (doc_id, text) frame. */
  def qualityNbFrame(docsIn: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val docs = docsIn
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("score",
        least(lit(1.0), col("n_tokens") / lit(60.0)) *
          (lit(1.0) - stopwordCount(col("toks"), Stopwords) / col("n_tokens")))
      .withColumn("label",
        when(col("score") >= 0.45, lit("keep")).otherwise(lit("drop")))
    // per-doc term counts: the one corpus-sized shuffle, materialized —
    // it feeds model training AND document scoring (label rides along,
    // functionally dependent on doc_id)
    val occ = docs
      .select(col("doc_id"), col("label"), explode(col("toks")).as("token"))
      .groupBy(col("doc_id"), col("label"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val classTok = occ.groupBy(col("token"))
      .agg(
        sum(when(col("label") === "keep", col("cnt")).otherwise(0L)).as("ck"),
        sum(when(col("label") === "drop", col("cnt")).otherwise(0L)).as("cd"))
    val stats = occ.agg(
      sum(when(col("label") === "keep", col("cnt")).otherwise(0L)).as("tk"),
      sum(when(col("label") === "drop", col("cnt")).otherwise(0L)).as("td"),
      countDistinct(col("token")).as("v"))
    // add-one-smoothed per-type log-likelihoods, quantized at 1e-9; the
    // long/long divisions promote to identical doubles on both engines
    val lt = classTok.crossJoin(broadcast(stats))
      .select(col("token"),
        floor(log((col("ck") + lit(1)) / (col("tk") + col("v"))) * lit(1e9)
          + lit(0.5)).as("qk"),
        floor(log((col("cd") + lit(1)) / (col("td") + col("v"))) * lit(1e9)
          + lit(0.5)).as("qd"))
    val pri = docs.agg(
      sum(when(col("label") === "keep", 1L).otherwise(0L)).as("nk"),
      count(lit(1)).as("n"))
      .select(
        floor(log(col("nk") / col("n")) * lit(1e9) + lit(0.5)).as("pk"),
        floor(log((col("n") - col("nk")) / col("n")) * lit(1e9) + lit(0.5))
          .as("pd"))
    occ.join(broadcast(lt), "token")
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("cnt") * col("qk")).as("sk"),
        sum(col("cnt") * col("qd")).as("sd"))
      .crossJoin(broadcast(pri))
      .select(col("doc_id"), col("label").as("heur_label"),
        ((col("sk") + col("pk") - col("sd") - col("pd")) / lit(1e9)).as("nb_llr"),
        when(col("sk") + col("pk") >= col("sd") + col("pd"), lit("keep"))
          .otherwise(lit("drop")).as("nb_pred"))
      .withColumn("agree", col("nb_pred") === col("heur_label"))
      .orderBy("doc_id")
  }

  /** Span-corruption geometry for [[spanCorruption]]: a span starts at
    * ~1-in-[[CorruptStartMod]] positions and covers [[CorruptSpanLen]]
    * tokens (≈15% masked).
    */
  val CorruptStartMod = 20
  val CorruptSpanLen = 3

  /** T5-style span-corruption sample construction — the
    * training-objective builder: deterministic mask spans chosen by
    * CONTENT-INDEPENDENT position hashes (hash60(doc_id:pos) — stable
    * across re-shards/re-runs, the doc_splits property applied to
    * positions), each span covering [[CorruptSpanLen]] tokens; the
    * operator reports per-doc span/mask counts, the mask fraction, and
    * fingerprints of BOTH halves of the training pair (corrupted input
    * with masked slots, and the mask targets). Pure per-row map — the
    * sample builder runs embarrassingly parallel at any corpus size, and
    * the fingerprints make the construction oracle-checkable without
    * shipping the pair text.
    */
  val spanCorruption: GraftQuery = GraftQuery(
    "corpus_span_corruption",
    s"T5-style span corruption: 1/$CorruptStartMod position-hash span starts x $CorruptSpanLen tokens, pair fingerprints",
    TextOracle.spanCorruptionSql) { (s, d) =>
    val n = size(col("toks"))
    val starts = filter(sequence(lit(1), n), p =>
      hash60(concat_ws(":", col("doc_id"), p)) % CorruptStartMod === 0)
    val isCovered = (q: org.apache.spark.sql.Column) =>
      exists(col("starts"), st =>
        st >= q - (CorruptSpanLen - 1) && st <= q)
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("starts", starts)
      .withColumn("covered",
        filter(sequence(lit(1), n), q => isCovered(q)))
      .select(col("doc_id"),
        n.as("n_tokens"),
        size(col("starts")).as("n_spans"),
        size(col("covered")).as("n_masked"),
        (size(col("covered")) / n).as("mask_frac"),
        md5(concat_ws(" ",
          transform(sequence(lit(1), n), q =>
            when(isCovered(q), lit("_"))
              .otherwise(element_at(col("toks"), q))))).as("corrupted_fp"),
        md5(concat_ws(" ",
          transform(col("covered"), q => element_at(col("toks"), q))))
          .as("targets_fp"))
      .orderBy("doc_id")
  }

  /** Docs per bucket for [[growthCurve]]. */
  val GrowthBucketDocs = 100

  /** Vocabulary growth curve (Heaps' law) — the corpus-scaling dashboard
    * that says whether more data still buys new types: token TYPES
    * attributed to the bucket of their FIRST document (min doc_id over
    * occurrences), bucket token totals, and the running vocabulary size.
    * Scale shape: first-seen is one (token, min) partial agg — the
    * corpus-sized shuffle is the same (doc, token) posting pass every
    * vocab operator shares; the cumulative window runs over the tiny
    * bucket frame.
    */
  val growthCurve: GraftQuery = GraftQuery(
    "corpus_growth_curve",
    s"Heaps-law vocabulary growth: new types + running vocab per $GrowthBucketDocs-doc bucket",
    TextOracle.growthCurveSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val occ = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val newTypes = occ.groupBy(col("token"))
      .agg(min(col("doc_id")).as("first_doc"))
      .groupBy(expr(s"first_doc div $GrowthBucketDocs").as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val toks = occ.groupBy(expr(s"doc_id div $GrowthBucketDocs").as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(newTypes, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("vocab_size", sum(col("new_types")).over(w))
      .orderBy("bucket")
  }

  /** Model-monitoring dashboard for the trained quality filter: the
    * per-language agreement matrix between [[qualityNb]]'s prediction and
    * the heuristic label it was trained on, with per-cell LLR mass — the
    * drift/calibration readout a production classifier filter publishes
    * every ingest batch (a cell whose sum_llr flips sign against its
    * verdict flags a mis-calibrated slice). Pure composition: the shared
    * NB pipeline joined back to the corpus for the language axis, then a
    * bounded (lang x 2 x 2) aggregation.
    */
  val qualityNbConfusion: GraftQuery = GraftQuery(
    "quality_nb_confusion",
    "NB-vs-heuristic agreement matrix per language + per-cell LLR mass",
    TextOracle.qualityNbConfusionSql) { (s, d) =>
    val docs = Tables.documents(s, d)
    sharedDocNb(s, d)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("heur_label"), col("nb_pred"))
      .agg(count(lit(1)).as("docs"),
        (sum(graft.api.Det.quantize(col("nb_llr"), 9)) /
          lit(graft.api.Det.pow10(9))).as("sum_llr"))
      .orderBy("lang", "heur_label", "nb_pred")
  }

  /** THRESHOLD-FREE evaluation of the trained quality filter — the
    * ranking-quality number the confusion matrix and calibration curve
    * cannot give: ROC-AUC says how well the NB log-likelihood ratio
    * ORDERS keep-docs above drop-docs at every threshold at once, and
    * PR-AUC grades the same ranking where the classes are imbalanced.
    * Both are computed EXACTLY from the score ranking — no sampling, no
    * transcendentals:
    *
    *   - the score is the lossless BIGINT recovery of the NB LLR
    *     (nb_llr is integer/1e9 by construction, so floor(x·1e9+0.5)
    *     round-trips it — the `quality_nb_confusion` precedent);
    *   - ROC-AUC is the tie-corrected Mann-Whitney rank-sum: per
    *     DISTINCT score, positives earn twice-the-midrank
    *     2·cum + cnt + 1 (an exact integer), and
    *     AUC = (2R⁺ − P(P+1)) / (2PN) — ties contribute exactly 1/2,
    *     the standard correction, with ONE double division at the end;
    *   - PR-AUC walks distinct scores descending with cumulative
    *     TP/FP, linearly interpolating between operating points
    *     (trapezoid, anchored at recall 0 / precision 1 — the stated
    *     convention); each trapezoid term quantizes to a 1e-9 LONG
    *     before the order-insensitive sum.
    *
    * Scale shape: the per-doc score frame aggregates to DISTINCT
    * quantized scores (bounded by the corpus but typically far smaller),
    * and the cumulative windows run GLOBALLY over that score frame — the
    * documented global-window class, single-reducer-sized at every test
    * SF; at 100 TB the escape hatch is the two-pass range-partitioned
    * prefix sum (per-bucket partials, broadcast bucket offsets), same
    * downstream arithmetic. Determinism: counts and midranks are exact
    * BIGINTs; precision/recall are exact-long ratios; the only ordered
    * double sum (trapezoid) rides the 1e-9 quantization.
    */
  val qualityNbAuc: GraftQuery = GraftQuery.oneRow(
    "quality_nb_auc",
    "ROC-AUC (tie-corrected exact rank-sum) + trapezoid PR-AUC of the NB quality ranking vs heuristic labels",
    TextOracle.qualityNbAucSql) { (s, d) =>
    aucFrame(sharedDocNb(s, d))
  }

  /** ROC-AUC / PR-AUC over any (heur_label, nb_llr) frame — shared by
    * the registry query and the planted separable / shuffled / tie
    * fixtures (TextDedupSpec).
    */
  def aucFrame(nb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = nb
      .select(when(col("heur_label") === "keep", 1L).otherwise(0L).as("y"),
        graft.api.Det.quantize(col("nb_llr"), 9).as("sq"))
      .groupBy(col("sq"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    // ascending-score cumulative BEFORE each group: positives in a tie
    // group of size cnt starting after cum rows have midrank
    // cum + (cnt+1)/2, i.e. twice-midrank 2*cum + cnt + 1 (exact integer)
    val wAsc = Window.orderBy(col("sq"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // descending-score cumulative INCLUDING each group: the (TP, FP)
    // operating point after admitting every doc scoring >= this group
    val wDesc = Window.orderBy(col("sq").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // materialized via localCheckpoint: pts feeds BOTH readouts (rank-sum
    // totals and PR trapezoid) — without it each leg re-runs the score
    // groupBy from the scan (the region_set_ops lesson). The frame is
    // distinct-scores-sized, not the corpus.
    val pts = grp
      .withColumn("cum", coalesce(sum(col("cnt")).over(wAsc), lit(0L)))
      .withColumn("r2pos", col("pos") * (lit(2) * col("cum") + col("cnt") + 1))
      .withColumn("tp", sum(col("pos")).over(wDesc))
      .withColumn("fp", sum(col("cnt") - col("pos")).over(wDesc))
      .localCheckpoint()
    val tot = pts.agg(max(col("tp")).as("p"),
      max(col("fp")).as("n"), count(lit(1)).as("n_groups"),
      sum(col("r2pos")).as("r2"))
    val wLag = Window.orderBy(col("sq").desc)
    val pr = pts.crossJoin(broadcast(tot))
      .withColumn("recall", col("tp").cast("double") / col("p").cast("double"))
      .withColumn("prec", col("tp").cast("double")
        / (col("tp") + col("fp")).cast("double"))
      .withColumn("recall_prev",
        lag(col("recall"), 1, 0.0).over(wLag))
      .withColumn("prec_prev", lag(col("prec"), 1, 1.0).over(wLag))
      .agg(sum(graft.api.Det.quantize(
        (col("recall") - col("recall_prev"))
          * (col("prec") + col("prec_prev")) * lit(0.5), 9)).as("prq"))
    tot.crossJoin(broadcast(pr))
      .select(col("p").as("n_pos"), col("n").as("n_neg"), col("n_groups"),
        ((col("r2") - col("p") * (col("p") + 1)).cast("double")
          / (lit(2) * col("p") * col("n")).cast("double")).as("auc_roc"),
        (col("prq").cast("double") / lit(1e9)).as("pr_auc"))
  }

  /** [[aucFrame]] GROUPED by a key column — one row of ROC/PR-AUC per
    * key value, the identical per-key arithmetic (the windows partition
    * by the key instead of running globally, so each key's cumulative
    * sums, rank totals and trapezoid terms see exactly the rows the
    * global version would see on that key's slice). One checkpoint and
    * one window chain serve EVERY key — [[qualityLrCv]] used to run five
    * whole [[aucFrame]] subtrees, five checkpoints included (guide §2.4:
    * two operations keyed the same way share one exchange). As a bonus
    * the fold-partitioned windows replace five single-partition global
    * windows.
    */
  def aucFrameKeyed(nb: org.apache.spark.sql.DataFrame, key: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = nb
      .select(col(key),
        when(col("heur_label") === "keep", 1L).otherwise(0L).as("y"),
        graft.api.Det.quantize(col("nb_llr"), 9).as("sq"))
      .groupBy(col(key), col("sq"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val wAsc = Window.partitionBy(col(key)).orderBy(col("sq"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wDesc = Window.partitionBy(col(key)).orderBy(col("sq").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = grp
      .withColumn("cum", coalesce(sum(col("cnt")).over(wAsc), lit(0L)))
      .withColumn("r2pos", col("pos") * (lit(2) * col("cum") + col("cnt") + 1))
      .withColumn("tp", sum(col("pos")).over(wDesc))
      .withColumn("fp", sum(col("cnt") - col("pos")).over(wDesc))
      .localCheckpoint()
    val tot = pts.groupBy(col(key)).agg(max(col("tp")).as("p"),
      max(col("fp")).as("n"), count(lit(1)).as("n_groups"),
      sum(col("r2pos")).as("r2"))
    val wLag = Window.partitionBy(col(key)).orderBy(col("sq").desc)
    val pr = pts
      .join(broadcast(tot.select(col(key).as("tk"), col("p"))),
        col(key) === col("tk"))
      .withColumn("recall", col("tp").cast("double") / col("p").cast("double"))
      .withColumn("prec", col("tp").cast("double")
        / (col("tp") + col("fp")).cast("double"))
      .withColumn("recall_prev",
        lag(col("recall"), 1, 0.0).over(wLag))
      .withColumn("prec_prev", lag(col("prec"), 1, 1.0).over(wLag))
      .groupBy(col(key))
      .agg(sum(graft.api.Det.quantize(
        (col("recall") - col("recall_prev"))
          * (col("prec") + col("prec_prev")) * lit(0.5), 9)).as("prq"))
    tot.join(pr, key)
      .select(col(key), col("p").as("n_pos"), col("n").as("n_neg"),
        col("n_groups"),
        ((col("r2") - col("p") * (col("p") + 1)).cast("double")
          / (lit(2) * col("p") * col("n")).cast("double")).as("auc_roc"),
        (col("prq").cast("double") / lit(1e9)).as("pr_auc"))
  }

  /** GD sweep count for [[qualityLr]] — the oracle unrolls exactly this
    * many rounds, and the driver loop is bounded by it.
    */
  val LrIters = 8

  /** Per-doc LR features: bias-free frame (doc_id, x1 length factor,
    * x2 stopword ratio, x3 type-token ratio, y heuristic label as 1/0).
    * The same statistics [[quality]]'s heuristic thresholds — so the
    * trained filter learns a SMOOTH separator for the teacher rule, the
    * fastText-style self-supervised setup (the [[qualityNb]] labels,
    * as features instead of token likelihoods).
    */
  def lrFeatures(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.withColumn("toks", tokens(col("text")))
      .withColumn("nt", size(col("toks")))
      .withColumn("stop", stopwordCount(col("toks"), Stopwords))
      .select(col("doc_id"),
        least(lit(1.0), col("nt") / lit(60.0)).as("x1"),
        (col("stop") / col("nt")).as("x2"),
        (size(array_distinct(col("toks"))) / col("nt")).as("x3"),
        when(least(lit(1.0), col("nt") / lit(60.0)) *
          (lit(1.0) - col("stop") / col("nt")) >= 0.45, lit(1.0))
          .otherwise(lit(0.0)).as("y"))

  /** The linear score w·x under literal weights, in the FIXED
    * left-to-right association both engines replay.
    */
  private[text] def lrZ(w: IndexedSeq[Double]): org.apache.spark.sql.Column =
    lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3")

  /** The clamped-linear (hard-sigmoid) link: p = clip(0.25·z + 0.5).
    * The transcendental-free logistic surrogate — exp/1+exp would
    * evaluate libm exp on corpus-sized argument spaces in BOTH engines
    * with no bounded type space to quantize over (the [[qualityNb]]
    * per-TYPE ln recipe does not apply), so the link is the standard
    * piecewise-linear sigmoid instead: every sweep is exact IEEE
    * add/multiply/clamp, bit-replayable in DuckDB.
    */
  private[text] def lrP(z: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    least(lit(1.0), greatest(lit(0.0), lit(0.25) * z + lit(0.5)))

  /** FULL-BATCH GRADIENT-DESCENT training loop — the engine's first
    * ITERATIVELY-trained classifier (everything before was closed-form
    * — OLS/Theil-Sen/Holt — or counting — NB): [[LrIters]] sweeps of
    * w ← w − mean((p − y)·x), the matching-loss gradient step for the
    * hard-sigmoid link (unit learning rate). Each sweep is ONE
    * partial-agg pass over the checkpointed feature frame producing
    * four 1e-9-quantized LONG gradient sums + a count; the driver holds
    * only the 4-vector of weights (the `embedding_pca_power` shape —
    * model state crosses the driver, corpus data never does) and
    * re-quantizes each updated weight to 1e-9 so the DuckDB twin's
    * unrolled CTE chain reproduces every weight bit-for-bit.
    *
    * Scale shape: feature extraction is one corpus pass materialized
    * once; each sweep shuffles four longs per partition. Iteration
    * bound: exactly `iters` sweeps, no data-dependent continuation.
    */
  private[text] def lrTrain(feat0: org.apache.spark.sql.DataFrame,
      iters: Int): IndexedSeq[Double] = {
    val feat = feat0.localCheckpoint()
    var w: IndexedSeq[Double] = IndexedSeq(0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to iters) {
      val err = lrP(lrZ(w)) - col("y")
      val xs = Seq(lit(1.0), col("x1"), col("x2"), col("x3"))
      val aggs = xs.zipWithIndex.map { case (x, j) =>
        sum(graft.api.Det.quantize(err * x, 9)).as(s"g$j")
      } :+ count(lit(1)).as("n")
      val r = feat.agg(aggs.head, aggs.tail: _*).collect()(0)
      val n = r.getLong(4).toDouble
      w = w.indices.map(j => math.floor(
        (w(j) - r.getLong(j).toDouble / 1e9 / n) * 1e9 + 0.5) / 1e9)
    }
    graft.api.Checkpoints.release(feat)
    w
  }

  /** Trained-weights cache: one GD run per (session, sfDir), shared by
    * the per-doc filter and the AUC readout (the [[SharedModels]]
    * discipline, with a driver-side 4-vector instead of a table).
    */
  private def sharedLrWeights(s: org.apache.spark.sql.SparkSession,
      d: String): IndexedSeq[Double] =
    graft.api.SharedModels.value(s, d, "lr_weights")(
      lrTrain(lrFeatures(Tables.documents(s, d)), LrIters))

  /** Per-doc scores under the trained weights — shared by [[qualityLr]]
    * and [[qualityLrAuc]].
    */
  def lrScoredFrame(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val w = sharedLrWeights(s, d)
    lrFeatures(Tables.documents(s, d))
      .select(col("doc_id"),
        when(col("y") === 1.0, lit("keep")).otherwise(lit("drop"))
          .as("heur_label"),
        lrZ(w).as("lr_score"))
      .withColumn("lr_pred",
        when(col("lr_score") >= 0.0, lit("keep")).otherwise(lit("drop")))
      .withColumn("agree", col("lr_pred") === col("heur_label"))
  }

  /** Model-based quality filter #2 — the ITERATIVELY-TRAINED linear
    * classifier next to [[qualityNb]]'s counting model: a hard-sigmoid
    * logistic unit over three per-doc statistics, trained by
    * [[LrIters]] full-batch GD sweeps ([[lrTrain]]); every doc is
    * scored by the linear margin and the keep/drop decision is its
    * sign. The oracle REPLAYS THE TRAINING — the unrolled CTE chain
    * recomputes every sweep's quantized gradient and weight, so the
    * final scores (not just verdicts) hash-match.
    */
  val qualityLr: GraftQuery = GraftQuery(
    "doc_quality_lr",
    s"iteratively-trained quality filter: hard-sigmoid LR by $LrIters full-batch GD sweeps, per-doc margin + verdict",
    TextOracle.qualityLrSql) { (s, d) =>
    lrScoredFrame(s, d).orderBy("doc_id")
  }

  /** LR-vs-NB ranking-quality readout: the [[qualityNbAuc]] harness
    * applied to the GD-trained margin, side by side with the NB
    * baseline's numbers — the comparison row a filter pipeline uses to
    * pick which learned screen ships.
    */
  val qualityLrAuc: GraftQuery = GraftQuery.oneRow(
    "quality_lr_auc",
    "ROC/PR-AUC of the GD-trained LR margin vs the NB baseline, one comparison row",
    TextOracle.qualityLrAucSql) { (s, d) =>
    val lr = aucFrame(lrScoredFrame(s, d)
        .select(col("heur_label"), col("lr_score").as("nb_llr")))
      .select(col("n_pos"), col("n_neg"),
        col("auc_roc").as("lr_auc_roc"), col("pr_auc").as("lr_pr_auc"))
    val nb = aucFrame(sharedDocNb(s, d))
      .select(col("auc_roc").as("nb_auc_roc"), col("pr_auc").as("nb_pr_auc"))
    lr.crossJoin(broadcast(nb))
      .select(col("n_pos"), col("n_neg"), col("lr_auc_roc"),
        col("lr_pr_auc"), col("nb_auc_roc"), col("nb_pr_auc"),
        (col("lr_auc_roc") - col("nb_auc_roc")).as("lr_minus_nb_roc"))
  }

  /** The trained LR model AS AN ARTIFACT — the auditability readout a
    * deployed filter publishes next to its scores: the four weights
    * (bias + one per feature, named), each the bit-exact product of the
    * [[lrTrain]] GD loop (and therefore of the oracle's unrolled CTE
    * chain — the weights themselves hash-match). Sign and magnitude ARE
    * the interpretation: positive length factor, negative stopword
    * ratio is the teacher rule recovered. One row; the training cost is
    * shared via [[sharedLrWeights]].
    */
  val qualityLrWeights: GraftQuery = GraftQuery.oneRow(
    "quality_lr_weights",
    "the trained LR filter's weight vector as an auditable one-row artifact (full value parity)",
    TextOracle.qualityLrWeightsSql) { (s, d) =>
    val w = sharedLrWeights(s, d)
    s.range(1).select(
      lit(w(0)).as("w_bias"),
      lit(w(1)).as("w_len_factor"),
      lit(w(2)).as("w_stop_ratio"),
      lit(w(3)).as("w_ttr"),
      lit(LrIters).as("gd_sweeps"))
  }

  /** THREE-WAY FILTER AGREEMENT — the ensemble audit a pipeline runs
    * before swapping quality screens: every doc lands in one of the
    * 2³ (heuristic, NB, LR) verdict cells, and the cells where the two
    * LEARNED filters disagree with each other (or both contradict the
    * teacher) are exactly the docs a human reviews before trusting
    * either. Share columns grade each cell against the corpus; the
    * single-pass composition rides the shared NB table and the shared
    * LR weights — no model retrains.
    */
  val filterAgreement: GraftQuery = GraftQuery(
    "quality_filter_agreement",
    "3-way heuristic/NB/LR verdict matrix: per-cell doc counts + shares (ensemble-disagreement audit)",
    TextOracle.filterAgreementSql) { (s, d) =>
    val nb = sharedDocNb(s, d)
      .select(col("doc_id"), col("heur_label"), col("nb_pred"))
    val lr = lrScoredFrame(s, d).select(col("doc_id"), col("lr_pred"))
    val cells = nb.join(lr, "doc_id")
      .groupBy(col("heur_label"), col("nb_pred"), col("lr_pred"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = cells.agg(sum(col("n_docs")).as("n"))
    cells.crossJoin(broadcast(tot))
      .select(col("heur_label"), col("nb_pred"), col("lr_pred"),
        col("n_docs"),
        (col("n_docs") / col("n")).as("share"),
        (col("nb_pred") === col("lr_pred")).as("learned_agree"),
        (col("nb_pred") === col("heur_label") &&
          col("lr_pred") === col("heur_label")).as("all_agree"))
      .orderBy("heur_label", "nb_pred", "lr_pred")
  }

  /** Fold count for [[qualityLrCv]]. */
  val CvFolds = 5

  /** K-FOLD CROSS-VALIDATION of the GD-trained filter — the model-
    * selection harness every learned screen ships through before
    * replacing a production filter: docs land in [[CvFolds]] folds by
    * CONTENT hash of doc_id (re-shard-stable, the splits convention),
    * each fold's model trains on the other K−1 folds, and each fold's
    * held-out AUC grades a model that never saw those docs. The readout
    * is the per-fold table plus the mean — the generalization estimate
    * [[qualityLrAuc]]'s in-sample number cannot give.
    *
    * ALL K MODELS TRAIN IN ONE PASS PER SWEEP: the gradient aggregate
    * computes, for every (model k, feature j), the quantized error sum
    * over `fold ≠ k` rows under model k's CURRENT weights — K×4
    * conditional aggregates in a single job over the checkpointed
    * feature frame, so the sweep count stays [[LrIters]] regardless of
    * K (K-fold CV costs K× compute per row, never K× passes). The
    * driver holds the K×4 weight matrix; the oracle unrolls the same
    * rounds with the weight matrix as a 1-row MATERIALIZED CTE (each
    * round references the previous twice — the Bradley-Terry CTE-
    * inlining lesson). A degenerate fold (single-class holdout) RAISES
    * rather than risking the NULL-vs-Inf division divergence.
    */
  val qualityLrCv: GraftQuery = GraftQuery(
    "quality_lr_cv",
    s"$CvFolds-fold CV of the GD-trained LR filter: K models in one pass per sweep, held-out AUC per fold + mean",
    TextOracle.qualityLrCvSql) { (s, d) =>
    val feat = lrFeatures(Tables.documents(s, d))
      .withColumn("fold",
        (graft.text.TextFns.hash60(col("doc_id").cast("string"))
          % CvFolds).cast("int"))
      .localCheckpoint()
    val (w, nTrain) = lrTrainCv(feat, LrIters, CvFolds)
    // ALL FIVE HOLDOUT AUCs IN ONE KEYED PASS (round 21): each doc is
    // scored by ITS OWN fold's model via a K-branch CASE and the ROC/PR
    // arithmetic runs fold-partitioned ([[aucFrameKeyed]]) — per-fold
    // values bit-identical to the five separate [[aucFrame]] subtrees
    // this replaces (each branch evaluates the same lrZ(w(k)) on the
    // same rows), at one checkpoint + one window chain instead of five
    // (guide §2.4).
    val scoreByFold = (0 until CvFolds)
      .foldLeft(lit(null).cast("double")) { case (acc, k) =>
        when(col("fold") === k, lrZ(w(k))).otherwise(acc)
      }
    val nTrainByFold = (0 until CvFolds)
      .foldLeft(lit(null).cast("bigint")) { case (acc, k) =>
        when(col("fold") === k, lit(nTrain(k))).otherwise(acc)
      }
    val scored = feat.select(col("fold"),
      when(col("y") === 1.0, lit("keep")).otherwise(lit("drop"))
        .as("heur_label"),
      scoreByFold.as("nb_llr"))
    val perFold = aucFrameKeyed(scored, "fold").select(
      col("fold"), nTrainByFold.as("n_train"),
      col("n_pos"), col("n_neg"),
      when(col("n_pos") > 0L && col("n_neg") > 0L, col("auc_roc"))
        .otherwise(raise_error(lit("quality_lr_cv: degenerate " +
          "single-class holdout fold — CV needs both classes in " +
          "every fold")).cast("double")).as("auc_roc"),
      col("pr_auc"))
    val summ = perFold.agg(
      sum(graft.api.Det.quantize(col("auc_roc"), 9)).as("sroc"),
      sum(graft.api.Det.quantize(col("pr_auc"), 9)).as("spr"))
    perFold.crossJoin(broadcast(summ))
      .select(col("fold"), col("n_train"), col("n_pos"), col("n_neg"),
        col("auc_roc"), col("pr_auc"),
        (col("sroc") / lit(1e9) / lit(CvFolds)).as("mean_auc_roc"),
        (col("spr") / lit(1e9) / lit(CvFolds)).as("mean_pr_auc"))
      .orderBy("fold")
  }

  /** The batched K-model GD loop over a checkpointed (x1, x2, x3, y,
    * fold) frame: one aggregate job per sweep carries every model's
    * quantized gradient sums. Returns (weights per fold, train-row
    * count per fold). Shared by [[qualityLrCv]] and the replay spec.
    */
  private[text] def lrTrainCv(feat: org.apache.spark.sql.DataFrame,
      iters: Int, folds: Int)
      : (IndexedSeq[IndexedSeq[Double]], IndexedSeq[Long]) = {
    val cnts = feat.groupBy(col("fold")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getAs[Int]("fold") -> r.getAs[Long]("c")).toMap
    val total = cnts.values.sum
    val nTrain = (0 until folds).map(k => total - cnts.getOrElse(k, 0L))
    var w = IndexedSeq.fill(folds)(IndexedSeq(0.0, 0.0, 0.0, 0.0))
    val xs = Seq(lit(1.0), col("x1"), col("x2"), col("x3"))
    for (_ <- 1 to iters) {
      val aggs = for {
        k <- 0 until folds
        (x, j) <- xs.zipWithIndex
      } yield {
        val err = lrP(lrZ(w(k))) - col("y")
        sum(when(col("fold") =!= k, graft.api.Det.quantize(err * x, 9)))
          .as(s"g${k}_$j")
      }
      val r = feat.agg(aggs.head, aggs.tail: _*).collect()(0)
      w = (0 until folds).map { k =>
        (0 to 3).map { j =>
          math.floor((w(k)(j) - r.getLong(k * 4 + j).toDouble / 1e9
            / nTrain(k).toDouble) * 1e9 + 0.5) / 1e9
        }
      }
    }
    (w, nTrain)
  }

  /** Language-ID confusion matrix: marker-word argmax prediction vs the
    * corpus label. (The corpus is synthetic latin text under every label,
    * so the matrix degenerates towards the argmax default — the point is
    * the operator, not the model.)
    */
  val langConfusion: GraftQuery = GraftQuery(
    "lang_id_confusion",
    "language-ID heuristic (marker-word argmax) vs label, as a confusion matrix",
    TextOracle.langConfusionSql) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("lang_pred", langPred(tokens(col("text"))))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("docs"))
      .orderBy("lang", "lang_pred")
  }

  /** Document fingerprints: md5 of normalized text plus a min-shingle
    * (word-3-gram) hash — the rolling-hash-style content fingerprint used
    * as the exact-dedup key and as a 1-row MinHash signature.
    */
  val fingerprints: GraftQuery = GraftQuery(
    "doc_fingerprints",
    "document fingerprinting: md5(normalized) + min word-3-gram hash",
    TextOracle.fingerprintsSql) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        fingerprint(col("text")).as("fp"),
        when(size(col("toks")) >= 3,
          array_min(transform(shingles(col("toks"), 3), s => md5(s))))
          .otherwise(md5(normText(col("text")))).as("min_shingle"))
      .orderBy("doc_id")
  }

  import TextFns.SimhashBits

  /** 60-bit SimHash per document: per-token 60-bit hash, bit-wise weighted
    * vote by token frequency, sign -> bit. ONE shuffle on doc_id via the
    * native [[graft.functions.SimhashAgg]] — per-occurrence ±1 votes sum
    * to exactly the frequency-weighted votes, so the (doc_id, token)
    * pre-count shuffle and the 60-column sum row of the composed form are
    * both gone; partial vote buffers (480 B per group per partition)
    * combine map-side and the network carries buffers, not tokens.
    * (doc_id, simhash) frame — shared by the doc_simhash query and the
    * SimHash near-dup pair search in [[graft.dedup.DedupQueries]].
    */
  def simhashFrame(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    simhashFromTokens(Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks")))
  }

  /** [[simhashFrame]] from a pre-tokenized (doc_id, toks) frame — lets the
    * cross-family dedup miner share ONE corpus tokenize across its three
    * evidence classes (see [[graft.dedup.DedupQueries.tokenizedDocs]]).
    */
  def simhashFromTokens(tokDocs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    tokDocs
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .select(col("doc_id"), call_function("hash60", col("token")).as("h"))
      .groupBy(col("doc_id"))
      .agg(call_function("simhash_agg", col("h")).as("simhash"))
  }

  val simhash: GraftQuery = GraftQuery(
    "doc_simhash",
    s"SimHash ($SimhashBits-bit) per document via weighted bit votes",
    TextOracle.simhashSql) { (s, d) =>
    simhashFrame(s, d).orderBy("doc_id")
  }

  /** Deterministic train/val/test split assignment by CONTENT hash (not
    * random): hash60(normalized text) % 100 -> 80/10/10. Content-hashing
    * means the split survives re-shards, re-orders, and re-runs — the
    * property a training pipeline actually needs (and why sampleBy's
    * seed-based Bernoulli is the wrong tool across engines/runs).
    */
  val splits: GraftQuery = GraftQuery(
    "doc_splits",
    "deterministic content-hash train/val/test split (80/10/10) + per-split stats",
    TextOracle.splitsSql) { (s, d) =>
    val bucket = hash60(normText(col("text"))) % 100
    Tables.documents(s, d)
      .withColumn("split",
        when(bucket < 80, lit("train"))
          .when(bucket < 90, lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(size(tokens(col("text")))) / count(lit(1))).as("avg_tokens"))
      .orderBy("split")
  }

  /** Corpus-level n-gram frequency table: top-20 word trigrams with doc
    * frequency and total count — the LM-data staple (vocabulary/n-gram
    * stats, contamination screens). One explode + one partial-aggregated
    * groupBy; at 100 TB the shuffle carries (ngram, partial-count) pairs.
    */
  val ngramCounts: GraftQuery = GraftQuery(
    "corpus_top_ngrams",
    "corpus n-gram stats: top-20 trigrams by total count + doc frequency",
    TextOracle.ngramCountsSql) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(shingles(tokens(col("text")), 3)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(
        count(lit(1)).as("total_count"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(desc("total_count"), col("ngram"))
      .limit(20)
  }

  /** PII / pattern screen — the redaction pre-pass a pretraining pipeline
    * runs before anything ships: per document, counts of email-shaped
    * tokens and long digit runs (the two canonical PII shapes a lowercase
    * word corpus can carry) plus two structural pattern counts (long
    * tokens, vowel runs) that exercise the same regex machinery on
    * patterns this corpus actually hits. Every pattern stays in the
    * common Java-regex/RE2 subset (character classes + bounded repeats,
    * `[.]` instead of an escaped dot — no backreferences, no lookarounds)
    * so Spark and the DuckDB oracle match EXACTLY. One codegen span over
    * the scan; no shuffle except the presentation sort. At 100 TB this is
    * the pattern: regex feature extraction is embarrassingly parallel and
    * the flag column is what a downstream redaction/drop filter consumes.
    */
  val piiScreen: GraftQuery = GraftQuery(
    "doc_pii_screen",
    "PII screen: email/digit-run counts + long-token/vowel-run pattern stats per doc",
    TextOracle.piiScreenSql) { (s, d) =>
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(expr(s"regexp_extract_all(text, '$PiiEmailPat', 0)"))
          .as("n_emails"),
        size(expr(s"regexp_extract_all(text, '$PiiDigitPat', 0)"))
          .as("n_digit_runs"),
        size(expr("regexp_extract_all(text, '[a-z]{8,}', 0)")).as("n_long_tokens"),
        size(expr("regexp_extract_all(text, '[aeiou]{2,}', 0)")).as("n_vowel_runs"))
      .withColumn("pii_flag",
        when(col("n_emails") > 0 || col("n_digit_runs") > 0, 1).otherwise(0))
      .orderBy("doc_id")
  }

  /** Within-document repetition signals — the Gopher-style quality rules
    * a pretraining filter applies per document: the fraction of word
    * 2-gram occurrences that are repeats (1 - distinct/total) via pure
    * array functions (no explode), and the most-frequent-token share via
    * one (doc_id, token) partial-aggregated count. One shuffle total; the
    * array-side metrics stay inside a single codegen span over the scan.
    */
  val repetition: GraftQuery = GraftQuery(
    "doc_repetition",
    "repetition filter: dup 2-gram fraction + top-token share per document",
    TextOracle.repetitionSql) { (s, d) =>
    val docs = Tables.documents(s, d)
    val grams = docs
      .withColumn("g", shingles(tokens(col("text")), 2))
      .select(
        col("doc_id"),
        size(col("g")).as("n_2grams"),
        size(array_distinct(col("g"))).as("n_distinct_2grams"))
      .withColumn("dup_2gram_frac",
        when(col("n_2grams") > 0,
          (col("n_2grams") - col("n_distinct_2grams")) / col("n_2grams"))
          .otherwise(lit(0.0)))
    val topTok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg((max(col("cnt")) / sum(col("cnt"))).as("top_token_frac"))
    grams.join(topTok, "doc_id")
      .select(col("doc_id"), col("n_2grams"), col("n_distinct_2grams"),
        col("dup_2gram_frac"), col("top_token_frac"))
      .orderBy("doc_id")
  }

  /** Train/test decontamination screen — the hygiene pass every eval
    * pipeline runs before training: which TEST-split documents share rare
    * (DF-capped) shingles with TRAIN-split documents, how many train
    * partners each has, and the worst overlap. The content-hash split tag
    * rides ON the posting table (a per-row expression evaluated before the
    * explode), so the screen prunes at every stage the generic pair miner
    * can't: val-split postings drop out right after the corpus-wide DF
    * window (they can never be part of a train x test pair), and the
    * self-join emits ONLY cross-split candidates — ~2x fewer join output
    * rows than mining all pairs and filtering after, and no per-pair
    * split-lookup joins at all. Same result frame as the filter-after
    * plan; the DuckDB oracle is unchanged.
    */
  val contamination: GraftQuery = GraftQuery(
    "corpus_contamination",
    "decontamination screen: test-split docs sharing rare shingles with train docs",
    TextOracle.contaminationSql) { (s, d) =>
    import graft.dedup.DedupQueries.{cappedPostings, jaccardPairs}
    val bucket = hash60(normText(col("text"))) % 100
    val split = when(bucket < 80, lit("train"))
      .when(bucket < 90, lit("val"))
      .otherwise(lit("test"))
    val sh = cappedPostings(Tables.documents(s, d),
      graft.dedup.DedupQueries.ShingleN, split.as("split"))
      .filter(col("split") =!= "val")
    jaccardPairs(sh,
      col("x.split") =!= col("y.split"),
      Seq((col("x.split"), "split_a")))
      .select(
        when(col("split_a") === "test", col("doc_a")).otherwise(col("doc_b"))
          .as("test_doc"),
        col("jaccard"))
      .groupBy(col("test_doc"))
      .agg(
        count(lit(1)).as("n_train_partners"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy(desc("n_train_partners"), col("test_doc"))
  }

  /** Shard count / epoch count for [[epochShards]]. Declared before the
    * GraftQuery val (init-order rule).
    */
  val ShardCount = 8
  val EpochCount = 2

  /** Deterministic epoch shuffling — how a 100 TB training run re-orders
    * its corpus per epoch WITHOUT a global sort or a seeded RNG: shard =
    * hash60(epoch || content) mod [[ShardCount]], a pure per-row map
    * that survives re-shards/re-runs (the [[splits]] argument) yet
    * decorrelates BETWEEN epochs (the epoch tag changes every hash).
    * The audit reports the (epoch, shard) doc/token matrix with each
    * shard's share of its epoch — balance within an epoch AND
    * between-epoch independence are both visible (a shard repeating its
    * epoch-0 membership in epoch 1 would show as correlated counts; the
    * spec pins the stronger per-doc statement: same-shard carryover is
    * ~1/[[ShardCount]], not 1). Everything is exact integers except the
    * one share division.
    */
  val epochShards: GraftQuery = GraftQuery(
    "corpus_epoch_shards",
    s"deterministic per-epoch shard assignment: (epoch, shard) doc/token matrix over $ShardCount shards x $EpochCount epochs",
    TextOracle.epochShardsSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val epochs = (0 until EpochCount).map(lit(_))
    Tables.documents(s, d)
      .select(col("text"), size(tokens(col("text"))).cast("long").as("n_toks"),
        explode(array(epochs: _*)).as("epoch"))
      .select(col("epoch"),
        (hash60(concat(col("epoch").cast("string"), lit(":"), col("text")))
          % ShardCount).as("shard"),
        col("n_toks"))
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .withColumn("epoch_share",
        col("n_docs") / sum(col("n_docs")).over(
          Window.partitionBy(col("epoch"))))
      .orderBy("epoch", "shard")
  }

  /** Chunk window / stride (tokens) for [[chunking]] — 32-token overlap.
    * Declared before the GraftQuery val (init-order rule).
    */
  val ChunkSize = 128
  val ChunkStride = 96

  /** Sliding-window chunking audit — the preprocessing step that feeds an
    * embedding/retrieval index from long documents: [[ChunkSize]]-token
    * windows every [[ChunkStride]] tokens (32-token overlap so no
    * boundary-spanning passage is lost). The count and the duplicated
    * token mass are CLOSED FORM per document — k = ceil((n-C)/S)+1
    * chunks, C(k-1) + n - S(k-1) chunk tokens — so the operator is one
    * narrow map + a per-language aggregate: pure BIGINT arithmetic, no
    * explode, nothing corpus-sized shuffles (the chunk ROWS themselves
    * would be materialized by the downstream embedder; this is the
    * planning/cost artifact). `expansion` = chunk tokens / corpus tokens
    * is the storage multiplier the overlap buys.
    */
  val chunking: GraftQuery = GraftQuery(
    "corpus_chunking",
    s"sliding-window chunk audit: $ChunkSize-token windows, stride $ChunkStride, per-language counts + expansion",
    TextOracle.chunkingSql) { (s, d) =>
    val n = size(tokens(col("text"))).cast("long")
    val k = when(n <= ChunkSize, lit(1L)).otherwise(
      floor((n - ChunkSize + ChunkStride - 1) / lit(ChunkStride.toDouble))
        .cast("long") + 1L)
    val chunkToks = when(n <= ChunkSize, n).otherwise(
      lit(ChunkSize.toLong) * (k - 1) + n - lit(ChunkStride.toLong) * (k - 1))
    Tables.documents(s, d)
      .select(col("lang"), n.as("n_toks"), k.as("k"), chunkToks.as("ct"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("k")).as("n_chunks"),
        sum(col("ct")).as("n_chunk_tokens"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_chunks"),
        col("n_chunk_tokens"),
        (col("n_chunk_tokens") / col("n_tokens")).as("expansion"))
      .orderBy("lang")
  }

  /** The chunk ROWS [[chunking]] only counts: (doc_id, chunk_id, ctoks)
    * via the same closed-form chunk count + `explode(sequence)` +
    * `slice` — chunk c covers token positions c*stride .. c*stride+size-1
    * (the last chunk clamps at the doc end, exactly the mass the audit's
    * closed form charges). This is the index-grain materialization a RAG
    * pipeline embeds and retrieves over; one narrow explode, no shuffle.
    */
  def chunkRowsFrame(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val t = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
    val k = when(col("n") <= ChunkSize, lit(1L)).otherwise(
      floor((col("n") - ChunkSize + ChunkStride - 1) / lit(ChunkStride.toDouble))
        .cast("long") + 1L)
    t.withColumn("chunk_id", explode(sequence(lit(0L), k - 1)))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("toks"), (col("chunk_id") * ChunkStride + 1).cast("int"),
          lit(ChunkSize)).as("ctoks"))
      .withColumn("cl", size(col("ctoks")).cast("long"))
  }

  /** BM25 at CHUNK grain over any (doc_id, text) frame — the
    * [[bm25Frame]] scorer with the chunk as the retrieval unit: N = chunk
    * count, df = chunks containing the term, dl = chunk length. Same
    * idf-quantization determinism recipe; ties break (doc_id, chunk_id).
    */
  def chunkBm25Frame(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ch = chunkRowsFrame(docs)
    val stats = ch.agg(count(lit(1)).as("n_chunks"),
      (sum(col("cl")) / count(lit(1))).as("avgdl"))
    val post = ch
      .select(col("doc_id"), col("chunk_id"), col("cl"),
        explode(col("ctoks")).as("term"))
      .filter(col("term").isInCollection(Bm25Terms))
      .groupBy(col("doc_id"), col("chunk_id"), col("cl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val idf = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"), col("avgdl"),
        (floor(log(lit(1.0) +
          (col("n_chunks") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * lit(1e9) + lit(0.5)) / lit(1e9)).as("idf"))
    post.join(broadcast(idf), "term")
      .select(col("doc_id"), col("chunk_id"),
        floor(col("idf") * ((col("tf") * lit(Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B) +
            (lit(Bm25B) * col("cl")) / col("avgdl"))))
          * lit(1e9) + lit(0.5)).as("cq"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg((sum(col("cq")) / lit(1e9)).as("score"),
        count(lit(1)).as("terms_hit"))
      .orderBy(desc("score"), col("doc_id"), col("chunk_id"))
      .limit(Bm25TopK)
  }

  /** Chunk-grain BM25 retrieval — the ACTUAL RAG index shape ([[chunking]]
    * counts the windows; this retrieves over them): top-[[Bm25TopK]]
    * CHUNKS for the fixed query, each joined back to its document's
    * metadata. Chunk grain is what makes retrieval usable from long
    * documents — a relevant passage buried mid-doc scores on its own
    * ~[[ChunkSize]]-token window instead of being length-normalized away
    * at doc grain (ChunkSpec's fixture proves exactly that inversion).
    *
    * Scale shape: the chunk explode is a narrow ~1.3x row expansion
    * (overlap/stride), postings are filtered to the query terms BEFORE
    * any shuffle (the [[searchBm25]] contract), all statistics joins are
    * broadcast-sized, and the metadata join runs AFTER the top-k cut —
    * [[Bm25TopK]] rows against the documents scan, a by-id lookup.
    */
  val chunkSearchBm25: GraftQuery = GraftQuery(
    "chunk_search_bm25",
    s"chunk-grain BM25: top-$Bm25TopK $ChunkSize-token chunks (stride $ChunkStride) + doc metadata join-back",
    TextOracle.chunkSearchBm25Sql) { (s, d) =>
    val docs = Tables.documents(s, d)
    chunkBm25Frame(docs)
      .join(docs.select(col("doc_id"), col("lang"), col("source")), "doc_id")
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * ChunkStride).as("chunk_start"),
        col("score"), col("terms_hit"), col("lang"), col("source"))
      .orderBy(desc("score"), col("doc_id"), col("chunk_id"))
  }

  /** Sampling temperature for [[temperatureMix]] (the mT5/XLM-R alpha):
    * p_l ∝ share_l^alpha. Declared before the GraftQuery val (oracle
    * interpolation — the init-order rule).
    */
  val MixAlpha = 0.3

  /** Temperature-based mixture weights — the OTHER half of the mixing
    * story next to [[rebalance]]'s fixed keep-rates: the mT5/XLM-R
    * low-resource upsampling rule p_l ∝ (n_l/N)^[[MixAlpha]], reported
    * per language with the resulting effective epoch count
    * (p_l * N / n_l — how many passes over language l one corpus-sized
    * sample implies; > 1 for low-resource languages is exactly the
    * oversampling the temperature buys). One tiny aggregate: per-language
    * token counts partial-agg map-side, then a |langs|-bounded frame
    * carries every power/normalization — the exponent never touches a
    * corpus-sized row. Determinism: share and p are ratios of exact
    * BIGINTs; pow is quantized to 9 decimals per LANGUAGE (|langs| ulp
    * exposures, the ln-quantization recipe), and the normalizing sum is
    * an exact LONG sum of those quantized weights.
    */
  val temperatureMix: GraftQuery = GraftQuery(
    "corpus_temperature_mix",
    s"mT5-style temperature sampling weights: p_l ~ share^$MixAlpha + effective epochs per language",
    TextOracle.temperatureMixSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, d)
      .select(col("lang"), size(tokens(col("text"))).as("n_toks"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val wAll = Window.partitionBy()
    val shared = counts
      .withColumn("share",
        col("n_tokens") / sum(col("n_tokens")).over(wAll))
      .withColumn("wq",
        floor(pow(col("share"), lit(MixAlpha)) * lit(1e9) + lit(0.5))
          .cast("long"))
    shared
      .withColumn("p", col("wq") / sum(col("wq")).over(wAll))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("share"),
        col("p"),
        (col("p") / col("share")).as("effective_epochs"))
      .orderBy("lang")
  }

  /** Max token share any single source may hold, in parts-per-million
    * (48000 = 4.8% — between the corpus's typical per-source shares, so
    * both capped and uncapped sources appear at every SF). Declared
    * before the GraftQuery val (oracle interpolation — init-order rule).
    */
  val SourceCapPpm = 48000L

  /** Per-source keep-quota ENFORCEMENT — the RefinedWeb-style provenance
    * control that ACTS on what `dedup_source_matrix` only diagnoses: no
    * source may exceed [[SourceCapPpm]] ppm of the corpus's token mass.
    * Sources over quota are downsampled by CONTENT hash (the
    * [[rebalance]] selector keyed by source — deterministic across
    * re-shards/re-runs, no RNG) with an integer keep threshold
    * keep_ppm = min(1e6, floor(cap_ppm * total_tokens / source_tokens)),
    * and the operator reports target vs REALIZED shares — realized
    * drifts from target exactly as much as the hash-sampled docs' token
    * masses drift from the source mean, which is the number a mixture
    * audit needs to see.
    *
    * Scale shape: two partial-aggregated groupBys over the scan (source
    * stats, kept stats) + a |sources|-bounded broadcast of thresholds
    * back onto the scan — no shuffle ever carries documents. Determinism:
    * thresholds derive from exact BIGINT token counts through ONE
    * double division each (identical IEEE754 on both engines; the
    * numerator cap_ppm * total stays under 2^53 at any tested SF — a
    * 100 TB deployment flips it to pure BIGINT `div`, same floor);
    * shares are single divisions of exact LONGs.
    */
  val sourceQuota: GraftQuery = GraftQuery(
    "corpus_source_quota",
    s"per-source keep quota: cap any source at $SourceCapPpm ppm of token mass, content-hash downsample, target vs realized shares",
    TextOracle.sourceQuotaSql) { (s, d) =>
    sourceQuotaFrame(Tables.documents(s, d))
  }

  /** The source-quota pipeline over any (doc_id, source, text) frame. */
  def sourceQuotaFrame(in: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = in
      .select(col("doc_id"), col("source"), col("text"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
    val wAll = Window.partitionBy()
    val stats = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("docs_in"), sum(col("n_toks")).as("toks_in"))
      .withColumn("toks_total", sum(col("toks_in")).over(wAll))
      .withColumn("keep_ppm", least(lit(1000000L),
        floor(lit(SourceCapPpm) * col("toks_total") / col("toks_in"))
          .cast("long")))
    val kept = docs
      .join(broadcast(stats.select(col("source"), col("keep_ppm"))), "source")
      .filter(hash60(normText(col("text"))) % 1000000 < col("keep_ppm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_kept"), sum(col("n_toks")).as("toks_kept"))
    stats.join(kept, Seq("source"), "left")
      .select(col("source"), col("docs_in"), col("toks_in"),
        (col("toks_in") / col("toks_total")).as("share_in"),
        col("keep_ppm"),
        coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
        coalesce(col("toks_kept"), lit(0L)).as("toks_kept"))
      .withColumn("realized_share",
        col("toks_kept") / sum(col("toks_kept")).over(wAll))
      .orderBy("source")
  }

  /** Data-mixture rebalancing — the sampling step that reweights a corpus
    * toward a target language/domain mix: each language keeps a fixed
    * fraction of its documents, selected by CONTENT hash (doc survives
    * re-shards and re-runs, same property as [[splits]]) rather than a
    * seeded coin flip. Pure per-row predicate + one partial-aggregated
    * groupBy — no shuffle carries documents, only (lang, counters).
    */
  val rebalance: GraftQuery = GraftQuery(
    "corpus_rebalance",
    "mixture rebalancing: content-hash per-language downsampling to target rates",
    TextOracle.rebalanceSql) { (s, d) =>
    val thresh = RebalanceThresholds.foldLeft(lit(0)) {
      case (acc, (l, t)) => when(col("lang") === l, lit(t)).otherwise(acc)
    }
    val kept = (hash60(normText(col("text"))) % 1000) < thresh
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("docs_in"),
        sum(when(kept, 1L).otherwise(0L)).as("docs_kept"),
        (sum(when(kept, 1L).otherwise(0L)) / count(lit(1))).as("kept_frac"))
      .orderBy("lang")
  }

  /** Sequence-length histogram — the planning input for [[packing]] and
    * curriculum/bucketing decisions: width-16 token buckets with doc
    * counts and token totals. One partial-aggregated groupBy on a tiny
    * integer key space (a few hundred buckets at any corpus size), so the
    * shuffle carries (bucket, counters) — nothing scales with data volume
    * except the embarrassingly-parallel scan.
    */
  val lengthHistogram: GraftQuery = GraftQuery(
    "corpus_length_histogram",
    "sequence-length histogram: width-16 token buckets, doc counts + token totals",
    TextOracle.lengthHistogramSql) { (s, d) =>
    Tables.documents(s, d)
      .select(size(tokens(col("text"))).as("n_toks"))
      .groupBy((floor(col("n_toks") / lit(16.0)).cast("long") * 16)
        .as("bucket_lo"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_tokens"),
        (sum(col("n_toks")) / count(lit(1))).as("avg_tokens"))
      .orderBy("bucket_lo")
  }

  /** Docs kept per stratum by [[sampleStratified]]. */
  val SamplePerStratum = 50

  /** Stratified sampling — a fixed-size per-language sample selected in
    * CONTENT-hash order (the deterministic analogue of a per-stratum
    * reservoir): rank docs within each language by hash60(normalized
    * text) and keep the first [[SamplePerStratum]]. Content order makes
    * the sample stable across re-shards/re-runs AND unbiased w.r.t.
    * ingestion order — the properties an eval-set or inspection sample
    * needs. Scale shape: the rank-filter is recognized by Spark's
    * WindowGroupLimit rule, which keeps a running top-K per partition
    * BEFORE and after the exchange — the shuffle carries at most
    * K x partitions rows per stratum, never the stratum itself.
    */
  val sampleStratified: GraftQuery = GraftQuery(
    "corpus_sample_stratified",
    s"stratified sample: first $SamplePerStratum docs per language in content-hash order",
    TextOracle.sampleStratifiedSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        hash60(normText(col("text"))).as("h"))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= SamplePerStratum)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy("lang", "rk")
  }

  /** Canonicalization — the cleaning pass exact dedup keys on: strip
    * every character outside [a-z space], collapse runs of spaces, trim.
    * Reports sizes before/after, how many chars the scrub removed, and
    * the canonical fingerprint (the dedup key a cleaned corpus would
    * use). Pure per-row regex work in one codegen span over the scan —
    * embarrassingly parallel at any scale.
    */
  val normalize: GraftQuery = GraftQuery(
    "doc_normalize",
    "canonicalization: strip non-[a-z space], collapse spaces; sizes + canonical fingerprint",
    TextOracle.normalizeSql) { (s, d) =>
    val canon = trim(regexp_replace(
      regexp_replace(col("text"), "[^a-z ]", ""), " +", " "))
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        length(col("text")).as("chars_raw"),
        length(canon).as("chars_canon"),
        (length(col("text")) - length(canon)).as("chars_stripped"),
        md5(canon).as("canon_fp"))
      .orderBy("doc_id")
  }

  /** Confusable-squash map for [[normalizeNfc]]: the high-traffic
    * Cyrillic/Greek homoglyphs of latin letters (а е о р с х; ο) map to
    * their latin targets, and the zero-width characters (ZWSP/ZWNJ/ZWJ/
    * BOM) map to nothing — `translate` deletes source chars beyond the
    * target string's length, identically in Spark and DuckDB (Postgres
    * semantics). A real pipeline loads the full UTS #39 confusables
    * table the same way; the operator shape is the point.
    */
  val ConfusablesFrom =
    "\u0430\u0435\u043e\u0440\u0441\u0445\u03bf" + // Cyrillic a e o p c x, Greek omicron
      "\u200b\u200c\u200d\ufeff" // ZWSP ZWNJ ZWJ BOM — squashed to nothing
  val ConfusablesTo = "aeopcxo"

  /** UNICODE canonicalization — the cleaning [[normalize]]'s byte-level
    * scrub cannot do: NFC normalization (composed "é" == decomposed
    * "e"+U+0301, the same text in different bytes) via the native
    * codegen'd [[graft.functions.NfcNormalize]] expression, then
    * homoglyph/zero-width squashing via `translate` over
    * [[ConfusablesFrom]] — real corpora hit both classes of dup (crawl
    * text mixes normalization forms; spam mixes scripts) and a raw-byte
    * dedup key misses them. Output: per-doc codepoint counts at each
    * stage, change flags, and the canonical fingerprint (the dedup key).
    *
    * Scale shape: pure per-row expression work in one codegen span over
    * the scan — embarrassingly parallel, the [[normalize]] contract; the
    * ASCII fast path returns the input REFERENCE without allocating
    * (NFC is the identity on ASCII). Parity: NFC is one standardized
    * algorithm (UAX #15), so java.text.Normalizer (engine) and DuckDB's
    * `nfc_normalize` (oracle) agree on every input by construction —
    * this corpus is pure [a-z space] so the corpus readout is the
    * identity everywhere (flags all false), and the REAL assertions live
    * in the planted composed/decomposed/homoglyph fixtures
    * (TextDedupSpec) where the twins must still agree.
    */
  val normalizeNfc: GraftQuery = GraftQuery(
    "doc_normalize_nfc",
    "Unicode canonicalization: native NFC expression + confusable/zero-width squash, canonical dedup fingerprint",
    TextOracle.normalizeNfcSql) { (s, d) =>
    normalizeNfcFrame(Tables.documents(s, d)).orderBy("doc_id")
  }

  /** The NFC canonicalization over any (doc_id, text) frame — shared by
    * the registry query and the planted homoglyph fixtures.
    */
  def normalizeNfcFrame(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val nfc = call_function("nfc_normalize", col("text"))
    docs
      .withColumn("nfc", nfc)
      .withColumn("canon",
        translate(col("nfc"), ConfusablesFrom, ConfusablesTo))
      .select(
        col("doc_id"),
        length(col("text")).as("chars_raw"),
        length(col("nfc")).as("chars_nfc"),
        length(col("canon")).as("chars_canon"),
        (col("nfc") =!= col("text")).as("nfc_changed"),
        (col("canon") =!= col("nfc")).as("squash_changed"),
        md5(col("canon")).as("canon_fp"))
  }

  /** Count-Min-Sketch token frequencies — the third mergeable-sketch
    * surface (HLL++ distinct counts and GK quantiles are the other two),
    * graded the same way: the sketch's CONTRACT is attested against exact
    * counts, since sketch bits differ between engines. CMS never
    * undercounts, and overcounts by at most eps x stream-length with
    * probability 1-delta — both bounds become boolean columns the DuckDB
    * twin asserts TRUE. The probe side uses the native
    * [[graft.functions.CmsEstimate]] expression (Spark ships the
    * `count_min_sketch` aggregate but no probe function), so the whole
    * attestation is one distributed plan: sketch built in one
    * partial-aggregated pass, broadcast as a 1-row frame, probed by the
    * top-10 token rows. At 100 TB this is the pattern for cheap frequency
    * monitoring: the sketch is KBs of mergeable state regardless of
    * corpus size.
    */
  val tokenCms: GraftQuery = GraftQuery(
    "corpus_token_cms",
    "Count-Min sketch token counts vs exact top-10, one-sided error attestation",
    TextOracle.tokenCmsSql) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("token"))
    val sketch = toks.agg(
      expr("count_min_sketch(token, 0.001d, 0.99d, 42)").as("sk"),
      count(lit(1)).as("n_total"))
    val top = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("exact_count"))
      .orderBy(desc("exact_count"), col("token"))
      .limit(10)
    top.crossJoin(broadcast(sketch))
      .withColumn("est", call_function("cms_estimate", col("sk"), col("token")))
      .select(
        col("token"), col("exact_count"), col("n_total"),
        (col("est") >= col("exact_count")).as("never_under_ok"),
        ((col("est") - col("exact_count")) <= col("n_total") * lit(0.001))
          .as("eps_band_ok"))
      .orderBy(desc("exact_count"), col("token"))
  }

  /** Sequence packing — the step that concatenates documents into
    * fixed-token training sequences: docs are dealt into
    * [[PackBuckets]] hash buckets (the parallel unit — packing is
    * embarrassingly parallel ACROSS buckets, and no window ever spans
    * more than corpus/buckets rows), laid out in deterministic
    * content-hash order within each bucket by a running token sum, and a
    * doc's bin is where its offset starts. Per-bucket fill diagnostics
    * out; the per-doc (bucket, bin, offset) assignment is the frame a
    * writer would persist. One shuffle on bucket, one window sort — at
    * 100 TB the bucket count scales with executors, not data.
    */
  val packing: GraftQuery = GraftQuery(
    "corpus_packing",
    s"sequence packing: $PackTokens-token bins within $PackBuckets hash buckets, fill diagnostics",
    TextOracle.packingSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val h = hash60(normText(col("text")))
    val base = Tables.documents(s, d).select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_toks"),
      (h % PackBuckets).as("bucket"),
      h.as("h"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("cum", sum(col("n_toks")).over(w))
      .withColumn("bin",
        floor((col("cum") - col("n_toks")) / lit(PackTokens.toDouble)))
      // two-stage agg instead of countDistinct: hash(bucket) from the
      // window satisfies both groupBys (bucket ⊆ (bucket, bin)), so the
      // whole query runs on ONE hash exchange + the presentation sort —
      // countDistinct would add an expand and a second exchange
      .groupBy(col("bucket"), col("bin"))
      .agg(count(lit(1)).as("docs_in_bin"), sum(col("n_toks")).as("toks_in_bin"))
      .groupBy(col("bucket"))
      .agg(
        sum(col("docs_in_bin")).as("n_docs"),
        count(lit(1)).as("n_bins"),
        sum(col("toks_in_bin")).as("total_tokens"),
        (sum(col("toks_in_bin")) / (count(lit(1)) * lit(PackTokens.toDouble)))
          .as("fill_frac"))
      .orderBy("bucket")
  }

  /** BM25 keyword search over the corpus: top-[[Bm25TopK]] documents for
    * the fixed [[Bm25Terms]] query. The classic sparse-retrieval scorer —
    * what a training pipeline runs for targeted corpus probes (find docs
    * about X) and what dense ANN retrieval is benchmarked against.
    *
    * Scale shape: one scan + explode filtered to the query terms (the
    * posting frame holds only matching terms — O(matches), not O(tokens)),
    * then every join is against broadcast-sized statistics (5 idf rows, a
    * 1-row corpus aggregate): zero large-side shuffles beyond the per-doc
    * score aggregation. At 100 TB this is the standard scatter-gather
    * keyword search: each partition scores its documents independently
    * against broadcast term stats, and only (doc, score) pairs move.
    *
    * Determinism: idf = ln(1 + (N - df + ½)/(df + ½)) is the one
    * transcendental — Spark (Java Math.log) and DuckDB (libm) may differ
    * in the last ulp, so idf is QUANTIZED to 9 decimals immediately (5
    * quantizations total; a boundary flip needs a ~1e-6 coincidence on one
    * of 5 values, vs per-row exposure if the raw ln flowed on). Everything
    * downstream is correctly-rounded IEEE754 arithmetic with the same
    * association on both engines, and the per-doc sum of term
    * contributions goes through [[graft.api.Det]]-style integer
    * quantization (order-insensitive under any partitioning).
    */
  val searchBm25: GraftQuery = GraftQuery(
    "doc_search_bm25",
    s"BM25 keyword search: top-$Bm25TopK docs for ${Bm25Terms.size} fixed terms (k1=$Bm25K1, b=$Bm25B)",
    TextOracle.searchBm25Sql) { (s, d) =>
    bm25Frame(Tables.documents(s, d))
  }

  /** Exact-phrase retrieval — the positional-postings capability BM25's
    * bag-of-words scoring cannot express: find every document containing
    * the query tokens CONSECUTIVELY, with occurrence counts and a context
    * snippet. The classic inverted-index phrase algorithm, relationalized:
    * each posting for query term i at position p votes for a candidate
    * match start p − i, and a start with votes from all |phrase| distinct
    * slots is a confirmed occurrence (correct even for phrases with
    * repeated terms — a posting votes once per slot its token fills).
    *
    * Scale shape: the posexplode is filtered to the query's term set
    * BEFORE anything shuffles (the [[searchBm25]] contract — the posting
    * frame is O(term matches), not O(corpus tokens)); the one aggregation
    * key is (doc, start), bounded by the matched postings; the snippet
    * join touches only matching docs against the corpus scan. At 100 TB
    * this is how a positional index probe runs: partitions emit only
    * query-term postings and (doc, start) vote pairs move.
    *
    * Determinism: integer-only (positions, slot counts) — no floats
    * anywhere; ties impossible by construction.
    */
  val phraseSearch: GraftQuery = GraftQuery(
    "doc_phrase_search",
    s"exact-phrase retrieval: positional-posting intersection for '${PhraseTerms.mkString(" ")}'",
    TextOracle.phraseSearchSql) { (s, d) =>
    phraseFrame(Tables.documents(s, d), PhraseTerms)
  }

  /** The phrase-retrieval pipeline over any (doc_id, text) frame. */
  def phraseFrame(docs: org.apache.spark.sql.DataFrame,
      phrase: Seq[String]): org.apache.spark.sql.DataFrame = {
    val L = phrase.length
    val t = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val post = t
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .filter(col("tok").isInCollection(phrase.distinct))
    val slots = phrase.zipWithIndex.map { case (w, i) =>
      struct(lit(w).as("w"), lit(i).as("i"))
    }
    val votes = post
      .select(
        col("doc_id"),
        explode(filter(array(slots: _*), e => e.getField("w") === col("tok")))
          .as("slot"),
        col("pos"))
      .select(col("doc_id"),
        (col("pos") - col("slot").getField("i")).cast("long").as("start"),
        col("slot").getField("i").as("slot_i"))
      .filter(col("start") >= 0)
    val hits = votes
      .groupBy(col("doc_id"), col("start"))
      .agg(count_distinct(col("slot_i")).as("n_slots"))
      .filter(col("n_slots") === L)
    hits
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"), min(col("start")).as("first_pos"))
      .join(t, "doc_id")
      .select(col("doc_id"), col("n_occurrences"), col("first_pos"),
        concat_ws(" ",
          slice(col("toks"), (col("first_pos") + 1).cast("int"),
            lit(L + 2))).as("snippet"))
      .orderBy(desc("n_occurrences"), col("doc_id"))
  }

  /** Keywords reported per document by [[keywordExtract]]. */
  val KeywordTopK = 3

  /** Per-document keyword extraction — the metadata-enrichment step a
    * training pipeline runs to tag every document with its most
    * DISTINCTIVE terms (doc routing, mixture analysis, dedup triage):
    * TF-IDF scoring with the corpus as the document collection, top-
    * [[KeywordTopK]] terms per doc. The per-doc frequency rewards terms
    * the doc repeats; the idf discount suppresses corpus-wide boilerplate
    * without any stopword list.
    *
    * Scale shape: the (doc, term, tf) partial-agg is the one corpus-sized
    * shuffle; the idf table is the token TYPE space (vocab-bounded — the
    * [[qualityNb]] contract: broadcastable here, a word-keyed shuffle at
    * 100 TB); the per-doc top-k rank filter is recognized by Spark's
    * WindowGroupLimit rule, so the final shuffle carries at most
    * k x partitions rows per doc partition, never the scored postings.
    *
    * Determinism: idf's ln is quantized to a 9-decimal LONG per term TYPE
    * (the [[searchBm25]] recipe); scores are exact BIGINT tf x idf_q
    * products; ranking ties break on the term string.
    */
  val keywordExtract: GraftQuery = GraftQuery(
    "doc_keyword_extract",
    s"keyword extraction: top-$KeywordTopK TF-IDF terms per document",
    TextOracle.keywordExtractSql) { (s, d) =>
    keywordFrame(Tables.documents(s, d))
  }

  /** The TF-IDF keyword pipeline over any (doc_id, text) frame. */
  def keywordFrame(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val post = t.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val stats = t.agg(count(lit(1)).as("n_docs"))
    val idf = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        floor(log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0)))
          * lit(1e9) + lit(0.5)).cast("long").as("idf_q"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("score_q"), col("term"))
    post.join(idf, "term")
      .select(col("doc_id"), col("term"), (col("tf") * col("idf_q")).as("score_q"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= KeywordTopK)
      .select(col("doc_id"), col("rank"), col("term").as("keyword"),
        (col("score_q") / lit(1e9)).as("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** The BM25 pipeline over any (doc_id, text) frame. */
  def bm25Frame(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dl = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    val post = dl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isInCollection(Bm25Terms))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val idf = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"), col("avgdl"),
        (floor(log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * lit(1e9) + lit(0.5)) / lit(1e9)).as("idf"))
    post.join(broadcast(idf), "term")
      .select(col("doc_id"),
        floor(col("idf") * ((col("tf") * lit(Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B) +
            (lit(Bm25B) * col("dl")) / col("avgdl"))))
          * lit(1e9) + lit(0.5)).as("cq"))
      .groupBy(col("doc_id"))
      .agg((sum(col("cq")) / lit(1e9)).as("score"),
        count(lit(1)).as("terms_hit"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(Bm25TopK)
  }

  /** Per-language unigram Shannon entropy — the corpus-health number a
    * data-mixture dashboard tracks (collapsing entropy = dedup failure or
    * template flooding; diverging = contamination by another register).
    *
    * Scale shape: one explode + (lang, token) partial-agg shuffle — the
    * reduced key space is vocab x langs, independent of corpus size — then
    * a per-lang rollup of the counts frame (tiny). The transcendental
    * p*ln(p) is quantized per TYPE (not per row) to 9 decimals before the
    * sum, the BM25 idf recipe: Spark's Java Math.log and DuckDB's libm may
    * differ in the last ulp, so the exposure is bounded to vocab-many
    * boundary coincidences at 1e-9, not corpus-many.
    */
  val tokenEntropy: GraftQuery = GraftQuery(
    "corpus_token_entropy",
    "per-language unigram entropy (nats) + type/token counts",
    TextOracle.tokenEntropySql) { (s, d) =>
    val cnt = Tables.documents(s, d)
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"))
    cnt.join(tot, "lang")
      .withColumn("p", col("c") / col("n_tokens"))
      .withColumn("term",
        floor(col("p") * log(col("p")) * lit(1e9) + lit(0.5)))
      .groupBy(col("lang"), col("n_tokens"), col("n_types"))
      .agg((-sum(col("term")) / lit(1e9)).as("entropy_nats"))
      .select("lang", "n_tokens", "n_types", "entropy_nats")
      .orderBy("lang")
  }

  /** The END-TO-END corpus-prep funnel as ONE composed plan: cumulative
    * survivor doc/token counts through ingest -> min-length -> quality ->
    * exact-dedup -> train-split. This is the composition story — every
    * stage is the registry operator it names (same expressions, same
    * thresholds), fused by Catalyst into a single scan + one fingerprint
    * window + one aggregate instead of five passes. At 100 TB that fusion
    * is the difference between one corpus read and five.
    */
  val pipelineFunnel: GraftQuery = GraftQuery(
    "corpus_pipeline_funnel",
    "end-to-end prep funnel: cumulative survivors through length/quality/dedup/split",
    TextOracle.pipelineFunnelSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val flags = Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("score",
        least(lit(1.0), col("n_toks") / lit(60.0)) *
          (lit(1.0) - stopwordCount(col("toks"), Stopwords) / col("n_toks")))
      .withColumn("fp", fingerprint(col("text")))
      .withColumn("bucket", hash60(normText(col("text"))) % 100)
      .withColumn("keep_exact",
        col("doc_id") === min(col("doc_id"))
          .over(Window.partitionBy(col("fp"))))
      .withColumn("s2", col("n_toks") >= FunnelMinTokens)
      .withColumn("s3", col("s2") && col("score") >= 0.45)
      .withColumn("s4", col("s3") && col("keep_exact"))
      .withColumn("s5", col("s4") && col("bucket") < 80)
    def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    def tok(c: org.apache.spark.sql.Column) =
      sum(when(c, col("n_toks")).otherwise(0L))
    flags
      .agg(
        count(lit(1)).as("n1"), sum(col("n_toks")).as("t1"),
        cnt(col("s2")).as("n2"), tok(col("s2")).as("t2"),
        cnt(col("s3")).as("n3"), tok(col("s3")).as("t3"),
        cnt(col("s4")).as("n4"), tok(col("s4")).as("t4"),
        cnt(col("s5")).as("n5"), tok(col("s5")).as("t5"))
      .selectExpr("""stack(5,
          1, 'ingest', n1, t1,
          2, 'min_length', n2, t2,
          3, 'quality', n3, t3,
          4, 'exact_dedup', n4, t4,
          5, 'train_split', n5, t5)
        AS (stage, stage_name, n_docs, n_tokens)""")
      .orderBy("stage")
  }

  /** Minimum co-occurrence document frequency for a PMI pair. */
  val PmiMinDf = 5

  /** Collocation mining: top-20 token pairs by document-level PMI —
    * which tokens co-occur far more than chance, the signal behind
    * phrase detection and template discovery. Pair candidates come from a
    * per-document self-join of the DISTINCT-token posting frame (keyed on
    * doc_id, so the pair space is bounded by vocab^2 after the partial
    * agg, never corpus^2), and the one transcendental ln is quantized per
    * PAIR (the BM25/entropy recipe). df floors keep the PMI estimate
    * stable (a 1-doc pair maxes PMI by construction).
    *
    * A surviving pair needs df_ab >= PmiMinDf, which forces BOTH tokens'
    * df >= PmiMinDf — so the posting frame is pruned to frequent tokens
    * BEFORE the self-join. That is result-identical but removes the Zipf
    * tail (the bulk of distinct tokens per document) from the quadratic
    * per-doc fan-out, which is what keeps the join output linear-ish in
    * corpus size rather than tokens-per-doc^2 at 100 TB.
    */
  val tokenPmi: GraftQuery = GraftQuery(
    "corpus_token_pmi",
    s"top-20 token pairs by document PMI (df >= $PmiMinDf)",
    TextOracle.tokenPmiSql) { (s, d) =>
    val e = Tables.documents(s, d)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text"))))
        .as("token"))
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val freq = e.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= PmiMinDf)
    val ef = e.join(broadcast(freq.select(col("token"))), "token")
      .select(col("doc_id"), col("token"))
    val pairs = ef.as("x")
      .join(ef.as("y"),
        col("x.doc_id") === col("y.doc_id") && col("x.token") < col("y.token"))
      .groupBy(col("x.token").as("token_a"), col("y.token").as("token_b"))
      .agg(count(lit(1)).as("df_ab"))
      .filter(col("df_ab") >= PmiMinDf)
    pairs
      .join(broadcast(freq.select(col("token").as("token_a"), col("df").as("df_a"))),
        "token_a")
      .join(broadcast(freq.select(col("token").as("token_b"), col("df").as("df_b"))),
        "token_b")
      .crossJoin(broadcast(nDocs))
      .select(col("token_a"), col("token_b"), col("df_ab"),
        (floor(log((col("df_ab") * col("n_docs"))
            / (col("df_a") * col("df_b"))) * lit(1e9) + lit(0.5)) / lit(1e9))
          .as("pmi"))
      .orderBy(desc("pmi"), col("token_a"), col("token_b"))
      .limit(20)
  }

  /** CCNet-style LM quality scoring: per-doc perplexity under a bigram
    * language model trained (exact MLE, no smoothing — every scored bigram
    * was seen, it's the training corpus) on the corpus itself. Low
    * perplexity = templated/boilerplate text, high = noise; the
    * middle band is what a pretraining filter keeps.
    *
    * Scale shape: bigram occurrences are partial-aggregated to
    * (doc_id, w1, w2, cnt) BEFORE any join (the per-doc distinct-bigram
    * frame, corpus-compressed), the LM table is the (w1, w2) type space
    * (vocab-bounded, independent of corpus size), and the score join
    * shuffles on (w1, w2) — never on raw token occurrences.
    *
    * Determinism: ln p(w2|w1) is quantized per bigram TYPE to 9 decimals
    * (the BM25/entropy recipe), the per-doc sum is cnt*q over exact LONGs
    * (order-insensitive under any partitioning), and the one exp per doc
    * is quantized at 1e-6.
    */
  val lmPerplexity: GraftQuery = GraftQuery(
    "doc_lm_perplexity",
    "per-doc perplexity under a corpus-trained bigram LM (exact MLE)",
    TextOracle.lmPerplexitySql) { (s, d) =>
    sharedDocPpl(s, d).orderBy("doc_id")
  }

  /** The bigram-LM pipeline over any (doc_id, text) frame: per-doc
    * (doc_id, n_bigrams, avg_nll, ppl), unsorted.
    */
  def lmPerplexityFrame(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val t = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val bg = t.select(col("doc_id"),
      explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // occ fans out to the LM-table derivation AND the score join; without
    // materialization each consumer re-scans the corpus and re-runs the
    // bigram explode (measured: 4 parquet scans in corpus_ppl_bands).
    // Same lifecycle as the dedup posting table: scratch blocks are freed
    // by the caller's Checkpoints.releaseAll once the aggregate lands.
    val occ = bg.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val c2 = occ.groupBy(col("w1"), col("w2")).agg(sum(col("cnt")).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val lm = c2.join(c1, "w1")
      .select(col("w1"), col("w2"),
        floor(log(col("c2") / col("c1")) * lit(1e9) + lit(0.5)).as("q"))
    occ.join(lm, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"), sum(col("cnt") * col("q")).as("sq"))
      .select(col("doc_id"), col("n_bigrams"),
        (-(col("sq") / lit(1e9)) / col("n_bigrams")).as("avg_nll"),
        (floor(exp(-(col("sq") / lit(1e9)) / col("n_bigrams")) * lit(1e6)
          + lit(0.5)) / lit(1e6)).as("ppl"))
  }

  /** CCNet's head/middle/tail split: band cutoffs are FIXED constants (as
    * in CCNet, where they come from an offline calibration run), so the
    * banding is a per-row comparison + one partial-agg — no global sort,
    * no ntile window, corpus-size-independent reduce keys (lang x band).
    * Cutoffs sit at the corpus's empirical terciles so all three bands are
    * populated at every tested SF.
    */
  val PplHeadMax = 29.4
  val PplTailMin = 30.1

  /** Per-language doc/token mass and mean perplexity by quality band —
    * the dashboard a CCNet-style pipeline uses to decide which band(s) to
    * keep per language. avg_ppl sums the 1e-6-quantized ppl as exact
    * LONGs (order-insensitive) before the one division.
    */
  val pplBands: GraftQuery = GraftQuery(
    "corpus_ppl_bands",
    s"CCNet-style head/middle/tail perplexity bands per language " +
      s"(fixed cutoffs $PplHeadMax / $PplTailMin)",
    TextOracle.pplBandsSql) { (s, d) =>
    sharedDocPpl(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("band",
        when(col("ppl") < PplHeadMax, "head")
          .when(col("ppl") < PplTailMin, "middle")
          .otherwise("tail"))
      .withColumn("pq", floor(col("ppl") * lit(1e6) + lit(0.5)))
      .groupBy(col("lang"), col("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        ((sum(col("pq")) / lit(1e6)) / count(lit(1))).as("avg_ppl"))
      .orderBy("lang", "band")
  }

  /** Top-20 BPE merge candidates: the first iteration of byte-pair-
    * encoding tokenizer training — adjacent character-pair frequencies
    * weighted by word count, whose argmax is the first merge rule.
    *
    * Scale shape: this is how real BPE trainers scale — the corpus is
    * reduced to the weighted VOCABULARY first (one vocab-bounded
    * partial-agg shuffle), and the quadratic-looking pair explode runs
    * over vocab entries, independent of corpus size. All-integer
    * arithmetic: no quantization machinery needed.
    */
  val bpeMerges: GraftQuery = GraftQuery(
    "corpus_bpe_merges",
    "top-20 BPE merge candidates: weighted adjacent char-pair counts over the vocab",
    TextOracle.bpeMergesSql) { (s, d) =>
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      // Spark's sequence(1, 0) DESCENDS instead of returning empty, so a
      // 1-char word would emit two phantom 1-char "pairs" — guard it out
      // (DuckDB's range(1, 1) is already empty).
      .filter(length(col("word")) >= 2)
      .select(col("cnt"),
        explode(expr(
          "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
          .as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("cnt")).as("weight"))
      .orderBy(desc("weight"), col("pair"))
      .limit(20)
  }

  /** Merge-rule count for the ITERATED BPE trainer ([[bpeMergesN]]) —
    * TextOracle interpolates it into the unrolled CTE chain (init-order
    * note on [[RebalanceThresholds]]).
    */
  val BpeIters = 8

  /** Iterated BPE tokenizer training: [[BpeIters]] full merge rounds, the
    * real algorithm rather than [[bpeMerges]]'s single-round candidate
    * list. Each round counts adjacent SYMBOL-pair frequencies over the
    * weighted vocabulary, takes the argmax as the next merge rule
    * (tie-break: lexicographic pair), and rewrites every vocab entry by
    * greedy left-to-right replacement — so later rounds see merged
    * multi-char symbols (round 6 here merges 'm'+'er').
    *
    * Segmentations ride a delimited string: symbols wrapped as
    * `|s1||s2||...|`. The double separator makes each boundary two chars,
    * so `replace(seg, '|a||b|', '|ab|')` can never overlap-match across
    * adjacent applications and both engines' left-to-right non-overlapping
    * `replace` implement exactly the greedy BPE merge (validated against a
    * hand-rolled trainer). The corpus alphabet is strictly [a-z ], so '|'
    * cannot collide with content.
    *
    * Scale shape: the corpus reduces to the weighted vocabulary ONCE (the
    * only corpus-sized shuffle); every training round then runs on the
    * vocab frame — pair explode, vocab-bounded partial-agg shuffle, and a
    * 1-row broadcast crossJoin to apply the rule — independent of corpus
    * size, the same "model state moves, data never does" contract as
    * [[graft.sim.SimQueries]] k-means. Per-round localCheckpoint on the
    * vocab cuts the unrolled lineage (2^rounds re-execution otherwise) and
    * is the ONLY eager job per round — the 1-row argmax is left lazy, so
    * each round's rule is computed inside the next round's checkpoint job
    * and once more (from the retained vocab checkpoint, a vocab-bounded
    * agg) when the final merge-table union executes. The per-round vocab
    * checkpoints must therefore stay alive until the result materializes;
    * the session sweep (Verify/Bench `Checkpoints.releaseAll`) frees them
    * between queries.
    */
  val bpeMergesN: GraftQuery = GraftQuery(
    "corpus_bpe_merges_n",
    s"iterated BPE training: $BpeIters greedy merge rounds over the weighted vocab",
    TextOracle.bpeMergesNSql) { (s, d) =>
    sharedBpe(s, d)._1.orderBy("iter")
  }

  /** The [[bpeMergesN]] training loop over any frame with a `text` column —
    * returns the merge table (iter, a, b, merged, weight).
    */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame,
      iters: Int): org.apache.spark.sql.DataFrame =
    bpeTrainState(docs, iters, applyLast = false)._1

  /** Shared trained-tokenizer tables (the shared-model registry
    * discipline of [[graft.sim.SimQueries]]/[[graft.dedup.DedupQueries]]):
    * the BPE trainer is a driver-iterated loop whose three consumers
    * (merge table, encode, roundtrip) each re-ran it; the first per
    * (session, sfDir) trains ONCE with `applyLast = true` — the rules are
    * identical whether or not the last rule is applied to the vocab — and
    * persists the merge table + the fully-segmented vocab; the rest read.
    * A deployed tokenizer IS these two tables.
    */
  val BpeMergesTable = "bpe_merges_full"
  val BpeVocabTable = "bpe_vocab_full"
  private def sharedBpe(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val (Seq(rules, vocab), _) =
      graft.api.SharedModels.tables(s, d, BpeMergesTable, BpeVocabTable) {
        val (rules, vocab) =
          bpeTrainState(Tables.documents(s, d), BpeIters, applyLast = true)
        (Seq(rules, vocab), ())
      }
    (rules, vocab)
  }

  /** Shared per-doc NB-quality table — [[qualityNbFrame]] trains the
    * model and scores the corpus; three consumers (per-doc verdicts,
    * confusion matrix, calibration curve) share the persisted result.
    */
  val DocNbTable = "doc_nb_full"
  private def sharedDocNb(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    graft.api.SharedModels.table(s, d, DocNbTable)(
      qualityNbFrame(Tables.documents(s, d)))

  /** Shared per-doc bigram-LM perplexity table — [[lmPerplexityFrame]]
    * trains the LM and scores the corpus; its two consumers (per-doc
    * report + CCNet bands) share the persisted result.
    */
  val DocPplTable = "doc_ppl_full"
  private def sharedDocPpl(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    graft.api.SharedModels.table(s, d, DocPplTable)(
      lmPerplexityFrame(Tables.documents(s, d)))

  /** Shared trainer core: the merge table PLUS the vocab in its final
    * segmentation. `applyLast` controls whether the last round's rule is
    * applied to the vocab — training alone doesn't need it (the rule is
    * the last output), ENCODING does (the encoded corpus must reflect
    * every learned rule). One more vocab-bounded rewrite, nothing
    * corpus-sized.
    */
  private[graft] def bpeTrainState(docs: org.apache.spark.sql.DataFrame,
      iters: Int, applyLast: Boolean)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val spark = docs.sparkSession
    val vocab0 = docs
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("seg", concat(lit("|"),
        array_join(expr(
          "transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
        "||"),
        lit("|")))
      .localCheckpoint()
    // Each round's winner is ONE row, and it must cross the driver anyway
    // (the rewrite broadcasts it) — so the round collects it and applies
    // the rule as LITERALS. This is iteration control in the CC sense
    // (the driver sees the rule, never corpus data), and it kills two
    // whole classes of per-round work the frame-only form paid: the
    // per-round vocab checkpoint (the rewrites are now nested map-side
    // `replace`s over the one materialized vocab — ~tiny, recomputed
    // inside each round's aggregation job) and the end-of-plan
    // re-aggregation of every round's un-materialized `best` subplan
    // when the merge table is finally evaluated. The corpus-sized work
    // is unchanged: ONE shuffle into vocab0; every round is
    // vocab-bounded. Rule selection is the same total order
    // (weight DESC, a, b), so the merge table is byte-identical.
    var vocab = vocab0
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    for (it <- 1 to iters if !exhausted) {
      val best = vocab
        .withColumn("syms",
          split(expr("substring(seg, 2, length(seg) - 2)"), "\\|\\|"))
        // sequence(1, 0) DESCENDS instead of returning empty (the
        // bpeMerges guard) — drop fully-merged single-symbol words
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> struct(element_at(syms, i) AS a,
            |              element_at(syms, i + 1) AS b))""".stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("weight"))
        .orderBy(desc("weight"), col("a"), col("b"))
        .limit(1)
        .collect()
      if (best.isEmpty) exhausted = true // every word fully merged
      else {
        val (a, b, w) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        rules += ((it, a, b, w))
        if (it < iters || applyLast)
          vocab = vocab.withColumn("seg",
            replace(col("seg"), lit(s"|$a||$b|"), lit(s"|$a$b|")))
      }
    }
    import spark.implicits._
    // applyLast callers (encode) JOIN the final vocab against the corpus —
    // materialize it once so the join side is a sized, broadcastable
    // relation instead of a rewrite chain with estimated stats
    (rules.toSeq.toDF("iter", "a", "b", "weight")
      .select(col("iter"), col("a"), col("b"),
        concat(col("a"), col("b")).as("merged"), col("weight"))
      .orderBy("iter"),
      if (applyLast) vocab.localCheckpoint() else vocab)
  }

  /** BPE ENCODE — the apply half of the tokenizer story ([[bpeMergesN]]
    * trains, this tokenizes). The trained vocab IS the encoder: after
    * [[BpeIters]] merge rounds every distinct word's `seg` column holds
    * its final sub-word segmentation, so encoding the corpus is a
    * corpus-words → vocab equi-join — no per-document merge replay, the
    * standard trick in production tokenizer pipelines (encode cost =
    * explode + join, and the join side is vocab-bounded: broadcastable
    * here, a word-keyed shuffle join at 100 TB where the type count still
    * trails the token count by orders of magnitude). Reports per-language
    * fertility: chars per BPE token (the compression the 8 rules bought)
    * and tokens per word.
    */
  val bpeEncode: GraftQuery = GraftQuery(
    "corpus_bpe_encode",
    s"BPE encode via the $BpeIters-rule trained vocab: per-language fertility + compression",
    TextOracle.bpeEncodeSql) { (s, d) =>
    val docs = Tables.documents(s, d)
    val vocab = sharedBpe(s, d)._2
    val enc = vocab.select(col("word"),
      size(split(expr("substring(seg, 2, length(seg) - 2)"), "\\|\\|"))
        .as("n_syms"))
    docs
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .join(broadcast(enc), "word")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).as("n_chars"),
        sum(col("n_syms")).as("n_bpe_tokens"))
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_bpe_tokens"),
        (col("n_chars") / col("n_bpe_tokens")).as("chars_per_token"),
        (col("n_bpe_tokens") / col("n_words")).as("tokens_per_word"))
      .orderBy("lang")
  }

  /** BPE round-trip validation — the invariant every production tokenizer
    * ships with: DECODE(ENCODE(word)) must reproduce the word byte-for-
    * byte, corpus-wide. The trained vocab's `seg` column IS the encoding
    * ([[bpeEncode]]); decoding is pure string surgery (strip the `|`
    * symbol delimiters and re-concatenate), so the check is one
    * vocab-bounded map + the same corpus-words -> vocab equi-join as the
    * encoder — nothing new shuffles at 100 TB. Reports per language:
    * word/char/BPE-token totals, decoded-char total (must equal the
    * original char total), the direct mismatch count (MUST be 0 — a
    * nonzero here means a merge rule corrupted a segmentation), and
    * fertility, so a tokenizer regression shows up both as the hard zero
    * breaking and as a fertility delta against [[bpeEncode]]'s row.
    */
  val bpeRoundtrip: GraftQuery = GraftQuery(
    "corpus_bpe_roundtrip",
    s"BPE decode(encode(w)) == w corpus-wide: per-language mismatch count (0) + fertility",
    TextOracle.bpeRoundtripSql) { (s, d) =>
    val docs = Tables.documents(s, d)
    val vocab = sharedBpe(s, d)._2
    val dec = vocab.select(col("word"),
      size(split(expr("substring(seg, 2, length(seg) - 2)"), "\\|\\|"))
        .as("n_syms"),
      // "|a||bc||d|" -> "abcd": drop the '||' joins, then the outer '|'s
      replace(replace(col("seg"), lit("||"), lit("")), lit("|"), lit(""))
        .as("decoded"))
    docs
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .join(broadcast(dec), "word")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum((col("decoded") =!= col("word")).cast("long")).as("n_mismatch"),
        sum(length(col("word"))).as("n_chars"),
        sum(length(col("decoded"))).as("n_chars_decoded"),
        sum(col("n_syms")).as("n_bpe_tokens"))
      .select(col("lang"), col("n_words"), col("n_mismatch"),
        col("n_chars"), col("n_chars_decoded"), col("n_bpe_tokens"),
        (col("n_bpe_tokens") / col("n_words")).as("tokens_per_word"))
      .orderBy("lang")
  }

  /** Calibration-curve bin width over the per-token LLR axis. */
  val CalibBinWidth = 0.02

  /** Classifier CALIBRATION curve — the reliability diagram an ML-filter
    * pipeline audits before trusting a learned quality screen at scale:
    * documents binned by the NB model's per-token log-likelihood ratio
    * (length-normalized so long docs don't saturate the axis), each bin
    * reporting the model's predicted keep rate vs the heuristic
    * teacher's ACTUAL keep rate and the agreement rate. Monotonicity
    * violations and over/under-confidence bands are exactly what this
    * surfaces (this corpus's NB is visibly non-monotonic above
    * +0.05/token — the artifact shows it rather than hiding it).
    *
    * Scale shape: rides [[qualityNbFrame]]'s one corpus-sized posting
    * shuffle; the curve itself is a groupBy on a bin key whose
    * cardinality is bounded by the LLR dynamic range over the bin width
    * (a few dozen), independent of corpus size. Determinism: norm is an
    * exact-integer llr over a BIGINT count; per-doc norms quantize to
    * 1e-6 LONGs before the bin mean; rates are LONG/LONG divisions.
    */
  val calibrationCurve: GraftQuery = GraftQuery(
    "quality_calibration_curve",
    s"NB reliability diagram: per-token-LLR bins (width $CalibBinWidth), predicted vs actual keep rates",
    TextOracle.calibrationCurveSql) { (s, d) =>
    val docs = Tables.documents(s, d)
    val nt = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("nt"))
    sharedDocNb(s, d).join(nt, "doc_id")
      .withColumn("norm", col("nb_llr") / col("nt"))
      .withColumn("bin",
        floor(col("norm") / lit(CalibBinWidth)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        ((sum(floor(col("norm") * lit(1e6) + lit(0.5)).cast("long"))
          / lit(1e6)) / count(lit(1))).as("avg_norm_llr"),
        (sum(when(col("heur_label") === "keep", 1L).otherwise(0L))
          / count(lit(1))).as("heur_keep_rate"),
        (sum(when(col("nb_pred") === "keep", 1L).otherwise(0L))
          / count(lit(1))).as("nb_keep_rate"),
        (sum(when(col("agree"), 1L).otherwise(0L)) / count(lit(1)))
          .as("agree_rate"))
      .withColumn("bin_lo", col("bin") * lit(CalibBinWidth))
      .select(col("bin"), col("bin_lo"), col("n_docs"), col("avg_norm_llr"),
        col("heur_keep_rate"), col("nb_keep_rate"), col("agree_rate"))
      .orderBy("bin")
  }

  /** ISOTONIC (PAV) CALIBRATION — the ACTION [[calibrationCurve]]'s
    * diagnosis calls for: the reliability diagram shows the NB score is
    * non-monotonic in the actual keep rate, and the standard fix is
    * isotonic regression — the weighted least-squares MONOTONE fit of
    * the per-bin actual rates over the score axis, classically computed
    * by pool-adjacent-violators. Here it is computed by PAV's closed
    * form instead: the minimax identity
    * iso_i = max_{j≤i} min_{k≥i} mean(rates over bins j..k), which
    * turns the sequential pooling loop into three joins over the BIN
    * frame — no driver loop at all (strictly better than the binseg
    * bounded-loop precedent: the bin count B is a few dozen, so the B³
    * interval space is trivially enumerable on any engine). Interval
    * means come from prefix sums, so each candidate is an exact
    * LONG/LONG division.
    *
    * Output: the calibrated bin table (raw predicted/actual rates +
    * the isotonic rate) plus the before/after expected calibration
    * error (ECE = Σ w·|pred − actual| / Σw; `before` grades the NB keep
    * rate, `after` the isotonic fit — constant columns, stated once per
    * row). Scale shape: rides [[qualityNbFrame]]'s one corpus-sized
    * shuffle down to the bin frame (cardinality bounded by LLR range /
    * bin width); everything after is bin-bounded (the interval joins
    * broadcast a checkpointed few-dozen-row frame). Determinism: prefix
    * sums and pooled means are exact-LONG arithmetic; the only ordered
    * double sums (ECE terms) ride 1e-9 quantization; min/max over
    * doubles are order-free.
    */
  val isotonicCalibration: GraftQuery = GraftQuery(
    "quality_nb_isotonic",
    "isotonic (PAV via minimax intervals) calibration of the NB keep rate + before/after ECE",
    TextOracle.isotonicSql) { (s, d) =>
    val docs = Tables.documents(s, d)
    val nt = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("nt"))
    val bins = sharedDocNb(s, d).join(nt, "doc_id")
      .withColumn("norm", col("nb_llr") / col("nt"))
      .withColumn("bin",
        floor(col("norm") / lit(CalibBinWidth)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("w"),
        sum(when(col("heur_label") === "keep", 1L).otherwise(0L)).as("k"),
        sum(when(col("nb_pred") === "keep", 1L).otherwise(0L)).as("nbk"))
    isotonicFrame(bins)
      .withColumn("bin_lo", col("bin") * lit(CalibBinWidth))
      .select(col("bin"), col("bin_lo"), col("n_docs"),
        col("heur_keep_rate"), col("nb_keep_rate"), col("iso_rate"),
        col("ece_before"), col("ece_after"))
      .orderBy("bin")
  }

  /** The PAV fit over any (bin, w, k, nbk) frame — shared by the
    * registry query and the planted pooling fixture (TextDedupSpec).
    * Returns (bin, n_docs, heur_keep_rate, nb_keep_rate, iso_rate,
    * ece_before, ece_after).
    */
  def isotonicFrame(bins: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // bin-bounded frame (a few dozen rows — the documented global-window
    // class); checkpointed once, feeds all three interval legs
    val b = bins
      .withColumn("cw", sum(col("w")).over(w))
      .withColumn("ck", sum(col("k")).over(w))
      .localCheckpoint()
    val bi = b.select(col("bin").as("i"), col("w").as("wi"),
      col("k").as("ki"), col("nbk").as("nbki"))
    val bj = b.select(col("bin").as("j"),
      (col("cw") - col("w")).as("cwj0"), (col("ck") - col("k")).as("ckj0"))
    val bk = b.select(col("bin").as("kb"),
      col("cw").as("cwk"), col("ck").as("ckk"))
    val means = bi
      .join(broadcast(bj), col("j") <= col("i"))
      .join(broadcast(bk), col("kb") >= col("i"))
      .withColumn("mean_jk",
        (col("ckk") - col("ckj0")) / (col("cwk") - col("cwj0")))
    val inner = means
      .groupBy(col("i"), col("wi"), col("ki"), col("nbki"), col("j"))
      .agg(min(col("mean_jk")).as("mn"))
    val iso = inner
      .groupBy(col("i"), col("wi"), col("ki"), col("nbki"))
      .agg(max(col("mn")).as("iso_rate"))
      .withColumn("heur_keep_rate", col("ki") / col("wi"))
      .withColumn("nb_keep_rate", col("nbki") / col("wi"))
    val ece = iso.agg(
      sum(graft.api.Det.quantize(
        col("wi") * abs(col("nb_keep_rate") - col("heur_keep_rate")), 9))
        .as("ebq"),
      sum(graft.api.Det.quantize(
        col("wi") * abs(col("iso_rate") - col("heur_keep_rate")), 9))
        .as("eaq"),
      sum(col("wi")).as("n"))
    iso.crossJoin(broadcast(ece))
      .select(col("i").as("bin"), col("wi").as("n_docs"),
        col("heur_keep_rate"), col("nb_keep_rate"), col("iso_rate"),
        (col("ebq") / lit(graft.api.Det.pow10(9)) / col("n")).as("ece_before"),
        (col("eaq") / lit(graft.api.Det.pow10(9)) / col("n")).as("ece_after"))
  }

  /** Unigram-LM geometry: max piece length, EM rounds, and the word
    * length up to which the ENUMERATION twin ([[uniSegmentEnum]]) stays
    * tractable (2^11 masks at 12 chars). The TRAINER itself has no word
    * cap — the E-step is the linear Viterbi DP ([[uniSegment]]); the
    * enum bound only scopes the differential spec and the DuckDB twin
    * (whose corpus max word is 8 chars, well inside it).
    * Declared before the GraftQuery val (oracle interpolation).
    */
  val UniMaxPieceLen = 4
  val UniMaxWordLen = 12
  val UniEmRounds = 2

  /** Unigram-LM (SentencePiece-style) tokenizer training — the OTHER
    * production tokenizer next to the BPE family ([[bpeMergesN]] trains
    * merges greedily bottom-up; unigram starts from a substring
    * inventory and EM-prunes it top-down): seed piece scores from
    * weighted substring counts, then [[UniEmRounds]] EM rounds — E-step
    * segments every vocab word into the max-likelihood piece sequence
    * (argmax Σ log P(piece)), M-step re-estimates P from the chosen
    * segmentations (pieces no best segmentation uses drop out — the
    * pruning that shrinks the inventory toward a real vocab) — and a
    * final E-step under the trained scores encodes the corpus.
    *
    * The E-step is the linear-in-length Viterbi DP over pieces <=
    * [[UniMaxPieceLen]] chars ([[uniSegment]]) — O(len * MaxPieceLen)
    * per word with NO word-length cap. All DP state is exact (LONG
    * scores, INT counts, binary string compares), so the DuckDB twin may
    * keep its bounded boundary-bitmask ENUMERATION (exact argmax over
    * <= 2^(len-1) masks — its corpus' words max out at 8 chars) and
    * still agree bit-for-bit: both compute the same optimum under the
    * same total order. [[uniSegmentEnum]] keeps that enumeration on the
    * Spark side as the differential twin TokenizerSpec replays. Ties:
    * higher score, then fewer pieces, then lexicographic segmentation.
    *
    * Scale shape: the corpus reduces to the weighted VOCABULARY once
    * (the one corpus-sized shuffle, the [[bpeMergesN]] contract); every
    * EM round runs on vocab-bounded frames; the final corpus encode is a
    * words -> vocab equi-join (broadcastable here, word-keyed shuffle at
    * 100 TB). Determinism: log P quantized to a 1e-9 LONG per piece TYPE
    * per round (vocab-bounded ulp exposures, the [[searchBm25]] idf
    * recipe); segmentation scores are exact LONG sums compared under a
    * total order; counts are exact BIGINTs.
    */
  val unigramLm: GraftQuery = GraftQuery(
    "corpus_unigram_lm",
    s"unigram-LM tokenizer: $UniEmRounds EM rounds over <=$UniMaxPieceLen-char pieces, per-language vocab size + fertility",
    TextOracle.unigramLmSql) { (s, d) =>
    val docs = Tables.documents(s, d)
    val vocab = docs
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // seed: weighted substring counts (every start x len <= MaxPieceLen)
    var scores = uniSeedScores(vocab).localCheckpoint()
    for (_ <- 1 to UniEmRounds)
      scores = uniNormalize(uniUsageCounts(uniSegment(vocab, scores)))
        .localCheckpoint()
    val best = uniSegment(vocab, scores).localCheckpoint()
    val vs = broadcast(scores.agg(count(lit(1)).as("vocab_size")))
    docs
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .join(broadcast(best.select(col("word"), col("np"))), "word")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).as("n_chars"),
        sum(col("np")).as("n_tokens"))
      .crossJoin(vs)
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_tokens"),
        col("vocab_size"),
        (col("n_chars") / col("n_tokens")).as("chars_per_token"),
        (col("n_tokens") / col("n_words")).as("tokens_per_word"))
      .orderBy("lang")
  }

  /** E-step: the max-likelihood segmentation of every vocab word under
    * `scores` — (word, cnt, seg, np) — by the LINEAR-in-length Viterbi
    * DP: per word, the admissible edges (end position i, piece length
    * l <= [[UniMaxPieceLen]], scored piece) are built by one explode +
    * scores join and collapsed into a per-word lookup map, then a single
    * `aggregate` fold over positions keeps the best (score, np, seg)
    * prefix state per position — O(len * MaxPieceLen) work per word, no
    * exponential mask enumeration and no word-length cap. The candidate
    * order inside each step's array_min is (negated score asc, np asc,
    * seg asc) — exactly [[uniSegmentEnum]]'s (sumq DESC, np, seg) window
    * order, and the lex tie-break is DP-decomposable: two same-prefix
    * segmentations always diverge at a '|'-vs-char position BEFORE any
    * common appended suffix, so keeping the per-position lex-min prefix
    * yields the global lex-min. All state is exact (LONG scores, INT
    * counts, binary-compared strings), so the DP and the oracle's
    * bounded enumeration agree bit-for-bit wherever both are defined —
    * TokenizerSpec proves DP == enumeration over the whole vocab.
    *
    * Words whose every admissible segmentation touches a pruned piece
    * cannot occur: a vocab word's own previous best pieces always
    * survive the M-step (they are counted), and round 1 starts from the
    * full substring inventory.
    */
  private[text] def uniSegment(vocab: org.apache.spark.sql.DataFrame,
      scores: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val mult = UniMaxPieceLen + 1
    val edges = vocab
      .select(col("word"), col("cnt"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)), i ->
           |  transform(sequence(1, least($UniMaxPieceLen, i)), l ->
           |    named_struct('i', i, 'l', l,
           |      'piece', substring(word, i - l + 1, l)))))""".stripMargin))
        .as("e"))
      .select(col("word"), col("cnt"),
        col("e.i").as("i"), col("e.l").as("l"), col("e.piece").as("piece"))
      .join(scores, "piece")
      .groupBy(col("word"), col("cnt"))
      .agg(map_from_entries(collect_list(
        struct((col("i") * mult + col("l")).as("k"), col("q")))).as("em"))
    edges
      .withColumn("fin", expr(
        s"""aggregate(
           |  sequence(1, length(word)),
           |  array(named_struct('ns', 0L, 'np', 0, 'seg', '')),
           |  (acc, i) -> concat(acc, array(
           |    array_min(filter(
           |      transform(sequence(1, least($UniMaxPieceLen, i)), l ->
           |        IF(element_at(acc, i - l + 1) IS NOT NULL
           |           AND element_at(em, i * $mult + l) IS NOT NULL,
           |          named_struct(
           |            'ns', element_at(acc, i - l + 1).ns
           |                    - element_at(em, i * $mult + l),
           |            'np', element_at(acc, i - l + 1).np + 1,
           |            'seg', concat(element_at(acc, i - l + 1).seg,
           |              '|', substring(word, i - l + 1, l), '|')),
           |          CAST(NULL AS STRUCT<ns: BIGINT, np: INT, seg: STRING>))),
           |      x -> x IS NOT NULL)))),
           |  acc -> element_at(acc, length(word) + 1))""".stripMargin))
      .filter(col("fin").isNotNull)
      .select(col("word"), col("cnt"),
        col("fin.seg").as("seg"), col("fin.np").as("np"))
  }

  /** The bounded-ENUMERATION twin of [[uniSegment]]: every boundary
    * bitmask over the delimited `|p1||p2|` representation (the
    * [[bpeMergesN]] trick), exact argmax under the same total order —
    * exponential in word length, so only defined for words <=
    * [[UniMaxWordLen]] chars (2^11 masks). Kept as the differential
    * oracle for the DP (TokenizerSpec) and as the shape the DuckDB twin
    * still computes (the oracle corpus' longest word is 8 chars).
    */
  private[text] def uniSegmentEnum(vocab: org.apache.spark.sql.DataFrame,
      scores: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val masked = vocab
      .select(col("word"), col("cnt"),
        explode(expr("sequence(0L, shiftleft(1L, length(word) - 1) - 1)"))
          .as("mask"))
      .withColumn("seg", expr(
        """concat('|', array_join(transform(sequence(1, length(word)),
          |  i -> concat(substring(word, i, 1),
          |    IF(i < length(word) AND (shiftright(mask, i - 1) & 1) = 1,
          |       '||', ''))), ''), '|')""".stripMargin))
      .withColumn("pieces",
        split(expr("substring(seg, 2, length(seg) - 2)"), "\\|\\|"))
      .withColumn("np", size(col("pieces")))
      .filter(expr(
        s"array_max(transform(pieces, p -> length(p))) <= $UniMaxPieceLen"))
    val scored = masked
      .select(col("word"), col("cnt"), col("mask"), col("seg"), col("np"),
        explode(col("pieces")).as("piece"))
      .join(scores, "piece")
      .groupBy(col("word"), col("cnt"), col("mask"), col("seg"), col("np"))
      .agg(sum(col("q")).as("sumq"), count(lit(1)).as("n_scored"))
      .filter(col("n_scored") === col("np"))
    val w = Window.partitionBy(col("word"))
      .orderBy(desc("sumq"), col("np"), col("seg"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("word"), col("cnt"), col("seg"), col("np"))
  }

  /** Seed scores: quantized ln-probs of the weighted substring inventory
    * (every start x len <= [[UniMaxPieceLen]]) — round 0 of the EM loop,
    * also replayed by TokenizerSpec's DP-vs-enumeration differential.
    */
  private[text] def uniSeedScores(vocab: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    uniNormalize(vocab
      .select(col("word"), col("cnt"),
        explode(expr("sequence(1, length(word))")).as("start"))
      .select(col("cnt"), explode(expr(
        s"""transform(sequence(1, least($UniMaxPieceLen, length(word) - start + 1)),
           |  l -> substring(word, start, l))""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("c")))

  /** M-step counts: weighted piece usage over the best segmentations. */
  private def uniUsageCounts(best: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    best
      .select(col("cnt"),
        explode(split(expr("substring(seg, 2, length(seg) - 2)"), "\\|\\|"))
          .as("piece"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("c"))

  /** (piece, c) -> (piece, q): q = 1e-9-quantized LONG of ln(c/total). */
  private def uniNormalize(counts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    counts
      .crossJoin(broadcast(counts.agg(sum(col("c")).as("tot"))))
      .select(col("piece"),
        floor(log(col("c") / col("tot")) * lit(1e9) + lit(0.5)).cast("long")
          .as("q"))

  /** Doc-level importance sampling: keep each doc with probability equal
    * to its quality score, decided by a CONTENT-hash uniform (hash60 /
    * 2^60) rather than a seeded RNG — so the sample survives re-shards,
    * re-orders, and re-runs, the same argument as [[splits]], and the
    * keep test is a per-row comparison with zero coordination. The output
    * is the per-language calibration table: realized keeps vs the exact
    * expected count Σ score (quantized per doc, exact LONG sum) — the
    * check that the sampler is unbiased.
    */
  val sampleWeighted: GraftQuery = GraftQuery(
    "corpus_sample_weighted",
    "importance sampling: content-hash keep test at p = quality score, per-language calibration",
    TextOracle.sampleWeightedSql) { (s, d) =>
    val docs = Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_ratio",
        stopwordCount(col("toks"), Stopwords) / col("n_tokens"))
      .withColumn("score",
        least(lit(1.0), col("n_tokens") / lit(60.0))
          * (lit(1.0) - col("stop_ratio")))
      .withColumn("u", hash60(col("text")) / lit(1152921504606846976.0))
      .withColumn("kept", (col("u") < col("score")).cast("int"))
    docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"),
        (sum(floor(col("score") * lit(1e9) + lit(0.5))) / lit(1e9))
          .as("expected_kept"))
      .select(col("lang"), col("n_docs"), col("n_kept"), col("expected_kept"),
        (col("n_kept") / col("n_docs")).as("kept_rate"))
      .orderBy("lang")
  }

  /** Reservoir size per language for [[sampleAres]]. */
  val AresK = 10

  /** Weighted reservoir sampling WITHOUT replacement (Efraimidis-Spirakis
    * A-Res) — the sampler [[sampleWeighted]] cannot be: the keep-test
    * yields a BINOMIAL sample (every doc kept independently, size
    * varies), where curation pipelines usually need EXACTLY k docs per
    * stratum drawn with probability proportional to weight. A-Res makes
    * that a rank: each doc draws u from its content hash and takes
    * priority u^(1/w) — here ranked as the monotone-equivalent ln(u)/w,
    * quantized to a 1e-9 LONG before the rank so the ordering is
    * engine-exact — and the top-[[AresK]] per language ARE the weighted
    * sample. Same weight (the quality score) and same content-hash
    * randomness as the binomial sampler, so the two samplers are
    * directly comparable and both survive re-runs/re-shards.
    *
    * Scale shape: one corpus pass to (lang, priority), then a per-lang
    * top-k Spark plans as WindowGroupLimit — k rows forwarded per
    * partition, the [[graft.relational.RelationalQueries]] KMV merge
    * discipline; no global sort.
    */
  val sampleAres: GraftQuery = GraftQuery(
    "corpus_sample_ares",
    s"weighted reservoir sample (A-Res): exactly top-$AresK docs per language by quantized ln(u)/w priority",
    TextOracle.sampleAresSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_ratio",
        stopwordCount(col("toks"), Stopwords) / col("n_tokens"))
      .withColumn("w",
        least(lit(1.0), col("n_tokens") / lit(60.0))
          * (lit(1.0) - col("stop_ratio")))
      .filter(col("w") > 0) // zero-weight docs are unsampleable by definition
      .withColumn("u",
        (hash60(col("text")) + lit(1L)) / lit(1152921504606846977.0))
      .withColumn("pq",
        floor(log(col("u")) / col("w") * lit(1e9) + lit(0.5)).cast("long"))
    val wr = Window.partitionBy(col("lang")).orderBy(desc("pq"), col("doc_id"))
    docs.withColumn("rk", row_number().over(wr).cast("int"))
      .filter(col("rk") <= AresK)
      .select(col("lang"), col("rk"), col("doc_id"),
        (col("pq") / lit(1e9)).as("priority"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Retrieval-quality evaluation harness — the measurement loop every
    * search/RAG pipeline runs before shipping an index change: rank the
    * corpus for a fixed multi-query eval set with the production scorer
    * (the [[searchBm25]] BM25, shared formula and quantization), grade
    * each result against a deterministic ground truth (graded term
    * coverage: one point per query term present, a second per term with
    * tf >= [[NdcgTfSat]]), and report per query NDCG@[[NdcgK]],
    * MRR-of-first-full-coverage-hit, and full-coverage hits in the top k.
    *
    * Scale shape: postings are filtered to the eval-term union BEFORE
    * anything shuffles (the [[searchBm25]] contract), so the scored frame
    * is O(matching docs x queries), never O(corpus tokens); both rank
    * windows are row_number-≤-k filters Spark plans as WindowGroupLimit
    * (the [[sampleStratified]] pin), so each input partition forwards at
    * most k rows per query; idf/query metadata are broadcast 1-row/tiny
    * frames. At 100 TB this is a scatter-gather eval over the inverted
    * index — only (query, doc, grade) pairs move.
    *
    * Determinism: scores are the BM25 quantized-LONG sums; grades are
    * integers; gains 2^rel-1 are exact integers; position discounts
    * 1/log2(r+1) are Scala-precomputed 9-decimal LONGs inlined on both
    * engines ([[ndcgDiscQ]]) — DCG/IDCG are exact BIGINT sums and the
    * final NDCG/MRR divisions are single IEEE754 ops on exact operands.
    */
  /** The eval-query metadata frame (query_id, query, n_terms) — shared
    * by [[evalNdcg]] and [[hardNegatives]].
    */
  def ndcgQinfo(s: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame =
    s.range(1).select(explode(array(
      NdcgQueries.map { case (qid, ts) =>
        struct(lit(qid).as("query_id"), lit(ts.mkString(" ")).as("query"),
          lit(ts.length).as("n_terms"))
      }: _*)).as("q")).select(col("q.*"))

  /** The (query_id, doc_id, score_q, cov, rel) BM25-scored candidate
    * frame of the retrieval harness — the [[searchBm25]] scorer over the
    * eval-term-filtered postings. Extracted verbatim from [[evalNdcg]]
    * so [[hardNegatives]] mines the SAME ranking the eval grades.
    */
  def ndcgScoredFrame(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val allTerms = NdcgQueries.flatMap(_._2).distinct
    val t = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val dl = t.select(col("doc_id"), size(col("toks")).as("dl"), col("toks"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    val post = dl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isInCollection(allTerms))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val idf = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"), col("avgdl"),
        (floor(log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * lit(1e9) + lit(0.5)) / lit(1e9)).as("idf"))
    val contrib = post.join(broadcast(idf), "term")
      .select(col("term"), col("doc_id"), col("tf"),
        floor(col("idf") * ((col("tf") * lit(Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B) +
            (lit(Bm25B) * col("dl")) / col("avgdl"))))
          * lit(1e9) + lit(0.5)).cast("long").as("cq"))
    val qterms = s.range(1).select(explode(array(
      NdcgQueries.flatMap { case (qid, ts) =>
        ts.map(w => struct(lit(qid).as("query_id"), lit(w).as("term")))
      }: _*)).as("q"))
      .select(col("q.query_id").as("query_id"), col("q.term").as("term"))
    contrib.join(broadcast(qterms), "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("cq")).as("score_q"),
        count(lit(1)).as("cov"),
        (count(lit(1)) +
          sum(when(col("tf") >= NdcgTfSat, 1L).otherwise(0L))).as("rel"))
  }

  /** Negatives kept per query by [[hardNegatives]]. */
  val HnK = 5

  /** HARD-NEGATIVE MINING — the contrastive-training data builder every
    * retrieval/embedding fine-tune consumes: for each eval query, the
    * top-[[HnK]] documents the BM25 retriever ranks HIGHEST among those
    * that are NOT fully relevant (term coverage below the query's full
    * set — the same relevance rule [[evalNdcg]]'s MRR uses). These
    * retriever-fooled near-misses are exactly the negatives that teach
    * a bi-encoder the decision boundary random negatives never expose.
    * n_pos rides along so a pair assembler knows each query's positive
    * budget.
    *
    * Scale shape: rides [[ndcgScoredFrame]] (postings filtered to the
    * eval-term union before any shuffle; the scored frame is
    * O(matching docs × queries)); the per-query cut is a row_number ≤ k
    * partitioned window (WindowGroupLimit). Determinism: scores are the
    * BM25 quantized LONGs; ranks are total-ordered; the readout divides
    * once by 1e9.
    */
  val hardNegatives: GraftQuery = GraftQuery(
    "retrieval_hard_negatives",
    s"hard-negative mining: top-$HnK highest-BM25 non-relevant docs per eval query + positive budget",
    TextOracle.hardNegativesSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val qinfo = ndcgQinfo(s)
    val scored = ndcgScoredFrame(s, d)
      .join(broadcast(qinfo), "query_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("score_q"), col("doc_id"))
    val pos = scored.filter(col("cov") === col("n_terms"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_pos"))
    scored.filter(col("cov") < col("n_terms"))
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= HnK)
      .join(pos, Seq("query_id"), "left")
      .select(col("query_id"), col("query"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        col("neg_rank"), col("doc_id"),
        (col("score_q") / lit(1e9)).as("bm25_score"),
        col("cov"), col("n_terms"))
      .orderBy("query_id", "neg_rank")
  }

  val evalNdcg: GraftQuery = GraftQuery(
    "retrieval_eval_ndcg",
    s"retrieval eval: per-query NDCG@$NdcgK / MRR / full-coverage hits of BM25 vs graded term-coverage truth",
    TextOracle.evalNdcgSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val qinfo = ndcgQinfo(s)
    val scored = ndcgScoredFrame(s, d)
    val wScore = Window.partitionBy(col("query_id"))
      .orderBy(desc("score_q"), col("doc_id"))
    val wIdeal = Window.partitionBy(col("query_id"))
      .orderBy(desc("rel"), col("doc_id"))
    val top = scored
      .withColumn("rank", row_number().over(wScore))
      .filter(col("rank") <= NdcgK)
      .join(broadcast(qinfo.select(col("query_id"), col("n_terms"))),
        "query_id")
      .withColumn("gain", expr(ndcgGainCase("rel")))
      .withColumn("disc", expr(ndcgDiscCase("rank")))
      .groupBy(col("query_id"))
      .agg(sum(col("gain") * col("disc")).as("dcg_q"),
        min(when(col("cov") === col("n_terms"), col("rank")))
          .as("first_full"),
        sum(when(col("cov") === col("n_terms"), 1L).otherwise(0L))
          .as("full_hits_at_10"))
    val ideal = scored
      .withColumn("rank", row_number().over(wIdeal))
      .filter(col("rank") <= NdcgK)
      .withColumn("gain", expr(ndcgGainCase("rel")))
      .withColumn("disc", expr(ndcgDiscCase("rank")))
      .groupBy(col("query_id"))
      .agg(sum(col("gain") * col("disc")).as("idcg_q"))
    val cand = scored.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_candidates"))
    qinfo.join(cand, "query_id").join(top, "query_id")
      .join(ideal, "query_id")
      .select(col("query_id"), col("query"), col("n_candidates"),
        (col("dcg_q") / col("idcg_q")).as("ndcg_at_10"),
        when(col("first_full").isNull, lit(0.0))
          .otherwise(lit(1.0) / col("first_full")).as("mrr_full"),
        col("full_hits_at_10"))
      .orderBy("query_id")
  }

  /** Curriculum geometry: difficulty stages × data-parallel shards. */
  val CurriculumStages = 4
  val CurriculumShards = 4

  /** CURRICULUM ORDERING — the schedule builder for difficulty-ordered
    * training (curriculum learning / perplexity annealing): docs are cut
    * into [[CurriculumStages]] ascending-perplexity stages under the
    * shared bigram LM ([[lmPerplexityFrame]] — easy/predictable text
    * first, tail-perplexity text last), and each stage deals into
    * [[CurriculumShards]] content-hash shards for data-parallel loading.
    * The readout is the (stage, shard) manifest a training launcher
    * consumes: doc/token budgets and the stage's perplexity bounds.
    *
    * Stage boundaries land at VALUE granularity: the cumulative doc
    * count BEFORE each distinct quantized-ppl value decides its stage
    * (floor(cum·S/n)), so a tie group never straddles stages and the
    * cut is reproducible under any partitioning. One-token docs carry
    * no bigram and no perplexity — they are outside the curriculum by
    * construction (none exist in this corpus).
    *
    * Scale shape: rides the shared per-doc ppl table (one corpus-sized
    * shuffle, already persisted for the ppl/band consumers); the
    * boundary derivation runs on the DISTINCT-ppl-value frame (the
    * aucFrame documented global-window class — value-bounded, with the
    * two-pass range-partitioned prefix sum as the 100 TB escape);
    * stage assignment joins the broadcast value→stage map back to the
    * doc frame. Determinism: cum/budgets are exact longs; the boundary
    * division is one shared double op; ppl is already 1e-6-quantized.
    */
  val curriculum: GraftQuery = GraftQuery(
    "corpus_curriculum",
    s"curriculum manifest: $CurriculumStages ascending-perplexity stages x $CurriculumShards hash shards, doc/token budgets + ppl bounds",
    TextOracle.curriculumSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ppl = sharedDocPpl(s, d).select(col("doc_id"), col("ppl"))
    val nt = Tables.documents(s, d).select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val base = ppl.join(nt, "doc_id")
    val nAgg = base.agg(count(lit(1)).as("n"))
    val vals = base.groupBy(col("ppl")).agg(count(lit(1)).as("c"))
    val wv = Window.orderBy(col("ppl"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val stageByVal = vals
      .withColumn("cum", coalesce(sum(col("c")).over(wv), lit(0L)))
      .crossJoin(broadcast(nAgg))
      .withColumn("stage",
        floor(col("cum") * lit(CurriculumStages) / col("n")).cast("int"))
      .select(col("ppl"), col("stage"))
    base.join(broadcast(stageByVal), "ppl")
      .withColumn("shard",
        (graft.text.TextFns.hash60(col("doc_id").cast("string"))
          % CurriculumShards).cast("int"))
      .groupBy(col("stage"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("ppl")).as("ppl_lo"), max(col("ppl")).as("ppl_hi"))
      .orderBy("stage", "shard")
  }

  /** Zipf-law fit over the top-[[ZipfTopN]] token ranks — the statistical
    * corpus-health check next to [[tokenEntropy]] (a natural-text corpus
    * has slope ≈ −1; template flooding flattens it, dedup failure steepens
    * the head), and the registry's second one-pass SUFFICIENT-STATISTICS
    * fit (the `revenue_trend_ols` pattern): OLS of ln(freq) on ln(rank)
    * needs only n, Σx, Σx², Σy, Σxy, which sum associatively — no
    * iteration, no driver-side series.
    *
    * Scale shape: one explode + (token) partial agg (vocab-bounded);
    * the rank cut is a row_number ≤ N global window (WindowGroupLimit:
    * each partition forwards its top N); the fit aggregates N rows. The
    * two transcendentals quantize per RANK ROW to 4-decimal LONGs
    * ([[ZipfLogScale]]) before any sum — the slope is a ratio of exact
    * longs (the quantization scale cancels), the intercept one double
    * division chain shared with the twin.
    */
  val zipfFit: GraftQuery = GraftQuery.oneRow(
    "corpus_zipf_fit",
    s"Zipf slope/intercept: OLS of ln(freq) on ln(rank) over the top-$ZipfTopN tokens, one sufficient-statistics pass",
    TextOracle.zipfFitSql) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val cnt = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(desc("c"), col("token"))
    val q = cnt.withColumn("r", row_number().over(w))
      .filter(col("r") <= ZipfTopN)
      .select(
        floor(log(col("r")) * lit(ZipfLogScale) + lit(0.5)).cast("long")
          .as("lx"),
        floor(log(col("c")) * lit(ZipfLogScale) + lit(0.5)).cast("long")
          .as("ly"))
    val st = q.agg(
      count(lit(1)).as("n"),
      sum(col("lx")).as("sx"), sum(col("lx") * col("lx")).as("sxx"),
      sum(col("ly")).as("sy"), sum(col("lx") * col("ly")).as("sxy"))
    val tot = cnt.agg(count(lit(1)).as("vocab"),
      max(col("c")).as("top1_count"))
    st.crossJoin(broadcast(tot))
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
      .select(col("n").as("n_ranks"), col("vocab"), col("top1_count"),
        col("slope").as("zipf_slope"),
        (((col("sy") - col("slope") * col("sx")) / col("n"))
          / lit(ZipfLogScale)).as("zipf_intercept_ln"))
  }

  /** PII REDACTION — the action sibling of [[piiScreen]] (the
    * `dedup_span_strip`-to-`dedup_span_overlap` pattern: screens find,
    * actions rewrite): emails then standalone digit runs are replaced
    * with typed placeholders, in that order (emails contain digits, so
    * the email pass must run first — the ordering is part of the
    * contract and the oracle replays it). The output carries the
    * redaction counts, before/after sizes, and the md5 of the REDACTED
    * text — full value parity on the rewritten content without dumping
    * it. Pure per-row codegen'd regex work on the scan; no shuffle
    * before the presentation sort.
    */
  val piiRedact: GraftQuery = GraftQuery(
    "doc_pii_redact",
    "PII redaction: email/digit-run placeholders, counts + redacted-content fingerprint per doc",
    TextOracle.piiRedactSql) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("r1", regexp_replace(col("text"), PiiEmailPat, "<EMAIL>"))
      .withColumn("redacted", regexp_replace(col("r1"), PiiDigitPat, "<NUM>"))
      .select(
        col("doc_id"),
        size(expr(s"regexp_extract_all(text, '$PiiEmailPat', 0)"))
          .as("n_emails"),
        // counted on the email-redacted text, so the count IS the number
        // of <NUM> insertions (digits inside emails are already gone)
        size(expr(s"regexp_extract_all(r1, '$PiiDigitPat', 0)"))
          .as("n_digit_runs"),
        length(col("text")).as("n_chars"),
        length(col("redacted")).as("n_chars_redacted"),
        md5(col("redacted")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Budget divisor for [[sampleNeyman]]: B = floor(corpus / 5). */
  val NeymanBudgetDiv = 5

  /** NEYMAN-allocation stratified sampling — the sampling DESIGN step
    * the existing samplers skip (stratified/quota/weighted all take
    * their per-stratum sizes as GIVEN): when a labeling budget of B
    * documents must estimate a per-corpus mean (here: n_chars), equal
    * or proportional allocation wastes budget on low-variance strata —
    * Neyman's optimum allocates a_h ∝ N_h·σ_h, the textbook
    * minimum-variance design. The operator computes per-language
    * N_h/σ_h from exact integer sums, apportions B = N/[[NeymanBudgetDiv]]
    * by LARGEST REMAINDER (floor every quota, hand the leftover units to
    * the largest 1e-9-quantized remainders, language tie-break — exact
    * integer apportionment, no drifting rounds), caps at N_h — a
    * leftover unit handed to a stratum the cap then truncates is
    * FORFEITED, not redistributed, so the realized sample can fall
    * short of B when a high-weight stratum is nearly exhausted (the
    * design trades a unit of budget for not over-sampling a stratum
    * past its population; the spec asserts only sum(alloc) <= B) — then
    * draws each stratum's sample in content-hash order (the
    * deterministic reservoir convention) and reports the realized
    * sample mean beside the population mean.
    *
    * Scale shape: one corpus pass to strata sufficient statistics, the
    * apportionment on the strata-sized frame, and the draw as one rank
    * window per stratum (WindowGroupLimit-prunable — the
    * `corpus_sample_stratified` shape). Determinism: weights quantize
    * to 1e-9 LONGs before the total; quotas/remainders are shared-shape
    * IEEE ops ranked on quantized values.
    */
  val sampleNeyman: GraftQuery = GraftQuery(
    "corpus_sample_neyman",
    s"Neyman-allocation stratified sample: per-language N_h*sigma_h weights, largest-remainder apportionment of N/$NeymanBudgetDiv, content-hash draw, sample-vs-population means",
    TextOracle.sampleNeymanSql) { (s, d) =>
    neymanFrame(Tables.documents(s, d))
  }

  /** The Neyman design over any documents frame — shared by the
    * registry query and the hand-apportionment spec (TextDedupSpec).
    */
  def neymanFrame(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("lang"), col("doc_id"), col("n_chars"),
        TextFns.hash60(col("doc_id").cast("string")).as("h"))
      .localCheckpoint()
    val strata = base.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_h"),
        sum(col("n_chars")).as("sx"),
        sum(col("n_chars") * col("n_chars")).as("sxx"))
      // greatest(0, ...) guards the double-cancellation corner: once
      // sx^2 exceeds 2^53 the subtraction can see a tiny negative and
      // sqrt would yield NaN — which Spark's floor(NaN) silently casts
      // to 0 while DuckDB's CAST raises, a parity divergence on
      // degenerate/huge strata (ADVICE r18)
      .withColumn("sigma_h",
        when(col("n_h") > 1,
          sqrt(greatest(lit(0.0),
            (col("sxx") - col("sx").cast("double") * col("sx")
              / col("n_h")) / (col("n_h") - 1).cast("double"))))
          .otherwise(lit(0.0)))
      .withColumn("wq",
        graft.api.Det.quantize(col("n_h").cast("double") * col("sigma_h"), 9))
    val tot = strata.agg(sum(col("n_h")).as("n_total"),
        sum(col("wq")).as("wq_tot"))
      .withColumn("budget", expr(s"n_total div $NeymanBudgetDiv"))
    val quota = strata.crossJoin(broadcast(tot))
      .withColumn("q", col("budget").cast("double")
        * (col("wq").cast("double") / col("wq_tot").cast("double")))
      .withColumn("base", floor(col("q")))
      .withColumn("remq", graft.api.Det.quantize(col("q") - col("base"), 9))
    val spent = quota.agg(sum(col("base")).as("base_tot"))
    val alloc = quota.crossJoin(broadcast(spent))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("remq").desc, col("lang"))))
      .withColumn("alloc",
        least(col("base")
          + when(col("rk") <= col("budget") - col("base_tot"), 1L)
            .otherwise(0L),
          col("n_h")))
      .select(col("lang"), col("n_h"), col("sigma_h"),
        (col("wq").cast("double") / col("wq_tot").cast("double"))
          .as("w_share"),
        col("alloc"), (col("sx").cast("double") / col("n_h").cast("double"))
          .as("pop_mean_chars"))
    // LITERAL rank prefilter before the exact alloc cut: alloc <= budget
    // = n_total div NeymanBudgetDiv for every stratum, and a literal
    // row_number bound is what the optimizer rewrites to WindowGroupLimit
    // (each partition forwards only its top-B rows instead of fully
    // materializing the per-stratum rank — the corpus_sample_stratified
    // plan shape). The count() is one job over the checkpointed base;
    // the scalar it moves to the driver is iteration control, not data.
    val budgetCap = base.count() / NeymanBudgetDiv
    val drawn = base
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))))
      .filter(col("rn") <= lit(budgetCap))
      .join(broadcast(alloc.select(col("lang"), col("alloc"))), "lang")
      .filter(col("rn") <= col("alloc"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
        (sum(col("n_chars")).cast("double")
          / count(lit(1)).cast("double")).as("sample_mean_chars"))
    alloc.join(drawn, Seq("lang"), "left")
      .select(col("lang"), col("n_h"), col("sigma_h"), col("w_share"),
        col("alloc"), coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        col("pop_mean_chars"), col("sample_mean_chars"))
      .orderBy("lang")
  }

  /** GOOD-TURING UNSEEN MASS + Chao1 richness — the data-collection
    * planning readout: before spending on more crawl, ask how much of
    * the distribution is still unseen. Over per-language word-3-gram
    * counts (3-grams because this corpus's unigram vocabulary saturates
    * at every SF — the trigram space stays genuinely sparse, the regime
    * the estimators exist for):
    *
    *   - unseen_mass = N1/N — the Turing estimate of the probability
    *     the NEXT sample is a never-seen type (the Good-Turing P0);
    *     coverage = 1 − N1/N;
    *   - chao1 = V + N1(N1−1)/(2(N2+1)) — the bias-corrected Chao1
    *     lower bound on total type richness, i.e. how many types exist
    *     including the unseen ones.
    *
    * Scale shape: one (lang, gram) posting shuffle — the price every
    * vocabulary statistic pays — then a 5-row rollup; the estimators
    * are scalar arithmetic on exact frequency-of-frequency counts.
    * Determinism: N/V/N1/N2 are exact longs; both estimators are
    * shared-shape double expressions over them.
    */
  val unseenMass: GraftQuery = GraftQuery(
    "corpus_unseen_mass",
    "Good-Turing unseen mass + Chao1 richness per language over word-3-grams",
    TextOracle.unseenMassSql) { (s, d) =>
    unseenMassFrame(Tables.documents(s, d))
  }

  /** The unseen-mass derivation over any documents frame — shared by
    * the registry query and the hand trigram fixture (TextDedupSpec).
    */
  def unseenMassFrame(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    docs
      .select(col("lang"),
        explode(shingles(tokens(col("text")), 3)).as("gram"))
      .groupBy(col("lang"), col("gram"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("lang"))
      .agg(
        sum(col("n")).as("n_grams"),
        count(lit(1)).as("v_types"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("n") === 2, 1L).otherwise(0L)).as("n2"))
      .select(col("lang"), col("n_grams"), col("v_types"), col("n1"),
        col("n2"),
        (col("n1").cast("double") / col("n_grams").cast("double"))
          .as("unseen_mass"),
        (lit(1.0) - col("n1").cast("double") / col("n_grams").cast("double"))
          .as("coverage"),
        (col("v_types").cast("double")
          + col("n1").cast("double") * (col("n1").cast("double") - lit(1.0))
            / (lit(2.0) * (col("n2").cast("double") + lit(1.0))))
          .as("chao1"))
      .orderBy("lang")
  }

  /** Counter budget for [[heavyHitters]]. */
  val MgK = 32

  /** HEAVY-HITTER DISCOVERY under bounded state (Misra-Gries) — the
    * missing middle of the frequency family: `corpus_token_cms` answers
    * point probes (you must already know the token), `corpus_top_ngrams`
    * is exact but pays the full vocabulary shuffle; Misra-Gries DISCOVERS
    * the frequent tokens with [[MgK]] counters per aggregation buffer —
    * at 100 TB the shuffle moves k counters per partition, never the
    * vocabulary (the [[graft.functions.MgSummaryAgg]] merge is the
    * Agarwal et al. mergeable-summaries rule, so any merge tree works).
    *
    * The readout is the CONTRACT-graded surface (the HLL/GK attestation
    * precedent — raw MG counters are arrival-order-dependent, the
    * guarantees are not): the guaranteed-heavy tokens — exact frequency
    * strictly above n/(k+1), which Misra-Gries provably retains — each
    * with its exact count and three attested bands (counter <= f,
    * counter >= f - err, err·(k+1) <= n). Exact counts come from a
    * SECOND scan restricted to the <= k candidates (broadcast semi-join,
    * shuffle bounded by k): discovery is one bounded-state pass, the
    * gate's exactness costs one more scan — a serving deployment can
    * publish the summary alone. A guaranteed token missing from the
    * sketch would MISS a row here and fail the driver's row comparison —
    * coverage is hash-gated, not self-attested.
    *
    * On THIS corpus the whitespace vocabulary (31 types) sits under k=32,
    * so the sketch holds every type exactly and the bands are tight at
    * err=0 — the honest readout of a near-uniform synthetic corpus; the
    * eviction/merge machinery is exercised by the planted-skew spec
    * (universe >> k, FunctionsSpec) and the streaming twin
    * ([[graft.streaming.SketchStreams.mgHeavyHitters]]).
    */
  val heavyHitters: GraftQuery = GraftQuery(
    "corpus_heavy_hitters",
    s"Misra-Gries heavy hitters, k=$MgK: guaranteed tokens above n/(k+1), exact counts, error-band attestations",
    TextOracle.heavyHittersSql) { (s, d) =>
    heavyHittersFrame(Tables.documents(s, d))
  }

  /** The heavy-hitter derivation over any documents frame — shared by
    * the registry query and the planted-skew spec. */
  def heavyHittersFrame(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(explode(tokens(col("text"))).as("token"))
    val sk = toks
      .agg(call_function("mg_summary", col("token"), lit(MgK)).as("sk"))
      .select(col("sk.n").as("n_total"), col("sk.err").as("err"),
        explode(col("sk.items")).as("item"))
      .select(col("n_total"), col("err"),
        col("item.token").as("token"), col("item.cnt").as("mg_cnt"))
      .localCheckpoint() // sketch-sized: <= k rows
    val exact = toks
      .join(broadcast(sk.select(col("token"))), Seq("token"), "left_semi")
      .groupBy(col("token")).agg(count(lit(1)).as("exact_cnt"))
    sk.join(exact, Seq("token"))
      .filter(col("exact_cnt") * (MgK + 1) > col("n_total"))
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("exact_cnt"), col("token"))).cast("long"))
      .select(col("rank"), col("token"), col("exact_cnt"), col("n_total"),
        (col("mg_cnt") <= col("exact_cnt")).as("est_le_exact"),
        (col("mg_cnt") >= col("exact_cnt") - col("err"))
          .as("est_within_err"),
        (col("err") * (MgK + 1) <= col("n_total")).as("err_within_bound"))
      .orderBy("rank")
  }

  /** Top-k per side for [[tokenDrift]]. */
  val DriftTopK = 20

  /** Dirichlet smoothing pseudo-count for [[tokenDrift]] (the
    * uninformative alpha = 0.5 of the Monroe et al. log-odds recipe).
    */
  val DriftAlpha = 0.5

  /** Corpus TOKEN DRIFT between source groups — the text twin of
    * `embedding_drift_psi`: when a new provider (or a re-crawl) joins
    * the mix, the first question is WHICH tokens shifted, not just how
    * much. The Monroe et al. smoothed log-odds-ratio with its delta
    * variance: for token w with counts y_a/y_b in the two source groups
    * (content-hash of `source`, so membership is engine-stable),
    *
    *   delta = ln((y_a+α)/(n_a+2α-y_a-α)) - ln((y_b+α)/(n_b+2α-y_b-α)),
    *   z = delta / sqrt(1/(y_a+α) + 1/(y_b+α)),
    *
    * and the readout is each side's [[DriftTopK]] most-leaning tokens by
    * z — the named-token drill-down a PSI-style scalar cannot give.
    *
    * Scale shape: one corpus token explode + vocab groupBy (the shuffle
    * every token stat pays), then the z math and two top-k windows on
    * the vocab-bounded frame. Determinism: counts are exact longs;
    * ln/sqrt are single IEEE calls in shared shapes; rank orders by the
    * 1e-9-quantized z with a token tie-break.
    */
  val tokenDrift: GraftQuery = GraftQuery(
    "corpus_token_drift",
    s"token drift between content-hash source groups: smoothed log-odds z, top-$DriftTopK leaning tokens per side",
    TextOracle.tokenDriftSql) { (s, d) =>
    tokenDriftFrame(Tables.documents(s, d))
  }

  /** The drift derivation over any documents frame — shared by the
    * registry query and the planted-leaning spec (TextDedupSpec).
    */
  def tokenDriftFrame(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select((TextFns.hash60(col("source")) % 2).as("grp"),
        explode(TextFns.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(sum(when(col("grp") === 0, 1L).otherwise(0L)).as("y_a"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("y_b"))
      .localCheckpoint()
    val totals = counts.agg(sum(col("y_a")).as("n_a"),
      sum(col("y_b")).as("n_b"))
    val a = lit(DriftAlpha)
    val scored = counts.crossJoin(broadcast(totals))
      .withColumn("delta",
        log((col("y_a") + a) / (col("n_a") + lit(2 * DriftAlpha)
          - col("y_a") - a))
          - log((col("y_b") + a) / (col("n_b") + lit(2 * DriftAlpha)
            - col("y_b") - a)))
      .withColumn("z", col("delta")
        / sqrt(lit(1.0) / (col("y_a") + a) + lit(1.0) / (col("y_b") + a)))
      .withColumn("zq", graft.api.Det.quantize(col("z"), 9))
      .localCheckpoint()
    def side(name: String, ord: Seq[org.apache.spark.sql.Column]) =
      scored
        .withColumn("rank",
          row_number().over(Window.orderBy(ord: _*)).cast("long"))
        .filter(col("rank") <= DriftTopK)
        .select(lit(name).as("leaning"), col("rank"), col("token"),
          col("y_a"), col("y_b"),
          (col("zq").cast("double") / lit(1e9)).as("z"))
    side("group_a", Seq(col("zq").desc, col("token")))
      .unionByName(side("group_b", Seq(col("zq").asc, col("token"))))
      .orderBy("leaning", "rank")
  }

  def all: Seq[GraftQuery] =
    Seq(tokenDrift, sampleNeyman, tokenStats, quality, qualityNb,
      qualityNbConfusion, qualityNbAuc, qualityLr, qualityLrAuc,
      qualityLrCv, qualityLrWeights, filterAgreement,
      calibrationCurve, isotonicCalibration, piiScreen,
      langConfusion, fingerprints, simhash, growthCurve, spanCorruption,
      splits, ngramCounts, repetition, contamination, rebalance,
      sourceQuota, packing,
      lengthHistogram, sampleStratified, normalize, normalizeNfc,
      tokenCms, searchBm25,
      phraseSearch, keywordExtract, chunkSearchBm25,
      tokenEntropy, pipelineFunnel, tokenPmi, lmPerplexity, pplBands,
      bpeMerges, bpeMergesN, bpeEncode, bpeRoundtrip, unigramLm,
      sampleWeighted, sampleAres,
      temperatureMix, chunking, epochShards, curriculum,
      evalNdcg, hardNegatives,
      zipfFit, piiRedact,
      heavyHitters, unseenMass)
}
