package graft.text

/** DuckDB twins of [[TextQueries]]. Parity notes:
  *   - `/` on integers is float division in BOTH engines (DuckDB integer
  *     division is the separate `//`), so ratio columns match bit-exactly;
  *   - DuckDB regexp_replace is first-match-only without the 'g' flag;
  *   - DuckDB list slicing `l[i:j]` is 1-based inclusive — `l[i:i+n-1]`
  *     equals Spark `slice(l, i, n)`;
  *   - hex->int: CAST(('0x'||substr(md5(x),1,15))::UBIGINT AS BIGINT)
  *     equals Spark `conv(substring(md5(x),1,15),16,10)::long` (60 bits,
  *     always below 2^63).
  *
  * Every public SQL string is a `def`, NOT a `val` (same rule as
  * [[graft.dedup.DedupOracle]]): this object sits on the
  * TextQueries <-> TextOracle <-> DedupOracle reference cycle, and a val
  * that reads a TextQueries constant would — when DedupQueries happens to
  * initialize first (e.g. via streaming.DocStreams) — re-enter TextQueries
  * mid-init and hand four GraftQueries a null oracle SILENTLY
  * (GraftQuery wraps with Option(sql), downgrading them to rows-only).
  * With defs the object's static init touches only leaf helpers, so it
  * completes atomically no matter who initializes whom.
  */
object TextOracle {

  import TextFns.hash60Sql

  private def orChain(v: String, words: Seq[String]): String =
    words.map(w => s"$v = '$w'").mkString(" OR ")

  private def stopCount(toks: String, words: Seq[String]): String =
    s"len(list_filter($toks, t -> ${orChain("t", words)}))"

  def tokenStatsSql: String = s"""
    WITH t AS (
      SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id, lang,
      CAST(len(toks) AS INTEGER) AS n_tokens,
      CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
      len(list_distinct(toks)) / len(toks) AS ttr,
      CAST(len(regexp_extract_all(text, '([a-z]{1,4})', 1)) AS INTEGER) AS n_bpeish,
      ${stopCount("toks", TextFns.Stopwords)} / len(toks) AS stopword_ratio
    FROM t ORDER BY doc_id"""

  /** PII/pattern screen twin. DuckDB regexp_extract_all defaults to group
    * 0 when no group arg is given; patterns are the identical Java/RE2
    * common-subset literals (see TextQueries.piiScreen).
    */
  def piiScreenSql: String = {
    import TextQueries.{PiiDigitPat, PiiEmailPat}
    s"""
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '$PiiEmailPat')) AS INTEGER) AS n_emails,
      CAST(len(regexp_extract_all(text, '$PiiDigitPat')) AS INTEGER) AS n_digit_runs,
      CAST(len(regexp_extract_all(text, '[a-z]{8,}')) AS INTEGER) AS n_long_tokens,
      CAST(len(regexp_extract_all(text, '[aeiou]{2,}')) AS INTEGER) AS n_vowel_runs,
      CASE WHEN len(regexp_extract_all(text, '$PiiEmailPat')) > 0
             OR len(regexp_extract_all(text, '$PiiDigitPat')) > 0
           THEN 1 ELSE 0 END AS pii_flag
    FROM documents ORDER BY doc_id"""
  }

  /** PII-redaction twin: same pattern literals, same email-then-digits
    * replacement order (the contract — emails contain digits), 'g' flag
    * for Spark's replace-all default; the md5 fingerprints the redacted
    * content value-for-value.
    */
  def piiRedactSql: String = {
    import TextQueries.{PiiDigitPat, PiiEmailPat}
    s"""
    WITH r AS (
      SELECT doc_id, text,
        regexp_replace(text, '$PiiEmailPat', '<EMAIL>', 'g') AS r1
      FROM documents),
    r2 AS (
      SELECT doc_id, text, r1,
        regexp_replace(r1, '$PiiDigitPat', '<NUM>', 'g') AS redacted
      FROM r)
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '$PiiEmailPat')) AS INTEGER)
        AS n_emails,
      CAST(len(regexp_extract_all(r1, '$PiiDigitPat')) AS INTEGER)
        AS n_digit_runs,
      CAST(length(text) AS INTEGER) AS n_chars,
      CAST(length(redacted) AS INTEGER) AS n_chars_redacted,
      md5(redacted) AS redacted_md5
    FROM r2 ORDER BY doc_id"""
  }

  def qualitySql: String = s"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    q AS (
      SELECT doc_id,
        CAST(len(toks) AS INTEGER) AS n_tokens,
        ${stopCount("toks", TextFns.Stopwords)} / len(toks) AS stop_ratio,
        least(1.0, len(toks) / 60.0) *
          (1.0 - ${stopCount("toks", TextFns.Stopwords)} / len(toks)) AS score
      FROM t
    )
    SELECT doc_id, n_tokens, stop_ratio, score,
      CASE WHEN score >= 0.45 THEN 'keep' ELSE 'drop' END AS verdict
    FROM q ORDER BY doc_id"""

  /** Naive-Bayes quality-filter twin: the heuristic label is qualitySql's
    * score expression, training/scoring share one (doc, label, token, cnt)
    * CTE, per-type log-likelihoods and priors are quantized to BIGINT at
    * 1e-9, and the per-doc sums/verdict are exact BIGINT arithmetic —
    * identical long values to the Spark side by construction.
    */
  /** The Naive-Bayes CTE chain (training + per-doc scoring) shared by
    * [[qualityNbSql]] and [[qualityNbConfusionSql]]; ends at
    * `nbdoc(doc_id, heur_label, nb_llr, nb_pred)`.
    */
  private def nbCtes: String = s"""
    t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    lab AS (
      SELECT doc_id, toks,
        CASE WHEN least(1.0, len(toks) / 60.0) *
          (1.0 - ${stopCount("toks", TextFns.Stopwords)} / len(toks)) >= 0.45
          THEN 'keep' ELSE 'drop' END AS label
      FROM t
    ),
    occ AS (
      SELECT doc_id, label, token, COUNT(*) AS cnt FROM (
        SELECT doc_id, label, unnest(toks) AS token FROM lab
      ) GROUP BY doc_id, label, token
    ),
    ct AS (
      SELECT token,
        CAST(SUM(CASE WHEN label = 'keep' THEN cnt ELSE 0 END) AS BIGINT) AS ck,
        CAST(SUM(CASE WHEN label = 'drop' THEN cnt ELSE 0 END) AS BIGINT) AS cd
      FROM occ GROUP BY token
    ),
    st AS (
      SELECT
        CAST(SUM(CASE WHEN label = 'keep' THEN cnt ELSE 0 END) AS BIGINT) AS tk,
        CAST(SUM(CASE WHEN label = 'drop' THEN cnt ELSE 0 END) AS BIGINT) AS td,
        COUNT(DISTINCT token) AS v
      FROM occ
    ),
    pri AS (
      SELECT
        CAST(floor(ln(SUM(CASE WHEN label = 'keep' THEN 1 ELSE 0 END) / COUNT(*))
          * 1e9 + 0.5) AS BIGINT) AS pk,
        CAST(floor(ln(SUM(CASE WHEN label = 'drop' THEN 1 ELSE 0 END) / COUNT(*))
          * 1e9 + 0.5) AS BIGINT) AS pd
      FROM lab
    ),
    lt AS (
      SELECT token,
        CAST(floor(ln((ck + 1) / (tk + v)) * 1e9 + 0.5) AS BIGINT) AS qk,
        CAST(floor(ln((cd + 1) / (td + v)) * 1e9 + 0.5) AS BIGINT) AS qd
      FROM ct, st
    ),
    sc AS (
      SELECT doc_id, label,
        CAST(SUM(cnt * qk) AS BIGINT) AS sk,
        CAST(SUM(cnt * qd) AS BIGINT) AS sd
      FROM occ JOIN lt USING (token)
      GROUP BY doc_id, label
    ),
    nbdoc AS (
      SELECT doc_id, label AS heur_label,
        (sk + pk - sd - pd) / 1e9 AS nb_llr,
        CASE WHEN sk + pk >= sd + pd THEN 'keep' ELSE 'drop' END AS nb_pred
      FROM sc, pri
    )"""

  def qualityNbSql: String = s"""
    WITH $nbCtes
    SELECT doc_id, heur_label, nb_llr, nb_pred,
      nb_pred = heur_label AS agree
    FROM nbdoc
    ORDER BY doc_id"""

  /** Calibration-curve twin: the shared NB chain, the identical
    * norm/bin construction (floor over the same double division), and
    * exact LONG/LONG rate divisions per bin.
    */
  def calibrationCurveSql: String = {
    val w = TextQueries.CalibBinWidth
    s"""
    WITH $nbCtes,
    ntk AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents
    ),
    cb AS (
      SELECT n.doc_id, n.heur_label, n.nb_pred,
        n.nb_pred = n.heur_label AS agree,
        n.nb_llr / k.nt AS norm
      FROM nbdoc n JOIN ntk k USING (doc_id)
    ),
    cbb AS (
      SELECT *, CAST(floor(norm / $w::DOUBLE) AS BIGINT) AS bin FROM cb
    )
    SELECT bin, bin * $w::DOUBLE AS bin_lo, COUNT(*) AS n_docs,
      (CAST(SUM(CAST(floor(norm * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
        / 1000000.0) / COUNT(*) AS avg_norm_llr,
      CAST(SUM(CASE WHEN heur_label = 'keep' THEN 1 ELSE 0 END) AS BIGINT)
        / COUNT(*) AS heur_keep_rate,
      CAST(SUM(CASE WHEN nb_pred = 'keep' THEN 1 ELSE 0 END) AS BIGINT)
        / COUNT(*) AS nb_keep_rate,
      CAST(SUM(CASE WHEN agree THEN 1 ELSE 0 END) AS BIGINT)
        / COUNT(*) AS agree_rate
    FROM cbb GROUP BY bin ORDER BY bin"""
  }

  /** Isotonic twin: the shared NB chain + the same bin construction as
    * [[calibrationCurveSql]], then the PAV minimax identity as three
    * joins over the bin frame — interval means are exact LONG/LONG
    * divisions from prefix sums (the numerator/denominator columns are
    * pre-materialized as ckj0/cwj0 so both engines subtract the same
    * exact integers), ECE terms quantize to 1e-9 LONGs before summing.
    */
  def isotonicSql: String = {
    val w = TextQueries.CalibBinWidth
    s"""
    WITH $nbCtes,
    ntk AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents
    ),
    cbb AS (
      SELECT n.heur_label, n.nb_pred,
        CAST(floor((n.nb_llr / k.nt) / $w::DOUBLE) AS BIGINT) AS bin
      FROM nbdoc n JOIN ntk k USING (doc_id)
    ),
    bins AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS w,
        CAST(SUM(CASE WHEN heur_label = 'keep' THEN 1 ELSE 0 END)
          AS BIGINT) AS k,
        CAST(SUM(CASE WHEN nb_pred = 'keep' THEN 1 ELSE 0 END)
          AS BIGINT) AS nbk
      FROM cbb GROUP BY bin
    ),
    pre AS (
      SELECT bin, w, k, nbk,
        CAST(SUM(w) OVER (ORDER BY bin) AS BIGINT) AS cw,
        CAST(SUM(k) OVER (ORDER BY bin) AS BIGINT) AS ck
      FROM bins
    ),
    legs AS (
      SELECT bin, w, k, nbk, cw, ck,
        cw - w AS cwj0, ck - k AS ckj0
      FROM pre
    ),
    means AS (
      SELECT i.bin AS i, i.w AS wi, i.k AS ki, i.nbk AS nbki, j.bin AS j,
        (kk.ck - j.ckj0) / (kk.cw - j.cwj0) AS mean_jk
      FROM legs i
      JOIN legs j ON j.bin <= i.bin
      JOIN legs kk ON kk.bin >= i.bin
    ),
    inner_min AS (
      SELECT i, wi, ki, nbki, j, MIN(mean_jk) AS mn
      FROM means GROUP BY i, wi, ki, nbki, j
    ),
    iso AS (
      SELECT i, wi, ki, nbki, MAX(mn) AS iso_rate,
        ki / wi AS heur_keep_rate, nbki / wi AS nb_keep_rate
      FROM inner_min
      GROUP BY i, wi, ki, nbki
    ),
    ece AS (
      SELECT
        CAST(SUM(CAST(floor(wi * abs(nb_keep_rate - heur_keep_rate)
          * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS ebq,
        CAST(SUM(CAST(floor(wi * abs(iso_rate - heur_keep_rate)
          * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS eaq,
        CAST(SUM(wi) AS BIGINT) AS n
      FROM iso
    )
    SELECT i AS bin, i * $w::DOUBLE AS bin_lo, wi AS n_docs,
      heur_keep_rate, nb_keep_rate, iso_rate,
      ebq / 1000000000.0 / n AS ece_before,
      eaq / 1000000000.0 / n AS ece_after
    FROM iso, ece
    ORDER BY bin"""
  }

  /** Confusion twin: the shared NB chain joined back to the corpus for
    * the language axis; per-cell LLR mass via the 1e-9 quantized sum
    * (exact — nb_llr is an integer/1e9, so the round-trip is lossless).
    */
  def qualityNbConfusionSql: String = s"""
    WITH $nbCtes
    SELECT d.lang, n.heur_label, n.nb_pred,
      COUNT(*) AS docs,
      SUM(CAST(floor(n.nb_llr * 1000000000.0 + 0.5) AS BIGINT))
        / 1000000000.0 AS sum_llr
    FROM nbdoc n JOIN documents d USING (doc_id)
    GROUP BY 1, 2, 3
    ORDER BY lang, heur_label, nb_pred"""

  /** Unseen-mass twin: the fingerprint trigram idiom (toks[i:i+2] is the
    * 3-token slice in DuckDB's inclusive slicing), exact
    * frequency-of-frequency counts, shared-shape estimator arithmetic.
    */
  def unseenMassSql: String = s"""
    WITH t AS (
      SELECT lang, string_split(text, ' ') AS toks FROM documents
    ),
    g AS (
      SELECT lang, unnest(list_transform(
        range(1, CAST(len(toks) - 1 AS BIGINT)),
        i -> array_to_string(toks[i:i+2], ' '))) AS gram
      FROM t
    ),
    c AS (
      SELECT lang, gram, CAST(COUNT(*) AS BIGINT) AS n
      FROM g GROUP BY lang, gram
    ),
    f AS (
      SELECT lang, CAST(SUM(n) AS BIGINT) AS n_grams,
        CAST(COUNT(*) AS BIGINT) AS v_types,
        CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      FROM c GROUP BY lang
    )
    SELECT lang, n_grams, v_types, n1, n2,
      CAST(n1 AS DOUBLE) / CAST(n_grams AS DOUBLE) AS unseen_mass,
      1.0::DOUBLE - CAST(n1 AS DOUBLE) / CAST(n_grams AS DOUBLE)
        AS coverage,
      CAST(v_types AS DOUBLE)
        + CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0::DOUBLE)
          / (2.0::DOUBLE * (CAST(n2 AS DOUBLE) + 1.0::DOUBLE)) AS chao1
    FROM f
    ORDER BY lang"""

  /** Heavy-hitter twin: exact counts over the vocabulary (affordable at
    * gate SF — the engine's sketch path is the 100 TB shape), the same
    * strict n/(k+1) threshold in exact BIGINT arithmetic, TRUE for the
    * attested bands (the sketch-contract precedent). A `def`
    * (init-order lesson — MgK lives below the first query val).
    */
  def heavyHittersSql: String = {
    val k1 = TextQueries.MgK + 1
    s"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    c AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM tok GROUP BY token
    ),
    t AS (SELECT CAST(SUM(exact_cnt) AS BIGINT) AS n_total FROM c),
    hh AS (
      SELECT c.token, c.exact_cnt, t.n_total
      FROM c, t WHERE c.exact_cnt * $k1 > t.n_total
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, token)
        AS BIGINT) AS rank,
      token, exact_cnt, n_total,
      true AS est_le_exact, true AS est_within_err,
      true AS err_within_bound
    FROM hh
    ORDER BY rank"""
  }

  /** AUC twin: the shared NB chain, lossless BIGINT score recovery,
    * identical midrank/operating-point windows over distinct scores,
    * the same trapezoid shape with 1e-9 term quantization. A `def`
    * (init-order lesson).
    */
  def qualityNbAucSql: String = s"""
    WITH $nbCtes,
    sqt AS (
      SELECT CAST(floor(nb_llr * 1e9 + 0.5) AS BIGINT) AS sq,
        CASE WHEN heur_label = 'keep' THEN 1 ELSE 0 END AS y
      FROM nbdoc
    ),
    grp AS (
      SELECT sq, CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(SUM(y) AS BIGINT) AS pos
      FROM sqt GROUP BY sq
    ),
    pts AS (
      SELECT sq, cnt, pos,
        COALESCE(SUM(cnt) OVER (ORDER BY sq
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
        SUM(pos) OVER (ORDER BY sq DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        SUM(cnt - pos) OVER (ORDER BY sq DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
      FROM grp
    ),
    tot AS (
      SELECT CAST(MAX(tp) AS BIGINT) AS p, CAST(MAX(fp) AS BIGINT) AS n,
        CAST(COUNT(*) AS BIGINT) AS n_groups,
        CAST(SUM(pos * (2 * cum + cnt + 1)) AS BIGINT) AS r2
      FROM pts
    ),
    ops AS (
      SELECT sq,
        CAST(tp AS DOUBLE) / CAST(t.p AS DOUBLE) AS recall,
        CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS prec
      FROM pts, tot t
    ),
    prterms AS (
      SELECT (recall - COALESCE(LAG(recall) OVER (ORDER BY sq DESC),
          0.0::DOUBLE))
        * (prec + COALESCE(LAG(prec) OVER (ORDER BY sq DESC),
          1.0::DOUBLE))
        * 0.5::DOUBLE AS term
      FROM ops
    ),
    pr AS (
      SELECT CAST(SUM(CAST(floor(term * 1e9 + 0.5) AS BIGINT))
        AS BIGINT) AS prq
      FROM prterms
    )
    SELECT t.p AS n_pos, t.n AS n_neg, t.n_groups,
      CAST(t.r2 - t.p * (t.p + 1) AS DOUBLE)
        / CAST(2 * t.p * t.n AS DOUBLE) AS auc_roc,
      CAST(pr.prq AS DOUBLE) / 1e9 AS pr_auc
    FROM tot t, pr"""

  /** The LR feature CTEs (over an existing `t(doc_id, toks)` CTE):
    * feature shapes mirror [[tokenStatsSql]] (BIGINT/BIGINT divisions →
    * DOUBLE) and the label CASE is the [[nbCtes]] `lab` condition
    * verbatim, with 1/0 emitted as DOUBLE.
    */
  private def lrFeatCte: String = s"""
    feat AS (
      SELECT doc_id,
        least(1.0::DOUBLE, len(toks) / 60.0::DOUBLE) AS x1,
        ${stopCount("toks", TextFns.Stopwords)} / len(toks) AS x2,
        len(list_distinct(toks)) / len(toks) AS x3,
        CASE WHEN least(1.0, len(toks) / 60.0) *
          (1.0 - ${stopCount("toks", TextFns.Stopwords)} / len(toks)) >= 0.45
          THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS y
      FROM t
    )"""

  /** The unrolled GD chain: w0 = 0; each round k computes the
    * hard-sigmoid error under w(k−1), the four 1e-9-quantized LONG
    * gradient sums, and the re-quantized weight update — the exact
    * arithmetic of TextQueries.lrTrain, so wK reproduces the driver
    * loop's weights bit-for-bit. Ends at `w$K(w0, w1, w2, w3)`.
    */
  private def lrRoundCtes: String = {
    val k0 = """
    w0 AS (SELECT 0.0::DOUBLE AS w0, 0.0::DOUBLE AS w1,
      0.0::DOUBLE AS w2, 0.0::DOUBLE AS w3)"""
    val rounds = (1 to TextQueries.LrIters).map { k =>
      s"""
    e$k AS (
      SELECT f.x1, f.x2, f.x3,
        LEAST(1.0::DOUBLE, GREATEST(0.0::DOUBLE,
          0.25::DOUBLE * (w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3)
          + 0.5::DOUBLE)) - f.y AS err
      FROM feat f, w${k - 1} w
    ),
    g$k AS (
      SELECT
        CAST(SUM(CAST(floor(err * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS g0,
        CAST(SUM(CAST(floor(err * x1 * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS g1,
        CAST(SUM(CAST(floor(err * x2 * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS g2,
        CAST(SUM(CAST(floor(err * x3 * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS g3,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM e$k
    ),
    w$k AS (
      SELECT
        floor((w.w0 - g.g0 / 1e9 / g.n) * 1e9 + 0.5) / 1e9 AS w0,
        floor((w.w1 - g.g1 / 1e9 / g.n) * 1e9 + 0.5) / 1e9 AS w1,
        floor((w.w2 - g.g2 / 1e9 / g.n) * 1e9 + 0.5) / 1e9 AS w2,
        floor((w.w3 - g.g3 / 1e9 / g.n) * 1e9 + 0.5) / 1e9 AS w3
      FROM w${k - 1} w, g$k g
    )"""
    }
    (k0 +: rounds).mkString(",")
  }

  /** Per-doc scores under the trained weights, as a CTE ending at
    * `lrscored(doc_id, heur_label, lr_score)`.
    */
  private def lrScoredCte: String = s"""
    lrscored AS (
      SELECT f.doc_id,
        CASE WHEN f.y = 1.0::DOUBLE THEN 'keep' ELSE 'drop' END
          AS heur_label,
        w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3 AS lr_score
      FROM feat f, w${TextQueries.LrIters} w
    )"""

  def qualityLrSql: String = s"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    $lrFeatCte,
    $lrRoundCtes,
    $lrScoredCte
    SELECT doc_id, heur_label, lr_score,
      CASE WHEN lr_score >= 0.0::DOUBLE THEN 'keep' ELSE 'drop' END
        AS lr_pred,
      (CASE WHEN lr_score >= 0.0::DOUBLE THEN 'keep' ELSE 'drop' END)
        = heur_label AS agree
    FROM lrscored
    ORDER BY doc_id"""

  /** The tie-corrected AUC chain of [[qualityNbAucSql]], prefixed so two
    * instances can share one WITH clause. Ends at `${"$"}{p}tot` /
    * `${"$"}{p}pr`.
    */
  private def aucCtes(p: String, src: String, labelCol: String,
      scoreCol: String): String = s"""
    ${p}sqt AS (
      SELECT CAST(floor($scoreCol * 1e9 + 0.5) AS BIGINT) AS sq,
        CASE WHEN $labelCol = 'keep' THEN 1 ELSE 0 END AS y
      FROM $src
    ),
    ${p}grp AS (
      SELECT sq, CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(SUM(y) AS BIGINT) AS pos
      FROM ${p}sqt GROUP BY sq
    ),
    ${p}pts AS (
      SELECT sq, cnt, pos,
        COALESCE(SUM(cnt) OVER (ORDER BY sq
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
        SUM(pos) OVER (ORDER BY sq DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        SUM(cnt - pos) OVER (ORDER BY sq DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
      FROM ${p}grp
    ),
    ${p}tot AS (
      SELECT CAST(MAX(tp) AS BIGINT) AS p, CAST(MAX(fp) AS BIGINT) AS n,
        CAST(SUM(pos * (2 * cum + cnt + 1)) AS BIGINT) AS r2
      FROM ${p}pts
    ),
    ${p}ops AS (
      SELECT sq,
        CAST(tp AS DOUBLE) / CAST(t.p AS DOUBLE) AS recall,
        CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS prec
      FROM ${p}pts, ${p}tot t
    ),
    ${p}prterms AS (
      SELECT (recall - COALESCE(LAG(recall) OVER (ORDER BY sq DESC),
          0.0::DOUBLE))
        * (prec + COALESCE(LAG(prec) OVER (ORDER BY sq DESC),
          1.0::DOUBLE))
        * 0.5::DOUBLE AS term
      FROM ${p}ops
    ),
    ${p}pr AS (
      SELECT CAST(SUM(CAST(floor(term * 1e9 + 0.5) AS BIGINT))
        AS BIGINT) AS prq
      FROM ${p}prterms
    )"""

  /** Weights-artifact twin: the unrolled GD chain's final weight row,
    * renamed — the weights themselves hash-match (full value parity).
    */
  def qualityLrWeightsSql: String = s"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    $lrFeatCte,
    $lrRoundCtes
    SELECT w0 AS w_bias, w1 AS w_len_factor, w2 AS w_stop_ratio,
      w3 AS w_ttr, ${TextQueries.LrIters} AS gd_sweeps
    FROM w${TextQueries.LrIters}"""

  /** Agreement-matrix twin: the NB chain and the LR chain share the `t`
    * CTE; verdicts join on doc_id and aggregate to the 2^3 cell grid.
    */
  def filterAgreementSql: String = s"""
    WITH $nbCtes,
    $lrFeatCte,
    $lrRoundCtes,
    $lrScoredCte,
    lrv AS (
      SELECT doc_id,
        CASE WHEN lr_score >= 0.0::DOUBLE THEN 'keep' ELSE 'drop' END
          AS lr_pred
      FROM lrscored
    ),
    cells AS (
      SELECT n.heur_label, n.nb_pred, v.lr_pred,
        CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM nbdoc n JOIN lrv v USING (doc_id)
      GROUP BY 1, 2, 3
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM cells)
    SELECT heur_label, nb_pred, lr_pred, n_docs,
      n_docs / n AS share,
      nb_pred = lr_pred AS learned_agree,
      (nb_pred = heur_label AND lr_pred = heur_label) AS all_agree
    FROM cells, tot
    ORDER BY heur_label, nb_pred, lr_pred"""

  /** K-fold CV twin: the fold column rides the doc_id content hash; the
    * K×4 weight matrix is a 1-row CTE, MATERIALIZED each round (every
    * round references the previous twice — the bradleyTerrySql CTE-
    * inlining lesson); per-fold held-out AUC reuses the prefixed
    * [[aucCtes]] chain five times.
    */
  def qualityLrCvSql: String = {
    val K = TextQueries.CvFolds
    val I = TextQueries.LrIters
    val h60 = hash60Sql("CAST(doc_id AS VARCHAR)")
    val kj = for { k <- 0 until K; j <- 0 to 3 } yield (k, j)
    def xFactor(j: Int) = if (j == 0) "" else s"* x$j "
    def zExpr(k: Int) =
      s"(w.w${k}_0 + w.w${k}_1 * x1 + w.w${k}_2 * x2 + w.w${k}_3 * x3)"
    def errExpr(k: Int) = s"LEAST(1.0::DOUBLE, GREATEST(0.0::DOUBLE, " +
      s"0.25::DOUBLE * ${zExpr(k)} + 0.5::DOUBLE)) - y"
    val zeroCols = kj.map { case (k, j) => s"0.0::DOUBLE AS w${k}_$j" }
      .mkString(", ")
    val nfCols = (0 until K).map(k =>
      s"CAST(SUM(CASE WHEN fold <> $k THEN 1 ELSE 0 END) AS BIGINT) AS n$k")
      .mkString(",\n        ")
    val rounds = (1 to I).map { i =>
      val gCols = kj.map { case (k, j) =>
        s"""CAST(SUM(CASE WHEN fold <> $k THEN CAST(floor((${errExpr(k)})
          ${xFactor(j)}* 1e9 + 0.5) AS BIGINT) END) AS BIGINT) AS g${k}_$j"""
      }.mkString(",\n        ")
      val wCols = kj.map { case (k, j) =>
        s"floor((w.w${k}_$j - g.g${k}_$j / 1e9 / nf.n$k) * 1e9 + 0.5) " +
          s"/ 1e9 AS w${k}_$j"
      }.mkString(",\n        ")
      s"""
    cg$i AS MATERIALIZED (
      SELECT
        $gCols
      FROM cfeat, cw${i - 1} w
    ),
    cw$i AS MATERIALIZED (
      SELECT
        $wCols
      FROM cw${i - 1} w, cg$i g, nf
    )"""
    }.mkString(",")
    val scoredCtes = (0 until K).map { k =>
      s"""
    cvscored$k AS (
      SELECT CASE WHEN y = 1.0::DOUBLE THEN 'keep' ELSE 'drop' END
          AS heur_label,
        w.w${k}_0 + w.w${k}_1 * x1 + w.w${k}_2 * x2 + w.w${k}_3 * x3
          AS lr_score
      FROM cfeat, cw$I w WHERE fold = $k
    ),
    ${aucCtes(s"f${k}_", s"cvscored$k", "heur_label", "lr_score")}"""
    }.mkString(",")
    val perfold = (0 until K).map { k =>
      s"""SELECT CAST($k AS INTEGER) AS fold, nf.n$k AS n_train,
        t.p AS n_pos, t.n AS n_neg,
        CAST(t.r2 - t.p * (t.p + 1) AS DOUBLE)
          / CAST(2 * t.p * t.n AS DOUBLE) AS auc_roc,
        CAST(pq.prq AS DOUBLE) / 1e9 AS pr_auc
      FROM f${k}_tot t, f${k}_pr pq, nf"""
    }.mkString("\n      UNION ALL\n      ")
    s"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    $lrFeatCte,
    cfeat AS MATERIALIZED (
      SELECT doc_id, x1, x2, x3, y,
        CAST($h60 % $K AS INTEGER) AS fold
      FROM feat
    ),
    nf AS MATERIALIZED (
      SELECT
        $nfCols
      FROM cfeat
    ),
    cw0 AS MATERIALIZED (SELECT $zeroCols),
    $rounds,
    $scoredCtes,
    perfold AS (
      $perfold
    ),
    csumm AS (
      SELECT
        CAST(SUM(CAST(floor(auc_roc * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
          AS sroc,
        CAST(SUM(CAST(floor(pr_auc * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
          AS spr
      FROM perfold
    )
    SELECT fold, n_train, n_pos, n_neg, auc_roc, pr_auc,
      sroc / 1e9 / $K AS mean_auc_roc,
      spr / 1e9 / $K AS mean_pr_auc
    FROM perfold, csumm
    ORDER BY fold"""
  }

  def qualityLrAucSql: String = s"""
    WITH $nbCtes,
    $lrFeatCte,
    $lrRoundCtes,
    $lrScoredCte,
    ${aucCtes("lr_", "lrscored", "heur_label", "lr_score")},
    ${aucCtes("nb_", "nbdoc", "heur_label", "nb_llr")}
    SELECT lt.p AS n_pos, lt.n AS n_neg,
      CAST(lt.r2 - lt.p * (lt.p + 1) AS DOUBLE)
        / CAST(2 * lt.p * lt.n AS DOUBLE) AS lr_auc_roc,
      CAST(lpr.prq AS DOUBLE) / 1e9 AS lr_pr_auc,
      CAST(nt.r2 - nt.p * (nt.p + 1) AS DOUBLE)
        / CAST(2 * nt.p * nt.n AS DOUBLE) AS nb_auc_roc,
      CAST(npr.prq AS DOUBLE) / 1e9 AS nb_pr_auc,
      CAST(lt.r2 - lt.p * (lt.p + 1) AS DOUBLE)
        / CAST(2 * lt.p * lt.n AS DOUBLE)
      - CAST(nt.r2 - nt.p * (nt.p + 1) AS DOUBLE)
        / CAST(2 * nt.p * nt.n AS DOUBLE) AS lr_minus_nb_roc
    FROM lr_tot lt, lr_pr lpr, nb_tot nt, nb_pr npr"""

  private val langStructs: String =
    TextFns.LangMarkers.zipWithIndex.map { case ((lang, markers), i) =>
      val negc =
        if (markers.isEmpty) "CAST(0 AS BIGINT)"
        else s"-${stopCount("toks", markers)}"
      s"{'negc': $negc, 'i': $i, 'lang': '$lang'}"
    }.mkString("[", ", ", "]")

  def langConfusionSql: String = s"""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ),
    p AS (
      SELECT lang, (list_sort($langStructs))[1].lang AS lang_pred FROM t
    )
    SELECT lang, lang_pred, COUNT(*) AS docs FROM p
    GROUP BY lang, lang_pred ORDER BY lang, lang_pred"""

  def fingerprintsSql: String = s"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
      md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
      CASE WHEN len(toks) >= 3 THEN
        list_min(list_transform(
          list_transform(range(1, CAST(len(toks)-1 AS BIGINT)),
            i -> array_to_string(toks[i:i+2], ' ')),
          s -> md5(s)))
      ELSE md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
      END AS min_shingle
    FROM t ORDER BY doc_id"""

  /** CTE chain ending in `sim` = (doc_id, simhash) — shared with the
    * SimHash near-dup oracle in [[graft.dedup.DedupOracle]].
    */
  val simhashCtes: String = {
    val bits = TextFns.SimhashBits
    val sums = (0 until bits).map { b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN cnt ELSE -cnt END) AS s$b"
    }.mkString(",\n        ")
    val fp = (0 until bits).map { b =>
      s"(CASE WHEN s$b > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) * ${1L << b}"
    }.mkString("\n      + ")
    s"""tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tc AS (
      SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY doc_id, token
    ),
    th AS (
      SELECT doc_id, cnt,
        CAST(('0x' || substr(md5(token),1,15))::UBIGINT AS BIGINT) AS h
      FROM tc
    ),
    bits AS (
      SELECT doc_id,
        $sums
      FROM th GROUP BY doc_id
    ),
    sim AS (
      SELECT doc_id,
        $fp AS simhash
      FROM bits
    )"""
  }

  def simhashSql: String = s"""
    WITH $simhashCtes
    SELECT doc_id, simhash FROM sim ORDER BY doc_id"""

  def ngramCountsSql: String = s"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(
        CASE WHEN len(toks) >= 3 THEN
          list_transform(range(1, CAST(len(toks) - 1 AS BIGINT)),
            i -> array_to_string(toks[i:i+2], ' '))
        ELSE [] END) AS ngram
      FROM t
    )
    SELECT ngram, COUNT(*) AS total_count,
      COUNT(DISTINCT doc_id) AS doc_freq
    FROM sh
    GROUP BY ngram
    ORDER BY total_count DESC, ngram LIMIT 20"""

  def repetitionSql: String = s"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 2 THEN
          list_transform(range(1, CAST(len(toks) AS BIGINT)),
            i -> array_to_string(toks[i:i+1], ' '))
        ELSE [] END AS grams
      FROM t
    ),
    gs AS (
      SELECT doc_id,
        CAST(len(grams) AS INTEGER) AS n_2grams,
        CAST(len(list_distinct(grams)) AS INTEGER) AS n_distinct_2grams
      FROM g
    ),
    tc AS (
      SELECT doc_id, token, COUNT(*) AS cnt
      FROM (SELECT doc_id, unnest(toks) AS token FROM t)
      GROUP BY doc_id, token
    ),
    tt AS (
      SELECT doc_id, MAX(cnt) / CAST(SUM(cnt) AS BIGINT) AS top_token_frac
      FROM tc GROUP BY doc_id
    )
    SELECT gs.doc_id, n_2grams, n_distinct_2grams,
      CASE WHEN n_2grams > 0
        THEN (n_2grams - n_distinct_2grams) / n_2grams
        ELSE 0.0::DOUBLE END AS dup_2gram_frac,
      top_token_frac
    FROM gs JOIN tt ON gs.doc_id = tt.doc_id
    ORDER BY gs.doc_id"""

  /** Twin of [[TextQueries.sampleNeyman]]: strata sufficient statistics,
    * 1e-9-quantized Neyman weights, largest-remainder apportionment with
    * the identical rank rule, capped allocations, content-hash draw. A
    * `def` (init-order lesson).
    */
  def sampleNeymanSql: String = {
    val div = TextQueries.NeymanBudgetDiv
    val h60 = hash60Sql("CAST(doc_id AS VARCHAR)")
    s"""
    WITH base AS (
      SELECT lang, doc_id, n_chars, $h60 AS h FROM documents
    ),
    strata AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_h,
        CAST(SUM(n_chars) AS BIGINT) AS sx,
        CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
      FROM base GROUP BY lang
    ),
    sg AS (
      SELECT *, CASE WHEN n_h > 1 THEN
          sqrt(GREATEST(0.0::DOUBLE,
            (sxx - CAST(sx AS DOUBLE) * sx / n_h)
              / CAST(n_h - 1 AS DOUBLE)))
        ELSE 0.0::DOUBLE END AS sigma_h
      FROM strata
    ),
    sw AS (
      SELECT *, CAST(FLOOR(CAST(n_h AS DOUBLE) * sigma_h * 1e9 + 0.5)
        AS BIGINT) AS wq
      FROM sg
    ),
    tot AS (
      SELECT CAST(SUM(wq) AS BIGINT) AS wq_tot,
        CAST(SUM(n_h) AS BIGINT) // $div AS budget
      FROM sw
    ),
    qb AS (
      SELECT sw.*, tot.budget, tot.wq_tot,
        CAST(FLOOR(CAST(tot.budget AS DOUBLE)
          * (CAST(sw.wq AS DOUBLE) / CAST(tot.wq_tot AS DOUBLE)))
          AS BIGINT) AS base_a,
        CAST(FLOOR((CAST(tot.budget AS DOUBLE)
            * (CAST(sw.wq AS DOUBLE) / CAST(tot.wq_tot AS DOUBLE))
          - FLOOR(CAST(tot.budget AS DOUBLE)
            * (CAST(sw.wq AS DOUBLE) / CAST(tot.wq_tot AS DOUBLE))))
          * 1e9 + 0.5) AS BIGINT) AS remq
      FROM sw CROSS JOIN tot
    ),
    sp AS (SELECT CAST(SUM(base_a) AS BIGINT) AS base_tot FROM qb),
    al AS (
      SELECT qb.lang, qb.n_h, qb.sigma_h,
        CAST(qb.wq AS DOUBLE) / CAST(qb.wq_tot AS DOUBLE) AS w_share,
        LEAST(qb.base_a
          + CASE WHEN ROW_NUMBER() OVER (ORDER BY qb.remq DESC, qb.lang)
              <= qb.budget - sp.base_tot THEN 1 ELSE 0 END,
          qb.n_h) AS alloc,
        CAST(qb.sx AS DOUBLE) / CAST(qb.n_h AS DOUBLE) AS pop_mean_chars
      FROM qb CROSS JOIN sp
    ),
    dr AS (
      SELECT b.lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
        CAST(SUM(b.n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS sample_mean_chars
      FROM (
        SELECT lang, n_chars,
          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
        FROM base
      ) b JOIN al ON al.lang = b.lang AND b.rn <= al.alloc
      GROUP BY b.lang
    )
    SELECT al.lang, al.n_h, al.sigma_h, al.w_share, al.alloc,
      COALESCE(dr.n_sampled, 0) AS n_sampled, al.pop_mean_chars,
      dr.sample_mean_chars
    FROM al LEFT JOIN dr ON dr.lang = al.lang
    ORDER BY al.lang"""
  }

  /** Twin of [[TextQueries.tokenDrift]]: same content-hash grouping,
    * vocab counts, Monroe-style smoothed log-odds z in the identical
    * expression shape, quantized-z ranks with the token tie-break. A
    * `def` (the init-order lesson — Drift constants live below the
    * first TextQueries query val).
    */
  def tokenDriftSql: String = {
    val k = TextQueries.DriftTopK
    val a = s"${TextQueries.DriftAlpha}::DOUBLE"
    val a2 = s"${2 * TextQueries.DriftAlpha}::DOUBLE"
    s"""
    WITH tok AS (
      SELECT ${hash60Sql("source")} % 2 AS grp,
        unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    counts AS (
      SELECT token,
        CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS y_a,
        CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS y_b
      FROM tok GROUP BY token
    ),
    totals AS (
      SELECT CAST(SUM(y_a) AS BIGINT) AS n_a,
        CAST(SUM(y_b) AS BIGINT) AS n_b
      FROM counts
    ),
    scored AS (
      SELECT token, y_a, y_b,
        CAST(FLOOR((
          (ln((y_a + $a) / (n_a + $a2 - y_a - $a))
            - ln((y_b + $a) / (n_b + $a2 - y_b - $a)))
          / sqrt(1.0::DOUBLE / (y_a + $a) + 1.0::DOUBLE / (y_b + $a)))
          * 1e9 + 0.5) AS BIGINT) AS zq
      FROM counts CROSS JOIN totals
    ),
    ranked AS (
      SELECT 'group_a' AS leaning,
        CAST(ROW_NUMBER() OVER (ORDER BY zq DESC, token) AS BIGINT)
          AS rank,
        token, y_a, y_b, CAST(zq AS DOUBLE) / 1e9 AS z
      FROM scored
      UNION ALL
      SELECT 'group_b',
        CAST(ROW_NUMBER() OVER (ORDER BY zq ASC, token) AS BIGINT),
        token, y_a, y_b, CAST(zq AS DOUBLE) / 1e9
      FROM scored
    )
    SELECT leaning, rank, token, y_a, y_b, z
    FROM ranked WHERE rank <= $k
    ORDER BY leaning, rank"""
  }

  private val normTextSql: String =
    "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** Source-quota twin: same exact-BIGINT token stats, the identical
    * (cap_ppm * total) / source double division under floor (one
    * exposure per SOURCE), and the shared hash60(normText) selector.
    */
  def sourceQuotaSql: String = {
    val cap = TextQueries.SourceCapPpm
    s"""
    WITH d AS (
      SELECT doc_id, source, text,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      FROM documents
    ),
    st AS (
      SELECT source, COUNT(*) AS docs_in,
        CAST(SUM(n_toks) AS BIGINT) AS toks_in
      FROM d GROUP BY source
    ),
    tt AS (SELECT CAST(SUM(toks_in) AS BIGINT) AS toks_total FROM st),
    q AS (
      SELECT st.source, st.docs_in, st.toks_in, tt.toks_total,
        LEAST(1000000,
          CAST(floor($cap * tt.toks_total / st.toks_in) AS BIGINT))
          AS keep_ppm
      FROM st CROSS JOIN tt
    ),
    k AS (
      SELECT d.source, COUNT(*) AS docs_kept,
        CAST(SUM(d.n_toks) AS BIGINT) AS toks_kept
      FROM d JOIN q USING (source)
      WHERE ${hash60Sql(normTextSql)} % 1000000 < q.keep_ppm
      GROUP BY d.source
    ),
    r AS (
      SELECT q.source, q.docs_in, q.toks_in,
        q.toks_in / q.toks_total AS share_in, q.keep_ppm,
        COALESCE(k.docs_kept, 0) AS docs_kept,
        CAST(COALESCE(k.toks_kept, 0) AS BIGINT) AS toks_kept
      FROM q LEFT JOIN k USING (source)
    )
    SELECT source, docs_in, toks_in, share_in, keep_ppm, docs_kept,
      toks_kept,
      toks_kept / (SELECT CAST(SUM(toks_kept) AS BIGINT) FROM r)
        AS realized_share
    FROM r ORDER BY source"""
  }

  def rebalanceSql: String = {
    val cases = TextQueries.RebalanceThresholds
      .map { case (l, t) => s"WHEN '$l' THEN $t" }.mkString(" ")
    s"""
    WITH t AS (
      SELECT lang,
        CASE WHEN ${hash60Sql(normTextSql)} % 1000 <
          (CASE lang $cases ELSE 0 END) THEN 1 ELSE 0 END AS kept
      FROM documents
    )
    SELECT lang,
      COUNT(*) AS docs_in,
      CAST(SUM(kept) AS BIGINT) AS docs_kept,
      CAST(SUM(kept) AS BIGINT) / COUNT(*) AS kept_frac
    FROM t GROUP BY lang ORDER BY lang"""
  }

  def packingSql: String = {
    import TextQueries.{PackBuckets, PackTokens}
    s"""
    WITH t AS (
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS INTEGER) AS n_toks,
        ${hash60Sql(normTextSql)} % $PackBuckets AS bucket,
        ${hash60Sql(normTextSql)} AS h
      FROM documents
    ),
    c AS (
      SELECT bucket, doc_id, n_toks,
        CAST(SUM(n_toks) OVER (PARTITION BY bucket ORDER BY h, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM t
    ),
    b AS (
      SELECT bucket, n_toks,
        CAST(FLOOR((cum - n_toks) / CAST($PackTokens AS DOUBLE)) AS BIGINT) AS bin
      FROM c
    )
    SELECT bucket,
      COUNT(*) AS n_docs,
      COUNT(DISTINCT bin) AS n_bins,
      CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
      CAST(SUM(n_toks) AS BIGINT) /
        (COUNT(DISTINCT bin) * CAST($PackTokens AS DOUBLE)) AS fill_frac
    FROM b GROUP BY bucket ORDER BY bucket"""
  }

  def contaminationSql: String = s"""
    WITH ${graft.dedup.DedupOracle.ngramPairCtes},
    sp AS (
      SELECT doc_id,
        CASE WHEN b < 80 THEN 'train'
             WHEN b < 90 THEN 'val'
             ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
          CAST(('0x' || substr(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))),1,15))::UBIGINT AS BIGINT) % 100 AS b
        FROM documents
      )
    ),
    x AS (
      SELECT CASE WHEN pa.split = 'test' THEN doc_a ELSE doc_b END AS test_doc,
        jaccard
      FROM pairs
      JOIN sp pa ON doc_a = pa.doc_id
      JOIN sp pb ON doc_b = pb.doc_id
      WHERE (pa.split = 'train' AND pb.split = 'test')
         OR (pa.split = 'test' AND pb.split = 'train')
    )
    SELECT test_doc, COUNT(*) AS n_train_partners, MAX(jaccard) AS max_jaccard
    FROM x GROUP BY test_doc
    ORDER BY n_train_partners DESC, test_doc"""

  def lengthHistogramSql: String = s"""
    WITH t AS (
      SELECT CAST(len(string_split(text, ' ')) AS INTEGER) AS n_toks
      FROM documents
    )
    SELECT CAST(FLOOR(n_toks / 16.0) AS BIGINT) * 16 AS bucket_lo,
      COUNT(*) AS n_docs,
      CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
      CAST(SUM(n_toks) AS BIGINT) / COUNT(*) AS avg_tokens
    FROM t GROUP BY 1 ORDER BY 1"""

  def sampleStratifiedSql: String = s"""
    WITH t AS (
      SELECT doc_id, lang, ${hash60Sql(normTextSql)} AS h FROM documents
    ),
    r AS (
      SELECT lang,
        CAST(ROW_NUMBER() OVER (PARTITION BY lang
          ORDER BY h, doc_id) AS INTEGER) AS rk,
        doc_id
      FROM t
    )
    SELECT lang, rk, doc_id FROM r
    WHERE rk <= ${TextQueries.SamplePerStratum}
    ORDER BY lang, rk"""

  def normalizeSql: String = s"""
    WITH t AS (
      SELECT doc_id, text,
        trim(regexp_replace(regexp_replace(text, '[^a-z ]', '', 'g'),
          ' +', ' ', 'g')) AS canon
      FROM documents
    )
    SELECT doc_id,
      CAST(length(text) AS INTEGER) AS chars_raw,
      CAST(length(canon) AS INTEGER) AS chars_canon,
      CAST(length(text) - length(canon) AS INTEGER) AS chars_stripped,
      md5(canon) AS canon_fp
    FROM t ORDER BY doc_id"""

  /** NFC twin: DuckDB's built-in `nfc_normalize` + the same translate
    * squash. The confusable map is DERIVED from the engine constant
    * (chr() concatenation keeps the SQL text pure ASCII), so the two
    * sides cannot drift.
    */
  def normalizeNfcSql: String = {
    val from = TextQueries.ConfusablesFrom
      .map(c => s"chr(${c.toInt})").mkString("||")
    s"""
    WITH t AS (
      SELECT doc_id, text, nfc_normalize(text) AS nfc,
        translate(nfc_normalize(text), $from,
          '${TextQueries.ConfusablesTo}') AS canon
      FROM documents
    )
    SELECT doc_id,
      CAST(length(text) AS INTEGER) AS chars_raw,
      CAST(length(nfc) AS INTEGER) AS chars_nfc,
      CAST(length(canon) AS INTEGER) AS chars_canon,
      nfc <> text AS nfc_changed,
      canon <> nfc AS squash_changed,
      md5(canon) AS canon_fp
    FROM t ORDER BY doc_id"""
  }

  /** CMS attestation twin: exact counts ground the sketch's contract; the
    * boolean columns are literal TRUE — the hash only matches when every
    * Spark-side attestation held (same pattern as the HLL/GK oracles).
    */
  def tokenCmsSql: String = s"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n_total FROM tok),
    top AS (
      SELECT token, COUNT(*) AS exact_count FROM tok GROUP BY token
      ORDER BY exact_count DESC, token LIMIT 10
    )
    SELECT token, exact_count, n_total,
      TRUE AS never_under_ok, TRUE AS eps_band_ok
    FROM top CROSS JOIN tot
    ORDER BY exact_count DESC, token"""

  def splitsSql: String = s"""
    WITH t AS (
      SELECT n_chars, len(string_split(text, ' ')) AS n_toks,
        CAST(('0x' || substr(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))),1,15))::UBIGINT AS BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT
      CASE WHEN bucket < 80 THEN 'train'
           WHEN bucket < 90 THEN 'val'
           ELSE 'test' END AS split,
      COUNT(*) AS docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      SUM(n_toks) / COUNT(*) AS avg_tokens
    FROM t
    GROUP BY 1 ORDER BY 1"""

  /** BM25 twin. Constants are interpolated from the SAME Scala doubles the
    * Spark side uses (Double.toString round-trips, and DuckDB parses float
    * literals correctly rounded), `::DOUBLE` keeps DuckDB's DECIMAL
    * literals out of the arithmetic, idf is quantized to 9 decimals right
    * after the ln (the one op whose last ulp may differ across libms), and
    * the per-doc score sums quantized BIGINTs. Expression association
    * matches the Spark side exactly — see [[TextQueries.searchBm25]].
    */
  def searchBm25Sql: String = {
    import TextQueries.{Bm25B, Bm25K1, Bm25TopK, Bm25Terms}
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM t),
    stats AS (
      SELECT COUNT(*) AS n_docs,
        CAST(SUM(dl) AS BIGINT) / COUNT(*) AS avgdl
      FROM dl
    ),
    post AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(toks) AS term FROM t
      ) WHERE term IN ($terms)
      GROUP BY 1, 2
    ),
    idf AS (
      SELECT term, s.avgdl,
        floor(ln(1.0::DOUBLE + (s.n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
          * 1000000000.0 + 0.5) / 1000000000.0 AS idf
      FROM (SELECT term, COUNT(*) AS df FROM post GROUP BY term)
      CROSS JOIN stats s
    ),
    contrib AS (
      SELECT p.doc_id,
        CAST(floor(i.idf * ((p.tf * ${Bm25K1 + 1.0}::DOUBLE) /
          (p.tf + $Bm25K1::DOUBLE * (${1.0 - Bm25B}::DOUBLE +
            ($Bm25B::DOUBLE * d.dl) / i.avgdl)))
          * 1000000000.0 + 0.5) AS BIGINT) AS cq
      FROM post p JOIN idf i USING (term) JOIN dl d USING (doc_id)
    )
    SELECT doc_id,
      CAST(SUM(cq) AS BIGINT) / 1000000000.0 AS score,
      COUNT(*) AS terms_hit
    FROM contrib GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT $Bm25TopK"""
  }

  /** Chunk-grain BM25 twin: chunk rows via correlated unnest(range(0,k))
    * + list_slice (DuckDB's inclusive-end clamp matches Spark slice's
    * length clamp), then the [[searchBm25Sql]] scorer keyed on
    * (doc_id, chunk_id) with chunk-count/chunk-length statistics, and
    * the metadata join-back after the top-k cut.
    */
  /** The chunk-row + chunk-BM25 CTE chain (t/kk/ch/cht/cl/stats/post/idf/
    * contrib/top — `cl` carries (doc_id, chunk_id, cl, ctoks), `top` the
    * BM25 top-k) — shared by [[chunkSearchBm25Sql]] and the chunk-grain
    * hybrid twin ([[graft.sim.SimOracle.chunkHybridSql]]).
    */
  /** The chunk-rows CTE chain alone (ends at `cl`) — the DuckDB twin of
    * [[TextQueries.chunkRowsFrame]], shared by every chunk-grain oracle.
    */
  private[graft] def chunkRowsCtes: String = {
    import TextQueries.{ChunkSize, ChunkStride}
    val (c, st) = (ChunkSize, ChunkStride)
    s"""
    t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    kk AS (
      SELECT doc_id, toks, n,
        CASE WHEN n <= $c THEN 1
             ELSE CAST(floor((n - $c + $st - 1) / $st::DOUBLE) AS BIGINT) + 1
        END AS k
      FROM t
    ),
    ch AS (
      SELECT doc_id, CAST(unnest(range(0, k)) AS BIGINT) AS chunk_id, toks
      FROM kk
    ),
    cht AS (
      SELECT doc_id, chunk_id,
        list_slice(toks, chunk_id * $st + 1, chunk_id * $st + $c) AS ctoks
      FROM ch
    ),
    cl AS (
      SELECT doc_id, chunk_id, CAST(len(ctoks) AS BIGINT) AS cl, ctoks
      FROM cht
    )"""
  }

  private[graft] def chunkBm25Ctes: String = {
    import TextQueries.{Bm25B, Bm25K1, Bm25TopK, Bm25Terms}
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""
    $chunkRowsCtes,
    stats AS (
      SELECT COUNT(*) AS n_chunks,
        CAST(SUM(cl) AS BIGINT) / COUNT(*) AS avgdl
      FROM cl
    ),
    post AS (
      SELECT doc_id, chunk_id, term, COUNT(*) AS tf FROM (
        SELECT doc_id, chunk_id, unnest(ctoks) AS term FROM cl
      ) WHERE term IN ($terms)
      GROUP BY 1, 2, 3
    ),
    idf AS (
      SELECT term, s.avgdl,
        floor(ln(1.0::DOUBLE + (s.n_chunks - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
          * 1000000000.0 + 0.5) / 1000000000.0 AS idf
      FROM (SELECT term, COUNT(*) AS df FROM post GROUP BY term)
      CROSS JOIN stats s
    ),
    contrib AS (
      SELECT p.doc_id, p.chunk_id,
        CAST(floor(i.idf * ((p.tf * ${Bm25K1 + 1.0}::DOUBLE) /
          (p.tf + $Bm25K1::DOUBLE * (${1.0 - Bm25B}::DOUBLE +
            ($Bm25B::DOUBLE * l.cl) / i.avgdl)))
          * 1000000000.0 + 0.5) AS BIGINT) AS cq
      FROM post p
      JOIN idf i USING (term)
      JOIN cl l USING (doc_id, chunk_id)
    ),
    top AS (
      SELECT doc_id, chunk_id,
        CAST(SUM(cq) AS BIGINT) / 1000000000.0 AS score,
        COUNT(*) AS terms_hit
      FROM contrib GROUP BY doc_id, chunk_id
      ORDER BY score DESC, doc_id, chunk_id LIMIT $Bm25TopK
    )"""
  }

  def chunkSearchBm25Sql: String = {
    import TextQueries.ChunkStride
    s"""
    WITH $chunkBm25Ctes
    SELECT top.doc_id, top.chunk_id, top.chunk_id * $ChunkStride AS chunk_start,
      top.score, top.terms_hit, d.lang, d.source
    FROM top JOIN documents d USING (doc_id)
    ORDER BY top.score DESC, top.doc_id, top.chunk_id"""
  }

  /** Span-corruption twin: identical position-hash span starts (the
    * hash60 idiom over 'doc_id:pos'), coverage via bounded list scans,
    * and the same fingerprint construction for both pair halves.
    */
  def spanCorruptionSql: String = {
    import TextQueries.{CorruptSpanLen, CorruptStartMod}
    val w = CorruptSpanLen - 1
    val coveredPred =
      s"s -> s >= q - $w AND s <= q"
    s"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    x AS (
      SELECT doc_id, toks, len(toks) AS n,
        list_filter(range(1, CAST(len(toks) + 1 AS BIGINT)),
          p -> CAST(('0x' || substr(md5(doc_id::VARCHAR || ':' || p::VARCHAR),
            1, 15))::UBIGINT AS BIGINT) % $CorruptStartMod = 0) AS starts
      FROM t
    ),
    y AS (
      SELECT doc_id, toks, n, starts,
        list_filter(range(1, CAST(n + 1 AS BIGINT)),
          q -> len(list_filter(starts, $coveredPred)) > 0) AS covered
      FROM x
    )
    SELECT doc_id,
      CAST(n AS INTEGER) AS n_tokens,
      CAST(len(starts) AS INTEGER) AS n_spans,
      CAST(len(covered) AS INTEGER) AS n_masked,
      len(covered) / n AS mask_frac,
      md5(array_to_string(list_transform(range(1, CAST(n + 1 AS BIGINT)),
        q -> CASE WHEN len(list_filter(starts, $coveredPred)) > 0
             THEN '_' ELSE toks[q] END), ' ')) AS corrupted_fp,
      md5(COALESCE(
        array_to_string(list_transform(covered, q -> toks[q]), ' '), ''))
        AS targets_fp
    FROM y
    ORDER BY doc_id"""
  }

  /** Growth-curve twin: same posting pass, min-doc attribution, window
    * cumsum (exact BIGINTs throughout).
    */
  def growthCurveSql: String = {
    import TextQueries.GrowthBucketDocs
    s"""
    WITH occ AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    nt AS (
      SELECT first_doc // $GrowthBucketDocs AS bucket,
        CAST(COUNT(*) AS BIGINT) AS new_types
      FROM (SELECT token, MIN(doc_id) AS first_doc FROM occ GROUP BY token)
      GROUP BY 1
    ),
    tk AS (
      SELECT doc_id // $GrowthBucketDocs AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM occ GROUP BY 1
    )
    SELECT t.bucket, t.n_tokens,
      COALESCE(n.new_types, 0) AS new_types,
      CAST(SUM(COALESCE(n.new_types, 0)) OVER (ORDER BY t.bucket
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS vocab_size
    FROM tk t LEFT JOIN nt n USING (bucket)
    ORDER BY bucket"""
  }

  /** Phrase-retrieval twin: indexed unnest builds the positional posting
    * frame (struct_pack + range, the dupSpanMassSql idiom), a VALUES slot
    * table mirrors the Spark literal slot array, and the vote/confirm
    * chain is the same (doc, start) group-by. Slice bounds match Spark's
    * `slice` truncation semantics at the document tail.
    */
  def phraseSearchSql: String = {
    import TextQueries.{PhraseSnippetLen, PhraseTerms}
    val L = PhraseTerms.length
    val terms = PhraseTerms.distinct.map(t => s"'$t'").mkString(", ")
    val slots = PhraseTerms.zipWithIndex
      .map { case (w, i) => s"($i, '$w')" }.mkString(", ")
    s"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    p0 AS (
      SELECT doc_id, unnest(list_transform(range(len(toks)),
        i -> struct_pack(pos := i, tok := toks[i+1]))) AS w
      FROM t
    ),
    p AS (
      SELECT doc_id, w.pos AS pos, w.tok AS tok FROM p0
      WHERE w.tok IN ($terms)
    ),
    votes AS (
      SELECT p.doc_id, p.pos - s.i AS start, s.i AS slot_i
      FROM p JOIN (VALUES $slots) AS s(i, w) ON p.tok = s.w
      WHERE p.pos - s.i >= 0
    ),
    hits AS (
      SELECT doc_id, start FROM votes GROUP BY doc_id, start
      HAVING COUNT(DISTINCT slot_i) = $L
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        MIN(start) AS first_pos
      FROM hits GROUP BY doc_id
    )
    SELECT a.doc_id, a.n_occurrences, a.first_pos,
      array_to_string(
        t.toks[a.first_pos + 1 : a.first_pos + $PhraseSnippetLen], ' ')
        AS snippet
    FROM agg a JOIN t USING (doc_id)
    ORDER BY n_occurrences DESC, doc_id"""
  }

  /** Keyword-extraction twin: same posting/idf/score chain; ROW_NUMBER
    * cast to INTEGER (the topArrearsByRegionSql precedent) and the same
    * (score_q DESC, term) tie-break.
    */
  def keywordExtractSql: String = {
    import TextQueries.KeywordTopK
    s"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    post AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(toks) AS term FROM t
      ) GROUP BY 1, 2
    ),
    stats AS (SELECT COUNT(*) AS n_docs FROM t),
    idf AS (
      SELECT term,
        CAST(floor(ln((s.n_docs + 1.0::DOUBLE) / (df + 1.0::DOUBLE))
          * 1000000000.0 + 0.5) AS BIGINT) AS idf_q
      FROM (SELECT term, COUNT(*) AS df FROM post GROUP BY term)
      CROSS JOIN stats s
    ),
    scored AS (
      SELECT p.doc_id, p.term, p.tf * i.idf_q AS score_q
      FROM post p JOIN idf i USING (term)
    ),
    ranked AS (
      SELECT doc_id, term,
        CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY score_q DESC, term) AS INTEGER) AS rank,
        score_q
      FROM scored
    )
    SELECT doc_id, rank, term AS keyword, score_q / 1000000000.0 AS score
    FROM ranked WHERE rank <= $KeywordTopK
    ORDER BY doc_id, rank"""
  }

  /** Funnel twin: the same stage expressions (qualitySql's score,
    * fingerprint, hash60 split bucket) composed into one CTE chain;
    * conditional counts via FILTER.
    */
  def pipelineFunnelSql: String = {
    import TextQueries.FunnelMinTokens
    s"""
    WITH f AS (
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        least(1.0, len(string_split(text, ' ')) / 60.0) *
          (1.0 - ${stopCount("string_split(text, ' ')", TextFns.Stopwords)}
            / len(string_split(text, ' '))) AS score,
        md5($normTextSql) AS fp,
        ${hash60Sql(normTextSql)} % 100 AS bucket
      FROM documents
    ),
    k AS (
      SELECT *,
        doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS keep_exact
      FROM f
    ),
    s AS (
      SELECT n_toks,
        n_toks >= $FunnelMinTokens AS s2,
        n_toks >= $FunnelMinTokens AND score >= 0.45 AS s3,
        n_toks >= $FunnelMinTokens AND score >= 0.45 AND keep_exact AS s4,
        n_toks >= $FunnelMinTokens AND score >= 0.45 AND keep_exact
          AND bucket < 80 AS s5
      FROM k
    ),
    a AS (
      SELECT
        COUNT(*) AS n1, CAST(SUM(n_toks) AS BIGINT) AS t1,
        COUNT(*) FILTER (WHERE s2) AS n2,
        CAST(COALESCE(SUM(n_toks) FILTER (WHERE s2), 0) AS BIGINT) AS t2,
        COUNT(*) FILTER (WHERE s3) AS n3,
        CAST(COALESCE(SUM(n_toks) FILTER (WHERE s3), 0) AS BIGINT) AS t3,
        COUNT(*) FILTER (WHERE s4) AS n4,
        CAST(COALESCE(SUM(n_toks) FILTER (WHERE s4), 0) AS BIGINT) AS t4,
        COUNT(*) FILTER (WHERE s5) AS n5,
        CAST(COALESCE(SUM(n_toks) FILTER (WHERE s5), 0) AS BIGINT) AS t5
      FROM s
    )
    SELECT * FROM (
      SELECT 1 AS stage, 'ingest' AS stage_name, n1 AS n_docs, t1 AS n_tokens FROM a
      UNION ALL SELECT 2, 'min_length', n2, t2 FROM a
      UNION ALL SELECT 3, 'quality', n3, t3 FROM a
      UNION ALL SELECT 4, 'exact_dedup', n4, t4 FROM a
      UNION ALL SELECT 5, 'train_split', n5, t5 FROM a
    )
    ORDER BY stage"""
  }

  /** PMI twin: identical doc-keyed pair self-join; the ln is quantized per
    * pair at 9 decimals, all inputs exact BIGINTs.
    */
  def tokenPmiSql: String = {
    import TextQueries.PmiMinDf
    s"""
    WITH e AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents
    ),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    dfx AS (SELECT token, COUNT(*) AS df FROM e GROUP BY token),
    p AS (
      SELECT x.token AS token_a, y.token AS token_b, COUNT(*) AS df_ab
      FROM e x JOIN e y ON x.doc_id = y.doc_id AND x.token < y.token
      GROUP BY 1, 2
      HAVING COUNT(*) >= $PmiMinDf
    )
    SELECT token_a, token_b, df_ab,
      CAST(floor(ln((df_ab * n_docs) / (a.df * b.df))
        * 1000000000.0 + 0.5) AS BIGINT) / 1000000000.0 AS pmi
    FROM p
    JOIN dfx a ON p.token_a = a.token
    JOIN dfx b ON p.token_b = b.token
    CROSS JOIN nd
    ORDER BY pmi DESC, token_a, token_b LIMIT 20"""
  }

  /** Importance-sampler twin: identical score expression to qualitySql,
    * identical hash60 uniform, all counts exact BIGINTs.
    */
  /** Epoch-shard twin: the same epoch-tagged content hash mod shards,
    * exact counts, one per-epoch share division.
    */
  def epochShardsSql: String = {
    val sc = TextQueries.ShardCount
    val eps = (0 until TextQueries.EpochCount).map(e => s"($e)").mkString(", ")
    s"""
    WITH ep(epoch) AS (VALUES $eps),
    t AS (
      SELECT ep.epoch,
        ${hash60Sql("CAST(ep.epoch AS VARCHAR) || ':' || text")} % $sc
          AS shard,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      FROM documents CROSS JOIN ep
    ),
    g AS (
      SELECT epoch, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_toks) AS BIGINT) AS n_tokens
      FROM t GROUP BY 1, 2
    )
    SELECT epoch, shard, n_docs, n_tokens,
      n_docs / CAST(SUM(n_docs) OVER (PARTITION BY epoch) AS BIGINT)
        AS epoch_share
    FROM g ORDER BY epoch, shard"""
  }

  /** Chunking twin: identical closed-form k / chunk-token arithmetic in
    * pure BIGINTs (the ceil is the same floor((n-C+S-1)/S) double form),
    * one final division per language.
    */
  def chunkingSql: String = {
    val c = TextQueries.ChunkSize
    val st = TextQueries.ChunkStride
    s"""
    WITH t AS (
      SELECT lang,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    k AS (
      SELECT lang, n,
        CASE WHEN n <= $c THEN 1
             ELSE CAST(floor((n - $c + $st - 1) / $st::DOUBLE) AS BIGINT) + 1
        END AS k
      FROM t
    ),
    ct AS (
      SELECT lang, n, k,
        CASE WHEN n <= $c THEN n
             ELSE $c * (k - 1) + n - $st * (k - 1)
        END AS ct
      FROM k
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n) AS BIGINT) AS n_tokens,
      CAST(SUM(k) AS BIGINT) AS n_chunks,
      CAST(SUM(ct) AS BIGINT) AS n_chunk_tokens,
      CAST(SUM(ct) AS BIGINT) / CAST(SUM(n) AS BIGINT) AS expansion
    FROM ct GROUP BY lang ORDER BY lang"""
  }

  /** Temperature-mix twin: same exact-BIGINT token counts, pow quantized
    * to 9 decimals per language, exact BIGINT normalizing sum, identical
    * division association for p and effective epochs.
    */
  def temperatureMixSql: String = {
    val a = TextQueries.MixAlpha
    s"""
    WITH c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    shr AS (
      SELECT lang, n_docs, n_tokens,
        n_tokens / CAST(SUM(n_tokens) OVER () AS BIGINT) AS share
      FROM c
    ),
    wq AS (
      SELECT lang, n_docs, n_tokens, share,
        CAST(floor(pow(share, $a::DOUBLE) * 1000000000.0 + 0.5) AS BIGINT)
          AS w
      FROM shr
    )
    SELECT lang, n_docs, n_tokens, share,
      w / CAST(SUM(w) OVER () AS BIGINT) AS p,
      (w / CAST(SUM(w) OVER () AS BIGINT)) / share AS effective_epochs
    FROM wq ORDER BY lang"""
  }

  def sampleWeightedSql: String = s"""
    WITH t AS (
      SELECT lang, text, string_split(text, ' ') AS toks FROM documents
    ),
    q AS (
      SELECT lang,
        least(1.0, len(toks) / 60.0) *
          (1.0 - ${stopCount("toks", TextFns.Stopwords)} / len(toks)) AS score,
        ${hash60Sql("text")} / 1152921504606846976.0 AS u
      FROM t
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN u < score THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      SUM(CAST(floor(score * 1000000000.0 + 0.5) AS BIGINT)) / 1000000000.0
        AS expected_kept,
      SUM(CASE WHEN u < score THEN 1 ELSE 0 END) / COUNT(*) AS kept_rate
    FROM q GROUP BY lang ORDER BY lang"""

  /** A-Res twin: same weight chain as [[sampleWeightedSql]], u from the
    * shifted content hash, priority ln(u)/w quantized at 1e-9 BEFORE the
    * per-language rank so the ordering is engine-exact.
    */
  def sampleAresSql: String = {
    import TextQueries.AresK
    s"""
    WITH t AS (
      SELECT doc_id, lang, text, string_split(text, ' ') AS toks
      FROM documents
    ),
    q AS (
      SELECT doc_id, lang,
        least(1.0, len(toks) / 60.0) *
          (1.0 - ${stopCount("toks", TextFns.Stopwords)} / len(toks)) AS w,
        (${hash60Sql("text")} + 1) / 1152921504606846977.0 AS u
      FROM t
    ),
    p AS (
      SELECT doc_id, lang,
        CAST(floor(ln(u) / w * 1000000000.0 + 0.5) AS BIGINT) AS pq
      FROM q WHERE w > 0
    ),
    r AS (
      SELECT lang, doc_id, pq,
        CAST(ROW_NUMBER() OVER (PARTITION BY lang
          ORDER BY pq DESC, doc_id) AS INTEGER) AS rk
      FROM p
    )
    SELECT lang, rk, doc_id, pq / 1000000000.0 AS priority
    FROM r WHERE rk <= $AresK ORDER BY lang, rk"""
  }

  /** Bigram-LM perplexity twin: lockstep double-unnest builds the bigram
    * stream, ln p(w2|w1) quantized per TYPE at 9 decimals, per-doc sum is
    * exact BIGINT cnt*q, and the one exp per doc is quantized at 1e-6 —
    * identical op order to the Spark side so the raw doubles bit-match.
    */
  private def lmCtes: String = """
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    bg AS (
      SELECT doc_id,
        unnest(toks[1:len(toks)-1]) AS w1,
        unnest(toks[2:len(toks)]) AS w2
      FROM t
    ),
    occ AS (SELECT doc_id, w1, w2, COUNT(*) AS cnt FROM bg GROUP BY 1, 2, 3),
    c2 AS (SELECT w1, w2, SUM(cnt) AS c2 FROM occ GROUP BY 1, 2),
    c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
    lm AS (
      SELECT c2.w1, c2.w2,
        CAST(floor(ln(c2.c2 / c1.c1) * 1000000000.0 + 0.5) AS BIGINT) AS q
      FROM c2 JOIN c1 USING (w1)
    ),
    perdoc AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
        -(SUM(cnt * q) / 1000000000.0) / SUM(cnt) AS avg_nll,
        CAST(floor(exp(-(SUM(cnt * q) / 1000000000.0) / SUM(cnt))
          * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS ppl
      FROM occ JOIN lm USING (w1, w2)
      GROUP BY doc_id
    )"""

  def lmPerplexitySql: String = s"""
    WITH $lmCtes
    SELECT doc_id, n_bigrams, avg_nll, ppl FROM perdoc ORDER BY doc_id"""

  /** Perplexity-band twin: same per-doc CTEs; band by fixed cutoffs
    * (::DOUBLE so the comparison is double-vs-double, not DECIMAL), the
    * band's mean ppl sums exact 1e-6-quantized BIGINTs before dividing.
    */
  def pplBandsSql: String = {
    import TextQueries.{PplHeadMax, PplTailMin}
    s"""
    WITH $lmCtes
    SELECT lang,
      CASE WHEN ppl < $PplHeadMax::DOUBLE THEN 'head'
           WHEN ppl < $PplTailMin::DOUBLE THEN 'middle'
           ELSE 'tail' END AS band,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
      (SUM(CAST(floor(ppl * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0)
        / COUNT(*) AS avg_ppl
    FROM perdoc JOIN documents USING (doc_id)
    GROUP BY 1, 2
    ORDER BY lang, band"""
  }

  /** Curriculum twin: the shared ppl chain, the cumulative-before window
    * over DISTINCT ppl values (exact BIGINTs), the shared floor(cum·S/n)
    * boundary division, and the content-hash shard.
    */
  def curriculumSql: String = {
    import TextQueries.{CurriculumShards, CurriculumStages}
    s"""
    WITH $lmCtes,
    ntk AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
        AS n_tokens
      FROM documents
    ),
    base AS (
      SELECT p.doc_id, p.ppl, k.n_tokens
      FROM perdoc p JOIN ntk k USING (doc_id)
    ),
    na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
    vals AS (
      SELECT ppl, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY ppl
    ),
    sv AS (
      SELECT ppl, CAST(COALESCE(SUM(c) OVER (ORDER BY ppl
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        AS cum
      FROM vals
    ),
    st AS (
      SELECT sv.ppl,
        CAST(floor(sv.cum * $CurriculumStages / na.n) AS INTEGER) AS stage
      FROM sv, na
    ),
    sh AS (
      SELECT b.doc_id, b.ppl, b.n_tokens, st.stage,
        CAST(${hash60Sql("CAST(b.doc_id AS VARCHAR)")}
          % $CurriculumShards AS INTEGER) AS shard
      FROM base b JOIN st USING (ppl)
    )
    SELECT stage, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      MIN(ppl) AS ppl_lo, MAX(ppl) AS ppl_hi
    FROM sh GROUP BY 1, 2
    ORDER BY stage, shard"""
  }

  /** BPE merge twin: all-BIGINT weighted pair counts over the aggregated
    * vocabulary; single-char words produce an empty pair list and drop.
    */
  def bpeMergesSql: String = """
    WITH wc AS (
      SELECT unnest(string_split(text, ' ')) AS word, 1 AS one FROM documents
    ),
    vocab AS (SELECT word, COUNT(*) AS cnt FROM wc GROUP BY word),
    pairs AS (
      SELECT cnt, unnest(list_transform(range(1, len(word)),
        i -> substr(word, CAST(i AS INTEGER), 2))) AS pair
      FROM vocab
    )
    SELECT pair, CAST(SUM(cnt) AS BIGINT) AS weight
    FROM pairs GROUP BY pair
    ORDER BY weight DESC, pair LIMIT 20"""

  /** Iterated-BPE twin: the [[TextQueries.BpeIters]]-round training loop
    * unrolled into a CTE chain (the kmeans-oracle precedent) — per round:
    * split the delimited segmentation, count weighted adjacent pairs, pick
    * the (weight DESC, a, b) argmax, rewrite via the same
    * boundary-safe `replace('|a||b|' -> '|ab|')`. All-BIGINT arithmetic
    * and binary string collation on both engines, so the chain is exact.
    */
  /** The unrolled [[TextQueries.bpeTrainState]] twin: WITH chain through
    * v$n (vocab with ALL n rules applied) and b1..bN (the per-round argmax
    * rules) — shared by the training oracle (reads the b$k) and the encode
    * oracle (reads v$n).
    */
  private def bpeChainCtes(n: Int): String = {
    val sb = new StringBuilder(s"""
    WITH wc AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    v0 AS (
      SELECT word, COUNT(*) AS cnt,
        '|' || array_to_string(list_transform(range(1, len(word) + 1),
          i -> substr(word, CAST(i AS INTEGER), 1)), '||') || '|' AS seg
      FROM wc GROUP BY word
    )""")
    for (k <- 1 to n) sb ++= s""",
    s$k AS (SELECT cnt,
      string_split(substr(seg, 2, len(seg) - 2), '||') AS syms FROM v${k - 1}),
    p$k AS (
      SELECT p.a AS a, p.b AS b, CAST(SUM(cnt) AS BIGINT) AS weight
      FROM (SELECT cnt, unnest(list_transform(range(1, len(syms)),
              i -> struct_pack(a := syms[CAST(i AS INTEGER)],
                               b := syms[CAST(i AS INTEGER) + 1]))) AS p
            FROM s$k)
      GROUP BY 1, 2
    ),
    b$k AS (SELECT a, b, weight FROM p$k ORDER BY weight DESC, a, b LIMIT 1),
    v$k AS (
      SELECT word, cnt,
        replace(seg, '|' || a || '||' || b || '|', '|' || a || b || '|') AS seg
      FROM v${k - 1} CROSS JOIN b$k
    )"""
    sb.toString
  }

  def bpeMergesNSql: String = {
    val n = TextQueries.BpeIters
    bpeChainCtes(n) +
      "\n    SELECT * FROM (" + (1 to n).map(k =>
        s"SELECT $k AS iter, a, b, a || b AS merged, weight FROM b$k")
        .mkString("\n      UNION ALL ") + ")\n    ORDER BY iter"
  }

  /** Encode twin: the final vocab's per-word symbol count joined back to
    * the corpus word stream, per-language fertility from exact BIGINT
    * sums (single IEEE division per ratio on both engines).
    */
  def bpeEncodeSql: String = {
    val n = TextQueries.BpeIters
    bpeChainCtes(n) + s""",
    enc AS (
      SELECT word,
        len(string_split(substr(seg, 2, len(seg) - 2), '||')) AS n_syms
      FROM v$n
    ),
    tok AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
    SELECT tok.lang AS lang,
      COUNT(*) AS n_words,
      CAST(SUM(len(tok.word)) AS BIGINT) AS n_chars,
      CAST(SUM(enc.n_syms) AS BIGINT) AS n_bpe_tokens,
      CAST(SUM(len(tok.word)) AS BIGINT) / CAST(SUM(enc.n_syms) AS BIGINT)
        AS chars_per_token,
      CAST(SUM(enc.n_syms) AS BIGINT) / COUNT(*) AS tokens_per_word
    FROM tok JOIN enc ON tok.word = enc.word
    GROUP BY tok.lang
    ORDER BY tok.lang"""
  }

  /** Round-trip twin: the same trained-vocab chain, decode = the same
    * delimiter strip, mismatch as a CASE sum — exact BIGINT arithmetic
    * everywhere except the one fertility division.
    */
  def bpeRoundtripSql: String = {
    val n = TextQueries.BpeIters
    bpeChainCtes(n) + s""",
    dec AS (
      SELECT word,
        len(string_split(substr(seg, 2, len(seg) - 2), '||')) AS n_syms,
        replace(replace(seg, '||', ''), '|', '') AS decoded
      FROM v$n
    ),
    tok AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
    SELECT tok.lang AS lang,
      COUNT(*) AS n_words,
      CAST(SUM(CASE WHEN dec.decoded <> tok.word THEN 1 ELSE 0 END) AS BIGINT)
        AS n_mismatch,
      CAST(SUM(len(tok.word)) AS BIGINT) AS n_chars,
      CAST(SUM(len(dec.decoded)) AS BIGINT) AS n_chars_decoded,
      CAST(SUM(dec.n_syms) AS BIGINT) AS n_bpe_tokens,
      CAST(SUM(dec.n_syms) AS BIGINT) / COUNT(*) AS tokens_per_word
    FROM tok JOIN dec ON tok.word = dec.word
    GROUP BY tok.lang
    ORDER BY tok.lang"""
  }

  /** Unigram-LM tokenizer twin: the seed substring inventory, then
    * [[TextQueries.UniEmRounds]] unrolled E/M CTE pairs — the E-step
    * enumerates boundary bitmasks and scores each admissible
    * segmentation by an exact LONG sum of the round's quantized piece
    * log-probs (same ROW_NUMBER total order as Spark's window), the
    * M-step recounts weighted piece usage and re-quantizes ln(c/total) —
    * and a final E-step + corpus join for the per-language report.
    */
  def unigramLmSql: String = {
    import TextQueries.{UniEmRounds, UniMaxPieceLen}
    val p = UniMaxPieceLen
    // E-step at round t: scores s<t-1> -> best segmentations b<t>
    def eStep(t: Int): String = s"""
    mk$t AS (
      SELECT word, cnt,
        CAST(unnest(range(0, (CAST(1 AS BIGINT) << (length(word) - 1))))
          AS BIGINT) AS mask
      FROM uv
    ),
    sg$t AS (
      SELECT word, cnt, mask,
        '|' || array_to_string(list_transform(range(1, length(word) + 1),
          i -> substr(word, CAST(i AS INTEGER), 1) ||
            CASE WHEN i < length(word)
              AND ((mask >> CAST(i - 1 AS INTEGER)) & 1) = 1
            THEN '||' ELSE '' END), '') || '|' AS seg
      FROM mk$t
    ),
    vc$t AS (
      SELECT word, cnt, mask, seg, pieces, len(pieces) AS np FROM (
        SELECT word, cnt, mask, seg,
          string_split(substr(seg, 2, length(seg) - 2), '||') AS pieces
        FROM sg$t
      ) WHERE list_max(list_transform(pieces, x -> length(x))) <= $p
    ),
    px$t AS (
      SELECT word, cnt, mask, seg, np, unnest(pieces) AS piece FROM vc$t
    ),
    sc$t AS (
      SELECT x.word, x.cnt, x.mask, x.seg, x.np,
        CAST(SUM(s.q) AS BIGINT) AS sumq, COUNT(*) AS n_scored
      FROM px$t x JOIN s${t - 1} s ON s.piece = x.piece
      GROUP BY 1, 2, 3, 4, 5
      HAVING COUNT(*) = x.np
    ),
    b$t AS (
      SELECT word, cnt, seg, np FROM (
        SELECT word, cnt, seg, np,
          ROW_NUMBER() OVER (PARTITION BY word
            ORDER BY sumq DESC, np, seg) AS rn
        FROM sc$t
      ) WHERE rn = 1
    )"""
    // M-step at round t: b<t> -> counts uc<t> -> scores s<t>
    def mStep(t: Int): String = s"""
    uc$t AS (
      SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c FROM (
        SELECT cnt,
          unnest(string_split(substr(seg, 2, length(seg) - 2), '||')) AS piece
        FROM b$t
      ) GROUP BY piece
    ),
    s$t AS (
      SELECT piece, CAST(floor(ln(c /
          (SELECT CAST(SUM(c) AS BIGINT) FROM uc$t)) * 1000000000.0 + 0.5)
        AS BIGINT) AS q
      FROM uc$t
    )"""
    val fin = UniEmRounds + 1
    s"""
    WITH uv AS (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
      ) GROUP BY word
    ),
    st0 AS (
      SELECT word, cnt, CAST(unnest(range(1, length(word) + 1)) AS BIGINT)
        AS start
      FROM uv
    ),
    st1 AS (
      SELECT cnt, unnest(list_transform(
        range(1, least($p, length(word) - start + 1) + 1),
        l -> substr(word, CAST(start AS INTEGER), CAST(l AS INTEGER))))
        AS piece
      FROM st0
    ),
    uc0 AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c FROM st1 GROUP BY piece),
    s0 AS (
      SELECT piece, CAST(floor(ln(c /
          (SELECT CAST(SUM(c) AS BIGINT) FROM uc0)) * 1000000000.0 + 0.5)
        AS BIGINT) AS q
      FROM uc0
    ),
    ${(1 to UniEmRounds).map(t => eStep(t) + "," + mStep(t)).mkString(",")},
    ${eStep(fin)},
    vsz AS (SELECT COUNT(*) AS vocab_size FROM s$UniEmRounds),
    dw AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
    SELECT dw.lang, COUNT(*) AS n_words,
      CAST(SUM(length(dw.word)) AS BIGINT) AS n_chars,
      CAST(SUM(b.np) AS BIGINT) AS n_tokens,
      vsz.vocab_size,
      CAST(SUM(length(dw.word)) AS BIGINT) / CAST(SUM(b.np) AS BIGINT)
        AS chars_per_token,
      CAST(SUM(b.np) AS BIGINT) / COUNT(*) AS tokens_per_word
    FROM dw JOIN b$fin b USING (word) CROSS JOIN vsz
    GROUP BY dw.lang, vsz.vocab_size
    ORDER BY dw.lang"""
  }

  /** Unigram entropy twin: same per-type p*ln(p) quantization (9 decimals)
    * as the Spark side; counts are exact longs, p is one exact division.
    */
  val tokenEntropySql: String = s"""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    c AS (SELECT lang, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    t AS (
      SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_types
      FROM c GROUP BY 1
    )
    SELECT c.lang, t.n_tokens, t.n_types,
      -CAST(SUM(CAST(floor(
          (c.c / t.n_tokens) * ln(c.c / t.n_tokens) * 1000000000.0 + 0.5)
        AS BIGINT)) AS BIGINT) / 1000000000.0 AS entropy_nats
    FROM c JOIN t ON c.lang = t.lang
    GROUP BY c.lang, t.n_tokens, t.n_types
    ORDER BY c.lang"""

  /** Zipf-fit twin: replays the rank cut, the 4-decimal log quantization,
    * and the exact-long sufficient statistics; slope is a ratio of exact
    * BIGINTs (the quantization scale cancels).
    */
  def zipfFitSql: String = {
    import TextQueries.{ZipfLogScale, ZipfTopN}
    s"""
    WITH cnt AS (
      SELECT token, COUNT(*) AS c FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY 1),
    ranked AS (
      SELECT * FROM (
        SELECT c, token,
          row_number() OVER (ORDER BY c DESC, token) AS r
        FROM cnt)
      WHERE r <= $ZipfTopN),
    q AS (
      SELECT
        CAST(floor(ln(r) * $ZipfLogScale + 0.5) AS BIGINT) AS lx,
        CAST(floor(ln(c) * $ZipfLogScale + 0.5) AS BIGINT) AS ly
      FROM ranked),
    st AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(lx * lx) AS BIGINT) AS sxx,
        CAST(SUM(ly) AS BIGINT) AS sy, CAST(SUM(lx * ly) AS BIGINT) AS sxy
      FROM q),
    tot AS (
      SELECT COUNT(*) AS vocab, CAST(max(c) AS BIGINT) AS top1_count
      FROM cnt),
    fit AS (
      SELECT *, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
      FROM st)
    SELECT n AS n_ranks, vocab, top1_count, slope AS zipf_slope,
      ((sy - slope * sx) / n) / $ZipfLogScale::DOUBLE AS zipf_intercept_ln
    FROM fit, tot"""
  }

  /** Retrieval-eval twin: the [[searchBm25Sql]] scorer CTEs keyed on the
    * eval-term union, then graded coverage relevance, rank windows, and
    * the NDCG/MRR arithmetic. Gains and position discounts come from the
    * SAME Scala-side generators as the Spark frame
    * ([[TextQueries.ndcgGainCase]]/[[TextQueries.ndcgDiscCase]] — pure
    * CASE/CAST text, zero dialect drift), so no transcendental ever runs
    * in either engine.
    */
  /** The BM25-scored candidate CTE chain of the retrieval harness —
    * shared by [[evalNdcgSql]] and [[hardNegativesSql]]; ends at
    * `scored(query_id, doc_id, score_q, cov, rel)` with `qinfo`
    * alongside.
    */
  private def ndcgScoredCtes: String = {
    import TextQueries.{Bm25B, Bm25K1, NdcgQueries, NdcgTfSat}
    val allTerms = NdcgQueries.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    val qtermRows = NdcgQueries.flatMap { case (qid, ts) =>
      ts.map(w => s"($qid, '$w')")
    }.mkString(", ")
    val qinfoRows = NdcgQueries.map { case (qid, ts) =>
      s"($qid, '${ts.mkString(" ")}', ${ts.length})"
    }.mkString(", ")
    s"""
    t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM t),
    stats AS (
      SELECT COUNT(*) AS n_docs,
        CAST(SUM(dl) AS BIGINT) / COUNT(*) AS avgdl
      FROM dl
    ),
    post AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(toks) AS term FROM t
      ) WHERE term IN ($allTerms)
      GROUP BY 1, 2
    ),
    idf AS (
      SELECT term, s.avgdl,
        floor(ln(1.0::DOUBLE + (s.n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
          * 1000000000.0 + 0.5) / 1000000000.0 AS idf
      FROM (SELECT term, COUNT(*) AS df FROM post GROUP BY term)
      CROSS JOIN stats s
    ),
    contrib AS (
      SELECT p.term, p.doc_id, p.tf,
        CAST(floor(i.idf * ((p.tf * ${Bm25K1 + 1.0}::DOUBLE) /
          (p.tf + $Bm25K1::DOUBLE * (${1.0 - Bm25B}::DOUBLE +
            ($Bm25B::DOUBLE * d.dl) / i.avgdl)))
          * 1000000000.0 + 0.5) AS BIGINT) AS cq
      FROM post p JOIN idf i USING (term) JOIN dl d USING (doc_id)
    ),
    qterms(query_id, term) AS (VALUES $qtermRows),
    qinfo(query_id, query, n_terms) AS (VALUES $qinfoRows),
    scored AS (
      SELECT query_id, doc_id,
        CAST(SUM(cq) AS BIGINT) AS score_q,
        COUNT(*) AS cov,
        COUNT(*) + CAST(SUM(CASE WHEN tf >= $NdcgTfSat THEN 1 ELSE 0 END)
          AS BIGINT) AS rel
      FROM contrib JOIN qterms USING (term)
      GROUP BY 1, 2
    )"""
  }

  /** Hard-negative twin: the shared scored chain, the same
    * below-full-coverage cut and (score DESC, doc_id) ranking.
    */
  def hardNegativesSql: String = {
    import TextQueries.HnK
    s"""
    WITH $ndcgScoredCtes,
    negs AS (
      SELECT s.query_id, q.query, q.n_terms, s.doc_id, s.score_q, s.cov,
        row_number() OVER (PARTITION BY s.query_id
          ORDER BY s.score_q DESC, s.doc_id) AS neg_rank
      FROM scored s JOIN qinfo q USING (query_id)
      WHERE s.cov < q.n_terms
    ),
    pos AS (
      SELECT s.query_id, CAST(COUNT(*) AS BIGINT) AS n_pos
      FROM scored s JOIN qinfo q USING (query_id)
      WHERE s.cov = q.n_terms GROUP BY 1
    )
    SELECT n.query_id, n.query, COALESCE(p.n_pos, 0) AS n_pos,
      CAST(n.neg_rank AS BIGINT) AS neg_rank, n.doc_id,
      n.score_q / 1e9 AS bm25_score, n.cov, n.n_terms
    FROM negs n LEFT JOIN pos p USING (query_id)
    WHERE n.neg_rank <= $HnK
    ORDER BY query_id, neg_rank"""
  }

  def evalNdcgSql: String = {
    import TextQueries.NdcgK
    val gain = TextQueries.ndcgGainCase("rel")
    val disc = TextQueries.ndcgDiscCase("rank")
    s"""
    WITH $ndcgScoredCtes,
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS rank
      FROM scored
    ),
    top AS (
      SELECT query_id,
        CAST(SUM($gain * $disc) AS BIGINT) AS dcg_q,
        min(CASE WHEN cov = n_terms THEN rank END) AS first_full,
        CAST(SUM(CASE WHEN cov = n_terms THEN 1 ELSE 0 END) AS BIGINT)
          AS full_hits_at_10
      FROM ranked JOIN qinfo USING (query_id)
      WHERE rank <= $NdcgK
      GROUP BY 1
    ),
    ideal AS (
      SELECT query_id, CAST(SUM($gain * $disc) AS BIGINT) AS idcg_q
      FROM (
        SELECT query_id, rel, row_number() OVER (
          PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rank
        FROM scored
      ) WHERE rank <= $NdcgK
      GROUP BY 1
    ),
    cand AS (
      SELECT query_id, COUNT(*) AS n_candidates FROM scored GROUP BY 1
    )
    SELECT q.query_id, q.query, c.n_candidates,
      t.dcg_q / i.idcg_q AS ndcg_at_10,
      CASE WHEN t.first_full IS NULL THEN 0.0::DOUBLE
           ELSE 1.0::DOUBLE / t.first_full END AS mrr_full,
      t.full_hits_at_10
    FROM qinfo q
    JOIN cand c USING (query_id)
    JOIN top t USING (query_id)
    JOIN ideal i USING (query_id)
    ORDER BY q.query_id"""
  }
}
