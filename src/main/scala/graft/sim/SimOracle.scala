package graft.sim

/** DuckDB twins of [[SimQueries]]. The dot product is the same ordered
  * left fold as Spark's `aggregate` (`list_reduce` adds in index order and
  * `0.0 + p1 == p1`), per-index products use the same operand order, and
  * the LSH planes are the same 3-decimal literals — so cosine scores are
  * bit-identical. DuckDB list literals parse as DECIMAL, hence the
  * CAST(... AS DOUBLE[]) around each plane.
  */
object SimOracle {

  import SimFns.{Dims, NumPlanes, Planes}
  import graft.text.TextFns.hash60Sql

  private def fold(products: String): String =
    s"list_reduce($products, (a, b) -> a + b)"

  private[graft] def dotIdx(a: String, b: String): String =
    fold(s"list_transform(range(1, ${Dims + 1}), i -> $a[i] * $b[i])")

  private def planeLit(j: Int): String =
    Planes(j).map(p => String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(p)))
      .mkString("CAST([", ", ", "] AS DOUBLE[])")

  private[graft] def bucketExpr(v: String): String =
    (0 until NumPlanes).map { j =>
      s"(CASE WHEN ${dotIdx(v, planeLit(j))} > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")

  /** Multi-probe list: own bucket + 1-bit-flip neighbors, the DuckDB twin
    * of [[SimFns.probeBuckets]].
    */
  private[graft] def probeList(b: String): String =
    (b +: (0 until NumPlanes).map(j => s"xor($b, ${1 << j})"))
      .mkString("[", ", ", "]")

  private[graft] val baseCtes: String = s"""
    e AS (
      SELECT vec_id, label,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, label, v, sqrt(${dotIdx("v", "v")}) AS nrm FROM e
    )"""

  /** Prefix dot for the matryoshka twins: the same ordered fold over the
    * first `dimSql` indices of the FULL vectors — identical products/
    * order/sum to Spark's VecDot over the sliced array. `dimSql` is a
    * literal for the fixed-dim twins and a scalar subquery over the
    * energy CTE for the adaptive one.
    */
  private def dotPfx(a: String, b: String, dimSql: String): String =
    fold(s"list_transform(range(1, $dimSql + 1), " +
      s"i -> $a[i] * $b[i])")

  /** Shared matryoshka CTE chain ending in the refined top-10 `mfin` —
    * WITHOUT [[baseCtes]], so callers can interpose dim-selection CTEs
    * between the base and the pipeline.
    */
  private def matryoshkaTail(
      dimSql: String = SimQueries.MatryoshkaDim.toString): String = {
    import SimQueries.AnnRerankC
    def dotPfxD(a: String, b: String) = dotPfx(a, b, dimSql)
    s"""
    mpv AS (
      SELECT vec_id, v, pnrm FROM (
        SELECT vec_id, v, sqrt(${dotPfxD("v", "v")}) AS pnrm FROM e
      ) WHERE pnrm > 0
    ),
    mqf AS (
      SELECT qid, qv, qnrm, qpnrm FROM (
        SELECT vec_id AS qid, v AS qv, nrm AS qnrm,
          sqrt(${dotPfxD("v", "v")}) AS qpnrm
        FROM n WHERE vec_id % 100 = 0
      ) WHERE qpnrm > 0
    ),
    msl AS (
      SELECT qid, vec_id, cosine_prefix FROM (
        SELECT qid, vec_id, cosine_prefix,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cosine_prefix DESC, vec_id) AS rp
        FROM (
          SELECT q.qid, p.vec_id,
            ${dotPfxD("q.qv", "p.v")} / (q.qpnrm * p.pnrm) AS cosine_prefix
          FROM mqf q JOIN mpv p ON p.vec_id <> q.qid
        )
      ) WHERE rp <= $AnnRerankC
    ),
    mfr AS (
      SELECT s.qid, s.vec_id, s.cosine_prefix,
        ${dotIdx("q.qv", "x.v")} / (q.qnrm * x.nrm) AS cosine_full
      FROM msl s
      JOIN n x ON x.vec_id = s.vec_id
      JOIN mqf q ON q.qid = s.qid
    ),
    mfin AS (
      SELECT qid, rn, vec_id, cosine_full, cosine_prefix FROM (
        SELECT qid, vec_id, cosine_full, cosine_prefix,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cosine_full DESC, vec_id) AS INTEGER) AS rn
        FROM mfr
      ) WHERE rn <= 10
    )"""
  }

  def matryoshkaRerankSql: String = s"""
    WITH $baseCtes,
    ${matryoshkaTail()}
    SELECT qid, rn, vec_id, cosine_full, cosine_prefix FROM mfin
    ORDER BY qid, rn"""

  /** Matryoshka recall twin: the [[lshRecallSql]] grading convention —
    * the exact full-dim top-10 truth LEFT JOINed to the two-stage
    * pipeline's picks.
    */
  def matryoshkaRecallSql: String = s"""
    WITH $baseCtes,
    ${matryoshkaTail()},
    bp AS (
      SELECT qid, vec_id,
        ${dotIdx("qv", "v")} / (qnrm * nrm) AS cosine
      FROM (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n
            WHERE vec_id % 100 = 0) q
      JOIN n ON vec_id <> qid
    ),
    bf AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cosine DESC, vec_id) AS rn
        FROM bp
      ) WHERE rn <= 10
    )
    SELECT bf.qid, COUNT(m.vec_id) AS n_hits,
      COUNT(m.vec_id) / 10.0::DOUBLE AS recall
    FROM bf LEFT JOIN mfin m ON bf.qid = m.qid AND bf.vec_id = m.vec_id
    GROUP BY bf.qid ORDER BY bf.qid"""

  /** Adaptive-dim twin ([[SimQueries.matryoshkaAdaptive]]): the
    * dimTruncation energy recipe as a CTE, k* = COALESCE(MIN k at
    * avg_energy >= target, Dims) in a scalar-subquery CTE (the `kn`
    * data-derived-parameter convention), then the SAME matryoshka tail
    * with every prefix fold bounded by that scalar subquery, graded by
    * the recall twin with the chosen dim riding each row.
    */
  def matryoshkaAdaptiveSql: String = {
    val ks = SimQueries.TruncDims.mkString(", ")
    val dimSql = "(SELECT kd FROM mkstar)"
    s"""
    WITH $baseCtes,
    men AS (
      SELECT kk.k AS k,
        (SUM(CAST(floor(
          list_reduce(list_transform(v[1:kk.k], x -> x * x), (a, b) -> a + b)
          / list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)
          * 1000000000.0 + 0.5) AS BIGINT)) / 1000000000.0) / COUNT(*)
          AS avg_energy
      FROM e CROSS JOIN (SELECT unnest([$ks]) AS k) kk
      GROUP BY kk.k
    ),
    mkstar AS (
      SELECT COALESCE(MIN(k), ${SimFns.Dims}) AS kd FROM men
      WHERE avg_energy >= ${SimQueries.MatryoshkaEnergyTarget}::DOUBLE
    ),
    ${matryoshkaTail(dimSql)},
    bp AS (
      SELECT qid, vec_id,
        ${dotIdx("qv", "v")} / (qnrm * nrm) AS cosine
      FROM (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n
            WHERE vec_id % 100 = 0) q
      JOIN n ON vec_id <> qid
    ),
    bf AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cosine DESC, vec_id) AS rn
        FROM bp
      ) WHERE rn <= 10
    )
    SELECT bf.qid, COUNT(m.vec_id) AS n_hits,
      COUNT(m.vec_id) / 10.0::DOUBLE AS recall,
      (SELECT CAST(kd AS INTEGER) FROM mkstar) AS chosen_dim
    FROM bf LEFT JOIN mfin m ON bf.qid = m.qid AND bf.vec_id = m.vec_id
    GROUP BY bf.qid ORDER BY bf.qid"""
  }

  /** Chunk-grain hybrid twin ([[SimQueries.chunkHybrid]]): the shared
    * chunk-BM25 CTEs ([[graft.text.TextOracle.chunkBm25Ctes]] — `cl` for
    * chunk rows, `top` for the lexical channel), the identical hash60
    * feature projection (dim = h % Dims, sign from bit 6) assembled into
    * dense Dims-lists ordered by dim, the same LSH bucket/probe literals
    * as [[lshTopkSql]], cosine via the shared ordered fold, and the
    * quantized-LONG RRF fusion of [[hybridSearchSql]].
    */
  def chunkHybridSql: String = {
    import SimQueries.RrfK
    import graft.text.TextQueries.Bm25Terms
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val h60 = (x: String) =>
      s"CAST(('0x' || substr(md5($x), 1, 15))::UBIGINT AS BIGINT)"
    s"""
    WITH ${graft.text.TextOracle.chunkBm25Ctes},
    pd AS (
      SELECT doc_id, chunk_id, CAST(h % $Dims AS INTEGER) AS dim,
        CASE WHEN ((h >> 6) & 1) = 1
          THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END AS sgn
      FROM (
        SELECT doc_id, chunk_id, ${h60("term")} AS h
        FROM (SELECT doc_id, chunk_id, unnest(ctoks) AS term FROM cl)
      )
    ),
    ps AS (
      SELECT doc_id, chunk_id, dim, SUM(sgn) AS x FROM pd GROUP BY 1, 2, 3
    ),
    cv AS (
      SELECT g.doc_id, g.chunk_id,
        list(COALESCE(p.x, 0.0::DOUBLE) ORDER BY d.i) AS v
      FROM (SELECT DISTINCT doc_id, chunk_id FROM cl) g
      CROSS JOIN (SELECT CAST(unnest(range(0, $Dims)) AS INTEGER) AS i) d
      LEFT JOIN ps p
        ON p.doc_id = g.doc_id AND p.chunk_id = g.chunk_id AND p.dim = d.i
      GROUP BY g.doc_id, g.chunk_id
    ),
    cb AS (
      SELECT doc_id, chunk_id, v, sqrt(${dotIdx("v", "v")}) AS nrm,
        ${bucketExpr("v")} AS bucket
      FROM cv
    ),
    qd AS (
      SELECT CAST(h % $Dims AS INTEGER) AS dim,
        SUM(CASE WHEN ((h >> 6) & 1) = 1
          THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END) AS x
      FROM (SELECT ${h60("term")} AS h
        FROM (SELECT unnest([$terms]) AS term))
      GROUP BY 1
    ),
    qv AS (
      SELECT list(COALESCE(q.x, 0.0::DOUBLE) ORDER BY d.i) AS v
      FROM (SELECT CAST(unnest(range(0, $Dims)) AS INTEGER) AS i) d
      LEFT JOIN qd q ON q.dim = d.i
    ),
    qb AS (
      SELECT v AS qv, sqrt(${dotIdx("v", "v")}) AS qnrm,
        ${bucketExpr("v")} AS bucket
      FROM qv
    ),
    qp AS (
      SELECT qv, qnrm, unnest(${probeList("bucket")}) AS probe FROM qb
    ),
    sem0 AS (
      SELECT c.doc_id, c.chunk_id,
        ${dotIdx("q.qv", "c.v")} / (q.qnrm * c.nrm) AS cosine
      FROM qp q JOIN cb c ON c.bucket = q.probe
      WHERE c.nrm > 0
    ),
    sem AS (
      SELECT doc_id, chunk_id, r_sem FROM (
        SELECT doc_id, chunk_id,
          CAST(ROW_NUMBER() OVER (
            ORDER BY cosine DESC, doc_id, chunk_id) AS INTEGER) AS r_sem
        FROM sem0
      ) WHERE r_sem <= 10
    ),
    lex AS (
      SELECT doc_id, chunk_id,
        CAST(ROW_NUMBER() OVER (
          ORDER BY score DESC, doc_id, chunk_id) AS INTEGER) AS r_lex
      FROM top
    ),
    fused AS (
      SELECT COALESCE(s.doc_id, t.doc_id) AS doc_id,
        COALESCE(s.chunk_id, t.chunk_id) AS chunk_id,
        COALESCE(CAST(floor(1000000000.0 / ($RrfK + s.r_sem) + 0.5)
          AS BIGINT), 0) +
        COALESCE(CAST(floor(1000000000.0 / ($RrfK + t.r_lex) + 0.5)
          AS BIGINT), 0) AS sq
      FROM sem s FULL OUTER JOIN lex t
        ON s.doc_id = t.doc_id AND s.chunk_id = t.chunk_id
    ),
    ranked AS (
      SELECT doc_id, chunk_id,
        CAST(ROW_NUMBER() OVER (
          ORDER BY sq DESC, doc_id, chunk_id) AS INTEGER) AS rn,
        sq / 1000000000.0 AS rrf
      FROM fused
    )
    SELECT r.doc_id, r.chunk_id, r.rn, r.rrf, d.lang, d.source
    FROM ranked r JOIN documents d USING (doc_id)
    WHERE r.rn <= 10
    ORDER BY r.rn"""
  }

  /** MMR twin: the brute-force top-10 chain, pairwise candidate sims,
    * and the greedy selection unrolled step by step. The (1-lambda)
    * weight is interpolated from the SAME Scala subtraction the query
    * evaluates (1.0 - 0.7 is NOT the double 0.3 — shortest-repr
    * round-trips it exactly), with ::DOUBLE pins so no DECIMAL enters.
    */
  def mmrSql: String = {
    import SimQueries.{MmrLambda, MmrK}
    val lam = s"$MmrLambda::DOUBLE"
    val oneMinus = s"${1.0 - MmrLambda}::DOUBLE"
    def step(j: Int): String = s"""
    mm$j AS (
      SELECT p.qid, p.ca, MAX(p.sim) AS max_sim
      FROM mps p JOIN msel${j - 1} s ON p.qid = s.qid AND p.cb = s.sel
      GROUP BY p.qid, p.ca
    ),
    msc$j AS (
      SELECT c.qid, c.vec_id, c.rel,
        $lam * c.rel - $oneMinus * m.max_sim AS mmr_score
      FROM mcand c
      JOIN mm$j m ON c.qid = m.qid AND c.vec_id = m.ca
      WHERE NOT EXISTS (SELECT 1 FROM msel${j - 1} s
        WHERE s.qid = c.qid AND s.sel = c.vec_id)
    ),
    ms$j AS (
      SELECT qid, vec_id, rel, mmr_score FROM (
        SELECT qid, vec_id, rel, mmr_score,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY mmr_score DESC, vec_id) AS rn
        FROM msc$j
      ) WHERE rn = 1
    ),
    msel$j AS (
      SELECT qid, sel FROM msel${j - 1}
      UNION ALL SELECT qid, vec_id FROM ms$j
    )"""
    val steps = (2 to MmrK).map(step).mkString(",")
    val outs = (2 to MmrK).map(j =>
      s"UNION ALL SELECT qid, $j, vec_id, rel, mmr_score FROM ms$j")
      .mkString("\n    ")
    s"""
    WITH $baseCtes,
    q AS (
      SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 100 = 0
    ),
    mc0 AS (
      SELECT q.qid, n.vec_id, n.v, n.nrm,
        ${dotIdx("qv", "v")} / (qnrm * nrm) AS rel
      FROM q JOIN n ON n.vec_id <> q.qid
    ),
    mcand AS (
      SELECT qid, vec_id, v, nrm, rel FROM (
        SELECT qid, vec_id, v, nrm, rel,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY rel DESC, vec_id) AS rn
        FROM mc0
      ) WHERE rn <= 10
    ),
    mps AS (
      SELECT a.qid, a.vec_id AS ca, b.vec_id AS cb,
        ${dotIdx("a.v", "b.v")} / (a.nrm * b.nrm) AS sim
      FROM mcand a JOIN mcand b
        ON a.qid = b.qid AND a.vec_id <> b.vec_id
    ),
    ms1 AS (
      SELECT qid, vec_id, rel FROM (
        SELECT qid, vec_id, rel,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY rel DESC, vec_id) AS rn
        FROM mcand
      ) WHERE rn = 1
    ),
    msel1 AS (SELECT qid, vec_id AS sel FROM ms1),
    $steps
    SELECT * FROM (
      SELECT qid, 1 AS rank, vec_id, rel, rel AS mmr_score FROM ms1
      $outs
    ) ORDER BY qid, rank"""
  }

  /** kNN label-propagation twin: the brute-force cosine top-10 chain, then
    * majority vote with the same (cnt DESC, label) tie-break and per-label
    * accuracy from exact BIGINT counts.
    */
  val knnLabelSql: String = s"""
    WITH $baseCtes,
    q AS (
      SELECT vec_id AS qid, v AS qv, nrm AS qnrm, label AS true_label
      FROM n WHERE vec_id % 100 = 0
    ),
    c AS (
      SELECT qid, true_label, n.label AS label, n.vec_id AS vec_id,
        ${dotIdx("qv", "v")} / (qnrm * nrm) AS cosine
      FROM q JOIN n ON n.vec_id <> q.qid
    ),
    r AS (
      SELECT qid, true_label, label,
        ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY cosine DESC, vec_id) AS rn
      FROM c
    ),
    votes AS (
      SELECT qid, true_label, label, COUNT(*) AS cnt
      FROM r WHERE rn <= 10 GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT qid, true_label, label AS pred_label FROM (
        SELECT qid, true_label, label,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cnt DESC, label) AS vr
        FROM votes
      ) WHERE vr = 1
    )
    SELECT true_label AS label,
      COUNT(*) AS n_queries,
      CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
        AS BIGINT) AS n_correct,
      CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
        AS BIGINT) / COUNT(*) AS accuracy
    FROM pred GROUP BY true_label ORDER BY label"""

  val bruteforceSql: String = s"""
    WITH $baseCtes,
    q AS (
      SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 100 = 0
    ),
    p AS (
      SELECT qid, vec_id,
        ${dotIdx("qv", "v")} / (qnrm * nrm) AS cosine
      FROM q JOIN n ON vec_id <> qid
    ),
    r AS (
      SELECT qid,
        CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY cosine DESC, vec_id) AS INTEGER) AS rn,
        vec_id, cosine
      FROM p
    )
    SELECT qid, rn, vec_id, cosine FROM r WHERE rn <= 10 ORDER BY qid, rn"""

  /** Sign-fingerprint CTE chain for the binary-Hamming twins: the same
    * static 60-term power-of-two sum, popcount(xor) Hamming, and
    * (hamming, vec_id) rank as the Spark side.
    */
  private def binaryCtes: String = {
    val fpExpr = (0 until SimQueries.SignBits)
      .map(i => s"CASE WHEN v[${i + 1}] > 0.0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    s"""
    bfp AS (
      SELECT vec_id, CAST($fpExpr AS BIGINT) AS f FROM n
    ),
    hq AS (SELECT vec_id AS qid, f AS qf FROM bfp WHERE vec_id % 100 = 0),
    hcand AS (
      SELECT qid, bfp.vec_id,
        CAST(bit_count(xor(qf, f)) AS INTEGER) AS hamming
      FROM hq JOIN bfp ON bfp.vec_id <> qid
    ),
    htop AS (
      SELECT qid, rn, vec_id, hamming FROM (
        SELECT qid, vec_id, hamming,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY hamming, vec_id) AS INTEGER) AS rn
        FROM hcand
      ) WHERE rn <= 10
    )"""
  }

  def binaryHammingSql: String = s"""
    WITH $baseCtes,
    $binaryCtes,
    qn AS (
      SELECT vec_id AS qid2, v AS qv, nrm AS qnrm FROM n
      WHERE vec_id % 100 = 0
    )
    SELECT t.qid, t.rn, t.vec_id, t.hamming,
      ${dotIdx("qv", "v")} / (qnrm * nrm) AS cosine
    FROM htop t
    JOIN n ON n.vec_id = t.vec_id
    JOIN qn ON qn.qid2 = t.qid
    ORDER BY t.qid, t.rn"""

  def binaryRecallSql: String = s"""
    WITH $baseCtes,
    $binaryCtes,
    bbp AS (
      SELECT qid, vec_id,
        ${dotIdx("qv", "v")} / (qnrm * nrm) AS cosine
      FROM (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n
            WHERE vec_id % 100 = 0) q
      JOIN n ON vec_id <> qid
    ),
    bbf AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cosine DESC, vec_id) AS rn
        FROM bbp
      ) WHERE rn <= 10
    )
    SELECT bbf.qid, COUNT(t.vec_id) AS n_hits,
      COUNT(t.vec_id) / 10.0::DOUBLE AS recall
    FROM bbf LEFT JOIN htop t ON bbf.qid = t.qid AND bbf.vec_id = t.vec_id
    GROUP BY bbf.qid ORDER BY bbf.qid"""

  val lshTopkSql: String = s"""
    WITH $baseCtes,
    nb AS (
      SELECT vec_id, v, nrm, ${bucketExpr("v")} AS bucket FROM n
    ),
    q AS (
      SELECT vec_id AS qid, v AS qv, nrm AS qnrm,
        unnest(${probeList("bucket")}) AS probe
      FROM nb WHERE vec_id % 100 = 0
    ),
    p AS (
      SELECT qid, vec_id,
        ${dotIdx("qv", "v")} / (qnrm * nrm) AS cosine
      FROM q JOIN nb ON bucket = probe AND vec_id <> qid
    ),
    r AS (
      SELECT qid,
        CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY cosine DESC, vec_id) AS INTEGER) AS rn,
        vec_id, cosine
      FROM p
    )
    SELECT qid, rn, vec_id, cosine FROM r WHERE rn <= 10 ORDER BY qid, rn"""

  /** Graph-ANN CTE chain (after [[baseCtes]]): the navigable k-NN graph
    * build + the [[SimQueries.BeamSweeps]] beam sweeps unrolled
    * CTE-for-CTE (the dedup_pagerank/kcore recipe), ending in `gsel` —
    * the final beam minus the self row. Each sweep's beam CTE is read
    * twice by the next sweep's union, so beams are AS MATERIALIZED
    * (DuckDB would otherwise re-inline the whole upstream build per use).
    * The chain now COMPOSES [[kmeansChain]] (the layer-0 router): each
    * query's entry `gb0` is its own final-assignment cell's
    * representative member — argmin (dist, vec_id) per cell, the twin of
    * the Spark side's persisted `ivf_cell_reps_full` table.
    */
  private def graphChain: String = {
    import SimQueries.{GraphDegree, BeamWidth, BeamSweeps}
    import SimFns.KmeansIters
    val fin = KmeansIters + 1
    val sweeps = (1 to BeamSweeps).map { i =>
      s"""
    gc$i AS (
      SELECT DISTINCT qid, vec_id FROM (
        SELECT qid, vec_id FROM gb${i - 1}
        UNION ALL
        SELECT b.qid, e.dst AS vec_id
        FROM gb${i - 1} b JOIN ge e ON e.src = b.vec_id
      )
    ),
    gb$i AS MATERIALIZED (
      SELECT qid, vec_id FROM (
        SELECT c.qid, c.vec_id,
          ROW_NUMBER() OVER (PARTITION BY c.qid
            ORDER BY ${dotIdx("gq.qv", "x.v")} / (gq.qnrm * x.nrm) DESC,
              c.vec_id) AS rn
        FROM gc$i c
        JOIN n x ON x.vec_id = c.vec_id
        JOIN gq ON gq.qid = c.qid
      ) WHERE rn <= $BeamWidth
    )"""
    }.mkString(",")
    s"""
    $kmeansChain,
    nb AS (
      SELECT vec_id, v, nrm, ${bucketExpr("v")} AS bucket FROM n
    ),
    gx AS (
      SELECT vec_id AS src, v AS sv, nrm AS snrm,
        unnest(${probeList("bucket")}) AS probe
      FROM nb
    ),
    gcand AS (
      SELECT src, y.vec_id AS dst,
        ${dotIdx("sv", "y.v")} / (snrm * y.nrm) AS cosine
      FROM gx JOIN nb y ON y.bucket = gx.probe AND y.vec_id <> gx.src
    ),
    gf AS (
      SELECT src, dst FROM (
        SELECT src, dst,
          ROW_NUMBER() OVER (PARTITION BY src
            ORDER BY cosine DESC, dst) AS rn
        FROM gcand
      ) WHERE rn <= $GraphDegree
    ),
    ge AS MATERIALIZED (
      SELECT src, dst FROM gf
      UNION
      SELECT dst AS src, src AS dst FROM gf
    ),
    gq AS MATERIALIZED (
      SELECT vec_id AS qid, v AS qv, nrm AS qnrm
      FROM n WHERE vec_id % 100 = 0
    ),
    grep AS MATERIALIZED (
      SELECT j AS cell, vec_id AS rep_id FROM (
        SELECT j, vec_id,
          ROW_NUMBER() OVER (PARTITION BY j ORDER BY dist, vec_id) AS rn
        FROM a$fin
      ) WHERE rn = 1
    ),
    gcd AS (
      SELECT gq.qid, ct.j AS cell,
        ${dotIdx("gq.qv", "gq.qv")} + ${dotIdx("ct.c", "ct.c")}
          - 2.0 * ${dotIdx("gq.qv", "ct.c")} AS cdist
      FROM gq CROSS JOIN c$KmeansIters ct
    ),
    gtop AS (
      SELECT qid, cell FROM (
        SELECT qid, cell,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cdist, cell) AS rn
        FROM gcd
      ) WHERE rn <= ${SimQueries.GraphEntryProbes}
    ),
    gb0 AS (
      SELECT gtop.qid, grep.rep_id AS vec_id
      FROM gtop JOIN grep ON grep.cell = gtop.cell
    ),$sweeps,
    gsel AS (
      SELECT qid, vec_id FROM gb$BeamSweeps WHERE vec_id <> qid
    )"""
  }

  def graphTopkSql: String = s"""
    WITH $baseCtes,
    $graphChain,
    gres AS (
      SELECT qid,
        CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY cosine DESC, vec_id) AS INTEGER) AS rn,
        vec_id, cosine
      FROM (
        SELECT b.qid, b.vec_id,
          ${dotIdx("gq.qv", "x.v")} / (gq.qnrm * x.nrm) AS cosine
        FROM gsel b
        JOIN n x ON x.vec_id = b.vec_id
        JOIN gq ON gq.qid = b.qid
      )
    )
    SELECT qid, rn, vec_id, cosine FROM gres WHERE rn <= 10
    ORDER BY qid, rn"""

  def graphRecallSql: String = s"""
    WITH $baseCtes,
    $graphChain,
    bp AS (
      SELECT qid, vec_id,
        ${dotIdx("qv", "v")} / (qnrm * nrm) AS cosine
      FROM gq JOIN n ON vec_id <> qid
    ),
    br AS (
      SELECT qid,
        ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY cosine DESC, vec_id) AS rn,
        vec_id
      FROM bp
    ),
    bf AS (SELECT qid, vec_id FROM br WHERE rn <= 10),
    gr AS (
      SELECT qid,
        ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY cosine DESC, vec_id) AS rn,
        vec_id
      FROM (
        SELECT b.qid, b.vec_id,
          ${dotIdx("gq.qv", "x.v")} / (gq.qnrm * x.nrm) AS cosine
        FROM gsel b
        JOIN n x ON x.vec_id = b.vec_id
        JOIN gq ON gq.qid = b.qid
      )
    ),
    gs AS (SELECT qid, vec_id FROM gr WHERE rn <= 10)
    SELECT bf.qid, COUNT(gs.vec_id) AS n_hits,
      COUNT(gs.vec_id) / 10.0::DOUBLE AS recall
    FROM bf LEFT JOIN gs ON bf.qid = gs.qid AND bf.vec_id = gs.vec_id
    GROUP BY bf.qid ORDER BY bf.qid"""

  /** Twin of [[SimQueries.graphIncremental]]'s REPORT: the attach step
    * replayed relationally — new vectors' top-G links among old nodes in
    * their probe buckets. The Spark side reads its rows back from the
    * persisted augmented table, so the hash match proves the append
    * landed exactly these rows (the old-graph build rides the
    * `ann_graph_topk`-verified builder and contributes no src=new rows).
    */
  def graphIncrementalSql: String = {
    import SimQueries.GraphDegree
    val hb = s"${hash60Sql("CAST(vec_id AS VARCHAR)")} % 10"
    s"""
    WITH $baseCtes,
    nbk AS (
      SELECT vec_id, v, nrm, ${bucketExpr("v")} AS bucket FROM n
    ),
    vold AS (SELECT * FROM nbk WHERE $hb <> 0),
    vnew AS (SELECT * FROM nbk WHERE $hb = 0),
    gxn AS (
      SELECT vec_id AS src, v AS sv, nrm AS snrm,
        unnest(${probeList("bucket")}) AS probe
      FROM vnew
    ),
    gcn AS (
      SELECT src, y.vec_id AS dst,
        ${dotIdx("sv", "y.v")} / (snrm * y.nrm) AS cosine
      FROM gxn JOIN vold y ON y.bucket = gxn.probe AND y.vec_id <> gxn.src
    ),
    gkn AS (
      SELECT src, dst, cosine,
        ROW_NUMBER() OVER (PARTITION BY src
          ORDER BY cosine DESC, dst) AS rn
      FROM gcn
    )
    SELECT src AS vec_id, COUNT(*) AS degree,
      MAX(CASE WHEN rn = 1 THEN dst END) AS nearest_id,
      MAX(CASE WHEN rn = 1 THEN cosine END) AS nearest_cosine
    FROM gkn WHERE rn <= $GraphDegree
    GROUP BY src ORDER BY vec_id"""
  }

  val nearDupPairsSql: String = s"""
    WITH $baseCtes,
    nb AS (
      SELECT vec_id, v, nrm, ${bucketExpr("v")} AS bucket FROM n
    ),
    px AS (
      SELECT vec_id AS vec_a, v AS va, nrm AS na,
        unnest(${probeList("bucket")}) AS probe
      FROM nb
    )
    SELECT vec_a, y.vec_id AS vec_b,
      ${dotIdx("va", "y.v")} / (na * y.nrm) AS cosine
    FROM px JOIN nb y ON y.bucket = px.probe AND px.vec_a < y.vec_id
    ORDER BY cosine DESC, vec_a, vec_b LIMIT 20"""

  val retrievalSql: String = s"""
    WITH $baseCtes,
    nb AS (
      SELECT vec_id, v, nrm, ${bucketExpr("v")} AS bucket FROM n
    ),
    q AS (
      SELECT vec_id AS qid, v AS qv, nrm AS qnrm,
        unnest(${probeList("bucket")}) AS probe
      FROM nb WHERE vec_id % 250 = 0
    ),
    p AS (
      SELECT qid, vec_id,
        ${dotIdx("qv", "v")} / (qnrm * nrm) AS cosine
      FROM q JOIN nb ON bucket = probe AND vec_id <> qid
    ),
    r AS (
      SELECT qid,
        CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY cosine DESC, vec_id) AS INTEGER) AS rn,
        vec_id, cosine
      FROM p
    )
    SELECT r.qid, r.rn, r.vec_id, r.cosine, d.lang, d.source
    FROM r LEFT JOIN documents d ON r.vec_id = d.doc_id
    WHERE r.rn <= 5
    ORDER BY r.qid, r.rn"""

  val vectorStatsSql: String = s"""
    WITH e AS (
      SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    )
    SELECT vec_id,
      list_min(v) AS vmin,
      list_max(v) AS vmax,
      ${fold("v")} / len(v) AS vmean,
      CAST(len(list_filter(v, x -> x > 0)) AS INTEGER) AS n_positive
    FROM e ORDER BY vec_id"""

  val ivfTopkSql: String = s"""
    WITH $baseCtes,
    q AS (
      SELECT vec_id AS qid, v AS qv, nrm AS qnrm, label AS qcell
      FROM n WHERE vec_id % 100 = 0
    ),
    p AS (
      SELECT qid, vec_id,
        ${dotIdx("qv", "v")} / (qnrm * nrm) AS cosine
      FROM q JOIN n ON label = qcell AND vec_id <> qid
    ),
    r AS (
      SELECT qid,
        CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY cosine DESC, vec_id) AS INTEGER) AS rn,
        vec_id, cosine
      FROM p
    )
    SELECT qid, rn, vec_id, cosine FROM r WHERE rn <= 10 ORDER BY qid, rn"""

  val int8QuantSql: String = s"""
    WITH e AS (
      SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    a AS (
      SELECT vec_id, v,
        list_max(list_transform(v, x -> abs(x))) AS amax
      FROM e
    ),
    q AS (
      SELECT vec_id, v, amax,
        CASE WHEN amax > 0 THEN
          list_transform(v,
            x -> floor(x * 127.0::DOUBLE / amax + 0.5::DOUBLE))
        ELSE list_transform(v, x -> 0.0::DOUBLE) END AS qc
      FROM a
    ),
    d AS (
      SELECT vec_id, v, amax, qc,
        list_transform(qc, c -> c * amax / 127.0::DOUBLE) AS dq
      FROM q
    )
    SELECT vec_id, amax,
      ${fold(s"list_transform(range(1, ${Dims + 1}), i -> (v[i] - dq[i]) * (v[i] - dq[i]))")}
        / $Dims AS qmse,
      CASE WHEN amax > 0 THEN
        ${dotIdx("v", "dq")} / (sqrt(${dotIdx("v", "v")}) * sqrt(${dotIdx("dq", "dq")}))
      ELSE 1.0::DOUBLE END AS qcos,
      CAST(len(list_filter(qc, c -> abs(c) = 127)) AS INTEGER) AS n_saturated
    FROM d ORDER BY vec_id"""

  /** Recall@10 of the LSH probe against the brute-force baseline: both
    * pipelines verbatim as CTEs, left-joined on (qid, vec_id). COUNT over
    * the join's non-null side keeps the type BIGINT (a SUM(CASE) would be
    * HUGEINT in DuckDB and break the dtype compare).
    */
  val lshRecallSql: String = s"""
    WITH $baseCtes,
    nb AS (
      SELECT vec_id, v, nrm, ${bucketExpr("v")} AS bucket FROM n
    ),
    bq AS (
      SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 100 = 0
    ),
    bp AS (
      SELECT qid, vec_id,
        ${dotIdx("qv", "v")} / (qnrm * nrm) AS cosine
      FROM bq JOIN n ON vec_id <> qid
    ),
    br AS (
      SELECT qid,
        ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY cosine DESC, vec_id) AS rn,
        vec_id
      FROM bp
    ),
    bf AS (SELECT qid, vec_id FROM br WHERE rn <= 10),
    lq AS (
      SELECT vec_id AS qid, v AS qv, nrm AS qnrm,
        unnest(${probeList("bucket")}) AS probe
      FROM nb WHERE vec_id % 100 = 0
    ),
    lp AS (
      SELECT qid, vec_id,
        ${dotIdx("qv", "v")} / (qnrm * nrm) AS cosine
      FROM lq JOIN nb ON bucket = probe AND vec_id <> qid
    ),
    lr AS (
      SELECT qid,
        ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY cosine DESC, vec_id) AS rn,
        vec_id
      FROM lp
    ),
    ls AS (SELECT qid, vec_id FROM lr WHERE rn <= 10)
    SELECT bf.qid, COUNT(ls.vec_id) AS n_hits,
      COUNT(ls.vec_id) / 10.0::DOUBLE AS recall
    FROM bf LEFT JOIN ls ON bf.qid = ls.qid AND bf.vec_id = ls.vec_id
    GROUP BY bf.qid ORDER BY bf.qid"""

  /** Twin of [[SimQueries.filteredTopk]]: lang metadata joined into the
    * index CTE, the same probe-with-predicate candidate join, exact
    * filtered truth, boolean hit from the truth left join.
    */
  def filteredTopkSql: String = s"""
    WITH $baseCtes,
    m AS (
      SELECT n.vec_id, n.v, n.nrm, d.lang,
        ${bucketExpr("n.v")} AS bucket
      FROM n JOIN documents d ON n.vec_id = d.doc_id
    ),
    q AS (
      SELECT vec_id AS qid, v AS qv, nrm AS qnrm, lang AS qlang, bucket
      FROM m WHERE vec_id % 100 = 0
    ),
    qp AS (
      SELECT qid, qv, qnrm, qlang, unnest(${probeList("bucket")}) AS probe
      FROM q
    ),
    sp AS (
      SELECT qid, vec_id,
        ${dotIdx("qv", "v")} / (qnrm * nrm) AS cosine
      FROM qp JOIN m ON bucket = probe AND vec_id <> qid AND lang = qlang
    ),
    served AS (
      SELECT qid,
        CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY cosine DESC, vec_id) AS INTEGER) AS rn,
        vec_id, cosine
      FROM sp
    ),
    tp AS (
      SELECT qid, vec_id,
        ${dotIdx("qv", "v")} / (qnrm * nrm) AS cosine
      FROM q JOIN m ON lang = qlang AND vec_id <> qid
    ),
    tr AS (
      SELECT qid, vec_id,
        ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY cosine DESC, vec_id) AS trn
      FROM tp
    ),
    truth AS (SELECT qid, vec_id FROM tr WHERE trn <= 10)
    SELECT s.qid, s.rn, s.vec_id, s.cosine,
      t.vec_id IS NOT NULL AS hit
    FROM served s
    LEFT JOIN truth t ON s.qid = t.qid AND s.vec_id = t.vec_id
    WHERE s.rn <= 10
    ORDER BY s.qid, s.rn"""

  /** Twin of [[SimQueries.rangeSearch]]: per-query exact and probed
    * in-range counts, coverage = the BIGINT/BIGINT division, the tau
    * literal cast to DOUBLE (DuckDB decimal-literal gotcha).
    */
  def rangeSearchSql: String = {
    val tau = s"CAST(${SimQueries.RangeTau} AS DOUBLE)"
    s"""
    WITH $baseCtes,
    nb AS (
      SELECT vec_id, v, nrm, ${bucketExpr("v")} AS bucket FROM n
    ),
    q AS (
      SELECT vec_id AS qid, v AS qv, nrm AS qnrm, bucket
      FROM nb WHERE vec_id % 100 = 0
    ),
    ex AS (
      SELECT qid, COUNT(*) AS n_exact
      FROM q JOIN nb ON vec_id <> qid
      WHERE ${dotIdx("qv", "v")} / (qnrm * nrm) >= $tau
      GROUP BY qid
    ),
    qp AS (
      SELECT qid, qv, qnrm, unnest(${probeList("bucket")}) AS probe
      FROM q
    ),
    sv AS (
      SELECT qid, COUNT(*) AS n_served
      FROM qp JOIN nb ON bucket = probe AND vec_id <> qid
      WHERE ${dotIdx("qv", "v")} / (qnrm * nrm) >= $tau
      GROUP BY qid
    )
    SELECT q.qid,
      COALESCE(ex.n_exact, 0) AS n_exact,
      COALESCE(sv.n_served, 0) AS n_served,
      CASE WHEN COALESCE(ex.n_exact, 0) = 0 THEN NULL
        ELSE COALESCE(sv.n_served, 0) / ex.n_exact END AS coverage
    FROM q
    LEFT JOIN ex ON q.qid = ex.qid
    LEFT JOIN sv ON q.qid = sv.qid
    ORDER BY q.qid"""
  }

  val ivfRecallSql: String = s"""
    WITH $baseCtes,
    bq AS (
      SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 100 = 0
    ),
    bp AS (
      SELECT qid, vec_id,
        ${dotIdx("qv", "v")} / (qnrm * nrm) AS cosine
      FROM bq JOIN n ON vec_id <> qid
    ),
    br AS (
      SELECT qid,
        ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY cosine DESC, vec_id) AS rn,
        vec_id
      FROM bp
    ),
    bf AS (SELECT qid, vec_id FROM br WHERE rn <= 10),
    iq AS (
      SELECT vec_id AS qid, v AS qv, nrm AS qnrm, label AS qcell
      FROM n WHERE vec_id % 100 = 0
    ),
    ip AS (
      SELECT qid, vec_id,
        ${dotIdx("qv", "v")} / (qnrm * nrm) AS cosine
      FROM iq JOIN n ON label = qcell AND vec_id <> qid
    ),
    ir AS (
      SELECT qid,
        ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY cosine DESC, vec_id) AS rn,
        vec_id
      FROM ip
    ),
    iv AS (SELECT qid, vec_id FROM ir WHERE rn <= 10)
    SELECT bf.qid, COUNT(iv.vec_id) AS n_hits,
      COUNT(iv.vec_id) / 10.0::DOUBLE AS recall
    FROM bf LEFT JOIN iv ON bf.qid = iv.qid AND bf.vec_id = iv.vec_id
    GROUP BY bf.qid ORDER BY bf.qid"""

  /** Unrolled-CTE twin of the HIERARCHICAL Lloyd training
    * ([[SimQueries.trainQuantizer]]): per sweep, assignment by CROSS JOIN
    * (stage A) or an equi-join on the owning anchor (stage B) +
    * ROW_NUMBER over the identical (vv + cc - 2*v.c) expression
    * (bit-agrees with Spark's map-side array_min because the doubles per
    * (vector, centroid) pair are identical), quantized per-dim means,
    * list re-assembly in dimension order, COALESCE for empty cells.
    */
  /** CTE chain from `e` to the trained-kmeans FINAL assignment
    * `a<KmeansIters+1>(vec_id, j, dist)` and the trained centroids
    * `c<KmeansIters>(aj, j, c)` — shared by [[kmeansSql]] and
    * [[semanticDedupSql]] so both grade the same training math. Every
    * size is DATA-DERIVED in the `kn` CTE over the same scan — the SQL
    * twin of [[SimQueries.trainQuantizer]]'s count-action sizing:
    * k = max(KmeansKFloor, ceil(n / TargetCellSize)), k1 = ceil(sqrt(k)),
    * the expected sample sizes m = min(n, KmeansSampleMult*k) and
    * m1 = min(n, KmeansSampleMult*k1), and the per-anchor budget split
    * kd = k/k1, kr = k%k1. Both samples are the hash60(vec_id) % n < m
    * THRESHOLD filter (`sa0`/`sb0` over the shared `hh`) — the identical
    * per-row predicate Spark applies, no rank anywhere. Stage A
    * (`bc0..bc<Iters>`) trains the k1 anchors on `sa0`; stage B assigns
    * `sb0` to its nearest trained anchor (`sba`), caps each group at
    * SampleMult*ka rows (`kcap`, rank by (md5(vec_id), vec_id) within
    * the group), inits j = offset(aj)+rank-1 (`sc0`) and runs the
    * GROUPED sweeps (`sc1..`); the final assignment is the TWO-LEVEL
    * rule of [[SimQueries.kmAssignIndexed]]: vector -> nearest LIVE
    * anchor (`va`), then argmin within that anchor's OWN trained group —
    * identical expression shapes per (row, candidate) pair, so every
    * argmin agrees bit-for-bit.
    */
  private[graft] val kmeansChain: String = {
    import SimFns.{KmeansIters, KmeansKFloor, KmeansSampleMult, TargetCellSize}
    // one Lloyd sweep: sample rows `s` (x)join centroid table c<t-1>,
    // argmin, quantized means, coalesce — shared shape for stage A
    // (prefix b, CROSS JOIN: every anchor is a candidate) and stage B
    // (prefix s, JOIN ON aj: only the owning anchor's group competes).
    // Stage-B centroid tables carry aj; the update preserves it.
    def sweep(p: String, s: String, t: Int, grouped: Boolean): String = {
      val joined =
        if (grouped) s"$s JOIN ${p}c${t - 1} ct ON $s.aj = ct.aj"
        else s"$s CROSS JOIN ${p}c${t - 1} ct"
      val ajSel = if (grouped) "p.aj, " else ""
      s"""
    ${p}x$t AS MATERIALIZED (
      SELECT $s.vec_id, $s.v, ct.j,
        $s.vv + ${dotIdx("ct.c", "ct.c")} - 2.0 * ${dotIdx(s"$s.v", "ct.c")} AS dist
      FROM $joined
    ),
    ${p}a$t AS MATERIALIZED (
      SELECT vec_id, v, j, dist FROM (
        SELECT vec_id, v, j, dist,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
        FROM ${p}x$t
      ) WHERE rn = 1
    ),
    ${p}u$t AS MATERIALIZED (
      SELECT j, i AS pos,
        SUM(CAST(floor(v[i] * 1000000000.0 + 0.5) AS BIGINT))
          / (1000000000.0 * COUNT(*)) AS m
      FROM ${p}a$t, (SELECT unnest(range(1, ${Dims + 1})) AS i)
      GROUP BY j, i
    ),
    ${p}n$t AS MATERIALIZED (SELECT j, list(m ORDER BY pos) AS cn FROM ${p}u$t GROUP BY j),
    ${p}c$t AS MATERIALIZED (
      SELECT ${ajSel}p.j, COALESCE(n.cn, p.c) AS c
      FROM ${p}c${t - 1} p LEFT JOIN ${p}n$t n ON p.j = n.j
    )"""
    }
    val fin = KmeansIters + 1
    val kaSql = "((SELECT kd FROM kn) + CASE WHEN aj < (SELECT kr FROM kn)" +
      " THEN 1 ELSE 0 END)"
    s"""
    k AS MATERIALIZED (SELECT vec_id, v, ${dotIdx("v", "v")} AS vv FROM e),
    kn AS MATERIALIZED (
      SELECT n, k, k1,
        LEAST(n, $KmeansSampleMult * k) AS m,
        LEAST(n, $KmeansSampleMult * k1) AS m1,
        k // k1 AS kd, k % k1 AS kr
      FROM (
        SELECT n, k, CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT) AS k1
        FROM (
          SELECT COUNT(*) AS n,
            GREATEST($KmeansKFloor,
              CAST(ceil(COUNT(*) / $TargetCellSize.0) AS BIGINT)) AS k
          FROM e
        )
      )
    ),
    hh AS MATERIALIZED (
      SELECT vec_id, v, vv,
        ${hash60Sql("CAST(vec_id AS VARCHAR)")} % (SELECT n FROM kn) AS hb
      FROM k
    ),
    sa0 AS MATERIALIZED (SELECT vec_id, v, vv FROM hh WHERE hb < (SELECT m1 FROM kn)),
    bc0 AS MATERIALIZED (
      SELECT CAST(vec_id AS INTEGER) AS j, v AS c FROM e
      WHERE vec_id < (SELECT k1 FROM kn)
    ),
    ${(1 to KmeansIters).map(sweep("b", "sa0", _, grouped = false)).mkString(",")},
    sb0 AS MATERIALIZED (SELECT vec_id, v, vv FROM hh WHERE hb < (SELECT m FROM kn)),
    sba AS MATERIALIZED (
      SELECT vec_id, v, vv, aj FROM (
        SELECT s.vec_id, s.v, s.vv, ct.j AS aj,
          ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
            s.vv + ${dotIdx("ct.c", "ct.c")} - 2.0 * ${dotIdx("s.v", "ct.c")},
            ct.j) AS rn
        FROM sb0 s CROSS JOIN bc$KmeansIters ct
      ) WHERE rn = 1
    ),
    kcap AS MATERIALIZED (
      SELECT vec_id, v, vv, aj FROM (
        SELECT vec_id, v, vv, aj,
          ROW_NUMBER() OVER (PARTITION BY aj
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS grn
        FROM sba
      ) WHERE grn <= $KmeansSampleMult * $kaSql
    ),
    sc0 AS MATERIALIZED (
      SELECT aj,
        CAST(aj * (SELECT kd FROM kn) + LEAST(aj, (SELECT kr FROM kn))
          + rn - 1 AS INTEGER) AS j,
        v AS c
      FROM (
        SELECT aj, v,
          ROW_NUMBER() OVER (PARTITION BY aj ORDER BY vec_id) AS rn
        FROM kcap
      ) WHERE rn <= $kaSql
    ),
    ${(1 to KmeansIters).map(sweep("s", "kcap", _, grouped = true)).mkString(",")},
    c$KmeansIters AS MATERIALIZED (SELECT aj, j, c FROM sc$KmeansIters),
    lanch AS MATERIALIZED (
      SELECT b.j AS aj, b.c AS ac, ${dotIdx("b.c", "b.c")} AS acc
      FROM bc$KmeansIters b
      WHERE b.j IN (SELECT DISTINCT aj FROM c$KmeansIters)
    ),
    va AS MATERIALIZED (
      SELECT vec_id, v, vv, aj FROM (
        SELECT kk.vec_id, kk.v, kk.vv, la.aj,
          ROW_NUMBER() OVER (PARTITION BY kk.vec_id ORDER BY
            kk.vv + la.acc - 2.0 * ${dotIdx("kk.v", "la.ac")}, la.aj) AS rn
        FROM k kk CROSS JOIN lanch la
      ) WHERE rn = 1
    ),
    x$fin AS MATERIALIZED (
      SELECT va.vec_id, va.v, cm.j,
        va.vv + ${dotIdx("cm.c", "cm.c")} - 2.0 * ${dotIdx("va.v", "cm.c")} AS dist
      FROM va JOIN c$KmeansIters cm ON va.aj = cm.aj
    ),
    a$fin AS MATERIALIZED (
      SELECT vec_id, j, dist FROM (
        SELECT vec_id, j, dist,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
        FROM x$fin
      ) WHERE rn = 1
    )"""
  }

  /** PQ twins. Per-subspace training is the [[kmeansChain]] recipe over
    * LITERAL sub-slices (list_slice bounds m*PqSub+1 .. (m+1)*PqSub); the
    * ADC lookup table quantizes each partial squared distance to a LONG so
    * the PqM-term sum is exact — the ranking is then partition- and
    * engine-invariant.
    */
  private def dotSub(a: String, b: String): String =
    fold(s"list_transform(range(1, ${SimFns.PqSub + 1}), i -> $a[i] * $b[i])")

  private def pqSliceSql(v: String, m: String): String =
    s"list_slice($v, $m * ${SimFns.PqSub} + 1, ($m + 1) * ${SimFns.PqSub})"

  /** CTE chain for subspace m: k_m / c0_m / sweeps / final codes af_m. */
  private def pqChain(m: Int): String = {
    import SimFns.{PqIters, PqK}
    def sweep(t: Int): String = s"""
    x${t}_$m AS (
      SELECT k.vec_id, k.v, ct.j,
        k.vv + ${dotSub("ct.c", "ct.c")} - 2.0 * ${dotSub("k.v", "ct.c")} AS dist
      FROM k_$m k CROSS JOIN c${t - 1}_$m ct
    ),
    a${t}_$m AS (
      SELECT vec_id, v, j, dist FROM (
        SELECT vec_id, v, j, dist,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
        FROM x${t}_$m
      ) WHERE rn = 1
    ),
    u${t}_$m AS (
      SELECT j, i AS pos,
        SUM(CAST(floor(v[i] * 1000000000.0 + 0.5) AS BIGINT))
          / (1000000000.0 * COUNT(*)) AS m
      FROM a${t}_$m, (SELECT unnest(range(1, ${SimFns.PqSub + 1})) AS i)
      GROUP BY j, i
    ),
    n${t}_$m AS (SELECT j, list(m ORDER BY pos) AS cn FROM u${t}_$m GROUP BY j),
    c${t}_$m AS (
      SELECT p.j, COALESCE(n.cn, p.c) AS c
      FROM c${t - 1}_$m p LEFT JOIN n${t}_$m n ON p.j = n.j
    )"""
    val fin = PqIters + 1
    val lo = m * SimFns.PqSub + 1
    val hi = (m + 1) * SimFns.PqSub
    s"""
    k_$m AS (
      SELECT vec_id, list_slice(v, $lo, $hi) AS v,
        ${dotSub(s"list_slice(v, $lo, $hi)", s"list_slice(v, $lo, $hi)")} AS vv
      FROM e
    ),
    c0_$m AS (
      SELECT CAST(vec_id AS INTEGER) AS j, list_slice(v, $lo, $hi) AS c FROM e
      WHERE vec_id < $PqK
    ),
    ${(1 to PqIters).map(sweep).mkString(",")},
    x${fin}_$m AS (
      SELECT k.vec_id, ct.j,
        k.vv + ${dotSub("ct.c", "ct.c")} - 2.0 * ${dotSub("k.v", "ct.c")} AS dist
      FROM k_$m k CROSS JOIN c${PqIters}_$m ct
    ),
    af_$m AS (
      SELECT vec_id, j FROM (
        SELECT vec_id, j,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
        FROM x${fin}_$m
      ) WHERE rn = 1
    )"""
  }

  /** Shared PQ CTE tail: codes/cb/q/lut/adc-ranked `pr`. */
  private def pqAdcCtes: String = {
    import SimFns.{PqIters, PqM}
    val chains = (0 until PqM).map(pqChain).mkString(",")
    val codes = (0 until PqM)
      .map(m => s"SELECT vec_id, $m AS m, j AS code FROM af_$m")
      .mkString("\n      UNION ALL ")
    val cb = (0 until PqM)
      .map(m => s"SELECT $m AS m, j, c FROM c${PqIters}_$m")
      .mkString("\n      UNION ALL ")
    s"""
    $chains,
    codes AS (
      $codes
    ),
    cb AS (
      $cb
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
    lut AS (
      SELECT qid, m, j,
        CAST(floor((${dotSub("qs", "qs")} + ${dotSub("c", "c")}
          - 2.0 * ${dotSub("qs", "c")}) * 1000000000.0 + 0.5) AS BIGINT) AS pd
      FROM (
        SELECT qid, m, j, c, ${pqSliceSql("qv", "m")} AS qs
        FROM q CROSS JOIN cb
      )
    ),
    adc AS (
      SELECT qid, vec_id, SUM(pd) AS dl
      FROM codes x JOIN lut l ON x.m = l.m AND x.code = l.j
        AND x.vec_id <> l.qid
      GROUP BY 1, 2
    ),
    pr AS (
      SELECT qid,
        CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY dl, vec_id) AS INTEGER) AS rn,
        vec_id, dl / 1000000000.0 AS adc_dist
      FROM adc
    )"""
  }

  val pqTopkSql: String = s"""
    WITH $baseCtes,
    $pqAdcCtes
    SELECT qid, rn, vec_id, adc_dist FROM pr WHERE rn <= 10
    ORDER BY qid, rn"""

  /** Power-iteration twin: the sweeps unrolled; each direction is rebuilt
    * in CTEs with the exact arithmetic the Spark driver used on the
    * collected z (same quantized sums, same index-ordered norm fold, same
    * division order), so the literals the Spark plan embeds equal the
    * oracle's computed lists bit-for-bit.
    */
  def pcaPowerSql: String = {
    import SimQueries.PcaSweeps
    val ones = List.fill(Dims)("1.0").mkString("CAST([", ", ", "] AS DOUBLE[])")
    def sweep(t: Int): String = {
      val src = if (t == 1) "e" else s"e CROSS JOIN w${t - 1}"
      val wExpr = if (t == 1) ones else "wl"
      s"""
    s$t AS (
      SELECT ${dotIdx("v", wExpr)} AS s, v FROM $src
    ),
    z$t AS (
      SELECT pos,
        SUM(CAST(floor(s * v[pos] * 1000000000.0 + 0.5) AS BIGINT)) AS zq
      FROM s$t, (SELECT unnest(range(1, ${Dims + 1})) AS pos)
      GROUP BY pos
    ),
    zl$t AS (SELECT list(zq / 1000000000.0 ORDER BY pos) AS zl FROM z$t),
    w$t AS (
      SELECT list_transform(zl, x -> x / sqrt(${dotIdx("zl", "zl")})) AS wl
      FROM zl$t
    )"""
    }
    s"""
    WITH $baseCtes,
    ${(1 to PcaSweeps).map(sweep).mkString(",")}
    SELECT CAST(z.pos AS INTEGER) AS dim,
      (z.zq / 1000000000.0) / l.lambda AS loading,
      l.lambda AS lambda
    FROM z$PcaSweeps z CROSS JOIN
      (SELECT sqrt(${dotIdx("zl", "zl")}) AS lambda FROM zl$PcaSweeps) l
    ORDER BY dim"""
  }

  /** IVF+PQ twin: [[kmeansChain]] (coarse cells) and [[pqAdcCtes]]
    * (codes/LUT) composed — CTE namespaces are disjoint, and the
    * unreferenced unrestricted adc/pr tail of pqAdcCtes is dead code to
    * the planner. The candidate set is restricted to the query's nprobe
    * nearest trained cells BEFORE the ADC join, mirroring the Spark plan.
    */
  /** Shared IVF+PQ CTE chain ending in the UNCUT ADC ranking `ivpr` —
    * [[ivfpqTopkSql]] takes rn <= 10, [[ivfpqRerankSql]] a wider slate.
    */
  private def ivfpqCtes: String = {
    import SimFns.KmeansIters
    import SimQueries.IvfPqNprobe
    val finK = KmeansIters + 1
    s"""
    $baseCtes,
    $kmeansChain,
    $pqAdcCtes,
    qq AS (SELECT qid, qv, ${dotIdx("qv", "qv")} AS qq FROM q),
    qcell AS (
      SELECT qid, j AS cell FROM (
        SELECT t.qid, ct.j,
          ROW_NUMBER() OVER (PARTITION BY t.qid ORDER BY
            t.qq + ${dotIdx("ct.c", "ct.c")} - 2.0 * ${dotIdx("t.qv", "ct.c")},
            ct.j) AS rn
        FROM qq t CROSS JOIN c$KmeansIters ct
      ) WHERE rn <= $IvfPqNprobe
    ),
    vcell AS (SELECT vec_id, j AS cell FROM a$finK),
    ivcand AS (
      SELECT qc.qid, v.vec_id FROM qcell qc JOIN vcell v USING (cell)
      WHERE v.vec_id <> qc.qid
    ),
    ivadc AS (
      SELECT c.qid, c.vec_id, SUM(pd) AS dl
      FROM ivcand c
      JOIN codes x ON x.vec_id = c.vec_id
      JOIN lut l ON l.qid = c.qid AND l.m = x.m AND l.j = x.code
      GROUP BY 1, 2
    ),
    ivpr AS (
      SELECT qid,
        CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY dl, vec_id) AS INTEGER) AS rn,
        vec_id, dl / 1000000000.0 AS adc_dist
      FROM ivadc
    )"""
  }

  def ivfpqTopkSql: String = s"""
    WITH $ivfpqCtes
    SELECT qid, rn, vec_id, adc_dist FROM ivpr WHERE rn <= 10
    ORDER BY qid, rn"""

  /** Deletion-lifecycle twin ([[SimQueries.ivfpqDeleted]]): the full
    * ivfpq chain (model trained on the FULL corpus — deletion is a
    * data-plane purge, not a retrain) with the doomed content-hash slice
    * excluded from the ranked candidates; ranks re-number over the
    * survivors exactly as the engine's window does over the shrunk
    * serving table.
    */
  def ivfpqDeletedSql: String = {
    val keep =
      s"${hash60Sql("CAST(vec_id AS VARCHAR)")} % 10 <> ${SimQueries.DeleteResidue}"
    s"""
    WITH $ivfpqCtes,
    delpr AS (
      SELECT qid,
        CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY dl, vec_id) AS INTEGER) AS rn,
        vec_id, dl / 1000000000.0 AS adc_dist
      FROM ivadc
      WHERE $keep
    )
    SELECT qid, rn, vec_id, adc_dist FROM delpr WHERE rn <= 10
    ORDER BY qid, rn"""
  }

  /** Adaptive-nprobe twin ([[SimQueries.ivfAdaptive]]): the shared
    * [[kmeansChain]] (trained cells + full-corpus assignment), a
    * per-(query, centroid) distance CTE with the identical
    * qq + cc - 2 q.c doubles, the rn=1-unconditional eps*d1 probe rule,
    * candidate restriction to the probed cells, exact-cosine top-10,
    * and the standard recall LEFT JOIN against the brute-force truth —
    * n_probed riding each row.
    */
  def ivfAdaptiveSql: String = {
    import SimFns.KmeansIters
    import SimQueries.{AdaptProbeEps, AdaptProbeMax}
    val finK = KmeansIters + 1
    s"""
    WITH $baseCtes,
    $kmeansChain,
    aq AS MATERIALIZED (
      SELECT vec_id AS qid, v AS qv, nrm AS qnrm,
        ${dotIdx("v", "v")} AS qq
      FROM n WHERE vec_id % 100 = 0
    ),
    acd AS MATERIALIZED (
      SELECT q.qid, q.qv, q.qnrm, ct.j AS cell,
        q.qq + ${dotIdx("ct.c", "ct.c")} - 2.0 * ${dotIdx("q.qv", "ct.c")}
          AS cdist
      FROM aq q CROSS JOIN c$KmeansIters ct
    ),
    aprn AS MATERIALIZED (
      SELECT qid, qv, qnrm, cell,
        COUNT(*) OVER (PARTITION BY qid) AS n_probed
      FROM (
        SELECT qid, qv, qnrm, cell FROM (
          SELECT qid, qv, qnrm, cell, cdist,
            MIN(cdist) OVER (PARTITION BY qid) AS d1,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cdist, cell) AS rn
          FROM acd
        ) WHERE rn <= $AdaptProbeMax
          AND (rn = 1 OR cdist <= $AdaptProbeEps * d1)
      )
    ),
    apk AS MATERIALIZED (
      SELECT qid, vec_id FROM (
        SELECT p.qid, a.vec_id,
          ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
            ${dotIdx("p.qv", "x.v")} / (p.qnrm * x.nrm) DESC, a.vec_id)
            AS rk
        FROM aprn p
        JOIN a$finK a ON a.j = p.cell AND a.vec_id <> p.qid
        JOIN n x ON x.vec_id = a.vec_id
      ) WHERE rk <= 10
    ),
    abp AS (
      SELECT q.qid, x.vec_id,
        ${dotIdx("q.qv", "x.v")} / (q.qnrm * x.nrm) AS cosine
      FROM aq q JOIN n x ON x.vec_id <> q.qid
    ),
    abf AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
          ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cosine DESC, vec_id) AS rn
        FROM abp
      ) WHERE rn <= 10
    )
    SELECT b.qid, COUNT(m.vec_id) AS n_hits,
      COUNT(m.vec_id) / 10.0::DOUBLE AS recall,
      (SELECT DISTINCT n_probed FROM aprn p WHERE p.qid = b.qid) AS n_probed
    FROM abf b LEFT JOIN apk m ON b.qid = m.qid AND b.vec_id = m.vec_id
    GROUP BY b.qid ORDER BY b.qid"""
  }

  /** Incremental-maintenance twin ([[SimQueries.ivfpqIncremental]]):
    * `e` is REDEFINED as the hash-kept OLD corpus (hash60(vec_id) % 10
    * <> 0) so [[kmeansChain]] and the per-subspace PQ chains train on
    * old data only — exactly the Spark side's frozen model — then the
    * batch (`nb0`) is assigned at that frozen model (`mva`/`mx`/`ma`
    * mirror the chain's va/x/a rule; `nerr_m` mirrors the codeword
    * argmin per subspace), and the per-cell growth/drift report
    * aggregates quantized-LONG sums divided once (the kmeans-inertia
    * recipe). The model never sees the batch: no CTE feeding the chains
    * reads `nb0`.
    */
  def ivfpqIncrementalSql: String = {
    import SimFns.{KmeansIters, PqIters, PqM, PqSub}
    val finK = KmeansIters + 1
    val hbSql = s"${hash60Sql("CAST(vec_id AS VARCHAR)")} % 10"
    val chains = (0 until PqM).map(pqChain).mkString(",")
    def sliceBounds(m: Int) = (m * PqSub + 1, (m + 1) * PqSub)
    // per-subspace reconstruction error: old from the training chain's
    // final cross join, batch from a fresh cross join against the frozen
    // codebook — MIN(dist) is the assigned codeword's distance (the
    // argmin orders by (dist, j), so its dist IS the min), quantized
    // AFTER the min like Spark's Det.quantize on the argmin row
    val oerrs = (0 until PqM).map { m =>
      s"""
    oerr_$m AS MATERIALIZED (
      SELECT vec_id,
        CAST(floor(MIN(dist) * 1000000000.0 + 0.5) AS BIGINT) AS pdl
      FROM x${PqIters + 1}_$m GROUP BY vec_id
    )"""
    }.mkString(",")
    val nerrs = (0 until PqM).map { m =>
      val (lo, hi) = sliceBounds(m)
      s"""
    nbk_$m AS MATERIALIZED (
      SELECT vec_id, list_slice(v, $lo, $hi) AS v,
        ${dotSub(s"list_slice(v, $lo, $hi)", s"list_slice(v, $lo, $hi)")} AS vv
      FROM nb0
    ),
    nerr_$m AS MATERIALIZED (
      SELECT k.vec_id,
        CAST(floor(MIN(k.vv + ${dotSub("ct.c", "ct.c")}
          - 2.0 * ${dotSub("k.v", "ct.c")}) * 1000000000.0 + 0.5) AS BIGINT)
          AS pdl
      FROM nbk_$m k CROSS JOIN c${PqIters}_$m ct
      GROUP BY k.vec_id
    )"""
    }.mkString(",")
    val ounion = (0 until PqM)
      .map(m => s"SELECT vec_id, pdl FROM oerr_$m").mkString("\n      UNION ALL ")
    val nunion = (0 until PqM)
      .map(m => s"SELECT vec_id, pdl FROM nerr_$m").mkString("\n      UNION ALL ")
    s"""
    WITH all0 AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    e AS MATERIALIZED (SELECT vec_id, v FROM all0 WHERE $hbSql <> 0),
    nb0 AS MATERIALIZED (SELECT vec_id, v FROM all0 WHERE $hbSql = 0),
    $kmeansChain,
    $chains,
    $oerrs,
    $nerrs,
    operr AS MATERIALIZED (
      SELECT vec_id, SUM(pdl) AS pql FROM (
        $ounion
      ) GROUP BY vec_id
    ),
    nperr AS MATERIALIZED (
      SELECT vec_id, SUM(pdl) AS pql FROM (
        $nunion
      ) GROUP BY vec_id
    ),
    nbv AS MATERIALIZED (
      SELECT vec_id, v, ${dotIdx("v", "v")} AS vv FROM nb0
    ),
    mva AS MATERIALIZED (
      SELECT vec_id, v, vv, aj FROM (
        SELECT b.vec_id, b.v, b.vv, la.aj,
          ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
            b.vv + la.acc - 2.0 * ${dotIdx("b.v", "la.ac")}, la.aj) AS rn
        FROM nbv b CROSS JOIN lanch la
      ) WHERE rn = 1
    ),
    mx AS MATERIALIZED (
      SELECT mva.vec_id, cm.j,
        mva.vv + ${dotIdx("cm.c", "cm.c")} - 2.0 * ${dotIdx("mva.v", "cm.c")}
          AS dist
      FROM mva JOIN c$KmeansIters cm ON mva.aj = cm.aj
    ),
    ma AS MATERIALIZED (
      SELECT vec_id, j, dist FROM (
        SELECT vec_id, j, dist,
          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
        FROM mx
      ) WHERE rn = 1
    ),
    ocell AS MATERIALIZED (
      SELECT a.j, COUNT(*) AS n_old,
        SUM(CAST(floor(a.dist * 1000000000.0 + 0.5) AS BIGINT))
          / (1000000000.0 * COUNT(*)) AS mean_res_old,
        SUM(o.pql) / (1000000000.0 * COUNT(*)) AS mean_pq_err_old
      FROM a$finK a JOIN operr o USING (vec_id)
      GROUP BY a.j
    ),
    ncell AS MATERIALIZED (
      SELECT a.j, COUNT(*) AS n_new,
        SUM(CAST(floor(a.dist * 1000000000.0 + 0.5) AS BIGINT))
          / (1000000000.0 * COUNT(*)) AS mean_res_new,
        SUM(o.pql) / (1000000000.0 * COUNT(*)) AS mean_pq_err_new
      FROM ma a JOIN nperr o USING (vec_id)
      GROUP BY a.j
    )
    SELECT COALESCE(o.j, n.j) AS cell,
      COALESCE(o.n_old, 0) AS n_old,
      COALESCE(n.n_new, 0) AS n_new,
      o.mean_res_old, n.mean_res_new,
      o.mean_pq_err_old, n.mean_pq_err_new,
      n.mean_pq_err_new - o.mean_pq_err_old AS pq_err_drift
    FROM ocell o FULL OUTER JOIN ncell n ON o.j = n.j
    ORDER BY cell"""
  }

  /** IVF+PQ + refine twin: the same ADC slate, then the exact squared-L2
    * recomputed for the slate only with the identical qq + vv - 2*dot
    * expression shape as [[pqRecallSql]]'s truth side.
    */
  def ivfpqRerankSql: String = {
    import SimQueries.AnnRerankC
    s"""
    WITH $ivfpqCtes,
    rslate AS (
      SELECT qid, vec_id, adc_dist FROM ivpr WHERE rn <= $AnnRerankC
    ),
    rex AS (
      SELECT r.qid, r.vec_id, r.adc_dist,
        ${dotIdx("q.qv", "q.qv")} + ${dotIdx("e.v", "e.v")}
          - 2.0 * ${dotIdx("q.qv", "e.v")} AS l2_dist
      FROM rslate r
      JOIN q ON q.qid = r.qid
      JOIN e ON e.vec_id = r.vec_id
    )
    SELECT qid, rn, vec_id, l2_dist, adc_dist FROM (
      SELECT qid,
        CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY l2_dist, vec_id) AS INTEGER) AS rn,
        vec_id, l2_dist, adc_dist
      FROM rex
    ) WHERE rn <= 10
    ORDER BY qid, rn"""
  }

  val pqRecallSql: String = s"""
    WITH $baseCtes,
    $pqAdcCtes,
    xp AS (
      SELECT qid, e.vec_id,
        ${dotIdx("qv", "qv")} + ${dotIdx("e.v", "e.v")}
          - 2.0 * ${dotIdx("qv", "e.v")} AS l2
      FROM q JOIN e ON e.vec_id <> qid
    ),
    er AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY l2, vec_id) AS rn
        FROM xp
      ) WHERE rn <= 10
    ),
    pq10 AS (SELECT qid, vec_id FROM pr WHERE rn <= 10)
    SELECT er.qid, COUNT(pq10.vec_id) AS n_hits,
      COUNT(pq10.vec_id) / 10.0::DOUBLE AS recall
    FROM er LEFT JOIN pq10 ON er.qid = pq10.qid AND er.vec_id = pq10.vec_id
    GROUP BY er.qid ORDER BY er.qid"""

  val kmeansSql: String = {
    import SimFns.KmeansIters
    val fin = KmeansIters + 1
    s"""
    WITH $baseCtes,
    $kmeansChain
    SELECT g.j AS cluster, g.n_assigned, g.inertia,
      sqrt(${dotIdx("ct.c", "ct.c")}) AS centroid_norm
    FROM (
      SELECT j, COUNT(*) AS n_assigned,
        SUM(CAST(floor(dist * 1000000000.0 + 0.5) AS BIGINT))
          / 1000000000.0 AS inertia
      FROM a$fin GROUP BY j
    ) g JOIN c$KmeansIters ct ON g.j = ct.j
    ORDER BY cluster"""
  }

  /** SemDeDup twin: the same trained assignment chain, then intra-cell
    * pairs scored by the same bit-identical cosine as [[nearDupPairsSql]].
    */
  val semanticDedupSql: String = {
    import SimFns.{KmeansIters, SemDedupCosine}
    val fin = KmeansIters + 1
    s"""
    WITH $baseCtes,
    $kmeansChain,
    m AS (
      SELECT n.vec_id, n.v, n.nrm, a.j AS cell
      FROM n JOIN a$fin a ON n.vec_id = a.vec_id
    )
    SELECT x.cell, x.vec_id AS vec_a, y.vec_id AS vec_b,
      ${dotIdx("x.v", "y.v")} / (x.nrm * y.nrm) AS cosine
    FROM m x JOIN m y ON x.cell = y.cell AND x.vec_id < y.vec_id
    WHERE ${dotIdx("x.v", "y.v")} / (x.nrm * y.nrm) >= $SemDedupCosine
    ORDER BY cosine DESC, vec_a, vec_b LIMIT 20"""
  }

  /** Bitext-mining twin: the semanticDedup chain with the language join
    * and the inverted language predicate at the pair join.
    */
  def crosslingualSql: String = {
    import SimFns.KmeansIters
    val fin = KmeansIters + 1
    s"""
    WITH $baseCtes,
    $kmeansChain,
    xm AS (
      SELECT n.vec_id, n.v, n.nrm, a.j AS cell, d.lang
      FROM n
      JOIN a$fin a ON n.vec_id = a.vec_id
      JOIN documents d ON n.vec_id = d.doc_id
    )
    SELECT x.cell, x.vec_id AS vec_a, y.vec_id AS vec_b,
      x.lang AS lang_a, y.lang AS lang_b,
      ${dotIdx("x.v", "y.v")} / (x.nrm * y.nrm) AS cosine
    FROM xm x JOIN xm y
      ON x.cell = y.cell AND x.vec_id < y.vec_id AND x.lang <> y.lang
    ORDER BY cosine DESC, vec_a, vec_b LIMIT 20"""
  }

  /** Semantic-clusters twin: the semanticDedup edge set (UNLIMITED, no
    * top-20) under the dedup family's recursive reachability closure.
    */
  def semanticClustersSql: String = {
    import SimFns.{KmeansIters, SemDedupCosine}
    val fin = KmeansIters + 1
    s"""
    WITH RECURSIVE $baseCtes,
    $kmeansChain,
    scm AS (
      SELECT n.vec_id, n.v, n.nrm, a.j AS cell
      FROM n JOIN a$fin a ON n.vec_id = a.vec_id
    ),
    scp AS (
      SELECT x.vec_id AS a, y.vec_id AS b
      FROM scm x JOIN scm y ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE ${dotIdx("x.v", "y.v")} / (x.nrm * y.nrm) >= $SemDedupCosine
    ),
    scedges AS (
      SELECT a, b FROM scp UNION ALL SELECT b, a FROM scp
    ),
    screach AS (
      SELECT a AS node, b AS r FROM scedges
      UNION
      SELECT e.a, rr.r FROM scedges e JOIN screach rr ON rr.node = e.b
    ),
    sclab AS (
      SELECT node, LEAST(node, MIN(r)) AS label FROM screach GROUP BY node
    )
    SELECT label AS cluster_id, COUNT(*) AS cluster_size
    FROM sclab GROUP BY label
    ORDER BY cluster_size DESC, cluster_id"""
  }

  /** Cluster-topic twin: the same trained assignment chain, token
    * occurrences partial-agged per doc, identical division association and
    * 9-decimal ln quantization, ROW_NUMBER cast to INTEGER.
    */
  def clusterTopicsSql: String = {
    import SimFns.KmeansIters
    import SimQueries.{TopicMinCount, TopicTermsK}
    val fin = KmeansIters + 1
    s"""
    WITH $baseCtes,
    $kmeansChain,
    occ AS (
      SELECT doc_id, token, COUNT(*) AS cnt FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
      ) GROUP BY 1, 2
    ),
    ct AS (
      SELECT a.j AS cell, o.token, CAST(SUM(o.cnt) AS BIGINT) AS cnt_cell
      FROM occ o JOIN a$fin a ON o.doc_id = a.vec_id
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT cell, CAST(SUM(cnt_cell) AS BIGINT) AS toks_cell
      FROM ct GROUP BY cell
    ),
    corp AS (
      SELECT token, CAST(SUM(cnt) AS BIGINT) AS cnt_all FROM occ
      GROUP BY token
    ),
    ctot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS toks_all FROM occ),
    scored AS (
      SELECT ct.cell, ct.token, ct.cnt_cell,
        floor(ln((CAST(ct.cnt_cell AS DOUBLE) / t.toks_cell) /
          (CAST(c.cnt_all AS DOUBLE) / x.toks_all))
          * 1000000000.0 + 0.5) / 1000000000.0 AS lift
      FROM ct JOIN tot t USING (cell) JOIN corp c USING (token)
      CROSS JOIN ctot x
      WHERE ct.cnt_cell >= $TopicMinCount
    ),
    ranked AS (
      SELECT cell, token, cnt_cell, lift,
        CAST(ROW_NUMBER() OVER (PARTITION BY cell
          ORDER BY lift DESC, token) AS INTEGER) AS rank
      FROM scored
    )
    SELECT cell, rank, token, cnt_cell, lift
    FROM ranked WHERE rank <= $TopicTermsK
    ORDER BY cell, rank"""
  }

  /** Centroid-outlier twin: the labelCentroids quantized-mean recipe,
    * the kmAssign distance association, two-pass centered per-label
    * moments, |z| ranking.
    */
  def centroidOutliersSql: String = s"""
    WITH $baseCtes,
    cd AS (
      SELECT label, i AS pos, v[i] AS x
      FROM e, (SELECT unnest(range(1, ${Dims + 1})) AS i)
    ),
    cent AS (
      SELECT label, pos,
        SUM(CAST(floor(x * 1000000000.0 + 0.5) AS BIGINT))
          / (1000000000.0 * COUNT(*)) AS m
      FROM cd GROUP BY label, pos
    ),
    cl AS (SELECT label, list(m ORDER BY pos) AS c FROM cent GROUP BY label),
    sq AS (
      SELECT e.vec_id, e.label,
        ${dotIdx("e.v", "e.v")} + ${dotIdx("cl.c", "cl.c")}
          - 2.0 * ${dotIdx("e.v", "cl.c")} AS sqdist
      FROM e JOIN cl USING (label)
    ),
    m1 AS (
      SELECT label,
        (SUM(CAST(floor(sqdist * 1000000000.0 + 0.5) AS BIGINT))
          / 1000000000.0) / COUNT(*) AS mu
      FROM sq GROUP BY label
    ),
    st2 AS (
      SELECT s.label,
        SUM(CAST(floor((s.sqdist - m.mu) * (s.sqdist - m.mu)
          * 1000000000.0 + 0.5) AS BIGINT)) / 1000000000.0 AS ss,
        COUNT(*) AS n,
        MIN(m.mu) AS mu
      FROM sq s JOIN m1 m USING (label)
      GROUP BY s.label
    ),
    stz AS (SELECT label, mu, sqrt(ss / n) AS sd FROM st2),
    z AS (
      SELECT s.vec_id, s.label, s.sqdist, (s.sqdist - t.mu) / t.sd AS z
      FROM sq s JOIN stz t USING (label)
    )
    SELECT vec_id, label, sqdist, z FROM z
    ORDER BY abs(z) DESC, vec_id LIMIT 10"""

  /** Silhouette twin: the [[centroidOutliersSql]] centroid CTEs, the
    * per-(vector, centroid) distance under the kmeans association, a/b
    * via equality/MIN, the same guard and quantized per-label means.
    */
  def silhouetteSql: String = s"""
    WITH $baseCtes,
    scd AS (
      SELECT label, i AS pos, v[i] AS x
      FROM e, (SELECT unnest(range(1, ${Dims + 1})) AS i)
    ),
    scent AS (
      SELECT label, pos,
        SUM(CAST(floor(x * 1000000000.0 + 0.5) AS BIGINT))
          / (1000000000.0 * COUNT(*)) AS m
      FROM scd GROUP BY label, pos
    ),
    scl AS (SELECT label, list(m ORDER BY pos) AS c FROM scent GROUP BY label),
    sdist AS (
      SELECT e.vec_id, e.label AS vlabel, cl.label AS clabel,
        ${dotIdx("e.v", "e.v")} + ${dotIdx("cl.c", "cl.c")}
          - 2.0 * ${dotIdx("e.v", "cl.c")} AS d
      FROM e CROSS JOIN scl cl
    ),
    sa AS (
      SELECT vec_id, vlabel, sqrt(GREATEST(d, 0)) AS a
      FROM sdist WHERE vlabel = clabel
    ),
    sb AS (
      SELECT vec_id, sqrt(GREATEST(MIN(d), 0)) AS b FROM sdist
      WHERE vlabel <> clabel GROUP BY vec_id
    ),
    ss AS (
      SELECT sa.vec_id, sa.vlabel AS label, sa.a, sb.b,
        CASE WHEN greatest(sa.a, sb.b) > 0
          THEN (sb.b - sa.a) / greatest(sa.a, sb.b)
          ELSE 0.0::DOUBLE END AS sil
      FROM sa JOIN sb USING (vec_id)
    )
    SELECT label, COUNT(*) AS n_vecs,
      (SUM(CAST(floor(sil * 1000000000.0 + 0.5) AS BIGINT))
        / 1000000000.0) / COUNT(*) AS mean_silhouette,
      CAST(SUM(CASE WHEN sil > 0 THEN 1 ELSE 0 END) AS BIGINT)
        / COUNT(*) AS well_clustered_frac,
      (SUM(CAST(floor(a * 1000000000.0 + 0.5) AS BIGINT))
        / 1000000000.0) / COUNT(*) AS mean_dist_own,
      (SUM(CAST(floor(b * 1000000000.0 + 0.5) AS BIGINT))
        / 1000000000.0) / COUNT(*) AS mean_dist_other
    FROM ss GROUP BY label ORDER BY label"""

  /** Hard-negative twin: the trained-cell assignment, the same
    * cosine association, the band filter, per-query ranking.
    */
  def contrastiveNegativesSql: String = {
    import SimFns.KmeansIters
    import SimQueries.{HardNegHi, HardNegK, HardNegLo}
    val fin = KmeansIters + 1
    s"""
    WITH $baseCtes,
    $kmeansChain,
    m AS (
      SELECT n.vec_id, n.v, n.nrm, a.j AS cell
      FROM n JOIN a$fin a ON n.vec_id = a.vec_id
    ),
    qn AS (
      SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cell FROM m
      WHERE vec_id % 100 = 0
    ),
    scored AS (
      SELECT q.qid, x.vec_id,
        ${dotIdx("q.qv", "x.v")} / (q.qnrm * x.nrm) AS cosine
      FROM qn q JOIN m x USING (cell)
      WHERE x.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, vec_id, cosine,
        CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY cosine DESC, vec_id) AS INTEGER) AS rn
      FROM scored
      WHERE cosine >= $HardNegLo::DOUBLE AND cosine < $HardNegHi::DOUBLE
    )
    SELECT qid, rn, vec_id, cosine FROM ranked WHERE rn <= $HardNegK
    ORDER BY qid, rn"""
  }

  val labelCentroidsSql: String = s"""
    WITH $baseCtes,
    d AS (
      SELECT label, i AS pos, v[i] AS x
      FROM e, (SELECT unnest(range(1, ${Dims + 1})) AS i)
    ),
    cent AS (
      SELECT label, pos,
        SUM(CAST(floor(x * 1000000000.0 + 0.5) AS BIGINT))
          / (1000000000.0 * COUNT(*)) AS m
      FROM d GROUP BY label, pos
    )
    SELECT label,
      sqrt(SUM(CAST(floor(m * m * 1000000000000.0 + 0.5) AS BIGINT))
        / 1000000000000.0) AS centroid_norm
    FROM cent GROUP BY label ORDER BY label"""

  /** Hybrid-retrieval twin: the semantic channel is bruteforceSql's CTE
    * chain, the lexical channel is [[graft.dedup.DedupOracle]]'s DF-capped
    * pair CTEs (no CTE name overlap), fused by per-term-quantized RRF.
    */
  def hybridSearchSql: String = {
    val k = SimQueries.RrfK
    s"""
    WITH $baseCtes,
    q AS (
      SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 100 = 0
    ),
    p AS (
      SELECT qid, vec_id,
        ${dotIdx("qv", "v")} / (qnrm * nrm) AS cosine
      FROM q JOIN n ON vec_id <> qid
    ),
    sem AS (
      SELECT qid, vec_id AS doc,
        CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY cosine DESC, vec_id) AS INTEGER) AS r_sem
      FROM p
      QUALIFY r_sem <= 10
    ),
    ${graft.dedup.DedupOracle.ngramPairCtes},
    lexall AS (
      SELECT doc_a AS qid, doc_b AS doc, jaccard FROM pairs
      UNION ALL
      SELECT doc_b AS qid, doc_a AS doc, jaccard FROM pairs
    ),
    lex AS (
      SELECT qid, doc,
        CAST(ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY jaccard DESC, doc) AS INTEGER) AS r_lex
      FROM lexall WHERE qid % 100 = 0
      QUALIFY r_lex <= 10
    ),
    fused AS (
      SELECT COALESCE(sem.qid, lex.qid) AS qid,
        COALESCE(sem.doc, lex.doc) AS doc,
        COALESCE(CAST(floor(1000000000.0 / ($k + r_sem) + 0.5) AS BIGINT), 0)
          + COALESCE(CAST(floor(1000000000.0 / ($k + r_lex) + 0.5) AS BIGINT), 0)
          AS sq
      FROM sem FULL OUTER JOIN lex
        ON sem.qid = lex.qid AND sem.doc = lex.doc
    )
    SELECT qid,
      CAST(ROW_NUMBER() OVER (PARTITION BY qid
        ORDER BY sq DESC, doc) AS INTEGER) AS rn,
      doc AS doc_id, sq / 1000000000.0 AS rrf
    FROM fused
    QUALIFY rn <= 10
    ORDER BY qid, rn"""
  }

  /** Truncation twin: same prefix/full ordered squared-norm folds
    * (list_reduce bit-matches Spark's 0.0-seeded aggregate), per-vector
    * 1e-9 quantization, exact BIGINT partial agg per k.
    */
  def dimTruncationSql: String = {
    val ks = SimQueries.TruncDims.mkString(", ")
    s"""
    WITH e AS (
      SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    per AS (
      SELECT vec_id, kk.k AS k,
        CAST(floor(
          list_reduce(list_transform(v[1:kk.k], x -> x * x), (a, b) -> a + b)
          / list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)
          * 1000000000.0 + 0.5) AS BIGINT) AS eq
      FROM e CROSS JOIN (SELECT unnest([$ks]) AS k) kk
    )
    SELECT k, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      (SUM(eq) / 1000000000.0) / COUNT(*) AS avg_energy,
      MIN(eq) / 1000000000.0 AS min_energy
    FROM per GROUP BY k ORDER BY k"""
  }

  /** Late-interaction twin: the [[chunkHybridSql]] projection CTEs in
    * sparse-coordinate form (never densified), the query terms kept as
    * SEPARATE one-hot rows, per-(doc, term) MaxSim with the
    * missing-chunk zero clamp, and the per-doc sum — every cosine a
    * 9-decimal quantized LONG, every aggregate exact.
    */
  def lateInteractionSql: String = {
    import graft.text.TextQueries.Bm25Terms
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""
    WITH ${graft.text.TextOracle.chunkRowsCtes},
    pd AS (
      SELECT doc_id, chunk_id, CAST(h % $Dims AS INTEGER) AS dim,
        CASE WHEN ((h >> 6) & 1) = 1
          THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END AS sgn
      FROM (
        SELECT doc_id, chunk_id, ${hash60Sql("term")} AS h
        FROM (SELECT doc_id, chunk_id, unnest(ctoks) AS term FROM cl)
      )
    ),
    psx AS (
      SELECT * FROM (
        SELECT doc_id, chunk_id, dim, SUM(sgn) AS x FROM pd GROUP BY 1, 2, 3
      ) WHERE x <> 0.0::DOUBLE
    ),
    nrm AS (
      SELECT doc_id, chunk_id, sqrt(SUM(x * x)) AS nrm
      FROM psx GROUP BY 1, 2
    ),
    nch AS (SELECT doc_id, COUNT(*) AS n_chunks FROM cl GROUP BY 1),
    qd AS (
      SELECT term, CAST(h % $Dims AS INTEGER) AS dim,
        CASE WHEN ((h >> 6) & 1) = 1
          THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END AS qsgn
      FROM (SELECT term, ${hash60Sql("term")} AS h
            FROM (SELECT unnest([$terms]) AS term))
    ),
    cand AS (
      SELECT q.term, p.doc_id, p.chunk_id,
        CAST(floor(((q.qsgn * p.x) / n.nrm) * 1000000000.0 + 0.5)
          AS BIGINT) AS cos_q
      FROM psx p JOIN qd q USING (dim)
      JOIN nrm n ON n.doc_id = p.doc_id AND n.chunk_id = p.chunk_id
    ),
    pt AS (
      SELECT c.doc_id, c.term,
        CASE WHEN COUNT(*) < max(h.n_chunks)
             THEN GREATEST(max(c.cos_q), 0)
             ELSE max(c.cos_q) END AS maxsim_q
      FROM cand c JOIN nch h USING (doc_id)
      GROUP BY 1, 2
    ),
    pdoc AS (
      SELECT doc_id, CAST(SUM(maxsim_q) AS BIGINT) AS sq,
        CAST(SUM(CASE WHEN maxsim_q > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS terms_hit
      FROM pt GROUP BY 1
    ),
    ranked AS (
      SELECT doc_id, sq, terms_hit,
        CAST(row_number() OVER (ORDER BY sq DESC, doc_id) AS INTEGER) AS rn
      FROM pdoc
    )
    SELECT r.rn, r.doc_id, r.sq / 1000000000.0 AS li_score, r.terms_hit,
      h.n_chunks, d.lang, d.source
    FROM ranked r JOIN nch h USING (doc_id) JOIN documents d USING (doc_id)
    WHERE r.rn <= 10
    ORDER BY r.rn"""
  }

  /** PSI twin: the kmeansChain's final assignment is the binning, the
    * hash60 split the same 60-bit md5 prefix, shares exact small-int
    * divisions, ln quantized per cell to 1e-9 before the term
    * re-quantizes — the one transcendental never flows raw.
    */
  def driftPsiSql: String = {
    import SimFns.KmeansIters
    val fin = KmeansIters + 1
    val pn = "(CAST(n_new + 1 AS DOUBLE) / CAST(t_new + k AS DOUBLE))"
    val po = "(CAST(n_old + 1 AS DOUBLE) / CAST(t_old + k AS DOUBLE))"
    val m = SimQueries.PsiModerate
    val mj = SimQueries.PsiMajor
    s"""
    WITH $baseCtes,
    $kmeansChain,
    vc AS (SELECT vec_id, j AS cell FROM a$fin),
    sp AS (
      SELECT cell,
        CAST(SUM(CASE WHEN ${hash60Sql("CAST(vec_id AS VARCHAR)")} % 10 <> 0
          THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
        CAST(SUM(CASE WHEN ${hash60Sql("CAST(vec_id AS VARCHAR)")} % 10 = 0
          THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      FROM vc GROUP BY cell
    ),
    tot AS (
      SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new, COUNT(*) AS k
      FROM sp
    ),
    term AS MATERIALIZED (
      SELECT cell, n_old, n_new,
        CAST(FLOOR(($pn - $po)
          * (CAST(FLOOR(ln($pn / $po) * 1e9 + 0.5) AS BIGINT) / 1e9)
          * 1e9 + 0.5) AS BIGINT) AS termq
      FROM sp, tot
    ),
    ps AS (SELECT SUM(termq) / 1e9 AS psi FROM term)
    SELECT t.cell, t.n_old, t.n_new, t.termq / 1e9 AS psi_term,
      ps.psi,
      CASE WHEN ps.psi < $m::DOUBLE THEN 'stable'
           WHEN ps.psi < $mj::DOUBLE THEN 'moderate'
           ELSE 'major' END AS band
    FROM term t, ps ORDER BY t.cell"""
  }
}
