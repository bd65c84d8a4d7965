package graft.dedup

import graft.text.TextOracle

/** DuckDB twins of [[DedupQueries]]. The shingle CTE mirrors
  * [[graft.text.TextFns.shingles]]: DuckDB `range(1, L-n+2)` = Spark
  * `sequence(1, L-n+1)` (both L-n+1 shingles), slice `toks[i:i+n-1]` =
  * Spark `slice(toks, i, n)`, empty list for short docs. Jaccard is
  * BIGINT arithmetic + one float division — identical IEEE754 on both
  * sides.
  */
object DedupOracle {

  import DedupQueries.{BandRows, MinhashK, MinhashShingleN, NgramDfCap,
    ShingleN, SimhashBandBits, SimhashBands, SimhashHammingMax}

  private def shingleCtes(n: Int, out: String,
      t: String = "t"): String = s"""
    $t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    $out AS (
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(toks) >= $n THEN
          list_transform(range(1, CAST(len(toks) - ${n - 2} AS BIGINT)),
            i -> array_to_string(toks[i:i+${n - 1}], ' '))
        ELSE [] END)) AS sh
      FROM $t
    )"""

  def exactSummarySql: String = s"""
    SELECT COUNT(*) AS total_docs,
      COUNT(DISTINCT fp) AS distinct_docs,
      COUNT(*) - COUNT(DISTINCT fp) AS exact_dups
    FROM (
      SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
      FROM documents
    )"""

  /** CTE chain ending in `pairs` = (doc_a, doc_b, jaccard) over DF-capped
    * [[ShingleN]]-gram shingle sets — shared by the top-k query, the
    * cluster-assignment oracle, and the contamination screen in
    * [[graft.text.TextOracle]]. A `def` (not `val`) so the
    * TextOracle<->DedupOracle reference cycle can never hit an
    * uninitialized field regardless of which object initializes first.
    */
  private[graft] def ngramPairCtes: String = s"""
    ${shingleCtes(ShingleN, "sh_all")},
    rare AS (
      SELECT sh FROM sh_all GROUP BY sh HAVING COUNT(*) <= $NgramDfCap
    ),
    sh AS (
      SELECT doc_id, sh FROM sh_all JOIN rare USING (sh)
    ),
    inter AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT doc_a, doc_b, i / (sa.n + sb.n - i) AS jaccard
      FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    )"""

  def ngramTopkSql: String = s"""
    WITH $ngramPairCtes
    SELECT doc_a, doc_b, jaccard FROM pairs
    ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20"""

  /** Exact-substring span twin: same DF-capped inverted-index shape as
    * [[ngramPairCtes]] at n = [[DedupQueries.SpanN]], counting shared
    * windows instead of Jaccard. `shared_spans / LEAST(...)` is
    * BIGINT / BIGINT — float division on both engines.
    */
  def spanOverlapSql: String = s"""
    WITH ${shingleCtes(DedupQueries.SpanN, "sp_all")},
    rare AS (
      SELECT sh FROM sp_all GROUP BY sh HAVING COUNT(*) <= $NgramDfCap
    ),
    sp AS (
      SELECT doc_id, sh FROM sp_all JOIN rare USING (sh)
    ),
    inter AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS shared_spans
      FROM sp x JOIN sp y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sp GROUP BY doc_id)
    SELECT doc_a, doc_b, shared_spans,
      shared_spans / LEAST(sa.n, sb.n) AS overlap_frac
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    ORDER BY shared_spans DESC, doc_a, doc_b LIMIT 20"""

  /** Paragraph-pair twin: struct_pack-zipped chunk explode (same clamp
    * semantics as Spark's slice — DuckDB list slices truncate at the list
    * end), the shingle shape of [[shingleCtes]] at chunk granularity, the
    * chunk-posting DF cap, and the cross-doc-only self-join.
    */
  def paragraphPairsSql: String = {
    val w = DedupQueries.ChunkTokens
    val n = ShingleN
    s"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    ch0 AS (
      SELECT doc_id, unnest(list_transform(
        range(0, CAST(floor((len(toks) - 1) / $w.0) AS BIGINT) + 1),
        c -> struct_pack(chunk := c, ct := toks[c*$w+1 : c*$w+$w]))) AS cw
      FROM t
    ),
    ch AS (SELECT doc_id, cw.chunk AS chunk, cw.ct AS ct FROM ch0),
    csh_all AS (
      SELECT doc_id, chunk, unnest(list_distinct(
        CASE WHEN len(ct) >= $n THEN
          list_transform(range(1, CAST(len(ct) - ${n - 2} AS BIGINT)),
            i -> array_to_string(ct[i:i+${n - 1}], ' '))
        ELSE [] END)) AS sh
      FROM ch
    ),
    crare AS (
      SELECT sh FROM csh_all GROUP BY sh HAVING COUNT(*) <= $NgramDfCap
    ),
    csh AS (SELECT doc_id, chunk, sh FROM csh_all JOIN crare USING (sh)),
    csizes AS (
      SELECT doc_id, chunk, COUNT(*) AS n FROM csh GROUP BY doc_id, chunk
    ),
    cinter AS (
      SELECT x.doc_id AS doc_a, x.chunk AS chunk_a,
        y.doc_id AS doc_b, y.chunk AS chunk_b, COUNT(*) AS i
      FROM csh x JOIN csh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2, 3, 4
    ),
    cpairs AS (
      SELECT doc_a, doc_b, i / (sa.n + sb.n - i) AS jaccard
      FROM cinter
      JOIN csizes sa ON doc_a = sa.doc_id AND chunk_a = sa.chunk
      JOIN csizes sb ON doc_b = sb.doc_id AND chunk_b = sb.chunk
    )
    SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_dup_chunks,
      MAX(jaccard) AS max_jaccard
    FROM cpairs
    WHERE jaccard >= ${DedupQueries.ClusterJaccard}::DOUBLE
    GROUP BY doc_a, doc_b
    ORDER BY n_dup_chunks DESC, doc_a, doc_b LIMIT 20"""
  }

  /** Duplication-mass twin: the span-strip coverage CTEs without owner
    * exception or DF cap (pure aggregate — see the Spark-side scaladoc),
    * rolled up per language. dup_token_frac is one exact BIGINT/BIGINT
    * float division.
    */
  def dupSpanMassSql: String = {
    val n = DedupQueries.SpanN
    s"""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ),
    occ0 AS (
      SELECT doc_id, unnest(
        CASE WHEN len(toks) >= $n THEN
          list_transform(range(1, CAST(len(toks) - ${n - 2} AS BIGINT)),
            i -> struct_pack(p := i, sh := array_to_string(toks[i:i+${n - 1}], ' ')))
        ELSE [] END) AS w
      FROM t
    ),
    occ AS (SELECT doc_id, w.p AS p, w.sh AS sh FROM occ0),
    shared AS (
      SELECT sh FROM occ GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    covered AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_toks FROM (
        SELECT DISTINCT doc_id, pos FROM (
          SELECT o.doc_id, unnest(range(o.p, o.p + $n)) AS pos
          FROM occ o JOIN shared s ON o.sh = s.sh
        )
      ) GROUP BY doc_id
    ),
    perdoc AS (
      SELECT t.lang, CAST(len(t.toks) AS BIGINT) AS n_toks,
        COALESCE(c.dup_toks, 0) AS dup_toks
      FROM t LEFT JOIN covered c ON t.doc_id = c.doc_id
    )
    SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN dup_toks > 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS docs_with_dup,
      CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
      CAST(SUM(dup_toks) AS BIGINT) AS dup_tokens,
      CAST(SUM(dup_toks) AS BIGINT) / CAST(SUM(n_toks) AS BIGINT)
        AS dup_token_frac
    FROM perdoc GROUP BY lang ORDER BY lang"""
  }

  /** Span-strip twin: positional window occurrences (struct_pack keeps
    * (p, sh) zipped through the unnest), shared-window stats with the same
    * 2..[[DedupQueries.NgramDfCap]] evidence band, coverage as a distinct
    * position set, and the two-branch rewrite — affected docs rebuild the
    * cleaned fingerprint with an ORDER BY pos string_agg, clean docs
    * short-circuit to md5(text) (split/join identity, as on the Spark
    * side).
    */
  def spanStripSql: String = {
    val n = DedupQueries.SpanN
    s"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
    ),
    occ0 AS (
      SELECT doc_id, unnest(
        CASE WHEN len(toks) >= $n THEN
          list_transform(range(1, CAST(len(toks) - ${n - 2} AS BIGINT)),
            i -> struct_pack(p := i, sh := array_to_string(toks[i:i+${n - 1}], ' ')))
        ELSE [] END) AS w
      FROM t
    ),
    occ AS (SELECT doc_id, w.p AS p, w.sh AS sh FROM occ0),
    shared AS (
      SELECT sh, MIN(doc_id) AS owner FROM occ
      GROUP BY sh
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND $NgramDfCap
    ),
    covered AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT o.doc_id, unnest(range(o.p, o.p + $n)) AS pos
        FROM occ o JOIN shared s ON o.sh = s.sh AND o.doc_id <> s.owner
      )
    ),
    sdocs AS (SELECT DISTINCT doc_id FROM covered),
    tp0 AS (
      SELECT t.doc_id, unnest(
        list_transform(range(1, CAST(len(toks) + 1 AS BIGINT)),
          i -> struct_pack(pos := i, tok := toks[i]))) AS w
      FROM t JOIN sdocs USING (doc_id)
    ),
    tp AS (SELECT doc_id, w.pos AS pos, w.tok AS tok FROM tp0),
    flagged AS (
      SELECT tp.doc_id, tp.pos, tp.tok, c.pos IS NOT NULL AS cov
      FROM tp LEFT JOIN covered c ON tp.doc_id = c.doc_id AND tp.pos = c.pos
    ),
    cnts AS (
      SELECT doc_id, COUNT(*) AS total_tokens,
        CAST(SUM(CASE WHEN cov THEN 1 ELSE 0 END) AS BIGINT) AS stripped_tokens
      FROM flagged GROUP BY doc_id
    ),
    kept AS (
      SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY pos)) AS kept_fp
      FROM flagged WHERE NOT cov GROUP BY doc_id
    ),
    rewritten AS (
      SELECT c.doc_id, c.total_tokens, c.stripped_tokens,
        COALESCE(k.kept_fp, md5('')) AS kept_fp
      FROM cnts c LEFT JOIN kept k ON c.doc_id = k.doc_id
    ),
    clean AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS total_tokens,
        CAST(0 AS BIGINT) AS stripped_tokens, md5(text) AS kept_fp
      FROM t WHERE doc_id NOT IN (SELECT doc_id FROM sdocs)
    )
    SELECT doc_id, total_tokens, stripped_tokens,
      total_tokens - stripped_tokens AS kept_tokens, kept_fp
    FROM (SELECT * FROM rewritten UNION ALL SELECT * FROM clean)
    ORDER BY doc_id"""
  }

  /** Longest-common-span twin: the positional window frame (struct_pack
    * unnest, the [[spanStripSql]] idiom), the occurrence cap, the
    * diagonal self-join, and the same gaps-and-islands ROW_NUMBER —
    * integer-only end to end.
    */
  def longestSpanSql: String = {
    val n = DedupQueries.SpanN
    s"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    occ0 AS (
      SELECT doc_id, unnest(
        CASE WHEN len(toks) >= $n THEN
          list_transform(range(1, CAST(len(toks) - ${n - 2} AS BIGINT)),
            i -> struct_pack(p := i, sh := array_to_string(toks[i:i+${n - 1}], ' ')))
        ELSE [] END) AS w
      FROM t
    ),
    occ AS (SELECT doc_id, w.p AS p, w.sh AS sh FROM occ0),
    rare AS (
      SELECT sh FROM occ GROUP BY sh HAVING COUNT(*) <= $NgramDfCap
    ),
    cp AS (SELECT doc_id, p, sh FROM occ JOIN rare USING (sh)),
    m AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        x.p AS pa, x.p - y.p AS diag
      FROM cp x JOIN cp y ON x.sh = y.sh AND x.doc_id < y.doc_id
    ),
    isl AS (
      SELECT doc_a, doc_b, diag,
        pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa)
          AS grp
      FROM m
    ),
    runs AS (
      SELECT doc_a, doc_b, diag, grp, COUNT(*) AS run
      FROM isl GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
      CAST(SUM(run) AS BIGINT) AS n_window_matches,
      CAST(MAX(run) AS BIGINT) AS longest_run,
      CAST(MAX(run) + ${n - 1} AS BIGINT) AS longest_span_tokens
    FROM runs GROUP BY doc_a, doc_b
    ORDER BY longest_span_tokens DESC, doc_a, doc_b LIMIT 20"""
  }

  /** Connected components as a recursive reachability closure: `reach`
    * enumerates (node, reachable node) over the symmetric J-thresholded
    * edge set (components are tiny, so the closure is tiny), the label is
    * min(self, reachable). The Spark side converges min-label propagation
    * to the same fixpoint.
    */
  /** The pair CTEs plus the thresholded edge set and per-node min labels —
    * shared by the cluster listing and the keep-decision funnel.
    */
  private def clusterLabelCtes: String = s"""
    $ngramPairCtes,
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      WHERE jaccard >= ${DedupQueries.ClusterJaccard}::DOUBLE
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
      WHERE jaccard >= ${DedupQueries.ClusterJaccard}::DOUBLE
    ),
    reach AS (
      SELECT a AS node, b AS r FROM edges
      UNION
      SELECT e.a, rr.r FROM edges e JOIN reach rr ON rr.node = e.b
    ),
    lab AS (
      SELECT node, LEAST(node, MIN(r)) AS label FROM reach GROUP BY node
    )"""

  def clustersSql: String = s"""
    WITH RECURSIVE $clusterLabelCtes
    SELECT label AS cluster_id, COUNT(*) AS cluster_size
    FROM lab GROUP BY label
    ORDER BY cluster_size DESC, cluster_id"""

  /** Group-aware split twin: the cluster-label closure, the group-key
    * content hash deciding the whole group's split, and BOTH leakage
    * recounts over the same thresholded pair set (grouped — structurally
    * 0 — and the doc-hash comparison).
    */
  def groupedSplitsSql: String = {
    import graft.text.TextFns.hash60Sql
    val thr = s"${DedupQueries.ClusterJaccard}::DOUBLE"
    s"""
    WITH RECURSIVE $clusterLabelCtes,
    pe AS MATERIALIZED (
      SELECT doc_a, doc_b FROM pairs WHERE jaccard >= $thr
    ),
    grp AS MATERIALIZED (
      SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS gkey
      FROM documents d LEFT JOIN lab l ON d.doc_id = l.node
    ),
    gs AS MATERIALIZED (
      SELECT doc_id, gkey,
        CASE WHEN ${hash60Sql("'grp:' || CAST(gkey AS VARCHAR)")} % 100 < 80
               THEN 'train'
             WHEN ${hash60Sql("'grp:' || CAST(gkey AS VARCHAR)")} % 100 < 90
               THEN 'val'
             ELSE 'test' END AS split
      FROM grp
    ),
    cg AS (
      SELECT
        CAST(SUM(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END)
          AS BIGINT) AS cross_pairs_grouped,
        CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
      FROM pe
      JOIN gs sa ON pe.doc_a = sa.doc_id
      JOIN gs sb ON pe.doc_b = sb.doc_id
    ),
    dh AS (
      SELECT doc_id,
        CASE WHEN ${hash60Sql("lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))")} % 100 < 80
               THEN 'train'
             WHEN ${hash60Sql("lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))")} % 100 < 90
               THEN 'val'
             ELSE 'test' END AS split_dh
      FROM documents
    ),
    cd AS (
      SELECT CAST(SUM(CASE WHEN da.split_dh <> db.split_dh THEN 1 ELSE 0
        END) AS BIGINT) AS cross_pairs_dochash
      FROM pe
      JOIN dh da ON pe.doc_a = da.doc_id
      JOIN dh db ON pe.doc_b = db.doc_id
    )
    SELECT s.split, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(COUNT(DISTINCT s.gkey) AS BIGINT) AS n_groups,
      cg.n_dup_pairs, cg.cross_pairs_grouped, cd.cross_pairs_dochash,
      cg.cross_pairs_grouped = 0 AS leakage_free
    FROM gs s, cg, cd
    GROUP BY s.split, cg.n_dup_pairs, cg.cross_pairs_grouped,
      cd.cross_pairs_dochash
    ORDER BY s.split"""
  }

  /** Incremental-maintenance twin ([[DedupQueries.clusterIncrement]]):
    * the same pair CTEs and threshold, membership by the
    * incremental-screen content-hash split, then THREE closures — old-old
    * edges (the persisted state), the contracted frontier, and the full
    * combined edge set (the audit side) — each the [[clustersSql]]
    * recursive-reachability recipe, with the identical contraction /
    * coalesce rules the Spark side applies. merge_ok is bool_and over
    * per-doc label equality; disagreements force their row into the
    * output through the same `n_docs >= 2 OR NOT merge_ok` filter.
    */
  def clusterIncrementSql: String = {
    val thr = s"${DedupQueries.ClusterJaccard}::DOUBLE"
    s"""
    WITH RECURSIVE $ngramPairCtes,
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs WHERE jaccard >= $thr
      UNION ALL
      SELECT doc_b, doc_a FROM pairs WHERE jaccard >= $thr
    ),
    memb AS MATERIALIZED (
      SELECT doc_id,
        CAST(('0x' || substr(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))),1,15))::UBIGINT AS BIGINT) % 100
          >= ${DedupQueries.IncrementalIncomingBucket} AS incoming
      FROM documents
    ),
    te AS MATERIALIZED (
      SELECT e.a, e.b, ma.incoming AS ia, mb.incoming AS ib
      FROM edges e
      JOIN memb ma ON e.a = ma.doc_id
      JOIN memb mb ON e.b = mb.doc_id
    ),
    oreach AS (
      SELECT a AS node, b AS r FROM te WHERE NOT ia AND NOT ib
      UNION
      SELECT e.a, rr.r FROM te e JOIN oreach rr ON rr.node = e.b
      WHERE NOT e.ia AND NOT e.ib
    ),
    olab AS MATERIALIZED (
      SELECT node, LEAST(node, MIN(r)) AS label FROM oreach GROUP BY node
    ),
    state AS MATERIALIZED (
      SELECT m.doc_id, COALESCE(l.label, m.doc_id) AS cluster
      FROM memb m LEFT JOIN olab l ON m.doc_id = l.node
      WHERE NOT m.incoming
    ),
    fedge AS MATERIALIZED (
      SELECT
        CASE WHEN e.ia THEN e.a ELSE sa.cluster END AS a,
        CASE WHEN e.ib THEN e.b ELSE sb.cluster END AS b
      FROM te e
      LEFT JOIN state sa ON e.a = sa.doc_id
      LEFT JOIN state sb ON e.b = sb.doc_id
      WHERE e.ia OR e.ib
    ),
    freach AS (
      SELECT a AS node, b AS r FROM fedge
      UNION
      SELECT e.a, rr.r FROM fedge e JOIN freach rr ON rr.node = e.b
    ),
    flab AS MATERIALIZED (
      SELECT node, LEAST(node, MIN(r)) AS label FROM freach GROUP BY node
    ),
    mergedold AS (
      SELECT s.doc_id, COALESCE(f.label, s.cluster) AS m, s.cluster AS src
      FROM state s LEFT JOIN flab f ON s.cluster = f.node
    ),
    mergednew AS (
      SELECT m.doc_id, COALESCE(f.label, m.doc_id) AS m,
        CAST(NULL AS BIGINT) AS src
      FROM memb m LEFT JOIN flab f ON m.doc_id = f.node
      WHERE m.incoming
    ),
    merged AS (SELECT * FROM mergedold UNION ALL SELECT * FROM mergednew),
    areach AS (
      SELECT a AS node, b AS r FROM te
      UNION
      SELECT e.a, rr.r FROM te e JOIN areach rr ON rr.node = e.b
    ),
    alab AS MATERIALIZED (
      SELECT node, LEAST(node, MIN(r)) AS label FROM areach GROUP BY node
    ),
    fullasg AS (
      SELECT m.doc_id, m.incoming, COALESCE(l.label, m.doc_id) AS f
      FROM memb m LEFT JOIN alab l ON m.doc_id = l.node
    )
    SELECT f AS cluster,
      COUNT(*) AS n_docs,
      COUNT(CASE WHEN incoming THEN 1 END) AS n_new_docs,
      COUNT(DISTINCT src) AS n_old_clusters_merged,
      bool_and(m = f) AS merge_ok
    FROM merged JOIN fullasg USING (doc_id)
    GROUP BY f
    HAVING COUNT(*) >= 2 OR NOT bool_and(m = f)
    ORDER BY cluster"""
  }

  /** Edges-only attestation twin of [[clustersSql]]: the SAME pair-CTE
    * chain and [[DedupQueries.ClusterJaccard]] threshold, but no
    * recursive closure — at the 10x attestation scale DuckDB's
    * reachability CTE enumerates paths combinatorially, so
    * tools/check_clusters_unionfind.py runs only this edge evidence in
    * DuckDB and closes it with a union-find. Built here (not pattern-
    * split from the formatted registry SQL) so a constant or formatting
    * change can never silently desynchronize the scale check.
    */
  def clusterEdgesOnlySql: String = s"""
    WITH $ngramPairCtes
    SELECT doc_a, doc_b FROM pairs
    WHERE jaccard >= ${DedupQueries.ClusterJaccard}::DOUBLE
    ORDER BY doc_a, doc_b"""

  /** Source-matrix twin: the shared pair CTEs, endpoints joined to their
    * sources, least/greatest normalization, and the global-window share
    * with the same BIGINT cast before the one double division.
    */
  def sourceMatrixSql: String = s"""
    WITH $ngramPairCtes,
    sm AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b
      FROM pairs p
      JOIN documents da ON p.doc_a = da.doc_id
      JOIN documents db ON p.doc_b = db.doc_id
      WHERE p.jaccard >= ${DedupQueries.ClusterJaccard}::DOUBLE
    ),
    g AS (
      SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM sm GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_pairs,
      n_pairs / CAST(SUM(n_pairs) OVER () AS BIGINT) AS share
    FROM g
    ORDER BY source_a, source_b"""

  /** Prefix-filter twin: the NAIVE uncapped full-set inverted-index join —
    * deliberately filter-free, so the Spark side's prefix + length
    * pruning is proven to drop nothing.
    */
  def prefixFilterSql: String = s"""
    WITH ${shingleCtes(DedupQueries.PrefixShingleN, "pp_all", "ppt")},
    ppsz AS (SELECT doc_id, COUNT(*) AS n FROM pp_all GROUP BY doc_id),
    ppi AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
      FROM pp_all x JOIN pp_all y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, i / (sa.n + sb.n - i) AS jaccard
    FROM ppi
    JOIN ppsz sa ON doc_a = sa.doc_id
    JOIN ppsz sb ON doc_b = sb.doc_id
    WHERE i / (sa.n + sb.n - i) >= ${DedupQueries.PrefixJaccard}::DOUBLE
    ORDER BY jaccard DESC, doc_a, doc_b"""

  /** Triangle-census twin: the same degree-oriented wedge join and
    * semi-join closure over the shared pair CTEs; exact BIGINT counts,
    * one zero-guarded double division.
    */
  def trianglesSql: String = s"""
    WITH $ngramPairCtes,
    te AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      WHERE jaccard >= ${DedupQueries.ClusterJaccard}::DOUBLE
    ),
    tbi AS (SELECT a AS u, b AS v FROM te UNION ALL SELECT b, a FROM te),
    tdeg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM tbi GROUP BY u),
    tor AS (
      SELECT t.u, t.v
      FROM tbi t
      JOIN tdeg d1 ON t.u = d1.node
      JOIN tdeg d2 ON t.v = d2.node
      WHERE d1.deg < d2.deg OR (d1.deg = d2.deg AND t.u < t.v)
    ),
    tw AS (
      SELECT x.v AS p, y.v AS q
      FROM tor x JOIN tor y ON x.u = y.u AND x.v < y.v
    ),
    tt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM tw
      WHERE EXISTS (SELECT 1 FROM te e WHERE e.a = tw.p AND e.b = tw.q)
    ),
    tea AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM te),
    twa AS (
      SELECT CAST(SUM(CAST(deg * (deg - 1) / 2 AS BIGINT)) AS BIGINT)
        AS n_wedges
      FROM tdeg
    )
    SELECT tea.n_edges, twa.n_wedges, tt.n_triangles,
      CASE WHEN twa.n_wedges = 0 THEN NULL
           ELSE 3.0::DOUBLE * tt.n_triangles / twa.n_wedges
      END AS transitivity
    FROM tea CROSS JOIN twa CROSS JOIN tt"""

  /** Bloom-screen twin: the PLAIN fingerprint join — no bloom anywhere,
    * which is the point: the Spark side's bloom_filter_agg/might_contain
    * prefilter must be exactly semantics-preserving (the
    * urgent_revenue_bloom contract applied to dedup).
    */
  def bloomScreenSql: String = s"""
    WITH b AS (
      SELECT doc_id,
        doc_id % ${DedupQueries.BloomBatchModulus}
          = ${DedupQueries.BloomBatchResidue} AS incoming,
        md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
      FROM documents
    ),
    inc AS (SELECT doc_id AS inc_doc, fp FROM b WHERE incoming),
    ex AS (SELECT doc_id AS ex_doc, fp FROM b WHERE NOT incoming),
    m AS (
      SELECT i.inc_doc, MIN(e.ex_doc) AS match_doc
      FROM inc i JOIN ex e USING (fp) GROUP BY i.inc_doc
    )
    SELECT i.inc_doc, m.match_doc IS NOT NULL AS is_dup, m.match_doc
    FROM inc i LEFT JOIN m USING (inc_doc)
    ORDER BY inc_doc"""

  /** PageRank twin: the same edge CTEs, then the power iteration unrolled
    * sweep by sweep (the kmeansChain recipe). Per-source contributions are
    * quantized to 1e-12 BIGINTs before the per-target SUM; every double op
    * keeps the Spark side's association, with ::DOUBLE on the damping
    * literals so DuckDB's DECIMAL arithmetic (1.0 - 0.85 = exactly 0.15,
    * unlike IEEE) never enters.
    */
  /** k-core peeling twin — `def` (interpolates KcoreK/KcoreSweeps,
    * declared late in DedupQueries; init-order rule): the identical
    * degree-conditioned sweeps unrolled b0..b[[DedupQueries.KcoreSweeps]],
    * the per-sweep (nodes, edges) curve, and the vacuous-true fixpoint
    * attestation.
    */
  def kcorePeelSql: String = {
    import DedupQueries.{KcoreK, KcoreSweeps}
    val thr = s"${DedupQueries.ClusterJaccard}::DOUBLE"
    // each b$t is read twice (next sweep + the curve) and chains 4 deep:
    // MATERIALIZED stops DuckDB re-inlining the whole pair mine per use
    def sweep(t: Int): String = s"""
    n$t AS MATERIALIZED (
      SELECT src AS node FROM b${t - 1} GROUP BY src
      HAVING COUNT(*) >= $KcoreK
    ),
    b$t AS MATERIALIZED (
      SELECT e.src, e.dst FROM b${t - 1} e
      JOIN n$t sa ON e.src = sa.node
      JOIN n$t sb ON e.dst = sb.node
    )"""
    val curve = (0 to KcoreSweeps).map { t =>
      s"""SELECT $t AS sweep, n_nodes, n_edges FROM (
        SELECT COUNT(DISTINCT src) AS n_nodes, COUNT(*) AS n_edges
        FROM b$t)"""
    }.mkString("\n      UNION ALL\n      ")
    s"""
    WITH $ngramPairCtes,
    pedges AS (
      SELECT doc_a, doc_b FROM pairs WHERE jaccard >= $thr
    ),
    b0 AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pedges
      UNION ALL
      SELECT doc_b, doc_a FROM pedges
    ),
    ${(1 to KcoreSweeps).map(sweep).mkString(",")},
    conv AS (
      SELECT COALESCE(MIN(c) >= $KcoreK, TRUE) AS converged FROM (
        SELECT COUNT(*) AS c FROM b$KcoreSweeps GROUP BY src)
    )
    SELECT sweep, n_nodes, n_edges, converged FROM (
      $curve
    ) CROSS JOIN conv
    ORDER BY sweep"""
  }

  def pagerankSql: String = {
    import DedupQueries.{PrDamping, PrIters, PrTopK}
    def sweep(t: Int): String = s"""
    c$t AS (
      SELECT e.dst,
        CAST(floor(r.rank / r.deg * 1000000000000.0 + 0.5) AS BIGINT) AS cq
      FROM bi e JOIN r${t - 1} r ON e.src = r.node
    ),
    s$t AS (SELECT dst, CAST(SUM(cq) AS BIGINT) AS sq FROM c$t GROUP BY dst),
    r$t AS (
      SELECT d.node, d.deg,
        (1.0::DOUBLE - $PrDamping::DOUBLE) / (SELECT nn FROM nct)
          + $PrDamping::DOUBLE * (sq / 1000000000000.0) AS rank
      FROM deg d JOIN s$t s ON d.node = s.dst
    )"""
    s"""
    WITH $ngramPairCtes,
    pedges AS (
      SELECT doc_a, doc_b FROM pairs
      WHERE jaccard >= ${DedupQueries.ClusterJaccard}::DOUBLE
    ),
    bi AS (
      SELECT doc_a AS src, doc_b AS dst FROM pedges
      UNION ALL
      SELECT doc_b, doc_a FROM pedges
    ),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM bi GROUP BY src),
    nct AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM deg),
    r0 AS (
      SELECT node, deg, 1.0::DOUBLE / (SELECT nn FROM nct) AS rank FROM deg
    ),
    ${(1 to PrIters).map(sweep).mkString(",")}
    SELECT node AS doc_id, deg, rank FROM r$PrIters
    ORDER BY rank DESC, doc_id LIMIT $PrTopK"""
  }

  /** LPA twin: the synchronous sweeps unrolled CTE-for-CTE. Each sweep's
    * label CTE is read twice (the next sweep's vote AND nothing else, but
    * the final lab is read three times) — materialized per the
    * pagerank/kcore recipe so DuckDB never re-inlines the n-gram mine.
    */
  def communitiesSql: String = {
    import DedupQueries.{LpaIters, ClusterJaccard}
    def sweep(t: Int): String = s"""
    v$t AS (
      SELECT e.src, l.label, COUNT(*) AS n
      FROM bi e JOIN lab${t - 1} l ON e.dst = l.node
      GROUP BY e.src, l.label
    ),
    lab$t AS MATERIALIZED (
      SELECT src AS node, label FROM (
        SELECT src, label,
          ROW_NUMBER() OVER (PARTITION BY src ORDER BY n DESC, label) AS rk
        FROM v$t
      ) WHERE rk = 1
    )"""
    s"""
    WITH $ngramPairCtes,
    pedges AS (
      SELECT doc_a, doc_b FROM pairs
      WHERE jaccard >= $ClusterJaccard::DOUBLE
    ),
    bi AS (
      SELECT doc_a AS src, doc_b AS dst FROM pedges
      UNION ALL
      SELECT doc_b, doc_a FROM pedges
    ),
    lab0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, src AS label FROM bi
    ),
    ${(1 to LpaIters).map(sweep).mkString(",")},
    csz AS (
      SELECT label, COUNT(*) AS size FROM lab$LpaIters GROUP BY label
    ),
    cint AS (
      SELECT ls.label AS il, COUNT(*) AS ie
      FROM bi e
      JOIN lab$LpaIters ls ON e.src = ls.node
      JOIN lab$LpaIters ld ON e.dst = ld.node
      WHERE e.src < e.dst AND ls.label = ld.label
      GROUP BY ls.label
    )
    SELECT s.label AS community_id, s.size,
      COALESCE(i.ie, 0) AS internal_edges
    FROM csz s LEFT JOIN cint i ON i.il = s.label
    ORDER BY s.size DESC, community_id"""
  }

  /** Funnel twin: keep_exact by fingerprint-group window min, keep_nd by
    * the CC min-label invariant (a node survives iff it IS its cluster's
    * label), unclustered nodes always survive.
    */
  def keepSummarySql: String = s"""
    WITH RECURSIVE $clusterLabelCtes,
    f AS (
      SELECT doc_id, lang,
        md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
      FROM documents
    ),
    fx AS (
      SELECT doc_id, lang,
        doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS keep_exact
      FROM f
    ),
    nd AS (
      SELECT fx.doc_id, fx.lang, fx.keep_exact,
        (l.node IS NULL OR l.label = fx.doc_id) AS keep_nd
      FROM fx LEFT JOIN lab l ON fx.doc_id = l.node
    )
    SELECT lang, COUNT(*) AS docs_in,
      CAST(SUM(CASE WHEN keep_exact THEN 1 ELSE 0 END) AS BIGINT) AS exact_kept,
      CAST(SUM(CASE WHEN keep_nd THEN 1 ELSE 0 END) AS BIGINT) AS neardup_kept,
      CAST(SUM(CASE WHEN keep_exact AND keep_nd THEN 1 ELSE 0 END) AS BIGINT)
        AS final_kept
    FROM nd GROUP BY lang ORDER BY lang"""

  /** Keep-best twin: the recursive label closure + the sampleWeighted
    * quality score (::DOUBLE-pinned literals so no DECIMAL arithmetic
    * enters the ORDERING), argmax via the same (score DESC, doc_id)
    * row_number, min-id comparison for the quality-win count.
    */
  def keepBestSql: String = {
    val stops = graft.text.TextFns.Stopwords
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""
    WITH RECURSIVE $clusterLabelCtes,
    kq AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ),
    ks AS (
      SELECT doc_id, lang,
        least(1.0::DOUBLE, len(toks) / 60.0::DOUBLE) *
          (1.0::DOUBLE -
            len(list_filter(toks, x -> list_contains($stops, x))) / len(toks))
          AS score
      FROM kq
    ),
    kl AS (
      SELECT ks.doc_id, ks.lang, ks.score,
        COALESCE(l.label, ks.doc_id) AS cluster
      FROM ks LEFT JOIN lab l ON ks.doc_id = l.node
    ),
    kr AS (
      SELECT lang, doc_id,
        ROW_NUMBER() OVER (PARTITION BY cluster
          ORDER BY score DESC, doc_id) AS rn,
        MIN(doc_id) OVER (PARTITION BY cluster) AS min_id
      FROM kl
    )
    SELECT lang, COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      CAST(SUM(CASE WHEN rn = 1 AND doc_id <> min_id THEN 1 ELSE 0 END)
        AS BIGINT) AS n_quality_wins
    FROM kr GROUP BY lang ORDER BY lang"""
  }

  /** Stage-funnel twin: exact keeps, then the recursive closure over the
    * TEXT edge set restricted to stage-1 survivors, then the closure
    * over the SEMANTIC edge set (the SimOracle kmeans chain, composed
    * cross-module) restricted to stage-2 survivors — each restriction
    * applied BEFORE reachability, matching the staged semantics.
    */
  def stageFunnelSql: String = {
    import graft.sim.{SimOracle, SimFns}
    val fin = SimFns.KmeansIters + 1
    s"""
    WITH RECURSIVE $ngramPairCtes,
    ${SimOracle.baseCtes},
    ${SimOracle.kmeansChain},
    fb AS (
      SELECT doc_id, lang,
        md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
      FROM documents
    ),
    f1 AS (
      SELECT doc_id, lang,
        doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS keep1
      FROM fb
    ),
    fs1 AS (SELECT doc_id, lang FROM f1 WHERE keep1),
    ftE AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      WHERE jaccard >= ${DedupQueries.ClusterJaccard}::DOUBLE
        AND doc_a IN (SELECT doc_id FROM fs1)
        AND doc_b IN (SELECT doc_id FROM fs1)
    ),
    ftEb AS (SELECT a, b FROM ftE UNION ALL SELECT b, a FROM ftE),
    ftReach AS (
      SELECT a AS node, b AS r FROM ftEb
      UNION
      SELECT te.a, rr.r FROM ftEb te JOIN ftReach rr ON rr.node = te.b
    ),
    ftLab AS (
      SELECT node, LEAST(node, MIN(r)) AS label FROM ftReach GROUP BY node
    ),
    fs2 AS (
      SELECT fs1.doc_id, fs1.lang
      FROM fs1 LEFT JOIN ftLab l ON fs1.doc_id = l.node
      WHERE l.node IS NULL OR l.label = fs1.doc_id
    ),
    fscm AS (
      SELECT n.vec_id, n.v, n.nrm, a.j AS cell
      FROM n JOIN a$fin a ON n.vec_id = a.vec_id
    ),
    fsE AS (
      SELECT x.vec_id AS a, y.vec_id AS b
      FROM fscm x JOIN fscm y ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE ${SimOracle.dotIdx("x.v", "y.v")} / (x.nrm * y.nrm)
          >= ${SimFns.SemDedupCosine}
        AND x.vec_id IN (SELECT doc_id FROM fs2)
        AND y.vec_id IN (SELECT doc_id FROM fs2)
    ),
    fsEb AS (SELECT a, b FROM fsE UNION ALL SELECT b, a FROM fsE),
    fsReach AS (
      SELECT a AS node, b AS r FROM fsEb
      UNION
      SELECT se.a, rr.r FROM fsEb se JOIN fsReach rr ON rr.node = se.b
    ),
    fsLab AS (
      SELECT node, LEAST(node, MIN(r)) AS label FROM fsReach GROUP BY node
    ),
    fs3 AS (
      SELECT fs2.doc_id, fs2.lang
      FROM fs2 LEFT JOIN fsLab l ON fs2.doc_id = l.node
      WHERE l.node IS NULL OR l.label = fs2.doc_id
    ),
    fcin AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_ingest FROM fb GROUP BY lang
    ),
    fc1 AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_exact_kept
      FROM fs1 GROUP BY lang
    ),
    fc2 AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_textdedup_kept
      FROM fs2 GROUP BY lang
    ),
    fc3 AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_semantic_kept
      FROM fs3 GROUP BY lang
    )
    SELECT fcin.lang, n_ingest, n_exact_kept, n_textdedup_kept,
      n_semantic_kept
    FROM fcin
    JOIN fc1 USING (lang) JOIN fc2 USING (lang) JOIN fc3 USING (lang)
    ORDER BY lang"""
  }

  /** CTE chain ending in `mh_pairs` = every LSH-candidate pair with exact
    * Jaccard — shared by the top-k query and the cross-family cluster
    * oracle. Names are m-prefixed so the chain composes with
    * [[ngramPairCtes]] (t/sh/...) in one WITH block.
    *
    * Double-hashing twin of DedupQueries.minhashFn: h1/h2 are the two
    * 32-bit halves of ONE md5; s_i = min((h1 + i*h2) mod p), exact in
    * BIGINT (the mod decorrelates the k functions — see MinhashMod).
    */
  private[graft] def minhashPairCtes: String = {
    val h1 = "CAST(('0x' || substr(md5(sh),1,8))::UBIGINT AS BIGINT)"
    val h2 = "CAST(('0x' || substr(md5(sh),9,8))::UBIGINT AS BIGINT)"
    val sigs = ((0 until MinhashK).map { i =>
      s"min(($h1 + $i * $h2) % ${DedupQueries.MinhashMod}) AS s$i"
    } :+ "COUNT(*) AS n").mkString(",\n        ")
    val bands = (0 until MinhashK / BandRows).map { b =>
      val key = (0 until BandRows).map(r => s"s${b * BandRows + r}")
        .mkString(" || ':' || ")
      s"SELECT doc_id, $b AS b, md5($key) AS bk FROM msigs"
    }.mkString("\n      UNION ALL ")
    s"""
    ${shingleCtes(MinhashShingleN, "msh", "mt")},
    msigs AS (
      SELECT doc_id,
        $sigs
      FROM msh GROUP BY doc_id
    ),
    mbands_raw AS (
      $bands
    ),
    -- band-bucket cap (BandBucketCap): mirrors Spark's capBuckets window
    mbands AS (
      SELECT doc_id, b, bk FROM (
        SELECT doc_id, b, bk, COUNT(*) OVER (PARTITION BY b, bk) AS bc
        FROM mbands_raw
      ) WHERE bc <= ${DedupQueries.BandBucketCap}
    ),
    mcand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM mbands x JOIN mbands y
        ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id
    ),
    minter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM mcand c
      JOIN msh xa ON xa.doc_id = c.doc_a
      JOIN msh xb ON xb.doc_id = c.doc_b AND xb.sh = xa.sh
      GROUP BY 1, 2
    ),
    msizes AS (SELECT doc_id, n FROM msigs),
    mh_pairs AS (
      SELECT doc_a, doc_b, i / (sa.n + sb.n - i) AS jaccard
      FROM minter
      JOIN msizes sa ON doc_a = sa.doc_id
      JOIN msizes sb ON doc_b = sb.doc_id
    )"""
  }

  def minhashLshSql: String = s"""
    WITH $minhashPairCtes
    SELECT doc_a, doc_b, jaccard FROM mh_pairs
    ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20"""

  /** LSH-grading twin: the minhash chain (msh/msigs/mh_pairs) plus a
    * DF-capped TRUTH pair set at the same 2-gram width, the per-pair
    * signature match count, and the single summary row. Same quantized
    * MAE shape as the Spark side.
    */
  def lshRecallSql: String = {
    val j = s"${DedupQueries.ClusterJaccard}::DOUBLE"
    val match12 = (0 until MinhashK)
      .map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""
    WITH $minhashPairCtes,
    mrare AS (
      SELECT sh FROM msh GROUP BY sh HAVING COUNT(*) <= $NgramDfCap
    ),
    mshc AS (SELECT doc_id, sh FROM msh JOIN mrare USING (sh)),
    tinter AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
      FROM mshc x JOIN mshc y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    tsizes AS (SELECT doc_id, COUNT(*) AS n FROM mshc GROUP BY doc_id),
    truth AS (
      SELECT doc_a AS ta, doc_b AS tb
      FROM tinter
      JOIN tsizes sa ON doc_a = sa.doc_id
      JOIN tsizes sb ON doc_b = sb.doc_id
      WHERE i / (sa.n + sb.n - i) >= $j
    ),
    verest AS (
      SELECT p.doc_a, p.doc_b, p.jaccard,
        CAST(($match12) AS DOUBLE) / $MinhashK AS est
      FROM mh_pairs p
      JOIN msigs sa ON p.doc_a = sa.doc_id
      JOIN msigs sb ON p.doc_b = sb.doc_id
    )
    SELECT t.n_truth, c.n_cand, g.n_caught,
      CASE WHEN t.n_truth = 0 THEN NULL
           ELSE g.n_caught / t.n_truth END AS recall,
      c.sig_mae
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth) t
    CROSS JOIN (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cand,
        SUM(CAST(floor(abs(est - jaccard) * 1000000000.0 + 0.5) AS BIGINT))
          / (1000000000.0 * COUNT(*)) AS sig_mae
      FROM verest
    ) c
    CROSS JOIN (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_caught
      FROM truth JOIN verest v ON ta = v.doc_a AND tb = v.doc_b
    ) g"""
  }

  /** Tuning-sweep twin: the minhash signature CTE (msigs, from the
    * shared chain — unreferenced tail CTEs cost nothing), the
    * lshRecallSql truth chain (MATERIALIZED — ten subquery references
    * would otherwise re-run the pair miner per row), and per-config
    * band/cap/candidate CTEs in the exact Spark geometry. Theory
    * literals are Scala-computed, shared with the engine.
    */
  def lshTuningSql: String = {
    val j = s"${DedupQueries.ClusterJaccard}::DOUBLE"
    val configs = DedupQueries.LshTuneConfigs
    val configCtes = configs.map { case (b, r) =>
      val bands = (0 until b).map { bi =>
        // a single component never passes through ||'s VARCHAR coercion,
        // so cast it explicitly (md5(BIGINT) does not bind in DuckDB)
        val key =
          if (r == 1) s"CAST(s${bi} AS VARCHAR)"
          else (0 until r).map(ri => s"s${bi * r + ri}")
            .mkString(" || ':' || ")
        s"SELECT doc_id, $bi AS b, md5($key) AS bk FROM msigs"
      }.mkString("\n        UNION ALL ")
      s"""
    cfg${b}_${r}_cand AS MATERIALIZED (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM (
        SELECT doc_id, b, bk FROM (
          SELECT doc_id, b, bk, COUNT(*) OVER (PARTITION BY b, bk) AS bc
          FROM ($bands)
        ) WHERE bc <= ${DedupQueries.BandBucketCap}
      ) x JOIN (
        SELECT doc_id, b, bk FROM (
          SELECT doc_id, b, bk, COUNT(*) OVER (PARTITION BY b, bk) AS bc
          FROM ($bands)
        ) WHERE bc <= ${DedupQueries.BandBucketCap}
      ) y ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id
    )"""
    }.mkString(",")
    val rows = configs.map { case (b, r) =>
      val p = 1.0 - math.pow(
        1.0 - math.pow(DedupQueries.ClusterJaccard, r), b)
      s"""SELECT $b AS bands, $r AS rows_per_band,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM cfg${b}_${r}_cand)
          AS n_cand,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM truth
          JOIN cfg${b}_${r}_cand c ON ta = c.doc_a AND tb = c.doc_b)
          AS n_caught,
        $p::DOUBLE AS p_collide_at_threshold"""
    }.mkString("\n      UNION ALL\n      ")
    s"""
    WITH $minhashPairCtes,
    trare AS (
      SELECT sh FROM msh GROUP BY sh HAVING COUNT(*) <= $NgramDfCap
    ),
    tshc AS (SELECT doc_id, sh FROM msh JOIN trare USING (sh)),
    tinter AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
      FROM tshc x JOIN tshc y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    tsizes AS (SELECT doc_id, COUNT(*) AS n FROM tshc GROUP BY doc_id),
    truth AS MATERIALIZED (
      SELECT doc_a AS ta, doc_b AS tb
      FROM tinter
      JOIN tsizes sa ON doc_a = sa.doc_id
      JOIN tsizes sb ON doc_b = sb.doc_id
      WHERE i / (sa.n + sb.n - i) >= $j
    ),
    $configCtes,
    curve AS (
      $rows
    )
    SELECT bands, rows_per_band, n_cand, n_truth, n_caught,
      CASE WHEN n_truth = 0 THEN NULL
           ELSE n_caught / n_truth END AS recall,
      p_collide_at_threshold
    FROM curve
    ORDER BY rows_per_band"""
  }

  /** Yield-curve twin: the minhash chain's mh_pairs, one per-doc max
    * rollup, the same literal-threshold conditional counts, exact-long
    * share divisions. A `def` (init-order lesson).
    */
  def yieldCurveSql: String = {
    val rows = DedupQueries.YieldThresholds.map { t =>
      s"""SELECT $t::DOUBLE AS threshold,
        (SELECT CAST(SUM(CASE WHEN jaccard >= $t::DOUBLE THEN 1 ELSE 0 END)
          AS BIGINT) FROM mh_pairs) AS n_pairs,
        (SELECT CAST(SUM(CASE WHEN maxj >= $t::DOUBLE THEN 1 ELSE 0 END)
          AS BIGINT) FROM dmax) AS n_docs_in_dup"""
    }.mkString("\n      UNION ALL\n      ")
    s"""
    WITH $minhashPairCtes,
    dmax AS MATERIALIZED (
      SELECT doc, MAX(jaccard) AS maxj FROM (
        SELECT doc_a AS doc, jaccard FROM mh_pairs
        UNION ALL
        SELECT doc_b, jaccard FROM mh_pairs
      ) GROUP BY doc
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    curve AS (
      $rows
    )
    SELECT threshold, COALESCE(n_pairs, 0) AS n_pairs,
      COALESCE(n_docs_in_dup, 0) AS n_docs_in_dup, tot.n_docs,
      CAST(COALESCE(n_docs_in_dup, 0) AS DOUBLE)
        / CAST(tot.n_docs AS DOUBLE) AS dup_doc_share,
      CAST(tot.n_docs - COALESCE(n_docs_in_dup, 0) AS DOUBLE)
        / CAST(tot.n_docs AS DOUBLE) AS drop_all_yield
    FROM curve, tot
    ORDER BY threshold"""
  }

  /** Split-leakage twin: the minhash chain's mh_pairs at the cluster
    * threshold joined to the doc_splits bucket rule, least/greatest
    * split-pair normalization, quantized mean Jaccard, exact shares.
    */
  def splitLeakageSql: String = {
    val thr = s"${DedupQueries.ClusterJaccard}::DOUBLE"
    s"""
    WITH $minhashPairCtes,
    spl AS (
      SELECT doc_id,
        CASE WHEN bucket < 80 THEN 'train'
             WHEN bucket < 90 THEN 'val'
             ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
          CAST(('0x' || substr(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))),1,15))::UBIGINT AS BIGINT) % 100 AS bucket
        FROM documents
      )
    ),
    lab AS (
      SELECT LEAST(sa.split, sb.split) AS split_a,
        GREATEST(sa.split, sb.split) AS split_b,
        CAST(floor(p.jaccard * 1000000000.0 + 0.5) AS BIGINT) AS jq
      FROM mh_pairs p
      JOIN spl sa ON p.doc_a = sa.doc_id
      JOIN spl sb ON p.doc_b = sb.doc_id
      WHERE p.jaccard >= $thr
    ),
    g AS (
      SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        (CAST(SUM(jq) AS BIGINT) / 1000000000.0) / COUNT(*) AS avg_jaccard
      FROM lab GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS n_total FROM g)
    SELECT split_a, split_b, n_pairs,
      CAST(n_pairs AS DOUBLE) / CAST(n_total AS DOUBLE) AS pair_share,
      avg_jaccard,
      split_a <> split_b AS is_leakage
    FROM g, tot
    ORDER BY split_a, split_b"""
  }

  /** CTE chain ending in `sh_pairs` = every SimHash band-candidate pair
    * within the Hamming threshold — shared by the top-k query and the
    * cross-family cluster oracle. [[graft.text.TextOracle.simhashCtes]]
    * contributes tok/tc/th/bits/sim, which collide with nothing in the
    * ngram or minhash chains.
    */
  private def simhashPairCtes: String = {
    val mask = (1L << SimhashBandBits) - 1
    val bands = (0 until SimhashBands).map { b =>
      s"SELECT doc_id, simhash, $b AS b, (simhash >> ${b * SimhashBandBits}) & $mask AS bk FROM sim"
    }.mkString("\n      UNION ALL ")
    s"""
    ${TextOracle.simhashCtes},
    sbands_raw AS (
      $bands
    ),
    -- band-bucket cap (BandBucketCap): mirrors Spark's capBuckets window
    sbands AS (
      SELECT doc_id, simhash, b, bk FROM (
        SELECT doc_id, simhash, b, bk, COUNT(*) OVER (PARTITION BY b, bk) AS bc
        FROM sbands_raw
      ) WHERE bc <= ${DedupQueries.BandBucketCap}
    ),
    sh_pairs AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
      FROM sbands x JOIN sbands y
        ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id
    )"""
  }

  def simhashPairsSql: String = s"""
    WITH $simhashPairCtes
    SELECT doc_a, doc_b, hamming FROM sh_pairs
    WHERE hamming <= $SimhashHammingMax
    ORDER BY hamming, doc_a, doc_b LIMIT 20"""

  /** Cross-family cluster twin: the three evidence classes' pair chains
    * composed in one WITH block, unioned into a tagged edge list, the same
    * recursive reachability closure as [[clustersSql]] over the distinct
    * union, and a per-class edge rollup joined to the cluster sizes.
    */
  def clustersMultiSql: String = {
    val j = s"${DedupQueries.ClusterJaccard}::DOUBLE"
    s"""
    WITH RECURSIVE $ngramPairCtes,
    $minhashPairCtes,
    $simhashPairCtes,
    medges AS (
      SELECT doc_a AS a, doc_b AS b, 'jaccard' AS evidence FROM pairs
      WHERE jaccard >= $j
      UNION ALL
      SELECT doc_a, doc_b, 'minhash' FROM mh_pairs WHERE jaccard >= $j
      UNION ALL
      SELECT doc_a, doc_b, 'simhash' FROM sh_pairs
      WHERE hamming <= ${DedupQueries.ClusterHamming}
    ),
    uedges AS (SELECT DISTINCT a, b FROM medges),
    msym AS (
      SELECT a, b FROM uedges
      UNION
      SELECT b, a FROM uedges
    ),
    mreach AS (
      SELECT a AS node, b AS r FROM msym
      UNION
      SELECT e.a, rr.r FROM msym e JOIN mreach rr ON rr.node = e.b
    ),
    mlab AS (
      SELECT node, LEAST(node, MIN(r)) AS label FROM mreach GROUP BY node
    ),
    csize AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM mlab GROUP BY label
    ),
    cev AS (
      SELECT l.label,
        CAST(SUM(CASE WHEN evidence = 'jaccard' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_jaccard_edges,
        CAST(SUM(CASE WHEN evidence = 'minhash' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_minhash_edges,
        CAST(SUM(CASE WHEN evidence = 'simhash' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_simhash_edges
      FROM medges m JOIN mlab l ON m.a = l.node
      GROUP BY l.label
    )
    SELECT label AS cluster_id, cluster_size,
      n_jaccard_edges, n_minhash_edges, n_simhash_edges
    FROM csize JOIN cev USING (label)
    ORDER BY cluster_size DESC, cluster_id"""
  }

  /** Edges-only attestation twin of [[clustersMultiSql]] — see
    * [[clusterEdgesOnlySql]] for why it exists. Tagged union of the three
    * evidence families, no recursive closure.
    */
  def multiEdgesOnlySql: String = {
    val j = s"${DedupQueries.ClusterJaccard}::DOUBLE"
    s"""
    WITH $ngramPairCtes,
    $minhashPairCtes,
    $simhashPairCtes,
    medges AS (
      SELECT doc_a AS a, doc_b AS b, 'jaccard' AS evidence FROM pairs
      WHERE jaccard >= $j
      UNION ALL
      SELECT doc_a, doc_b, 'minhash' FROM mh_pairs WHERE jaccard >= $j
      UNION ALL
      SELECT doc_a, doc_b, 'simhash' FROM sh_pairs
      WHERE hamming <= ${DedupQueries.ClusterHamming}
    )
    SELECT a, b, evidence FROM medges ORDER BY a, b, evidence"""
  }

  /** Degree-histogram twin: symmetrized thresholded edges, left join so
    * degree-0 docs stay visible, all-BIGINT arithmetic.
    */
  def degreeHistogramSql: String = s"""
    WITH $ngramPairCtes,
    edges AS (
      SELECT doc_a, doc_b FROM pairs
      WHERE jaccard >= ${DedupQueries.ClusterJaccard}::DOUBLE
    ),
    deg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT doc_a AS doc_id FROM edges
        UNION ALL
        SELECT doc_b AS doc_id FROM edges
      ) GROUP BY doc_id
    )
    SELECT COALESCE(degree, 0) AS degree, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents LEFT JOIN deg USING (doc_id)
    GROUP BY 1 ORDER BY 1"""

  /** Incremental-screen twin: the same asymmetric probe — existing-side
    * band index bucket-capped, probe side uncapped, exact-Jaccard verify,
    * best match per incoming doc by (jaccard DESC, ex_doc). i-prefixed
    * CTE names so the chain stays composable.
    */
  def incrementalScreenSql: String = {
    val n = MinhashShingleN
    val h1 = "CAST(('0x' || substr(md5(sh),1,8))::UBIGINT AS BIGINT)"
    val h2 = "CAST(('0x' || substr(md5(sh),9,8))::UBIGINT AS BIGINT)"
    val sigs = ((0 until MinhashK).map { i =>
      s"min(($h1 + $i * $h2) % ${DedupQueries.MinhashMod}) AS s$i"
    } :+ "COUNT(*) AS n").mkString(",\n        ")
    val bands = (0 until MinhashK / BandRows).map { b =>
      val key = (0 until BandRows).map(r => s"s${b * BandRows + r}")
        .mkString(" || ':' || ")
      s"SELECT doc_id, incoming, $b AS b, md5($key) AS bk FROM isigs"
    }.mkString("\n      UNION ALL ")
    s"""
    WITH it AS (
      SELECT doc_id,
        CAST(('0x' || substr(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))),1,15))::UBIGINT AS BIGINT) % 100
          >= ${DedupQueries.IncrementalIncomingBucket} AS incoming,
        string_split(text, ' ') AS toks
      FROM documents
    ),
    ish AS (
      SELECT doc_id, incoming, unnest(list_distinct(
        CASE WHEN len(toks) >= $n THEN
          list_transform(range(1, CAST(len(toks) - ${n - 2} AS BIGINT)),
            i -> array_to_string(toks[i:i+${n - 1}], ' '))
        ELSE [] END)) AS sh
      FROM it
    ),
    isigs AS (
      SELECT doc_id, incoming,
        $sigs
      FROM ish GROUP BY doc_id, incoming
    ),
    ibands AS (
      $bands
    ),
    -- index side only is bucket-capped (BandBucketCap), mirroring Spark
    iex AS (
      SELECT doc_id, b, bk FROM (
        SELECT doc_id, b, bk, COUNT(*) OVER (PARTITION BY b, bk) AS bc
        FROM ibands WHERE NOT incoming
      ) WHERE bc <= ${DedupQueries.BandBucketCap}
    ),
    icand AS (
      SELECT DISTINCT i.doc_id AS inc_doc, e.doc_id AS ex_doc
      FROM (SELECT doc_id, b, bk FROM ibands WHERE incoming) i
      JOIN iex e ON i.b = e.b AND i.bk = e.bk
    ),
    iinter AS (
      SELECT c.inc_doc, c.ex_doc, COUNT(*) AS i
      FROM icand c
      JOIN ish xa ON xa.doc_id = c.inc_doc
      JOIN ish xb ON xb.doc_id = c.ex_doc AND xb.sh = xa.sh
      GROUP BY 1, 2
    ),
    iver AS (
      SELECT inc_doc, ex_doc, i / (sa.n + sb.n - i) AS jaccard
      FROM iinter
      JOIN isigs sa ON inc_doc = sa.doc_id
      JOIN isigs sb ON ex_doc = sb.doc_id
    ),
    ibest AS (
      SELECT inc_doc, ex_doc, jaccard,
        ROW_NUMBER() OVER (PARTITION BY inc_doc
          ORDER BY jaccard DESC, ex_doc) AS rk
      FROM iver
      WHERE jaccard >= ${DedupQueries.ClusterJaccard}::DOUBLE
    )
    SELECT inc_doc AS doc_id, ex_doc AS match_doc, jaccard
    FROM ibest WHERE rk = 1 ORDER BY doc_id"""
  }
}
